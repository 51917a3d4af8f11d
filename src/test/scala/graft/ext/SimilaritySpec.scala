package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("groupCentroids: exact elementwise means, merge across partitions, empty-group null") {
    val df = Seq(
      (1L, 0, Seq(1.0f, 2.0f)), (2L, 0, Seq(3.0f, 4.0f)),
      (3L, 1, Seq(-1.0f, 0.5f))).toDF("vec_id", "label", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.groupCentroids(d, dim = 2).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getSeq[Double](3)))
        .sortBy(_._1)
    val out = run(df)
    assert(out(0) === ((0, 2L, 2L, Seq(2.0, 3.0))))
    assert(out(1) === ((1, 1L, 1L, Seq(-1.0, 0.5))))
    // partial-buffer merge path: every row in its own partition
    assert(run(df.repartition(3)).toSeq === out.toSeq)
    // wrong-dim vectors are counted out of the mean (all-skipped → null);
    // n_valid exposes the centroid's true denominator (0), n_vecs the rows
    val bad = Seq((1L, 9, Seq(1.0f))).toDF("vec_id", "label", "embedding")
    val r = Similarity.groupCentroids(bad, dim = 2).collect()(0)
    assert(r.getLong(1) === 1L && r.getLong(2) === 0L && r.isNullAt(3))
    // a null ELEMENT poisons that vector only (matching dot()); the
    // group's mean comes from the remaining clean vectors
    val mixed = Seq(
      (1L, 0, Seq[java.lang.Float](1.0f, null)),
      (2L, 0, Seq[java.lang.Float](3.0f, 5.0f))).toDF("vec_id", "label", "embedding")
    val m = Similarity.groupCentroids(mixed, dim = 2).collect()(0)
    assert(m.getLong(1) === 2L && m.getLong(2) === 1L &&
      m.getSeq[Double](3) === Seq(3.0, 5.0))
  }

  test("dot / l2norm / cosine basics") {
    val df = Seq((1L, Seq(3.0f, 4.0f), Seq(4.0f, 3.0f))).toDF("id", "a", "b")
    val r = df.select(
      Similarity.dot($"a", $"b"), Similarity.l2norm($"a"), Similarity.cosine($"a", $"a")).head()
    assert(r.getDouble(0) === 24.0)
    assert(r.getDouble(1) === 5.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("bruteForceTopK: exact ranks, k rows per query, self-consistent ordering") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.bruteForceTopK(
      e.filter($"vec_id" < 3), e.filter($"vec_id" >= 3), k = 5).collect()
    assert(out.length === 15)
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to 5L))
      // sims are non-increasing with rank
      assert(sorted.map(_.getDouble(3)).sliding(2).forall(p => p(0) >= p(1)))
    }
  }

  test("lshTopK: reasonable recall vs brute force on random vectors, exact sims") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    val c = e.filter($"vec_id" >= 10)
    val exact = Similarity.bruteForceTopK(q, c, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshTopK(q, c, 10).collect()
    val approxSet = approx.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approxSet).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low even for isotropic random vectors")
    // every returned sim must equal the exact cosine (rerank is exact)
    val exactSims = Similarity.bruteForceTopK(q, c, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    approx.foreach(r => assert(r.getDouble(3) === exactSims((r.getLong(0), r.getLong(2)))))
  }

  test("lshTopKPortable: md5 planes are ±1 and deterministic; recall + exact rerank (X230)") {
    // plane derivation: pure ±1 entries, reproducible, parity of the
    // first md5 hex digit of "lsh:t:p:i" (the cross-engine contract)
    val planes = Similarity.md5SignPlanes(tables = 2, bits = 3, dim = 8)
    assert(planes.flatten.flatten.forall(x => x == 1.0 || x == -1.0))
    assert(planes.flatten.flatten.toSeq == Similarity.md5SignPlanes(2, 3, 8).flatten.flatten.toSeq)
    val d0 = java.security.MessageDigest.getInstance("MD5")
      .digest("lsh:1:2:3".getBytes("UTF-8"))
    val expect = if ((Character.digit(f"${d0(0) & 0xff}%02x".charAt(0), 16) & 1) == 0) 1.0 else -1.0
    assert(planes(1)(2)(3) === expect, "entry (t,p,i) follows the md5 hex-parity rule")
    // behavior matches the production path's contract: candidates from
    // shared buckets, exact-cosine rerank, nonzero recall
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    val c = e.filter($"vec_id" >= 10)
    val exact = Similarity.bruteForceTopK(q, c, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshTopK(q, c, 10, Similarity.md5SignPlanes(4, 8, 64)).collect()
    val recall = (exact & approx.map(r => (r.getLong(0), r.getLong(2))).toSet).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low for ±1 random projections")
    val exactSims = Similarity.bruteForceTopK(q, c, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    approx.foreach(r => assert(r.getDouble(3) === exactSims((r.getLong(0), r.getLong(2)))))
  }

  test("kmeansBounded: equals a pure-Scala Lloyd replay; empty clusters carry (X232)") {
    // 6 points in R^3, k=2, iters=2 — replay the exact algorithm
    // (md5-priority seeds, c·c − 2v·c assignment with index ties,
    // sequential-order means) driver-side and demand equality
    val pts: Map[Long, Array[Double]] = Map(
      1L -> Array(0.0, 0.1, 0.0), 2L -> Array(0.1, 0.0, 0.0),
      3L -> Array(0.0, 0.0, 0.2), 4L -> Array(5.0, 5.1, 5.0),
      5L -> Array(5.1, 5.0, 5.2), 6L -> Array(4.9, 5.0, 5.1))
    val df = pts.toSeq.sortBy(_._1).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val seedIds = pts.keys.toSeq.sortBy(id => (md5hex(id.toString), id)).take(2)
    var centers: Map[Long, Array[Double]] =
      seedIds.zipWithIndex.map { case (id, cl) => cl.toLong -> pts(id) }.toMap
    def assign(): Map[Long, Long] = pts.map { case (id, v) =>
      id -> centers.toSeq.map { case (cl, c) =>
        (dot(c, c) - 2.0 * dot(v, c), cl)
      }.minBy(identity)._2
    }
    for (_ <- 1 until 2) {
      val a = assign()
      val upd = a.groupBy(_._2).map { case (cl, m) =>
        val ids = m.keys.toSeq.sorted
        val mean = (0 until 3).map { d =>
          ids.foldLeft(0.0)((acc, id) => acc + pts(id)(d)) / ids.length
        }.toArray
        cl -> mean
      }
      centers = centers.map { case (cl, c) => cl -> upd.getOrElse(cl, c) }
    }
    val expect = assign()
    val got = Similarity.kmeansBounded(df, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect, s"bounded Lloyd must replay exactly: $got vs $expect")
    assert(got.values.toSet.size === 2, "both blobs resolve")
    // all-identical inputs: every point ties to cluster 0, the other
    // center keeps its seed, nothing throws
    val same = (1L to 4L).map(i => (i, Seq(1.0, 1.0))).toDF("vec_id", "embedding")
    val g2 = Similarity.kmeansBounded(same, k = 2, iters = 2).collect()
    assert(g2.forall(_.getLong(1) === 0L))
  }

  test("pqTopKPortable: ±1 codebooks, ADC = dot with the decoded vector, exact rerank (X235)") {
    val cb = Similarity.md5PqCodebooks(m = 2, codes = 4, subDim = 3)
    assert(cb.flatten.flatten.forall(x => x == 1.0 || x == -1.0))
    val d0 = java.security.MessageDigest.getInstance("MD5")
      .digest("pq:1:2:0".getBytes("UTF-8"))
    val expect = if ((Character.digit(f"${d0(0) & 0xff}%02x".charAt(0), 16) & 1) == 0) 1.0 else -1.0
    assert(cb(1)(2)(0) === expect)
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    val c = e.filter($"vec_id" >= 10)
    val out = Similarity.pqTopKPortable(q, c, k = 10).collect()
    // recall vs brute force (the same bar the production pqTopK holds)
    val exact = Similarity.bruteForceTopK(q, c, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & out.map(r => (r.getLong(0), r.getLong(2))).toSet).size.toDouble / exact.size
    assert(recall >= 0.2, s"recall $recall — mod-cells + ±1 ADC must still find neighbors")
    // the rerank sims are the exact cosines
    val exactSims = Similarity.bruteForceTopK(q, c, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    out.foreach(r => assert(r.getDouble(3) === exactSims((r.getLong(0), r.getLong(2)))))
    // ADC is a dot with a ±1 vector: |adc| <= L1 norm of the query;
    // and deterministic across runs
    val again = Similarity.pqTopKPortable(q, c, k = 10).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toSeq ===
      again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toSeq)
  }

  test("pcaPowerTop: recovers a planted dominant direction, unit norm, deterministic (X233)") {
    // planted spike: points = t·u + small fixed-pattern noise. Power
    // iteration on the centered Gramian must align with u.
    val d = 8
    val u = Array(0.5, -0.5, 0.25, 0.25, -0.25, 0.25, 0.5, -0.1)
    val un = { val n = math.sqrt(u.map(x => x * x).sum); u.map(_ / n) }
    val rows = (1 to 200).map { i =>
      val t = (i % 21) - 10.0 // spread along u
      val noise = (0 until d).map(j => 0.01 * math.sin(i * 1.7 + j)).toArray
      (i.toLong, (0 until d).map(j => t * un(j) + noise(j)).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val load = Similarity.pcaPowerTop(df, iters = 8)
      .orderBy("pos").collect().map(_.getDouble(1))
    val nrm = math.sqrt(load.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-9, s"normalized direction, got |x| = $nrm")
    val align = math.abs(load.zip(un).map { case (a, b) => a * b }.sum)
    assert(align > 0.999, s"must align with the planted direction, |cos| = $align")
    val again = Similarity.pcaPowerTop(df, iters = 8)
      .orderBy("pos").collect().map(_.getDouble(1))
    assert(load.toSeq === again.toSeq, "bit-deterministic across runs")
  }

  test("ivfTopK: reasonable recall vs brute force, exact sims for returned pairs") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 5)
    val c = e.filter(col("vec_id") >= 5)
    val exact = Similarity.bruteForceTopK(q, c, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.ivfTopK(q, c, 10, nlist = 8, nprobe = 4).collect()
    val approxPairs = approx.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approxPairs).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    // sims are exact for whatever pairs IVF returns
    val bySim = Similarity.bruteForceTopK(q, c, c.count().toInt).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    approx.foreach(r => assert(math.abs(r.getDouble(3) - bySim((r.getLong(0), r.getLong(2)))) < 1e-12))
  }

  test("ivfTopKBucketed: probed cells only, exact sims, contiguous ranks (oracle twin)") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 10)
    val c = e.filter(col("vec_id") >= 10)
    val out = Similarity.ivfTopKBucketed(q, c, k = 5, nlist = 16, nprobe = 4).collect()
    // every neighbor lies in one of the query's 4 deterministic probe
    // cells — the fixed sweep the oracle recomposes
    out.foreach { r =>
      val (qid, nid) = (r.getLong(0), r.getLong(2))
      val probed = (0 until 4).map(i => (qid + i) % 16).toSet
      assert(probed.contains(nid % 16),
        s"neighbor $nid (cell ${nid % 16}) outside query $qid's probe set $probed")
    }
    // ranks contiguous from 1 per query, sims non-increasing
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to rows.length))
      assert(sorted.map(_.getDouble(3)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
    // sims are exact cosines (same rerank kernel as brute force)
    val bySim = Similarity.bruteForceTopK(q, c, c.count().toInt).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    out.foreach(r => assert(r.getDouble(3) === bySim((r.getLong(0), r.getLong(2)))))
  }

  test("pqTopK: reasonable recall vs brute force, exact sims for returned pairs") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 5)
    val c = e.filter(col("vec_id") >= 5)
    val exact = Similarity.bruteForceTopK(q, c, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.pqTopK(q, c, 10, m = 8, kc = 16, rerank = 8).collect()
    val approxPairs = approx.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approxPairs).size.toDouble / exact.size
    assert(recall >= 0.3, s"PQ recall too low: $recall")
    // exactly k rows per query, ranks 1..k
    approx.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === (1L to 10L))
    }
    // returned sims equal the exact cosine (the rerank is exact)
    val bySim = Similarity.bruteForceTopK(q, c, c.count().toInt).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    approx.foreach(r =>
      assert(math.abs(r.getDouble(3) - bySim((r.getLong(0), r.getLong(2)))) < 1e-12))
    // determinism: same fit sample → identical codes → identical result
    val again = Similarity.pqTopK(q, c, 10, m = 8, kc = 16, rerank = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === approx.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("pqTopK: the ADC sweep is IVF-cell-pruned — an equi-join, never a flat scan of the codes") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 5)
    val c = e.filter(col("vec_id") >= 5)
    val plan = Similarity.pqTopK(q, c, 10).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "ADC sweep planned a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "ADC sweep planned a nested-loop scan of all codes — the IVF coarse stage is not pruning")
    // recall against brute force is monotone in the probe count —
    // probing every cell can only see MORE of the true neighbors than
    // probing one (a regression where nprobe stops pruning would make
    // these equal for the wrong reason, but can never invert them)
    val exact = Similarity.bruteForceTopK(q, c, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(nprobe: Int): Double = {
      val got = Similarity.pqTopK(q, c, 10, nlist = 8, nprobe = nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(got.nonEmpty, s"nprobe=$nprobe returned nothing")
      (exact & got).size.toDouble / exact.size
    }
    val r1 = recall(1)
    val r8 = recall(8)
    assert(r8 >= r1, s"recall must be monotone in nprobe: nprobe=1 → $r1, nprobe=8 → $r8")
    assert(r8 >= 0.3, s"full-probe recall too low: $r8")
  }

  test("embeddingNearDups: blocked self-join is EXACT — equals driver brute force pair-for-pair") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // driver-side oracle: all pairs ≥ threshold on collected vectors
    val vecs = e.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      if cos(vecs(i)._2, vecs(j)._2) >= 0.4
    } yield (vecs(i)._1, vecs(j)._1)).toSet
    // exercise a block count that does NOT divide the data evenly
    val out = Similarity.embeddingNearDups(e, 0.4, blocks = 7).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length === pairs.distinct.length, "a pair was emitted twice")
    assert(pairs.toSet === expected)
    out.foreach { r => assert(r.getLong(0) < r.getLong(1)); assert(r.getDouble(2) >= 0.4) }
  }

  test("embeddingNearDupsApprox: precision 1.0 (exact verify) and full recall on clustered data") {
    // synthetic clustered corpus: 40 base vectors, each with a strong
    // near-dup (cos ≈ 0.98) + noise singletons — the regime the banded
    // signature path is FOR (high threshold, real margin)
    val rnd = new scala.util.Random(7)
    def unit(dim: Int): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def perturb(v: Array[Float], eps: Double): Array[Float] = {
      val w = v.map(x => x + (rnd.nextGaussian() * eps).toFloat)
      val n = math.sqrt(w.map(x => x.toDouble * x).sum)
      w.map(x => (x / n).toFloat)
    }
    val rows = (0 until 40).flatMap { i =>
      val base = unit(64)
      Seq((i * 2L, base.toSeq), (i * 2L + 1, perturb(base, 0.02).toSeq))
    } ++ (1000L until 1100L).map(id => (id, unit(64).toSeq))
    val e = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val out = Similarity.embeddingNearDupsApprox(e, threshold = 0.9, Similarity.gaussianBands(8, 64)).collect()
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 40).map(i => (i * 2L, i * 2L + 1)).toSet
    // recall: every planted pair found (cos≈0.98 ⇒ tiny hamming ⇒ some band collides)
    assert((planted -- got).isEmpty, s"missed planted pairs: ${planted -- got}")
    // precision: every returned pair truly ≥ threshold (exact verify)
    out.foreach(r => assert(r.getDouble(2) >= 0.9))
  }

  test("embeddingNearDupsApprox: a pair within bands - 1 bits is found when one differing bit is bit 63") {
    // axis-aligned planes (plane i = e_i): signature bit i = (v_i >= 0);
    // 16 bands of 4 bits
    val planes = Array.tabulate(16, 4, 64)((t, p, i) => if (i == 4 * t + p) 1.0 else 0.0)
    // u and v differ in bit 63 and in bit 4b of each band b = 1..14:
    // hamming 15 = bands - 1, so the pigeonhole guarantee promises a
    // colliding band, and band 0 (low bits 1111 on both) is the only
    // one. The differing coordinates are +-0.01 against 1.0 elsewhere,
    // so cos(u, v) = 48.9985 / 49.0015
    val flips = (1 to 14).map(4 * _) :+ 63
    val u = Array.tabulate(64)(i => if (flips.contains(i)) 0.01f else 1.0f)
    val v = Array.tabulate(64)(i => if (flips.contains(i)) -0.01f else 1.0f)
    val e = Seq((1L, u.toSeq), (2L, v.toSeq)).toDF("vec_id", "embedding")
    val out = Similarity.embeddingNearDupsApprox(e, threshold = 0.99, planes).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(out.head.getDouble(2) >= 0.99)
    // the band key this plan replaced, over the same 64-bit signature:
    // Spark's % keeps the dividend's sign, so u's band 0 (bit 63 set,
    // sig < 0) keys to -1 and v's to 15 — no band of the pair collides
    def sig(x: Array[Float]): Long =
      (0 until 64).foldLeft(0L)((s, i) => if (x(i) >= 0) s | (1L << i) else s)
    assert((sig(u) & 15L) === (sig(v) & 15L) && (sig(u) & 15L) != 0L)
    val oldKeys = Seq((1L, sig(u)), (2L, sig(v))).toDF("vec_id", "sig")
      .select(col("vec_id"), explode(array((0 until 16).map(b =>
        lit(b.toLong << 58) + shiftrightunsigned(col("sig"), b * 4) % lit(1L << 4)): _*)).as("bk"))
      .collect().groupBy(_.getLong(0)).map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
    assert(oldKeys(1L).contains(-1L) && oldKeys(2L).contains(15L))
    assert((oldKeys(1L) intersect oldKeys(2L)).isEmpty)
  }

  test("embeddingNearDupsApproxPortable: md5 bands — planted recall, exact verify, determinism (r13)") {
    // same clustered regime as the production-path test: the md5 ±1
    // plane bands must keep the pigeonhole recall guarantee while
    // being reproducible from MD5 alone
    val rnd = new scala.util.Random(11)
    def unit(dim: Int): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def perturb(v: Array[Float], eps: Double): Array[Float] = {
      val w = v.map(x => x + (rnd.nextGaussian() * eps).toFloat)
      val n = math.sqrt(w.map(x => x.toDouble * x).sum)
      w.map(x => (x / n).toFloat)
    }
    val rows = (0 until 40).flatMap { i =>
      val base = unit(64)
      Seq((i * 2L, base.toSeq), (i * 2L + 1, perturb(base, 0.02).toSeq))
    } ++ (1000L until 1100L).map(id => (id, unit(64).toSeq))
    val e = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val out = Similarity.embeddingNearDupsApprox(e, threshold = 0.9, Similarity.md5SignPlanes(8, 8, 64)).collect()
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 40).map(i => (i * 2L, i * 2L + 1)).toSet
    assert((planted -- got).isEmpty, s"missed planted pairs: ${planted -- got}")
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1)); assert(r.getDouble(2) >= 0.9)
    }
    assert(got.size === got.toSeq.distinct.size)
    // bit-determinism across runs (no RNG stream anywhere)
    val again = Similarity.embeddingNearDupsApprox(e, threshold = 0.9, Similarity.md5SignPlanes(8, 8, 64))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again === out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    // bands must divide the 64-bit budget
    val err = intercept[IllegalArgumentException] {
      Similarity.embeddingNearDupsApprox(e, threshold = 0.9, Similarity.md5SignPlanes(7, 64 / 7, 64))
    }
    assert(err.getMessage.contains("bands"))
  }

  test("rrfFuse: hand-computed fusion, consensus wins, n_lists counts proposals (X244)") {
    import org.apache.spark.sql.functions.col
    // query 1: list A ranks docs 10,11,12; list B ranks 11,10,13.
    // doc 11: 1/62 + 1/61; doc 10: 1/61 + 1/62 (tie, doc 10 first);
    // doc 12: 1/63; doc 13: 1/63 (tie with 12, doc 12 first)
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1L), (1L, 10L, 2L), (1L, 13L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val out = Similarity.rrfFuse(Seq(a, b), k = 10).collect()
      .map(r => r.getLong(2) -> (r.getLong(1), r.getDouble(3), r.getLong(4))).toMap
    def r9(x: Double) = math.rint(x * 1e9) / 1e9
    val both = r9(1.0 / 61 + 1.0 / 62)
    assert(out(10L) === ((1L, both, 2L)), out.toString) // rrf tie -> lower doc_id
    assert(out(11L) === ((2L, both, 2L)))
    assert(out(12L) === ((3L, r9(1.0 / 63), 1L)))
    assert(out(13L) === ((4L, r9(1.0 / 63), 1L)))
    // consensus beats a single high rank: a doc ranked 2nd+2nd
    // outranks one ranked 1st on a single list
    val c = Seq((2L, 20L, 1L), (2L, 21L, 2L)).toDF("query_id", "doc_id", "rank")
    val d = Seq((2L, 22L, 1L), (2L, 21L, 2L)).toDF("query_id", "doc_id", "rank")
    val top = Similarity.rrfFuse(Seq(c, d), k = 1)
      .filter(col("query_id") === 2L).head()
    assert(top.getLong(2) === 21L, "2nd+2nd beats 1st-once")
    // loud refusal (r14, r13 ADVICE): a rank-contract violation —
    // null key or rank < 1 (rank = -60 would divide by zero deep in
    // the plan) — names the row instead of skewing scores silently
    val bad = Seq((3L, 30L, 0L)).toDF("query_id", "doc_id", "rank")
    val e = intercept[Exception] {
      Similarity.rrfFuse(Seq(a, bad), k = 10).collect()
    }
    assert(e.getMessage.contains("ranks must be non-null and >= 1"), e.getMessage)
    val nullKey = Seq((Some(3L), Option.empty[Long], Some(1L)))
      .toDF("query_id", "doc_id", "rank")
    val e2 = intercept[Exception] {
      Similarity.rrfFuse(Seq(a, nullKey), k = 10).collect()
    }
    assert(e2.getMessage.contains("ranks must be non-null and >= 1"), e2.getMessage)
  }

  test("pcaProject: full-rank projection is a rotation (dots preserved); variance orders components") {
    // deterministic 4-dim fixture: coord 0 has the largest spread
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq(
        (10.0 * math.sin(i * 0.7)).toFloat,
        (3.0 * math.cos(i * 1.1)).toFloat,
        (1.0 * math.sin(i * 2.3)).toFloat,
        (0.3 * math.cos(i * 3.1)).toFloat))
    }.toDF("vec_id", "embedding")
    // k = dim: orthonormal basis change preserves inner products
    val full = Similarity.pcaProject(vecs, k = 4).orderBy("vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val raw = vecs.orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    for (i <- Seq(0, 7, 13); j <- Seq(3, 21, 39)) {
      assert(math.abs(dot(full(i), full(j)) - dot(raw(i), raw(j))) < 1e-3,
        s"inner product not preserved for ($i,$j)")
    }
    // k = 2: first component carries the most variance
    val p2 = Similarity.pcaProject(vecs, k = 2).collect().map(_.getSeq[Double](1))
    def variance(xs: Seq[Double]) = {
      val m = xs.sum / xs.size; xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val v0 = variance(p2.map(_(0)).toSeq)
    val v1 = variance(p2.map(_(1)).toSeq)
    assert(v0 > v1, s"first PC variance $v0 should exceed second $v1")
  }

  test("kmeansClusters: two well-separated blobs resolve to two pure clusters") {
    val blobA = (0 until 20).map(i => (i.toLong, Seq(10.0f + (i % 3) * 0.1f, 10.0f)))
    val blobB = (0 until 20).map(i => (100L + i, Seq(-10.0f, -10.0f + (i % 3) * 0.1f)))
    val df = (blobA ++ blobB).toDF("vec_id", "embedding")
    val out = Similarity.kmeansClusters(df, k = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val aClusters = blobA.map(v => out(v._1)).distinct
    val bClusters = blobB.map(v => out(v._1)).distinct
    assert(aClusters.size === 1, s"blob A split across clusters $aClusters")
    assert(bClusters.size === 1, s"blob B split across clusters $bClusters")
    assert(aClusters.head !== bClusters.head, "blobs merged into one cluster")
  }

  test("semanticDedup: keep-first within clusters, exact cosine, cross-blob twins untouched") {
    // two far-apart blobs; inside blob A, vectors 0..4 are
    // near-parallel (cosine ~1 — paraphrase stand-ins) and 50..54 are
    // a second distinct direction; blob B is a third direction with
    // its own twin pair
    def v(x: Double, y: Double, eps: Double) = Seq((x + eps).toFloat, (y - eps).toFloat)
    val parA = (0 until 5).map(i => (i.toLong, v(10.0, 10.0, i * 0.001)))
    val offA = (50 until 55).map(i => (i.toLong, v(10.0, -10.0, (i - 50) * 0.001)))
    val parB = (100 until 103).map(i => (i.toLong, v(-10.0, -10.0, (i - 100) * 0.001)))
    val df = (parA ++ offA ++ parB).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, k = 2, threshold = 0.9999)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(out.size === 13, "one decision row per vector")
    // smallest id of each parallel family survives; later twins drop
    // and name their smallest twin
    assert(out(0L) === ((true, None)))
    (1L to 4L).foreach(i => assert(out(i) === ((false, Some(0L))), s"vec $i"))
    assert(out(50L) === ((true, None)))
    (51L to 54L).foreach(i => assert(out(i) === ((false, Some(50L))), s"vec $i"))
    assert(out(100L) === ((true, None)))
    (101L to 102L).foreach(i => assert(out(i) === ((false, Some(100L))), s"vec $i"))
    // precision check: every dropped vector REALLY has cosine >=
    // threshold to its named twin (driver-side exact recompute)
    val vecs = (parA ++ offA ++ parB).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    out.collect { case (id, (false, Some(t))) =>
      assert(cos(vecs(id), vecs(t)) >= 0.9999, s"$id -> $t not a true twin")
    }
  }

  test("semanticDedup overlap assignment recovers cross-cluster twins (measured recall)") {
    // three Euclidean blobs OFF the twin direction; the planted twin
    // pair shares a direction (cosine ≈ 1) but differs in NORM, so
    // k-means puts its two members in DIFFERENT clusters — invisible
    // to the plain within-cluster pass, recovered by overlap = 2
    def blob(base: Long, cx: Double, cy: Double) =
      (0 until 20).map(i => (base + i,
        Seq((cx + i * 0.05).toFloat, (cy - i * 0.05).toFloat)))
    val blobA = blob(0L, 5.0, 4.0)
    val blobB = blob(100L, 13.0, 10.0)
    val blobC = blob(200L, -10.0, 10.0)
    val twins = Seq((500L, Seq(6.0f, 6.0f)), (501L, Seq(12.0f, 12.0f)))
    val df = (blobA ++ blobB ++ blobC ++ twins).toDF("vec_id", "embedding")
    def decisions(overlap: Int) =
      Similarity.semanticDedup(df, k = 3, threshold = 0.99999, overlap = overlap)
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    val planted = Set((500L, 501L))
    def recall(out: Map[Long, (Boolean, Option[Long])]): Double =
      planted.count { case (a, b) => out(b) == ((false, Some(a))) }.toDouble / planted.size
    val plain = decisions(overlap = 1)
    assert(plain(500L)._1 && plain(501L)._1,
      "fixture must straddle clusters: both twins survive without overlap")
    assert(recall(plain) === 0.0)
    val ov = decisions(overlap = 2)
    assert(recall(ov) === 1.0, s"overlap=2 must recover the straddling pair, got $ov")
    assert(ov(500L) === ((true, None)), "keep-first: the smaller id survives")
    assert(ov(501L) === ((false, Some(500L))))
    // blob members are angularly spread below the threshold: untouched
    assert(blobA.forall(v => ov(v._1)._1), "no false positives inside blob A")
  }

  test("semanticDedup fails fast on a degenerate clustering (cluster-size guard)") {
    // identical embeddings: k-means collapses everything into ONE
    // cluster and the "scoped" pair stage would silently go quadratic
    val df = (0 until 200).map(i => (i.toLong, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(df, k = 4, threshold = 0.9, guardMinPairWork = 1000L)
    }
    assert(e.getMessage.contains("degenerate clustering"))
    // below the pair-work floor the same fit is trivial, not dangerous:
    // the guard skips and the dedup itself is still correct (keep-first)
    val ok = Similarity.semanticDedup(df, k = 4, threshold = 0.9, guardMinPairWork = 100000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(ok.size === 200 && ok(0L) && (1L to 199L).forall(!ok(_)))
  }

  test("semanticDedupBucketed: keep-first decision under the fixed mod assignment") {
    // buckets = 2 → bucket 0: {0, 2}, bucket 1: {1, 3}. 0∥2 same
    // bucket (dedups), 0∥1 parallel but CROSS-bucket (untouched by
    // construction — the assignment is a verification harness, not a
    // semantic scope), 1⊥3 (kept)
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)),
      (1L, Seq(3.0f, 0.0f)), (3L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedupBucketed(df, buckets = 2, threshold = 0.99)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(out(0L) === ((0, true, None)))
    assert(out(2L) === ((0, false, Some(0L))))
    assert(out(1L) === ((1, true, None)))
    assert(out(3L) === ((1, true, None)))
  }

  test("centroidSimilarity: orthogonal/parallel/antipodal centroids score 0/1/-1") {
    val df = Seq(
      (1L, 0, Seq(2.0f, 0.0f)), (2L, 0, Seq(4.0f, 0.0f)),   // centroid (3, 0)
      (3L, 1, Seq(0.0f, 5.0f)),                             // centroid (0, 5)
      (4L, 2, Seq(6.0f, 0.0f)),                             // centroid (6, 0) ∥ label 0
      (5L, 3, Seq(-1.0f, 0.0f))                             // centroid (−1, 0) anti label 0
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.centroidSimilarity(df, dim = 2).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(out((0, 1)) === 0.0)
    assert(out((0, 2)) === 1.0)
    assert(out((0, 3)) === -1.0)
    assert(out.size === 6, "one row per unordered label pair")
  }
}
