package graft.ext

import graft.SparkSpec
import graft.store.Warehouse
import org.apache.spark.sql.functions._

/** X247 persisted IVF index — the load-bearing claims:
  * (1) the bucketed persisted probe is bit-identical to the inline
  *     ivfTopKBucketed twin (same X220 rule, now through storage);
  * (2) probing opens ONLY the probed cells' files (range layout +
  *     manifest stats), poison-pinned: corrupt every non-probed file,
  *     the probe still answers;
  * (3) refresh assigns only NEW vectors against the STORED centroids
  *     (no refit, no rescan), is a no-op on a covered corpus, and the
  *     probe sees the appended vectors;
  * (4) the kmeans production mode holds a recall floor against
  *     brute force (its fit is rows-only by design — X220's argument).
  */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(ids: Range, dim: Int = 8): org.apache.spark.sql.DataFrame =
    ids.map { i =>
      (i.toLong, (0 until dim).map(d =>
        (math.sin(i * 0.37 + d * 1.13) + (if (i % 16 == d) 2.0 else 0.0)).toFloat))
    }.toDF("vec_id", "embedding")

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/t"

  test("bucketed persisted probe == inline ivfTopKBucketed; refresh is incremental; no-op when covered") {
    val root = freshRoot("vidx")
    val corpus = vecs(10 until 150)
    val queries = vecs(0 until 10)
    VectorIndex.buildIvfIndex(corpus, root, nlist = 16, bucketed = true)
    val want = Similarity.ivfTopKBucketed(queries, corpus, k = 10,
      nlist = 16, nprobe = 4)
    // broadcast (collected once) and distributed probe frames answer alike
    Seq(true, false).foreach { bp =>
      val got = VectorIndex.ivfTopKIndexed(queries, root, k = 10, nprobe = 4,
        broadcastProbes = bp)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"the persisted probe must reproduce the inline twin exactly (broadcastProbes=$bp)")
    }
    // covered corpus -> refresh no-op, no new version
    val vBefore = Warehouse.currentSnapshot(spark, root)
    assert(VectorIndex.refreshIvfIndex(corpus, root).isEmpty)
    assert(Warehouse.currentSnapshot(spark, root) === vBefore)
    // new vectors append under the STORED rule and become probe-visible
    val grown = vecs(10 until 180)
    assert(VectorIndex.refreshIvfIndex(grown, root).nonEmpty)
    val got2 = VectorIndex.ivfTopKIndexed(queries, root, k = 10, nprobe = 4)
    val want2 = Similarity.ivfTopKBucketed(queries, grown, k = 10,
      nlist = 16, nprobe = 4)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty,
      "after refresh the persisted probe must match the twin over the grown corpus")
    // old rows were NOT rewritten: the refresh committed an append
    // (previous version's files carried by reference)
    val hist = Warehouse.describeSnapshot(spark, root)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(hist("n_shared_files").toInt > 0,
      s"refresh must append, not rewrite: $hist")
  }

  test("probe opens only the probed cells' files (poison pin on every other file)") {
    val root = freshRoot("vidx_prune")
    val corpus = vecs(10 until 300)
    VectorIndex.buildIvfIndex(corpus, root, nlist = 8, bucketed = true)
    val all = Warehouse.readSnapshot(spark, root).inputFiles.toSet
    assert(all.size > 2, s"need several files for pruning to mean anything: ${all.size}")
    // one query, nprobe=2 -> cells {0, 1}: a contiguous run at the low
    // end of the cell range
    val q = vecs(0 until 1)
    val probe = VectorIndex.ivfTopKIndexed(q, root, k = 5, nprobe = 2)
    val opened = probe.inputFiles.toSet
    assert(opened.nonEmpty && opened.subsetOf(all))
    assert(opened.size < all.size,
      s"probe must skip non-probed cells' files: opened ${opened.size}/${all.size}")
    val expected = probe.collect().toSeq
    // poison every file the probe does NOT plan: if the pruning ever
    // regressed to a full scan, the read would now explode
    (all -- opened).foreach { f =>
      val out = new java.io.FileOutputStream(new java.io.File(new java.net.URI(f)))
      out.write("not parquet".getBytes); out.close()
    }
    assert(VectorIndex.ivfTopKIndexed(q, root, k = 5, nprobe = 2)
      .collect().toSeq === expected,
      "the probe must answer from the probed files alone")
  }

  test("filtered probe (X261): attrs ride build+refresh, rank counts matching rows only, no unfiltered fallback, attr drift refuses") {
    val root = freshRoot("vidx_flt")
    def withLang(ids: Range) = vecs(ids).withColumn("lang",
      when(pmod(col("vec_id"), lit(2)) === 0, "en").otherwise("de"))
    VectorIndex.buildIvfIndex(withLang(10 until 150), root, nlist = 16, bucketed = true)
    // attrs survive the refresh path too (same attr set, schema-gated)
    assert(VectorIndex.refreshIvfIndex(withLang(10 until 180), root).nonEmpty)
    val queries = vecs(0 until 10)
    val got = VectorIndex.ivfTopKIndexed(queries, root, k = 10, nprobe = 4,
      where = Some(col("lang") === "en"))
    // filtering never changes cell assignment (cell = vec_id mod nlist),
    // so the inline twin over the matching SUBSET is the exact oracle
    val want = Similarity.ivfTopKBucketed(queries,
      withLang(10 until 180).filter(col("lang") === "en")
        .select("vec_id", "embedding"),
      k = 10, nlist = 16, nprobe = 4)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "filtered probe must equal filter-then-rank over the probed cells")
    assert(got.filter(pmod(col("neighbor_id"), lit(2)) =!= 0).isEmpty,
      "every returned neighbor must satisfy the predicate")
    // a predicate nothing matches returns EMPTY — shorter-than-k lists,
    // never silent unfiltered fallback rows
    assert(VectorIndex.ivfTopKIndexed(queries, root, k = 5, nprobe = 4,
      where = Some(col("lang") === "fr")).isEmpty)
    // refresh whose attr set drifted from the indexed schema refuses
    val e = intercept[Exception] {
      VectorIndex.refreshIvfIndex(vecs(200 until 210), root)
    }
    assert(e.getMessage.contains("schema"),
      s"attr drift must hit the schema gate, got: ${e.getMessage}")
  }

  test("persisted PQ codes (X264): indexed ADC probe == pqTopKPortable; stale codes refuse; refresh re-covers") {
    val root = freshRoot("vidx_pq")
    val corpus = vecs(10 until 150)
    val queries = vecs(0 until 10)
    VectorIndex.buildIvfIndex(corpus, root, nlist = 16, bucketed = true)
    VectorIndex.buildPqCodes(spark, root, m = 4, kc = 8)
    def probe() = VectorIndex.pqTopKIndexedCodes(queries, root, k = 10,
      nprobe = 4, shortlist = 30)
    val want = Similarity.pqTopKPortable(queries, corpus, k = 10,
      nlist = 16, nprobe = 4, m = 4, codes = 8, dim = 8, shortlist = 30)
    val got = probe()
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "the persisted ADC probe must be score-for-score the portable twin")
    val distributed = VectorIndex.pqTopKIndexedCodes(queries, root, k = 10,
      nprobe = 4, shortlist = 30, broadcastProbes = false)
    assert(distributed.exceptAll(want).isEmpty && want.exceptAll(distributed).isEmpty,
      "a distributed probe frame must answer like the broadcast one")
    // codes refresh is a no-op on a covered index
    assert(VectorIndex.refreshPqCodes(spark, root).isEmpty)
    // index grows -> the count gate refuses until the codes re-cover
    assert(VectorIndex.refreshIvfIndex(vecs(10 until 170), root).nonEmpty)
    val e = intercept[IllegalArgumentException] { probe() }
    assert(e.getMessage.contains("refreshPqCodes"), e.getMessage)
    assert(VectorIndex.refreshPqCodes(spark, root).nonEmpty)
    val grownWant = Similarity.pqTopKPortable(queries, vecs(10 until 170), k = 10,
      nlist = 16, nprobe = 4, m = 4, codes = 8, dim = 8, shortlist = 30)
    val grownGot = probe()
    assert(grownGot.exceptAll(grownWant).isEmpty && grownWant.exceptAll(grownGot).isEmpty,
      "after refresh the probe must cover the grown corpus exactly")
    // a delete and a later append netting to the SAME count must still
    // refuse (r16 review: equal totals cannot prove coverage) — the
    // manifest rowCount chain since the codes' sync shows the dip
    Warehouse.deleteWhereDv(spark, root, col("vec_id").between(160, 164))
    assert(VectorIndex.refreshIvfIndex(vecs(200 until 205), root).nonEmpty)
    assert(Warehouse.snapshotRowCount(spark, root) ===
      Warehouse.snapshotRowCount(spark, VectorIndex.codesPath(root)),
      "the trap needs equal totals to mean anything")
    val e3 = intercept[IllegalArgumentException] { probe() }
    assert(e3.getMessage.contains("buildPqCodes"), e3.getMessage)
    VectorIndex.buildPqCodes(spark, root, m = 4, kc = 8)
    val finalCorpus = vecs(10 until 170)
      .filter(!col("vec_id").between(160, 164))
      .unionByName(vecs(200 until 205))
    val rebuiltWant = Similarity.pqTopKPortable(queries, finalCorpus, k = 10,
      nlist = 16, nprobe = 4, m = 4, codes = 8, dim = 8, shortlist = 30)
    val rebuiltGot = probe()
    assert(rebuiltGot.exceptAll(rebuiltWant).isEmpty &&
      rebuiltWant.exceptAll(rebuiltGot).isEmpty,
      "after the rebuild the probe must cover exactly the surviving corpus")
    // empty query batch -> empty result, right schema
    val empty = VectorIndex.pqTopKIndexedCodes(
      vecs(0 until 0), root, k = 5, nprobe = 2, shortlist = 10)
    assert(empty.isEmpty && empty.columns.toSeq ===
      Seq("query_id", "rank", "neighbor_id", "sim", "adc"))
    // unbuilt codes refuse loudly
    val root2 = freshRoot("vidx_pq_none")
    VectorIndex.buildIvfIndex(corpus, root2, nlist = 8, bucketed = true)
    val e2 = intercept[IllegalArgumentException] {
      VectorIndex.pqTopKIndexedCodes(queries, root2, k = 5)
    }
    assert(e2.getMessage.contains("buildPqCodes"))
  }

  test("PQ probe reads only probed cells across codes AND raw tables (poison pin); kmeans mode serves") {
    val root = freshRoot("vidx_pq_pin")
    val corpus = vecs(10 until 300)
    VectorIndex.buildIvfIndex(corpus, root, nlist = 8, bucketed = true)
    VectorIndex.buildPqCodes(spark, root, m = 4, kc = 8)
    val q = vecs(0 until 1)
    def probe() = VectorIndex.pqTopKIndexedCodes(q, root, k = 5,
      nprobe = 2, shortlist = 20)
    val expected = probe().collect().toSeq
    val allFiles = Warehouse.readSnapshot(spark, root).inputFiles.toSet ++
      Warehouse.readSnapshot(spark, VectorIndex.codesPath(root)).inputFiles.toSet
    // the final plan's lineage stops at the shortlist checkpoint, so
    // the codes read's files are recovered from the same pruned-runs
    // plan the probe builds (query 0, nprobe 2 -> cells {0, 1})
    val codesProbed = Warehouse.readSnapshotRuns(
      spark, VectorIndex.codesPath(root), "cell", IndexedSeq(0, 1)).inputFiles.toSet
    val opened = (probe().inputFiles.toSet ++ codesProbed).intersect(allFiles)
    assert(opened.size < allFiles.size,
      s"the PQ probe must skip non-probed cells' files in BOTH tables: " +
        s"${opened.size}/${allFiles.size}")
    (allFiles -- opened).foreach { f =>
      val o = new java.io.FileOutputStream(new java.io.File(new java.net.URI(f)))
      o.write("not parquet".getBytes); o.close()
    }
    assert(probe().collect().toSeq === expected,
      "the PQ probe must answer from the probed files alone")
    // kmeans production mode serves through the same path
    val kroot = freshRoot("vidx_pq_km")
    VectorIndex.buildIvfIndex(vecs(10 until 100), kroot, nlist = 8)
    VectorIndex.buildPqCodes(spark, kroot, m = 4, kc = 8)
    val km = VectorIndex.pqTopKIndexedCodes(vecs(0 until 3), kroot, k = 5,
      nprobe = 3, shortlist = 20).collect()
    assert(km.nonEmpty && km.map(_.getLong(0)).toSet === Set(0L, 1L, 2L),
      "kmeans-mode PQ probe must answer every query")
  }

  test("near-dup screen against the index: clones flag, novel rows pass, corpus never rescans (X249)") {
    val root = freshRoot("vidx_nd")
    val corpus = vecs(10 until 100)
    VectorIndex.buildIvfIndex(corpus, root, nlist = 8, bucketed = true)
    // increment: vec_id 200 is an exact CLONE of indexed vec 16 — and
    // lands in 200 % 8 = 0 = 16 % 8, so its probe cells include the
    // clone's cell at nprobe >= 1; vec 201 is novel (orthogonal-ish)
    val clone16 = vecs(16 until 17).select(col("embedding")).head().getSeq[Float](0)
    val inc = Seq(
      (200L, clone16),
      (201L, (0 until 8).map(d => (if (d == 7) 1.0 else 0.001).toFloat).toSeq)
    ).toDF("vec_id", "embedding")
    val out = VectorIndex.nearDupAgainstIndex(inc, root, threshold = 0.999)
      .select("vec_id", "dup_of", "dup_sim").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(200L) === Some(16L), "an exact clone must flag its indexed twin")
    assert(out(201L) === None, "a novel vector must pass")
    // the screen's price is the increment + probed cells: corrupting a
    // file in an unprobed cell must not touch the screen (cells probed
    // by vec 200/201 at nprobe=4: {0,1,2,3} and {1,2,3,4})
    val all = Warehouse.readSnapshot(spark, root).inputFiles.toSet
    val probed = VectorIndex.ivfTopKIndexed(inc, root, k = 1, nprobe = 4)
      .inputFiles.toSet
    assert((all -- probed).nonEmpty, "need an unprobed file for the pin")
    (all -- probed).foreach { f =>
      val os = new java.io.FileOutputStream(new java.io.File(new java.net.URI(f)))
      os.write("x".getBytes); os.close()
    }
    val again = VectorIndex.nearDupAgainstIndex(inc, root, threshold = 0.999)
      .select("vec_id", "dup_of").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(again === out.map { case (k, v) => k -> v },
      "the screen must answer from the probed cells alone")
  }

  test("streaming sink: batches refresh the index; a replayed batch is a no-op by the anti-join (X248)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot("vidx_stream")
    val dir = java.nio.file.Files.createTempDirectory("graft_vidx_ck").toString
    VectorIndex.buildIvfIndex(vecs(10 until 60), root, nlist = 8, bucketed = true)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val src = mem.toDF().withColumnRenamed("value", "vec_id")
      .join(vecs(0 until 400), Seq("vec_id"))
    def drain(ck: String): Unit = {
      val q = VectorIndex.lifecycle.sink(src, root, s"$dir/$ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(60L to 90L: _*)
    drain("ck")
    assert(Warehouse.readSnapshot(spark, root).count() === 50 + 31)
    // REPLAY: a fresh checkpoint re-delivers the same rows — the
    // anti-join makes the refresh a no-op, never a double-index
    drain("ck_replay")
    assert(Warehouse.readSnapshot(spark, root).count() === 50 + 31,
      "replayed vectors must not index twice")
    mem.addData(91L to 100L: _*)
    drain("ck")
    assert(Warehouse.readSnapshot(spark, root).count() === 50 + 41)
    // the streamed-in vectors are probe-visible and match the twin
    val q10 = vecs(0 until 5)
    val got = VectorIndex.ivfTopKIndexed(q10, root, k = 5, nprobe = 3)
    val want = Similarity.ivfTopKBucketed(q10, vecs(10 until 101), k = 5,
      nlist = 8, nprobe = 3)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // an unbuilt index path refuses at sink CONSTRUCTION, not mid-stream
    val e = intercept[IllegalArgumentException] {
      VectorIndex.lifecycle.sink(src, freshRoot("vidx_nosink"), s"$dir/ck_no")
    }
    assert(e.getMessage.contains("buildIvfIndex"))
  }

  test("index maintenance keeps the cell layout: compaction never kills probe pruning (r14)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_vidx_mck").toString
    // several small streamed appends: the decay scenario — per-epoch
    // files, each spanning few rows. `drain(j, every, policy)` streams
    // epoch j's 30 vectors through the lifecycle sink.
    def streamed(tag: String, maintainEvery: Int, policy: Warehouse.MaintenancePolicy)
        : (String, (Int, Int, Warehouse.MaintenancePolicy) => Unit) = {
      val root = freshRoot(tag)
      VectorIndex.buildIvfIndex(vecs(10 until 60), root, nlist = 8, bucketed = true)
      val mem = MemoryStream[Long]
      val src = mem.toDF().withColumnRenamed("value", "vec_id")
        .join(vecs(0 until 400), Seq("vec_id"))
      def drain(j: Int, every: Int, p: Warehouse.MaintenancePolicy): Unit = {
        mem.addData((60L + j * 30) until (90L + j * 30): _*)
        val q = VectorIndex.lifecycle.sink(src, root, s"$dir/$tag", every, p)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      (0 until 4).foreach(drain(_, maintainEvery, policy))
      (root, drain)
    }
    val (root, _) = streamed("vidx_maint", 0, Warehouse.MaintenancePolicy())
    val filesBefore = Warehouse.readSnapshot(spark, root).inputFiles.length
    // the index-aware tick bin-packs WITH the cell layout forced; a
    // tiny target keeps SEVERAL output files at this toy size, so the
    // post-compaction pruning claim is testable (one giant file could
    // never skip anything)
    val r = VectorIndex.lifecycle.maintain(spark, root,
      Warehouse.MaintenancePolicy(targetFileBytes = 8192))
    assert(r.optimized.nonEmpty, "small per-epoch files must bin-pack")
    val all = Warehouse.readSnapshot(spark, root).inputFiles.toSet
    assert(all.size < filesBefore, s"$filesBefore -> ${all.size}")
    // pruning survives the rewrite: a 2-cell probe still opens a
    // strict subset of files, and the answers match the inline twin
    val q1 = vecs(0 until 1)
    val probe = VectorIndex.ivfTopKIndexed(q1, root, k = 5, nprobe = 2)
    assert(probe.inputFiles.toSet.size < all.size,
      s"post-compaction probe must still skip files: ${probe.inputFiles.length}/${all.size}")
    val want = Similarity.ivfTopKBucketed(q1, vecs(10 until 180), k = 5,
      nlist = 8, nprobe = 2)
    assert(probe.exceptAll(want).isEmpty && want.exceptAll(probe).isEmpty)
    // the same appends through the sink's in-loop tick (every 2nd
    // epoch) bin-pack with the cell layout forced just the same
    val (ticked, drain) = streamed("vidx_maint_tick", 2,
      Warehouse.MaintenancePolicy(targetFileBytes = 8192))
    val tickedFiles = Warehouse.readSnapshot(spark, ticked).inputFiles.toSet
    assert(tickedFiles.size < filesBefore, s"$filesBefore -> ${tickedFiles.size}")
    val tickedProbe = VectorIndex.ivfTopKIndexed(q1, ticked, k = 5, nprobe = 2)
    assert(tickedProbe.inputFiles.toSet.size < tickedFiles.size,
      s"in-loop ticks must keep probes skipping files: " +
        s"${tickedProbe.inputFiles.length}/${tickedFiles.size}")
    assert(tickedProbe.exceptAll(want).isEmpty && want.exceptAll(tickedProbe).isEmpty)
    // a tick that throws never fails the stream: each epoch's refresh
    // has already landed when its tick runs
    val failing = Warehouse.MaintenancePolicy(analyzeColumns = Seq("no_such_column"))
    val e = intercept[IllegalArgumentException] {
      VectorIndex.lifecycle.maintain(spark, ticked, failing)
    }
    assert(e.getMessage.contains("not in snapshot schema"))
    (4 until 6).foreach(drain(_, 1, failing))
    assert(Warehouse.readSnapshot(spark, ticked).count() === 50 + 6 * 30,
      "every epoch's vectors must be indexed")
  }

  test("drift ledger: drifted increments trip indexAdvice, stationary ones don't (r15)") {
    val root = freshRoot("vidx_drift")
    // bucketed rule: cell = vec_id % 8, so shares are deterministic —
    // a consecutive-id corpus is uniform over cells
    VectorIndex.buildIvfIndex(vecs(0 until 80), root, nlist = 8, bucketed = true)
    // stationary increment: consecutive ids -> the same uniform shares
    VectorIndex.refreshIvfIndex(vecs(80 until 120), root)
    val calm = VectorIndex.indexAdvice(spark, root, minIncrementRows = 10)
    assert(!calm.rebuildAdvised, calm.toString)
    assert(calm.shareDrift.exists(_ < 0.1), calm.toString)
    // drifted increment: every id ≡ 0 (mod 8) -> all rows land in ONE
    // cell; cumulative shares now concentrate -> advice trips
    VectorIndex.refreshIvfIndex(vecs(0 until 1000).filter(col("vec_id") % 8 === 0)
      .filter(col("vec_id") >= 120), root)
    val drifted = VectorIndex.indexAdvice(spark, root, minIncrementRows = 10)
    assert(drifted.rebuildAdvised, drifted.toString)
    assert(drifted.reason.contains("buildIvfIndex"), drifted.toString)
    // below the minimum-signal floor the advice ABSTAINS regardless
    val abstain = VectorIndex.indexAdvice(spark, root, minIncrementRows = 1000000)
    assert(!abstain.rebuildAdvised && abstain.reason.contains("not enough signal"))
  }

  test("kmeans drift ledger records residuals; the decision costs no data bytes (r15)") {
    val root = freshRoot("vidx_driftkm")
    VectorIndex.buildIvfIndex(vecs(10 until 150), root, nlist = 8)
    VectorIndex.refreshIvfIndex(vecs(150 until 200), root)
    val a = VectorIndex.indexAdvice(spark, root, minIncrementRows = 10)
    assert(a.residualRatio.nonEmpty,
      s"kmeans mode must compare residuals: $a")
    // poison every index DATA file: the advice reads only the
    // nlist-row centroids ledger
    Warehouse.readSnapshot(spark, root).inputFiles.foreach { f =>
      val out = new java.io.FileOutputStream(new java.io.File(new java.net.URI(f)))
      out.write("x".getBytes); out.close()
    }
    assert(VectorIndex.indexAdvice(spark, root, minIncrementRows = 10) === a,
      "the advice must never touch index data bytes")
  }

  test("torn rebuild refuses; empty probe returns empty, never crashes (r15)") {
    val root = freshRoot("vidx_torn")
    VectorIndex.buildIvfIndex(vecs(10 until 60), root, nlist = 8, bucketed = true)
    // empty query frame: a legitimate streaming micro-batch
    val empty = VectorIndex.ivfTopKIndexed(vecs(0 until 0), root, k = 5)
    assert(empty.columns.toSeq === Seq("query_id", "rank", "neighbor_id", "sim")
      && empty.isEmpty)
    assert(VectorIndex.nearDupAgainstIndex(vecs(0 until 0), root).isEmpty)
    // a real probe first, so the refusal below is checked with the
    // centroid rows already memoized
    assert(VectorIndex.ivfTopKIndexed(vecs(0 until 2), root, k = 5).count() === 10)
    // simulate the torn rebuild: centroids advance (stamp ahead), the
    // paired index commit never lands
    import spark.implicits._
    val side = VectorIndex.centroidsPath(root)
    val torn = (0 until 8).map(i => (i, Seq.empty[Double], "bucketed",
        Warehouse.currentSnapshot(spark, root) + 5, 0L, None: Option[Double],
        0L, None: Option[Double]))
      .toDF("cell", "centroid", "mode", "stamp",
        "base_n", "base_resid", "inc_n", "inc_resid")
    Warehouse.commitSnapshot(torn, side, Warehouse.currentSnapshot(spark, side))
    // probes AND refreshes refuse, and the refusal writes nothing
    val vTorn = Warehouse.currentSnapshot(spark, root)
    Seq[() => Any](
      () => VectorIndex.ivfTopKIndexed(vecs(0 until 2), root, k = 5),
      () => VectorIndex.refreshIvfIndex(vecs(60 until 70), root)
    ).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("crashed between"))
      assert(Warehouse.currentSnapshot(spark, root) === vTorn)
    }
  }

  test("kmeans production mode: recall floor vs brute force; centroids persist and reload") {
    val root = freshRoot("vidx_km")
    val corpus = vecs(10 until 300)
    val queries = vecs(0 until 10)
    VectorIndex.buildIvfIndex(corpus, root, nlist = 8)
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorIndex.ivfTopKIndexed(queries, root, k = 5, nprobe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"nprobe=4/8 cells must recover >= half: $recall")
    // an unbuilt path refuses loudly
    val e = intercept[IllegalArgumentException] {
      VectorIndex.ivfTopKIndexed(queries, freshRoot("vidx_none"), k = 5)
    }
    assert(e.getMessage.contains("buildIvfIndex"))
  }
}
