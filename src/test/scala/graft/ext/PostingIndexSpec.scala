package graft.ext

import graft.SparkSpec
import graft.store.Warehouse
import org.apache.spark.sql.functions._

/** X255 persisted shingle-posting index — the load-bearing claims:
  * (1) the containment screen (dfCap=None) equals
  *     [[Dedup.ngramContainmentPairs]] restricted to cross pairs —
  *     EXACT recall, no banding probability anywhere;
  * (2) the screen finds the embedded-doc case LSH banding misses by
  *     construction (low Jaccard, containment 1.0) — the
  *     decontamination pair the X250 index cannot promise;
  * (3) dfCap drops hot boilerplate shingles under lower-bound
  *     semantics and bounds pair work;
  * (4) screening opens ONLY the probe shingles' buckets (poison pin);
  * (5) refresh no-ops on covered docs (sentinels make shingle-less
  *     docs anti-joinable), appends otherwise; torn rebuilds refuse;
  *     an empty probe returns empty.
  */
class PostingIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/t"

  private def sfDocs = graft.Tables.documents(spark, "/root/testdata/sf0.001")

  private def screenRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet

  test("containment screen == ngramContainmentPairs cross pairs (exact recall, sf0.001)") {
    val docs = sfDocs.localCheckpoint(true)
    val root = freshRoot("pidx")
    PostingIndex.buildPostingIndex(docs.filter($"doc_id" % 2 === 0), root, n = 3)
    val got = screenRows(PostingIndex.containmentAgainstIndex(
      docs.filter($"doc_id" % 2 === 1), root, threshold = 0.5))
    val want = Dedup.ngramContainmentPairs(docs, n = 3, threshold = 0.5)
      .collect().flatMap { r =>
        val (a, b, cab, cba) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
        if (a % 2 == 0 && b % 2 == 1) Some((a, b, cab, cba))
        else if (b % 2 == 0 && a % 2 == 1) Some((b, a, cba, cab))
        else None
      }.toSet
    assert(got === want, s"extra=${got -- want}, missing=${want -- got}")
  }

  test("the embedded-doc case: low Jaccard, containment 1.0 — found, with exact recall") {
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val probe = (10 to 18).map(i => s"w$i").mkString(" ") // wholly inside big
    val root = freshRoot("pidx_embed")
    PostingIndex.buildPostingIndex(Seq((2L, big)).toDF("doc_id", "text"), root)
    val out = PostingIndex.containmentAgainstIndex(
      Seq((3L, probe)).toDF("doc_id", "text"), root, threshold = 0.9)
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 2L && r.getLong(1) === 3L)
    assert(r.getDouble(3) === 1.0, s"every probe shingle is in the big doc: $r")
    assert(r.getDouble(2) < 0.2, "the big doc itself is barely contained")
    // the jaccard of this pair is ~7/58 ≈ 0.12 — the banded X250 index
    // could only find it by luck; the posting screen finds it by
    // construction (this is the decontamination case)
  }

  test("dfCap drops hot boilerplate shingles (lower-bound semantics)") {
    // the same boilerplate shingle chain in MANY catalog docs, one
    // probe doc made ONLY of it
    val boiler = "copy right all rights reserved by corp"
    val catalog = (0 until 20).map(i => (i * 2L, s"$boiler unique$i tail$i body$i"))
      .toDF("doc_id", "text")
    val probe = Seq((99L, boiler)).toDF("doc_id", "text")
    val root = freshRoot("pidx_cap")
    PostingIndex.buildPostingIndex(catalog, root)
    val uncapped = PostingIndex.containmentAgainstIndex(probe, root, threshold = 0.9)
    assert(uncapped.count() === 20, "uncapped: the boilerplate pairs with every doc")
    val capped = PostingIndex.containmentAgainstIndex(probe, root,
      threshold = 0.9, dfCap = Some(10))
    assert(capped.isEmpty,
      "df-capped: shingles in >10 catalog docs stop pairing (lower bound, never inflate)")
  }

  test("screen opens only the probe shingles' buckets (poison pin)") {
    val docs = sfDocs
    val root = freshRoot("pidx_prune")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      PostingIndex.buildPostingIndex(docs.filter($"doc_id" % 2 === 0), root)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    val all = Warehouse.readSnapshot(spark, root).inputFiles.toSet
    assert(all.size > 4, s"need several files: ${all.size}")
    // a SHORT probe doc touches few shingle buckets
    val inc = Seq((9001L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val screen = PostingIndex.containmentAgainstIndex(inc, root, threshold = 0.1)
    val expected = screen.collect().toSeq
    val opened = screen.inputFiles.toSet.intersect(all)
    assert(opened.size < all.size,
      s"a 2-shingle probe must not open the whole index: ${opened.size}/${all.size}")
    (all -- opened).foreach { f =>
      val out = new java.io.FileOutputStream(new java.io.File(new java.net.URI(f)))
      out.write("not parquet".getBytes); out.close()
    }
    assert(PostingIndex.containmentAgainstIndex(inc, root, threshold = 0.1)
      .collect().toSeq === expected,
      "the screen must answer from the probed buckets alone")
  }

  test("refresh sentinels/no-op/append; torn rebuild refuses; empty probe returns empty") {
    val root = freshRoot("pidx_refresh")
    val docs = Seq((2L, "a b c d e f"), (4L, "x y"), // doc 4: shingle-less
      (6L, "g h i j k l")).toDF("doc_id", "text")
    PostingIndex.buildPostingIndex(docs, root)
    // replay: the shingle-less doc is sentinel-indexed, so NOTHING is
    // fresh — no version, None
    val v = Warehouse.currentSnapshot(spark, root)
    assert(PostingIndex.refreshPostingIndex(docs, root).isEmpty)
    assert(Warehouse.currentSnapshot(spark, root) === v)
    // growth appends (files carried)
    assert(PostingIndex.refreshPostingIndex(
      docs.unionByName(Seq((8L, "m n o p q")).toDF("doc_id", "text")), root).nonEmpty)
    val hist = Warehouse.describeSnapshot(spark, root)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(hist("n_shared_files").toInt > 0, s"refresh must append: $hist")
    // empty probe
    assert(PostingIndex.containmentAgainstIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), root).isEmpty)
    // torn rebuild
    val side = PostingIndex.metaPath(root)
    val torn = Seq((3, 64, Warehouse.currentSnapshot(spark, root) + 5))
      .toDF("n", "nb", "stamp")
    Warehouse.commitSnapshot(torn, side, Warehouse.currentSnapshot(spark, side))
    // probes AND refreshes refuse, and the refusal writes nothing
    val vTorn = Warehouse.currentSnapshot(spark, root)
    Seq[() => Any](
      () => PostingIndex.containmentAgainstIndex(docs, root),
      () => PostingIndex.refreshPostingIndex(Seq((10L, "r s t u v")).toDF("doc_id", "text"), root)
    ).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("crashed between"))
      assert(Warehouse.currentSnapshot(spark, root) === vTorn)
    }
    val e2 = intercept[IllegalArgumentException] {
      PostingIndex.containmentAgainstIndex(docs, freshRoot("pidx_none"))
    }
    assert(e2.getMessage.contains("buildPostingIndex"))
  }

  test("streaming sink: batches refresh, replay no-ops, streamed screen == inline over the streamed corpus (r16)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val docs = sfDocs.localCheckpoint(true)
    val root = freshRoot("pidx_stream")
    val ck = java.nio.file.Files.createTempDirectory("graft_pidx_ck").toString
    PostingIndex.buildPostingIndex(docs.filter($"doc_id" < 20), root)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val src = mem.toDF().withColumnRenamed("value", "doc_id").join(docs, Seq("doc_id"))
    def drain(tag: String): Unit = {
      val q = PostingIndex.lifecycle.sink(src, root, s"$ck/$tag")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(20L to 40L: _*)
    drain("ck")
    val grown = Warehouse.readSnapshot(spark, root).select("doc_id").distinct().count()
    drain("ck_replay")
    assert(Warehouse.readSnapshot(spark, root).select("doc_id").distinct().count() === grown,
      "replayed docs must not index twice")
    // a probe against the streamed index equals the inline cross-pair
    // screen over the streamed-in corpus
    val streamed = docs.filter($"doc_id" < 41)
    val probe = docs.filter($"doc_id" >= 100 && $"doc_id" < 110)
      .localCheckpoint(true)
    val probeIds = probe.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = Dedup.ngramContainmentPairs(
      streamed.unionByName(probe), n = 3, threshold = 0.4)
      .collect().flatMap { r =>
        val (a, b, cab, cba) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
        if (a < 41 && probeIds(b)) Some((a, b, cab, cba))
        else if (b < 41 && probeIds(a)) Some((b, a, cba, cab))
        else None
      }.toSet
    assert(screenRows(PostingIndex.containmentAgainstIndex(probe, root,
        threshold = 0.4)) === want,
      "streamed index must screen exactly like the inline op")
  }
}
