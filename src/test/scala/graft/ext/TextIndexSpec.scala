package graft.ext

import graft.SparkSpec
import graft.store.Warehouse
import org.apache.spark.sql.functions._

/** X253 persisted BM25 index — the load-bearing claims:
  * (1) the indexed probe is score-for-score the inline bm25TopK
  *     ranking (same formula, same rounding; df exact from the probed
  *     postings, corpus scalars exact from the meta fold);
  * (2) a probe opens ONLY the query terms' buckets' files — the read
  *     set is planned DRIVER-side from the terms alone, poison-pinned;
  * (3) refresh tokenizes only NEW docs, folds the corpus scalars
  *     exactly (the refreshed index ranks ≡ a fresh build / the inline
  *     ranking over the grown corpus), no-ops when covered, appends;
  * (4) a torn rebuild refuses; the streaming sink is exactly-once.
  */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/t"

  private def sfDocs = graft.Tables.documents(spark, "/root/testdata/sf0.001")

  private val queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "agg", "scan"),
    3 -> Seq("vector", "merge"))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Long, Double)] =
    df.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  test("indexed probe == inline bm25TopK; refresh folds corpus scalars exactly") {
    val docs = sfDocs.localCheckpoint(true)
    val root = freshRoot("tidx")
    TextIndex.buildTextIndex(docs, root)
    val got = rows(TextIndex.bm25TopKIndexed(spark, root, queries, k = 10))
    val want = rows(TextAnalysis.bm25TopK(docs, queries, k = 10))
    assert(got === want, s"extra=${got -- want}, missing=${want -- got}")
    // covered corpus -> refresh no-op, no new version
    val vBefore = Warehouse.currentSnapshot(spark, root)
    assert(TextIndex.refreshTextIndex(docs, root).isEmpty)
    assert(Warehouse.currentSnapshot(spark, root) === vBefore)
    // grow from the half-corpus: a HALF build refreshed to full must
    // rank exactly like the inline ranking over the FULL corpus —
    // n_docs/avg_dl fold exactly, df reads exactly from the postings
    val root2 = freshRoot("tidx_grow")
    TextIndex.buildTextIndex(docs.filter($"doc_id" % 2 === 0), root2)
    // probed before the refresh: its meta row is memoized at the old
    // scalars, and the refreshed probe below must not see them
    assert(rows(TextIndex.bm25TopKIndexed(spark, root2, queries, k = 10)).nonEmpty)
    assert(TextIndex.refreshTextIndex(docs, root2).nonEmpty)
    val got2 = rows(TextIndex.bm25TopKIndexed(spark, root2, queries, k = 10))
    assert(got2 === want,
      "a refreshed index must rank exactly like the inline ranking over the grown corpus")
    val hist = Warehouse.describeSnapshot(spark, root2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(hist("n_shared_files").toInt > 0, s"refresh must append, not rewrite: $hist")
  }

  test("probe opens only the query terms' buckets (driver-planned, poison-pinned)") {
    val docs = sfDocs
    val root = freshRoot("tidx_prune")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      TextIndex.buildTextIndex(docs, root)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    val all = Warehouse.readSnapshot(spark, root).inputFiles.toSet
    assert(all.size > 4, s"need several files for pruning to mean anything: ${all.size}")
    val one = Seq(1 -> Seq("hash"))
    val probe = TextIndex.bm25TopKIndexed(spark, root, one, k = 5)
    val expected = probe.collect().toSeq
    assert(expected.nonEmpty, "the term must match something")
    val opened = probe.inputFiles.toSet.intersect(all)
    assert(opened.size < all.size,
      s"one term must not open the whole index: ${opened.size}/${all.size}")
    (all -- opened).foreach { f =>
      val out = new java.io.FileOutputStream(new java.io.File(new java.net.URI(f)))
      out.write("not parquet".getBytes); out.close()
    }
    assert(TextIndex.bm25TopKIndexed(spark, root, one, k = 5).collect().toSeq === expected,
      "the probe must answer from the probed buckets alone")
  }

  test("torn rebuild refuses; streaming sink exactly-once by the anti-join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val docs = sfDocs.localCheckpoint(true)
    val root = freshRoot("tidx_stream")
    val ck = java.nio.file.Files.createTempDirectory("graft_tidx_ck").toString
    TextIndex.buildTextIndex(docs.filter($"doc_id" < 20), root)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val src = mem.toDF().withColumnRenamed("value", "doc_id").join(docs, Seq("doc_id"))
    def drain(tag: String): Unit = {
      val q = TextIndex.lifecycle.sink(src, root, s"$ck/$tag")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(20L to 40L: _*)
    drain("ck")
    val grown = Warehouse.readSnapshot(spark, root).select("doc_id").distinct().count()
    drain("ck_replay")
    assert(Warehouse.readSnapshot(spark, root).select("doc_id").distinct().count() === grown,
      "replayed docs must not index twice")
    // streamed-in docs rank like the inline over the streamed corpus
    val streamed = docs.filter($"doc_id" < 41)
    assert(rows(TextIndex.bm25TopKIndexed(spark, root, queries, k = 5)) ===
      rows(TextAnalysis.bm25TopK(streamed, queries, k = 5)))
    // torn rebuild: meta advances, the postings commit never lands
    val side = TextIndex.metaPath(root)
    val torn = Seq((1L, 1L, 1L, 64, Warehouse.currentSnapshot(spark, root) + 5, 0L))
      .toDF("n_docs", "n_dl", "sum_dl", "nb", "stamp", "synced_seq")
    Warehouse.commitSnapshot(torn, side, Warehouse.currentSnapshot(spark, side))
    // probes AND refreshes refuse, and the refusal writes nothing
    val vTorn = Warehouse.currentSnapshot(spark, root)
    Seq[() => Any](
      () => TextIndex.bm25TopKIndexed(spark, root, queries, k = 5),
      () => TextIndex.refreshTextIndex(docs.filter($"doc_id" >= 41), root)
    ).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("crashed between"))
      assert(Warehouse.currentSnapshot(spark, root) === vTorn)
    }
    // unbuilt path refuses loudly
    val e2 = intercept[IllegalArgumentException] {
      TextIndex.bm25TopKIndexed(spark, freshRoot("tidx_none"), queries, k = 5)
    }
    assert(e2.getMessage.contains("buildTextIndex"))
  }

  test("posting-less docs index a presence sentinel: replays never re-fold the scalars; meta repairs exactly") {
    val root = freshRoot("tidx_sentinel")
    val docs = Seq((1L, "alpha beta alpha"), (2L, null.asInstanceOf[String]),
      (3L, "beta gamma")).toDF("doc_id", "text")
    TextIndex.buildTextIndex(docs, root)
    def meta() = Warehouse.readSnapshot(spark, TextIndex.metaPath(root))
      .select("n_docs", "n_dl", "sum_dl").head()
    val m0 = meta()
    assert((m0.getLong(0), m0.getLong(1), m0.getLong(2)) === ((3L, 2L, 5L)),
      s"N counts every doc, dl scalars skip the null-text doc: $m0")
    // a replayed refresh of the SAME batch (incl. the posting-less
    // doc) must be a no-op — the sentinel makes doc 2 anti-joinable
    assert(TextIndex.refreshTextIndex(docs, root).isEmpty)
    assert(meta() === m0, "a replay must not re-fold the corpus scalars")
    // the scalars re-derive EXACTLY from the postings alone
    val vMeta = Warehouse.currentSnapshot(spark, TextIndex.metaPath(root))
    TextIndex.repairTextIndexMeta(spark, root)
    assert(meta() === m0, "repair must reproduce the exact scalars")
    assert(Warehouse.currentSnapshot(spark, TextIndex.metaPath(root)) === vMeta + 1)
    // scoring still matches the inline ranking over the same frame
    val q = Seq(1 -> Seq("beta"))
    assert(rows(TextIndex.bm25TopKIndexed(spark, root, q, k = 5)) ===
      rows(TextAnalysis.bm25TopK(docs, q, k = 5)))
  }

  test("maintenance keeps the bucket layout: compaction never kills probe pruning") {
    val docs = sfDocs
    val root = freshRoot("tidx_maint")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      TextIndex.buildTextIndex(docs.filter($"doc_id" % 4 === 0), root)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    (1 to 3).foreach { r =>
      TextIndex.refreshTextIndex(docs.filter($"doc_id" % 4 === r % 4), root)
    }
    val expected = rows(TextIndex.bm25TopKIndexed(spark, root, queries, k = 10))
    val filesBefore = Warehouse.readSnapshot(spark, root).inputFiles.length
    // a tiny target keeps SEVERAL output files at this toy size — one
    // giant file could never skip anything (the VectorIndexSpec trick)
    val rep = TextIndex.lifecycle.maintain(spark, root,
      Warehouse.MaintenancePolicy(targetFileBytes = 8192))
    assert(rep.optimized.nonEmpty, "small append files must bin-pack")
    val all = Warehouse.readSnapshot(spark, root).inputFiles.toSet
    assert(all.size < filesBefore, s"$filesBefore -> ${all.size}")
    val probe = TextIndex.bm25TopKIndexed(spark, root, queries, k = 10)
    assert(rows(probe) === expected, "compaction must not change the ranking")
    assert(probe.inputFiles.toSet.intersect(all).size < all.size,
      s"post-compaction probe must still skip files: ${probe.inputFiles.length}/${all.size}")
  }
}
