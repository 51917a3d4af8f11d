package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empty-input robustness: at 100 TB an empty increment, an empty
  * partition after a filter, or an empty benchmark set is ROUTINE,
  * not exceptional. Every library operator must either return an
  * empty frame or fail with an explicit `require` message — never an
  * NPE / NoSuchElementException out of a driver-side `.head()`.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def someDocs: DataFrame =
    Seq((1L, "some real document text here"), (2L, "another document")).toDF("doc_id", "text")

  test("dedup family: empty in → empty out") {
    assert(ext.Dedup.exact(emptyDocs, md5(col("text"))).count() === 0L)
    assert(ext.Dedup.ngramJaccardPairs(emptyDocs, 3, 0.8).count() === 0L)
    assert(ext.Dedup.duplicateSpans(emptyDocs, w = 8).count() === 0L)
    assert(ext.Dedup.minhashNearDups(emptyDocs).count() === 0L)
    assert(ext.Dedup.minhashNearDupsMd5(emptyDocs).count() === 0L)
    assert(ext.Dedup.simhashNearDups(emptyDocs).count() === 0L)
    assert(ext.Dedup.simhashNearDupsMd5(emptyDocs).count() === 0L)
    assert(ext.Dedup.shingleNovelty(emptyDocs).count() === 0L)
  }

  test("incremental dedup: empty increment and empty catalog both behave") {
    val k = md5(col("text"))
    assert(ext.Dedup.incrementalDedup(emptyDocs, someDocs, k).count() === 0L)
    // empty catalog: everything in the increment is new
    assert(ext.Dedup.incrementalDedup(someDocs, emptyDocs, k).count() === 2L)
    assert(ext.Dedup.incrementalDedupBloom(someDocs, emptyDocs, k).count() === 2L)
    assert(ext.Dedup.incrementalDedupBloom(emptyDocs, someDocs, k).count() === 0L)
  }

  test("contamination: empty benchmark flags nothing, empty corpus yields nothing") {
    assert(ext.Contamination.flag(someDocs, emptyDocs).count() === 0L)
    assert(ext.Contamination.clean(someDocs, emptyDocs).count() === 2L)
    assert(ext.Contamination.flag(emptyDocs, someDocs).count() === 0L)
    assert(ext.Contamination.flagBloom(someDocs, emptyDocs).count() === 0L)
  }

  test("text analysis + gates: empty in → empty out") {
    assert(ext.TextAnalysis.qualityFeatures(emptyDocs).count() === 0L)
    assert(ext.TextAnalysis.tfidfTopTerms(emptyDocs, 3).count() === 0L)
    assert(ext.TextAnalysis.vocabulary(emptyDocs, 10).count() === 0L)
    assert(ext.CorpusPipeline.hygieneGate(emptyDocs).count() === 0L)
    val emptyWithSrc = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(ext.TextAnalysis.stratifiedQuota(emptyWithSrc, Map("src0" -> 5L)).count() === 0L)
    assert(ext.TextAnalysis.mixtureSample(emptyWithSrc, Map("src0" -> 0.5)).count() === 0L)
  }

  test("total-order ops: empty in → empty out (offsets degenerate cleanly)") {
    val emptyTok = Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens")
    assert(ops.TotalOrder.globalIndex(emptyTok, Seq(col("doc_id"))).count() === 0L)
    assert(ops.TotalOrder.prefixSum(emptyTok, Seq(col("doc_id")), "n_tokens").count() === 0L)
    assert(ops.TotalOrder.packSequences(emptyTok, Seq(col("doc_id")), "n_tokens", 512).count() === 0L)
    assert(ops.TotalOrder.epochShuffle(emptyTok, "doc_id", epochs = 2).count() === 0L)
  }

  test("similarity: empty corpora fail fast with explicit messages or return empty") {
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val someEmb = Seq((1L, Array.fill(4)(0.5f)), (2L, Array.fill(4)(0.25f)))
      .toDF("vec_id", "embedding")
    // pair ops: empty in → empty out
    assert(ext.Similarity.embeddingNearDups(emptyEmb, 0.5).count() === 0L)
    assert(ext.Similarity.embeddingNearDupsApprox(emptyEmb, 0.7,
      ext.Similarity.gaussianBands(8, 4)).count() === 0L)
    assert(ext.Similarity.embeddingNearDupsApprox(emptyEmb, 0.7,
      ext.Similarity.md5SignPlanes(8, 8, 4)).count() === 0L)
    val md5Planes = ext.Similarity.md5SignPlanes(4, 8, 4)
    assert(ext.Similarity.lshTopK(emptyEmb, someEmb, planes = md5Planes).count() === 0L)
    assert(ext.Similarity.lshTopK(someEmb, emptyEmb, planes = md5Planes).count() === 0L)
    assert(ext.Similarity.bruteForceTopK(emptyEmb, someEmb).count() === 0L)
    assert(ext.Similarity.bruteForceTopK(someEmb, emptyEmb).count() === 0L)
    // index fits on an EMPTY corpus cannot produce an index: the
    // failure must be an explicit require, not an NPE from a head()
    val e = intercept[IllegalArgumentException] {
      ext.Similarity.pqTopK(someEmb, emptyEmb, k = 1, m = 2, kc = 2)
    }
    assert(e.getMessage.contains("empty fit sample"))
  }

  test("null text: kernels stay null-safe, the hygiene gate drops the row, dedup groups it") {
    val withNull = Seq((1L, "a fine document with plenty of the usual words in it"),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // per-row kernels propagate null instead of throwing
    val k = withNull.orderBy("doc_id").select(
      ext.TextAnalysis.normalizeText(col("text")).as("n"),
      ext.TextAnalysis.tokenCount(col("text")).as("tc"),
      ext.TextAnalysis.fingerprintRolling(col("text")).as("fp"),
      ext.TextAnalysis.compressionRatio(col("text")).as("cr"))
      .collect().map(r => (0 until 4).map(r.isNullAt))
    assert(k(0).forall(_ == false)) // the real doc: every kernel defined
    assert(k(1).forall(_ == true), // the null doc: EVERY kernel propagates
      s"null text must stay null across all kernels, got nullity ${k(1)}")
    // a null-text doc cannot pass a quality gate (null predicate → dropped)
    assert(ext.CorpusPipeline.hygieneGate(withNull)
      .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // exact dedup: the null key forms its own group rather than crashing
    assert(ext.Dedup.exact(withNull, md5(col("text"))).count() === 2L)
  }

  test("multimodal: empty frames stream through the batch codecs") {
    assert(ext.Multimodal.decodeImages(ext.Multimodal.renderImages(emptyDocs)).count() === 0L)
    assert(ext.Multimodal.decodeAudio(ext.Multimodal.renderAudio(emptyDocs)).count() === 0L)
    assert(ext.Multimodal.sampleFrames(ext.Multimodal.renderClips(emptyDocs)).count() === 0L)
  }

  test("warehouse merge/CDC/incremental-agg: empty batches are routine") {
    import graft.store.Warehouse
    val table = Seq((1, 1.0)).toDF("k", "v")
    val empty = Seq.empty[(Int, Double)].toDF("k", "v")
    // empty source: no clause can fire, target intact
    val m = Warehouse.mergeInto(table, empty, Seq("k"),
      Seq(Warehouse.UpdateWhen(lit(true), Map("v" -> col("s.v"))), Warehouse.InsertWhen(lit(true))))
    assert(m.collect().toSeq === table.collect().toSeq)
    // empty target: inserts land, nothing else exists
    val m2 = Warehouse.mergeInto(empty, table, Seq("k"), Seq(Warehouse.InsertWhen(lit(true))))
    assert(m2.collect().toSeq === table.collect().toSeq)
    // diff against an empty side is all-deletes / all-inserts; empty feed applies as a no-op
    assert(Warehouse.diffFrames(table, empty, Seq("k")).collect()
      .map(_.getString(2)).toSeq === Seq("delete"))
    assert(Warehouse.diffFrames(empty, table, Seq("k")).collect()
      .map(_.getString(2)).toSeq === Seq("insert"))
    assert(Warehouse.applyChangeFeed(table, Warehouse.diffFrames(table, table, Seq("k")), Seq("k"))
      .collect().toSeq === table.collect().toSeq)
    // incremental agg: merging an empty batch's state is the identity
    val st = ops.IncrementalAgg.state(table, Seq("k"), "v")
    val merged = ops.IncrementalAgg.merge(st, ops.IncrementalAgg.state(empty, Seq("k"), "v"), Seq("k"))
    assert(merged.collect().toSeq === st.collect().toSeq)
  }
}
