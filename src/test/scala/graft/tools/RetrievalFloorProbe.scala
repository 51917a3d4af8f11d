package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.functions._

/** Ad-hoc decomposition of q_rrf_fusion's wall time at sf0.1 (r15 —
  * the r14 verdict's watch item: 27× the DuckDB proxy in-suite, no
  * measured floor on file). The fusion itself runs over two
  * query-bounded top-20 lists (≤ 120 rows); the question is which
  * RETRIEVER carries the cost:
  *   bm25      — lexical top-20 for the 3 fixed term queries
  *   semantic  — brute-force cosine top-20, 3 queries vs the corpus
  *   fuse      — rrfFuse over PRE-materialized rankings
  *   full      — the actual q_rrf_fusion body
  * If bm25+semantic ≈ full and fuse ≈ floor, the in-suite reading is
  * retriever cost (scan + per-doc scoring — work the DuckDB proxy
  * also pays, just on a columnar engine's floor), not fusion
  * overhead. min-of-3 per stage on one warm JVM.
  */
object RetrievalFloorProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = "/root/testdata/sf0.1"
    spark.range(1000).selectExpr("sum(id)").collect()

    def minOf3(label: String)(f: => Unit): Unit = {
      val ts = (1 to 3).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[rrffloor] $label%-28s min ${ts.min}%6.3f s  (runs ${ts.map(t => f"$t%5.3f").mkString(" ")})")
    }

    val queries: Seq[(Int, Seq[String])] = Seq(
      1 -> Seq("hash", "join"),
      2 -> Seq("window", "agg", "scan"),
      3 -> Seq("vector", "merge"))
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def docs = Tables.documents(spark, dir)
    def e = Tables.embeddings(spark, dir)
    val qids = queries.map(_._1.toLong)

    minOf3("bm25 top-20")(noop(
      graft.ext.TextAnalysis.bm25TopK(docs, queries, k = 20)))
    minOf3("semantic top-20")(noop(
      graft.ext.Similarity.bruteForceTopK(
        e.filter(col("vec_id").isin(qids: _*)),
        e.filter(!col("vec_id").isin(qids: _*)), k = 20)))
    val lex = graft.ext.TextAnalysis.bm25TopK(docs, queries, k = 20)
      .select(col("query_id"), col("doc_id"), col("rank")).localCheckpoint(true)
    val sem = graft.ext.Similarity.bruteForceTopK(
        e.filter(col("vec_id").isin(qids: _*)),
        e.filter(!col("vec_id").isin(qids: _*)), k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      .localCheckpoint(true)
    minOf3("fuse (pre-built lists)")(noop(
      graft.ext.Similarity.rrfFuse(Seq(lex, sem), k = 10)))
    minOf3("full q_rrf_fusion")(noop(
      graft.SparkEntry.queries("q_rrf_fusion")(spark, dir)))

    // r16: the INDEXED serving loop, builds AMORTIZED outside the
    // timed region — the steady-state per-batch cost the persisted
    // indexes were built to reach. The claim to verify: the indexed
    // fused probe beats the inline retriever floor (bm25 scan +
    // brute-force sweep ≈ full q_rrf_fusion) once the build is paid.
    val troot = java.nio.file.Files.createTempDirectory("graft_rrfpt").toString + "/t"
    val vroot = java.nio.file.Files.createTempDirectory("graft_rrfpv").toString + "/v"
    graft.ext.TextIndex.buildTextIndex(docs, troot)
    graft.ext.VectorIndex.buildIvfIndex(
      e.filter(!col("vec_id").isin(qids: _*)), vroot, nlist = 16, bucketed = true)
    minOf3("indexed bm25 probe")(noop(
      graft.ext.TextIndex.bm25TopKIndexed(spark, troot, queries, k = 20)))
    minOf3("indexed ivf probe")(noop(
      graft.ext.VectorIndex.ivfTopKIndexed(
        e.filter(col("vec_id").isin(qids: _*)), vroot, k = 20, nprobe = 4)))
    minOf3("indexed fused probe")(noop(
      graft.ext.Retrieval.retrieveFused(spark, troot, vroot, queries,
        e.filter(col("vec_id").isin(qids: _*)), k = 10, depth = 20, nprobe = 4)))
    minOf3("full q_rrf_indexed (build+probe)")(noop(
      graft.SparkEntry.queries("q_rrf_indexed")(spark, dir)))
    spark.stop()
  }
}
