package graft.ext

import graft.SparkSpec
import graft.store.Warehouse
import org.apache.spark.sql.functions._

/** r16 indexed serving loop — the load-bearing claims:
  * (1) retrieveFused ≡ rrfFuse over the two indexed retrievers by
  *     construction (hand-composed target), on the real sf0.001
  *     corpus — and, in bucketed mode, ≡ rrfFuse over the INLINE
  *     retrievers (indexed BM25 is score-for-score bm25TopK; the
  *     bucketed IVF probe is deterministic inline-or-indexed), so the
  *     persisted path changes which FILES are read, never the ranking;
  * (2) the fused probe opens ONLY the probed token buckets' and
  *     cells' files across BOTH indexes (poison pin on every other
  *     file);
  * (3) a term-only query (no embedding) fuses from the lexical list
  *     alone; n_lists carries the consensus signal;
  * (4) depth < k refuses loudly (a silent candidate-pool shrink).
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/t"

  private val queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "agg", "scan"),
    3 -> Seq("vector", "merge"))
  private def qids = queries.map(_._1.toLong)

  private def builtIndexes(): (String, String) = {
    val troot = freshRoot("rsv_t")
    val vroot = freshRoot("rsv_v")
    val docs = graft.Tables.documents(spark, dir)
    val e = graft.Tables.embeddings(spark, dir)
    TextIndex.buildTextIndex(docs, troot)
    VectorIndex.buildIvfIndex(e.filter(!col("vec_id").isin(qids: _*)), vroot,
      nlist = 16, bucketed = true)
    (troot, vroot)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getLong(4))).toSet

  test("fused == rrfFuse over the indexed retrievers == rrfFuse over the inline retrievers (bucketed IVF)") {
    val (troot, vroot) = builtIndexes()
    val e = graft.Tables.embeddings(spark, dir)
    val qv = e.filter(col("vec_id").isin(qids: _*))
    val fused = Retrieval.retrieveFused(spark, troot, vroot, queries, qv,
      k = 10, depth = 20, nprobe = 4)
    // hand-composed target over the same persisted probes
    val lex = TextIndex.bm25TopKIndexed(spark, troot, queries, k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = VectorIndex.ivfTopKIndexed(qv, vroot, k = 20, nprobe = 4)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    assert(rows(fused) === rows(Similarity.rrfFuse(Seq(lex, sem), k = 10)))
    // inline target: bm25TopK (the scan the index replaces) + the
    // X220 bucketed probe computed inline — the full serving path
    // must change I/O, never scores
    val docs = graft.Tables.documents(spark, dir)
    val lexInline = TextAnalysis.bm25TopK(docs, queries, k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val corpus = e.filter(!col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("doc_id"), col("embedding").as("cv"),
        pmod(col("vec_id"), lit(16)).cast("int").as("cell"))
    val probes = qv.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        Similarity.l2norm(col("embedding")).as("qn"),
        explode(sequence(lit(0), lit(3))).as("i"))
      .select(col("query_id"), col("qv"), col("qn"),
        pmod(col("query_id") + col("i"), lit(16)).cast("int").as("cell"))
    val semScored = probes.join(corpus, Seq("cell"))
      .select(col("query_id"), col("doc_id"),
        (Similarity.dot(col("qv"), col("cv"))
          / (col("qn") * Similarity.l2norm(col("cv")))).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("sim"), asc("doc_id"))
    val semInline = semScored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20).select("query_id", "doc_id", "rank")
    assert(rows(fused) === rows(Similarity.rrfFuse(Seq(lexInline, semInline), k = 10)))
  }

  test("a warm fused batch is two SQL executions: the probe-frame collect and the result") {
    val (troot, vroot) = builtIndexes()
    // a session of its own: its listener hears only this test's queries
    val session = spark.newSession()
    val qv = graft.Tables.embeddings(session, dir).filter(col("vec_id").isin(qids: _*))
    def batch() = Retrieval.retrieveFused(session, troot, vroot, queries, qv,
      k = 10, depth = 20, nprobe = 4).collect()
    val first = batch() // reads the side rows of both indexes
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = executions.incrementAndGet()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = executions.incrementAndGet()
    }
    session.listenerManager.register(listener)
    try {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      executions.set(0)
      val second = batch()
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      assert(executions.get() === 2,
        "side rows come from the memo; the probe frame is evaluated once")
      assert(second.toSet === first.toSet)
    } finally session.listenerManager.unregister(listener)
  }

  test("the fused probe reads ONLY probed buckets/cells across BOTH indexes (poison pin)") {
    val (troot, vroot) = builtIndexes()
    val e = graft.Tables.embeddings(spark, dir)
    val qv = e.filter(col("vec_id").isin(qids: _*))
    def fused() = Retrieval.retrieveFused(spark, troot, vroot, queries, qv,
      k = 10, depth = 20, nprobe = 4)
    val expected = rows(fused())
    val allFiles = Warehouse.readSnapshot(spark, troot).inputFiles.toSet ++
      Warehouse.readSnapshot(spark, vroot).inputFiles.toSet
    val opened = fused().inputFiles.toSet.intersect(allFiles)
    assert(opened.size < allFiles.size,
      s"the fused probe must skip non-probed files: ${opened.size}/${allFiles.size}")
    (allFiles -- opened).foreach { f =>
      val o = new java.io.FileOutputStream(new java.io.File(new java.net.URI(f)))
      o.write("not parquet".getBytes); o.close()
    }
    assert(rows(fused()) === expected,
      "the serving path must answer from the probed files alone")
  }

  test("filtered fusion (X263): allow set lands before BOTH rank cuts, stats stay global, no fallback rows") {
    val (troot, vroot) = builtIndexes()
    val docs = graft.Tables.documents(spark, dir)
    val e = graft.Tables.embeddings(spark, dir)
    val qv = e.filter(col("vec_id").isin(qids: _*))
    val allow = docs.filter(pmod(col("doc_id"), lit(2)) === 0).select("doc_id")
    val fused = Retrieval.retrieveFused(spark, troot, vroot, queries, qv,
      k = 10, depth = 20, nprobe = 4, allowedDocs = Some(allow))
    // hand-composed target: each retriever filtered INDIVIDUALLY
    // before its cut, then fused — the pre-cut placement is the claim
    val lex = TextIndex.bm25TopKIndexed(spark, troot, queries, k = 20,
        allowed = Some(allow))
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = VectorIndex.ivfTopKIndexed(qv, vroot, k = 20, nprobe = 4,
        allowed = Some(allow.select(col("doc_id").as("vec_id"))))
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    assert(rows(fused) === rows(Similarity.rrfFuse(Seq(lex, sem), k = 10)))
    assert(fused.filter(pmod(col("doc_id"), lit(2)) =!= 0).isEmpty,
      "no fused row may carry a disallowed doc")
    // pre-cut, not post-cut: filtering the UNFILTERED retrievers'
    // top-20 lists after the fact must disagree somewhere (allowed
    // docs below the unfiltered cut re-enter under the filter)
    val lexPost = TextIndex.bm25TopKIndexed(spark, troot, queries, k = 20)
      .join(allow, Seq("doc_id"), "left_semi")
      .select(col("query_id"), col("doc_id"), col("rank"))
    val semPost = VectorIndex.ivfTopKIndexed(qv, vroot, k = 20, nprobe = 4)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      .join(allow, Seq("doc_id"), "left_semi")
    assert(rows(fused) !== rows(Similarity.rrfFuse(Seq(lexPost, semPost), k = 10)),
      "post-cut filtering must not coincide — otherwise this spec pins nothing")
    // lexical scores are the GLOBAL-stats scores: the allowed docs'
    // bm25 values equal the unfiltered ranking's for the same docs
    val gotScores = TextIndex.bm25TopKIndexed(spark, troot, queries, k = 20,
        allowed = Some(allow))
      .select("query_id", "doc_id", "bm25")
    val wantScores = TextIndex.bm25TopKIndexed(spark, troot, queries, k = 1000)
      .join(allow, Seq("doc_id"), "left_semi")
      .select("query_id", "doc_id", "bm25")
    assert(gotScores.exceptAll(wantScores).isEmpty,
      "a filter must never change a doc's score — stats stay global")
  }

  test("PQ-backed fusion (X265): pq-fused == rrfFuse over the two persisted retrievers; pq+allow refuses") {
    val (troot, vroot) = builtIndexes()
    VectorIndex.buildPqCodes(spark, vroot, m = 8, kc = 16)
    val e = graft.Tables.embeddings(spark, dir)
    val qv = e.filter(col("vec_id").isin(qids: _*)).select("vec_id", "embedding")
    val fused = Retrieval.retrieveFused(spark, troot, vroot, queries, qv,
      k = 10, depth = 20, nprobe = 4, pqShortlist = Some(50))
    val lex = TextIndex.bm25TopKIndexed(spark, troot, queries, k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = VectorIndex.pqTopKIndexedCodes(qv, vroot, k = 20, nprobe = 4,
        shortlist = 50)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    assert(rows(fused) === rows(Similarity.rrfFuse(Seq(lex, sem), k = 10)))
    // the two filters don't compose — refusal, not silent re-admission
    val docs = graft.Tables.documents(spark, dir)
    val err = intercept[IllegalArgumentException] {
      Retrieval.retrieveFused(spark, troot, vroot, queries, qv, k = 10,
        pqShortlist = Some(50),
        allowedDocs = Some(docs.select("doc_id")))
    }
    assert(err.getMessage.contains("compose"))
  }

  test("term-only query fuses from the lexical list alone; depth < k refuses") {
    val (troot, vroot) = builtIndexes()
    val e = graft.Tables.embeddings(spark, dir)
    // query 3 gets no embedding: its fusion input is the lexical list
    // only, so every query-3 row carries n_lists = 1
    val qv = e.filter(col("vec_id").isin(1L, 2L))
    val fused = Retrieval.retrieveFused(spark, troot, vroot, queries, qv,
      k = 5, depth = 20, nprobe = 4)
    val byQ = fused.collect().groupBy(_.getLong(0))
    assert(byQ(3L).forall(_.getLong(4) === 1L),
      "a term-only query must fuse from one list")
    assert(byQ(1L).exists(_.getLong(4) === 2L) || byQ(2L).exists(_.getLong(4) === 2L),
      "hybrid queries should show two-list consensus somewhere in the corpus")
    val err = intercept[IllegalArgumentException] {
      Retrieval.retrieveFused(spark, troot, vroot, queries, qv, k = 10, depth = 5)
    }
    assert(err.getMessage.contains("depth"))
  }
}
