package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  // a corpus exercising every gate:
  //  1: good doc (survives everything)
  //  2: near-dup of 1 with higher id (dropped by keep-first dedup)
  //  3: degenerate repetition (dropped by dup_token_frac gate)
  //  4: PII (dropped by email gate)
  //  5: contaminated (quotes the benchmark 5-gram run)
  //  6: good doc, distinct content (survives)
  private val goodText =
    "the analysis of shuffle behavior in distributed engines rewards " +
    "careful attention to partitioning and to the costs of wide dependencies"
  private val corpus = Seq(
    (1L, goodText),
    (2L, goodText + " appendix"),
    (3L, Seq.fill(40)("spam").mkString(" ")),
    (4L, "contact me at alice@example.com for the dataset and the paper draft " +
      "with all of the other materials we discussed in the longer meeting"),
    (5L, "prelude text then what is the capital of france answer paris " +
      "plus more than enough filler to pass the quality gates easily here"),
    (6L, "a completely different and reasonably long document about the " +
      "evaluation of retrieval systems under domain shift and noisy labels")
  ).toDF("doc_id", "text")
  private val bench = Seq(
    (100L, "what is the capital of france answer paris of course")
  ).toDF("doc_id", "text")

  test("every gate fires on its designated doc; survivors carry split + pack") {
    val out = CorpusPipeline.prepare(corpus, bench,
      CorpusPipeline.Config(minQuality = 0.2, maxDupTokenFrac = 0.5))
    val rows = out.collect()
    val ids = rows.map(_.getAs[Long]("doc_id")).sorted
    assert(ids.toSeq === Seq(1L, 6L), s"survivors: ${ids.mkString(",")}")
    // schema contract
    assert(out.columns.toSeq === Seq("doc_id", "text", "quality_score", "split", "pack_id"))
    rows.foreach { r =>
      assert(Set("train", "val", "test").contains(r.getAs[String]("split")))
      assert(r.getAs[Long]("pack_id") >= 0L)
    }
  }

  test("minhash pair-source switch: same survivors as the exact form on clear dups") {
    // exact clones have jaccard 1.0 — banding recall is 1 for them, and
    // candidates are exact-verified, so the scale form must agree here
    val exact = CorpusPipeline.prepare(corpus, bench,
      CorpusPipeline.Config(minQuality = 0.2, maxDupTokenFrac = 0.5))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val mh = CorpusPipeline.prepare(corpus, bench,
      CorpusPipeline.Config(minQuality = 0.2, maxDupTokenFrac = 0.5, dedupMinhash = true))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(mh.toSeq === exact.toSeq)
  }

  test("deterministic across partitionings and reruns") {
    def run(np: Int) = CorpusPipeline.prepare(corpus.repartition(np), bench)
      .collect().map(r => (r.getLong(0), r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(run(1) === run(7))
    assert(run(7) === run(7))
  }

  test("empty benchmark: decontamination is a no-op, the contaminated doc survives") {
    // guards the r8 per-row probe's empty-set short-circuit (the Bloom
    // NPE family of bugs — see EmptyInputSpec — but for the HashSet form)
    val out = CorpusPipeline.prepare(corpus, bench.limit(0),
      CorpusPipeline.Config(minQuality = 0.2, maxDupTokenFrac = 0.5))
    assert(out.collect().map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(1L, 5L, 6L))
  }

  test("hygiene + decontam + split + tokens front is ONE zero-shuffle projection") {
    // the r8 shape: with decontamination folded into a scan-local
    // predicate, everything upstream of the pipeline's checkpoint is a
    // single Catalyst-collapsed projection+filter — no Exchange, no
    // join, no aggregate may appear (they would mean the probe regressed
    // to the explode→join→agg subplan this shape deleted)
    val normBench = bench.withColumn("text", TextAnalysis.normalizeText(col("text")))
    val benchSet = Contamination.benchShingleSet(normBench, 5)
    val front = TextAnalysis.splitAssign(
        CorpusPipeline.hygieneGate(corpus).select("doc_id", "text", "quality_score"))
      .filter(!graft.functions.native.sharesShingle(col("text"), 5, benchSet))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
    val p = front.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"front shuffles:\n${p.take(1500)}")
    assert(!p.contains("Join"), s"front joins:\n${p.take(1500)}")
    assert(!p.toLowerCase.contains("aggregate"), s"front aggregates:\n${p.take(1500)}")
  }

  test("prepared corpus round-trips the warehouse split-partitioned with pruned reads") {
    val dir = java.nio.file.Files.createTempDirectory("corpus_wh").toString
    val prepared = CorpusPipeline.prepare(corpus, bench)
    graft.store.Warehouse.writePartitioned(prepared, dir, Seq("split"))
    // pruned read: only the train partition's directories are scanned
    val train = graft.store.Warehouse.readPartitions(spark, dir, "split", Seq("train"))
    val scan = train.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("split"), scan.take(1500))
    val expected = prepared.filter($"split" === "train").select("doc_id")
      .as[Long].collect().sorted
    assert(train.select("doc_id").as[Long].collect().sorted.toSeq === expected.toSeq)
    // full read returns every surviving doc
    assert(spark.read.parquet(dir).count() === prepared.count())
  }

  test("packing respects the token budget over the deterministic order") {
    // many tiny docs, no gates firing: pack boundaries are exact
    val many = (10L until 60L)
      .map(i => (i, s"document number $i with exactly eight whitespace tokens"))
      .toDF("doc_id", "text")
    val noBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = CorpusPipeline.prepare(many, noBench,
      CorpusPipeline.Config(minQuality = 0.0, packTokens = 24L))
    // 8 tokens per doc, budget 24 → exactly 3 docs per pack; pack_id
    // is scoped per split (packs never straddle train/val/test)
    val sizes = out.groupBy("split", "pack_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.count() === 50L)
    assert(sizes.values.forall(_ <= 3L))
    // within each split only the tail pack may be short
    sizes.keys.map(_._1).toSet.foreach { sp: String =>
      val perSplit = sizes.filter(_._1._1 == sp).values.toSeq
      assert(perSplit.count(_ < 3L) <= 1, s"split $sp packs: $perSplit")
    }
  }

  test("a warm front-door ingest + text refresh of a 20-doc batch is at most 15 SQL executions, none a SortMergeJoin") {
    // the floor of one ingest cycle: the emptiness probes are gone, and
    // every join with a batch-bounded side is planned as a broadcast
    // (23 executions, four of the survivor build's joins sort-merge,
    // before that). A session of its own: its listener hears only this
    // test's queries.
    val session = spark.newSession()
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 400).map(i => s"w${i}x${rnd.nextInt(1000)}")
    def text() = Seq.fill(30 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def emb() = Array.fill(16)(rnd.nextGaussian().toFloat)
    var nextId = 0L
    def fresh() = { nextId += 1; (nextId, text(), emb()) }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id bigint, text string, embedding array<float>")
    def frame(ds: Seq[(Long, String, Array[Float])]) =
      session.createDataFrame(session.sparkContext.parallelize(ds.map { case (i, t, e) =>
        org.apache.spark.sql.Row(i, t, e.toSeq) }, 4), schema)
    val corpus = Seq.fill(200)(fresh())
    val dir = java.nio.file.Files.createTempDirectory("front_door_floor").toString
    val (troot, vroot, sroot) = (s"$dir/text", s"$dir/ivf", s"$dir/shingle")
    val docs = frame(corpus).localCheckpoint(true)
    TextIndex.buildTextIndex(docs.select("doc_id", "text"), troot)
    VectorIndex.buildIvfIndex(docs.select(col("doc_id").as("vec_id"), col("embedding")), vroot,
      nlist = 16, bucketed = true)
    ShingleIndex.buildShingleIndex(docs.select("doc_id", "text"), sroot)
    // 14 fresh docs, 3 exact copies and 3 near copies (one token
    // changed, embedding nudged) of corpus docs, under new ids
    def batch() = {
      val exact = Seq.fill(3) { val s = corpus(rnd.nextInt(corpus.size)); nextId += 1; s.copy(_1 = nextId) }
      val near = Seq.fill(3) {
        val s = corpus(rnd.nextInt(corpus.size))
        val toks = s._2.split(" ")
        toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size))
        nextId += 1
        (nextId, toks.mkString(" "), s._3.map(_ + 0.002f * rnd.nextGaussian().toFloat))
      }
      (Seq.fill(14)(fresh()) ++ exact ++ near, exact.map(_._1).toSet)
    }
    def ingest(b: Seq[(Long, String, Array[Float])]): Set[Long] = {
      val survivors = CorpusPipeline.ingestFrontDoor(frame(b), sroot, vroot)
      TextIndex.refreshTextIndex(survivors.select("doc_id", "text"), troot)
      survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    ingest(batch()._1)
    // warm: each index's side rows are memoized at their committed
    // version, as a serving loop's probes leave them between ingests
    Seq(TextIndex.lifecycle -> troot, VectorIndex.lifecycle -> vroot,
      ShingleIndex.lifecycle -> sroot).foreach { case (l, p) => l.sideRows(session, p) }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.execution.QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = plans.add(f -> qe)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = plans.add(f -> qe)
    }
    session.listenerManager.register(listener)
    try {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      plans.clear()
      val (b, exact) = batch()
      val admitted = ingest(b)
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      assert(exact.forall(id => !admitted(id)), s"exact copies admitted: ${exact.filter(admitted)}")
      import scala.jdk.CollectionConverters._
      val seen = plans.asScala.toSeq
      assert(seen.size <= 15, s"${seen.size} SQL executions: ${seen.map(_._1).mkString(", ")}")
      // the planner's own choice, before adaptive execution converts
      // anything: the survivor checkpoint included, no join sort-merges
      val smj = seen.filter(_._2.sparkPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
      assert(smj.isEmpty, s"planned as a SortMergeJoin:\n${smj.map(_._2.sparkPlan).mkString("\n")}")
    } finally session.listenerManager.unregister(listener)
  }
}
