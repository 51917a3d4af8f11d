package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the composition a pipeline
  * user actually runs, wired from the operator families so the stages
  * share scans where the shapes allow:
  *
  *  1. normalize text (one-pass kernel, in-place column)
  *  2. hygiene gates: quality score + repetition + PII — all per-row
  *     expressions, so stages 1-2 are ONE scan with zero shuffles
  *     (Catalyst collapses them into a single projection)
  *  3. decontaminate vs a benchmark set (broadcast shingles; the
  *     corpus side stays unshuffled)
  *  4. near-dup dedup (posting-list pairs + keep-first anti-join)
  *  5. deterministic train/val/test split (pure hash expression)
  *  6. deterministic order + fixed-token-budget packing PER SPLIT
  *     (range-partition prefix sum — the only total-order touch;
  *     packs never straddle train/val/test)
  *
  * Each stage is individually oracle-verified via its own query key;
  * the composition is covered by a determinism + stage-semantics spec
  * (CorpusPipelineSpec). Scale switch points for stage variants
  * (bloom decontam past ~10⁸ benchmark shingles, MinHash dedup past
  * ~10⁷ docs) are in docs/SCALE.md.
  *
  * Bench measurement note (r9, closing the carried ≤3.5 s target):
  * isolated at sf0.1 this runs ~3.3 s; inside the 164-query suite it
  * reads ~0.7-1.1 s higher. The delta is single-JVM suite state (heap
  * shape + JIT churn from 163 neighbors sharing one 24 GB heap), not
  * plan work: the executed plan is identical in both settings and
  * already the at-scale shape — one text materialization, per-row
  * decontam, broadcast thin-side rejoin (text never shuffles), and
  * the r9 A/B showed DISK_ONLY for the corpus checkpoint moves
  * neither number. On a real cluster each executor JVM sees one
  * query's working set, i.e. the isolated number is the
  * representative one (docs/SCALE.md "In-suite vs isolated").
  */
object CorpusPipeline {

  final case class Config(
      minQuality: Double = 0.2,
      maxDupTokenFrac: Double = 0.8,
      maxPiiEmails: Long = 0L,
      decontamNgram: Int = 5,
      dedupNgram: Int = 3,
      dedupJaccard: Double = 0.8,
      packTokens: Long = 512L,
      // pair-source switch (docs/SCALE.md, measured by ScaleProbe):
      // exact posting-list pairs by default; MinHash banding past
      // ~10M docs or heavy duplication, where Σdf² pair work
      // degrades 30×+ while banding stays near-linear. Candidates are
      // exact-verified either way, so precision is 1.0 in both modes —
      // only recall of sub-threshold-ish pairs differs.
      dedupMinhash: Boolean = false)

  /** Stages 1-2 of [[prepare]] as a reusable STATELESS gate: normalize
    * text in place, then the quality/repetition/PII filters — one
    * projection, zero shuffles, zero state. Because every gate is a
    * per-row kernel, the same function applies unchanged to a
    * streaming frame (filter-on-ingest; see
    * [[graft.streaming.StreamingCorpusGate]]). Keeps all input columns
    * (text normalized) plus `quality_score`.
    */
  def hygieneGate(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val normalized = docs.withColumn("text", TextAnalysis.normalizeText(col("text")))
    val feats = Pii.audit(TextAnalysis.qualityFeatures(normalized))
      .withColumn("__rep", graft.functions.native.repetitionStats(col("text")))
      .withColumn("dup_token_frac",
        when(col("__rep.n_tokens") > 0,
          lit(1.0) - col("__rep.n_distinct").cast("double") / col("__rep.n_tokens").cast("double"))
          .otherwise(lit(0.0)))
    feats
      .filter(col("quality_score") >= cfg.minQuality)
      .filter(col("dup_token_frac") <= cfg.maxDupTokenFrac)
      .filter(col("n_emails") <= cfg.maxPiiEmails)
      .select(docs.columns.map(col).toIndexedSeq :+ col("quality_score"): _*)
  }

  /** docs: (doc_id, text, …); benchmark: held-out eval docs. One row
    * per surviving doc: (doc_id, text, quality_score, split, pack_id).
    */
  def prepare(docs: DataFrame, benchmark: DataFrame,
              cfg: Config = Config()): DataFrame = {
    // stage 3 FIRST, driver-side: the benchmark's distinct shingle
    // set, collected once (bounded — eval suites are small by nature;
    // it is byte-for-byte the set Contamination.flag would broadcast
    // as a join build side). The benchmark side gets the SAME
    // normalization as the corpus — shingling raw benchmark text
    // against normalized corpus text would miss contamination whose
    // raw forms differ only in whitespace runs / adjacent-duplicate
    // tokens (exactly what normalizeText folds), i.e. false negatives
    // in the one stage that promises none. Past ~10⁸ benchmark
    // shingles the set no longer fits the expression; switch to
    // Contamination.flagBloom as a screening pass (docs/SCALE.md).
    val normBench = benchmark.withColumn("text", TextAnalysis.normalizeText(col("text")))
    val benchShingles = Contamination.benchShingleSet(normBench, cfg.decontamNgram)

    // stages 1-3: ONE projection + filter over the input scan —
    // normalize + quality + PII + repetition gates, the per-row
    // decontamination probe (an early-exit n-gram membership test
    // against the expression-resident benchmark set — exact, so it
    // keeps the join form's oracle), and the pure per-row split hash
    // and token count. r7 ran decontamination as its own explode →
    // broadcast-join → aggregate → anti-join subplan, which cost a
    // second full normalize pass, its own checkpoint, and a broadcast
    // build per downstream consumer; as a predicate it fuses into the
    // projection Catalyst already collapses stages 1-2 into, and the
    // whole hygiene-and-decontam front becomes zero-shuffle.
    //
    // Stage boundary MATERIALIZED — the ONLY full-text
    // materialization in the pipeline: the three downstream consumers
    // (pair build, thin packing pass, final text rejoin) re-run the
    // whole kernel chain if this recomputes. Unconditional (not
    // Mat.matBoundary): input bytes understate a kernel-chain
    // recompute (A/B at sf0.1: gated 5.1 s vs forced 3.0 s).
    // localCheckpoint is the single-JVM form: eager, executor-local
    // blocks, NOT fault-tolerant. On a cluster, swap for
    // persist(DISK_ONLY) or a staging-table write — same shape, same
    // trade.
    //
    // The decontam probe (n=5 grams) and the near-dup pair build
    // (n=3) both tokenize the text but can NOT share one shingle
    // frame: wordShingles emits per-doc DISTINCT shingles, so 5-grams
    // are not derivable from deduplicated 3-grams, and materializing
    // a combined (doc, n, shingle) exploded frame would write
    // corpus×shingles rows — strictly more than the explode it saves.
    val corpus = TextAnalysis.splitAssign(
        hygieneGate(docs, cfg).select("doc_id", "text", "quality_score"))
      .filter(!graft.functions.native.sharesShingle(
        col("text"), cfg.decontamNgram, benchShingles))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .localCheckpoint(true)
    // stage 4: near-dup keep-first. The loser-id frame is MATERIALIZED
    // before it rides the thin frame's broadcast anti-join: without
    // the pin, the whole multi-stage pair build would execute inside
    // the BroadcastExchange, i.e. on the broadcast thread under
    // spark.sql.broadcastTimeout (300 s) — the 10× probe measured the
    // exact pair source at 112 s, so a duplication-heavy corpus would
    // convert a slow build into a hard timeout (r8 review). The
    // checkpoint keeps the build a normal job; only the materialized
    // ids (O(near-dup docs), a vanishing corpus fraction) enter the
    // broadcast. r7's additional distinct() stays deleted — an
    // anti-join probes existence, the broadcast hash set dedups on
    // build, so the extra shuffle bought nothing.
    val pairs =
      if (cfg.dedupMinhash) Dedup.minhashNearDups(corpus, cfg.dedupNgram, threshold = cfg.dedupJaccard)
      else Dedup.ngramJaccardPairs(corpus, cfg.dedupNgram, cfg.dedupJaccard)
    val losers = pairs.select(col("b").as("doc_id")).localCheckpoint(true)
    // stages 5-6: deterministic order + token-budget packing, PER SPLIT
    // — a pack must never straddle train/val/test (a mixed pack either
    // leaks val text into a train shard or has to be broken, voiding
    // the fixed-budget contract). pack_id is therefore unique per
    // (split, pack_id), not globally.
    // The prefix sum runs over a THIN frame (id, split, tokens — no
    // text): at 100 TB the packing decision is ~24 bytes/row, so the
    // range-partition shuffle and its double pass never move document
    // bodies. The thin frame is checkpointed because prefixSum streams
    // its input twice (per-partition totals, then the indexed pass) —
    // both passes must see identical partitions.
    val thin = corpus.select("doc_id", "quality_score", "split", "n_tokens")
      .join(broadcast(losers), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val packed = graft.ops.TotalOrder.packSequencesPerGroup(thin, "split",
      Seq(md5(col("doc_id").cast("string")), col("doc_id")), "n_tokens", cfg.packTokens)
    // text rejoins the surviving rows once, at the end — one shuffle of
    // the bodies (vs a second full-text materialization), and the only
    // place document text moves at all after the checkpoint
    packed.join(corpus.select("doc_id", "text"), Seq("doc_id"))
      .select("doc_id", "text", "quality_score", "split", "pack_id")
  }

  /** Steps 1–4 of the cycle (gate + both screens) WITHOUT the
    * refreshes — the survivor set as an eagerly-materialized frame,
    * factored out so [[frontDoorSink]] can land its corpus append
    * BETWEEN the screens and the index refreshes (the ordering
    * exactly-once needs; see there). Five SQL executions: the batch
    * checkpoint, the gated checkpoint, the text screen's signature
    * checkpoint, the IVF probe collect and the survivor checkpoint,
    * whose joins all broadcast their batch-bounded side. The returned
    * frame carries its row count, which bounds the refreshes' joins.
    */
  def screenFrontDoor(batch: DataFrame, shingleIdxPath: String,
                      vectorIdxPath: String, cfg: Config = Config(),
                      jaccard: Double = 0.8, cosine: Double = 0.95,
                      nprobe: Int = 4, screenK: Int = 8): DataFrame = {
    val spark = batch.sparkSession
    // the batch, materialized once and counted on the same job: that
    // count bounds every join below, so each batch-side frame is
    // broadcast and no index column is shuffled against the batch
    val (in, seen) = PersistedIndex.countedCheckpoint(
      batch.select(col("doc_id"), col("text"), col("embedding")))
    val bound = Some(seen.getLong(0))
    // gated: consumed by both screens, the batch-id exclusion sets,
    // and the survivor build
    val (gated, _) = PersistedIndex.countedCheckpoint(hygieneGate(
      ShingleIndex.notIndexed(in, shingleIdxPath), cfg))
    def batchIds(as: String) =
      PersistedIndex.broadcastUnder(gated.select(col("doc_id").as(as)), bound)
    // text screen: pairs (a = indexed, b = batch); exclude pairs whose
    // catalog side is a batch-mate (only possible on replay, when the
    // crashed attempt's refresh already indexed them)
    val textDups = ShingleIndex
      .nearDupAgainstShingleIndex(gated.select("doc_id", "text"),
        shingleIdxPath, jaccard)
      .join(batchIds("a"), Seq("a"), "left_anti")
      .select(col("b").as("doc_id"))
    // embedding screen: top-k probed neighbors, batch-mates excluded,
    // best surviving similarity decides
    val embDups = VectorIndex
      .ivfTopKIndexed(gated.select(col("doc_id").as("vec_id"), col("embedding")),
        vectorIdxPath, k = screenK, nprobe = nprobe)
      .join(batchIds("neighbor_id"), Seq("neighbor_id"), "left_anti")
      .groupBy(col("query_id").as("doc_id")).agg(max(col("sim")).as("best"))
      .filter(col("best") >= cosine)
      .select("doc_id")
    // both dup sets hold batch ids (the text set once per indexed
    // partner of a pair, a handful at this jaccard), so they broadcast
    // under the batch's bound; the survivors are consumed by two
    // refreshes AND the caller, which read their count as their bound
    PersistedIndex.countedCheckpoint(gated
      .join(PersistedIndex.broadcastUnder(textDups, bound), Seq("doc_id"), "left_anti")
      .join(PersistedIndex.broadcastUnder(embDups, bound), Seq("doc_id"), "left_anti"))._1
  }

  /** The refresh half of the cycle: vector index first, shingle index
    * LAST — the id gate reads the shingle index, so its refresh landing
    * marks the batch fully ingested on the index side. The vector
    * refresh runs on a thread of its own (created here, so it inherits
    * the caller's job properties) while the shingle refresh computes its
    * increment; the shingle append starts only once the vector append
    * has committed, and not at all if it failed. The vector refresh's
    * drift-ledger fold, advisory and read by no probe, then runs beside
    * the shingle append. Both refreshes are done when this returns.
    */
  private def refreshFrontDoorIndexes(survivors: DataFrame,
                                      shingleIdxPath: String,
                                      vectorIdxPath: String): Unit = {
    val vectorLanded = scala.concurrent.Promise[Unit]()
    val vector = new Thread(() =>
      scala.util.Try(VectorIndex.appendIvfIncrement(
        survivors.filter(col("embedding").isNotNull)
          .select(col("doc_id").as("vec_id"), col("embedding")), vectorIdxPath)) match {
        case scala.util.Success(appended) =>
          vectorLanded.success(())
          appended.foreach { case (_, foldLedger) => foldLedger() }
        case scala.util.Failure(e) => vectorLanded.failure(e)
      }, "graft-front-door-vector-refresh")
    vector.start()
    def landed(): Unit = scala.concurrent.Await.result(vectorLanded.future,
      scala.concurrent.duration.Duration.Inf)
    try ShingleIndex.refreshShingleIndexAfter(survivors.select("doc_id", "text"),
      shingleIdxPath, () => landed())
    finally vector.join()
    landed() // a failed vector refresh fails the cycle, whatever the shingle side did
  }

  /** THE CRAWL FRONT DOOR, one call per ingest batch (r16, the r15
    * verdict #6): gate → screen against BOTH persisted indexes → admit
    * the survivors and refresh BOTH indexes with them. Input batch:
    * `(doc_id long, text, embedding)` — the crawler's decoded page +
    * its embedding (computed upstream; NULL embeddings are admitted
    * on the text signals alone and indexed only on the shingle side).
    * Returns the admitted rows `(doc_id, text, embedding,
    * quality_score)`.
    *
    * The cycle, priced at batch bytes + probed buckets/cells — the
    * catalog is never re-scanned:
    *  1. ID GATE: docs already in the shingle index (every prior
    *     admit lands there, presence sentinels included) anti-join
    *     out — the re-crawl/replay fast path, the same doc_id-grain
    *     read the refresh pays anyway;
    *  2. HYGIENE: [[hygieneGate]] — per-row kernels, zero shuffles;
    *  3. TEXT SCREEN: [[ShingleIndex.nearDupAgainstShingleIndex]] —
    *     drop docs near-dupping an INDEXED doc at `jaccard`;
    *  4. EMBEDDING SCREEN: the probed-cell cosine top-k
    *     ([[VectorIndex.ivfTopKIndexed]]) — drop docs whose best
    *     indexed non-batch neighbor reaches `cosine`;
    *  5. REFRESH: vector index first, shingle index LAST — both
    *     anti-join-idempotent.
    *
    * Job cost per cycle. The batch is checkpointed once and counted
    * on that same job; the count bounds every batch-side join, so each
    * is planned as a broadcast: the id gate and each refresh's "not yet
    * indexed" anti-join semi-join the index's id column against the
    * broadcast batch ids (the index streams once, never shuffled
    * against the batch), and the text-dup and embedding-dup id sets
    * broadcast into the survivor anti-joins. No step probes emptiness:
    * checkpoints and appends count their own rows as observed metrics,
    * and the text screen's bucket set rides its checkpoint the same
    * way. With the text refresh, a warm 20-doc cycle is 15 SQL
    * executions and 39 jobs (23 and 57 before; docs/SCALE.md). The
    * two refreshes overlap as far as their order allows (see
    * `refreshFrontDoorIndexes`).
    *
    * REPLAY CONSISTENCY (the design's load-bearing property): both
    * screens exclude flags raised BY THIS BATCH's own doc ids, so a
    * replayed batch recomputes the SAME survivor set no matter which
    * writes already landed — the batch's own index entries (from a
    * crashed first attempt) can neither self-flag a survivor into a
    * dup nor change which prior-catalog doc flags it. Combined with
    * the refreshes' anti-joins and the shingle-last write order (the
    * id gate reads the LAST-written index, so a fully-processed batch
    * short-circuits at step 1), every crash-and-replay window
    * converges to the serial outcome. Known narrow edge, documented:
    * a batch whose docs near-dup EACH OTHER admits all of them
    * (intra-batch dedup is a different grain — run
    * [[Dedup.minhashNearDups]] on the batch first if the crawler
    * doesn't dedup its own frontier), and on replay such batch-mates
    * can displace an older catalog neighbor past `screenK` in the
    * embedding screen's top-k — raise `screenK` if crawl batches are
    * heavily self-similar.
    */
  def ingestFrontDoor(batch: DataFrame, shingleIdxPath: String,
                      vectorIdxPath: String, cfg: Config = Config(),
                      jaccard: Double = 0.8, cosine: Double = 0.95,
                      nprobe: Int = 4, screenK: Int = 8): DataFrame = {
    val survivors = screenFrontDoor(batch, shingleIdxPath, vectorIdxPath,
      cfg, jaccard, cosine, nprobe, screenK)
    refreshFrontDoorIndexes(survivors, shingleIdxPath, vectorIdxPath)
    survivors
  }

  /** [[ingestFrontDoor]] as a STREAMING sink: per micro-batch, screen,
    * append the admitted rows to the corpus table at `corpusPath`, and
    * only THEN refresh the indexes. The write order is the
    * exactly-once argument: the corpus append is epoch-gated
    * ([[graft.store.Warehouse.commitStreamBatch]]) and precedes both
    * refreshes, so a crash at ANY point replays to the serial outcome —
    * the batch-excluded screens recompute the SAME survivor set (no
    * index write the crashed attempt made can change it), the corpus
    * append skips on its epoch record if it already landed, and the
    * refreshes anti-join to no-ops for whatever they already indexed.
    * Were the shingle refresh to land FIRST instead, a crash before
    * the corpus append would make the replay's id gate drop the whole
    * batch and the corpus would lose it silently — the ordering is
    * load-bearing, not stylistic. Requires both indexes built (the
    * construction is a build decision, not an ingest one).
    */
  def frontDoorSink(source: DataFrame, shingleIdxPath: String,
                    vectorIdxPath: String, corpusPath: String,
                    checkpoint: String, cfg: Config = Config(),
                    jaccard: Double = 0.8, cosine: Double = 0.95,
                    nprobe: Int = 4, screenK: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    ShingleIndex.lifecycle.requireBuilt(source.sparkSession, shingleIdxPath)
    VectorIndex.lifecycle.requireBuilt(source.sparkSession, vectorIdxPath)
    // keyed on the CHECKPOINT, not the corpus table (r16 review): two
    // distinct streams feeding one corpus are two exactly-once
    // domains — a shared table-derived appId would make each stream's
    // epoch gate skip the other's batches, silently dropping admitted
    // docs; the checkpoint path IS the stream's identity (hex, so
    // Int.MinValue can't yield a negative id)
    val appId = s"graft-front-door-${java.lang.Integer.toHexString(checkpoint.hashCode)}"
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val admitted = screenFrontDoor(batch, shingleIdxPath, vectorIdxPath,
          cfg, jaccard, cosine, nprobe, screenK)
        // corpus first (epoch-gated), indexes after — see the ordering
        // argument above; survivors are checkpointed, so all three
        // writes share one computation
        graft.store.Warehouse.commitStreamBatch(
          admitted, corpusPath, appId, epoch)
        refreshFrontDoorIndexes(admitted, shingleIdxPath, vectorIdxPath)
        ()
      }
  }
}
