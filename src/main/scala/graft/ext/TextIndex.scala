package graft.ext

import graft.store.Warehouse
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED LEXICAL (BM25) INDEX (X253, r15) — the X250 move applied
  * to text retrieval: build the corpus's posting lists once, answer
  * every later query batch from a PRUNED bucket read.
  *
  * [[TextAnalysis.bm25TopK]] is self-contained: it tokenizes and
  * scores the WHOLE corpus per call — right for a one-shot ranking
  * job, wrong for the serving/repeated-retrieval loop over a 100 TB
  * corpus, where the postings are identical every call and the scan
  * is the cost. This module materializes the inverted index as
  * warehouse snapshot tables and turns a query batch into:
  *
  *  - the POSTINGS table at `path`: one row per (doc, distinct token)
  *    — `(bucket, token, doc_id, tf, dl)` — range-partitioned on
  *    `bucket = xxhash64(token) mod nb`, so every data file holds a
  *    contiguous bucket range and the manifest's min/max stats (X162)
  *    prune non-probed buckets at FILE grain. ALL postings of one
  *    token live in one bucket, so per-term document frequency is
  *    computed EXACTLY from the probed read — df never goes stale as
  *    the corpus grows, with zero extra state;
  *  - the META table at `path + "_meta"`: one row
  *    `(n_docs, n_dl, sum_dl, nb, stamp)` — the corpus scalars BM25
  *    needs (N = n_docs; avg dl = sum_dl / n_dl, null-length docs
  *    excluded exactly as the inline avg() skips them — all integers
  *    maintained EXACTLY by the refresh, re-derivable from the
  *    postings by [[repairTextIndexMeta]]), plus the torn-build
  *    stamp ([[PersistedIndex]]).
  *
  * A probe ([[bm25TopKIndexed]]) then costs: one driver-side bucket
  * computation over the query's terms (the same xxhash64 the build
  * used — no scan decides the read set), a manifest-pruned read of
  * ~|distinct term buckets| / nb of the index bytes, and scoring over
  * |terms × df| rows — the corpus text is never touched. The scoring
  * is [[TextAnalysis.bm25TopK]]'s formula verbatim (same idf, same
  * saturation, same 6-dp round), so the indexed probe is
  * score-for-score the inline ranking (spec-pinned, and the oracle
  * key q_bm25_indexed shares q_bm25's DuckDB recomposition — what the
  * key adds is the round-trip THROUGH the persisted postings).
  *
  * INCREMENTAL growth rides the X200 discipline:
  * [[refreshTextIndex]] tokenizes ONLY docs not yet indexed
  * (anti-join on doc_id) and appends their postings; the meta scalars
  * fold the increment's (count, Σdl) exactly — integer algebra, no
  * approximation, no refit. Build commit, torn-build check,
  * layout-forcing maintenance and the streaming sink are
  * [[lifecycle]]'s.
  *
  * 100 TB shape: the index is one corpus tokenization amortized over
  * every later query; a query batch reads probed buckets only (df
  * lists — linear in postings, the same Σdf bound as the inline
  * semi-join, now WITHOUT the corpus scan in front of it).
  */
object TextIndex {

  /** Build commit, torn-build check, maintenance and sink ([[PersistedIndex]]). */
  val lifecycle: PersistedIndex = PersistedIndex("TextIndex", "_meta",
    "bucket", "buildTextIndex", refreshTextIndex)

  def metaPath(path: String): String = lifecycle.sidePath(path)

  /** The txnApp id every refresh stamps into its postings-append
    * manifest — the detection vehicle for the refresh crash window
    * (r16, the r15 verdict #4): meta's `synced_seq` records the
    * highest stamped postings version whose scalars are folded, and
    * [[Warehouse.lastCommittedEpoch]] recovers the highest stamped
    * version actually COMMITTED, zero data I/O. Postings ahead of
    * meta → a probe refuses loudly naming [[repairTextIndexMeta]]
    * (after a short grace wait, since a LIVE refresh is between its
    * two commits for a moment on every tick).
    */
  private val RefreshApp = "graft-text-index-refresh"

  /** The txn app each META FOLD stamps — epoch = the postings version
    * whose scalars that fold covers (r16 review). Pairs with
    * [[RefreshApp]] into the per-version window check in `readMeta`,
    * makes the fold idempotent per version (a fold whose version a
    * racing [[repairTextIndexMeta]] already covered SKIPS instead of
    * double-counting), and lets folds advance the `synced_seq` pin
    * across contiguously-covered stamps so the stamp sets stay small
    * and retention can never orphan the protocol.
    */
  private val FoldApp = "graft-text-meta-fold"

  /** Driver-side twin of the build's bucket expression — MUST match
    * `pmod(xxhash64(token), nb)` (Spark's xxhash64, seed 42). */
  private def bucketOf(token: String, nb: Int): Int =
    math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(token), 42L),
      nb.toLong).toInt

  /** One row per (doc, distinct token) — plus a PRESENCE SENTINEL
    * (token NULL, tf 0, bucket pinned to 0) for a doc that yields no
    * postings (NULL text), so EVERY doc is visible to the refresh's doc_id
    * anti-join: without it, a posting-less doc reads as "fresh" on
    * every refresh/replay and re-folds into the corpus scalars forever
    * (r15 review). Probes filter `token IN (…)`, which drops NULLs, so
    * sentinels never score; and with every doc carrying ≥1 row, the
    * meta scalars are exactly re-derivable from the postings alone
    * ([[repairTextIndexMeta]]).
    */
  private def postingRows(docs: DataFrame, nb: Int): DataFrame =
    docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"),
        explode_outer(graft.functions.native.tokenCounts(col("text"))).as("tc"))
      .select(
        // sentinel bucket pinned to 0 EXPLICITLY (r15 review):
        // xxhash64(NULL) returns the seed, not NULL, so a coalesce
        // fallback would never fire and sentinels would land in
        // bucket seed-mod-nb — harmless to probes (the token IN
        // filter drops them) but a lie to anyone reasoning about
        // where sentinels live
        when(col("tc.token").isNull, lit(0))
          .otherwise(pmod(xxhash64(col("tc.token")), lit(nb.toLong)).cast("int"))
          .as("bucket"),
        col("tc.token").as("token"), col("doc_id"),
        coalesce(col("tc.tf").cast("long"), lit(0L)).as("tf"), col("dl"))

  /** The token-bucket layout exchange. With per-bucket posting counts
    * (the build knows them from its scalar pass — r17), the boundaries
    * are computed driver-side and the exchange is a deterministic hash
    * exchange ([[BucketLayout]]): same contiguous-bucket-range-per-file
    * property, same within-bucket splitting of hot buckets, but NO
    * sampling pass — the range form re-ran the full tokenize+explode
    * once more per build. Count-less callers (the refresh increment)
    * keep the range form: their input is already checkpointed, so its
    * sampling re-reads cheap materialized rows.
    */
  private def layout(spark: SparkSession, rows: DataFrame, nb: Int,
                     counts: Option[Array[Long]] = None): DataFrame = {
    val parts = math.max(1, math.min(nb,
      spark.sessionState.conf.numShufflePartitions))
    counts match {
      case Some(cs) => BucketLayout.exchange(rows, col("bucket"),
        xxhash64(col("token"), col("doc_id")), cs, parts)
      case None =>
        rows.repartitionByRange(parts, col("bucket"), col("token"), col("doc_id"))
    }
  }

  /** Build (or rebuild) the index for `docs` (`doc_id` long, `text`).
    * Returns the postings table's committed version
    * ([[PersistedIndex.commitBuild]]: meta first, stamped).
    */
  def buildTextIndex(docs: DataFrame, path: String, bucketCount: Int = 64): Long = {
    require(bucketCount >= 1, s"bucketCount must be >= 1, got $bucketCount")
    val spark = docs.sparkSession
    import spark.implicits._
    // Corpus scalars from one NARROW doc-grain pass (r16 — this was an
    // eager localCheckpoint of the full exploded posting frame so the
    // scalars and the layout write could share one tokenization; the
    // checkpoint was the single most expensive job of every indexed
    // retrieval key at sf0.1 — 0.6-0.85 s of q_rrf_pq's warm profile —
    // and at scale it materializes postings ≫ corpus bytes. The
    // scalars only need (doc_id, dl): tokenizing twice costs two cheap
    // kernel scans of the corpus, strictly less than materializing and
    // re-reading the explode. The r15 single-pass review compared
    // against re-deriving the scalars from a second POSTING explode —
    // this pass never explodes). Same doc-grain derivation as
    // [[repairTextIndexMeta]]: n_docs counts every doc (the idf's N);
    // n_dl/sum_dl count only docs with a non-NULL length, matching the
    // inline avg()'s null-skipping; the groupBy keeps dup-doc_id
    // inputs counted at doc grain exactly as the posting-derived form.
    // r17: the SAME pass also aggregates the per-bucket posting
    // histogram (distinct tokens per xxhash64 bucket, the posting
    // grain; NULL text contributes its bucket-0 sentinel row), so the
    // layout write below needs NO sampling pass — the build is exactly
    // two corpus scans. The histogram rides the doc-grain groupBy
    // (`first`, like dl), so duplicate doc_ids shift file SIZING only
    // — content is untouched either way (layout is advisory).
    val sentinel = (0 until bucketCount).map(i => if (i == 0) 1L else 0L)
    val s = docs
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"),
        coalesce(graft.functions.native.bucketHistogram(col("text"), bucketCount),
          typedLit(sentinel)).as("bh"))
      .groupBy("doc_id").agg(first(col("dl")).as("dl"), first(col("bh")).as("bh"))
      .agg(count(lit(1)).as("n"),
        (Seq(count(col("dl")).as("ndl"), sum(col("dl")).as("sdl")) ++
          (0 until bucketCount).map(i =>
            sum(element_at(col("bh"), i + 1)).as(s"b$i"))): _*)
      .head()
    val (nDocs, nDl, sumDl) =
      (s.getLong(0), s.getLong(1), if (s.isNullAt(2)) 0L else s.getLong(2))
    val bucketCounts = Array.tabulate(bucketCount)(i =>
      if (s.isNullAt(3 + i)) 0L else s.getLong(3 + i))
    // a REBUILD inherits prior refresh stamps in the retained history:
    // record them as already-synced (the rebuild's scalars cover the
    // whole corpus by construction)
    val synced = Warehouse.lastCommittedEpoch(spark, path, RefreshApp).getOrElse(0L)
    val laid = layout(spark, postingRows(docs, bucketCount), bucketCount,
      Some(bucketCounts))
    lifecycle.commitBuild(laid, path) { stamp =>
      Seq((nDocs, nDl, sumDl, bucketCount, stamp, synced))
        .toDF("n_docs", "n_dl", "sum_dl", "nb", "stamp", "synced_seq")
    }
  }

  private case class Meta(nDocs: Long, nDl: Long, sumDl: Long, nb: Int,
                          stamp: Long, syncedSeq: Long)

  private def metaOf(r: Row): Meta =
    Meta(r.getAs[Long]("n_docs"), r.getAs[Long]("n_dl"), r.getAs[Long]("sum_dl"),
      r.getAs[Int]("nb"), r.getAs[Long]("stamp"), r.getAs[Long]("synced_seq"))

  /** The meta row, read through the torn-build check. */
  private def readMetaRow(spark: SparkSession, path: String): Meta = {
    lazy val meta = metaOf(lifecycle.sideRows(spark, path).head)
    lifecycle.requireBuilt(spark, path, meta.stamp)
    meta
  }

  /** Probe-grade meta read: the torn-BUILD stamp check, plus the
    * refresh-window check (r16, the r15 verdict #4 — previously
    * nothing DETECTED the window; the owner had to suspect it): if the
    * postings table carries a stamped refresh commit whose scalars
    * never folded (`lastCommittedEpoch` > `synced_seq`), the probe
    * REFUSES loudly naming the repair — after a short grace wait,
    * because every live refresh sits between its two commits for a
    * moment and a serving probe racing that moment should wait it out,
    * not crash. The grace is bounded: a CRASHED refresh never
    * resolves, so detection stays loud.
    */
  private def readMeta(spark: SparkSession, path: String): Meta = {
    var meta = readMetaRow(spark, path)
    // PER-VERSION window detection (r16 review): a max-only comparison
    // (newest postings stamp vs a max-folded synced_seq) is masked the
    // moment a LATER refresh lands and folds — a crashed middle
    // refresh's stamp then sits below the newest forever, its scalars
    // silently missing, the exact failure the detection exists to
    // close. So each fold stamps the postings version it covers into
    // the META manifest ([[FoldApp]]), `synced_seq` is a covering PIN
    // (every stamped version <= it is folded — set by build/repair,
    // advanced by folds only across contiguously-covered stamps), and
    // the window check compares the two stamp SETS: any stamped
    // postings version above the pin without a matching fold stamp is
    // an open window, however many refreshes landed after it.
    def lag(): Set[Long] = {
      val stamped = Warehouse.committedEpochs(spark, path, RefreshApp)
      val folded = Warehouse.committedEpochs(spark, metaPath(path), FoldApp)
      stamped.filter(v => v > meta.syncedSeq && !folded(v))
    }
    // the grace budget bounds how long a probe waits out a LIVE
    // refresh's inter-commit moment before declaring the window
    // crashed; generous by default (a slow scalar agg on a cold
    // executor is not a crash), overridable for tests that WANT the
    // refusal fast
    val graceMs = spark.conf.getOption("graft.textindex.syncGraceMs")
      .map(_.toLong).getOrElse(15000L)
    val stepMs = 150L
    var waited = 0L
    while (lag().nonEmpty && waited < graceMs) {
      Thread.sleep(stepMs); meta = readMetaRow(spark, path); waited += stepMs
    }
    val missing = lag()
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"TextIndex($path): postings v=${missing.toSeq.sorted.mkString(",")} " +
          s"landed but their corpus scalars never folded (pin " +
          s"synced_seq=${meta.syncedSeq}) — a refresh crashed between its " +
          "postings append and meta commit; run repairTextIndexMeta to " +
          "re-derive the scalars exactly")
    meta
  }

  /** Postings per indexed doc, on average: distinct tokens, at most the
    * mean document length; a doc without postings keeps one sentinel.
    */
  private def meanPostings(meta: Meta): Option[Double] =
    if (meta.nDl == 0L) None else Some(meta.sumDl.toDouble / meta.nDl)

  /** Tokenize and append ONLY docs not yet indexed, folding their
    * (count, Σdl) into the meta scalars exactly — the X200 refresh:
    * the tick costs the new docs' bytes, never a corpus re-tokenize.
    * None when nothing is new.
    *
    * Crash-window DETECTION (r16, the r15 verdict #4): the postings
    * append stamps `(RefreshApp, appended version)` into its manifest;
    * the meta fold records that version as `synced_seq`. A crash
    * between the two commits leaves the stamp ahead of `synced_seq`,
    * which every later probe/refresh detects and refuses loudly
    * naming [[repairTextIndexMeta]] — the scalars can no longer go
    * PERMANENTLY missing an increment's share without anyone knowing
    * (postings and df stay exact throughout; df derives from the
    * probed postings themselves).
    *
    * Both commits are CAS-retried (r16, the r15 verdict #3): the
    * append re-runs its anti-join per conflict (a racing refresh's
    * docs re-exclude; a racing maintenance tick changes nothing the
    * anti-join reads), and the meta fold is a read-modify-write that
    * re-reads the CURRENT scalars per attempt — `synced_seq` folds
    * with max() so two racing refreshes' folds land in either order.
    */
  def refreshTextIndex(docs: DataFrame, path: String): Option[Long] = {
    val spark = docs.sparkSession
    val meta = readMeta(spark, path)
    val dlExpr = size(TextAnalysis.tokens(col("text"))).cast("long")
    val appended = Warehouse.retryOnConflict() {
      // consumed by the append's range sampling and its write; the
      // increment's (count, Σdl) for the meta fold ride the same job
      val (fresh, s) = PersistedIndex.countedCheckpoint(
        PersistedIndex.notIndexed(docs.select(col("doc_id"), col("text")), "doc_id",
          Warehouse.readSnapshot(spark, path), meanPostings(meta)),
        count(dlExpr).as("ndl"), sum(dlExpr).as("sdl"))
      if (s.getLong(0) == 0L) None
      else {
        val base = Warehouse.currentSnapshot(spark, path)
        Warehouse.appendSnapshotIfAny(
          layout(spark, postingRows(fresh, meta.nb), meta.nb),
          path, base, txn = Some((RefreshApp, base + 1))).map((_, s))
      }
    }
    appended.map { case (v, s) =>
      val (dn, dndl, dsl) =
        (s.getLong(0), s.getLong(1), if (s.isNullAt(2)) 0L else s.getLong(2))
      import spark.implicits._
      val side = metaPath(path)
      Warehouse.retryOnConflict() {
        val curSide = Warehouse.currentSnapshot(spark, side)
        val m = metaOf(lifecycle.sideRows(spark, path, Some(curSide)).head)
        val pin = m.syncedSeq
        val folded = Warehouse.committedEpochs(spark, side, FoldApp)
        // idempotent per version (r16 review): if a racing
        // repairTextIndexMeta already pinned past v (its re-derivation
        // read v's postings), or this fold's own stamp landed on an
        // earlier attempt, adding the delta again would double-count
        if (v <= pin || folded(v)) curSide
        else {
          // advance the pin across contiguously-covered stamps: the
          // largest stamped version below which every stamp is folded
          // — keeps the stamp sets the window check compares small,
          // and retention-proof (a trimmed fold stamp below the pin
          // no longer matters)
          val stamped = Warehouse.committedEpochs(spark, path, RefreshApp)
          val covered = folded + v
          val newPin = stamped.filter(_ > pin).toSeq.sorted
            .iterator.takeWhile(covered).foldLeft(pin)((_, s) => s)
          Warehouse.commitSnapshot(
            Seq((m.nDocs + dn, m.nDl + dndl, m.sumDl + dsl, m.nb, m.stamp, newPin))
              .toDF("n_docs", "n_dl", "sum_dl", "nb", "stamp", "synced_seq"),
            side, curSide, txn = Some((FoldApp, v)))
        }
      }
      v
    }
  }

  /** Re-derive the meta scalars EXACTLY from the postings table (one
    * index-grain scan, doc-grain aggregate) and commit them — the
    * repair for a refresh that crashed between its postings append and
    * its meta commit (which every later probe now detects and names
    * this repair for — r16). Exact because every doc carries ≥1
    * posting row (the presence sentinel) and each row carries the
    * doc's dl; `synced_seq` re-pins to the highest stamped postings
    * commit, closing the window. A refresh that died after its
    * postings manifest but before the pointer advance left a complete
    * version readers do not see yet: it is published first, so the
    * scalars are derived from the very version the pin names (a replay
    * then finds its docs indexed, instead of appending them twice).
    * Returns the new meta version.
    */
  def repairTextIndexMeta(spark: SparkSession, path: String): Long = {
    val meta = readMetaRow(spark, path) // NOT the probe-grade read: the
    // window this repairs would make readMeta refuse
    Warehouse.rollForwardStamped(spark, path, RefreshApp)
    val perDoc = Warehouse.readSnapshot(spark, path)
      .groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), count(col("dl")).as("ndl"),
        sum(col("dl")).as("sdl")).head()
    val (n, ndl, sdl) = (perDoc.getLong(0), perDoc.getLong(1),
      if (perDoc.isNullAt(2)) 0L else perDoc.getLong(2))
    val synced = Warehouse.lastCommittedEpoch(spark, path, RefreshApp)
      .getOrElse(0L)
    import spark.implicits._
    val side = metaPath(path)
    Warehouse.retryOnConflict() {
      Warehouse.commitSnapshot(
        Seq((n, ndl, sdl, meta.nb, meta.stamp, math.max(meta.syncedSeq, synced)))
          .toDF("n_docs", "n_dl", "sum_dl", "nb", "stamp", "synced_seq"),
        side, Warehouse.currentSnapshot(spark, side))
    }
  }

  /** BM25 top-k THROUGH the index: the [[TextAnalysis.bm25TopK]]
    * ranking with the corpus scan replaced by a driver-planned pruned
    * read — the query terms' buckets are computed driver-side (the
    * build's own hash), the read opens only those buckets' files, df
    * per term is exact from the probed postings (one read serves df
    * and scoring), and the scoring formula/rounding is the inline
    * ranking's verbatim.
    *
    * `allowed` (r16) is FILTERED retrieval: a one-column (`doc_id`)
    * frame semi-joined into the CANDIDATES before the rank cut —
    * "top-k among these docs", with the collection statistics (df,
    * n_docs, avg_dl) staying GLOBAL, the standard search-engine
    * contract (a filter restricts candidates; it does not define a
    * new corpus, so scores are comparable across filters and the
    * meta scalars stay one bounded read). Docs outside the set never
    * occupy rank slots — short lists over silent fallback. At scale
    * the semi-join's left side is already bounded by the probed
    * buckets' postings; the allow set arrives as the caller built it
    * (a stats-pruned id scan, a committed id list) — broadcast-hint
    * it when it is small.
    */
  def bm25TopKIndexed(spark: SparkSession, path: String,
                      queries: Seq[(Int, Seq[String])], k: Int,
                      k1: Double = 1.2, b: Double = 0.75,
                      allowed: Option[DataFrame] = None): DataFrame =
    bm25Probe(spark, path, queries, k, k1, b, allowed)
      .select(col("query_id").cast("int").as("query_id"), col("rank"), col("doc_id"),
        col("bm25"))

  /** [[bm25TopKIndexed]] with a `bigint` query_id, the type the ranked
    * list is hash-partitioned on by its rank window — the form
    * [[Retrieval.retrieveFused]] fuses, so the fuse's group-by and rank
    * reuse that partitioning instead of adding exchanges.
    */
  private[ext] def bm25Probe(spark: SparkSession, path: String,
                             queries: Seq[(Int, Seq[String])], k: Int,
                             k1: Double = 1.2, b: Double = 0.75,
                             allowed: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queries.nonEmpty && k >= 1)
    val meta = readMeta(spark, path)
    import spark.implicits._
    val qterms = queries
      .flatMap { case (qid, ts) => ts.map(t => (qid.toLong, t.toLowerCase)) }
      .toDF("query_id", "token")
    val terms = queries.flatMap(_._2.map(_.toLowerCase)).distinct
    // all-empty term lists: the inline ranking returns empty, so must
    // the indexed probe (r15 review — the runs read would otherwise
    // refuse its empty id set)
    if (terms.isEmpty)
      return spark.emptyDataset[(Long, Int, Long, Double)]
        .toDF("query_id", "rank", "doc_id", "bm25")
    // driver-planned read set: the terms' buckets, no scan decides it.
    // Read ONCE: df per term is a count over a token window on the same
    // read (all postings of a term share its bucket, so the probed read
    // holds every one of them), taken BEFORE the allow-set semi-join so
    // collection statistics stay global. Trade-off: each probed term's
    // postings are counted in one task — a term's window is one
    // partition, so a term with a huge posting list is one long task.
    val hit = terms.map(t => bucketOf(t, meta.nb)).distinct
    val idx = Warehouse.readSnapshotRuns(spark, path, "bucket", hit)
      .filter(col("token").isin(terms: _*))
      .select(col("token"), col("doc_id"),
        col("tf").cast("double").as("tf"), col("dl").cast("double").as("dl"),
        count(lit(1)).over(Window.partitionBy("token")).cast("double").as("df_t"))
    val nDocs = meta.nDocs.toDouble
    // avg over docs WITH a length, the inline avg()'s null-skipping
    val avgDl = if (meta.nDl > 0) meta.sumDl.toDouble / meta.nDl.toDouble else 0.0
    val cand = allowed.fold(idx)(a =>
      idx.join(a.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    cand.join(broadcast(qterms), Seq("token"))
      .withColumn("contrib",
        log(lit(1.0) + (lit(nDocs) - col("df_t") + 0.5) / (col("df_t") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgDl))))
      .groupBy("query_id", "doc_id").agg(round(sum("contrib"), 6).as("bm25"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("bm25"), asc("doc_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "bm25")
  }

  /** Zero-data-I/O health advice for the token-bucket layout (r16):
    * [[IndexHealth.bucketIndexAdvice]] over the manifest alone —
    * re-bucket / re-cluster advice as the corpus outgrows the
    * build-time `nb`. Reads the meta row WITHOUT the window check
    * (advice must stay available while a crashed refresh awaits its
    * repair).
    */
  def textIndexAdvice(spark: SparkSession, path: String,
                      minBytes: Long = 64L << 20,
                      probeFractionBound: Double = 0.25,
                      hotShareBound: Double = 0.25): IndexHealth.BucketIndexAdvice = {
    val meta = readMetaRow(spark, path)
    IndexHealth.bucketIndexAdvice(spark, path, "bucket", meta.nb,
      minBytes, probeFractionBound, hotShareBound)
  }
}
