package graft.ext

import graft.store.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED SHINGLE-POSTING INDEX (X255, r15) — the exact-recall
  * companion to [[ShingleIndex]], built for CONTAINMENT screens
  * (decontamination): "how much of this eval/benchmark doc appears
  * somewhere in the training corpus?".
  *
  * The X250 banded index cannot answer that question soundly: LSH
  * banding detects high JACCARD, and a small doc wholly embedded in a
  * much larger one scores low Jaccard — its bands almost never agree,
  * so the candidate is MISSED by construction (recall loss exactly on
  * the pairs a decontamination screen exists to find). The X44
  * [[Contamination]] family answers it exactly but re-scans the
  * corpus per benchmark, broadcast-screening corpus-side. This module
  * stores the corpus's shingle POSTING LISTS once and turns the screen
  * around: the benchmark probes the postings, so a screen costs
  * benchmark bytes + probed buckets — with EXACT recall over the
  * surviving (df-capped) shingle universe:
  *
  *  - the POSTINGS table at `path`: one row per (doc, distinct
  *    shingle hash) — `(bucket, h, doc_id, n_sh)`, h = the md5 60-bit
  *    shingle hash ([[Dedup.minhashNearDupsMd5]]'s base hash, so the
  *    whole screen is engine-recomposable), range-partitioned on
  *    `bucket = h mod nb` (all of a shingle's postings share one
  *    bucket → per-shingle df is EXACT from the probed read); a doc
  *    with no shingles (< n tokens) indexes a presence sentinel
  *    (h NULL) so refresh replays never re-process it (the X253
  *    lesson);
  *  - the META table at `path + "_meta"`: `(n, nb, stamp)` — the
  *    shingle width every probe must reproduce, plus the torn-build
  *    stamp ([[PersistedIndex]]).
  *
  * [[containmentAgainstIndex]] emits, per (indexed doc a, probe doc
  * b) sharing ≥1 surviving shingle, both containment directions
  * C(b→a) = inter/|a| and C(a→b) = inter/|b| — the DECONTAMINATION
  * reading is `c_ba` (the probe doc's contaminated fraction); the
  * quote/subset reading is `c_ab`. `dfCap` drops probed shingles
  * whose CATALOG df exceeds the cap — boilerplate that would pair a
  * benchmark doc with half the corpus — under the standard capped
  * semantics (numerator over the surviving universe, denominators
  * full-set: a lower bound, never a false positive amplifier), and it
  * bounds the screen's pair work at Σ df(surviving) regardless of how
  * hot a shingle is.
  *
  * 100 TB shape: the posting build is one corpus shingle pass
  * amortized over every later screen; each screen reads
  * |probe shingle buckets| / nb of the index bytes (bounded driver
  * plan — bucket ids ≤ nb), shuffles once on h (df count + the probe
  * join), and aggregates at candidate grain. Refresh appends new
  * docs' postings at increment cost ([[refreshPostingIndex]]);
  * df for new postings is exact immediately (it is counted from the
  * probed read, never stored). Build commit, torn-build check,
  * layout-forcing maintenance and the streaming sink are
  * [[lifecycle]]'s.
  */
object PostingIndex {

  /** Build commit, torn-build check, maintenance and sink ([[PersistedIndex]]). */
  val lifecycle: PersistedIndex = PersistedIndex("PostingIndex", "_meta",
    "bucket", "buildPostingIndex", refreshPostingIndex)

  def metaPath(path: String): String = lifecycle.sidePath(path)

  /** (bucket, h, doc_id, n_sh) + the h-NULL presence sentinel for
    * shingle-less docs. n_sh = |distinct h| (the containment
    * denominator — hash-space set size, the [[ShingleIndex]]
    * convention; per-doc collision odds ~1e-10).
    */
  private def postingRows(docs: DataFrame, n: Int, nb: Int): DataFrame = {
    val idType = docs.schema("doc_id").dataType
    require(idType == org.apache.spark.sql.types.LongType,
      s"PostingIndex requires a LONG doc_id (got $idType); assign surrogate " +
        "long ids (TotalOrder.globalIndex) and join back after")
    docs.select(col("doc_id"),
        explode_outer(Dedup.shingles(col("text"), n)).as("s"))
      .select(col("doc_id"), Dedup.md5Hash60(col("s")).as("h"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("h"))).as("hs"))
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_sh"),
        explode_outer(col("hs")).as("h"))
      .select(
        coalesce(pmod(col("h"), lit(nb.toLong)).cast("int"), lit(0)).as("bucket"),
        col("h"), col("doc_id"), col("n_sh"))
  }

  private def layout(spark: SparkSession, rows: DataFrame, nb: Int): DataFrame = {
    val parts = math.max(1, math.min(nb,
      spark.sessionState.conf.numShufflePartitions))
    rows.repartitionByRange(parts, col("bucket"), col("h"), col("doc_id"))
  }

  /** Build (or rebuild) the posting index for `docs` (`doc_id` long,
    * `text`) — [[PersistedIndex.commitBuild]]: meta first, stamped.
    */
  def buildPostingIndex(docs: DataFrame, path: String, n: Int = 3,
                        bucketCount: Int = 64): Long = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(bucketCount >= 1, s"bucketCount must be >= 1, got $bucketCount")
    val spark = docs.sparkSession
    import spark.implicits._
    lifecycle.commitBuild(layout(spark, postingRows(docs, n, bucketCount), bucketCount),
      path) { stamp => Seq((n, bucketCount, stamp)).toDF("n", "nb", "stamp") }
  }

  private case class Meta(n: Int, nb: Int, stamp: Long)

  private def readMeta(spark: SparkSession, path: String): Meta = {
    lazy val meta = {
      val r = lifecycle.sideRows(spark, path).head
      Meta(r.getAs[Int]("n"), r.getAs[Int]("nb"), r.getAs[Long]("stamp"))
    }
    lifecycle.requireBuilt(spark, path, meta.stamp)
    meta
  }

  /** Shingle and append ONLY docs not yet indexed (sentinels make
    * every doc anti-joinable, so replays no-op) — the X200 refresh.
    * None when nothing is new.
    */
  def refreshPostingIndex(docs: DataFrame, path: String): Option[Long] = {
    val spark = docs.sparkSession
    val meta = readMeta(spark, path)
    // CAS-retried end to end (r16): the whole body re-runs per
    // conflict — anti-join included, so a racing refresh's docs are
    // re-excluded; see [[Warehouse.retryOnConflict]]'s contract
    Warehouse.retryOnConflict() {
      // consumed by the append's range sampling and its write
      val (fresh, seen) = PersistedIndex.countedCheckpoint(
        PersistedIndex.notIndexed(docs.select(col("doc_id"), col("text")), "doc_id",
          Warehouse.readSnapshot(spark, path), rowsPerKey = None))
      if (seen.getLong(0) == 0L) None
      else Warehouse.appendSnapshotIfAny(
        layout(spark, postingRows(fresh, meta.n, meta.nb), meta.nb),
        path, Warehouse.currentSnapshot(spark, path))
    }
  }

  /** Zero-data-I/O health advice for the posting-bucket layout (r16) —
    * [[IndexHealth.bucketIndexAdvice]] over the manifest alone; the
    * hot-share signal doubles as a df-skew detector here (a shingle
    * whose posting list dominates the index is a dfCap candidate).
    */
  def postingIndexAdvice(spark: SparkSession, path: String,
                         minBytes: Long = 64L << 20,
                         probeFractionBound: Double = 0.25,
                         hotShareBound: Double = 0.25): IndexHealth.BucketIndexAdvice = {
    val meta = readMeta(spark, path)
    IndexHealth.bucketIndexAdvice(spark, path, "bucket", meta.nb,
      minBytes, probeFractionBound, hotShareBound)
  }

  /** CONTAINMENT SCREEN against the index: for every (indexed doc a,
    * probe doc b) sharing ≥1 surviving shingle, (a, b, c_ab, c_ba)
    * with `greatest(c_ab, c_ba) ≥ threshold` — c_ba = the probe doc's
    * contaminated fraction (the decontamination signal), c_ab = the
    * indexed doc's (the quote/subset signal). EXACT recall over the
    * surviving shingle universe — no banding, no probability; with
    * `dfCap = None` the screen equals [[Dedup.ngramContainmentPairs]]
    * restricted to cross pairs (spec-pinned; the oracle key pins it
    * cross-engine). `dfCap` drops shingles whose CATALOG df exceeds
    * the cap (lower-bound semantics, [[Dedup.pairCounts]]'s
    * convention — note the inline op's cap counts df over BOTH
    * corpora, this one over the catalog alone: the index does not see
    * the probe's docs). Empty probe → empty result.
    */
  def containmentAgainstIndex(probe: DataFrame, path: String,
                              threshold: Double = 0.8,
                              dfCap: Option[Int] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val spark = probe.sparkSession
    import spark.implicits._
    val meta = readMeta(spark, path)
    // the probe's own (doc, distinct h) rows — increment bytes, one
    // pass, consumed by the bucket plan AND the join
    val pr = postingRows(probe.select(col("doc_id"), col("text")),
      meta.n, meta.nb)
      .filter(col("h").isNotNull)
      .select(col("h"), col("doc_id").as("b"), col("n_sh").as("nb_sh"),
        col("bucket"))
      .localCheckpoint(true)
    if (pr.isEmpty)
      return spark.emptyDataset[(Long, Long, Double, Double)]
        .toDF("a", "b", "c_ab", "c_ba")
    val hit = pr.select("bucket").distinct().collect().map(_.getInt(0))
    val idx = Warehouse.readSnapshotRuns(spark, path, "bucket", hit.toIndexedSeq)
      .filter(col("h").isNotNull)
      .select(col("h"), col("doc_id").as("a"), col("n_sh").as("na_sh"))
    // catalog df per shingle, exact from the probed read (one h-grain
    // window over probed postings); the cap bounds pair work at
    // Σ df(surviving) — a hot boilerplate shingle can never explode
    // the screen
    val surviving = dfCap.fold(idx) { cap =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
      idx.withColumn("__df", count(lit(1)).over(w))
        .filter(col("__df") <= cap).drop("__df")
    }
    pr.drop("bucket").join(surviving, Seq("h"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"),
        first(col("na_sh")).as("na"), first(col("nb_sh")).as("nb"))
      .withColumn("c_ab", col("inter") / col("na"))
      .withColumn("c_ba", col("inter") / col("nb"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("a", "b", "c_ab", "c_ba")
  }
}
