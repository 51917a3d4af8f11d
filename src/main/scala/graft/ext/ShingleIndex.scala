package graft.ext

import graft.store.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED SHINGLE-LSH INDEX (X250, r15) — the X247 move applied to
  * the MinHash near-dup family: build the catalog's banded signatures
  * once, screen every future increment against them with a PRUNED
  * bucket read.
  *
  * Every shingle screen in [[Dedup]] is self-contained: it re-shingles
  * and re-hashes BOTH corpora per call, which is the right shape for a
  * one-shot dedup pass and the wrong one for the steady-state crawl
  * loop over a 100 TB corpus — the catalog's signatures are identical
  * every cycle and recomputing them is a full corpus scan per screen
  * (the Σdf² ceiling X102's own row documents). This module
  * materializes the banded-signature structure as warehouse snapshot
  * tables and turns a screen into increment bytes + probed buckets:
  *
  *  - the INDEX table at `path`: one row per (doc, band) —
  *    `(bucket, band, bk, doc_id, n_sh, shh)` — range-partitioned on
  *    `bucket` at build, so every data file holds a contiguous bucket
  *    range and the manifest's per-file min/max stats (X162) prune
  *    non-probed buckets at the FILE level. Each row carries the
  *    doc's distinct shingle-hash array `shh`, so the exact-Jaccard
  *    verify reads NOTHING beyond the probed rows — the catalog text
  *    is never touched again (`bands`× signature duplication is the
  *    standard index trade: storage for probe locality);
  *  - the META table at `path + "_meta"`: one row
  *    `(mode, n, nb, bands, stamp)` fixing the construction every
  *    probe and refresh must reproduce, plus the torn-build `stamp`
  *    ([[PersistedIndex]]).
  *
  * Two modes, the [[Dedup]] family's own split:
  *  - `"md5"` (default, engine-portable): the q_dedup_minhash_md5
  *    construction verbatim — base h = first 15 md5 hex chars of the
  *    shingle as a 60-bit long, 8 universal hashes over h mod P
  *    (P = 2³¹−1, params [[Dedup.Md5MinhashParams]]), 4 bands × 2
  *    rows packed as `bk = m₂ₖ·2³¹ + m₂ₖ₊₁`. Any engine recomposes
  *    the whole screen bit-identically (oracle key
  *    q_dedup_shingle_indexed); Jaccard is computed over the DISTINCT
  *    60-bit shingle hashes, which is collision-safe per doc (a
  *    10⁴-shingle doc collides with probability ~10⁻¹⁰ — and only
  *    same-doc collisions can move a Jaccard value);
  *  - `"xxh"` (performance): [[Dedup.minhashNearDups]]'s codegen
  *    kernel — 128 xxhash64-based hashes, 16 bands, one
  *    [[graft.functions.MinHashBandKeysExpr]] evaluation per row —
  *    with `shh` as the doc's distinct xxhash64 shingle hashes.
  *
  * The CANDIDATE rule is band-key equality, exactly the inline
  * screens' rule — `bucket` is a deterministic COARSENING of
  * (band, bk) used only for file layout, so pruning changes which
  * files open, never which pairs verify: the screen over (catalog,
  * increment) equals [[Dedup.minhashNearDupsMd5]] (resp.
  * [[Dedup.minhashNearDups]]) restricted to cross pairs
  * (ShingleIndexSpec pins the equivalence; the md5 oracle pins it
  * cross-engine).
  *
  * INCREMENTAL growth rides the X200 refresh discipline:
  * [[refreshShingleIndex]] signs ONLY docs not yet indexed (anti-join
  * on doc_id) under the STORED meta and appends — the steady-state
  * tick costs the new docs' bytes. Build commit, torn-build check,
  * layout-forcing maintenance and the streaming sink are
  * [[lifecycle]]'s.
  *
  * 100 TB shape: a crawl-cycle screen prices at
  * increment-shingling + (hit buckets / (bands·nb)) of the index
  * bytes + one candidate-grain shuffle — never a catalog re-shingle,
  * never Σdf² over the catalog. `nb` trades probe selectivity
  * against per-bucket file counts; at corpus scale raise it so a hit
  * bucket stays a small fraction of the band's bytes.
  */
object ShingleIndex {

  private val Md5Mode = "md5"
  private val XxhMode = "xxh"
  private val XxhNumHashes = 128
  private val XxhBands = 16

  /** Build commit, torn-build check, maintenance and sink ([[PersistedIndex]]). */
  val lifecycle: PersistedIndex = PersistedIndex("ShingleIndex", "_meta",
    "bucket", "buildShingleIndex", refreshShingleIndex)

  def metaPath(path: String): String = lifecycle.sidePath(path)

  private def bandsOf(mode: String): Int =
    if (mode == Md5Mode) 4 else XxhBands

  private case class Meta(mode: String, n: Int, nb: Int, bands: Int, stamp: Long)

  /** The uniform index-row frame for `docs` under a mode:
    * (bucket, band, bk, doc_id, n_sh, shh). Docs with fewer than `n`
    * tokens have no shingles and no signature — they index ONE
    * PRESENCE SENTINEL row (band −1, bk NULL, empty shh; bk NULL can
    * never satisfy the band-key equality, so sentinels generate no
    * candidates) so the refresh's doc_id anti-join sees them: without
    * it, every maintenance tick re-anti-joins and re-checkpoints the
    * same sub-n docs forever (r15 review — the X253/X255 sentinel
    * discipline, applied here).
    */
  private def signatureRows(docs: DataFrame, mode: String, n: Int, nb: Int): DataFrame = {
    val idType = docs.schema("doc_id").dataType
    require(idType == org.apache.spark.sql.types.LongType,
      s"ShingleIndex requires a LONG doc_id (got $idType); assign surrogate " +
        "long ids (TotalOrder.globalIndex) and join back after")
    // the size guard is a cheap split, so the two-way doc split costs
    // two text scans but computes shingles exactly once (an
    // explode_outer single pass was rejected: the xxh kernel would
    // produce DEGENERATE band keys for an empty shingle array — all
    // sub-n docs would bucket together as mutual candidates).
    // NULL text routes into the SENTINEL branch explicitly (r16, the
    // r15 ADVICE): size(split(NULL)) is NULL, which satisfies NEITHER
    // `< n` nor `>= n`, so a NULL-text doc would fall through both
    // branches — no sentinel, no signature — and every refresh would
    // re-anti-join and re-checkpoint it forever, the exact decay the
    // sentinels exist to close (and screenAndRefresh would re-emit it
    // as a "novel" survivor on every replay).
    val sentinels = docs
      .filter(col("text").isNull || size(split(col("text"), " ")) < n)
      .select(lit(0).as("bucket"), lit(-1).as("band"),
        lit(null).cast("long").as("bk"), col("doc_id"),
        lit(0L).as("n_sh"),
        lit(Array.empty[Long]).as("shh"))
    // each kernel is exploded as an EXPRESSION, never as a projected
    // column: an explode over a column reference makes Catalyst infer
    // a `size(c) > 0 AND isnotnull(c)` filter and substitute the kernel
    // into it, evaluating the kernel three times per doc
    val shingled = docs
      .filter(col("text").isNotNull && size(split(col("text"), " ")) >= n)
    val signed = if (mode == Md5Mode) {
      // the q_dedup_minhash_md5 construction (Dedup.md5MinhashSigs);
      // shh keeps the FULL 60-bit base hash h for the Jaccard verify
      Dedup.md5MinhashSigs(shingled, Dedup.shingles(col("text"), n),
          sort_array(collect_set(col("h"))).as("shh"))
        .select(col("doc_id"), size(col("shh")).cast("long").as("n_sh"), col("shh"),
          Dedup.md5Bands.as("bb"))
        .select(
          (col("bb.band") * nb + pmod(col("bb.bk"), lit(nb.toLong))).cast("int").as("bucket"),
          col("bb.band").cast("int").as("band"), col("bb.bk").as("bk"),
          col("doc_id"), col("n_sh"), col("shh"))
    } else {
      // kernel path: signature + band keys in ONE codegen call per row
      // (band index lives in the key's top 16 bits — see
      // Kernels.minhashBandKeys); shh = distinct xxhash64 per shingle
      val (as, bs) = graft.functions.Kernels.minhashParams(XxhNumHashes, 42L)
      val base = shingled.select(col("doc_id"), Dedup.shingles(col("text"), n).as("sh"))
        .withColumn("shh", sort_array(array_distinct(transform(col("sh"), s => xxhash64(s)))))
      base.select(col("doc_id"), size(col("shh")).cast("long").as("n_sh"), col("shh"),
          explode(graft.functions.native.minhashBandKeys(col("sh"), as, bs, XxhBands)).as("bk"))
        .select(
          (shiftright(col("bk"), 48) * nb +
            pmod(col("bk").bitwiseAND(lit(0xffffffffffffL)), lit(nb.toLong)))
            .cast("int").as("bucket"),
          shiftright(col("bk"), 48).cast("int").as("band"), col("bk"),
          col("doc_id"), col("n_sh"), col("shh"))
    }
    signed.unionByName(sentinels)
  }

  /** Build (or rebuild) the index for the catalog `docs`
    * (`doc_id` long, `text`). Returns the index table's committed
    * version ([[PersistedIndex.commitBuild]]: meta first, stamped).
    */
  def buildShingleIndex(docs: DataFrame, path: String, n: Int = 3,
                        bucketsPerBand: Int = 64, mode: String = Md5Mode): Long = {
    require(mode == Md5Mode || mode == XxhMode,
      s"mode must be '$Md5Mode' or '$XxhMode', got '$mode'")
    require(n >= 1, s"n must be >= 1, got $n")
    require(bucketsPerBand >= 1, s"bucketsPerBand must be >= 1, got $bucketsPerBand")
    val spark = docs.sparkSession
    import spark.implicits._
    val laid = layout(spark, signatureRows(docs, mode, n, bucketsPerBand),
      bandsOf(mode) * bucketsPerBand)
    lifecycle.commitBuild(laid, path) { stamp =>
      Seq((mode, n, bucketsPerBand, bandsOf(mode), stamp))
        .toDF("mode", "n", "nb", "bands", "stamp")
    }
  }

  /** Range layout on bucket: contiguous bucket ranges per file is the
    * property that lets manifest min/max stats prune probes at file
    * grain (hash layout would spread every bucket across every file).
    * doc_id tiebreaker keeps the partitioning total for reproducible
    * file boundaries.
    */
  private def layout(spark: SparkSession, rows: DataFrame, totalBuckets: Int): DataFrame = {
    val parts = math.max(1, math.min(totalBuckets,
      spark.sessionState.conf.numShufflePartitions))
    rows.repartitionByRange(parts, col("bucket"), col("doc_id"))
  }

  private def readMeta(spark: SparkSession, path: String): Meta = {
    lazy val meta = {
      val r = lifecycle.sideRows(spark, path).head
      Meta(r.getAs[String]("mode"), r.getAs[Int]("n"), r.getAs[Int]("nb"),
        r.getAs[Int]("bands"), r.getAs[Long]("stamp"))
    }
    lifecycle.requireBuilt(spark, path, meta.stamp)
    meta
  }

  /** `docs`' rows whose doc_id the index at `path` does not hold yet —
    * the refresh's anti-join and the front door's id gate. A doc holds
    * one row per band, or one presence sentinel.
    */
  private[ext] def notIndexed(docs: DataFrame, path: String): DataFrame = {
    val spark = docs.sparkSession
    PersistedIndex.notIndexed(docs, "doc_id", Warehouse.readSnapshot(spark, path),
      Some(readMeta(spark, path).bands.toDouble))
  }

  /** Sign the incremental `docs` NOT yet indexed under the STORED meta
    * and append — the X200 refresh shape: the tick costs the new docs'
    * bytes (plus one doc_id anti-join against the index at key grain),
    * never a catalog re-shingle. None when nothing is new.
    */
  def refreshShingleIndex(docs: DataFrame, path: String): Option[Long] =
    refreshShingleIndexAfter(docs, path, () => ())

  /** [[refreshShingleIndex]] whose append first calls `landed`, which
    * returns once a write this append must follow has committed (or
    * throws its failure): the increment's signatures are computed while
    * that write is still in flight ([[CorpusPipeline]]'s vector refresh).
    */
  private[ext] def refreshShingleIndexAfter(docs: DataFrame, path: String,
                                            landed: () => Unit): Option[Long] = {
    val spark = docs.sparkSession
    val meta = readMeta(spark, path)
    // CAS-retried end to end (r16, the r15 verdict: a refresh racing a
    // maintenance/compaction commit failed its micro-batch instead of
    // retrying). The WHOLE body re-runs per conflict — the anti-join's
    // "existing" set included, because the conflicting commit may have
    // been another refresh indexing some of this batch's docs; the
    // anti-join makes the re-derivation idempotent either way.
    Warehouse.retryOnConflict() {
      val fresh = notIndexed(docs.select(col("doc_id"), col("text")), path)
      // checkpointed for the append's range sampling and its write,
      // which would otherwise each re-run the signatures and the
      // index-side probe. With the presence sentinels every fresh doc
      // — sub-n included — yields at least one row, so a count of 0
      // means the batch was all-covered: None, without an empty commit
      val (rows, seen) = PersistedIndex.countedCheckpoint(
        signatureRows(fresh, meta.mode, meta.n, meta.nb))
      if (seen.getLong(0) == 0L) None
      else {
        landed()
        Warehouse.appendSnapshotIfAny(layout(spark, rows, meta.bands * meta.nb),
          path, Warehouse.currentSnapshot(spark, path))
      }
    }
  }

  /** INCREMENTAL near-dup screen against the index — the crawl-cycle
    * question ("near-duplicate of something we already have?") priced
    * at increment bytes + probed buckets: the increment's signatures
    * compute inline, their band keys name the buckets to read, the
    * read opens ONLY those buckets' files (manifest-pruned, the X247
    * shape), candidates come from band-key equality inside the probed
    * rows, and each candidate verifies with exact Jaccard over the
    * stored shingle-hash arrays — the catalog is never re-shingled.
    * Returns (a, b, jaccard): a = indexed doc, b = increment doc,
    * jaccard ≥ threshold. Empty increment → empty result (a streaming
    * micro-batch may legitimately carry nothing).
    *
    * Recall is the banding's, exactly as the inline screens
    * ([[Dedup.minhashNearDupsMd5]]: ≈0.983 per true pair at j=0.8);
    * precision is exact — every candidate is Jaccard-verified. A doc
    * present in BOTH the increment and the index pairs with itself at
    * jaccard 1 — screen before refreshing, the X249 contract.
    */
  def nearDupAgainstShingleIndex(increment: DataFrame, path: String,
                                 threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val spark = increment.sparkSession
    import spark.implicits._
    val meta = readMeta(spark, path)
    // one signature pass over the increment, checkpointed for the
    // candidate join; the same job counts its rows (the join broadcasts
    // them under that bound) and gathers the hit-bucket set as observed
    // metrics — per-task sets merged on the driver, no job of its own.
    // The set is bounded by bands × nb — a driver scalar by
    // construction, independent of increment size; contiguous runs
    // collapse into one pruned range read each. SENTINEL rows (band
    // −1, bucket pinned 0) are excluded (r16, the r15 ADVICE): their bk
    // is NULL so they can never join, but including them would widen
    // the pruned read to bucket 0's files on every batch that carries a
    // sub-n doc — pruning decay, not a correctness issue
    val (probes, seen) = PersistedIndex.countedCheckpoint(
      signatureRows(increment.select(col("doc_id"), col("text")), meta.mode, meta.n, meta.nb),
      collect_set(when(col("band") >= 0, col("bucket"))).as("hit"))
    val hit = if (seen.isNullAt(1)) Seq.empty[Int] else seen.getSeq[Int](1)
    // an empty or all-sentinel increment (every doc sub-n) probes
    // nothing: no signatures means no candidates
    if (hit.isEmpty)
      return spark.emptyDataset[(Long, Long, Double)].toDF("a", "b", "jaccard")
    val idx = Warehouse.readSnapshotRuns(spark, path, "bucket", hit.toIndexedSeq)
    // band-key equality IS the candidate rule (bucket only lays out
    // files); arrays ride the join and collapse at candidate grain —
    // a pair matching on several bands dedupes in the same aggregate
    // (shh/n_sh are per-doc constants, so first() is deterministic)
    val cand = PersistedIndex.broadcastUnder(probes
      .select(col("band"), col("bk"), col("doc_id").as("b"),
        col("n_sh").as("nb"), col("shh").as("shhb")), Some(seen.getLong(0)))
      .join(idx.select(col("band"), col("bk"), col("doc_id").as("a"),
        col("n_sh").as("na"), col("shh").as("shha")), Seq("band", "bk"))
      .groupBy(col("a"), col("b"))
      .agg(first(col("na")).as("na"), first(col("nb")).as("nb"),
        first(col("shha")).as("shha"), first(col("shhb")).as("shhb"))
    cand
      .select(col("a"), col("b"),
        size(array_intersect(col("shha"), col("shhb"))).cast("long").as("inter"),
        col("na"), col("nb"))
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** THE CRAWL CYCLE in one call — the loop [[nearDupAgainstShingleIndex]]
    * and [[refreshShingleIndex]] exist for, closed (the X249 shape for
    * the shingle family): screen `increment` against the index, DROP
    * every increment doc that near-dups an indexed doc at `threshold`,
    * refresh the index with the SURVIVORS, and return them — so the
    * caller feeds crawl batches in and gets the novel, now-indexed
    * docs out, priced at increment bytes + probed buckets per cycle.
    * Intra-increment near-dups are NOT screened here (both survive and
    * index): that is a separate within-batch pass
    * ([[Dedup.minhashNearDups]] on the increment) when the crawler
    * doesn't already dedup its own batch — screening against the
    * catalog and within the batch are different grains by design.
    * Replay-safe end to end: docs already indexed under their doc_id
    * anti-join out BEFORE the screen (r16 — the r15 ADVICE: a
    * signature-LESS doc — NULL text, sub-n tokens — can never flag
    * against itself, so without the id gate a replayed batch would
    * re-emit it as a "novel, now-indexed" survivor forever), and a
    * replayed signature doc that somehow bypassed the gate still FLAGS
    * as a near-dup of itself at jaccard 1 — the cycle converges
    * instead of double-indexing. The id gate costs one doc_id-grain
    * anti-join against the index — the SAME SHAPE of read the refresh
    * pays again inside its own CAS-retried body (r16 review: two
    * id-column scans per tick, not one shared). Deliberate: the
    * refresh's anti-join re-reads per conflict attempt to exclude a
    * racing writer's docs — handing it this gate's (older) id set
    * would reopen exactly the race retryOnConflict closes. The
    * id-column read is column-pruned and key-grain; at crawl-tick
    * batch sizes the duplicated scan is the price of the race-safety,
    * not an oversight.
    */
  def screenAndRefresh(increment: DataFrame, path: String,
                       threshold: Double = 0.8): DataFrame = {
    val spark = increment.sparkSession
    val indexedIds = Warehouse.readSnapshot(spark, path).select("doc_id").distinct()
    val inc = increment.select(col("doc_id"), col("text"))
      .join(indexedIds, Seq("doc_id"), "left_anti")
    val pairs = nearDupAgainstShingleIndex(inc, path, threshold)
    val survivors = inc
      .join(pairs.select(col("b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // consumed by the refresh AND the caller
    refreshShingleIndex(survivors, path)
    survivors
  }

  /** Zero-data-I/O health advice for this index's bucket layout (r16):
    * [[IndexHealth.bucketIndexAdvice]] over the manifest's per-file
    * bytes + bucket ranges — surfaces re-bucket / re-cluster advice
    * when growth makes probes read too large a fraction of the index.
    * Surfaced, never auto-applied ([[VectorIndex.indexAdvice]]'s
    * discipline).
    */
  def shingleIndexAdvice(spark: SparkSession, path: String,
                         minBytes: Long = 64L << 20,
                         probeFractionBound: Double = 0.25,
                         hotShareBound: Double = 0.25): IndexHealth.BucketIndexAdvice = {
    val meta = readMeta(spark, path)
    IndexHealth.bucketIndexAdvice(spark, path, "bucket", meta.bands * meta.nb,
      minBytes, probeFractionBound, hotShareBound)
  }
}
