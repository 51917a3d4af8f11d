package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share word
  * n-grams with an evaluation/benchmark set, so they can be dropped
  * before training (the standard n-gram-overlap decontamination used
  * for public eval suites).
  *
  * Scale shape: the benchmark side is small by nature (eval suites are
  * thousands of documents, the corpus is billions), so its distinct
  * shingle set is broadcast and the corpus side never shuffles — one
  * scan of the corpus, a BroadcastHashJoin against the benchmark
  * shingles, then a partial-aggregating count per contaminated doc.
  * The corpus×shingle explode streams through codegen; nothing is
  * materialized per-document.
  */
object Contamination {

  /** (doc_id, shingle) index using the native distinct-shingle kernel. */
  private def shingleRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.native.wordShingles(col("text"), n)).as("s"))

  /** Contaminated corpus docs: (doc_id, n_shared) where n_shared is
    * the number of distinct `n`-grams the doc shares with any
    * benchmark doc, for docs sharing at least `minShared`.
    */
  def flag(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
           minShared: Int = 1): DataFrame = {
    val benchShingles = shingleRows(benchmark, n).select("s").distinct()
    shingleRows(corpus, n)
      .join(broadcast(benchShingles), Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared")) // shingles are distinct per doc by construction
      .filter(col("n_shared") >= minShared)
  }

  /** Scale variant of [[flag]]: the benchmark shingle set rides a
    * Bloom filter (constant-size, `fpp`-tunable) instead of a
    * broadcast hash set — the switch point is when the distinct
    * benchmark shingles no longer broadcast comfortably (≳ 10⁸
    * shingles ≈ GBs of set vs tens of MB of bloom bits). No false
    * negatives: every truly contaminated doc is flagged; `n_shared`
    * may over-count by the false-positive rate, so treat it as a
    * screening pass and re-verify survivors of a tight `minShared`
    * with [[flag]] on the (tiny) flagged subset if exactness matters.
    * The probe is a codegen'd expression on the corpus scan — the
    * corpus still never shuffles.
    */
  def flagBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
                minShared: Int = 1, expectedShingles: Long = 1000000L,
                fpp: Double = 0.001): DataFrame = {
    val benchShingles = shingleRows(benchmark, n).select("s")
    // an EMPTY benchmark shingle stream NPEs Spark's bloomFilter
    // builder (no partition emits a filter to merge) — and means
    // nothing can be contaminated; the emptiness probe is one cheap
    // job on a side the builder would aggregate to the driver anyway
    if (benchShingles.isEmpty)
      return corpus.select(col("doc_id"), lit(0L).as("n_shared")).limit(0)
    // no distinct() before the build: Bloom insertion is idempotent, so
    // deduping the shingle stream would add a full shuffle for zero
    // effect on the filter bits (sizing comes from expectedShingles)
    val bf = benchShingles.stat.bloomFilter("s", expectedShingles, fpp)
    shingleRows(corpus, n)
      .filter(graft.functions.native.bloomMightContain(col("s"), bf))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The ENGINE-PORTABLE Bloom screen — the md5 move
    * ([[graft.ext.Dedup.minhashNearDupsMd5]]) applied to
    * [[flagBloom]]: the filter's construction is fixed by contract so
    * any engine recomputes the SAME bits and the SAME false positives,
    * making the screening pass fully oracle-verifiable
    * (q_decontam_bloom_md5) where Spark's `bloomFilter` bit layout is
    * internal. Construction: k = 4 positions per shingle, position_i =
    * toLong(hex chars [8i+1, 8i+8] of md5(shingle)) mod `mBits`
    * (non-overlapping 32-bit lanes of one md5 — the standard
    * partition-the-digest Bloom recipe); the bit set is the distinct
    * positions over the BENCHMARK's shingles; a corpus shingle "might
    * contain" iff ALL 4 of its positions are set. Same screening
    * contract as [[flagBloom]]: no false negatives by construction,
    * `n_shared` over-counts by the (deterministic) FP rate
    * (≈ (bits-set/m)⁴ per probe).
    *
    * Shape: the bit-set frame is ≤ min(4·|bench shingles|, mBits) rows
    * of one long — broadcast to a scan-side hash join, so the corpus
    * explodes to thin (doc, h, position) rows but never shuffles wide;
    * the per-shingle all-4 count and doc rollup are two slim
    * hash-aggs. [[flagBloom]] (zero-explode codegen probe) stays the
    * performance path.
    *
    * Why the two screens stay two plans (unlike the LSH, SimHash and
    * MinHash families, whose md5 keys run the production plan with the
    * md5 source passed in): [[flagBloom]]'s bit layout and probe belong
    * to Spark's `BloomFilter`, so no plan of ours is left for this
    * key's oracle to pin there.
    */
  def flagBloomMd5(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
                   minShared: Int = 1, mBits: Long = 1L << 20): DataFrame = {
    require(mBits > 0, s"mBits must be positive, got $mBits")
    def positions(h: Column): Column = array((0 until 4).map(i =>
      conv(substring(h, i * 8 + 1, 8), 16, 10).cast("long") % mBits): _*)
    val bits = shingleRows(benchmark, n)
      .select(explode(positions(md5(col("s")))).as("b")).distinct()
    shingleRows(corpus, n)
      .select(col("doc_id"), md5(col("s")).as("h"))
      .select(col("doc_id"), col("h"), explode(positions(col("h"))).as("b"))
      .join(broadcast(bits), Seq("b"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("k"))
      .filter(col("k") === 4)
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The benchmark's distinct shingle set, collected to the driver —
    * bounded by the benchmark's nature (eval suites are thousands of
    * docs; the corpus side is what's unbounded), exactly the set
    * [[flag]] would broadcast as a join build side. Feeds the per-row
    * probe form ([[graft.functions.native.sharesShingle]]): with the
    * set riding the expression, "does this doc share a benchmark
    * shingle?" is a scan-local codegen'd predicate — no corpus
    * explode, no aggregate, no join, and it fuses into whatever
    * projection already scans the text. Same memory constraint as the
    * broadcast form; past ~10⁸ shingles switch to [[flagBloom]]
    * (docs/SCALE.md), whose false positives make it a screening pass
    * rather than a drop-in.
    */
  def benchShingleSet(benchmark: DataFrame, n: Int = 5): java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    shingleRows(benchmark, n).select("s").distinct().collect()
      .foreach(r => set.add(r.getString(0)))
    set
  }

  /** The clean corpus: drop flagged docs via a broadcast anti-join
    * (the flagged set is a vanishing fraction of the corpus).
    */
  def clean(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
            minShared: Int = 1): DataFrame =
    corpus.join(broadcast(flag(corpus, benchmark, n, minShared).select("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Contamination ATTRIBUTION — [[flag]] answers "is this doc
    * contaminated?"; an auditor needs "by WHICH benchmark item, how
    * strongly?" (to tell a verbatim test-set leak from one boilerplate
    * n-gram, and to file the fix upstream). One row per contaminated
    * (corpus doc, benchmark doc) pair: (doc_id, bench_id, n_shared) =
    * the number of distinct `n`-grams the two share, pairs below
    * `minShared` dropped.
    *
    * Shape: corpus shingles join the BROADCAST benchmark shingle
    * index at (shingle, bench_id) grain — finer than [[flag]]'s
    * distinct-set but still benchmark-bounded (eval suites are small;
    * the corpus side is what's unbounded, and it still never
    * shuffles: the aggregate's map-side combine reduces to pair grain
    * before the one pair-grain exchange). Past the broadcast bound,
    * switch the index side to a shuffle join semi-reduced by a Bloom
    * screen first — same switch point as [[flagBloom]].
    */
  def attribute(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
                minShared: Int = 1): DataFrame = {
    val benchIndex = shingleRows(benchmark, n)
      .select(col("doc_id").as("bench_id"), col("s"))
    shingleRows(corpus, n)
      .join(broadcast(benchIndex), Seq("s"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared")) // shingles distinct per doc: count = |A∩B|
      .filter(col("n_shared") >= minShared)
  }

  /** SEMANTIC contamination screen — the embedding-space member of the
    * family: flags corpus documents whose EMBEDDING cosine to any
    * benchmark document clears `threshold`, catching the paraphrased /
    * translated / reformatted test-set leaks that n-gram overlap
    * ([[flag]]/[[attribute]]) cannot see (zero lexical overlap, same
    * content — the same blind spot SemDeDup covers for dedup). One row
    * per CONTAMINATED corpus doc: (vec_id, bench_id, sim) with the
    * STRONGEST benchmark match (ties → smallest bench_id); clean docs
    * are absent. Cosine is exact — no LSH approximation at the
    * decision, so precision against the threshold is 1.0.
    *
    * Scale shape: the benchmark side is broadcast (eval suites are
    * tiny vs the corpus); the corpus is scanned ONCE, and — the part
    * that matters at 100 TB — the `sim ≥ threshold` filter runs
    * BEFORE the per-doc argmax shuffle, so the only rows that ever
    * shuffle are the contaminated candidates (a vanishing fraction),
    * as 3 scalars each, never embeddings and never the clean bulk.
    */
  def semanticScreen(corpus: DataFrame, benchmark: DataFrame,
                     threshold: Double): DataFrame = {
    // zero-norm embeddings (empty/padding docs) have no direction:
    // screened out of BOTH sides up front — under Spark's default ANSI
    // mode the cosine division would otherwise abort the whole job
    // with DIVIDE_BY_ZERO on one such row (review r10); a zero corpus
    // vector reads as clean, a zero benchmark vector matches nothing
    val c = corpus.select(col("vec_id"), col("embedding").as("cv"),
      graft.ext.Similarity.l2norm(col("embedding")).as("cn"))
      .filter(col("cn") > 0)
    val b = broadcast(benchmark.select(col("vec_id").as("bench_id"),
      col("embedding").as("bv"), graft.ext.Similarity.l2norm(col("embedding")).as("bn"))
      .filter(col("bn") > 0))
    val hits = c.crossJoin(b)
      .select(col("vec_id"), col("bench_id"),
        (graft.ext.Similarity.dot(col("cv"), col("bv")) / (col("cn") * col("bn"))).as("sim"))
      .filter(col("sim") >= threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(desc("sim"), asc("bench_id"))
    hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "bench_id", "sim")
  }
}
