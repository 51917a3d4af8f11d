package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: every Spark entry point of the repo (Bench,
  * Verify, the test session, the tool mains) gets its session here, so
  * their confs cannot drift apart.
  */
object GraftSession {

  /** The session confs on `cpus` local cores, as data.
    *
    *  - Shuffle partitions = cores.
    *  - The object-hash-agg fallback threshold is raised from 128
    *    in-memory keys, so collect_list/collect_set aggregations (the
    *    posting-list build in the dedup family) stay hash-based instead
    *    of degenerating to a per-partition sort (measured −0.5 s on
    *    q_dedup_ngram at sf0.1). Memory-safe because posting lists are
    *    bounded by dfCap; the sort fallback remains past 1M groups per
    *    task.
    *  - The codegen compile cache holds 100 classes by default: a
    *    237-query suite evicts everything between passes, so
    *    min-of-passes measured Janino re-compilation, not the queries.
    *    Sized to the suite's distinct codegen units, pass 2+ reuses
    *    pass 1's classes (15-key subset, 3 passes: 37.8 s → 23.5 s,
    *    every key faster, r16). Not a local-mode trick: cache pressure
    *    is per driver JVM, and a service re-planning the same query
    *    shapes wants the same. It caches bytecode keyed on generated
    *    source, never data.
    *
    * Measured and rejected for this conf (full sf0.1 suite, 32 cores):
    * byte-based AQE coalescing (parallelismFirst=false + a small
    * advisory size: 36.4 s vs 30.9 s, r4), spark.shuffle.compress=false
    * and a 64m autoBroadcastJoinThreshold (each helps the tiny-query
    * floor about as much as it costs the byte-heavy dedup/cluster
    * shuffles and joins, r6).
    */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session with `conf(cpus)`, then `overlay` on top,
    * logging at WARN. */
  def local(cpus: Int = envCpus, overlay: Seq[(String, String)] = Nil): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config((conf(cpus) ++ overlay).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}
