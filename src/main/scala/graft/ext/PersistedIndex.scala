package graft.ext

import graft.store.Warehouse
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, count, lit}
import org.apache.spark.sql.graftx.PlanStats
import org.apache.spark.sql.streaming.DataStreamWriter

/** The lifecycle the four persisted index families share —
  * [[VectorIndex]] (IVF), [[ShingleIndex]] (shingle-LSH), [[TextIndex]]
  * (BM25 postings) and [[PostingIndex]] (shingle postings). Each family
  * keeps its own rows, layout, side-table schema, refresh body and
  * probes; this module owns the policy around them, one value per
  * family (`VectorIndex.lifecycle`, …). An index is two snapshot
  * tables: the DATA table at `path`, clustered on one probe key
  * (`clusterCol`), and a small SIDE table at `path + sideSuffix` holding
  * the construction every probe and refresh must reproduce, with a
  * `stamp` column. Probes and refreshes read the side rows through
  * [[sideRows]]: one driver collect per committed side version
  * ([[Warehouse.collectSnapshot]]), so a probe against an index whose
  * side table has not changed since the last call runs no Spark job for
  * it.
  *
  * Stamp protocol. [[commitBuild]] commits the side table FIRST, stamped
  * with the PREDICTED data version, then the data table. A build that
  * crashes between the two commits leaves the stamp ahead of the data
  * table. Refreshes only move the data version up, so
  * `stamp <= current data version` holds for every completed build at
  * any later refresh count; [[requireBuilt]] checks exactly that before
  * every probe and refresh. A torn build therefore decays into a loud
  * refusal naming the build to re-run, never into probes that pair a new
  * side table with old data rows (new centroids over old assignments,
  * new corpus scalars over old postings).
  *
  * Forced layout. Each data table is range-clustered on its probe key,
  * so every file holds a contiguous key range and the manifest's
  * per-file min/max stats prune non-probed keys at file grain. A plain
  * OPTIMIZE would bin-pack the sink's small append files with no layout,
  * mixing keys inside every output file — each file's range would then
  * span the domain and probe pruning would silently die. [[maintain]]
  * therefore OVERRIDES the policy's `clusterCols` (not merged: the index
  * has exactly one layout key) and applies the rest of the policy as
  * given. A DV purge inside the tick rewrites the touched files without
  * the sort, so their ranges widen until a later clustered tick re-packs
  * them; reads stay exact throughout, because file stats stay valid
  * bounds and pruning is never a correctness gate.
  *
  * Exactly-once sinks. [[sink]] runs the family's refresh per
  * micro-batch. Every refresh anti-joins its input against the ids
  * already indexed (presence sentinels make docs without postings or
  * signatures visible to it), so a replayed epoch's rows are already
  * indexed and the refresh no-ops: idempotence is the operator's own
  * semantics, and an epoch gate would add nothing. Every
  * `maintainEvery` epochs the sink runs [[maintain]] best-effort (see
  * [[Warehouse.batchSink]]).
  */
final case class PersistedIndex(
    family: String,
    sideSuffix: String,
    clusterCol: String,
    buildFn: String,
    refresh: (DataFrame, String) => Option[Long]) {

  def sidePath(path: String): String = path + sideSuffix

  private def side: String = sideSuffix.stripPrefix("_")

  /** Commit a (re)build: the side rows, stamped with the predicted
    * version of `data`'s commit, then `data` itself. Returns the data
    * table's committed version.
    */
  def commitBuild(data: DataFrame, path: String)(sideRows: Long => DataFrame): Long = {
    val predicted = Warehouse.currentSnapshot(data.sparkSession, path) + 1
    Warehouse.replaceSnapshot(sideRows(predicted), sidePath(path))
    Warehouse.replaceSnapshot(data, path)
  }

  /** The side table's rows at `version` (default: the current one),
    * memoized per committed side version ([[Warehouse.collectSnapshot]]).
    */
  def sideRows(spark: SparkSession, path: String,
               version: Option[Long] = None): IndexedSeq[Row] =
    Warehouse.collectSnapshot(spark, sidePath(path), version)

  /** Refuse an index that was never built, or whose last build tore
    * between its two commits. `stamp` (the side table's) is evaluated
    * only once the side table is known to exist. Both checks list the
    * tables on every call; only the stamp may come from memoized rows.
    */
  def requireBuilt(spark: SparkSession, path: String, stamp: => Long): Unit = {
    require(Warehouse.snapshots(spark, sidePath(path)).nonEmpty,
      s"$family($path): no $side table — $buildFn first")
    val s = stamp
    val cur = Warehouse.currentSnapshot(spark, path)
    require(s <= cur,
      s"$family($path): $side stamp $s is ahead of the index table (v=$cur) — " +
        s"a build crashed between its $side and index commits; re-run $buildFn " +
        "before probing")
  }

  /** [[requireBuilt]] reading the stored stamp itself — for callers that
    * do not read the side table anyway. */
  def requireBuilt(spark: SparkSession, path: String): Unit =
    requireBuilt(spark, path,
      sideRows(spark, path).map(_.getAs[Long]("stamp")).max)

  /** [[Warehouse.maintainSnapshot]] with the layout key forced. */
  def maintain(spark: SparkSession, path: String,
               policy: Warehouse.MaintenancePolicy = Warehouse.MaintenancePolicy())
      : Warehouse.MaintenanceReport =
    Warehouse.maintainSnapshot(spark, path, layoutForced(policy))

  private def layoutForced(policy: Warehouse.MaintenancePolicy): Warehouse.MaintenancePolicy =
    policy.copy(clusterCols = Seq(clusterCol))

  /** Streaming refresh: each micro-batch of `source` refreshes the index
    * at `path`, exactly-once by the refresh's anti-join; every
    * `maintainEvery` epochs a best-effort [[maintain]] tick. The index
    * must be built (the construction is a build decision, not an ingest
    * one): an unbuilt path refuses here, at sink construction.
    */
  def sink(source: DataFrame, path: String, checkpoint: String,
           maintainEvery: Int = 0,
           maintainPolicy: Warehouse.MaintenancePolicy = Warehouse.MaintenancePolicy())
      : DataStreamWriter[Row] = {
    requireBuilt(source.sparkSession, path)
    Warehouse.batchSink(source, path, checkpoint, maintainEvery,
      layoutForced(maintainPolicy)) { (batch, _) =>
      refresh(batch, path); ()
    }
  }
}

/** Batch-bounded planning for the ingest and refresh paths. A front
  * door or refresh step costs its batch, never its index, only if
  * every join with a batch-bounded side broadcasts that side: the
  * index side then streams past a hash table of batch keys instead of
  * being shuffled against the batch. Checkpointed frames carry no size
  * estimate, so the planner cannot see that on its own; a
  * [[countedCheckpoint]] records the row count its own job observed,
  * and joins broadcast under [[BroadcastMaxRows]] of that count (the
  * rule `Warehouse`'s deletion-vector anti-join follows with the
  * manifest's count). Past the bound, or without a count, the planner
  * and adaptive execution choose.
  */
object PersistedIndex {

  /** Rows under which a batch-bounded join side is broadcast. */
  private[ext] val BroadcastMaxRows = 262144L

  /** Materialize `df` once (an eager local checkpoint) and read
    * `aggs` — the row count first, then any extra aggregates — off
    * the same job as an observed metric. The returned frame carries
    * the count in its plan statistics, where [[notIndexed]] finds it
    * (`PlanStats.rowBound`) through projections and filters. The metric
    * is read from the checkpoint's own execution, at once; an
    * `Observation` would also do, but it attaches a manager to the
    * session that makes the session unserializable for closures that
    * capture it (Spark ML model summaries do).
    */
  private[ext] def countedCheckpoint(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    val name = s"graft-counted-${java.util.UUID.randomUUID()}"
    val observed = df.observe(name, count(lit(1)).as("rows"), aggs: _*)
    val cp = observed.localCheckpoint(true)
    // no metrics row: adaptive execution found the plan empty
    val row = observed.queryExecution.observedMetrics.get(name).filter(_.length > 0)
      .getOrElse(Row.fromSeq(0L +: aggs.map(_ => null)))
    (PlanStats.withRowCount(cp, row.getLong(0)), row)
  }

  /** `side`, hinted for broadcast when `rows` is within the bound. */
  private[ext] def broadcastUnder(side: DataFrame, rows: Option[Long]): DataFrame =
    if (rows.exists(_ <= BroadcastMaxRows)) broadcast(side) else side

  /** `batch`'s rows whose `key` the index does not hold yet (`index`:
    * the index table). The index's key column is semi-joined against
    * the broadcast batch keys, so the index streams once, unshuffled.
    * The keys that matched are at most the batch's rows × `rowsPerKey`
    * (the index's rows per key: a bound, or for postings their mean);
    * within the bound they are broadcast into the anti-join as they
    * are. Past it, or with no per-key figure, they are deduplicated
    * first — a shuffle of the matched keys only — and broadcast under
    * the batch's bound, the count of the [[countedCheckpoint]] that
    * `batch` reads.
    */
  private[ext] def notIndexed(batch: DataFrame, key: String, index: DataFrame,
                              rowsPerKey: Option[Double]): DataFrame = {
    val bound = PlanStats.rowBound(batch)
    val hits = index.select(key)
      .join(broadcastUnder(batch.select(key), bound), Seq(key), "left_semi")
    val hitRows = for (n <- bound; r <- rowsPerKey) yield math.ceil(n * math.max(r, 1.0)).toLong
    val build =
      if (hitRows.exists(_ <= BroadcastMaxRows)) broadcast(hits)
      else broadcastUnder(hits.distinct(), bound)
    batch.join(build, Seq(key), "left_anti")
  }
}
