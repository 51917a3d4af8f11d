package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.store.Warehouse

/** SQL TABLE-VALUED FUNCTIONS over the snapshot warehouse (X207) —
  * the Delta `table_changes('t', 2, 5)` shape generalized: pure-SQL
  * users get time travel, change feeds and the files/history metadata
  * tables without touching the Scala API.
  *
  * A TVF resolves to a LOGICAL PLAN, not a leaf relation — which is
  * exactly why this surface can carry the warehouse's full read
  * semantics where a `format("graft")` DSv1 relation could not: the
  * returned plan is [[Warehouse.readSnapshot]]'s own (manifest-pinned
  * file list, deletion-vector anti-join, column-map aliasing, the
  * X192 reader-feature gate), so `SELECT * FROM graft_snapshot(p)`
  * and the Scala call are the SAME plan by construction. Catalyst
  * then optimizes through it — predicates on top push into the
  * parquet scan like any subquery.
  *
  * Arguments must be literals (path strings, version numbers): the
  * builder runs at analysis time, where a non-foldable argument has
  * no value yet — refused with a named error, matching the scalar
  * registry's literal-argument contract.
  *
  * Functions:
  *  - `graft_snapshot(path)` / `graft_snapshot(path, version)` —
  *    [[Warehouse.readSnapshot]]: current or pinned version.
  *  - `graft_snapshot_at(path, ts)` — [[Warehouse.snapshotVersionAt]]
  *    time travel; `ts` is epoch millis or a `'yyyy-MM-dd HH:mm:ss'`
  *    string (session-local clock, same rule as the Scala API).
  *  - `graft_changes(path, from, to)` — [[Warehouse.readChangeFeed]]:
  *    the recorded CDC rows of the version bracket (Delta
  *    `table_changes`), era-bridged across renames per X202.
  *  - `graft_files(path)` / `graft_files(path, version)` —
  *    [[Warehouse.snapshotFiles]] metadata table (X188).
  *  - `graft_history(path)` — [[Warehouse.snapshotHistory]]: one row
  *    per live version with commit instant and accounting.
  *  - `graft_snapshot_where(path, col, lo, hi[, version])` —
  *    [[Warehouse.readSnapshotWhere]]: the stats-pruned data-skipping
  *    read (X182); NULL = open bound; the range is also the filter.
  */
object TableFunctions {

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Epoch millis from a long literal, a timestamp literal, or a
    * `'yyyy-MM-dd HH:mm:ss[.fff]'` string literal. String wall-clock
    * times resolve in the SESSION timezone — the same instant a
    * `TIMESTAMP` literal of that wall-clock time names (review r11:
    * `Timestamp.valueOf` would read the JVM default zone instead).
    */
  private def tsMillis(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case Literal(v: Long, TimestampType) => v / 1000L // micros → millis
    case Literal(v: UTF8String, StringType) =>
      Warehouse.parseSessionInstant(v.toString).toEpochMilli
    case other => throw new IllegalArgumentException(
      s"$what must be epoch millis or a 'yyyy-MM-dd HH:mm:ss' string literal, got $other")
  }

  /** A range bound for the stats-pruned read: NULL = open, else the
    * literal's plain Scala value (the range read wraps it in `lit`).
    * `TIMESTAMP`/`DATE` literals carry as Instant/LocalDate (what the
    * stats comparison accepts for those column types); SQL decimal
    * literals like `3.5` — which Spark parses as DecimalType, not
    * Double — carry as their double value (review r11).
    */
  private def boundLit(e: Expression, what: String): Option[Any] = e match {
    case Literal(null, _) => None
    case Literal(v: UTF8String, StringType) => Some(v.toString)
    case Literal(v: Int, IntegerType) => Some(v)
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Double, _) => Some(v)
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => Some(v.toDouble)
    case Literal(v: Long, TimestampType) => Some(java.time.Instant.ofEpochSecond(
      Math.floorDiv(v, 1000000L), Math.floorMod(v, 1000000L) * 1000L))
    case Literal(v: Int, org.apache.spark.sql.types.DateType) =>
      Some(java.time.LocalDate.ofEpochDay(v.toLong))
    case other => throw new IllegalArgumentException(
      s"$what must be a NULL, string, integer, double, DATE or TIMESTAMP literal, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[TableFunctions.type].getName, null, name, usage, "")

  private def plan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** (name, info, builder) for every SQL-exposed table function. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    ("graft_snapshot", info("graft_snapshot",
      "graft_snapshot(path[, version]) - snapshot-warehouse table read, current or pinned version"),
      (es: Seq[Expression]) => {
        require(es.size == 1 || es.size == 2,
          s"graft_snapshot(path[, version]) takes 1 or 2 arguments, got ${es.size}")
        val spark = SparkSession.active
        val v = if (es.size > 1) Some(longLit(es(1), "version")) else None
        plan(Warehouse.readSnapshot(spark, strLit(es.head, "path"), v))
      }),
    ("graft_snapshot_at", info("graft_snapshot_at",
      "graft_snapshot_at(path, ts) - time travel: the snapshot as of epoch millis or 'yyyy-MM-dd HH:mm:ss'"),
      (es: Seq[Expression]) => {
        require(es.size == 2,
          s"graft_snapshot_at(path, ts) takes 2 arguments, got ${es.size}")
        val spark = SparkSession.active
        val path = strLit(es.head, "path")
        val v = Warehouse.snapshotVersionAt(spark, path, tsMillis(es(1), "ts"))
        plan(Warehouse.readSnapshot(spark, path, Some(v)))
      }),
    ("graft_changes", info("graft_changes",
      "graft_changes(path, fromVersion, toVersion) - recorded change-feed rows of the version bracket; " +
        "string/TIMESTAMP bounds resolve to versions by commit instant (Delta table_changes parity)"),
      (es: Seq[Expression]) => {
        require(es.size == 3,
          s"graft_changes(path, from, to) takes 3 arguments, got ${es.size}")
        val spark = SparkSession.active
        val path = strLit(es.head, "path")
        // timestamp bounds: FROM = the first version committed at or
        // after it, TO = the last committed at or before it — so a
        // wall-clock bracket replays exactly the commits inside it
        def bound(e: Expression, what: String, from: Boolean): Long = e match {
          case Literal(v: Int, IntegerType) => v.toLong
          case Literal(v: Long, LongType) => v
          case _ =>
            val at = Warehouse.snapshotVersionAt(spark, path, tsMillis(e, what),
              ceil = from)
            at
        }
        plan(Warehouse.readChangeFeed(spark, path,
          bound(es(1), "fromVersion", from = true),
          bound(es(2), "toVersion", from = false)))
      }),
    ("graft_files", info("graft_files",
      "graft_files(path[, version]) - per-file accounting of a committed version (bytes/rows/shared/dv_rows)"),
      (es: Seq[Expression]) => {
        require(es.size == 1 || es.size == 2,
          s"graft_files(path[, version]) takes 1 or 2 arguments, got ${es.size}")
        val v = if (es.size > 1) Some(longLit(es(1), "version")) else None
        plan(Warehouse.snapshotFiles(SparkSession.active, strLit(es.head, "path"), v))
      }),
    ("graft_history", info("graft_history",
      "graft_history(path) - one row per live version: commit instant, operation accounting"),
      (es: Seq[Expression]) => {
        require(es.size == 1, s"graft_history(path) takes 1 argument, got ${es.size}")
        plan(Warehouse.snapshotHistory(SparkSession.active, strLit(es.head, "path")))
      }),
    ("graft_snapshot_where", info("graft_snapshot_where",
      "graft_snapshot_where(path, column, lo, hi[, version]) - stats-pruned read: only files " +
        "whose [min,max] intersects [lo,hi] open; NULL = open bound; result ≡ the filtered full read"),
      (es: Seq[Expression]) => {
        require(es.size == 4 || es.size == 5,
          s"graft_snapshot_where(path, column, lo, hi[, version]) takes 4 or 5 arguments, got ${es.size}")
        val v = if (es.size > 4) Some(longLit(es(4), "version")) else None
        plan(Warehouse.readSnapshotWhere(SparkSession.active, strLit(es.head, "path"),
          Seq((strLit(es(1), "column"), boundLit(es(2), "lo"), boundLit(es(3), "hi"))), v))
      }),
    ("graft_describe", info("graft_describe",
      "graft_describe(path[, version]) - DESCRIBE TABLE: schema, accounting, column map, " +
        "dv/index state, expectations and generated-column rules"),
      (es: Seq[Expression]) => {
        require(es.size == 1 || es.size == 2,
          s"graft_describe(path[, version]) takes 1 or 2 arguments, got ${es.size}")
        val v = if (es.size > 1) Some(longLit(es(1), "version")) else None
        plan(Warehouse.describeSnapshot(SparkSession.active, strLit(es.head, "path"), v))
      }),
    ("graft_ndv", info("graft_ndv",
      "graft_ndv(path, column[, version]) - distinct-count estimate from the ANALYZE " +
        "synopses (X231): zero data I/O at full coverage, uncovered files scan on the fly"),
      (es: Seq[Expression]) => {
        require(es.size == 2 || es.size == 3,
          s"graft_ndv(path, column[, version]) takes 2 or 3 arguments, got ${es.size}")
        val v = if (es.size > 2) Some(longLit(es(2), "version")) else None
        plan(Warehouse.ndvSnapshot(SparkSession.active, strLit(es.head, "path"),
          Seq(strLit(es(1), "column")), version = v))
      }),
    ("graft_histogram", info("graft_histogram",
      "graft_histogram(path, column[, bins]) - exact value distribution from the histogram " +
        "synopses (X234): merged per-file bin counts under the pinned edges"),
      (es: Seq[Expression]) => {
        require(es.size == 2 || es.size == 3,
          s"graft_histogram(path, column[, bins]) takes 2 or 3 arguments, got ${es.size}")
        val b = if (es.size > 2) longLit(es(2), "bins").toInt else 20
        plan(Warehouse.histogramSnapshot(SparkSession.active,
          strLit(es.head, "path"), strLit(es(1), "column"), bins = b))
      }))

  /** Register everything on a live session (idempotent) — the
    * already-running-session twin of the extensions injection, same
    * split as [[Registry.registerAll]].
    */
  def registerAll(spark: SparkSession): Unit =
    functions.foreach { case (name, inf, builder) =>
      spark.sessionState.tableFunctionRegistry
        .registerFunction(FunctionIdentifier(name), inf, builder)
    }
}
