package graft.functions

import graft.SparkSpec
import graft.store.Warehouse
import org.apache.spark.sql.functions._

/** X207 SQL table-valued functions — the Delta `table_changes` shape:
  * the TVF surface must return the SAME plan as the Scala API, so
  * every warehouse semantic (pinning, deletion vectors, column map,
  * time travel) rides through pure SQL.
  */
class TableFunctionsSpec extends SparkSpec {
  import spark.implicits._

  TableFunctions.registerAll(spark)

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def base(root: String): Unit =
    Warehouse.writeSnapshot(
      spark.range(0, 100).toDF("id").withColumn("grp", col("id") % 5)
        .repartition(3), root)

  test("graft_snapshot ≡ readSnapshot, current and pinned; dv subtraction rides through SQL") {
    val root = tmpRoot("graft_tvf1")
    base(root)
    Warehouse.deleteWhereDv(spark, root, col("id") % 10 === 0)

    val sqlNow = spark.sql(s"SELECT * FROM graft_snapshot('$root')")
    assert(sqlNow.count() === 90, "deletion vectors must subtract in the SQL read")
    assert(sqlNow.orderBy("id").collect().toSeq ===
      Warehouse.readSnapshot(spark, root).orderBy("id").collect().toSeq)

    val sqlV1 = spark.sql(s"SELECT * FROM graft_snapshot('$root', 1)")
    assert(sqlV1.count() === 100, "pinned v=1 predates the delete")

    // an aggregate over the TVF is just SQL over a subquery
    // every deleted id is a multiple of 10, i.e. grp 0 — the other
    // groups keep their full 20
    val g = spark.sql(
      s"SELECT grp, count(*) AS n FROM graft_snapshot('$root') GROUP BY grp ORDER BY grp")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g.toSeq === Seq((0L, 10L), (1L, 20L), (2L, 20L), (3L, 20L), (4L, 20L)))
  }

  test("column-map aliasing rides through SQL: renamed column queryable by its new name") {
    val root = tmpRoot("graft_tvf2")
    base(root)
    Warehouse.renameSnapshotColumn(spark, root, "grp", "bucket")
    val out = spark.sql(
      s"SELECT bucket, sum(id) AS s FROM graft_snapshot('$root') GROUP BY bucket ORDER BY bucket")
    assert(out.columns.toSeq === Seq("bucket", "s"))
    assert(out.count() === 5)
  }

  test("graft_snapshot_at time travel: a ts between commits reads the earlier version") {
    val root = tmpRoot("graft_tvf3")
    base(root)
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    Warehouse.appendSnapshot(
      spark.range(100, 150).toDF("id").withColumn("grp", col("id") % 5), root, 1L)
    assert(spark.sql(s"SELECT * FROM graft_snapshot_at('$root', $mid)").count() === 100)
    // wall-clock string rendered in the SESSION zone (UTC) — the zone
    // parseSessionInstant reads it in; Timestamp.toString would render
    // the JVM default zone and break on any non-UTC machine
    val fmt = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(System.currentTimeMillis()),
      java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(s"SELECT * FROM graft_snapshot_at('$root', '$fmt')").count() === 150)
  }

  test("graft_changes ≡ readChangeFeed; graft_files and graft_history expose the metadata tables") {
    val root = tmpRoot("graft_tvf4")
    Warehouse.writeSnapshot(spark.range(0, 50).toDF("id"), root)
    Warehouse.appendSnapshot(spark.range(50, 60).toDF("id"), root, 1L,
      changeFeed = true)
    Warehouse.deleteWhereDv(spark, root, col("id") < 5, changeFeed = true)

    val sqlFeed = spark.sql(s"SELECT * FROM graft_changes('$root', 2, 3)")
      .orderBy("_commit_version", "id")
    val apiFeed = Warehouse.readChangeFeed(spark, root, 2L, 3L)
      .orderBy("_commit_version", "id")
    assert(sqlFeed.collect().toSeq === apiFeed.collect().toSeq)
    assert(sqlFeed.where(col("_change_type") === "delete").count() === 5)

    val files = spark.sql(s"SELECT * FROM graft_files('$root', 3)")
    assert(files.where(col("shared")).count() > 0, "dv commit carries files by reference")
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft_history('$root')").head().getLong(0) === 3L)
  }

  test("stats-pruned reads from SQL ≡ their Scala twins") {
    val root = tmpRoot("graft_tvf7")
    base(root)
    Warehouse.appendSnapshot(
      spark.range(100, 120).toDF("id").withColumn("grp", col("id") % 5), root, 1L)
    assert(spark.sql(s"SELECT * FROM graft_snapshot('$root')").count() === 120)

    val pruned = spark.sql(
      s"SELECT * FROM graft_snapshot_where('$root', 'id', 95, NULL)").orderBy("id")
    val full = Warehouse.readSnapshot(spark, root)
      .where(col("id") >= 95).orderBy("id")
    assert(pruned.collect().toSeq === full.collect().toSeq,
      "stats-pruned SQL read ≡ filtered full read (the range IS the filter)")
  }

  test("predicates on top of the TVF push into the parquet scan") {
    val root = tmpRoot("graft_tvf5")
    base(root)
    val q = spark.sql(s"SELECT id FROM graft_snapshot('$root') WHERE id = 7")
    assert(q.count() === 1)
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(id), EqualTo(id,7)]"),
      s"filter must reach the scan, got:\n$physical")
  }

  test("graft_changes accepts wall-clock bounds: the bracket is the commits inside it") {
    val root = tmpRoot("graft_tvf10")
    Warehouse.writeSnapshot(spark.range(0, 50).toDF("id"), root)
    Thread.sleep(30)
    val t0 = System.currentTimeMillis()
    Thread.sleep(30)
    Warehouse.appendSnapshot(spark.range(50, 60).toDF("id"), root, 1L, changeFeed = true)
    Warehouse.deleteWhereDv(spark, root, col("id") < 5, changeFeed = true)
    Thread.sleep(30)
    val t1 = System.currentTimeMillis()
    def fmt(ms: Long) = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(ms), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val byTs = spark.sql(
      s"SELECT * FROM graft_changes('$root', '${fmt(t0)}', '${fmt(t1)}')")
      .orderBy("_commit_version", "id")
    val byV = Warehouse.readChangeFeed(spark, root, 2L, 3L)
      .orderBy("_commit_version", "id")
    assert(byTs.collect().toSeq === byV.collect().toSeq,
      "wall-clock bracket [before-v2, after-v3] must replay exactly v2..v3")
  }

  test("string timestamps resolve in the SESSION timezone, not the JVM default") {
    val root = tmpRoot("graft_tvf8")
    base(root)
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    Warehouse.appendSnapshot(
      spark.range(100, 110).toDF("id").withColumn("grp", col("id") % 5), root, 1L)
    // express `mid` as a wall-clock string in the session zone (UTC);
    // under a skewed JVM default zone the old Timestamp.valueOf parse
    // would shift it hours away and pin the wrong version
    val wallClock = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(mid), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val prev = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("GMT-08:00"))
      assert(spark.sql(
        s"SELECT * FROM graft_snapshot_at('$root', '$wallClock')").count() === 100)
      assert(spark.sql(
        s"SELECT * FROM graft_snapshot_at('$root', TIMESTAMP '$wallClock')").count() === 100,
        "string and TIMESTAMP spellings of the same wall-clock time must pin the same version")
    } finally java.util.TimeZone.setDefault(prev)
  }

  test("timestamp-column, decimal and DATE-literal bounds work in graft_snapshot_where") {
    val root = tmpRoot("graft_tvf9")
    Warehouse.writeSnapshot(
      spark.range(0, 48).toDF("id")
        .withColumn("ts", expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,id)"))
        .withColumn("d", expr("date'2024-01-01' + CAST(id / 24 AS INT)"))
        .withColumn("x", col("id") / 10.0)
        .repartition(4), root)
    val full = Warehouse.readSnapshot(spark, root)

    val byTs = spark.sql(
      s"SELECT * FROM graft_snapshot_where('$root', 'ts', '2024-01-02 00:00:00', NULL)")
    assert(byTs.count() === full.where(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp")).count())

    val byDate = spark.sql(
      s"SELECT * FROM graft_snapshot_where('$root', 'd', DATE '2024-01-02', NULL)")
    assert(byDate.count() === 24)

    val byDec = spark.sql(
      s"SELECT * FROM graft_snapshot_where('$root', 'x', 3.5, NULL)")
    assert(byDec.count() === full.where(col("x") >= 3.5).count())
  }

  test("graft_describe surfaces the table's declarations and accounting") {
    val root = tmpRoot("graft_tvf11")
    Warehouse.setSnapshotExpectation(spark, root, "pos_id", "id >= 0")
    base(root)
    Warehouse.deleteWhereDv(spark, root, col("id") === 3)
    val d = spark.sql(s"SELECT * FROM graft_describe('$root')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("version") === "2")
    assert(d("row_count") === "99", "dv-effective count")
    assert(d("deletion_vectors.rows") === "1")
    assert(d("expectation.pos_id") === "abort: id >= 0")
    assert(d("schema").contains("grp"))
  }

  test("graft_ndv and graft_histogram answer from the ANALYZE synopses via SQL") {
    val root = tmpRoot("graft_tvf12")
    base(root)
    Warehouse.analyzeSnapshot(spark, root, Seq("grp"), k = 16)
    Warehouse.analyzeHistogram(spark, root, "id", bins = 10)
    val ndv = spark.sql(s"SELECT * FROM graft_ndv('$root', 'grp')").head()
    assert(ndv.getString(0) === "grp" && ndv.getDouble(1) === 5.0,
      "5 distinct groups, exact below k")
    val h = spark.sql(s"SELECT * FROM graft_histogram('$root', 'id', 10)")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(h.values.sum === 100L && h.size === 10 && h.forall(_._2 === 10L),
      s"100 uniform ids over 10 bins: $h")
  }

  test("non-literal and wrong-arity arguments are refused with named errors") {
    val root = tmpRoot("graft_tvf6")
    base(root)
    // a non-literal expression (even a foldable one — the builder
    // runs before constant folding) is refused by name
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_snapshot('$root', 1 + 1)").collect()
    }
    assert(e1.getMessage.contains("integer literal"))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_changes('$root', 1)").collect()
    }
    assert(e2.getMessage.contains("3 arguments"))
  }
}
