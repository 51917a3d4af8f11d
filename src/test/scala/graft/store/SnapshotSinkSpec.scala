package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** X174 the exactly-once streaming sink into the snapshot warehouse
  * (`batchSink` running `commitStreamBatch` per epoch): one
  * appendSnapshot version per micro-batch, idempotent on the
  * (appId, epoch) pair the version's manifest carries.
  */
class SnapshotSinkSpec extends SparkSpec {
  import spark.implicits._

  private def sink(source: org.apache.spark.sql.DataFrame, root: String, ckpt: String,
                   appId: String, maintainEvery: Int = 0,
                   policy: Warehouse.MaintenancePolicy = Warehouse.MaintenancePolicy()) =
    Warehouse.batchSink(source, root, ckpt, maintainEvery, policy) { (batch, epoch) =>
      Warehouse.commitStreamBatch(batch, root, appId, epoch); ()
    }

  test("stream lands each micro-batch as a version; restart appends only new data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val root = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    def drain(): Unit = {
      val q = sink(mem.toDF().withColumnRenamed("value", "id"),
        root, ckpt, appId = "sink-spec").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(0L until 50L: _*)
    drain()
    assert(Warehouse.readSnapshot(spark, root).count() === 50)
    mem.addData(1000L until 1010L: _*)
    drain()
    val all = Warehouse.readSnapshot(spark, root).as[Long].collect().sorted.toSeq
    assert(all === ((0L until 50L) ++ (1000L until 1010L)))
    // each batch is one version; the second is a zero-rewrite append
    assert(Warehouse.snapshots(spark, root) === Seq(1L, 2L))
    val hist = Warehouse.snapshotHistory(spark, root).orderBy("version").collect()
    assert(hist.map(_.getBoolean(5)).toSeq === Seq(false, true))
  }

  test("in-loop maintenance tick: the sink optimizes + analyzes on its own cadence (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_maint").toString
    val root = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val policy = Warehouse.MaintenancePolicy(analyzeColumns = Seq("id"), analyzeK = 16)
    def drain(): Unit = {
      val q = sink(
          mem.toDF().withColumnRenamed("value", "id").repartition(1),
          root, ckpt, appId = "sink-maint",
          maintainEvery = 2, policy = policy)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // 4 epochs of small files; the tick fires after epochs 1 and 3 —
    // by the end the table is bin-packed and synopsis-covered without
    // any separate maintenance job
    (0 until 4).foreach { i =>
      mem.addData(i * 100L until i * 100L + 50L: _*); drain()
    }
    assert(Warehouse.readSnapshot(spark, root).count() === 200)
    val desc = Warehouse.describeSnapshot(spark, root)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val nFiles = desc("n_files").toInt
    assert(nFiles === 1, s"the tick's OPTIMIZE must have bin-packed: $nFiles files")
    assert(desc("synopsis.id") === s"k=16: $nFiles/$nFiles files covered",
      desc.get("synopsis.id").toString)
    // the zero-scan NDV answers from the tick's synopses
    assert(Warehouse.ndvSnapshot(spark, root, Seq("id"), k = 16)
      .head().getDouble(1) > 0.0)
  }

  test("replayed epoch is recognized from the manifest and skipped — no double rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_replay").toString
    val root = s"$dir/t"
    val batch = spark.range(0, 20).toDF("id")
    val v1 = Warehouse.commitStreamBatch(batch, root, "app-a", epoch = 0L)
    assert(v1 === 1L)
    // the crash-replay: same app, same epoch — skipped, version unmoved
    assert(Warehouse.commitStreamBatch(batch, root, "app-a", epoch = 0L) === 1L)
    assert(Warehouse.readSnapshot(spark, root).count() === 20)
    assert(Warehouse.lastCommittedEpoch(spark, root, "app-a") === Some(0L))
    assert(Warehouse.lastCommittedEpoch(spark, root, "app-b") === None)
    // the next epoch commits; an older epoch replayed late is also skipped
    assert(Warehouse.commitStreamBatch(spark.range(100, 110).toDF("id"),
      root, "app-a", epoch = 1L) === 2L)
    assert(Warehouse.commitStreamBatch(batch, root, "app-a", epoch = 0L) === 2L)
    assert(Warehouse.readSnapshot(spark, root).count() === 30)
  }

  test("foreign commits interleave without losing the stream's epochs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_mix").toString
    val root = s"$dir/t"
    Warehouse.commitStreamBatch(spark.range(0, 10).toDF("id"), root, "app-a", 0L)
    // a non-stream writer advances the table between epochs
    Warehouse.appendSnapshot(spark.range(500, 505).toDF("id"), root, 1L)
    // the stream's next epoch appends against the fresh version; its
    // txn record is found past the foreign commit's manifest
    Warehouse.commitStreamBatch(spark.range(10, 20).toDF("id"), root, "app-a", 1L)
    assert(Warehouse.lastCommittedEpoch(spark, root, "app-a") === Some(1L))
    assert(Warehouse.readSnapshot(spark, root).count() === 25)
    assert(Warehouse.snapshots(spark, root) === Seq(1L, 2L, 3L))
  }

  test("changeFeed-recording sink: each epoch's feed replays onto the previous version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_cdf").toString
    val root = s"$dir/t"
    Warehouse.commitStreamBatch(spark.range(0, 10).toDF("id"), root, "app-a", 0L,
      changeFeed = true)
    Warehouse.commitStreamBatch(spark.range(10, 15).toDF("id"), root, "app-a", 1L,
      changeFeed = true)
    val feed = Warehouse.readChangeFeed(spark, root, 2L, 2L)
    assert(feed.count() === 5)
    assert(feed.select("_change_type").distinct().as[String].collect().toSeq === Seq("insert"))
    val replayed = Warehouse.applyChangeFeed(
      Warehouse.readSnapshot(spark, root, Some(1L)),
      feed.drop("_commit_version"), Seq("id"))
    assert(replayed.exceptAll(Warehouse.readSnapshot(spark, root)).isEmpty)
  }
}
