package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X215 expectations — the DLT expect / expect_or_drop / expect_or_fail
  * triage layer over ingest: abort names the rule, drop filters
  * silently, quarantine diverts to the side table with provenance.
  */
class ExpectationSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("drop and quarantine triage an ingest; the side table carries provenance") {
    val root = tmpRoot("graft_exp1")
    Warehouse.setSnapshotExpectation(spark, root, "no_negatives", "x >= 0", "drop")
    Warehouse.setSnapshotExpectation(spark, root, "short_tail", "x < 100", "quarantine")
    Warehouse.writeSnapshot(
      Seq(1L, -2L, 50L, 200L, -7L, 300L).toDF("x"), root)
    val kept = Warehouse.readSnapshot(spark, root).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 50L), "negatives dropped, tail quarantined")
    val q = Warehouse.readSnapshot(spark, Warehouse.quarantinePath(root))
    assert(q.count() === 2)
    assert(q.select("_violated").distinct().head().getString(0) === "short_tail")
    assert(q.select("_violating_op").distinct().head().getString(0) === "writeSnapshot")
    // appends triage too, and the quarantine table accumulates
    Warehouse.appendSnapshot(Seq(7L, 500L).toDF("x"), root, 1L)
    assert(Warehouse.readSnapshot(spark, root).count() === 3)
    assert(Warehouse.readSnapshot(spark, Warehouse.quarantinePath(root)).count() === 3)
  }

  test("per-rule triage counts ride the manifest; history and describe surface them (X221)") {
    val root = tmpRoot("graft_exp_m")
    Warehouse.setSnapshotExpectation(spark, root, "no_negatives", "x >= 0", "drop")
    Warehouse.setSnapshotExpectation(spark, root, "short_tail", "x < 100", "quarantine")
    // write: 2 negatives dropped, 2 tails quarantined, 2 kept
    Warehouse.writeSnapshot(
      Seq(1L, -2L, 50L, 200L, -7L, 300L).toDF("x"), root)
    // append: 1 tail quarantined, 1 kept, 0 dropped
    Warehouse.appendSnapshot(Seq(7L, 500L).toDF("x"), root, 1L)
    val desc = Warehouse.describeSnapshot(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("expectation_metrics.no_negatives") === "drop: 0 violation(s)",
      s"append had no negatives: $desc")
    assert(desc("expectation_metrics.short_tail") === "quarantine: 1 violation(s)")
    val hist = Warehouse.snapshotHistory(spark, root).orderBy("version").collect()
      .map(r => r.getLong(0) -> Option(r.getString(6))).toMap
    assert(hist(1L).exists(j =>
      j.contains("\"no_negatives\"") && j.contains("\"violations\":2")),
      s"v1 recorded 2 drops: ${hist(1L)}")
    assert(hist(1L).exists(_.contains("\"action\":\"quarantine\"")))
    assert(hist(2L).exists(_.contains("\"violations\":0")), s"got ${hist(2L)}")
    // pinned describe of v1 reports THAT commit's counts
    val d1 = Warehouse.describeSnapshot(spark, root, Some(1L)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d1("expectation_metrics.no_negatives") === "drop: 2 violation(s)")
    assert(d1("expectation_metrics.short_tail") === "quarantine: 2 violation(s)")
  }

  test("abort names the rule; NULL passes (SQL CHECK semantics); drop lifts") {
    val root = tmpRoot("graft_exp2")
    Warehouse.setSnapshotExpectation(spark, root, "has_id", "id IS NOT NULL", "abort")
    val e = intercept[Exception] {
      Warehouse.writeSnapshot(Seq(Some(1L), None).toDF("id"), root)
    }
    assert(e.getMessage.contains("has_id"))
    // a rule whose predicate evaluates NULL passes the row
    Warehouse.setSnapshotExpectation(spark, root, "null_passes", "id > 0", "drop")
    Warehouse.dropSnapshotExpectation(spark, root, "has_id")
    Warehouse.writeSnapshot(Seq(Some(1L), None).toDF("id"), root)
    assert(Warehouse.readSnapshot(spark, root).count() === 2,
      "NULL predicate = pass, like CHECK")
    assert(Warehouse.dropSnapshotExpectation(spark, root, "null_passes"))
    assert(!Warehouse.dropSnapshotExpectation(spark, root, "null_passes"))
  }

  test("maintenance rewrites never re-triage committed rows (review r11)") {
    val root = tmpRoot("graft_exp4")
    Warehouse.writeSnapshot(Seq(50L, 200L).toDF("x").repartition(2), root)
    // the rule arrives AFTER the rows committed — it gates future
    // ingests, not layout maintenance
    Warehouse.setSnapshotExpectation(spark, root, "small", "x < 100", "drop")
    Warehouse.compactSnapshot(spark, root)
    assert(Warehouse.readSnapshot(spark, root).count() === 2,
      "compaction must never drop committed rows")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(Warehouse.quarantinePath(root))),
      "nothing quarantined by maintenance")
  }

  test("an abort rule firing means nothing reaches quarantine (review r11)") {
    val root = tmpRoot("graft_exp5")
    // precedence: aborts evaluate before quarantines regardless of name
    Warehouse.setSnapshotExpectation(spark, root, "aa_quar", "x < 100", "quarantine")
    Warehouse.setSnapshotExpectation(spark, root, "zz_abort", "x >= 0", "abort")
    intercept[Exception] {
      Warehouse.writeSnapshot(Seq(50L, -1L, 200L).toDF("x"), root)
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(Warehouse.quarantinePath(root))),
      "a refused ingest must leave no quarantine debris")
  }

  test("appends stamp their own op in quarantine provenance (review r11)") {
    val root = tmpRoot("graft_exp6")
    Warehouse.writeSnapshot(Seq(1L).toDF("x"), root)
    Warehouse.setSnapshotExpectation(spark, root, "pos", "x > 0", "quarantine")
    Warehouse.appendSnapshot(Seq(-5L, 7L).toDF("x"), root, 1L)
    val q = Warehouse.readSnapshot(spark, Warehouse.quarantinePath(root))
    assert(q.select("_violating_op").head().getString(0) === "appendSnapshot")
  }

  test("a streaming epoch whose batch was fully triaged never double-quarantines (review r11)") {
    val root = tmpRoot("graft_exp7")
    Warehouse.writeSnapshot(Seq(1L).toDF("x"), root)
    Warehouse.setSnapshotExpectation(spark, root, "pos", "x > 0", "quarantine")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val dir = java.nio.file.Files.createTempDirectory("graft_exp7ck").toString
    def drain(ck: String): Unit = {
      val q = Warehouse.batchSink(
          mem.toDF().withColumnRenamed("value", "x"), root, s"$dir/$ck",
          0, Warehouse.MaintenancePolicy()) { (batch, epoch) =>
          Warehouse.commitStreamBatch(batch, root, "exp-spec", epoch); ()
        }.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(-1L, -2L) // the WHOLE batch violates: main table no-op
    drain("ck1")
    assert(Warehouse.readSnapshot(spark, root).count() === 1)
    val q1 = Warehouse.readSnapshot(spark, Warehouse.quarantinePath(root)).count()
    assert(q1 === 2, "the triaged rows still reach the dead-letter table")
    // simulate the epoch replay a crashed driver produces: a FRESH
    // checkpoint re-delivers the same batch under the same epoch
    drain("ck2")
    assert(Warehouse.readSnapshot(spark, Warehouse.quarantinePath(root)).count() === 2,
      "the quarantine flush's own (appId#q, epoch) record gates the replay")
  }

  test("a batch emptied by triage commits nothing on append; lifecycle gates") {
    val root = tmpRoot("graft_exp3")
    Warehouse.writeSnapshot(Seq(1L).toDF("x"), root)
    Warehouse.setSnapshotExpectation(spark, root, "pos", "x > 0", "drop")
    val v = Warehouse.appendSnapshot(Seq(-1L, -2L).toDF("x"), root, 1L)
    assert(v === 1L, "fully-dropped batch = no commit")
    intercept[IllegalArgumentException] {
      Warehouse.setSnapshotExpectation(spark, root, "bad", "x > 0", "explode")
    }
    // unreadable rules file is a write gate
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/_expectations"), true)
    out.write("not json".getBytes("UTF-8")); out.close()
    val e = intercept[java.io.IOException] {
      Warehouse.appendSnapshot(Seq(5L).toDF("x"), root, 1L)
    }
    assert(e.getMessage.contains("_expectations"))
  }
}
