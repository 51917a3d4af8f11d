package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X172 persisted change data feed — recorded at commit, consumed as
  * batch ranges.
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def frame(root: String) =
    spark.range(0, 100).select(col("id"), (col("id") * 10).as("v"))

  test("append/delete/update record typed change rows; feed-apply law holds per commit") {
    val root = tmp("graft_cdf") + "/t"
    Warehouse.writeSnapshot(frame(root).repartition(4), root) // v1, unrecorded
    Warehouse.appendSnapshot(
      Seq((1000L, 1L), (1001L, 2L)).toDF("id", "v"), root, 1L, changeFeed = true) // v2
    Warehouse.deleteWhere(spark, root, col("id") === 7L, changeFeed = true)       // v3
    Warehouse.updateWhere(spark, root, col("id") === 9L,
      Map("v" -> lit(-1L)), changeFeed = true)                                    // v4
    assert(Warehouse.changeFeedVersions(spark, root) === Seq(2L, 3L, 4L))
    // typed rows, stamped with their commit
    val feed = Warehouse.readChangeFeed(spark, root, 2L, 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(feed.toSet === Set(
      (1000L, 1L, "insert", 2L), (1001L, 2L, "insert", 2L),
      (7L, 70L, "delete", 3L),
      // updates carry the Delta-CDF pair: post-image + preimage (r11,
      // the rows Ivm's algebra subtracts)
      (9L, -1L, "update", 4L), (9L, 90L, "update_preimage", 4L)))
    // the feed-apply law: each recorded commit's feed replays the
    // version transition exactly (the downstream-replica contract)
    for (v <- 2L to 4L) {
      val before = Warehouse.readSnapshot(spark, root, Some(v - 1))
      val changes = Warehouse.readChangeFeed(spark, root, v, v).drop("_commit_version")
      val replayed = Warehouse.applyChangeFeed(before, changes, Seq("id"))
      val expected = Warehouse.readSnapshot(spark, root, Some(v))
      assert(replayed.exceptAll(expected).isEmpty && expected.exceptAll(replayed).isEmpty,
        s"feed replay of v=$v diverged")
    }
    // unrecorded versions gate by default, pass with allowGaps
    val e = intercept[IllegalArgumentException] {
      Warehouse.readChangeFeed(spark, root, 1L, 4L)
    }
    assert(e.getMessage.contains("version(s) 1"))
    assert(Warehouse.readChangeFeed(spark, root, 1L, 4L, allowGaps = true).count() === 5)
  }

  test("no-op writes record nothing; a conflict-losing append leaves no feed debris") {
    val root = tmp("graft_cdf_noop") + "/t"
    Warehouse.writeSnapshot(frame(root), root)
    // predicate matches nothing → no new version, no recorded feed
    Warehouse.deleteWhere(spark, root, col("id") === -5L, changeFeed = true)
    assert(Warehouse.changeFeedVersions(spark, root).isEmpty)
    // stale CAS loser unwinds its staged change files
    Warehouse.appendSnapshot(Seq((500L, 0L)).toDF("id", "v"), root, 1L) // v2
    intercept[Warehouse.SnapshotConflictException] {
      Warehouse.appendSnapshot(Seq((501L, 0L)).toDF("id", "v"), root, 1L, changeFeed = true)
    }
    assert(Warehouse.changeFeedVersions(spark, root).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .exists(_.getPath.getName.contains("cdf")), "staged change files must be unwound")
  }

  test("expireSnapshots ages recorded feeds out with their versions") {
    val root = tmp("graft_cdf_expire") + "/t"
    Warehouse.writeSnapshot(frame(root), root)
    Warehouse.appendSnapshot(Seq((1000L, 1L)).toDF("id", "v"), root, 1L, changeFeed = true) // v2
    Warehouse.appendSnapshot(Seq((1001L, 1L)).toDF("id", "v"), root, 2L, changeFeed = true) // v3
    Warehouse.appendSnapshot(Seq((1002L, 1L)).toDF("id", "v"), root, 3L, changeFeed = true) // v4
    Warehouse.expireSnapshots(spark, root, keepLast = 2)
    assert(Warehouse.changeFeedVersions(spark, root) === Seq(3L, 4L))
    assert(Warehouse.readChangeFeed(spark, root, 3L, 4L).count() === 2)
  }
}
