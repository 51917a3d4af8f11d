package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r11 self-review regressions: the DDL lock, sidecar reachability in
  * vacuum, probe-representation parity.
  */
class ReviewHardeningSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("a stale DDL lock is rename-claim broken; no breaker debris left (review r12)") {
    val root = tmpRoot("graft_rh_lock")
    Warehouse.writeSnapshot(spark.range(1, 5).toDF("id").withColumn("v", col("id")), root)
    // a crashed ALTER left its lock behind, long past the grace
    val lock = new java.io.File(root, "_ddl-lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(1000L))
    // the next ALTER must break it (rename-claimed) and proceed
    Warehouse.setSnapshotExpectation(spark, root, "pos", "v > 0")
    assert(Warehouse.snapshotExpectations(spark, root).contains("pos"))
    assert(!lock.exists(), "lock released after the ALTER")
    val debris = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("_ddl-lock"))
    assert(debris.isEmpty, s"no broken-claim debris may remain, got ${debris.toSeq}")
  }

  test("vacuum preserves a manifest-less partial dir whose _dv a live manifest references") {
    val root = tmpRoot("graft_rh4")
    Warehouse.writeSnapshot(spark.range(0, 100).toDF("id"), root)           // v1
    Warehouse.deleteWhereDv(spark, root, col("id") < 10L)                   // v2 (_dv inside)
    Warehouse.appendSnapshot(Seq(500L).toDF("id"), root, 2L)                // v3 carries dvRef v=2/_dv
    // simulate the crashed-expire state: v2's manifest gone, dir partial
    assert(new java.io.File(root, "_manifest-v2").delete())
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Warehouse.vacuum(spark, root, graceMs = 0L)
    assert(new java.io.File(root, "v=2/_dv").exists(),
      "the live manifest's dvRefs root the sidecar — vacuum must not reap it")
    assert(Warehouse.readSnapshot(spark, root).count() === 91,
      "deletions keep subtracting after the vacuum")
  }

  test("readSnapshotPoint finds timestamp values (probe string = Spark's cast)") {
    val root = tmpRoot("graft_rh5")
    val df = spark.range(0, 100).toDF("id")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("id")))
    Warehouse.writeSnapshot(df, root)
    Warehouse.indexSnapshot(spark, root, "ts")
    val want = new java.sql.Timestamp(1704067200L * 1000L + 42L * 1000L)
    val got = Warehouse.readSnapshotPoint(spark, root, "ts", want)
    assert(got.count() === 1,
      "String.valueOf(Timestamp) diverges from Spark's cast — the probe must not prune the match")
  }
}
