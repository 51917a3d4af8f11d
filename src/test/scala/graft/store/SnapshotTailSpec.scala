package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X168 appendSnapshot: the zero-rewrite append commit. */
class SnapshotTailSpec extends SparkSpec {
  import spark.implicits._

  private def hfs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(root: String, v: Long): Seq[String] = {
    val fs = hfs(root)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/v=$v")).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).sorted
  }

  test("appendSnapshot: new files only, base carried by reference; strict schema; CAS conflict") {
    val root = java.nio.file.Files.createTempDirectory("graft_append").toString + "/t"
    Warehouse.writeSnapshot(
      spark.range(0, 300).toDF("id").withColumn("v", col("id") * 2)
        .repartitionByRange(3, col("id")), root)
    val baseFiles = dataFiles(root, 1L)
    assert(baseFiles.size === 3)
    val batch = Seq((1000L, 0L), (1001L, 2L)).toDF("id", "v")
    val v2 = Warehouse.appendSnapshot(batch, root, expectedVersion = 1L)
    assert(v2 === 2L)
    // ZERO-REWRITE: v=2 holds only the batch's files (plus the
    // file-sharing marker); every base file still lives in v=1
    val fs = hfs(root)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/v=2/_partial")))
    assert(dataFiles(root, 1L) === baseFiles)
    assert(!dataFiles(root, 2L).exists(baseFiles.contains))
    // content: union of base and batch; the pinned base read unchanged
    assert(Warehouse.readSnapshot(spark, root).count() === 302)
    assert(Warehouse.readSnapshot(spark, root, Some(1L)).count() === 300)
    // the appended version plans from its manifest: base files are
    // REFERENCED, so the read touches v=1 and v=2 files together
    val files = Warehouse.readSnapshot(spark, root).inputFiles
    assert(files.exists(_.contains("/v=1/")) && files.exists(_.contains("/v=2/")))
    // empty batch: no empty commit
    assert(Warehouse.appendSnapshot(batch.limit(0), root, 2L) === 2L)
    assert(Warehouse.snapshots(spark, root) === Seq(1L, 2L))
    // strict schema gate: extra column and drifted type both refuse
    intercept[IllegalArgumentException] {
      Warehouse.appendSnapshot(batch.withColumn("x", lit(1)), root, 2L)
    }
    intercept[IllegalArgumentException] {
      Warehouse.appendSnapshot(
        Seq(("a", 1L)).toDF("id", "v"), root, 2L)
    }
    // stale expectedVersion loses the CAS with the retryable conflict
    intercept[Warehouse.SnapshotConflictException] {
      Warehouse.appendSnapshot(batch, root, expectedVersion = 1L)
    }
    // column order does not matter — aligned to the committed order
    val v3 = Warehouse.appendSnapshot(
      Seq((4L, 2000L)).toDF("v", "id"), root, 2L)
    assert(v3 === 3L)
    assert(Warehouse.readSnapshot(spark, root).where(col("id") === 2000L)
      .select("v").as[Long].head() === 4L)
  }

  test("appendSnapshot chain survives expiry: carried files outlive their home version") {
    val root = java.nio.file.Files.createTempDirectory("graft_appexp").toString + "/t"
    Warehouse.writeSnapshot(spark.range(0, 100).toDF("id"), root)
    Warehouse.appendSnapshot(spark.range(1000, 1010).toDF("id"), root, 1L)
    Warehouse.appendSnapshot(spark.range(2000, 2010).toDF("id"), root, 2L)
    // history marks the append versions as file-sharing
    val hist = Warehouse.snapshotHistory(spark, root).orderBy("version").collect()
    assert(hist.map(r => r.getLong(0) -> r.getBoolean(5)).toSeq ===
      Seq(1L -> false, 2L -> true, 3L -> true))
    Warehouse.expireSnapshots(spark, root, keepLast = 1)
    assert(Warehouse.snapshots(spark, root) === Seq(3L))
    // v=3's manifest still references v=1 and v=2 files — all rows live
    assert(Warehouse.readSnapshot(spark, root).count() === 120)
  }
}
