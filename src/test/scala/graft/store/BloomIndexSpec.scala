package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X193 file-grain bloom index — zero-rewrite point-lookup skipping
  * for columns the clustering doesn't cover; pruning is never a
  * correctness gate.
  */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def entriesOf(root: String, v: Long): Seq[String] = {
    val p = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
      new org.apache.hadoop.fs.Path(s"$root/_manifest-v$v"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.toString)), "UTF-8"))
    (0 until node.get("files").size()).map(node.get("files").get(_).asText())
  }

  /** High-cardinality unclustered key: min/max stats are useless here
    * (every file spans the domain) — exactly the bloom's territory. */
  private def keyedTable(root: String): Unit =
    Warehouse.writeSnapshot(
      spark.range(0, 3000).toDF("id")
        .withColumn("uid", md5(col("id").cast("string")))
        .withColumn("x", col("id") * 2)
        .repartition(4), root)

  private def uidOf(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("index commit rewrites nothing; lookup ≡ filtered full read; misses plan zero file scans") {
    val root = tmpRoot("graft_bi1")
    keyedTable(root)
    val before = entriesOf(root, 1L)
    val v2 = Warehouse.indexSnapshot(spark, root, "uid")
    assert(v2 === 2L)
    assert(entriesOf(root, 2L).toSet === before.map(e => s"v=1/$e").toSet,
      "every data file carried by reference")
    // present value: identical to the unindexed filtered read
    val hit = Warehouse.readSnapshotPoint(spark, root, "uid", uidOf(1234L))
    val want = Warehouse.readSnapshot(spark, root).where(col("uid") === uidOf(1234L))
    assert(hit.exceptAll(want).isEmpty && want.exceptAll(hit).isEmpty)
    assert(hit.count() === 1)
    // absent value: every covered file pruned driver-side — the plan
    // holds no parquet scan at all
    val miss = Warehouse.readSnapshotPoint(spark, root, "uid", "not-a-real-uid")
    assert(miss.isEmpty)
    assert(!miss.queryExecution.executedPlan.toString.contains("Scan parquet"),
      miss.queryExecution.executedPlan.toString.take(1500))
    // unindexed column: plain filtered read, still correct
    val other = Warehouse.readSnapshotPoint(spark, root, "x", 20L)
    assert(other.count() === 1)
  }

  test("coverage decays conservatively: appends and rewrites are always read") {
    val root = tmpRoot("graft_bi2")
    keyedTable(root)
    Warehouse.indexSnapshot(spark, root, "uid")
    // an appended row is OUTSIDE the recorded coverage -> found anyway
    Warehouse.appendSnapshot(
      Seq((100000L, "fresh-uid", 0L)).toDF("id", "uid", "x"), root, 2L)
    assert(Warehouse.readSnapshotPoint(spark, root, "uid", "fresh-uid").count() === 1)
    // a rewrite moves rows to a new (uncovered) path -> still found
    Warehouse.updateWhere(spark, root, col("uid") === uidOf(7L), Map("x" -> lit(-1L)))
    val moved = Warehouse.readSnapshotPoint(spark, root, "uid", uidOf(7L))
    assert(moved.count() === 1)
    assert(moved.select("x").as[Long].head() === -1L)
    // dv-deleted rows stay dead through the index path
    Warehouse.deleteWhereDv(spark, root, col("uid") === uidOf(9L))
    assert(Warehouse.readSnapshotPoint(spark, root, "uid", uidOf(9L)).isEmpty)
    // re-index restores full coverage; misses prune to zero scans again
    Warehouse.indexSnapshot(spark, root, "uid")
    val miss = Warehouse.readSnapshotPoint(spark, root, "uid", "still-not-real")
    assert(!miss.queryExecution.executedPlan.toString.contains("Scan parquet"))
  }

  test("incremental refresh: coverage restored, new values indexed, misses prune to zero scans") {
    val root = tmpRoot("graft_bi4")
    keyedTable(root)                                                       // v1
    Warehouse.indexSnapshot(spark, root, "uid")                            // v2
    Warehouse.appendSnapshot(
      Seq((100000L, "fresh-uid", 0L)).toDF("id", "uid", "x"), root, 2L)    // v3
    // fully-covered table: refresh is a no-op only AFTER a refresh tick
    val r = Warehouse.refreshIndexSnapshot(spark, root)
    assert(r === Some(4L))
    // the refreshed index covers the appended file too: a miss plans
    // zero scans, present values (old and new files) are found
    val miss = Warehouse.readSnapshotPoint(spark, root, "uid", "still-not-real")
    assert(!miss.queryExecution.executedPlan.toString.contains("Scan parquet"))
    assert(Warehouse.readSnapshotPoint(spark, root, "uid", "fresh-uid").count() === 1)
    assert(Warehouse.readSnapshotPoint(spark, root, "uid", uidOf(77L)).count() === 1)
    // complete coverage -> None, no empty commit
    assert(Warehouse.refreshIndexSnapshot(spark, root) === None)
  }

  test("refresh plans from the sidecar: covered files' positions carry, not rescan (poison pin)") {
    val root = tmpRoot("graft_bi5")
    keyedTable(root)                                                       // v1
    Warehouse.indexSnapshot(spark, root, "uid")                            // v2
    // POISON the recorded sidecar: drop every recorded position. A
    // refresh that rescanned the covered files would regenerate them;
    // a refresh that carries (the contract) inherits the empty set and
    // prunes covered files on every probe — observable as a wrong
    // (empty) lookup, proving no rescan happened.
    val idx = s"$root/v=2/_idx"
    val poisoned = spark.read.parquet(idx).limit(0)
    val tmp = tmpRoot("graft_bi5tmp")
    poisoned.write.parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(idx)))
    Warehouse.appendSnapshot(
      Seq((100000L, "fresh-uid", 0L)).toDF("id", "uid", "x"), root, 2L)    // v3
    Warehouse.refreshIndexSnapshot(spark, root)                            // v4
    // carried (poisoned) coverage prunes the old files...
    assert(Warehouse.readSnapshotPoint(spark, root, "uid", uidOf(5L)).isEmpty,
      "old files' positions must come from the sidecar — a rescan would have found this")
    // ...while the freshly scanned file answers correctly
    assert(Warehouse.readSnapshotPoint(spark, root, "uid", "fresh-uid").count() === 1)
  }

  test("retention keeps the _idx sidecar alive while referenced") {
    val root = tmpRoot("graft_bi3")
    keyedTable(root)                                                       // v1
    Warehouse.indexSnapshot(spark, root, "uid")                            // v2
    Warehouse.appendSnapshot(Seq((5000L, "a", 0L)).toDF("id", "uid", "x"), root, 2L) // v3
    Warehouse.appendSnapshot(Seq((5001L, "b", 0L)).toDF("id", "uid", "x"), root, 3L) // v4
    Warehouse.expireSnapshots(spark, root, keepLast = 2)
    assert(new java.io.File(s"$root/v=2/_idx").exists(), "_idx survives while referenced")
    assert(Warehouse.readSnapshotPoint(spark, root, "uid", uidOf(42L)).count() === 1)
  }
}
