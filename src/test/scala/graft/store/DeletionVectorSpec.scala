package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X189 deletion vectors — merge-on-read DELETE: positions recorded,
  * no data file rewritten; reads subtract; every rewrite path
  * materializes; retention keeps `_dv` sidecars alive while a live
  * manifest subtracts them.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def manifestNode(root: String, v: Long) = {
    val p = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
      new org.apache.hadoop.fs.Path(s"$root/_manifest-v$v"))
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.toString)), "UTF-8"))
  }

  private def entriesOf(root: String, v: Long): Seq[String] = {
    val node = manifestNode(root, v)
    (0 until node.get("files").size()).map(node.get("files").get(_).asText())
  }

  /** A 3-file table: id 0..299, file boundaries at 100/200. */
  private def threeFileTable(root: String): Unit =
    Warehouse.writeSnapshot(
      spark.range(0, 300).toDF("id")
        .withColumn("bucket", (col("id") / 100).cast("int"))
        .withColumn("s", md5(col("id").cast("string")))
        .repartitionByRange(3, col("bucket")), root)

  test("dv delete: zero data files rewritten, read subtracts, accounting effective") {
    val root = tmpRoot("graft_dv1")
    threeFileTable(root)
    val before = entriesOf(root, 1L)
    val v2 = Warehouse.deleteWhereDv(spark, root, col("id") % 10 === 3)
    assert(v2 === 2L)
    // every data file is carried by reference; the version dir holds
    // only the _dv sidecar and the _partial marker
    val after = entriesOf(root, 2L)
    assert(after.toSet === before.map(e => s"v=1/$e").toSet, s"carried verbatim: $after")
    val dataFiles = new java.io.File(s"$root/v=2").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(dataFiles === Set("_dv", "_partial"), s"dv version dir: $dataFiles")
    // read = table minus matches
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.count() === 270)
    assert(got.where(col("id") % 10 === 3).isEmpty)
    // O(1) row count is EFFECTIVE; per-file dv accounting audits
    assert(Warehouse.snapshotRowCount(spark, root) === Some(270L))
    val files = Warehouse.snapshotFiles(spark, root).collect()
    assert(files.map(_.getLong(4)).sum === 30, "per-file dv_rows must sum to the deletes")
    assert(files.forall(_.getBoolean(3)), "all entries carried by reference")
    // pinned old version unaffected
    assert(Warehouse.readSnapshot(spark, root, Some(1L)).count() === 300)
  }

  test("dv deletes accumulate; an already-deleted row never re-matches") {
    val root = tmpRoot("graft_dv2")
    threeFileTable(root)
    Warehouse.deleteWhereDv(spark, root, col("id") < 50)
    // overlapping predicate: only ids 50..99 are NEW matches
    val v3 = Warehouse.deleteWhereDv(spark, root, col("id") < 100)
    assert(v3 === 3L)
    assert(Warehouse.readSnapshot(spark, root).count() === 200)
    assert(Warehouse.snapshotRowCount(spark, root) === Some(200L))
    val node = manifestNode(root, 3L)
    assert(node.get("dvRefs").size() === 2, "both dv commits referenced")
    // only file 0 (ids 0..99) carries positions; count is exact
    val files = Warehouse.snapshotFiles(spark, root).collect()
    assert(files.map(_.getLong(4)).sum === 100)
    assert(files.count(_.getLong(4) > 0) === 1)
    // no-match predicate: no empty commit
    assert(Warehouse.deleteWhereDv(spark, root, col("id") > 1000000) === 3L)
  }

  test("file rewrites materialize their dv positions; untouched files keep theirs") {
    val root = tmpRoot("graft_dv3")
    threeFileTable(root)
    Warehouse.deleteWhereDv(spark, root, col("id").isin(5, 105, 205))
    // file-grain delete touching bucket 1 only: its dv positions die
    // with the rewrite, buckets 0/2 keep theirs
    Warehouse.deleteWhere(spark, root, col("id") === 150)
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.count() === 296)
    assert(got.where(col("id").isin(5, 105, 150, 205)).isEmpty)
    val files = Warehouse.snapshotFiles(spark, root).collect()
    assert(files.map(_.getLong(4)).sum === 2, "bucket 1's position materialized away")
    // updateWhere on a dv'd table sees live rows only
    Warehouse.updateWhere(spark, root, col("id") === 6, Map("s" -> lit("SIX")))
    val after = Warehouse.readSnapshot(spark, root)
    assert(after.count() === 296)
    assert(after.where(col("s") === "SIX").count() === 1)
    assert(after.where(col("id") === 5).isEmpty, "dv delete survives the update rewrite")
  }

  test("merge on a dv'd table: matched updates see live rows, deletes stay dead") {
    val root = tmpRoot("graft_dv4")
    threeFileTable(root)
    Warehouse.deleteWhereDv(spark, root, col("id") === 10)
    val source = Seq((10L, 0, "resurrect?"), (11L, 0, "updated"), (999L, 9, "new"))
      .toDF("id", "bucket", "s")
    Warehouse.mergeIntoSnapshot(spark, root, source, Seq("id"), Seq(
      Warehouse.UpdateWhen(lit(true), Map("s" -> col("s.s"))),
      Warehouse.InsertWhen(lit(true))))
    val got = Warehouse.readSnapshot(spark, root)
    // id=10 was dv-deleted -> the merge sees it as UNMATCHED -> insert
    assert(got.where(col("id") === 10).select("s").as[String].collect() === Array("resurrect?"))
    assert(got.where(col("id") === 11).select("s").as[String].collect() === Array("updated"))
    assert(got.where(col("id") === 999).count() === 1)
    assert(got.count() === 301)
  }

  test("append carries dv state; compactSnapshot severs it") {
    val root = tmpRoot("graft_dv5")
    threeFileTable(root)
    Warehouse.deleteWhereDv(spark, root, col("id") < 30)                 // v2
    Warehouse.appendSnapshot(
      Seq((500L, 5, "x")).toDF("id", "bucket", "s"), root, 2L)           // v3
    assert(Warehouse.readSnapshot(spark, root).count() === 271)
    assert(Warehouse.snapshotRowCount(spark, root) === Some(271L))
    assert(Warehouse.readSnapshot(spark, root).where(col("id") < 30).isEmpty,
      "carried dv state still subtracts")
    // full compaction materializes: fresh manifest, no dv fields
    Warehouse.compactSnapshot(spark, root)                               // v4
    assert(manifestNode(root, 4L).get("dvRefs") === null)
    assert(Warehouse.readSnapshot(spark, root).count() === 271)
  }

  test("optimizeSnapshot materializes dv positions of packed files only") {
    val root = tmpRoot("graft_dv6")
    // one big base file + tiny appends, then dv-delete rows from the appends
    Warehouse.writeSnapshot(
      spark.range(0, 100000).toDF("id").withColumn("p", md5(col("id").cast("string")))
        .coalesce(1), root)
    (1L to 3L).foreach { i =>
      Warehouse.appendSnapshot(
        Seq((1000000L + i, "x")).toDF("id", "p").coalesce(1), root, i)
    }
    Warehouse.deleteWhereDv(spark, root, col("id") === 1000001L)          // dv on a tiny file
    Warehouse.deleteWhereDv(spark, root, col("id") === 42L)               // dv on the big file
    assert(Warehouse.readSnapshot(spark, root).count() === 100001)
    val res = Warehouse.optimizeSnapshot(spark, root, targetFileBytes = 256 << 10)
    assert(res.isDefined)
    val node = manifestNode(root, res.get._1)
    // the big file still carries its position; the packed small files materialized theirs
    assert(node.get("dvRefs") !== null)
    assert(node.get("dvFiles").size() === 1)
    assert(node.get("dvFiles").get(0).asText().startsWith("v=1/"))
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.count() === 100001)
    assert(got.where(col("id").isin(42L, 1000001L)).isEmpty)
    // purge sweeps the remainder: rewrites ONLY the dv'd big file
    val purged = Warehouse.materializeDeletes(spark, root)
    assert(purged.isDefined)
    val after = manifestNode(root, purged.get._1)
    assert(after.get("dvRefs") === null)
    assert(Warehouse.readSnapshot(spark, root).count() === 100001)
    // idempotent: nothing left to purge
    assert(Warehouse.materializeDeletes(spark, root).isEmpty)
  }

  test("materializeDeletes carries clean files byte-identical") {
    val root = tmpRoot("graft_dv7")
    threeFileTable(root)
    Warehouse.deleteWhereDv(spark, root, col("id") === 7)   // touches bucket 0 only
    val res = Warehouse.materializeDeletes(spark, root)
    assert(res.isDefined)
    val (v3, written) = res.get
    assert(written === 1, "only the dv'd file rewrites")
    val entries = entriesOf(root, v3)
    assert(entries.count(_.startsWith("v=1/")) === 2, "two clean files carried")
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.count() === 299)
    assert(got.where(col("id") === 7).isEmpty)
  }

  test("retention: a _dv sidecar outlives its expired home version while referenced") {
    val root = tmpRoot("graft_dv8")
    threeFileTable(root)                                                   // v1
    Warehouse.deleteWhereDv(spark, root, col("id") === 3)                  // v2 (dv commit)
    Warehouse.appendSnapshot(Seq((900L, 9, "x")).toDF("id", "bucket", "s"), root, 2L) // v3
    Warehouse.appendSnapshot(Seq((901L, 9, "y")).toDF("id", "bucket", "s"), root, 3L) // v4
    val dropped = Warehouse.expireSnapshots(spark, root, keepLast = 2)
    assert(dropped === Seq(1L, 2L))
    // v2's dir survives in expired form, holding the _dv the live
    // manifests still subtract; v1's data files survive as references
    assert(new java.io.File(s"$root/v=2/_dv").exists(), "_dv must survive expiry")
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.count() === 301)
    assert(got.where(col("id") === 3).isEmpty, "deletes survive history expiry")
    // after a purge + two more commits, nothing references the dv -> reaped
    Warehouse.materializeDeletes(spark, root)                              // v5
    Warehouse.appendSnapshot(Seq((902L, 9, "z")).toDF("id", "bucket", "s"), root, 5L) // v6
    Warehouse.expireSnapshots(spark, root, keepLast = 2)
    assert(!new java.io.File(s"$root/v=2/_dv").exists(), "unreferenced _dv reaped")
    assert(Warehouse.readSnapshot(spark, root).count() === 302)
  }

  test("snapshotDiff across a dv commit emits exactly the deletes") {
    val root = tmpRoot("graft_dv9")
    threeFileTable(root)
    Warehouse.deleteWhereDv(spark, root, col("id").isin(1, 101, 201))
    val feed = Warehouse.snapshotDiff(spark, root, 1L, 2L, Seq("id"))
    val rows = feed.select("id", "_change_type").as[(Long, String)].collect().sorted
    assert(rows === Array((1L, "delete"), (101L, "delete"), (201L, "delete")))
  }

  test("changeFeed records the dv-deleted rows; replay law holds") {
    val root = tmpRoot("graft_dv10")
    threeFileTable(root)
    val v2 = Warehouse.deleteWhereDv(spark, root, col("id") % 100 === 9, changeFeed = true)
    val feed = Warehouse.readChangeFeed(spark, root, v2, v2)
    assert(feed.count() === 3)
    assert(feed.select("_change_type").distinct().as[String].collect() === Array("delete"))
    val replayed = Warehouse.applyChangeFeed(
      Warehouse.readSnapshot(spark, root, Some(1L)), feed.drop("_commit_version"), Seq("id"))
    val now = Warehouse.readSnapshot(spark, root, Some(v2))
    assert(replayed.exceptAll(now).isEmpty && now.exceptAll(replayed).isEmpty)
  }

  test("readSnapshotWhere on a dv'd table: pruned read ≡ filtered full read") {
    val root = tmpRoot("graft_dv12")
    threeFileTable(root)
    Warehouse.deleteWhereDv(spark, root, col("id") % 7 === 0)
    val pruned = Warehouse.readSnapshotWhere(spark, root,
      Seq(("id", Some(50L), Some(250L))))
    val full = Warehouse.readSnapshot(spark, root)
      .where(col("id") >= 50 && col("id") <= 250)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }
}
