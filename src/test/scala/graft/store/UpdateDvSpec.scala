package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X197 merge-on-read UPDATE — positions recorded for the old copies,
  * post-images landed as fresh files, nothing rewritten.
  */
class UpdateDvSpec extends SparkSpec {
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

  test("update: every existing file carried by reference, post-images in a fresh file") {
    val root = tmpRoot("graft_udv1")
    Warehouse.writeSnapshot(
      spark.range(0, 300).toDF("id").withColumn("val", col("id") * 2)
        .repartition(3), root)
    val before = entriesOf(root, 1L).map(e => s"v=1/$e").toSet
    val v2 = Warehouse.updateWhereDv(spark, root, col("id") < 10L,
      Map("val" -> (col("val") + lit(1000L))))
    assert(v2 === 2L)
    val after = entriesOf(root, 2L).toSet
    assert(before.subsetOf(after), "old files all carried")
    // fresh files are recorded as bare names, resolved against v=2
    assert((after -- before).nonEmpty && (after -- before).forall(!_.contains("/")),
      "fresh post-image file in v=2")
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.count() === 300, "row count conserved")
    val byId = got.as[(Long, Long)].collect().toMap
    assert((0L until 10L).forall(i => byId(i) === i * 2 + 1000L))
    assert(byId(20L) === 40L)
    // O(1) manifest count stays truthful
    assert(Warehouse.snapshotRowCount(spark, root).contains(300L))
  }

  test("updates compose: a second update re-matches the first's post-images") {
    val root = tmpRoot("graft_udv2")
    Warehouse.writeSnapshot(
      spark.range(0, 100).toDF("id").withColumn("val", col("id")), root)
    Warehouse.updateWhereDv(spark, root, col("id") === 5L,
      Map("val" -> lit(500L)))
    Warehouse.updateWhereDv(spark, root, col("val") === 500L,
      Map("val" -> lit(501L)))
    val byId = Warehouse.readSnapshot(spark, root).as[(Long, Long)].collect().toMap
    assert(byId(5L) === 501L)
    assert(byId.size === 100)
  }

  test("composes with dv-delete: deleted rows never update, count right") {
    val root = tmpRoot("graft_udv3")
    Warehouse.writeSnapshot(
      spark.range(0, 100).toDF("id").withColumn("val", col("id")), root)
    Warehouse.deleteWhereDv(spark, root, col("id") < 20L)
    Warehouse.updateWhereDv(spark, root, col("id") < 40L,
      Map("val" -> lit(-1L)))
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.count() === 80)
    assert(got.where(col("val") === -1L).count() === 20, "only live rows 20..39 updated")
    assert(got.where(col("id") < 20L).count() === 0)
  }

  test("no-match is a no-op; typo'd SET throws eagerly") {
    val root = tmpRoot("graft_udv4")
    Warehouse.writeSnapshot(
      spark.range(0, 10).toDF("id").withColumn("val", col("id")), root)
    assert(Warehouse.updateWhereDv(spark, root, col("id") > 1000L,
      Map("val" -> lit(0L))) === 1L)
    intercept[IllegalArgumentException] {
      Warehouse.updateWhereDv(spark, root, col("id") > 1000L,
        Map("nope" -> lit(0L)))
    }
  }

  test("changeFeed records the update_preimage/update pair from matched files only") {
    val root = tmpRoot("graft_udv5")
    Warehouse.writeSnapshot(
      spark.range(0, 50).toDF("id").withColumn("val", col("id")), root)
    Warehouse.updateWhereDv(spark, root, col("id") === 7L,
      Map("val" -> lit(700L)), changeFeed = true)
    val feed = Warehouse.readChangeFeed(spark, root, 2L, 2L)
    val rows = feed.select("id", "val", "_change_type")
      .as[(Long, Long, String)].collect().toSet
    assert(rows === Set((7L, 7L, "update_preimage"), (7L, 700L, "update")))
  }

  test("update through the column map") {
    val root = tmpRoot("graft_udv6")
    Warehouse.writeSnapshot(
      spark.range(0, 30).toDF("id").withColumn("val", col("id") + 1L), root)
    Warehouse.renameSnapshotColumn(spark, root, "val", "amount")
    Warehouse.updateWhereDv(spark, root, col("id") === 3L,
      Map("amount" -> lit(999L)))
    val byId = Warehouse.readSnapshot(spark, root).as[(Long, Long)].collect().toMap
    assert(byId(3L) === 999L)
    // physical layout untouched: files still carry 'val'
    val raw = spark.read.parquet(s"$root/v=*/part-*")
    assert(raw.columns.contains("val") && !raw.columns.contains("amount"))
  }

  test("scanBound prunes discovery but never correctness") {
    val root = tmpRoot("graft_udv7")
    Warehouse.writeSnapshot(
      spark.range(0, 1000).toDF("id").withColumn("val", col("id"))
        .repartitionByRange(4, col("id")), root)
    Warehouse.updateWhereDv(spark, root, col("id").between(100L, 110L),
      Map("val" -> lit(-1L)), scanBound = Some(("id", Some(100L), Some(110L))))
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.where(col("val") === -1L).count() === 11)
    assert(got.count() === 1000)
  }
}
