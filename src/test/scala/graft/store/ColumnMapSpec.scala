package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X195 column mapping — RENAME COLUMN as a pure manifest commit:
  * physical names frozen in the files, logical names in the manifest,
  * every reader aliases back and every writer renames forward.
  */
class ColumnMapSpec extends SparkSpec {
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

  test("rename: zero files rewritten, logical schema moves, physical layout frozen") {
    val root = tmpRoot("graft_cm1")
    Warehouse.writeSnapshot(
      spark.range(0, 300).toDF("id").withColumn("val", col("id") * 2)
        .repartition(3), root)
    val before = entriesOf(root, 1L)
    val v2 = Warehouse.renameSnapshotColumn(spark, root, "val", "amount")
    assert(v2 === 2L)
    assert(entriesOf(root, 2L).toSet === before.map(e => s"v=1/$e").toSet,
      "every data file carried by reference")
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.columns.toSeq === Seq("id", "amount"))
    assert(got.agg(sum("amount")).as[Long].head() === (0L until 300L).map(_ * 2).sum)
    // the manifest declares the feature; files still carry 'val'
    val feats = manifestNode(root, 2L).get("readerFeatures")
    assert((0 until feats.size).map(feats.get(_).asText).contains("column-mapping"))
    val raw = spark.read.parquet(s"$root/v=1")
    assert(raw.columns.contains("val") && !raw.columns.contains("amount"))
    // pinned pre-rename version keeps its own names
    assert(Warehouse.readSnapshot(spark, root, Some(1L)).columns.toSeq === Seq("id", "val"))
  }

  test("writes flow through the map: append, update, dv-delete, merge all on the new name") {
    val root = tmpRoot("graft_cm2")
    Warehouse.writeSnapshot(
      spark.range(0, 100).toDF("id").withColumn("val", col("id") * 2), root)
    Warehouse.renameSnapshotColumn(spark, root, "val", "amount")
    Warehouse.appendSnapshot(Seq((1000L, 1L)).toDF("id", "amount"), root, 2L)
    Warehouse.updateWhere(spark, root, col("id") === 5L, Map("amount" -> lit(-5L)))
    Warehouse.deleteWhereDv(spark, root, col("amount") === 14L)   // id=7
    Warehouse.mergeIntoSnapshot(spark, root,
      Seq((3L, 999L), (2000L, 7L)).toDF("id", "amount"), Seq("id"), Seq(
        Warehouse.UpdateWhen(lit(true), Map("amount" -> col("s.amount"))),
        Warehouse.InsertWhen(lit(true))))
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.columns.toSeq === Seq("id", "amount"))
    assert(got.count() === 101)  // 100 - 1 dv + 1 append + 1 insert
    val byId = got.as[(Long, Long)].collect().toMap
    assert(byId(1000L) === 1L && byId(5L) === -5L && byId(3L) === 999L && byId(2000L) === 7L)
    assert(!byId.contains(7L), "dv delete through the map")
    // EVERY data file across versions still uses the physical name
    val allRaw = spark.read.parquet(s"$root/v=*/part-*")
    assert(allRaw.columns.contains("val") && !allRaw.columns.contains("amount"))
  }

  test("renames chain and stats pruning translates to the physical name") {
    val root = tmpRoot("graft_cm3")
    Warehouse.writeSnapshot(
      spark.range(0, 1000).toDF("id").withColumn("val", col("id"))
        .repartitionByRange(4, col("val")), root)
    Warehouse.renameSnapshotColumn(spark, root, "val", "v1")
    Warehouse.renameSnapshotColumn(spark, root, "v1", "v2")
    val cm = manifestNode(root, 3L).get("columnMap")
    assert(cm.get("v2").asText === "val", "chained rename keeps ONE entry to the original")
    assert(cm.get("v1") === null)
    // range read on the renamed column: identical results + real pruning
    val pruned = Warehouse.readSnapshotRange(spark, root, "v2", Some(100L), Some(120L))
    val full = Warehouse.readSnapshot(spark, root).where(col("v2").between(100L, 120L))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // an out-of-domain range prunes every file -> no parquet scan at all
    val none = Warehouse.readSnapshotRange(spark, root, "v2", Some(10000L), Some(20000L))
    assert(!none.queryExecution.executedPlan.toString.contains("Scan parquet"),
      none.queryExecution.executedPlan.toString.take(1200))
    // rename BACK works and re-canonicalizes to an identity-free map
    Warehouse.renameSnapshotColumn(spark, root, "v2", "val")
    assert(manifestNode(root, 4L).get("columnMap") === null)
    assert(manifestNode(root, 4L).get("readerFeatures") === null)
  }

  test("compactSnapshot materializes the rename and drops the map") {
    val root = tmpRoot("graft_cm4")
    Warehouse.writeSnapshot(
      spark.range(0, 50).toDF("id").withColumn("val", col("id")), root)
    Warehouse.renameSnapshotColumn(spark, root, "val", "amount")
    Warehouse.compactSnapshot(spark, root)
    assert(manifestNode(root, 3L).get("columnMap") === null)
    val raw = spark.read.parquet(s"$root/v=3")
    assert(raw.columns.contains("amount") && !raw.columns.contains("val"),
      "full rewrite lands logical names physically")
    assert(Warehouse.readSnapshot(spark, root).columns.toSeq === Seq("id", "amount"))
  }

  test("refusals: duplicate target, missing source, manifest-less table") {
    val root = tmpRoot("graft_cm6")
    Warehouse.writeSnapshot(
      spark.range(0, 10).toDF("id").withColumn("val", col("id")), root)
    intercept[IllegalArgumentException] {
      Warehouse.renameSnapshotColumn(spark, root, "val", "id")
    }
    intercept[IllegalArgumentException] {
      Warehouse.renameSnapshotColumn(spark, root, "nope", "x")
    }
  }
}
