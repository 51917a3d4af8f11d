package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** X196 DROP/ADD COLUMN — metadata-only schema evolution over the
  * column map: drops tombstone the physical name, adds mint around
  * frozen bytes, and nothing ever resurrects.
  */
class SchemaEvolveSpec extends SparkSpec {
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

  test("drop: zero files rewritten, column invisible, tombstone + feature recorded") {
    val root = tmpRoot("graft_se1")
    Warehouse.writeSnapshot(
      spark.range(0, 200).toDF("id")
        .withColumn("val", col("id") * 2).withColumn("w", col("id") + 1)
        .repartition(3), root)
    val before = entriesOf(root, 1L)
    val v2 = Warehouse.dropSnapshotColumn(spark, root, "val")
    assert(v2 === 2L)
    assert(entriesOf(root, 2L).toSet === before.map(e => s"v=1/$e").toSet,
      "every data file carried by reference")
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.columns.toSeq === Seq("id", "w"))
    // pinned pre-drop version still sees the column
    assert(Warehouse.readSnapshot(spark, root, Some(1L)).columns.contains("val"))
    val m2 = manifestNode(root, 2L)
    assert(m2.get("droppedColumns").get(0).asText === "val")
    val feats = (0 until m2.get("readerFeatures").size)
      .map(m2.get("readerFeatures").get(_).asText)
    assert(feats.contains("dropped-columns"))
  }

  test("drop then add the same name: old rows NULL, new rows carry values — no resurrection") {
    val root = tmpRoot("graft_se2")
    Warehouse.writeSnapshot(
      spark.range(0, 100).toDF("id").withColumn("score", col("id").cast("double")), root)
    Warehouse.dropSnapshotColumn(spark, root, "score")
    Warehouse.addSnapshotColumn(spark, root, "score", DoubleType)
    // the re-added column maps to a minted physical name
    val cm = manifestNode(root, 3L).get("columnMap")
    assert(cm.get("score").asText === "score__p0")
    val afterAdd = Warehouse.readSnapshot(spark, root)
    assert(afterAdd.columns.toSeq === Seq("id", "score"))
    assert(afterAdd.where(col("score").isNotNull).count() === 0,
      "frozen bytes must not resurrect into the re-added column")
    // appended rows land values under the minted physical name
    Warehouse.appendSnapshot(
      Seq((1000L, 1.5), (1001L, 2.5)).toDF("id", "score"), root, 3L)
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.where(col("score").isNotNull).count() === 2)
    assert(got.where(col("id") < 100L && col("score").isNotNull).count() === 0)
    // the appended file physically carries score__p0, never score
    val raw = spark.read.parquet(s"$root/v=4")
    assert(raw.columns.contains("score__p0") && !raw.columns.contains("score"))
  }

  test("evolveSchema append mints around a renamed-away physical name") {
    val root = tmpRoot("graft_se3")
    Warehouse.writeSnapshot(
      spark.range(0, 50).toDF("id").withColumn("val", col("id") * 7), root)
    Warehouse.renameSnapshotColumn(spark, root, "val", "amount")
    // a NEW column named 'val' — the physical 'val' still holds the
    // old bytes inside v=1's files; identity mapping would read them
    Warehouse.appendSnapshot(
      Seq((2000L, 9L, 42L)).toDF("id", "amount", "val"), root, 2L,
      evolveSchema = true)
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.columns.toSeq === Seq("id", "amount", "val"))
    assert(got.where(col("id") < 50L && col("val").isNotNull).count() === 0,
      "old rows must read the fresh 'val' as NULL, not the frozen bytes")
    assert(got.where(col("id") === 2000L).select("val").as[Long].head() === 42L)
    val cm = manifestNode(root, 3L).get("columnMap")
    assert(cm.get("val").asText === "val__p0")
    assert(cm.get("amount").asText === "val")
  }

  test("drop on the indexed column drops the index; other drops carry it") {
    val root = tmpRoot("graft_se4")
    Warehouse.writeSnapshot(
      spark.range(0, 100).toDF("id")
        .withColumn("k", col("id") * 13).withColumn("w", lit(1L)), root)
    Warehouse.indexSnapshot(spark, root, "k")
    assert(manifestNode(root, 2L).get("idxCol").asText === "k")
    Warehouse.dropSnapshotColumn(spark, root, "w")
    assert(manifestNode(root, 3L).get("idxCol").asText === "k", "unrelated drop carries the index")
    Warehouse.dropSnapshotColumn(spark, root, "k")
    assert(manifestNode(root, 4L).get("idxCol") === null, "index dies with its column")
    assert(Warehouse.readSnapshot(spark, root).columns.toSeq === Seq("id"))
  }

  test("compact clears tombstones; a post-compact re-add is identity and stays NULL") {
    val root = tmpRoot("graft_se5")
    Warehouse.writeSnapshot(
      spark.range(0, 60).toDF("id").withColumn("x", col("id") * 3), root)
    Warehouse.dropSnapshotColumn(spark, root, "x")
    Warehouse.compactSnapshot(spark, root)
    val m3 = manifestNode(root, 3L)
    assert(m3.get("droppedColumns") === null, "full rewrite clears tombstones")
    assert(m3.get("readerFeatures") === null)
    // physically no file carries 'x' any more, so re-add is identity
    Warehouse.addSnapshotColumn(spark, root, "x", LongType)
    assert(manifestNode(root, 4L).get("columnMap") === null)
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.where(col("x").isNotNull).count() === 0)
  }

  test("drop composes with deletion vectors: carried dv state keeps subtracting") {
    val root = tmpRoot("graft_se6")
    Warehouse.writeSnapshot(
      spark.range(0, 100).toDF("id").withColumn("val", col("id") * 2), root)
    Warehouse.deleteWhereDv(spark, root, col("id") < 10L)
    Warehouse.dropSnapshotColumn(spark, root, "val")
    val got = Warehouse.readSnapshot(spark, root)
    assert(got.columns.toSeq === Seq("id"))
    assert(got.count() === 90)
    assert(got.where(col("id") < 10L).count() === 0)
  }

  test("snapshotDiff bridges a rename: feed lands in the TO schema, no phantoms") {
    val root = tmpRoot("graft_se8")
    Warehouse.writeSnapshot(
      spark.range(0, 100).toDF("id").withColumn("val", col("id") * 2)
        .repartition(2), root)                                             // v1
    Warehouse.renameSnapshotColumn(spark, root, "val", "amount")           // v2
    Warehouse.appendSnapshot(Seq((1000L, 7L)).toDF("id", "amount"), root, 2L) // v3
    Warehouse.updateWhere(spark, root, col("id") === 5L,
      Map("amount" -> lit(-5L)))                                           // v4
    val feed = Warehouse.snapshotDiff(spark, root, 1L, 4L, Seq("id"))
    assert(feed.columns.toSet === Set("id", "amount", "_change_type"))
    val rows = feed.select("id", "amount", "_change_type")
      .as[(Long, Long, String)].collect().toSet
    assert(rows === Set((1000L, 7L, "insert"), (5L, -5L, "update")),
      s"got $rows")
    // unpruned diff bridges identically
    val full = Warehouse.snapshotDiff(spark, root, 1L, 4L, Seq("id"), pruneShared = false)
    assert(full.select("id", "amount", "_change_type")
      .as[(Long, Long, String)].collect().toSet === rows)
  }

  test("snapshotDiff across add/drop: added columns surface as NULL-backed updates; added keys refuse") {
    val root = tmpRoot("graft_se9")
    Warehouse.writeSnapshot(
      spark.range(0, 50).toDF("id").withColumn("x", col("id")), root)      // v1
    Warehouse.addSnapshotColumn(spark, root, "tag",
      org.apache.spark.sql.types.LongType)                                 // v2
    // metadata-only add: nothing changed row-wise
    assert(Warehouse.snapshotDiff(spark, root, 1L, 2L, Seq("id")).isEmpty)
    Warehouse.updateWhere(spark, root, col("id") === 3L, Map("tag" -> lit(9L))) // v3
    val feed = Warehouse.snapshotDiff(spark, root, 1L, 3L, Seq("id"))
      .select("id", "x", "tag", "_change_type").as[(Long, Long, Option[Long], String)]
      .collect().toSet
    assert(feed === Set((3L, 3L, Some(9L), "update")))
    // a key that did not exist at the from-version refuses loudly
    intercept[IllegalArgumentException] {
      Warehouse.snapshotDiff(spark, root, 1L, 3L, Seq("tag"))
    }
    // across a drop: the feed simply has the surviving schema
    Warehouse.dropSnapshotColumn(spark, root, "tag")                       // v4
    assert(Warehouse.snapshotDiff(spark, root, 3L, 4L, Seq("id")).isEmpty)
    assert(Warehouse.snapshotDiff(spark, root, 1L, 4L, Seq("id"))
      .columns.toSet === Set("id", "x", "_change_type"))
  }

  test("readChangeFeed bridges schema eras: a range spanning a rename replays in current names") {
    val root = tmpRoot("graft_se10")
    Warehouse.writeSnapshot(
      spark.range(0, 20).toDF("id").withColumn("val", col("id")), root)   // v1
    Warehouse.appendSnapshot(Seq((100L, 1L)).toDF("id", "val"), root, 1L,
      changeFeed = true)                                                  // v2 (old era)
    Warehouse.renameSnapshotColumn(spark, root, "val", "amount")          // v3
    Warehouse.appendSnapshot(Seq((200L, 2L)).toDF("id", "amount"), root, 3L,
      changeFeed = true)                                                  // v4 (new era)
    // the naive glob would silently NULL one era's renamed column;
    // the bridge lands every row under the CURRENT name
    val feed = Warehouse.readChangeFeed(spark, root, 2L, 4L, allowGaps = true)
    assert(feed.columns.toSet === Set("id", "amount", "_change_type", "_commit_version"))
    val rows = feed.select("id", "amount", "_change_type")
      .as[(Long, Long, String)].collect().toSet
    assert(rows === Set((100L, 1L, "insert"), (200L, 2L, "insert")),
      s"old-era feed row must bridge val->amount with its VALUE intact, got $rows")
    // maintenance across the rename: apply the bridged feed
    val agg0 = spark.range(0, 20).toDF("id").withColumn("amount", col("id"))
      .agg(count(lit(1)).as("n"), sum("amount").as("s"))
      .withColumn("g", lit(1)).select("g", "n", "s")
    val maintained = Ivm.maintainAggregate(agg0,
      feed.drop("_commit_version").withColumn("g", lit(1)),
      Seq("g"), Map("s" -> "amount"), "n")
    val r = maintained.select("n", "s").as[(Long, Long)].head()
    assert(r === ((22L, (0L until 20L).sum + 3L)))
    // a single-era range stays on the fast path (exact same rows)
    val one = Warehouse.readChangeFeed(spark, root, 4L, 4L)
    assert(one.select("id").as[Long].collect().toSeq === Seq(200L))
  }

  test("refusals: only column, missing column, existing name") {
    val root = tmpRoot("graft_se7")
    Warehouse.writeSnapshot(spark.range(0, 10).toDF("id"), root)
    intercept[IllegalArgumentException] {
      Warehouse.dropSnapshotColumn(spark, root, "id")
    }
    intercept[IllegalArgumentException] {
      Warehouse.dropSnapshotColumn(spark, root, "nope")
    }
    intercept[IllegalArgumentException] {
      Warehouse.addSnapshotColumn(spark, root, "id", LongType)
    }
  }
}
