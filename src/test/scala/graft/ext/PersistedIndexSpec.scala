package graft.ext

import graft.SparkSpec
import graft.store.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared build protocol under a REAL crash in its window: the data
  * frame throws mid-write after the stamped side commit has landed — the
  * state a forged side commit only imitates.
  */
class PersistedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val lifecycle = PersistedIndex("TestIndex", "_meta", "bucket",
    "buildTestIndex", (_, _) => None)

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/t"

  /** `n` data rows; the write throws on row `crashAt` (none when < 0). */
  private def rows(n: Int, crashAt: Long = -1L): DataFrame = {
    val crash = udf { (id: Long) =>
      if (id == crashAt) throw new IllegalStateException(s"crash at row $id")
      id
    }
    spark.range(n).select((col("id") % 4).cast("int").as("bucket"),
      crash(col("id")).as("id"))
  }

  private def meta(stamp: Long): DataFrame = Seq((4, stamp)).toDF("nb", "stamp")

  test("a build crashing after its side commit is refused until a rebuild lands") {
    // first build and rebuild: both write paths of the data commit
    Seq(false, true).foreach { rebuild =>
      val root = freshRoot(s"pidx_crash_$rebuild")
      if (rebuild) lifecycle.commitBuild(rows(20), root)(meta)
      val versions = Warehouse.snapshots(spark, root)
      val sideBefore = Warehouse.snapshots(spark, lifecycle.sidePath(root))
      intercept[Exception] { lifecycle.commitBuild(rows(20, crashAt = 7), root)(meta) }
      assert(Warehouse.snapshots(spark, lifecycle.sidePath(root)).length ===
        sideBefore.length + 1, "the stamped side commit landed before the crash")
      val e = intercept[IllegalArgumentException] { lifecycle.requireBuilt(spark, root) }
      assert(e.getMessage.contains("crashed between"), e.getMessage)
      assert(e.getMessage.contains("buildTestIndex"), e.getMessage)
      assert(Warehouse.snapshots(spark, root) === versions,
        "the crashed data commit must leave no version behind")
      val v = lifecycle.commitBuild(rows(30), root)(meta)
      lifecycle.requireBuilt(spark, root)
      assert(Warehouse.currentSnapshot(spark, root) === v)
      assert(Warehouse.readSnapshot(spark, root).count() === 30)
    }
  }

  test("side rows are re-read when a deleted index is rebuilt at the same version") {
    val root = freshRoot("pidx_rebuilt")
    lifecycle.commitBuild(rows(20), root)(meta)
    assert(lifecycle.sideRows(spark, root).map(_.getAs[Int]("nb")).toSeq === Seq(4))
    Seq(root, lifecycle.sidePath(root)).foreach { p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
    }
    lifecycle.commitBuild(rows(20), root) { stamp => Seq((8, stamp)).toDF("nb", "stamp") }
    assert(Warehouse.snapshots(spark, lifecycle.sidePath(root)) === Seq(1L),
      "the rebuilt side table reuses v=1")
    assert(lifecycle.sideRows(spark, root).map(_.getAs[Int]("nb")).toSeq === Seq(8),
      "a memo keyed on the version number alone would serve the deleted table's row")
    lifecycle.requireBuilt(spark, root)
  }
}
