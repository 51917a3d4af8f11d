package graft.store

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Crash windows of the [[Commit]] core. For a full-content commit
  * (`commitSnapshot`) and a file-sharing one (`appendSnapshot` with a
  * change feed), a fault thrown after each named step must leave:
  * (1) unpinned readers on exactly the old rows or exactly the new rows;
  * (2) a writer that retries through the txn protocol (skip when its
  *     epoch already landed, else commit against the current version
  *     with `orphanGraceMs = 0`) with the new rows as the newest
  *     version — an append promoted without its manifest is refused
  *     loudly until `vacuum` reaps it;
  * (3) no `_staging-*` debris after `vacuum`.
  */
class CommitCrashSpec extends SparkSpec {
  import spark.implicits._

  private final class Crash(step: Commit.Step) extends RuntimeException(s"crash after $step")

  private val App = ("crash-spec", 1L)

  private def rows(root: String, v: Option[Long] = None): Seq[Long] =
    Warehouse.readSnapshot(spark, root, v).as[Long].collect().toSeq.sorted

  private def staging(root: String): Seq[String] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(root)).toSeq.map(_.getPath.getName).filter(_.startsWith("_staging-"))
  }

  /** `write(root, expectedVersion, orphanGraceMs)` commits the batch
    * once, stamped with epoch `App`; `fresh` is the content after it. */
  private def crashCase(kind: String, step: Commit.Step, fresh: Seq[Long])
                       (write: (String, Long, Long) => Long): Unit = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_crash_$kind").toString + "/t"
    Warehouse.commitSnapshot(spark.range(0, 10).toDF("id"), root, 0L)
    val old = (0L until 10L)
    Commit.afterStep = (p, s) => if (p == root && s == step) throw new Crash(step)
    try intercept[Crash](write(root, 1L, 600000L))
    finally Commit.afterStep = (_, _) => ()
    val seen = rows(root)
    assert(seen == old || seen == fresh, s"$kind after $step: torn read $seen")

    def retry(): Unit = Warehouse.retryOnConflict() {
      if (!Warehouse.lastCommittedEpoch(spark, root, App._1).contains(App._2))
        write(root, Warehouse.currentSnapshot(spark, root), 0L)
    }
    Thread.sleep(5) // the claim and staging leases compare mtimes in ms
    val torn = kind == "appendSnapshot" &&
      (step == Commit.Step.Promote || step == Commit.Step.ChangeFiles)
    if (torn) {
      val e = intercept[IllegalArgumentException](retry())
      assert(e.getMessage.contains("no readable manifest"), e.getMessage)
      Warehouse.vacuum(spark, root, 0L)
    }
    retry()
    assert(rows(root, Some(Warehouse.currentSnapshot(spark, root))) == fresh,
      s"$kind after $step: the newest version must hold exactly the new rows")
    val after = rows(root)
    assert(after == old || after == fresh)
    Thread.sleep(5)
    Warehouse.vacuum(spark, root, 0L)
    assert(staging(root).isEmpty, s"$kind after $step: staging left ${staging(root)}")
  }

  for (step <- Commit.Step.all) {
    test(s"commitSnapshot crashing after $step: old or new rows, a retry commits, vacuum clears staging") {
      crashCase("commitSnapshot", step, 100L until 120L) { (root, expected, grace) =>
        Warehouse.commitSnapshot(spark.range(100, 120).toDF("id"), root, expected,
          orphanGraceMs = grace, txn = Some(App))
      }
    }
    test(s"appendSnapshot crashing after $step: old or new rows, a retry commits, vacuum clears staging") {
      crashCase("appendSnapshot", step, (0L until 10L) ++ (100L until 120L)) {
        (root, expected, grace) =>
          Warehouse.appendSnapshot(spark.range(100, 120).toDF("id"), root, expected,
            orphanGraceMs = grace, changeFeed = true, txn = Some(App))
      }
    }
  }

  test("commitStreamBatch: an epoch that died after its manifest is replayed, and the next epoch keeps its rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_crash_stream").toString + "/t"
    Warehouse.commitSnapshot(spark.range(0, 10).toDF("id"), root, 0L)
    def epoch(n: Long) = spark.range(100 * (n + 1), 100 * (n + 1) + 10).toDF("id")
    Commit.afterStep = (p, s) => if (p == root && s == Commit.Step.Manifest) throw new Crash(s)
    try intercept[Crash](Warehouse.commitStreamBatch(epoch(0), root, "stream", 0L))
    finally Commit.afterStep = (_, _) => ()
    assert(rows(root) == (0L until 10L)) // the pointer did not move
    Warehouse.commitStreamBatch(epoch(0), root, "stream", 0L) // the replay
    Warehouse.commitStreamBatch(epoch(1), root, "stream", 1L)
    assert(rows(root) == (0L until 10L) ++ (100L until 110L) ++ (200L until 210L))
  }
}
