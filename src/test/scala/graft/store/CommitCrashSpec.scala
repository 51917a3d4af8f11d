package graft.store

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** Crash windows of the [[Commit]] core. For a full-content commit
  * (`commitSnapshot`), a file-sharing one (`appendSnapshot` with a
  * change feed), a deletion-vector delete (`deleteWhereDv`) and a
  * copy-on-write delete (`deleteWhere`), a fault thrown after each
  * named step must leave:
  * (1) unpinned readers on exactly the old rows or exactly the new rows;
  * (2) a writer that retries until its write has landed (the txn
  *     protocol for the commits: skip when its epoch already landed,
  *     else commit against the current version with `orphanGraceMs =
  *     0`; the deletes carry no txn stamp, so they re-run while the
  *     deleted rows are still visible) with the new rows as the newest
  *     version — an append promoted without its manifest is refused
  *     loudly until `vacuum` reaps it;
  * (3) no `_staging-*` debris after `vacuum`.
  * A `TextIndex` refresh killed after each step of its postings append
  * must leave the probe on the old snapshot or refusing with a message
  * that names `repairTextIndexMeta`; `vacuum`, that repair when it was
  * named, and a replayed refresh then converge to the postings and
  * corpus scalars of a refresh that was never interrupted.
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

  private def epochLanded(root: String): Boolean =
    Warehouse.lastCommittedEpoch(spark, root, App._1).contains(App._2)

  /** `write(root, expectedVersion, orphanGraceMs)` runs the write once;
    * `fresh` is the content after it, and `landed(root)` tells a retry
    * that the write already took effect. */
  private def crashCase(kind: String, step: Commit.Step, fresh: Seq[Long],
                        landed: String => Boolean = epochLanded)
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
      if (!landed(root)) write(root, Warehouse.currentSnapshot(spark, root), 0L)
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
    def deleted(root: String): Boolean = !rows(root).exists(_ < 5L)
    test(s"deleteWhereDv crashing after $step: old or new rows, a retry commits, vacuum clears staging") {
      crashCase("deleteWhereDv", step, 5L until 10L, deleted) { (root, _, grace) =>
        Warehouse.deleteWhereDv(spark, root, col("id") < 5L, orphanGraceMs = grace)
      }
    }
    test(s"deleteWhere crashing after $step: old or new rows, a retry commits, vacuum clears staging") {
      crashCase("deleteWhere", step, 5L until 10L, deleted) { (root, _, grace) =>
        Warehouse.deleteWhere(spark, root, col("id") < 5L, orphanGraceMs = grace)
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

  // ---- the crash windows of an index refresh (TextIndex postings append) ----

  private val textDoc = (i: Int) =>
    (i.toLong, s"note $i on topic${i % 7} with terms w${i % 11} w${i % 13} and alpha beta")
  private val textQueries: Seq[(Int, Seq[String])] = Seq(1 -> Seq("topic3", "w5"), 2 -> Seq("alpha", "w7"))
  // the refresh batch overlaps the built corpus: its anti-join drops 25..30
  private def textIncrement = (25 to 40).map(textDoc).toDF("doc_id", "text")

  private def builtTextIndex(tag: String): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_crash_$tag").toString + "/t"
    graft.ext.TextIndex.buildTextIndex((1 to 30).map(textDoc).toDF("doc_id", "text"), root,
      bucketCount = 8)
    root
  }

  private def postings(root: String): Seq[(Int, String, Long, Long, Long)] =
    Warehouse.readSnapshot(spark, root).select("bucket", "token", "doc_id", "tf", "dl")
      .as[(Int, String, Long, Long, Long)].collect().toSeq.sorted

  private def corpusScalars(root: String): (Long, Long, Long) =
    Warehouse.readSnapshot(spark, graft.ext.TextIndex.metaPath(root))
      .select("n_docs", "n_dl", "sum_dl").as[(Long, Long, Long)].head()

  private lazy val uninterrupted = {
    val root = builtTextIndex("text_ref")
    graft.ext.TextIndex.refreshTextIndex(textIncrement, root)
    (postings(root), corpusScalars(root))
  }

  for (step <- Commit.Step.all) {
    test(s"refreshTextIndex crashing after $step: old snapshot or a refusal naming the repair; vacuum and a replay converge") {
      // a refusal should come at once: no live refresh is in flight
      spark.conf.set("graft.textindex.syncGraceMs", "0")
      try {
        val root = builtTextIndex("text")
        def probe() = graft.ext.TextIndex.bm25TopKIndexed(spark, root, textQueries, k = 5)
          .collect().map(_.toString).toSet
        val old = probe()
        Commit.afterStep = (p, s) => if (p == root && s == step) throw new Crash(s)
        try intercept[Crash](graft.ext.TextIndex.refreshTextIndex(textIncrement, root))
        finally Commit.afterStep = (_, _) => ()
        val refused =
          try { assert(probe() === old, s"after $step: the probe must serve the old snapshot"); false }
          catch {
            case e: IllegalArgumentException =>
              assert(e.getMessage.contains("repairTextIndexMeta"), e.getMessage)
              true
          }
        Thread.sleep(5) // the staging leases compare mtimes in ms
        Warehouse.vacuum(spark, root, 0L)
        if (refused) graft.ext.TextIndex.repairTextIndexMeta(spark, root)
        if (step == Commit.Step.Claim || step == Commit.Step.Backoff) {
          // the dead refresh's claim keeps its version reserved for the
          // orphan lease (10 minutes by default): a replay inside it
          // loses the claim retry-ably; past it the version is re-claimed
          intercept[Warehouse.SnapshotConflictException](
            graft.ext.TextIndex.refreshTextIndex(textIncrement, root))
          val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.listStatus(new Path(root)).map(_.getPath)
            .filter(m => m.getName.startsWith("_commit-v") &&
              !fs.exists(new Path(root, "v=" + m.getName.stripPrefix("_commit-v"))))
            .foreach(m => fs.setTimes(m, System.currentTimeMillis() - 601000L, -1L))
        }
        graft.ext.TextIndex.refreshTextIndex(textIncrement, root)
        assert(postings(root) === uninterrupted._1, s"after $step: postings diverge")
        assert(corpusScalars(root) === uninterrupted._2, s"after $step: corpus scalars diverge")
        assert(staging(root).isEmpty)
      } finally spark.conf.unset("graft.textindex.syncGraceMs")
    }
  }
}
