package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Model-based randomized test of the snapshot warehouse write surface:
  * a fixed-seed random sequence of writes, row-level deletes/updates,
  * clustered/plain compactions, expirations and vacuums runs against
  * BOTH the real warehouse and a trivial in-memory model
  * (`Map[id -> value]` + a version history), asserting full read
  * equivalence after every step and pinned-version equivalence for
  * every version the model says must still be readable.
  *
  * The point is COMPOSITION coverage: the hand-written specs each pin
  * one operator; the hazards this layer has actually had (r9's
  * compact-invalidates-manifests, r10's expire-vs-file-sharing
  * reachability, vacuum reaping referenced partials) all live in
  * operator SEQUENCES. A hundred random steps walk those sequences.
  */
class SnapshotModelSpec extends SparkSpec {
  import spark.implicits._

  private def tableState(root: String, version: Option[Long] = None): Map[Long, Double] =
    Warehouse.readSnapshot(spark, root, version)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("random delete/update/compact/expire sequences match the in-memory model") {
    val root = java.nio.file.Files.createTempDirectory("graft_model").toString + "/t"
    val rnd = new scala.util.Random(4242L)

    // initial state: 200 rows over 4 range files so deletes/updates
    // touch a strict subset of files most of the time
    var model: Map[Long, Double] = (0L until 200L).map(i => i -> (i * 1.5)).toMap
    def toDf(m: Map[Long, Double]) =
      m.toSeq.sortBy(_._1).toDF("id", "v")
    Warehouse.writeSnapshot(toDf(model).repartitionByRange(4, col("id")), root)
    // version -> expected state for every version not yet expired
    var history = Map(1L -> model)
    var live = 1L

    val ops = Seq("delete", "update", "deleteMany", "compact", "compactClustered",
      "expire", "vacuum", "rewrite", "rollback")
    for (step <- 1 to 60) {
      val op = ops(rnd.nextInt(ops.length))
      op match {
        case "delete" =>
          val id = rnd.nextLong(250) // sometimes absent -> no-op path
          val v = Warehouse.deleteWhere(spark, root, col("id") === id)
          if (model.contains(id)) {
            model -= id
            assert(v === live + 1, s"step $step: delete must commit a new version")
            live = v; history += live -> model
          } else assert(v === live, s"step $step: no-match delete must not commit")
        case "deleteMany" =>
          val mod = 2 + rnd.nextInt(5)
          val v = Warehouse.deleteWhere(spark, root, col("id") % mod === 0)
          val hit = model.keySet.filter(_ % mod == 0)
          if (hit.nonEmpty) {
            model --= hit; live = v; history += live -> model
          } else assert(v === live)
        case "update" =>
          val id = rnd.nextLong(250)
          val v = Warehouse.updateWhere(spark, root, col("id") === id,
            Map("v" -> (col("v") + 10000)))
          if (model.contains(id)) {
            model += id -> (model(id) + 10000)
            live = v; history += live -> model
          } else assert(v === live)
        case "compact" =>
          val (v, _) = Warehouse.compactSnapshot(spark, root)
          live = v; history += live -> model
        case "compactClustered" =>
          val (v, _) = Warehouse.compactSnapshot(spark, root,
            targetFileBytes = 4096, clusterCols = Seq("id"))
          live = v; history += live -> model
        case "expire" =>
          val keep = 1 + rnd.nextInt(3)
          val dropped = Warehouse.expireSnapshots(spark, root, keepLast = keep)
          history --= dropped
          dropped.foreach { dv =>
            intercept[Exception] { tableState(root, Some(dv)) }
          }
        case "vacuum" =>
          Warehouse.vacuum(spark, root, graceMs = 0L)
        case "rollback" =>
          // restore a random still-live historical version: a full
          // commit of its pinned read (restoring the live one is a no-op)
          val targets = history.keys.toSeq.sorted
          val target = targets(rnd.nextInt(targets.length))
          if (target != live) {
            val v = Warehouse.commitSnapshot(
              Warehouse.readSnapshot(spark, root, Some(target)), root, live)
            assert(v === live + 1, s"step $step: a restore must commit a new version")
            model = history(target)
            live = v; history += live -> model
          }
        case "rewrite" =>
          // a fresh full write (the nightly-batch shape) — also
          // re-fragments the layout so later deletes touch subsets
          model = model.map { case (k, v) => k -> (v + 1) } +
            ((1000L + step) -> step.toDouble)
          val v = Warehouse.commitSnapshot(
            toDf(model).repartitionByRange(4, col("id")), root,
            expectedVersion = live)
          live = v; history += live -> model
      }
      // full-read equivalence after EVERY step
      assert(tableState(root) === model, s"step $step ($op): latest diverged from model")
      assert(Warehouse.currentSnapshot(spark, root) === live, s"step $step ($op)")
      // every unexpired version stays readable and exact (snapshot
      // isolation across arbitrary later writes/compactions/erases)
      history.foreach { case (ver, st) =>
        assert(tableState(root, Some(ver)) === st,
          s"step $step ($op): pinned v=$ver diverged")
      }
      // manifest row accounting stays truthful
      Warehouse.snapshotRowCount(spark, root).foreach { rc =>
        assert(rc === model.size.toLong, s"step $step ($op): manifest rowCount")
      }
    }
  }
}
