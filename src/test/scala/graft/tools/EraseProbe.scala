package graft.tools

import graft.GraftSession
import graft.store.Warehouse
import org.apache.spark.sql.functions._

/** 10× scale probe for the r10 erase path — ad-hoc main, not part of
  * the driver contract (companion of [[ScaleProbe]]).
  *
  * The claims under test (SCALE.md "Row-level deletes never rewrite
  * the table"):
  *  1. `deleteWhere` cost = one column-pruned discovery scan plus a
  *     rewrite bounded by the TOUCHED files — so the rewrite half
  *     stays flat as the table grows 10×, and only the discovery scan
  *     grows (linearly).
  *  2. With a `scanBound` on a clustered table the discovery itself
  *     opens only stat-overlapping candidate files — near-constant in
  *     table size.
  *  3. A full `compactSnapshot` for reference: the cost deleteWhere
  *     avoids (the whole-table rewrite a partition-overwrite erase
  *     would pay).
  *
  * The point is the EXPONENT across 1× → K×, not absolute seconds.
  */
object EraseProbe {
  def time(label: String)(f: => Long): Unit = {
    System.gc()
    val t0 = System.nanoTime()
    val n = f
    println(f"[erase] $label%-46s ${(System.nanoTime() - t0) / 1e9}%7.2f s  (-> $n)")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val k = args.headOption.map(_.toInt).getOrElse(10)
    spark.range(1000).selectExpr("sum(id)").collect()

    // sf0.1 events (100k rows) is job-overhead-dominated; synthesize a
    // 2M-row base (≈100 MB parquet with the md5 payload) so the 10×
    // table is ~1 GB and scan/rewrite costs dominate the fixed floor
    val base = 2000000L
    def mk(n: Long) = spark.range(n).toDF("event_id")
      .withColumn("user_id", pmod(col("event_id") * 7919, lit(50000)))
      .withColumn("payload", md5(col("event_id").cast("string")))
    val ev1 = mk(base).localCheckpoint(true)
    val evK = mk(base * k).localCheckpoint(true)
    println(s"[erase] rows 1x=${ev1.count()} ${k}x=${evK.count()}")

    val tmp = java.nio.file.Files.createTempDirectory("graft_erase").toString
    for ((label, t) <- Seq("1x" -> ev1, s"${k}x" -> evK)) {
      val root = s"$tmp/t_$label"
      // user_id-clustered layout (1-D z-order = range clustering), so
      // manifest stats are tight on the erase key — the layout a table
      // that expects compliance erases should buy at compaction time
      time(s"snapshot write, user-clustered ($label)") {
        Warehouse.writeSnapshot(
          graft.ops.Layout.zorder(t, Seq("user_id"), 32), root)
      }
      val victims = t.select("user_id").distinct().orderBy("user_id")
        .limit(5).collect().map(_.getLong(0))
      time(s"deleteWhere, unbounded discovery ($label)") {
        Warehouse.deleteWhere(spark, root, col("user_id") === victims(0))
      }
      time(s"deleteWhere, scanBound candidates ($label)") {
        Warehouse.deleteWhere(spark, root, col("user_id") === victims(1),
          scanBound = Some(("user_id", Some(victims(1)), Some(victims(1)))))
      }
      // r11 deletion vectors: same erase, no file rewritten at all —
      // the write half drops from touched-file bytes to matched rows
      time(s"deleteWhereDv, unbounded discovery ($label)") {
        Warehouse.deleteWhereDv(spark, root, col("user_id") === victims(2))
      }
      time(s"deleteWhereDv, scanBound candidates ($label)") {
        Warehouse.deleteWhereDv(spark, root, col("user_id") === victims(3),
          scanBound = Some(("user_id", Some(victims(3)), Some(victims(3)))))
      }
      // the merge-on-read tax: full-scan count with the position
      // anti-join live, vs after the purge materializes it away
      time(s"full read count, dv live ($label)") {
        Warehouse.readSnapshot(spark, root).count()
      }
      time(s"materializeDeletes, file-grain purge ($label)") {
        Warehouse.materializeDeletes(spark, root).map(_._1).getOrElse(0L)
      }
      time(s"full read count, post-purge ($label)") {
        Warehouse.readSnapshot(spark, root).count()
      }
      time(s"compactSnapshot, full rewrite ref ($label)") {
        Warehouse.compactSnapshot(spark, root)._1
      }
    }
    spark.stop()
  }
}
