package graft.tools

import graft.GraftSession
import graft.store.{Ivm, Warehouse}
import org.apache.spark.sql.functions._

/** 10× scale probe for the r11 write paths — ad-hoc main, companion
  * of [[EraseProbe]]/[[ScaleProbe]].
  *
  * Claims under test:
  *  1. `mergeIntoSnapshot` with a FIXED-SIZE batch costs a discovery
  *     scan (linear in table size, key columns only) plus a rewrite
  *     bounded by the files the batch's keys live in — near-flat at
  *     10× on a key-clustered table, where the full-rewrite merge
  *     (`writeSnapshot(mergeInto(...))`) grows linearly.
  *  2. With `scanBound` on the clustered key, discovery itself opens
  *     only stat-overlapping files — the whole merge goes flat.
  *  3. `Ivm.maintainAggregate` catches a rollup up from the
  *     feed at cost proportional to the FEED, flat in table size; the
  *     recompute it replaces grows linearly.
  *
  * The point is the EXPONENT across 1× → K×, not absolute seconds.
  */
object MergeIvmProbe {
  def time[T](label: String)(f: => T): T = {
    System.gc()
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $label%-52s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val k = args.headOption.map(_.toInt).getOrElse(10)
    spark.range(1000).selectExpr("sum(id)").collect()

    val base = 2000000L
    def mk(n: Long) = spark.range(n).toDF("id")
      .withColumn("g", pmod(col("id") * 7919, lit(1000)))
      .withColumn("v", col("id") % 97)
      .withColumn("payload", md5(col("id").cast("string")))
    // fixed-size batch: 10k keys clustered in one id range + 1k inserts
    def batch(n: Long) = spark.range(0, 10000).toDF("id")
      .union(spark.range(n, n + 1000).toDF("id"))
      .withColumn("g", lit(7L)).withColumn("v", lit(-1L))
      .withColumn("payload", lit("x"))
    val clauses = Seq(
      Warehouse.UpdateWhen(lit(true), Map("v" -> col("s.v"))),
      Warehouse.InsertWhen(lit(true)))

    val tmp = java.nio.file.Files.createTempDirectory("graft_mip").toString
    for ((label, n) <- Seq("1x" -> base, s"${k}x" -> (base * k))) {
      val t = mk(n).localCheckpoint(true)
      val root = s"$tmp/t_$label"
      time(s"snapshot write, id-clustered ($label)") {
        Warehouse.writeSnapshot(t.repartitionByRange(32, col("id")), root)
      }
      val b = batch(n).localCheckpoint(true)
      time(s"mergeIntoSnapshot, unbounded discovery ($label)") {
        Warehouse.mergeIntoSnapshot(spark, root, b, Seq("id"), clauses)
      }
      val b2 = b.withColumn("v", lit(-2L))
      // the bound covers the MATCHED keys only (ids 0..10000) — insert
      // keys touch no existing file and are exempt from the contract
      time(s"mergeIntoSnapshot, scanBound discovery ($label)") {
        Warehouse.mergeIntoSnapshot(spark, root, b2, Seq("id"), clauses,
          scanBound = Some(("id", Some(0L), Some(10000L))))
      }
      // full-rewrite reference: what a merge without file-grain
      // machinery pays — read all, merge, rewrite all
      time(s"full-rewrite merge reference ($label)") {
        val merged = Warehouse.mergeInto(
          Warehouse.readSnapshot(spark, root), b, Seq("id"), clauses)
        Warehouse.commitSnapshot(merged, root,
          Warehouse.currentSnapshot(spark, root))
      }
      // IVM: maintain a (count, sum) rollup from a recorded feed vs
      // recompute over the table
      val preAgg = time(s"rollup recompute, pre-state ($label)") {
        val a = Warehouse.readSnapshot(spark, root).groupBy("g")
          .agg(count(lit(1)).as("n"), sum("v").as("s")).localCheckpoint(true)
        a.count(); a
      }
      val vNext = time(s"updateWhere with changeFeed ($label)") {
        Warehouse.updateWhere(spark, root, col("id") % 5000 === 3,
          Map("v" -> (col("v") + 5)), changeFeed = true)
      }
      time(s"IVM maintainFromWarehouse ($label)") {
        Ivm.maintainFromWarehouse(preAgg, root, Seq("g"),
          vNext, vNext, Map("s" -> "v"), "n").count()
      }
      time(s"rollup full recompute reference ($label)") {
        Warehouse.readSnapshot(spark, root).groupBy("g")
          .agg(count(lit(1)).as("n"), sum("v").as("s")).count()
      }
    }
    spark.stop()
  }
}
