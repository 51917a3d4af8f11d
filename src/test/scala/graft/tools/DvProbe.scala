package graft.tools

import graft.GraftSession
import graft.store.Warehouse
import org.apache.spark.sql.functions._

/** 10× scale probe for the r11 merge-on-read + maintenance paths —
  * companion of [[MergeIvmProbe]]/[[EraseProbe]].
  *
  * Claims under test:
  *  1. `deleteWhereDv` (k scattered rows) costs a column-pruned
  *     discovery scan + a k-row sidecar — the WRITE side is flat in
  *     table size, where file-grain `deleteWhere` pays the touched
  *     files' bytes back out and a full rewrite pays the table.
  *  2. `updateWhereDv` same shape (sidecar + k-row post-image file)
  *     vs `updateWhere`'s touched-file rewrite.
  *  3. `refreshIndexSnapshot` after one small append costs the NEW
  *     file's bytes — flat — where the full `indexSnapshot` rebuild
  *     grows linearly.
  *  4. `snapshotExtremes` answers from the manifest driver-side —
  *     near-zero and flat — where the direct aggregate scans.
  *  5. `replaceWhere` of one clustered slice costs that slice's files.
  *
  * The point is the EXPONENT across 1× → K×, not absolute seconds.
  */
object DvProbe {
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

    val tmp = java.nio.file.Files.createTempDirectory("graft_dvp").toString
    for ((label, n) <- Seq("1x" -> base, s"${k}x" -> (base * k))) {
      val t = mk(n).localCheckpoint(true)
      val root = s"$tmp/t_$label"
      time(s"snapshot write, id-clustered ($label)") {
        Warehouse.writeSnapshot(t.repartitionByRange(32, col("id")), root)
      }
      // 1. dv-delete of 400 rows scattered over every file (id % 5000)
      time(s"deleteWhereDv, scattered rows ($label)") {
        Warehouse.deleteWhereDv(spark, root, col("id") % 5000L === 3L)
      }
      // file-grain reference: same predicate shape via one key range
      // per file region — touches files, pays their bytes
      time(s"deleteWhere file-grain reference ($label)") {
        Warehouse.deleteWhere(spark, root, col("id") % 5000L === 7L)
      }
      // 2. dv-update of the same scattered shape vs file-grain update
      time(s"updateWhereDv, scattered rows ($label)") {
        Warehouse.updateWhereDv(spark, root, col("id") % 5000L === 11L,
          Map("v" -> lit(-1L)))
      }
      time(s"updateWhere file-grain reference ($label)") {
        Warehouse.updateWhere(spark, root, col("id") % 5000L === 13L,
          Map("v" -> lit(-2L)))
      }
      // 3. bloom index: full build, small append, incremental refresh
      time(s"indexSnapshot full build ($label)") {
        Warehouse.indexSnapshot(spark, root, "payload")
      }
      val vApp = Warehouse.currentSnapshot(spark, root)
      Warehouse.appendSnapshot(
        mk(1000).withColumn("id", col("id") + n), root, vApp)
      time(s"refreshIndexSnapshot after 1k-row append ($label)") {
        Warehouse.refreshIndexSnapshot(spark, root)
      }
      time(s"indexSnapshot full rebuild reference ($label)") {
        Warehouse.indexSnapshot(spark, root, "payload")
      }
      // 4. extremes from the manifest vs the direct aggregate
      time(s"snapshotExtremes (manifest, dv-aware) ($label)") {
        Warehouse.snapshotExtremes(spark, root, "id").collect()
      }
      time(s"direct min/max aggregate reference ($label)") {
        Warehouse.readSnapshot(spark, root)
          .agg(min("id"), max("id")).collect()
      }
      // 5. replaceWhere one clustered slice (~1/32 of the table)
      val sliceHi = n / 32
      time(s"replaceWhere one clustered slice ($label)") {
        Warehouse.replaceWhere(spark, root, col("id") < sliceHi,
          mk(1000).filter(col("id") < sliceHi),
          scanBound = Some(("id", Some(0L), Some(sliceHi))))
      }
    }
    spark.stop()
  }
}
