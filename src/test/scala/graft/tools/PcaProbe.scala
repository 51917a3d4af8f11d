package graft.tools

import graft.{GraftSession, Tables}
import graft.ops.Mat.MatOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** r17 session-2 probe: is q_pca_power's Gramian pass collapsing to a
  * single post-shuffle partition under AQE coalescing (8.2M window
  * rows on one core), and does an explicit keyed repartition restore
  * the parallelism without changing the ordered-fold bits?
  */
object PcaProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    spark.range(1000).selectExpr("sum(id)").collect()

    val ex = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
      .withColumnRenamed("col", "x")
      .matBoundary
    val wm = Window.partitionBy("pos").orderBy("vec_id")
    val means = ex
      .withColumn("__cs", sum(col("x")).over(
        wm.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(wm))
      .groupBy("pos")
      .agg((max_by(col("__cs"), col("__rn")) / count(lit(1))).as("m"))
    val centered = ex.join(broadcast(means), Seq("pos"))
      .select(col("vec_id"), col("pos"), (col("x") - col("m")).as("c"))
      .matBoundary
    val wg = Window.partitionBy("i", "j").orderBy("vec_id")

    def gBase = centered.as("a").join(centered.as("b"), col("a.vec_id") === col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.pos").as("i"),
        col("b.pos").as("j"), (col("a.c") * col("b.c")).as("p"))

    def gOld = gBase
      .withColumn("__cs", sum(col("p")).over(
        wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(wg))
      .groupBy("i", "j")
      .agg(max_by(col("__cs"), col("__rn")).as("g"))

    val dp = spark.sparkContext.defaultParallelism
    // fan the probe side out BEFORE the d^2 expansion: the map side of
    // the (i,j) exchange then writes its 8.2M product rows from dp
    // tasks instead of the scan's single task
    def gNew = centered.repartition(dp, col("vec_id")).as("a")
      .join(centered.as("b"), col("a.vec_id") === col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.pos").as("i"),
        col("b.pos").as("j"), (col("a.c") * col("b.c")).as("p"))
      .repartition(dp, col("i"), col("j"))
      .withColumn("__cs", sum(col("p")).over(
        wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("i", "j")
      .agg(max_by(col("__cs"), col("vec_id")).as("g"))

    // warm
    gOld.collect(); gNew.collect()
    // the Gramian subtree is evaluated during plan CONSTRUCTION (the
    // returned frame is a LocalTableScan of the collected direction),
    // so the before/after plan evidence for q_pca_power is THIS
    // subplan pair, not DumpPlans' returned-frame dump
    if (args.length > 1 && args(1) == "dump") {
      import org.apache.spark.sql.execution.FormattedMode
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("plans/r17/q_pca_power_gramian_before.txt"),
        gOld.queryExecution.explainString(FormattedMode))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("plans/r17/q_pca_power_gramian_after.txt"),
        gNew.queryExecution.explainString(FormattedMode))
      println("[pca] gramian subplans dumped")
    }
    for (r <- 1 to 3) {
      System.gc()
      var t0 = System.nanoTime()
      val a = gOld.collect()
      val tOld = (System.nanoTime() - t0) / 1e9
      System.gc()
      t0 = System.nanoTime()
      val b = gNew.collect()
      val tNew = (System.nanoTime() - t0) / 1e9
      val ka = a.map(r0 => (r0.getInt(0), r0.getInt(1)) -> r0.getDouble(2)).toMap
      val kb = b.map(r0 => (r0.getInt(0), r0.getInt(1)) -> r0.getDouble(2)).toMap
      val same = ka.size == kb.size && ka.forall { case (k, v) =>
        java.lang.Double.doubleToRawLongBits(kb(k)) == java.lang.Double.doubleToRawLongBits(v)
      }
      println(f"[pca] run $r old=$tOld%.2f s new=$tNew%.2f s bitIdentical=$same")
    }
    spark.stop()
  }
}
