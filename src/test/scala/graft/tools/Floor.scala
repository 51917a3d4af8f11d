package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ad-hoc floor attribution main — not part of the driver contract.
  * Measures the per-query fixed cost the bench pays on tiny inputs
  * (VERDICT r3: 35 sub-50ms-oracle queries cost 16.1 s) and A/B-tests
  * the candidate cuts: AQE tiny-shuffle coalescing and table-handle
  * reuse.
  */
object Floor {
  def time(label: String)(f: => Unit): Double = {
    System.gc()
    val t0 = System.nanoTime()
    f
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"[floor] $label%-48s $dt%.3f s")
    dt
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = "/root/testdata/sf0.1"
    spark.range(1000).selectExpr("sum(id)").collect()

    val probes: Seq[String] =
      Seq("q_ohlc", "q_ma7", "q_count_day", "q_null_check", "q_set_intersect",
        "q_topk_group", "q_quantiles", "q_rollup", "q_join_bcast", "q_report_window")

    def runAll(tag: String): Unit = {
      // absolute floor: no input at all
      time(s"$tag/noop_range1")(noop(spark.range(1).toDF("id")))
      // one shuffle over 150 rows
      time(s"$tag/agg_150rows")(noop(
        spark.range(150).groupBy((col("id") % 5).as("g")).agg(sum("id").as("s"))))
      // plain scan floor (listing + footer + codegen)
      time(s"$tag/scan_events")(noop(Tables.events(spark, dir)))
      for (rep <- 1 to 2; q <- probes)
        time(s"$tag/$q#$rep")(noop(SparkEntry.queries(q)(spark, dir)))
    }

    runAll("base")

    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    runAll("coalesce")

    // attribution: DataFrame build+analysis vs physical planning vs execution
    println("[floor] --- attribution (warm, coalesce on) ---")
    for (q <- Seq("q_ohlc", "q_ma7", "q_report_window", "q_upsert", "q_rollup")) {
      var df: DataFrame = null
      time(s"attr/$q/build+analyze") { df = SparkEntry.queries(q)(spark, dir) }
      time(s"attr/$q/plan") { df.queryExecution.executedPlan }
      time(s"attr/$q/execute")(noop(df))
    }

    // read-path cost: inference vs declared schema vs reused handle
    println("[floor] --- read cost breakdown ---")
    for (rep <- 1 to 3) time(s"read/events_infer#$rep") { Tables.events(spark, dir) }
    val sch = spark.read.parquet(s"$dir/events.parquet").schema
    for (rep <- 1 to 3) time(s"read/events_declared#$rep") {
      spark.read.schema(sch).parquet(s"$dir/events.parquet")
    }
    val handle = Tables.events(spark, dir)
    for (rep <- 1 to 3) time(s"read/events_reuse_exec#$rep")(noop(handle.select("event_id")))

    // job/stage/task census for one warm tiny query
    val sc = spark.sparkContext
    var jobs = 0; var stages = 0; var tasks = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs += 1; stages += j.stageInfos.size; tasks += j.stageInfos.map(_.numTasks).sum
      }
    }
    sc.addSparkListener(listener)
    time("census/q_ohlc")(noop(SparkEntry.queries("q_ohlc")(spark, dir)))
    Thread.sleep(500) // let the listener bus drain
    println(s"[floor] census/q_ohlc jobs=$jobs stages=$stages tasks=$tasks")

    spark.stop()
  }
}
