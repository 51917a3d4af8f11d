package graft.tools

import graft.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** r16 optimization round: per-JOB wall-time attribution for a declared
  * query. Runs the named `SparkEntry.queries` keys through the bench's
  * own noop-sink discipline with a listener that records every Spark
  * job's duration and call site — so a multi-commit choreography key
  * (write + maintain + read) decomposes into "which line of Warehouse
  * submitted the jobs that cost the time", and the gap between the sum
  * of job times and the wall clock exposes DRIVER-side work (manifest
  * footer reads, planning, file listing) that no job accounts for.
  *
  * Usage: runMain graft.tools.QueryProf <sfDir> <q_a,q_b,...> [runs]
  */
object QueryProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val keys = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q_update_dv"))
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.local()
    spark.range(1000).selectExpr("sum(id)").collect()

    // JOB wall time attributed by the job's first stage's call site
    // (StageInfo.name is "op at File.scala:line" — the submitting code
    // line), plus the driver-gap: wall minus job-covered time, i.e.
    // planning / manifest IO / footer reads no job accounts for.
    case class Job(id: Int, site: String, start: Long, var end: Long = -1,
                   tasks: Int = 0, stages: Seq[String] = Nil)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val site = js.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
        jobs(js.jobId) = Job(js.jobId, site, js.time,
          tasks = js.stageInfos.map(_.numTasks).sum,
          stages = js.stageInfos.sortBy(_.stageId).map(_.name).distinct)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(je.jobId).foreach(_.end = je.time)
      }
    })

    for (key <- keys; run <- 1 to runs) {
      jobs.synchronized(jobs.clear())
      System.gc()
      val t0 = System.nanoTime()
      SparkEntryRunner.run(spark, sfDir, key)
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      // settle: listener bus is async
      Thread.sleep(300)
      val snap = jobs.synchronized(jobs.values.toSeq)
      val done = snap.filter(_.end > 0)
      val jobSum = done.map(j => j.end - j.start).sum / 1e3
      println(f"%n=== $key run $run wall=$wall%.2f s, ${done.size} jobs, jobSum=$jobSum%.2f s, driver-gap=${wall - jobSum}%.2f s ===")
      val bySite = done.groupBy(_.site).view
        .mapValues(js => (js.size, js.map(j => j.end - j.start).sum / 1e3)).toSeq
        .sortBy(-_._2._2)
      for ((site, (n, secs)) <- bySite if secs >= 0.01)
        println(f"  $secs%7.3f s  n=$n%-4d $site")
      // the slowest individual jobs, with their task counts and every
      // distinct stage call-site — the per-job view the aggregate hides
      for (j <- done.sortBy(jj => jj.start - jj.end).take(8)
           if j.end - j.start >= 50)
        println(f"    job ${j.id}%-4d ${(j.end - j.start) / 1e3}%6.3f s tasks=${j.tasks}%-5d ${j.stages.mkString(" | ").take(150)}")
    }
    spark.stop()
  }
}

/** Indirection so QueryProf compiles without importing SparkEntry's type. */
object SparkEntryRunner {
  def run(spark: SparkSession, sfDir: String, key: String): Unit =
    graft.SparkEntry.queries(key)(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
}
