package graft.tools

import graft.GraftSession
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** r16 optimization round: dump `.explain("formatted")` for declared
  * queries into plans/r16/<key>_<suffix>.txt — the before/after plan
  * evidence the round's judge checks claims against. Side-effecting
  * choreography keys execute their writes during construction; the
  * captured plan is the RETURNED DataFrame's (the read the oracle
  * hashes), which is the right artifact for plan-shape claims.
  *
  * Usage: runMain graft.tools.DumpPlans <sfDir> <q_a,q_b|all> <suffix> [outDir]
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val keysArg = args.lift(1).getOrElse("all")
    val suffix = args.lift(2).getOrElse("before")
    val outDir = args.lift(3).getOrElse("plans/r16")
    val spark = GraftSession.local()
    val keys =
      if (keysArg == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else keysArg.split(",").toSeq
    Files.createDirectories(Paths.get(outDir))
    for (key <- keys) {
      try {
        val df = graft.SparkEntry.queries(key)(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${key}_$suffix.txt"), txt)
        println(s"[plans] $key -> $outDir/${key}_$suffix.txt (${txt.length} chars)")
      } catch {
        case t: Throwable =>
          println(s"[plans] $key FAILED: ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
