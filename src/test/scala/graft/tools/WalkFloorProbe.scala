package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.functions._

/** Ad-hoc decomposition of q_graph_pagerank's wall time at sf0.1 —
  * the r13 verdict asked which component holds the residual over the
  * 1.01 s pre-built-edge walk floor: the co-occurrence edge build, or
  * irreducible per-stage session floor. Times min-of-3 per stage on
  * one warm JVM (the bench harness's isolated conditions):
  *   scan      — lineitem scan + mod-10 filter + noop write
  *   edges     — coOccurrenceEdges(...) full build
  *   walk      — pageRank(3 iters) from a PRE-checkpointed edge frame
  *   full      — the actual q_graph_pagerank body
  * If scan+edges+walk ≈ full, there is no composition overhead and
  * the bar question reduces to whether edges+scan can shrink.
  */
object WalkFloorProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = "/root/testdata/sf0.1"
    spark.range(1000).selectExpr("sum(id)").collect()

    def minOf3(label: String)(f: => Unit): Unit = {
      val ts = (1 to 3).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[walkfloor] $label%-28s min ${ts.min}%6.3f s  (runs ${ts.map(t => f"$t%5.3f").mkString(" ")})")
    }

    def li = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    minOf3("scan+filter")(noop(li))
    minOf3("edge build")(noop(
      graft.ops.Graphs.coOccurrenceEdges(li, "l_orderkey", "l_partkey", maxGroupSize = 10)))
    val edges = graft.ops.Graphs.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
      maxGroupSize = 10).localCheckpoint(true)
    minOf3("walk (pre-built edges)")(noop(
      graft.ops.Graphs.pageRank(edges, iterations = 3, damping = 0.85)
        .select(col("node"), round(col("rank"), 9).as("rank"))))
    minOf3("full q_graph_pagerank")(noop(
      graft.SparkEntry.queries("q_graph_pagerank")(spark, dir)))
    spark.stop()
  }
}
