package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlBridge

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark-side tracing. With `on = false` every method runs its
  * body and records nothing, so the untraced run measures the program
  * alone. With `on = true`:
  *  - spans (name, start, end, parent, op id) are recorded around the
  *    benchmark's calls into the program and written once, at the end;
  *  - each op runs under the job tag `pb-op-<id>` (setup, checks and
  *    the end-of-run pass under `pb-<phase>`), and a SparkListener
  *    registered here attributes jobs, stages, tasks and SQL executions
  *    (by the tags their start events carry; the end event's
  *    QueryExecution gives planning times and scan metrics) to it. A job
  *    with no `pb-` tag — one submitted from a thread that never saw the
  *    tag — is reported unattributed by stats.py, never dropped;
  *  - `count` records a per-op counter measured at a layer boundary.
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private final case class Span(id: Int, parent: Int, op: Int, name: String,
                                start: Long, end: Long)
  private val spans = ArrayBuffer.empty[Span]
  private val counters = ArrayBuffer.empty[String]
  private var stack: List[Int] = Nil
  private var curOp = -1
  private var lastOp = -1
  private var nextSpan = 0
  private val listener = if (on) Some(new Listener) else None
  listener.foreach(sc.addSparkListener)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, curOp, name, t0, System.nanoTime())
      }
    }

  /** Runs one timed op: the root span `op.<name>` under its job tag. */
  def op[T](id: Int, kind: String, name: String)(body: => T): T =
    if (!on) body
    else tagged(s"pb-op-$id") {
      curOp = id
      lastOp = id
      try span(s"op.$name")(body) finally curOp = -1
    }

  /** Untimed work (setup, output checks, the end-of-run pass). */
  def untimed[T](phase: String)(body: => T): T =
    if (!on) body else tagged(s"pb-$phase")(body)

  /** Records a counter for the running op, or with `afterOp` for the op
    * that just ended (counts taken in its untimed check).
    */
  def count(name: String, v: Double, afterOp: Boolean = false): Unit =
    if (on) counters += Json.obj("op" -> (if (afterOp) lastOp else curOp), "name" -> name, "value" -> v)

  private def tagged[T](tag: String)(body: => T): T = {
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  /** The listener-side records as one JSON object ("{}" untraced). */
  def collect(): String = listener match {
    case None => "{}"
    case Some(l) =>
      org.apache.spark.perfbench.Bridge.drain(sc)
      Json.obj(
        "jobs" -> Json.Raw(l.jobs.asScala.mkString("[", ",", "]")),
        "stages" -> Json.Raw(l.stageRecords().mkString("[", ",", "]")),
        "queries" -> Json.Raw(l.queryRecords().mkString("[", ",", "]")),
        "counters" -> Json.Raw(counters.mkString("[", ",", "]")))
  }

  def writeSpans(path: String): Unit =
    Files.write(Paths.get(path), spans.sortBy(_.id).map(s => Json.obj(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end)).mkString("", "\n", "\n").getBytes(UTF_8))

  private final class StageAcc {
    var tasks = 0; var failed = 0; var runMs = 0L
    var input = 0L; var shuffle = 0L; var spill = 0L
    val durs = ArrayBuffer.empty[Long]
  }

  private final class Listener extends SparkListener with AdaptiveSparkPlanHelper {
    val jobs = new ConcurrentLinkedQueue[String]()
    private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()
    private val execTags = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    private val execs = new ConcurrentLinkedQueue[(Long, Double, Long, Long)]()
    private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()

    private def pbTag(tags: Iterable[String]): String =
      tags.find(_.startsWith("pb-")).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      jobStarts.put(e.jobId, (pbTag(tags), e.time, e.stageIds))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (tag, start, stageIds) = Option(jobStarts.remove(e.jobId)).getOrElse(("", e.time, Nil))
      jobs.add(Json.obj("job" -> e.jobId, "tag" -> tag, "start_ms" -> start, "end_ms" -> e.time,
        "stages" -> stageIds, "ok" -> (e.jobResult == JobSucceeded)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
      a.synchronized {
        a.tasks += 1
        if (!e.taskInfo.successful) a.failed += 1
        a.durs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.input += m.inputMetrics.bytesRead
          a.shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execTags.put(s.executionId, pbTag(s.jobTags))
      case s: SparkListenerSQLExecutionEnd => SqlBridge.queryExecution(s).foreach(record(s.executionId, _))
      case _ =>
    }

    def stageRecords(): Seq[String] = stages.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
      val d = a.durs.sorted
      val skew = if (d.size < 2) 1.0 else d.last.toDouble / math.max(d(d.size / 2), 1L)
      Json.obj("stage" -> id, "tasks" -> a.tasks, "failed" -> a.failed, "run_ms" -> a.runMs,
        "input_bytes" -> a.input, "shuffle_bytes" -> a.shuffle, "spill_bytes" -> a.spill,
        "skew" -> skew)
    }

    def queryRecords(): Seq[String] = execs.asScala.toSeq.map { case (id, planMs, files, rows) =>
      Json.obj("exec" -> id, "tag" -> Option(execTags.get(id)).getOrElse(""),
        "plan_ms" -> planMs, "files_read" -> files, "scan_rows" -> rows)
    }

    private def record(id: Long, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum.toDouble
      val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
      execs.add((id, planMs, metric("numFiles"), metric("numOutputRows")))
    }
  }
}
