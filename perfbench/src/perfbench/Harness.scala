package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed operation of a workload. `run` is what the client waits
  * on and is the only timed part; `check` validates the result
  * against the benchmark's own model afterwards, untimed. A throw from
  * either marks the op failed. `userBytes` is the UTF-8 CSV size of
  * the rows a write op submits (0 for reads).
  */
final case class Op(kind: String, name: String, userBytes: Long,
                    run: () => Any, check: Any => Unit = _ => ())

/** A benchmark workload. `setup` stages the inputs and builds the
  * structures under `dir` and includes an untimed warm-up pass. `next`
  * yields the closed loop's next op. `finish` runs the end-of-run
  * output checks and reports the workload's accounting.
  */
trait Workload {
  def setup(dir: String): Unit
  def next(): Op
  /** True between cycles of the op schedule: the timed loop stops only
    * there, so every run measures the same op mix.
    */
  def cycleDone: Boolean
  def finish(): Finish
}

/** End-of-run accounting: named output checks (name → error message,
  * empty when the check passed), the directory whose bytes count as
  * stored, the CSV size of the live rows, and workload extras.
  */
final case class Finish(checks: Seq[(String, String)], dataDir: String,
                        liveCsvBytes: Long, extras: Map[String, Double] = Map.empty)

/** Entry point: `Harness <workload> <seed> <seconds> <trace 0|1> <root> <out.json>`.
  * Builds the session, runs the workload's setup, the timed closed loop, the checks, and writes every raw sample to
  * `out.json` for `perfbench/stats.py` to reduce.
  */
object Harness {

  def session(root: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    // Mirrors graft.Bench's session, minus its dev overlays; the local
    // and warehouse dirs stay under the run's root.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, root, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val spark = session(root)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val trace = new Trace(spark, traceS == "1")
    val w: Workload = name match {
      case "daily_tick" => new DailyTick(spark, seed, trace)
      case "warehouse_rw" => new WarehouseRw(spark, seed, trace)
      case "corpus_retrieval" => new CorpusRetrieval(spark, seed, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val codegen0 = Counters.codegenMs()
    val setup0 = System.nanoTime()
    trace.untimed("setup")(w.setup(s"$root/data"))
    val setupS = (System.nanoTime() - setup0) / 1e9
    val codegenSetup = Counters.codegenMs() - codegen0

    val gc0 = Counters.gc()
    val written0 = Counters.bytesWritten()
    val codegen1 = Counters.codegenMs()
    val samples = ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var opId = 0
    while (System.nanoTime() < deadline || !w.cycleDone) {
      val op = trace.untimed("check")(w.next())
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var err = ""
      var endMs = 0L
      var dt = 0L
      try {
        val res = trace.op(opId, op.kind, op.name)(op.run())
        dt = System.nanoTime() - t0
        endMs = System.currentTimeMillis()
        trace.untimed("check")(op.check(res))
      } catch {
        case t: Throwable =>
          if (dt == 0L) { dt = System.nanoTime() - t0; endMs = System.currentTimeMillis() }
          err = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
      }
      samples += Json.obj("id" -> opId, "kind" -> op.kind, "name" -> op.name,
        "ms" -> dt / 1e6, "start_ms" -> startMs, "end_ms" -> endMs,
        "user_bytes" -> op.userBytes, "error" -> err)
      opId += 1
    }
    val timedWritten = Counters.bytesWritten() - written0
    val codegenTimed = Counters.codegenMs() - codegen1
    val gc1 = Counters.gc()
    // full GCs with pauses between, so Spark's ContextCleaner can drop
    // blocks whose last reference the previous GC collected
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val fin = trace.untimed("finish")(w.finish())
    val diskBytes = Counters.dirBytes(fin.dataDir)
    val layer = trace.collect()
    val result = Json.obj(
      "workload" -> name, "seed" -> seed, "session_s" -> sessionS,
      "workload_setup_s" -> setupS,
      "ops" -> Json.Raw(samples.mkString("[", ",", "]")),
      "timed_bytes_written" -> timedWritten, "disk_bytes" -> diskBytes,
      "live_csv_bytes" -> fin.liveCsvBytes, "heap_live_mb" -> heapLiveMb,
      "gc_ms" -> (gc1._1 - gc0._1), "gc_count" -> (gc1._2 - gc0._2),
      "codegen_setup_ms" -> codegenSetup, "codegen_timed_ms" -> codegenTimed,
      "checks" -> Json.Raw(fin.checks.map { case (n, e) =>
        Json.obj("name" -> n, "error" -> e) }.mkString("[", ",", "]")),
      "extras" -> Json.Raw(Json.obj(fin.extras.toSeq: _*)),
      "trace" -> Json.Raw(layer))
    Files.write(Paths.get(out), result.getBytes(UTF_8))
    if (trace.on) trace.writeSpans(s"$out.spans.jsonl")
    spark.stop()
  }
}

/** Process-level counters read around the timed phase. */
object Counters {
  def codegenMs(): Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6

  /** (collection ms, collection count) summed over the JVM's collectors. */
  def gc(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum, bs.map(_.getCollectionCount).sum)
  }

  /** Bytes written through Hadoop `FileSystem` on the local scheme. */
  def bytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
      .collect { case s: org.apache.hadoop.fs.FileSystemStorageStatistics if s.getScheme == "file" =>
        Option(s.getLong("bytesWritten")).map(_.longValue()).getOrElse(0L) }.sum

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** UTF-8 CSV size of rows: one comma between fields, one newline per row. */
  def csvBytes(rows: Iterable[Seq[Any]]): Long =
    rows.iterator.map(r => r.map(v => String.valueOf(v)).mkString(",").getBytes(UTF_8).length + 1L).sum
}

/** Minimal JSON writer for the result file (no JSON library is on the
  * Spark classpath that the benchmark may rely on).
  */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
