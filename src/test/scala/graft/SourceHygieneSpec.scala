package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level hygiene guards for anti-patterns that type-check fine
  * and pass correctness but regress at scale.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(dir)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p)))
      .toSeq
  }

  private def mainSources: Seq[(String, String)] = sources("src/main/scala")

  test("no wide-decimal aggregation buffers: sum over a .cast(\"decimal\") column") {
    // sum(decimal(p,s)) allocates a precision p+10 BigDecimal buffer per
    // group — the 5-10x slower path ExactSums exists to avoid. The
    // DuckDB oracle strings legitimately use `sum(CAST(x AS DECIMAL))`
    // (that IS the oracle's exact form); this regex matches only the
    // Scala Column API spelling.
    val re = """sum\([^)]*\.cast\("decimal""".r
    val hits = mainSources.flatMap { case (path, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$path:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"wide-decimal sum buffers found — use ExactSums:\n${hits.mkString("\n")}")
  }

  /** Public `Warehouse` defs that no main-scope or perfbench caller
    * reaches, each kept for a named reason. A def on neither side fails
    * the audit below: give it a caller, a reason here, or delete it. */
  private val warehouseKeepList = Map(
    "vacuumTable" -> "crash repair: reaps or restores rewriteAtomic/appendAtomic debris",
    "expireSnapshots" -> "the retention sweep expireSnapshotsOlderThan reduces to",
    "expireSnapshotsOlderThan" -> "maintainSnapshot's retention step",
    "optimizeSnapshot" -> "maintainSnapshot's small-file step",
    "materializeDeletes" -> "maintainSnapshot's deletion-vector purge",
    "compactAnalyzeSidecars" -> "maintainSnapshot's synopsis/histogram sidecar sweep",
    "compactSnapshot" -> "the full clustered rewrite the pruning and erase specs lay tables out with",
    "applyChangeFeed" -> "spec reference: the replay readChangeFeed is checked against",
    "changeFeedVersions" -> "the recorded-feed list behind readChangeFeed's gap rule",
    "snapshotExpectations" -> "the declared rules the expectation gate and describeSnapshot read",
    "dropSnapshotExpectation" -> "the inverse of setSnapshotExpectation",
    "snapshotGenerated" -> "the declared rules the generated-column gate and describeSnapshot read",
    "dropGeneratedColumn" -> "the inverse of setGeneratedColumn",
    "synopsesPath" -> "the side table analyzeSnapshot writes and ndvSnapshot reads",
    "histogramsPath" -> "the side table analyzeHistogram writes and histogramSnapshot reads",
    "joinAdvice" -> "the advice joinSnapshots applies, exposed for its plan specs",
    "estimateRows" -> "the histogram row estimate behind joinAdvice's build-side choice",
    "recordedNdv" -> "the ANALYZE lookup joinAdvice reads",
    "recordedMaxBinRows" -> "the histogram lookup joinAdvice reads",
    "compact" -> "the plain-parquet small-file fold, the snapshot compaction's counterpart",
    "overwrite" -> "S10: the reference DAG's plain full rewrite",
    "writePartitioned" -> "the partitioned layout readPartitions and overwritePartitions serve")

  test("every public Warehouse def has a main-scope or perfbench caller, or a named keep reason") {
    val wh = "src/main/scala/graft/store/Warehouse.scala"
    val defRe = """(?m)^  def (\w+)""".r
    val publicDefs = defRe.findAllMatchIn(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(wh))))
      .map(_.group(1)).toSet
    val callers = (mainSources ++ sources("perfbench/src"))
      .filterNot { case (path, _) => path.endsWith("store/Warehouse.scala") }
      .map(_._2)
    def called(name: String): Boolean = {
      val re = ("""Warehouse\.""" + name + """\b""").r
      callers.exists(re.findFirstIn(_).isDefined)
    }
    val unreached = publicDefs.toSeq.sorted.filterNot(n => called(n) || warehouseKeepList.contains(n))
    assert(unreached.isEmpty,
      s"public Warehouse defs with no caller and no keep reason: ${unreached.mkString(", ")}")
    val stale = warehouseKeepList.keySet.diff(publicDefs)
    assert(stale.isEmpty, s"keep-list entries that name no public Warehouse def: ${stale.mkString(", ")}")
  }
}
