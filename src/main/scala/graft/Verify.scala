package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // dev aid: SPARK_GRAFT_VERIFY_ONLY=q_a,q_b dumps a subset (the
    // driver never sets it — full dump by default)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    val failed = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
      .filter { name =>
        try {
          SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          false
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          true
        }
      }
    writeOracleSql(s"$outDir/oracle_sql.json")
    System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(",")}")
    spark.stop()
  }

  /** `SparkEntry.oracleSql` as one JSON object at `path`. */
  def writeOracleSql(path: String): Unit =
    Files.writeString(Paths.get(path), SparkEntry.oracleSql.toSeq.sorted
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}"))

  /** JSON string literal. Escapes backslash, quote and ALL control chars
    * (< 0x20): a tab or CR in an oracle string would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
