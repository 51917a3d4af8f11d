package graft.tools

/** Dev aid: dump SparkEntry.oracleSql as JSON without running the full
  * Verify materialization — feeds the local DuckDB proxy timing loop.
  */
object DumpSql {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracle_sql.json")
    graft.Verify.writeOracleSql(out)
    println(s"wrote ${graft.SparkEntry.oracleSql.size} entries to $out")
  }
}
