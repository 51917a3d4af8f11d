package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's registry and session conf, checked as data:
  * no Spark job, no test data. */
class QueryRegistrySpec extends AnyFunSuite {

  test("rows-only keys are exactly the declared approximate operators") {
    val rowsOnly = SparkEntry.specs.collect { case (k, q) if q.oracle.isEmpty => k }.toSet
    assert(rowsOnly == Set(
      "q_ann_ivf", "q_ann_lsh", "q_ann_pq", "q_approx_distinct",
      "q_compression_ratio", "q_decontam_bloom", "q_dedup_minhash",
      "q_dedup_simhash", "q_embed_kmeans", "q_embed_neardup_lsh",
      "q_embed_pca", "q_quality_classifier", "q_quantiles_approx",
      "q_semantic_dedup"))
  }

  test("no oracle string read an uninitialized val") {
    val hit = SparkEntry.oracleSql.collect { case (k, sql) if sql == null || sql.contains("null") => k }
    assert(hit.isEmpty, s"null or 'null' in the oracle SQL of ${hit.toSeq.sorted}")
  }

  test("GraftSession.conf is the conf Bench and Verify set") {
    for (n <- Seq(4, 32)) {
      val conf = GraftSession.conf(n)
      assert(conf.map(_._1).distinct.size == conf.size, "duplicate conf key")
      assert(conf.toMap == Map(
        "spark.sql.shuffle.partitions" -> n.toString,
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
        "spark.sql.codegen.cache.maxEntries" -> "10000",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false"))
    }
  }

  test("the JSON escaper writes what Python's json reads back") {
    val s = "a\"b\\c\td\re\u0001f"
    // json.dumps(s) in Python
    assert(Verify.jsonString(s) == "\"a\\\"b\\\\c\\td\\re\\u0001f\"")
    assert(new ObjectMapper().readValue(Verify.jsonString(s), classOf[String]) == s)
  }

  test("oracle_sql.json parses back to oracleSql") {
    val f = java.nio.file.Files.createTempFile("oracle_sql", ".json")
    try {
      Verify.writeOracleSql(f.toString)
      val parsed = new ObjectMapper().readValue(f.toFile, classOf[java.util.Map[String, String]])
      import scala.jdk.CollectionConverters._
      assert(parsed.asScala.toMap == SparkEntry.oracleSql)
    } finally java.nio.file.Files.delete(f)
  }
}
