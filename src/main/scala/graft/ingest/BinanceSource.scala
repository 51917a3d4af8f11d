package graft.ingest

import graft.model.Schemas
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.annotation.tailrec
import scala.util.{Failure, Success, Try}

/** Ingest source — the reference's `extract` task (dag_btc_daily.py:26-104):
  * an HTTP klines fetch (S1) with linear-backoff retry (S2) and an
  * idempotency short-circuit (S3).
  *
  * The fetch itself is injectable (`Fetcher`) because the build/test
  * environment is zero-egress; `HttpFetcher` is the production path
  * (driver-side `java.net.http`, one request per (asset, day) spec),
  * `FixtureFetcher` serves deterministic synthetic klines for tests.
  *
  * Scale: one day × one asset is ≤24 rows — the fetch is driver-side
  * for a single spec, but `fetchMany` distributes a whole backfill
  * (thousands of (asset, day) specs) across executors via a Dataset of
  * specs, so a 10-year × 1000-asset catchup is cluster-parallel, the
  * Spark-native replacement for Airflow catchup=True (SURVEY.md §2.7).
  */
object BinanceSource {

  final case class FetchSpec(asset: String, day: String)

  /** One kline row as fetched (numeric fields as strings, dag:76-80). */
  type Kline = (Long, String, String, String, String, String, Long, String, Long, String, String, String)

  trait Fetcher extends Serializable {
    def fetch(spec: FetchSpec): Seq[Kline]
  }

  /** S2 (dag:64-104): n attempts, linear backoff sleep(step·(i+1)),
    * re-raise the last error.
    */
  @tailrec
  def retry[T](attempts: Int, backoffMs: Long, attempt: Int = 0)(body: => T): T =
    Try(body) match {
      case Success(v) => v
      case Failure(e) if attempt + 1 >= attempts => throw e
      case Failure(_) =>
        Thread.sleep(backoffMs * (attempt + 1))
        retry(attempts, backoffMs, attempt + 1)(body)
    }

  /** Production fetcher skeleton for the Binance klines REST API
    * (public endpoint, dag:55-67). Not exercised in the zero-egress
    * harness; kept driver/executor-safe (no SparkSession capture).
    */
  final class HttpFetcher(baseUrl: String = "https://api.binance.com/api/v3/klines",
                          timeoutSec: Int = 60) extends Fetcher {
    def fetch(spec: FetchSpec): Seq[Kline] = {
      val dayStart = java.time.LocalDate.parse(spec.day).atStartOfDay(java.time.ZoneOffset.UTC)
      val startMs = dayStart.toInstant.toEpochMilli
      val endMs = dayStart.plusDays(1).toInstant.toEpochMilli - 1
      val symbol = spec.asset.replace("-USD", "USDT")
      val url = s"$baseUrl?symbol=$symbol&interval=1h&startTime=$startMs&endTime=$endMs&limit=1000"
      val client = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(timeoutSec)).build()
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(timeoutSec)).GET().build()
      val resp = retry(attempts = 4, backoffMs = 2000) {
        val r = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        require(r.statusCode() == 200, s"HTTP ${r.statusCode()} for $url")
        r.body()
      }
      parseKlines(resp)
    }

    /** Minimal parser for the klines array-of-arrays JSON (no JSON lib
      * beyond Spark's on the classpath; klines are flat arrays of
      * numbers/strings, no nesting or escapes).
      */
    private[ingest] def parseKlines(json: String): Seq[Kline] = {
      // rows may keep stray whitespace/brackets from pretty-printed
      // payloads — trim BEFORE stripping row brackets
      val rows = json.trim.stripPrefix("[").stripSuffix("]").split("\\],\\s*\\[").toSeq
        .map(_.trim.stripPrefix("[").stripSuffix("]").trim).filter(_.nonEmpty)
      rows.map { r =>
        val f = r.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        (f(0).toLong, f(1), f(2), f(3), f(4), f(5), f(6).toLong, f(7), f(8).toLong, f(9), f(10), f(11))
      }
    }
  }

  /** Deterministic synthetic klines for offline tests: 24 hourly rows
    * per day, a seeded price walk per asset.
    */
  final class FixtureFetcher(basePrice: Double = 40000.0) extends Fetcher {
    def fetch(spec: FetchSpec): Seq[Kline] = {
      val dayStart = java.time.LocalDate.parse(spec.day).atStartOfDay(java.time.ZoneOffset.UTC)
      val seed = (spec.asset + spec.day).hashCode
      (0 until 24).map { h =>
        val t = dayStart.plusHours(h).toInstant.toEpochMilli
        // deterministic pseudo-walk; values only need to be stable
        val px = basePrice + math.sin((seed % 1000) + h * 0.7) * 500 + h * 3.0
        val s = "%.2f".format(px)
        (t, s, "%.2f".format(px + 10), "%.2f".format(px - 10), s, "1.0", t + 3599999L, "0", 100L, "0", "0", "0")
      }
    }
  }

  /** S1 for a single spec: fetch on the driver, parallelize into a
    * one-partition DataFrame with the declared kline schema. The
    * empty-input guard (S6) runs here, on the fetched rows, before
    * anything reaches Spark.
    */
  def fetchDay(spark: SparkSession, fetcher: Fetcher, spec: FetchSpec): DataFrame = {
    val rows = fetcher.fetch(spec).map(Row.fromTuple)
    require(rows.nonEmpty, s"empty input: klines ${spec.asset} ${spec.day}")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schemas.klineSchema)
  }

  /** Distributed backfill: the fetch runs ON EXECUTORS, one task per
    * spec partition — the 100 TB-scale ingest shape.
    */
  def fetchMany(spark: SparkSession, fetcher: Fetcher, specs: Seq[FetchSpec]): DataFrame = {
    import spark.implicits._
    val klines = spark.createDataset(specs)
      .repartition(math.min(specs.size, 512))
      .flatMap(spec => fetcher.fetch(spec).map(k => (spec.asset, k)))
      .map { case (asset, k) => (asset, k._1, k._2, k._3, k._4, k._5) }
      .toDF("asset", "open_time", "open", "high", "low", "close")
    klines
  }

  /** S3 (dag:51-53): idempotent extract — skip the fetch when the
    * target artifact already exists non-empty.
    */
  def alreadyExtracted(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && (if (fs.getFileStatus(p).isDirectory)
      fs.getContentSummary(p).getLength > 0 else fs.getFileStatus(p).getLen > 0)
  }
}
