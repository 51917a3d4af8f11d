package graft

import graft.ext.{Contamination, CorpusPipeline, Dedup, Multimodal, Pii, Similarity, TextAnalysis}
import graft.ops.{Indicators, Normalize, Ohlc, Relational, TotalOrder}
import graft.store.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One declared query key of the driver contract.
  *
  * @param plan     the key's Spark plan over the parquet tables in `dir`.
  * @param oracle   equivalent ANSI SQL that DuckDB runs over the same
  *                 tables, hash-compared with the plan's result. `None`
  *                 declares the key rows-only: an approximate operator
  *                 (sketch, LSH, k-means, PCA, trained model, …) whose
  *                 output no exact SQL recomposes; its guarantees live
  *                 in the specs instead.
  * @param isolated Bench also measures the key min-of-5 on the still
  *                 fresh JVM, before the suite passes, and reports it in
  *                 a separate `isolated` map. Set for keys that build
  *                 persisted structures or carry heavy JIT/heap warm-up
  *                 in their timed region: their in-suite number mixes in
  *                 the neighbours' GC/JIT churn (measured up to +35%,
  *                 docs/SCALE.md "In-suite vs isolated"), and iterative
  *                 keys still descend at run 3 on a fresh JVM.
  */
final case class QuerySpec(
    plan: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    isolated: Boolean = false)

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2 appears as one `specs` entry: its
  * plan and, unless rows-only, matching ANSI SQL (DuckDB) over the
  * same parquet tables. Column names/aliases are kept identical on
  * both sides — the driver's compare sorts columns by name before
  * hashing.
  *
  * The `events` table plays the reference's raw_prices fact table
  * (FIXTURES.md §B role mapping): ts→ts_utc, event_type→asset,
  * value→price.
  */
object SparkEntry {

  /** Scan-format staging dirs (CSV/JSONL) already written by this JVM
    * (see q_scan_csv / q_scan_jsonl). */
  private val stagedScanDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run `write` exactly once per staging dir per JVM — and if the
    * write THROWS, un-claim the dir so the next caller retries instead
    * of reading a missing/partial directory for the rest of the JVM.
    */
  private def stageOnce(out: String)(write: => Unit): Unit =
    if (stagedScanDirs.add(out)) {
      try write
      catch { case e: Throwable => stagedScanDirs.remove(out); throw e }
    }

  /** The greedy token-packed documents frame feeds two keys
    * (q_pack_sequences and q_pack_util); staged ONCE per JVM per sfDir
    * as a parquet stage table so a suite pass pays the two-pass range-
    * partitioned prefix sum once instead of twice (VERDICT r6 #4).
    * A stage table rather than `.persist`: it survives cross-query
    * cache cleanup, and it is the cluster-correct shape anyway — a
    * pipeline checkpoints its packing assignment to storage, it does
    * not pin it in executor memory (docs/SCALE.md). Same pid-scoped
    * staging discipline as q_scan_csv.
    */
  private def packedDocs(s: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_packed_" +
      s"${ProcessHandle.current().pid()}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    stageOnce(out) {
      TotalOrder.packSequences(
        Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        Seq(col("doc_id")), "n_tokens", maxTokens = 512)
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(out)
  }

  /** Overlap two INDEPENDENT commit chains (guide §2.6: Spark's
    * scheduler runs several jobs at once; actions are only sequential
    * because driver code calls them sequentially). `a` runs on a pool
    * thread while `b` runs on the caller's; both must target DISJOINT
    * tables, so the commits can never CAS-conflict and the final
    * content is order-independent — same commits, same versions per
    * table, same read. At sf0.1 each bounded job uses 3-8 of 32 cores,
    * so the overlap back-fills idle cores; at scale it hides one
    * chain's per-commit planning/commit floor behind the other's
    * compute. Failures propagate from both sides (r17).
    */
  private def inParallel[A, B](a: => A)(b: => B): (A, B) = {
    val fa = scala.concurrent.Future(a)(scala.concurrent.ExecutionContext.global)
    val rb =
      try b
      catch {
        case t: Throwable =>
          // drain the overlapped chain before propagating — a stray
          // background job must not leak into whatever runs next
          try scala.concurrent.Await.ready(fa,
            scala.concurrent.duration.Duration.Inf)
          catch { case _: InterruptedException => () }
          throw t
      }
    (scala.concurrent.Await.result(fa, scala.concurrent.duration.Duration.Inf), rb)
  }

  /** Max doc id via a bounded scalar probe — 0 on an empty table (the
    * head() row's max is NULL there; getLong would NPE). */
  private def maxDocId(docs: DataFrame): Long = {
    val r = docs.agg(max(col("doc_id"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Daily OHLC per asset from the events fact table. */
  private def dailyOhlc(s: SparkSession, dir: String): DataFrame =
    Ohlc.daily(Tables.prices(s, dir))

  /** OHLC + rolling indicators (the reference's daily_metrics). */
  private def enriched(s: SparkSession, dir: String): DataFrame =
    Indicators.enrich(dailyOhlc(s, dir))

  /** Shared oracle CTEs mirroring dailyOhlc/enriched. */
  private val dailyCte =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS date, event_type AS asset,
      |         arg_min(value, ts) AS open, max(value) AS high,
      |         min(value) AS low, arg_max(value, ts) AS close
      |  FROM events GROUP BY 1, 2
      |)""".stripMargin

  private val enrichedCte = dailyCte +
    """, ret_t AS (
      |  SELECT *, close / lag(close) OVER (PARTITION BY asset ORDER BY date) - 1 AS ret
      |  FROM daily
      |), enriched AS (
      |  SELECT *,
      |    CASE WHEN count(close) OVER w7 >= 7 THEN avg(close) OVER w7 END AS ma7,
      |    CASE WHEN count(close) OVER w30 >= 30 THEN avg(close) OVER w30 END AS ma30,
      |    CASE WHEN count(ret) OVER w30 >= 30 THEN stddev_samp(ret) OVER w30 END AS vol30
      |  FROM ret_t
      |  WINDOW w7 AS (PARTITION BY asset ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
      |         w30 AS (PARTITION BY asset ORDER BY date ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
      |)""".stripMargin

  /** Shared oracle for q_merge and q_merge_snapshot — identical MERGE
    * clause semantics; the snapshot variant exercises the file-grain
    * committed-table write path against the same recomposition. */
  private val mergeOracleSql = enrichedCte +
    """, tgt AS (
      |  SELECT date, asset, open, high, low, close, ret FROM enriched WHERE date < DATE '2024-01-21'
      |), src AS (
      |  SELECT date, asset, open * 2 AS open, high * 2 AS high, low * 2 AS low, close * 2 AS close
      |  FROM daily WHERE date >= DATE '2024-01-15'
      |)
      |SELECT COALESCE(t.date, s.date) AS date, COALESCE(t.asset, s.asset) AS asset,
      |  CASE WHEN t.date IS NOT NULL AND s.date IS NOT NULL AND s.date >= DATE '2024-01-19' THEN s.open
      |       WHEN t.date IS NULL THEN s.open ELSE t.open END AS open,
      |  CASE WHEN t.date IS NOT NULL AND s.date IS NOT NULL AND s.date >= DATE '2024-01-19' THEN s.high
      |       WHEN t.date IS NULL THEN s.high ELSE t.high END AS high,
      |  CASE WHEN t.date IS NOT NULL AND s.date IS NOT NULL AND s.date >= DATE '2024-01-19' THEN s.low
      |       WHEN t.date IS NULL THEN s.low ELSE t.low END AS low,
      |  CASE WHEN t.date IS NOT NULL AND s.date IS NOT NULL AND s.date >= DATE '2024-01-19' THEN s.close
      |       WHEN t.date IS NULL THEN s.close ELSE t.close END AS close,
      |  t.ret AS ret
      |FROM tgt t FULL JOIN src s ON t.date = s.date AND t.asset = s.asset
      |WHERE NOT (t.date IS NOT NULL AND s.date IS NOT NULL AND s.date <= DATE '2024-01-16')
      |  AND NOT (t.date IS NULL AND s.date < DATE '2024-01-25')""".stripMargin

  /** `dailyCte` under a RECURSIVE with-clause — DuckDB applies the
    * RECURSIVE keyword to the whole WITH list, so the recursive
    * indicator oracles share the same daily CTE text verbatim. */
  private val dailyCteRec = dailyCte.replaceFirst("WITH ", "WITH RECURSIVE ")

  /** Shared oracle for q_incr_dedup and q_incr_dedup_bloom (the Bloom
    * screen is result-invariant — no false negatives). */
  private val incrDedupOracle =
    """WITH t AS (SELECT doc_id,
      |             string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS toks
      |           FROM documents),
      |n AS (SELECT doc_id,
      |        array_to_string(list_filter(toks, (tk, i) -> i = 1 OR toks[i-1] <> tk), ' ') AS norm_text
      |      FROM t),
      |h AS (SELECT doc_id, md5(norm_text) AS dedup_key FROM n),
      |thr AS (SELECT (max(doc_id)*4)//5 AS v FROM documents)
      |SELECT min(doc_id) AS doc_id, dedup_key, count(*) AS n_dups
      |FROM h
      |WHERE doc_id >= (SELECT v FROM thr)
      |  AND dedup_key NOT IN (SELECT dedup_key FROM h WHERE doc_id < (SELECT v FROM thr))
      |GROUP BY dedup_key""".stripMargin

  /** Fixed BM25 query set (q_bm25) — mirrored literally in the oracle's
    * VALUES list. */
  private val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "agg", "scan"),
    3 -> Seq("vector", "merge"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's full analytical core — daily OHLC + indicators.
    */
  def entry(spark: SparkSession): DataFrame =
    enriched(spark, "/root/testdata/sf0.001")

  /** Force every once-per-JVM stage table eagerly. Bench calls this
    * BEFORE its timed region so no query pays (or skips) staging cost
    * depending on run order: without it the first pack key to run
    * times pack+write while its sibling times a bare parquet scan
    * (ADVICE r7). Harmless to call twice — staging is idempotent.
    */
  def prestage(s: SparkSession, dir: String): Unit =
    packedDocs(s, dir)

  /** The driver contract, one entry per implemented operator from
    * SURVEY.md §2: each key's plan, its DuckDB oracle and its bench
    * treatment sit together (see [[QuerySpec]]). Lazy because the
    * oracle strings interpolate the shared CTE vals eagerly. */
  lazy val specs: Map[String, QuerySpec] = Map(
    // ---- §2.4/§2.5 aggregations + windows (A1, W1-W4) ----
    "q_ohlc" -> QuerySpec((s, dir) => dailyOhlc(s, dir),
      Some(s"$dailyCte SELECT * FROM daily")),
    "q_ret" -> QuerySpec((s, dir) => enriched(s, dir).select("date", "asset", "close", "ret"),
      Some(s"$enrichedCte SELECT date, asset, close, ret FROM enriched")),
    "q_ma7" -> QuerySpec((s, dir) => enriched(s, dir).select("date", "asset", "close", "ma7"),
      Some(s"$enrichedCte SELECT date, asset, close, ma7 FROM enriched")),
    "q_ma30" -> QuerySpec((s, dir) => enriched(s, dir).select("date", "asset", "close", "ma30"),
      Some(s"$enrichedCte SELECT date, asset, close, ma30 FROM enriched")),
    "q_vol30" -> QuerySpec((s, dir) => enriched(s, dir).select("date", "asset", "ret", "vol30"),
      Some(s"$enrichedCte SELECT date, asset, ret, vol30 FROM enriched")),
    // ---- §2.1 scans (S5, S7) ----
    "q_scan_table" -> QuerySpec((s, dir) => Tables.lineitem(s, dir),
      Some("SELECT * FROM lineitem")),
    "q_scan_csv" -> QuerySpec((s, dir) => {
      // CSV round-trip: parquet → ISO-string CSV (S4) → declared-schema
      // scan (S5); oracle reads the parquet directly with the same
      // string formatting. The write is staged ONCE per JVM per sfDir
      // (pid-scoped path, so concurrent harnesses never share a dir):
      // the gated operator is the CSV *scan*; re-running the sink on
      // every invocation timed a side effect, not the scan.
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_scan_csv_" +
        s"${ProcessHandle.current().pid()}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      stageOnce(out) {
        val src = Tables.events(s, dir).select(
          Normalize.tsToIso(col("ts")).as("ts_utc"), col("value").as("price"))
        Warehouse.writeCsv(src, out)
      }
      Warehouse.readCsv(s, out, graft.model.Schemas.rawCsvSchema)
    },
      Some("SELECT strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_utc, value AS price FROM events")),
    "q_scan_jsonl" -> QuerySpec((s, dir) => {
      // JSONL round-trip: parquet → newline-delimited JSON shards →
      // declared-schema scan (the training-corpus interchange format);
      // oracle reads the parquet directly. Staged once per JVM per
      // sfDir, same discipline as q_scan_csv.
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_scan_jsonl_" +
        s"${ProcessHandle.current().pid()}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      stageOnce(out) {
        Warehouse.writeJsonl(Tables.documents(s, dir)
          .select("doc_id", "text", "lang", "source", "n_chars"), out)
      }
      Warehouse.readJsonl(s, out, graft.model.Schemas.documentsJsonlSchema)
    },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents")),
    "q_scan_orc" -> QuerySpec((s, dir) => {
      // ORC round-trip: parquet → ORC (Hive-era interchange) →
      // declared-schema scan; oracle reads the parquet directly.
      // Staged once per JVM per sfDir, same discipline as q_scan_csv.
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_scan_orc_" +
        s"${ProcessHandle.current().pid()}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      stageOnce(out) {
        Warehouse.writeOrc(Tables.documents(s, dir)
          .select("doc_id", "text", "lang", "source", "n_chars"), out)
      }
      Warehouse.readOrc(s, out, graft.model.Schemas.documentsJsonlSchema)
    },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents")),
    // ---- §2.2 projections / filters (P1-P8) ----
    "q_project" -> QuerySpec((s, dir) => Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice"),
      Some("SELECT l_orderkey, l_extendedprice FROM lineitem")),
    "q_lit_col" -> QuerySpec((s, dir) => Tables.events(s, dir)
      .select(col("event_id"), lit("BTC-USD").as("asset"), col("value").as("price")),
      Some("SELECT event_id, 'BTC-USD' AS asset, value AS price FROM events")),
    "q_cast" -> QuerySpec((s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").cast("string").cast("double").as("n_chars_d")),
      Some("SELECT doc_id, CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) AS n_chars_d FROM documents")),
    "q_filter_eq" -> QuerySpec((s, dir) => Tables.events(s, dir).filter(col("event_type") === "click"),
      Some("SELECT * FROM events WHERE event_type = 'click'")),
    "q_filter_between" -> QuerySpec((s, dir) => Tables.events(s, dir).filter(
      col("ts").between(lit("2024-01-10 00:00:00").cast("timestamp"),
                        lit("2024-01-20 23:59:59").cast("timestamp"))),
      Some("SELECT * FROM events WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 23:59:59'")),
    "q_point_lookup" -> QuerySpec((s, dir) => {
      val o = Tables.orders(s, dir)
      val k = o.agg(min(col("o_orderkey"))).head().getLong(0)
      o.filter(col("o_orderkey") === k)
    },
      Some("SELECT * FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)")),
    "q_report_window" -> QuerySpec((s, dir) => {
      val e = enriched(s, dir)
      // max(date) over daily == over enriched (windows preserve rows);
      // the scalar-subquery action skips the window stage entirely
      val maxDate = dailyOhlc(s, dir).agg(max(col("date"))).head().getDate(0)
      e.filter(col("asset") === "click")
        .filter(col("date").between(date_sub(lit(maxDate), 14), lit(maxDate)))
        .select("date", "close", "ma7", "ma30")
    },
      Some(enrichedCte +
      """ SELECT date, close, ma7, ma30 FROM enriched
        | WHERE asset = 'click'
        |   AND date BETWEEN (SELECT max(date) FROM enriched) - 14 AND (SELECT max(date) FROM enriched)""".stripMargin)),
    "q_null_check" -> QuerySpec((s, dir) => enriched(s, dir)
      .filter(col("ma30").isNull).select("date", "asset"),
      Some(s"$enrichedCte SELECT date, asset FROM enriched WHERE ma30 IS NULL")),
    // ---- §2.3 dedup / sort (D1, D2) ----
    "q_dedup" -> QuerySpec((s, dir) => Normalize.dedupKeepFirst(Tables.events(s, dir),
      keys = Seq("user_id", "event_type"), order = Seq("ts", "event_id")),
      Some("""SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin)),
    "q_sort" -> QuerySpec((s, dir) => Tables.events(s, dir)
      .select("event_id", "ts", "value").orderBy("ts", "event_id"),
      Some("SELECT event_id, ts, value FROM events ORDER BY ts, event_id")),
    // ---- §2.4 counts (A2, A3) ----
    "q_count_day" -> QuerySpec((s, dir) => Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("date")).agg(count(lit(1)).as("n")),
      Some("SELECT CAST(ts AS DATE) AS date, count(*) AS n FROM events WHERE event_type = 'click' GROUP BY 1")),
    "q_count_all" -> QuerySpec((s, dir) => Tables.events(s, dir).agg(count(lit(1)).as("n")),
      Some("SELECT count(*) AS n FROM events")),
    // ---- §2.1 warehouse sinks (S8, S9) ----
    "q_insert_ignore" -> QuerySpec((s, dir) => {
      val o = Tables.orders(s, dir)
      val existing = o.filter(col("o_orderkey") % 3 =!= 0)
      val incoming = o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      Warehouse.insertIfAbsent(existing, incoming, Seq("o_orderkey"))
    },
      Some("""WITH existing AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        | incoming AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
        |                     o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0)
        | SELECT * FROM existing
        | UNION ALL
        | SELECT i.* FROM incoming i WHERE NOT EXISTS (
        |   SELECT 1 FROM existing e WHERE e.o_orderkey = i.o_orderkey)""".stripMargin)),
    "q_upsert" -> QuerySpec((s, dir) => {
      // existing: enriched metrics for the first 20 days; incoming:
      // re-stated OHLC (×2) for days 15+ — updates OHLC only, keeps ret.
      val e = enriched(s, dir).select("date", "asset", "open", "high", "low", "close", "ret")
      val existing = e.filter(col("date") < lit("2024-01-21").cast("date"))
      val incoming = dailyOhlc(s, dir)
        .filter(col("date") >= lit("2024-01-15").cast("date"))
        .select(col("date"), col("asset"), (col("open") * 2).as("open"),
          (col("high") * 2).as("high"), (col("low") * 2).as("low"), (col("close") * 2).as("close"))
      Warehouse.upsert(existing, incoming, keys = Seq("date", "asset"),
        updateCols = Seq("open", "high", "low", "close"))
    },
      Some(enrichedCte +
      """, existing AS (
        |  SELECT date, asset, open, high, low, close, ret FROM enriched WHERE date < DATE '2024-01-21'
        |), incoming AS (
        |  SELECT date, asset, open * 2 AS open, high * 2 AS high, low * 2 AS low, close * 2 AS close
        |  FROM daily WHERE date >= DATE '2024-01-15'
        |)
        |SELECT COALESCE(n.date, o.date) AS date, COALESCE(n.asset, o.asset) AS asset,
        |       COALESCE(n.open, o.open) AS open, COALESCE(n.high, o.high) AS high,
        |       COALESCE(n.low, o.low) AS low, COALESCE(n.close, o.close) AS close,
        |       o.ret AS ret
        |FROM existing o FULL JOIN incoming n ON o.date = n.date AND o.asset = n.asset""".stripMargin)),
    "q_merge" -> QuerySpec((s, dir) => {
      // multi-clause MERGE over the q_upsert scenario: restated OHLC
      // for days 15+ against the enriched table's first 20 days.
      // Clause order exercises every path: matched ≤16 deleted,
      // matched ≥19 updated (OHLC only, ret preserved), matched 17-18
      // fall through untouched, unmatched source inserts only ≥25.
      val e = enriched(s, dir).select("date", "asset", "open", "high", "low", "close", "ret")
      val target = e.filter(col("date") < lit("2024-01-21").cast("date"))
      val source = dailyOhlc(s, dir)
        .filter(col("date") >= lit("2024-01-15").cast("date"))
        .select(col("date"), col("asset"), (col("open") * 2).as("open"),
          (col("high") * 2).as("high"), (col("low") * 2).as("low"), (col("close") * 2).as("close"))
      Warehouse.mergeInto(target, source, Seq("date", "asset"), Seq(
        Warehouse.DeleteWhen(col("s.date") <= lit("2024-01-16").cast("date")),
        Warehouse.UpdateWhen(col("s.date") >= lit("2024-01-19").cast("date"),
          Map("open" -> col("s.open"), "high" -> col("s.high"),
            "low" -> col("s.low"), "close" -> col("s.close"))),
        Warehouse.InsertWhen(col("s.date") >= lit("2024-01-25").cast("date"))))
    },
      Some(mergeOracleSql)),
    "q_merge_snapshot" -> QuerySpec((s, dir) => {
      // the q_merge scenario routed through the snapshot warehouse's
      // file-grain MERGE (X173): identical clause semantics (shared
      // oracle), but exercised against a COMMITTED table where only
      // the files carrying source keys rewrite and inserts land as
      // new files in the same commit
      val e = enriched(s, dir).select("date", "asset", "open", "high", "low", "close", "ret")
      val target = e.filter(col("date") < lit("2024-01-21").cast("date"))
      val source = dailyOhlc(s, dir)
        .filter(col("date") >= lit("2024-01-15").cast("date"))
        .select(col("date"), col("asset"), (col("open") * 2).as("open"),
          (col("high") * 2).as("high"), (col("low") * 2).as("low"), (col("close") * 2).as("close"))
      val root = java.nio.file.Files.createTempDirectory("graft_qms").toString + "/t"
      Warehouse.writeSnapshot(target.repartitionByRange(4, col("date")), root)
      Warehouse.mergeIntoSnapshot(s, root, source, Seq("date", "asset"), Seq(
        Warehouse.DeleteWhen(col("s.date") <= lit("2024-01-16").cast("date")),
        Warehouse.UpdateWhen(col("s.date") >= lit("2024-01-19").cast("date"),
          Map("open" -> col("s.open"), "high" -> col("s.high"),
            "low" -> col("s.low"), "close" -> col("s.close"))),
        Warehouse.InsertWhen(col("s.date") >= lit("2024-01-25").cast("date"))))
      Warehouse.readSnapshot(s, root)
    },
      // X173 file-grain snapshot MERGE: same clause semantics, same
      // recomposition — the Spark side exercises the committed-table path
      Some(mergeOracleSql)),
    "q_rename_column" -> QuerySpec((s, dir) => {
      // X195 column mapping: RENAME COLUMN as a pure manifest commit —
      // the physical files keep their frozen names, the append lands
      // THROUGH the map, the dv-delete predicates on the NEW name, and
      // the final read aliases back. The oracle recomposes the end
      // state with a plain AS.
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val root = java.nio.file.Files.createTempDirectory("graft_qrn").toString + "/t"
      // r16 (here and at every multi-file scenario write below): the
      // N-file layout is built with a KEYED repartition instead of
      // round-robin — Spark's round-robin exchange pays a full local
      // sort of its input first (sortBeforeRepartition, SPARK-23207's
      // retry-determinism guard), measured 0.67-0.77 s vs 0.34-0.37 s
      // for the hash form on this very frame. Hash-by-PK is already
      // deterministic under retries, spreads a high-cardinality key
      // evenly over N files, and keeps every scenario's property
      // (rows scattered w.r.t. the unrelated predicate columns the
      // dv/index ops probe). Result rows are identical — the oracle
      // hashes re-verified at all 3 SFs.
      Warehouse.writeSnapshot(
        li.filter(col("l_orderkey") % 2 === 0).repartition(4, col("l_orderkey")), root)
      Warehouse.renameSnapshotColumn(s, root, "l_quantity", "qty")
      Warehouse.appendSnapshot(
        li.filter(col("l_orderkey") % 2 === 1).withColumnRenamed("l_quantity", "qty"),
        root, 2L)
      Warehouse.deleteWhereDv(s, root, col("qty") < 3.0)
      Warehouse.readSnapshot(s, root)
    },
      // X195 column mapping: end state after rename + append-through-map
      // + dv-delete on the new name
      Some("""SELECT l_orderkey, l_linenumber, l_quantity AS qty
        |FROM lineitem WHERE NOT (l_quantity < 3.0)""".stripMargin)),
    "q_update_dv" -> QuerySpec((s, dir) => {
      // X197 merge-on-read UPDATE: old copies dv'd out, post-images in
      // a fresh file, zero rewrites — composed after a dv-DELETE so
      // the oracle pins position accumulation across both write kinds.
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_qud").toString + "/t"
      Warehouse.writeSnapshot(li.repartition(4, col("l_orderkey")), root)
      Warehouse.deleteWhereDv(s, root, col("l_quantity") >= 45.0)
      Warehouse.updateWhereDv(s, root, col("l_quantity") < 5.0,
        Map("l_extendedprice" -> (col("l_extendedprice") * 2)))
      Warehouse.readSnapshot(s, root)
    },
      // X197 merge-on-read UPDATE after a dv-DELETE: end state is the
      // filtered table with the SET applied where the predicate held
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
        |  CASE WHEN l_quantity < 5.0 THEN l_extendedprice * 2
        |       ELSE l_extendedprice END AS l_extendedprice
        |FROM lineitem WHERE NOT (l_quantity >= 45.0)""".stripMargin)),
    "q_evolve_columns" -> QuerySpec((s, dir) => {
      // X196 drop/add column: DROP tombstones the physical name, the
      // same-name re-ADD mints a fresh one, so old rows read NULL (no
      // resurrection) while the post-add append carries real values.
      // The oracle recomposes the end state with a CASE on provenance.
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      val root = java.nio.file.Files.createTempDirectory("graft_qec").toString + "/t"
      Warehouse.writeSnapshot(
        li.filter(col("l_orderkey") % 2 === 0).repartition(4, col("l_orderkey")), root)
      Warehouse.dropSnapshotColumn(s, root, "l_discount")
      Warehouse.addSnapshotColumn(s, root, "l_discount",
        org.apache.spark.sql.types.DoubleType)
      Warehouse.appendSnapshot(li.filter(col("l_orderkey") % 2 === 1), root, 3L)
      Warehouse.readSnapshot(s, root)
    },
      // X196 drop/add column: old rows read the re-added column as NULL
      // (the drop tombstoned its physical name), appended rows carry it
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
        |  CASE WHEN l_orderkey % 2 = 1 THEN l_discount ELSE NULL END AS l_discount
        |FROM lineitem""".stripMargin)),
    "q_point_lookup_indexed" -> QuerySpec((s, dir) => {
      // X193 bloom index: point lookup routed through the file-grain
      // bloom — the index commit carries every data file by reference,
      // the probe prunes files driver-side, the residual filter
      // resolves false positives; result ≡ the plain filtered read,
      // which is exactly the oracle.
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      val root = java.nio.file.Files.createTempDirectory("graft_qbi").toString + "/t"
      // r17 (ADVICE r16 medium): hash on the FULL PK pair, not the
      // indexed column alone — repartition(n, l_orderkey) clustered
      // every orderkey into ONE file, so the point probe measured a
      // PK-clustered layout instead of the scattered-layout stress the
      // scenario declares. (orderkey, linenumber) spreads one
      // orderkey's rows across files while keeping the keyed (no
      // round-robin determinism sort) exchange. Result rows identical.
      Warehouse.writeSnapshot(
        li.repartition(8, col("l_orderkey"), col("l_linenumber")), root)
      Warehouse.indexSnapshot(s, root, "l_orderkey")
      Warehouse.readSnapshotPoint(s, root, "l_orderkey", 1L)
    },
      // X193 bloom index: the pruned point lookup must equal the plain
      // filtered read
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_orderkey = 1""".stripMargin)),
    "q_symlink_export" -> QuerySpec((s, dir) => {
      // X206 symlink export: the exported file list must BE the pinned
      // snapshot — the query reads the table back EXCLUSIVELY through
      // the exported list (a missing file loses rows, a stray file
      // adds them; either breaks the oracle hash).
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val root = java.nio.file.Files.createTempDirectory("graft_qsx").toString + "/t"
      Warehouse.writeSnapshot(
        li.filter(col("l_orderkey") % 2 === 0).repartition(3, col("l_orderkey")), root)
      Warehouse.appendSnapshot(li.filter(col("l_orderkey") % 2 === 1), root, 1L)
      val mf = Warehouse.exportSymlinkManifest(s, root)
      val p = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
        new org.apache.hadoop.fs.Path(mf))
      val files = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.toString)), "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
      s.read.parquet(files: _*)
    },
      // X206 symlink export consumed externally ≡ the whole table
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem""")),
    "q_generated_column" -> QuerySpec((s, dir) => {
      // X205 generated columns: the writers supply business columns
      // only — the table derives qty_bucket on BOTH the initial write
      // and the append, and the oracle recomposes the derivation.
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val root = java.nio.file.Files.createTempDirectory("graft_qgc").toString + "/t"
      Warehouse.setGeneratedColumn(s, root, "qty_bucket",
        "CAST(FLOOR(l_quantity / 10) AS BIGINT)")
      Warehouse.writeSnapshot(li.filter(col("l_orderkey") % 2 === 0), root)
      Warehouse.appendSnapshot(li.filter(col("l_orderkey") % 2 === 1), root, 1L)
      Warehouse.readSnapshot(s, root)
    },
      // X205 generated columns: both writes derive qty_bucket
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
        |       CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_bucket
        |FROM lineitem""".stripMargin)),
    "q_replace_where" -> QuerySpec((s, dir) => {
      // X204 replaceWhere: one-commit predicate-scoped overwrite — the
      // 'R' slice is reloaded with restated quantities; only files
      // holding 'R' rows rewrite, the rest carry by reference. The
      // oracle recomposes the end state with a CASE.
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      val root = java.nio.file.Files.createTempDirectory("graft_qrw").toString + "/t"
      Warehouse.writeSnapshot(li.repartitionByRange(4, col("l_returnflag")), root)
      Warehouse.replaceWhere(s, root, col("l_returnflag") === "R",
        li.filter(col("l_returnflag") === "R")
          .withColumn("l_quantity", col("l_quantity") + 1000.0))
      Warehouse.readSnapshot(s, root)
    },
      // X204 replaceWhere: the 'R' slice reloaded with restated values
      Some("""SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_returnflag = 'R' THEN l_quantity + 1000.0 ELSE l_quantity END AS l_quantity,
        |       l_returnflag
        |FROM lineitem""".stripMargin)),
    "q_snapshot_extremes" -> QuerySpec((s, dir) => {
      // X203 manifest min/max: range-clustered files answer from their
      // committed stats driver-side; the one file whose recorded
      // extremum a dv-delete killed re-scans dv-aware — the combined
      // answer must equal the plain aggregate over live rows.
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
      val root = java.nio.file.Files.createTempDirectory("graft_qse").toString + "/t"
      Warehouse.writeSnapshot(li.repartitionByRange(6, col("l_quantity")), root)
      Warehouse.deleteWhereDv(s, root, col("l_quantity") >= 49.0)
      Warehouse.snapshotExtremes(s, root, "l_quantity")
    },
      // X203 manifest extremes after a dv-delete killed the recorded max
      Some("""SELECT min(l_quantity) AS mn, max(l_quantity) AS mx
        |FROM lineitem WHERE NOT (l_quantity >= 49.0)""".stripMargin)),
    "q_diff_bridged" -> QuerySpec((s, dir) => {
      // X201 diff across a rename: the CDC feed of v1..v4 lands in the
      // CURRENT logical names — the from-side bridges through the
      // frozen physical names, so a rename mid-history neither breaks
      // the diff nor phantoms a single row. The oracle recomposes the
      // feed from the two end states directly. orders: o_orderkey is
      // the unique CDC key (synthetic lineitem's PK pair is not).
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_qdb").toString + "/t"
      Warehouse.writeSnapshot(
        o.filter(col("o_orderkey") % 2 === 0).repartition(4, col("o_orderkey")), root)  // v1
      Warehouse.renameSnapshotColumn(s, root, "o_totalprice", "price")   // v2
      Warehouse.appendSnapshot(
        o.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_totalprice", "price"), root, 2L)         // v3
      Warehouse.updateWhere(s, root, col("price") < 30000.0,
        Map("price" -> (col("price") + 1000000.0)))                      // v4
      Warehouse.snapshotDiff(s, root, 1L, 4L, Seq("o_orderkey"))
    },
      // X201 diff bridged across a rename: inserts are the appended odd
      // half (post-update values), updates the even rows the v4 update
      // actually changed — all under the CURRENT name
      Some("""SELECT o_orderkey, o_orderstatus,
        |       CASE WHEN o_totalprice < 30000.0 THEN o_totalprice + 1000000.0 ELSE o_totalprice END AS price,
        |       CASE WHEN o_orderkey % 2 = 1 THEN 'insert' ELSE 'update' END AS _change_type
        |FROM orders
        |WHERE o_orderkey % 2 = 1 OR o_totalprice < 30000.0""".stripMargin)),
    "q_point_lookup_refreshed" -> QuerySpec((s, dir) => {
      // X200 incremental index refresh: coverage decayed by an append
      // is restored by a refresh tick that scans ONLY the new files
      // (covered files' positions carry from the recorded sidecar);
      // the post-refresh lookup must still equal the plain filtered
      // read over the whole table — which is exactly the oracle.
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      val root = java.nio.file.Files.createTempDirectory("graft_qbr").toString + "/t"
      // r17 (ADVICE r16 medium): hash on the PK pair, not the indexed
      // column — see q_point_lookup_indexed; preserves the
      // scattered-layout stress the probes declare
      Warehouse.writeSnapshot(
        li.filter(col("l_orderkey") % 2 === 0)
          .repartition(6, col("l_orderkey"), col("l_linenumber")), root)
      Warehouse.indexSnapshot(s, root, "l_orderkey")
      Warehouse.appendSnapshot(
        li.filter(col("l_orderkey") % 2 === 1)
          .repartition(2, col("l_orderkey"), col("l_linenumber")), root, 2L)
      Warehouse.refreshIndexSnapshot(s, root)
      Warehouse.readSnapshotPoint(s, root, "l_orderkey", 1L)
        .unionAll(Warehouse.readSnapshotPoint(s, root, "l_orderkey", 2L))
    },
      // X200 refreshed-index lookup: post-refresh pruning must still
      // answer exactly like the plain filter, old and appended files both
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_orderkey IN (1, 2)""".stripMargin)),
    "q_delete_dv" -> QuerySpec((s, dir) => {
      // X189 deletion vectors: the merge-on-read DELETE — positions
      // recorded in a _dv sidecar, ZERO data files rewritten (every
      // entry carried by reference), the read subtracts them. Two
      // overlapping dv commits exercise accumulation and the
      // already-deleted-rows-never-rematch rule; the oracle is the
      // plain residue the two deletes leave behind.
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
      val root = java.nio.file.Files.createTempDirectory("graft_qdv").toString + "/t"
      Warehouse.writeSnapshot(li.repartition(4, col("l_orderkey")), root)
      Warehouse.deleteWhereDv(s, root, col("l_returnflag") === "R")
      Warehouse.deleteWhereDv(s, root,
        col("l_returnflag").isin("R", "A") && col("l_quantity") < 10.0)
      Warehouse.readSnapshot(s, root)
    },
      // X189 deletion vectors: merge-on-read DELETE — the oracle is the
      // residue after both delete predicates (rows where either matched
      // are gone; the overlap must not double-apply)
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
        |FROM lineitem
        |WHERE NOT (l_returnflag = 'R'
        |           OR (l_returnflag IN ('R', 'A') AND l_quantity < 10.0))""".stripMargin)),
    "q_ndv_manifest" -> QuerySpec((s, dir) => {
      // X231 per-file column synopses: ANALYZE records bottom-k KMV
      // synopses per (file, column); after a later append the NDV
      // answer merges recorded synopses with an on-the-fly scan of
      // ONLY the new files — and equals Sketches.kmvDistinct over the
      // whole table bit-for-bit (per-file bottom-k merges to the
      // global bottom-k), which is what the oracle recomposes.
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      val root = java.nio.file.Files.createTempDirectory("graft_qndv").toString + "/t"
      val v1 = Warehouse.writeSnapshot(
        o.filter(col("o_orderkey") % 3 =!= 0).repartition(3, col("o_orderkey")), root)
      Warehouse.analyzeSnapshot(s, root, Seq("o_custkey", "o_orderstatus"), k = 64)
      Warehouse.appendSnapshot(
        o.filter(col("o_orderkey") % 3 === 0).repartition(2, col("o_orderkey")), root, v1)
      Warehouse.ndvSnapshot(s, root, Seq("o_custkey", "o_orderstatus"), k = 64)
    },
      // X231 manifest-synopsis NDV: per-file bottom-64 KMV synopses
      // merge to the table-wide bottom-64, so the estimate recomposes as
      // plain kmvDistinct over everything the scenario wrote (the full
      // orders table: the write slice plus the appended complement)
      Some("""WITH vals AS (
        |  SELECT 'o_custkey' AS c, CAST(o_custkey AS VARCHAR) AS v FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus' AS c, CAST(o_orderstatus AS VARCHAR) AS v FROM orders
        |), d AS (SELECT DISTINCT c, v FROM vals WHERE v IS NOT NULL),
        |u AS (SELECT c, v,
        |             CAST(('0x' || substr(md5(v), 1, 15))::BIGINT AS DOUBLE)
        |               / CAST(1152921504606846976 AS DOUBLE) AS u
        |      FROM d),
        |r AS (SELECT *, row_number() OVER (PARTITION BY c ORDER BY u, v) AS rn FROM u)
        |SELECT c AS "column",
        |       CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |            ELSE CAST(63 AS DOUBLE) / max(u) END AS distinct_est
        |FROM r WHERE rn <= 64 GROUP BY c""".stripMargin)),
    "q_histogram_manifest" -> QuerySpec((s, dir) => {
      // X234 histogram synopses: edges pin at the FIRST analyze (from
      // the write slice's min/max), the appended complement's counts
      // merge under the SAME edges (out-of-range values clamp into the
      // end bins) — integer sums, so the merged histogram is EXACT and
      // the oracle recomposes it bit-for-bit.
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_qhist").toString + "/t"
      val v1 = Warehouse.writeSnapshot(
        o.filter(col("o_orderkey") % 3 =!= 0).repartition(3, col("o_orderkey")), root)
      Warehouse.analyzeHistogram(s, root, "o_totalprice", bins = 20)
      Warehouse.appendSnapshot(
        o.filter(col("o_orderkey") % 3 === 0).repartition(2, col("o_orderkey")), root, v1)
      Warehouse.histogramSnapshot(s, root, "o_totalprice", bins = 20)
    },
      // X234 histogram synopses: edges from the write slice's min/max,
      // the whole table binned under them with end-bin clamping —
      // integer counts, bit-exact
      Some("""WITH a AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
        |e AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
        |             max(CAST(o_totalprice AS DOUBLE)) AS hi
        |      FROM a),
        |b AS (
        |  SELECT CASE WHEN e.hi = e.lo THEN 0
        |         ELSE CAST(least(greatest(
        |             floor((CAST(o_totalprice AS DOUBLE) - e.lo) / ((e.hi - e.lo) / 20)),
        |             0), 19) AS BIGINT) END AS bin,
        |         e.lo, e.hi
        |  FROM orders, e WHERE o_totalprice IS NOT NULL)
        |SELECT bin, min(lo) AS lo, min(hi) AS hi, count(*) AS n
        |FROM b GROUP BY bin""".stripMargin)),
    "q_join_snapshots" -> QuerySpec((s, dir) => {
      // X240/r14 stats-driven snapshot join, pinned END-TO-END: the
      // same fact⋈dim join runs through BOTH strategy branches — the
      // manifest-bytes broadcast path (default threshold) and the
      // synopsis-certified SHUFFLE_HASH path (threshold=1 after
      // ANALYZE on the dim key) — and both must produce the same
      // rollup the oracle recomputes directly. The strategy choice is
      // a metadata decision; this key pins that it never changes
      // CONTENT. Integer measures → bit-exact.
      val base = java.nio.file.Files.createTempDirectory("graft_qjs").toString
      val facts = Tables.orders(s, dir)
        .select(col("o_custkey").as("custkey"), col("o_orderkey"))
      val dim = Tables.table(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      // r17 (guide §2.6): facts and dim are DISJOINT tables — overlap
      // the fact write with the dim write+analyze chain
      inParallel(
        Warehouse.writeSnapshot(facts.repartition(4, col("o_orderkey")), s"$base/facts")) {
        Warehouse.writeSnapshot(dim.repartition(2, col("custkey")), s"$base/dim")
      }
      Warehouse.analyzeSnapshot(s, s"$base/dim", Seq("custkey"), k = 64)
      // r15: SHUFFLE_HASH certification now ALSO needs the hub veto —
      // a recorded histogram whose hottest custkey bin is bounded
      // (average rows/key alone cannot rule out a hub build key)
      Warehouse.analyzeHistogram(s, s"$base/dim", "custkey", bins = 20)
      def rollup(j: org.apache.spark.sql.DataFrame, src: String) =
        j.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
          .select(lit(src).as("src"), col("c_mktsegment"), col("n"), col("key_sum"))
      rollup(Warehouse.joinSnapshots(s, s"$base/facts", s"$base/dim",
        Seq("custkey")), "broadcast")
        .unionAll(rollup(Warehouse.joinSnapshots(s, s"$base/facts", s"$base/dim",
          Seq("custkey"), broadcastThreshold = Some(1L)), "hash"))
    },
      // X240/r14 stats-driven join, both strategy branches: the oracle
      // recomposes the identical fact⋈dim rollup twice under the two
      // src labels — the strategy is metadata, the content is this
      Some("""WITH j AS (
        |  SELECT c.c_mktsegment, o.o_orderkey
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |r AS (SELECT c_mktsegment, count(*) AS n,
        |             CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |      FROM j GROUP BY c_mktsegment)
        |SELECT 'broadcast' AS src, c_mktsegment, n, key_sum FROM r
        |UNION ALL
        |SELECT 'hash' AS src, c_mktsegment, n, key_sum FROM r""".stripMargin)),
    "q_estimate_rows" -> QuerySpec((s, dir) => {
      // X246 histogram-driven range-cardinality estimation: the
      // per-bin prorated contributions for o_totalprice ∈ [50k, 150k]
      // from the recorded X234 family — the engine-portable pin of
      // estimateRows' arithmetic (the driver-side scalar is
      // spec-pinned in AnalyzeSpec; this key emits the per-bin terms,
      // each one independent IEEE arithmetic — multiply, add, min/max,
      // one division — so no summation order crosses engines).
      // Boundary bins prorate linearly; interior bins ride whole.
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_qest").toString + "/t"
      Warehouse.writeSnapshot(o.repartition(3, col("o_orderkey")), root)
      Warehouse.analyzeHistogram(s, root, "o_totalprice", bins = 20)
      val hist = Warehouse.histogramSnapshot(s, root, "o_totalprice", bins = 20)
      val (qlo, qhi) = (50000.0, 150000.0)
      hist
        .select(col("bin"), col("n"), ((col("hi") - col("lo")) / lit(20)).as("w"),
          col("lo"))
        .select(col("bin"), col("n"), col("w"),
          (col("lo") + col("bin") * col("w")).as("bin_lo"),
          (col("lo") + (col("bin") + lit(1)) * col("w")).as("bin_hi"))
        .withColumn("frac",
          least(lit(1.0), greatest(lit(0.0),
            (least(lit(qhi), col("bin_hi")) - greatest(lit(qlo), col("bin_lo")))
              / col("w"))))
        .filter(col("frac") > 0)
        .select(col("bin"), col("n"), round(col("n") * col("frac"), 6).as("contribution"))
    },
      // X246 histogram range estimate: edges pin from the full write's
      // min/max; bins recompose exactly (integer counts), then the
      // per-bin proration is the same independent IEEE terms on both
      // sides — multiply, add, min/max, one division, 6-dp round
      Some("""WITH e AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
        |             max(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders),
        |b AS (
        |  SELECT CASE WHEN e.hi = e.lo THEN 0
        |         ELSE CAST(least(greatest(
        |             floor((CAST(o_totalprice AS DOUBLE) - e.lo) / ((e.hi - e.lo) / 20)),
        |             0), 19) AS BIGINT) END AS bin,
        |         e.lo, e.hi
        |  FROM orders, e WHERE o_totalprice IS NOT NULL),
        |h AS (SELECT bin, min(lo) AS lo, min(hi) AS hi, count(*) AS n
        |      FROM b GROUP BY bin),
        |p AS (SELECT bin, n, (hi - lo) / 20 AS w,
        |             lo + bin * ((hi - lo) / 20) AS bin_lo,
        |             lo + (bin + 1) * ((hi - lo) / 20) AS bin_hi
        |      FROM h),
        |f AS (SELECT bin, n,
        |             least(1.0, greatest(0.0,
        |               (least(150000.0, bin_hi) - greatest(50000.0, bin_lo)) / w)) AS frac
        |      FROM p)
        |SELECT bin, n, round(n * frac, 6) AS contribution
        |FROM f WHERE frac > 0""".stripMargin)),
    "q_sql_snapshot" -> QuerySpec((s, dir) => {
      // X207 SQL table-valued functions: the lakehouse loop driven
      // from pure SQL — graft_snapshot carries the FULL read plan
      // (manifest pinning + dv anti-join), so the post-delete current
      // read and the pinned pre-delete v=1 read both answer exactly;
      // the oracle recomposes both states from the raw table.
      graft.functions.TableFunctions.registerAll(s)
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      val root = java.nio.file.Files.createTempDirectory("graft_qtvf").toString + "/t"
      Warehouse.writeSnapshot(li.repartition(4, col("l_orderkey")), root)
      Warehouse.deleteWhereDv(s, root, col("l_returnflag") === "R")
      s.sql(
        s"""SELECT 'current' AS src, l_returnflag, count(*) AS n,
           |       sum(l_orderkey) AS key_sum
           |FROM graft_snapshot('$root') GROUP BY l_returnflag
           |UNION ALL
           |SELECT 'v1' AS src, l_returnflag, count(*) AS n,
           |       sum(l_orderkey) AS key_sum
           |FROM graft_snapshot('$root', 1) GROUP BY l_returnflag""".stripMargin)
    },
      // X207 SQL TVFs: current state (post dv-delete of 'R') plus the
      // pinned v=1 state, both recomposed from the raw table
      Some("""SELECT 'current' AS src, l_returnflag, count(*) AS n,
        |       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem WHERE l_returnflag <> 'R' GROUP BY l_returnflag
        |UNION ALL
        |SELECT 'v1' AS src, l_returnflag, count(*) AS n,
        |       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    "q_cdc_diff" -> QuerySpec((s, dir) => {
      // change feed between two table states: %3 keys only in new
      // (insert), %5 keys only in old (delete), %7 keys restated
      // (update); everything else unchanged and absent from the feed
      val o = Tables.orders(s, dir)
      val oldState = o.filter(col("o_orderkey") % 3 =!= 0)
      val newState = o.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 100.0)
            .otherwise(col("o_totalprice")))
      Warehouse.diffFrames(oldState, newState, Seq("o_orderkey"))
    },
      Some("""WITH oldst AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        |newst AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |                 CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
        |                 o_orderdate, o_orderpriority
        |          FROM orders WHERE o_orderkey % 5 <> 0),
        |feed AS (
        |  SELECT CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderkey ELSE o.o_orderkey END AS o_orderkey,
        |         CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_custkey ELSE o.o_custkey END AS o_custkey,
        |         CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus ELSE o.o_orderstatus END AS o_orderstatus,
        |         CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_totalprice ELSE o.o_totalprice END AS o_totalprice,
        |         CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderdate ELSE o.o_orderdate END AS o_orderdate,
        |         CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderpriority ELSE o.o_orderpriority END AS o_orderpriority,
        |         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |              WHEN n.o_orderkey IS NULL THEN 'delete'
        |              WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
        |                OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |                OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |                OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
        |                OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'update'
        |         END AS _change_type
        |  FROM oldst o FULL JOIN newst n ON o.o_orderkey = n.o_orderkey)
        |SELECT * FROM feed WHERE _change_type IS NOT NULL""".stripMargin)),
    "q_incr_agg_cdf" -> QuerySpec((s, dir) => {
      // X177 incremental view maintenance: a materialized per-status
      // (count, sum) rollup of the OLD state is caught up to the NEW
      // state purely from the change feed (preimage-recording diff) —
      // the maintained result must equal the direct recompute, which is
      // exactly what the oracle computes. Integer measure → bit-exact
      // algebra in both engines.
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_custkey")
      val oldState = o.filter(col("o_orderkey") % 5 =!= 0)
      val newState = o.filter(col("o_orderkey") % 3 =!= 0)
        .withColumn("o_custkey",
          when(col("o_orderkey") % 7 === 0, col("o_custkey") + 1000L)
            .otherwise(col("o_custkey")))
      val aggOld = oldState.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_custkey").as("s"))
      val feed = Warehouse.diffFrames(oldState, newState, Seq("o_orderkey"),
        preImages = true)
      store.Ivm.maintainAggregate(aggOld, feed, Seq("o_orderstatus"),
        Map("s" -> "o_custkey"), "n")
    },
      // X177: the oracle recomputes the NEW state's rollup directly —
      // the Spark side must reach the identical table purely by applying
      // the change feed to the OLD state's materialized rollup
      Some("""WITH newst AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1000 ELSE o_custkey END AS o_custkey
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT o_orderstatus, count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS s
        |FROM newst GROUP BY o_orderstatus""".stripMargin)),
    "q_incr_degrees_cdf" -> QuerySpec((s, dir) => {
      // X245 graph × IVM composition: the degree rollup of an edge
      // list is a COUNT view over the symmetrized edges, so it
      // maintains algebraically from the edge diff — old graph's
      // degrees + feed ≡ recompute over the new graph, which is
      // exactly what the oracle computes. Integer counts → bit-exact.
      // The bracket both INSERTS edges (the %5-only orderkeys' groups)
      // and DELETES them (the %20 == 0 groups drop out).
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
      val oldE = ops.Graphs.coOccurrenceEdges(
        li.filter(col("l_orderkey") % 10 === 0), "l_orderkey", "l_partkey",
        maxGroupSize = 10)
      val newE = ops.Graphs.coOccurrenceEdges(
        li.filter(col("l_orderkey") % 5 === 0 && col("l_orderkey") % 20 =!= 0),
        "l_orderkey", "l_partkey", maxGroupSize = 10)
      val deg0 = ops.Graphs.degrees(oldE)
      val feed = Warehouse.diffFrames(oldE, newE, Seq("a", "b"),
        preImages = true)
      store.Ivm.maintainDegrees(deg0, feed)
    },
      // X245 degree IVM: the maintained degree rollup must equal the
      // direct recompute over the NEW graph's edge list — the oracle
      // rebuilds the co-occurrence edges from the post-bracket filter
      // and counts incidences
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 5 = 0 AND l_orderkey % 20 <> 0),
        |sized AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM items) t
        |  WHERE gs <= 10),
        |edges AS (
        |  SELECT DISTINCT x.i AS a, y.i AS b
        |  FROM sized x JOIN sized y ON x.g = y.g AND x.i < y.i),
        |incid AS (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
        |SELECT node, count(*) AS degree FROM incid GROUP BY node""".stripMargin), isolated = true),
    "q_graph_view_tick" -> QuerySpec((s, dir) => {
      // X252 graph-view maintenance tick driven THROUGH storage: seed
      // tick (full recompute, cursor stamped INTO the view's own
      // commit manifest), then a churn bracket — appended edges + a
      // predicate delete, both with change feeds — folded by a second
      // tick. The degree view must equal the oracle's recompute over
      // the final edge list; integer counts → bit-exact. (The ranks
      // view's warm-refresh contraction bound is spec-pinned in
      // GraphViewSpec — a converged-walk oracle would pin an
      // iteration count, not the tick.)
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
      // oldE feeds the seed write AND the anti-join's build side —
      // checkpoint so the co-occurrence build runs once per frame
      val oldE = ops.Graphs.coOccurrenceEdges(
        li.filter(col("l_orderkey") % 10 === 0), "l_orderkey", "l_partkey",
        maxGroupSize = 10).localCheckpoint(true)
      val newE = ops.Graphs.coOccurrenceEdges(
        li.filter(col("l_orderkey") % 5 === 0 && col("l_orderkey") % 20 =!= 0),
        "l_orderkey", "l_partkey", maxGroupSize = 10)
      val base = java.nio.file.Files.createTempDirectory("graft_qgvt").toString
      val ep = s"$base/edges"
      Warehouse.writeSnapshot(oldE, ep)
      store.GraphView.maintainGraphView(s, ep, s"$base/deg")
      Warehouse.appendSnapshot(newE.join(oldE, Seq("a", "b"), "left_anti"),
        ep, Warehouse.currentSnapshot(s, ep), changeFeed = true)
      Warehouse.deleteWhere(s, ep, col("a") % 7 === 0, changeFeed = true)
      store.GraphView.maintainGraphView(s, ep, s"$base/deg")
      Warehouse.readSnapshot(s, s"$base/deg")
    },
      // X252 graph-view tick: the degree view after seed + churn-bracket
      // fold must equal the recompute over the FINAL edge list — old
      // edges ∪ appended new-only edges, minus the predicate delete
      Some("""WITH oldi AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |olds AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM oldi) t
        |  WHERE gs <= 10),
        |olde AS (
        |  SELECT DISTINCT x.i AS a, y.i AS b
        |  FROM olds x JOIN olds y ON x.g = y.g AND x.i < y.i),
        |newi AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 5 = 0 AND l_orderkey % 20 <> 0),
        |news AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM newi) t
        |  WHERE gs <= 10),
        |newe AS (
        |  SELECT DISTINCT x.i AS a, y.i AS b
        |  FROM news x JOIN news y ON x.g = y.g AND x.i < y.i),
        |kept AS (
        |  SELECT a, b FROM (SELECT a, b FROM olde UNION SELECT a, b FROM newe)
        |  WHERE a % 7 <> 0),
        |incid AS (SELECT a AS node FROM kept UNION ALL SELECT b FROM kept)
        |SELECT node, count(*) AS degree FROM incid GROUP BY node""".stripMargin), isolated = true),
    "q_incr_distinct_cdf" -> QuerySpec((s, dir) => {
      // X198 COUNT DISTINCT IVM: the support relation (status, custkey)
      // -> multiplicity is itself a COUNT rollup, so it maintains
      // algebraically; the distinct count is live support rows per
      // group. Must equal the direct recompute (the oracle).
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_custkey")
      val oldState = o.filter(col("o_orderkey") % 5 =!= 0)
      val newState = o.filter(col("o_orderkey") % 3 =!= 0)
        .withColumn("o_custkey",
          when(col("o_orderkey") % 7 === 0, col("o_custkey") + 1000L)
            .otherwise(col("o_custkey")))
      val support0 = oldState.groupBy("o_orderstatus", "o_custkey")
        .agg(count(lit(1)).as("m"))
      val feed = Warehouse.diffFrames(oldState, newState, Seq("o_orderkey"),
        preImages = true)
      store.Ivm.distinctCounts(
        store.Ivm.maintainDistinctSupport(support0, feed,
          Seq("o_orderstatus"), "o_custkey"),
        Seq("o_orderstatus"))
    },
      // X198 COUNT DISTINCT IVM: the maintained distinct counts must
      // equal the direct recompute of the new state
      Some("""WITH newst AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1000 ELSE o_custkey END AS o_custkey
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT o_orderstatus, count(DISTINCT o_custkey) AS nd
        |FROM newst GROUP BY o_orderstatus""".stripMargin)),
    "q_incr_moments_cdf" -> QuerySpec((s, dir) => {
      // X199 moments IVM: (count, non-null count, sum, sum-of-squares)
      // maintained from the feed — the sufficient statistics behind
      // AVG/VAR. Integer measure → bit-exact algebra in both engines;
      // the oracle recomputes the four moments directly.
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_custkey")
      val oldState = o.filter(col("o_orderkey") % 5 =!= 0)
      val newState = o.filter(col("o_orderkey") % 3 =!= 0)
        .withColumn("o_custkey",
          when(col("o_orderkey") % 7 === 0, col("o_custkey") + 1000L)
            .otherwise(col("o_custkey")))
      val agg0 = oldState.groupBy("o_orderstatus").agg(
        count(lit(1)).as("n"), count(col("o_custkey")).as("c_cnt"),
        sum(col("o_custkey")).as("c_sum"),
        sum(col("o_custkey") * col("o_custkey")).as("c_sq"))
      val feed = Warehouse.diffFrames(oldState, newState, Seq("o_orderkey"),
        preImages = true)
      store.Ivm.maintainMoments(agg0, feed, Seq("o_orderstatus"),
        Map("c" -> "o_custkey"), "n")
    },
      // X199 moments IVM: the four maintained moments must equal the
      // direct recompute of the new state (integer-exact)
      Some("""WITH newst AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1000 ELSE o_custkey END AS o_custkey
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT o_orderstatus, count(*) AS n, count(o_custkey) AS c_cnt,
        |       CAST(sum(o_custkey) AS BIGINT) AS c_sum,
        |       CAST(sum(o_custkey * o_custkey) AS BIGINT) AS c_sq
        |FROM newst GROUP BY o_orderstatus""".stripMargin)),
    "q_incr_minmax_cdf" -> QuerySpec((s, dir) => {
      // X194 min/max IVM: maintain per-status (count, min, max) of
      // o_totalprice through a bracket whose deletes KILL some groups'
      // extrema — those groups (and only those) rescan the new state;
      // the maintained result must equal the direct recompute, which
      // the oracle computes. Extrema are copied values (no arithmetic)
      // → bit-exact in both engines.
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
      val oldState = o.filter(col("o_orderkey") % 5 =!= 0)
      val newState = o.filter(col("o_orderkey") % 3 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 0.5)
            .otherwise(col("o_totalprice")))
      val aggOld = oldState.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), min("o_totalprice").as("mn"),
          max("o_totalprice").as("mx"))
      val feed = Warehouse.diffFrames(oldState, newState, Seq("o_orderkey"),
        preImages = true)
      store.Ivm.maintainMinMax(aggOld, feed, newState, Seq("o_orderstatus"),
        mins = Map("mn" -> "o_totalprice"), maxs = Map("mx" -> "o_totalprice"), "n")
    },
      // X194 min/max IVM: the maintained extrema must equal the direct
      // recompute of the new state
      Some("""WITH newst AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 0.5 ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT o_orderstatus, count(*) AS n, min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM newst GROUP BY o_orderstatus""".stripMargin)),
    "q_seasonal" -> QuerySpec((s, dir) => {
      // X217 seasonal decomposition: close = trend + seasonal +
      // residual over the daily series, weekly phase. Every float add
      // happens in a DECLARED order — the trend in frame order (the
      // parity ma7 already pins), the phase/center means as ordered
      // CUMULATIVE sums whose last element max_by takes — so both
      // engines replay the same additions and agree bit-exact.
      ops.Indicators.seasonalDecompose(dailyOhlc(s, dir), "close", period = 7)
    },
      // X217 seasonal decomposition: windowed trend + ordered-cumulative
      // phase means — every float add in a declared order, bit-exact
      Some((dailyCte +
      """, t AS (
        |  SELECT date, asset, close,
        |    CASE WHEN count(close) OVER w7 = 7 THEN avg(close) OVER w7 END AS trend,
        |    (row_number() OVER (PARTITION BY asset ORDER BY date) - 1) % 7 AS phase
        |  FROM daily
        |  WINDOW w7 AS (PARTITION BY asset ORDER BY date
        |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d AS (SELECT *, close - trend AS det FROM t),
        |dc AS (
        |  SELECT asset, phase, det,
        |    sum(det) OVER (PARTITION BY asset, phase ORDER BY date
        |                   ROWS UNBOUNDED PRECEDING) AS cs,
        |    row_number() OVER (PARTITION BY asset, phase ORDER BY date) AS rn
        |  FROM d WHERE det IS NOT NULL),
        |pm AS (
        |  SELECT asset, phase, arg_max(cs, rn) / count(*) AS sraw
        |  FROM dc GROUP BY 1, 2),
        |pc AS (
        |  SELECT asset, sraw,
        |    sum(sraw) OVER (PARTITION BY asset ORDER BY phase
        |                    ROWS UNBOUNDED PRECEDING) AS cs,
        |    row_number() OVER (PARTITION BY asset ORDER BY phase) AS rn
        |  FROM pm),
        |ctr AS (SELECT asset, arg_max(cs, rn) / count(*) AS c FROM pc GROUP BY 1)
        |SELECT d.date, d.asset, d.close, d.trend,
        |       pm.sraw - ctr.c AS seasonal,
        |       d.close - d.trend - (pm.sraw - ctr.c) AS residual
        |FROM d
        |LEFT JOIN pm ON d.asset = pm.asset AND d.phase = pm.phase
        |LEFT JOIN ctr ON d.asset = ctr.asset""").stripMargin)),
    "q_graph_jaccard" -> QuerySpec((s, dir) => {
      // X212 neighborhood-overlap link prediction over the same
      // co-occurrence graph as q_graph_triangles: common-neighbor
      // counts + Jaccard (integer counts, one IEEE division — both
      // engines bit-exact). common >= 3 bounds the output to the
      // meaningful pairs.
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_partkey")
      val edges = ops.Graphs.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
        maxGroupSize = 10)
      ops.Graphs.neighborhoodJaccard(edges).filter(col("common") >= 3)
    },
      // X212 link prediction: wedge counts + degrees + one IEEE division
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |sized AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM items) t
        |  WHERE gs <= 10),
        |edges AS (
        |  SELECT DISTINCT x.i AS a, y.i AS b
        |  FROM sized x JOIN sized y ON x.g = y.g AND x.i < y.i),
        |adj AS (
        |  SELECT a AS u, b AS v FROM edges
        |  UNION ALL SELECT b AS u, a AS v FROM edges),
        |cn AS (
        |  SELECT x.u AS a, y.u AS b, count(*) AS common
        |  FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |deg AS (
        |  SELECT u AS node, count(*) AS degree FROM adj GROUP BY 1)
        |SELECT cn.a, cn.b, cn.common, da.degree AS deg_a, db.degree AS deg_b,
        |       CAST(cn.common AS DOUBLE) / (da.degree + db.degree - cn.common) AS jaccard
        |FROM cn JOIN deg da ON cn.a = da.node JOIN deg db ON cn.b = db.node""".stripMargin), isolated = true),
    "q_graph_adamic" -> QuerySpec((s, dir) => {
      // X242 Adamic–Adar: inverse-log-degree-weighted common
      // neighbors over the co-occurrence graph — a rare shared
      // neighbor counts more than a hub. One libm log per wedge →
      // 6-dp round on both sides (the NPMI contract); common >= 3
      // bounds the output like q_graph_jaccard.
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_partkey")
      val edges = ops.Graphs.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
        maxGroupSize = 10)
      ops.Graphs.adamicAdar(edges).filter(col("common") >= 3)
    },
      // X242 Adamic–Adar: the q_graph_jaccard wedge with the center's
      // degree joined on; one libm log per wedge → 6-dp both sides
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |sized AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM items) t
        |  WHERE gs <= 10),
        |edges AS (
        |  SELECT DISTINCT x.i AS a, y.i AS b
        |  FROM sized x JOIN sized y ON x.g = y.g AND x.i < y.i),
        |adj AS (
        |  SELECT a AS u, b AS v FROM edges
        |  UNION ALL SELECT b AS u, a AS v FROM edges),
        |deg AS (
        |  SELECT u AS node, count(*) AS degree FROM adj GROUP BY 1)
        |SELECT x.u AS a, y.u AS b, count(*) AS common,
        |       round(sum(CAST(1 AS DOUBLE) / ln(CAST(dz.degree AS DOUBLE))), 6) AS aa
        |FROM adj x
        |JOIN adj y ON x.v = y.v AND x.u < y.u
        |JOIN deg dz ON dz.node = x.v
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin), isolated = true),
    "q_graph_npmi" -> QuerySpec((s, dir) => {
      // X218 weighted co-occurrence: pair/item group-frequencies +
      // lift (one IEEE division over integer counts — bit-exact) +
      // NPMI (two libm logs — rounded 6dp on both sides). n_pair >= 2
      // bounds the output to pairs with repeated support (>= 3 is
      // empty at the sf0.01 correctness gate).
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_partkey")
      ops.Graphs.weightedCoOccurrenceEdges(li, "l_orderkey", "l_partkey",
        maxGroupSize = 10)
        .filter(col("n_pair") >= 2)
    },
      // X218 weighted co-occurrence: integer group frequencies, lift =
      // one IEEE division chain, npmi = two libm logs rounded 6dp
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |sized AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM items) t
        |  WHERE gs <= 10),
        |n AS (SELECT count(DISTINCT g) AS n_groups FROM sized),
        |ic AS (SELECT i, count(*) AS n_i FROM sized GROUP BY 1),
        |pc AS (
        |  SELECT x.i AS a, y.i AS b, count(*) AS n_pair
        |  FROM sized x JOIN sized y ON x.g = y.g AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pc.a, pc.b, pc.n_pair, ia.n_i AS n_a, ib.n_i AS n_b,
        |       CAST(pc.n_pair AS DOUBLE) * n.n_groups
        |         / (CAST(ia.n_i AS DOUBLE) * ib.n_i) AS lift,
        |       CASE WHEN pc.n_pair = n.n_groups THEN CAST(1 AS DOUBLE)
        |            ELSE round(ln(CAST(pc.n_pair AS DOUBLE) * n.n_groups
        |                          / (CAST(ia.n_i AS DOUBLE) * ib.n_i))
        |                       / ln(CAST(n.n_groups AS DOUBLE) / pc.n_pair), 6)
        |       END AS npmi
        |FROM pc JOIN ic ia ON pc.a = ia.i JOIN ic ib ON pc.b = ib.i, n""".stripMargin)),
    "q_graph_pagerank_weighted" -> QuerySpec((s, dir) => {
      // X218+X219 composition: the random walk over the WEIGHTED
      // co-occurrence graph — an edge receives w/strength(src) of its
      // source's rank (w = pair support). Integer weights keep the
      // unrolled oracle exact under the same 9-dp contract.
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_partkey")
      val we = ops.Graphs.weightedCoOccurrenceEdges(li, "l_orderkey", "l_partkey",
        maxGroupSize = 10).select(col("a"), col("b"), col("n_pair"))
      ops.Graphs.pageRank(we, iterations = 3, damping = 0.85,
        weightCol = Some("n_pair"))
        .select(col("node"), round(col("rank"), 9).as("rank"))
    },
      // X218+X219 weighted PageRank: the same unrolled chain with
      // integer edge weights — (pr * w) / strength, 9-dp both sides
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |sized AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM items) t
        |  WHERE gs <= 10),
        |pc AS (SELECT x.i AS a, y.i AS b, count(*) AS w
        |       FROM sized x JOIN sized y ON x.g = y.g AND x.i < y.i GROUP BY 1, 2),
        |dir AS (SELECT a AS src, b AS dst, w FROM pc
        |        UNION ALL SELECT b AS src, a AS dst, w FROM pc),
        |od AS (SELECT src, sum(w) AS outdeg FROM dir GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM dir),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM nodes),
        |c1 AS (SELECT d.dst, sum(r.pr * d.w / o.outdeg) AS in_sum
        |       FROM dir d JOIN r0 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r1 AS (SELECT v.node,
        |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
        |         + CAST(0.85 AS DOUBLE) * coalesce(c1.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c1 ON v.node = c1.dst),
        |c2 AS (SELECT d.dst, sum(r.pr * d.w / o.outdeg) AS in_sum
        |       FROM dir d JOIN r1 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r2 AS (SELECT v.node,
        |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
        |         + CAST(0.85 AS DOUBLE) * coalesce(c2.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c2 ON v.node = c2.dst),
        |c3 AS (SELECT d.dst, sum(r.pr * d.w / o.outdeg) AS in_sum
        |       FROM dir d JOIN r2 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r3 AS (SELECT v.node,
        |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
        |         + CAST(0.85 AS DOUBLE) * coalesce(c3.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c3 ON v.node = c3.dst)
        |SELECT node, round(pr, 9) AS "rank" FROM r3""".stripMargin)),
    "q_graph_labelprop" -> QuerySpec((s, dir) => {
      // X222: 3 fixed rounds of min-label propagation over the
      // co-occurrence graph — the connected-components loop BODY,
      // unrolled so DuckDB recomposes each round's join + min
      // aggregate (integer labels, hash-exact). The converging
      // production loop stays nearDupClusters; this pins its round.
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_partkey")
      val edges = ops.Graphs.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
        maxGroupSize = 10)
      ops.Graphs.minLabelPropagate(edges, rounds = 3)
    },
      // X222 min-label propagation, 3 unrolled rounds: the CC loop body
      // recomposed — integer min/least only, hash-exact
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |sized AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM items) t
        |  WHERE gs <= 10),
        |edges AS (
        |  SELECT DISTINCT x.i AS a, y.i AS b
        |  FROM sized x JOIN sized y ON x.g = y.g AND x.i < y.i),
        |dir AS (SELECT a AS x, b AS y FROM edges
        |        UNION ALL SELECT b AS x, a AS y FROM edges),
        |l1 AS (SELECT x AS id, least(x, min(y)) AS cluster FROM dir GROUP BY x),
        |n2 AS (SELECT d.x, min(r.cluster) AS ncl
        |       FROM dir d JOIN l1 r ON r.id = d.y GROUP BY d.x),
        |l2 AS (SELECT l.id, least(l.cluster, coalesce(n2.ncl, l.cluster)) AS cluster
        |       FROM l1 l LEFT JOIN n2 ON n2.x = l.id),
        |n3 AS (SELECT d.x, min(r.cluster) AS ncl
        |       FROM dir d JOIN l2 r ON r.id = d.y GROUP BY d.x),
        |l3 AS (SELECT l.id, least(l.cluster, coalesce(n3.ncl, l.cluster)) AS cluster
        |       FROM l2 l LEFT JOIN n3 ON n3.x = l.id)
        |SELECT id, cluster FROM l3""".stripMargin)),
    "q_graph_pagerank" -> QuerySpec((s, dir) => {
      // X219 bounded-iteration PageRank over the q_graph_triangles
      // co-occurrence graph: 3 iterations, damping 0.85. In-sums are
      // plain distributed sums on both sides; a 9-dp round on BOTH
      // sides absorbs the ~1-ULP summation-order noise (ranks ~1e-3:
      // 9 dp keeps ~6 significant digits — see Graphs.pageRank's
      // numeric contract, where the ordered-cumsum replay was A/B'd
      // and rejected). Undirected input → no dangling mass.
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_partkey")
      val edges = ops.Graphs.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
        maxGroupSize = 10)
      ops.Graphs.pageRank(edges, iterations = 3, damping = 0.85)
        .select(col("node"), round(col("rank"), 9).as("rank"))
    },
      // X219 PageRank, 3 unrolled iterations: plain distributed in-sums
      // on both sides, 9-dp round on both sides absorbing the ~1-ULP
      // summation-order noise (see Graphs.pageRank's numeric contract).
      // Float literals are cast to DOUBLE so DuckDB doesn't evaluate
      // them as DECIMALs.
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |sized AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM items) t
        |  WHERE gs <= 10),
        |edges AS (
        |  SELECT DISTINCT x.i AS a, y.i AS b
        |  FROM sized x JOIN sized y ON x.g = y.g AND x.i < y.i),
        |dir AS (SELECT a AS src, b AS dst FROM edges
        |        UNION ALL SELECT b AS src, a AS dst FROM edges),
        |od AS (SELECT src, count(*) AS outdeg FROM dir GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM dir),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM nodes),
        |c1 AS (SELECT d.dst, sum(r.pr / o.outdeg) AS in_sum
        |       FROM dir d JOIN r0 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r1 AS (SELECT v.node,
        |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
        |         + CAST(0.85 AS DOUBLE) * coalesce(c1.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c1 ON v.node = c1.dst),
        |c2 AS (SELECT d.dst, sum(r.pr / o.outdeg) AS in_sum
        |       FROM dir d JOIN r1 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r2 AS (SELECT v.node,
        |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
        |         + CAST(0.85 AS DOUBLE) * coalesce(c2.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c2 ON v.node = c2.dst),
        |c3 AS (SELECT d.dst, sum(r.pr / o.outdeg) AS in_sum
        |       FROM dir d JOIN r2 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r3 AS (SELECT v.node,
        |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
        |         + CAST(0.85 AS DOUBLE) * coalesce(c3.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c3 ON v.node = c3.dst)
        |SELECT node, round(pr, 9) AS "rank" FROM r3""".stripMargin), isolated = true),
    "q_graph_ppr" -> QuerySpec((s, dir) => {
      // X236 personalized PageRank: teleport to the 3 smallest node
      // ids (an SF-robust, engine-recomposable seed rule) — proximity
      // to the seeds instead of global centrality; same 9-dp contract
      // as q_graph_pagerank.
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_partkey")
      // the edge build feeds TWO independent plans (the seed rule and
      // the walk) — materialize it once; without this the seed subtree
      // recomputes the whole pair build per consuming job (measured
      // r13: 4.6 s vs 1.9 s at sf0.1)
      val edges = ops.Graphs.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
        maxGroupSize = 10).localCheckpoint(true)
      val seeds = edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node")))
        .distinct().orderBy("node").limit(3)
      ops.Graphs.personalizedPageRank(edges, seeds, iterations = 3, damping = 0.85)
        .select(col("node"), round(col("rank"), 9).as("rank"))
    },
      // X236 personalized PageRank: teleport to the 3 smallest node ids
      // — same unrolled chain, seed-conditional teleport, 9-dp contract
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |sized AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM items) t
        |  WHERE gs <= 10),
        |edges AS (
        |  SELECT DISTINCT x.i AS a, y.i AS b
        |  FROM sized x JOIN sized y ON x.g = y.g AND x.i < y.i),
        |dir AS (SELECT a AS src, b AS dst FROM edges
        |        UNION ALL SELECT b AS src, a AS dst FROM edges),
        |od AS (SELECT src, count(*) AS outdeg FROM dir GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM dir),
        |seeds AS (SELECT node FROM nodes ORDER BY node LIMIT 3),
        |ns AS (SELECT CAST(count(*) AS DOUBLE) AS s FROM seeds),
        |r0 AS (SELECT node,
        |         CASE WHEN node IN (SELECT node FROM seeds)
        |              THEN CAST(1 AS DOUBLE) / (SELECT s FROM ns)
        |              ELSE CAST(0 AS DOUBLE) END AS pr
        |       FROM nodes),
        |c1 AS (SELECT d.dst, sum(r.pr / o.outdeg) AS in_sum
        |       FROM dir d JOIN r0 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r1 AS (SELECT v.node,
        |         CASE WHEN v.node IN (SELECT node FROM seeds)
        |              THEN (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT s FROM ns)
        |              ELSE CAST(0 AS DOUBLE) END
        |         + CAST(0.85 AS DOUBLE) * coalesce(c1.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c1 ON v.node = c1.dst),
        |c2 AS (SELECT d.dst, sum(r.pr / o.outdeg) AS in_sum
        |       FROM dir d JOIN r1 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r2 AS (SELECT v.node,
        |         CASE WHEN v.node IN (SELECT node FROM seeds)
        |              THEN (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT s FROM ns)
        |              ELSE CAST(0 AS DOUBLE) END
        |         + CAST(0.85 AS DOUBLE) * coalesce(c2.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c2 ON v.node = c2.dst),
        |c3 AS (SELECT d.dst, sum(r.pr / o.outdeg) AS in_sum
        |       FROM dir d JOIN r2 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r3 AS (SELECT v.node,
        |         CASE WHEN v.node IN (SELECT node FROM seeds)
        |              THEN (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT s FROM ns)
        |              ELSE CAST(0 AS DOUBLE) END
        |         + CAST(0.85 AS DOUBLE) * coalesce(c3.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c3 ON v.node = c3.dst)
        |SELECT node, round(pr, 9) AS "rank" FROM r3""".stripMargin), isolated = true),
    "q_graph_ppr_weighted" -> QuerySpec((s, dir) => {
      // X236+X218 (r13): seeded recommendation over SUPPORT-weighted
      // co-occurrence edges — the walk teleports to the 3 smallest
      // node ids and each edge carries w/strength(src) of its source's
      // rank (w = pair support). Same 9-dp contract; integer weights
      // keep the unrolled oracle exact. Edge build checkpointed for
      // the same two-consumer reason as q_graph_ppr.
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_partkey")
      val we = ops.Graphs.weightedCoOccurrenceEdges(li, "l_orderkey", "l_partkey",
        maxGroupSize = 10).select(col("a"), col("b"), col("n_pair"))
        .localCheckpoint(true)
      val seeds = we.select(col("a").as("node"))
        .unionAll(we.select(col("b").as("node")))
        .distinct().orderBy("node").limit(3)
      ops.Graphs.personalizedPageRank(we, seeds, iterations = 3, damping = 0.85,
        weightCol = Some("n_pair"))
        .select(col("node"), round(col("rank"), 9).as("rank"))
    },
      // X236+X218 weighted personalized PageRank: the seeded unrolled
      // chain over support-weighted edges — (pr * w) / strength with
      // seed-conditional teleport, 9-dp both sides
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |sized AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM items) t
        |  WHERE gs <= 10),
        |pc AS (SELECT x.i AS a, y.i AS b, count(*) AS w
        |       FROM sized x JOIN sized y ON x.g = y.g AND x.i < y.i GROUP BY 1, 2),
        |dir AS (SELECT a AS src, b AS dst, w FROM pc
        |        UNION ALL SELECT b AS src, a AS dst, w FROM pc),
        |od AS (SELECT src, sum(w) AS outdeg FROM dir GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM dir),
        |seeds AS (SELECT node FROM nodes ORDER BY node LIMIT 3),
        |ns AS (SELECT CAST(count(*) AS DOUBLE) AS s FROM seeds),
        |r0 AS (SELECT node,
        |         CASE WHEN node IN (SELECT node FROM seeds)
        |              THEN CAST(1 AS DOUBLE) / (SELECT s FROM ns)
        |              ELSE CAST(0 AS DOUBLE) END AS pr
        |       FROM nodes),
        |c1 AS (SELECT d.dst, sum(r.pr * d.w / o.outdeg) AS in_sum
        |       FROM dir d JOIN r0 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r1 AS (SELECT v.node,
        |         CASE WHEN v.node IN (SELECT node FROM seeds)
        |              THEN (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT s FROM ns)
        |              ELSE CAST(0 AS DOUBLE) END
        |         + CAST(0.85 AS DOUBLE) * coalesce(c1.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c1 ON v.node = c1.dst),
        |c2 AS (SELECT d.dst, sum(r.pr * d.w / o.outdeg) AS in_sum
        |       FROM dir d JOIN r1 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r2 AS (SELECT v.node,
        |         CASE WHEN v.node IN (SELECT node FROM seeds)
        |              THEN (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT s FROM ns)
        |              ELSE CAST(0 AS DOUBLE) END
        |         + CAST(0.85 AS DOUBLE) * coalesce(c2.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c2 ON v.node = c2.dst),
        |c3 AS (SELECT d.dst, sum(r.pr * d.w / o.outdeg) AS in_sum
        |       FROM dir d JOIN r2 r ON r.node = d.src JOIN od o ON o.src = d.src
        |       GROUP BY 1),
        |r3 AS (SELECT v.node,
        |         CASE WHEN v.node IN (SELECT node FROM seeds)
        |              THEN (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT s FROM ns)
        |              ELSE CAST(0 AS DOUBLE) END
        |         + CAST(0.85 AS DOUBLE) * coalesce(c3.in_sum, CAST(0 AS DOUBLE)) AS pr
        |       FROM nodes v LEFT JOIN c3 ON v.node = c3.dst)
        |SELECT node, round(pr, 9) AS "rank" FROM r3""".stripMargin), isolated = true),
    "q_table_checksum" -> QuerySpec((s, dir) => {
      // X216 order-independent checksum: the replica handshake — both
      // engines sum the same md5 windows over the same canonical row
      // strings, so the totals match bit-exact with no row moved.
      // BIGINT output (the sum fits far inside Long at test scale;
      // the API's DECIMAL(38,0) is the at-scale form).
      val o = Tables.orders(s, dir)
      ops.Relational.tableChecksum(o,
        Seq("o_orderkey", "o_orderstatus", "o_orderdate"))
        .select(col("n_rows"), col("sum_w0").cast("long").as("sum_w0"),
          col("sum_w1").cast("long").as("sum_w1"))
    },
      // X216 checksum: same canonical strings, same md5 windows, same sums
      Some("""WITH h AS (
        |  SELECT md5(concat_ws(chr(31),
        |    coalesce(CAST(o_orderkey AS VARCHAR), chr(30)),
        |    coalesce(CAST(o_orderstatus AS VARCHAR), chr(30)),
        |    coalesce(CAST(o_orderdate AS VARCHAR), chr(30)))) AS h
        |  FROM orders)
        |SELECT count(*) AS n_rows,
        |       CAST(coalesce(sum(('0x' || substr(h, 1, 8))::BIGINT), 0) AS BIGINT) AS sum_w0,
        |       CAST(coalesce(sum(('0x' || substr(h, 9, 8))::BIGINT), 0) AS BIGINT) AS sum_w1
        |FROM h""".stripMargin)),
    "q_expectations" -> QuerySpec((s, dir) => {
      // X215 expectations: ingest triage — a drop rule filters, a
      // quarantine rule diverts to the side table with provenance;
      // rules apply in name order ('no_returns' < 'small_qty'), so
      // quarantine only sees rows the drop kept. The oracle recomposes
      // both destinations as plain filters.
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      val root = java.nio.file.Files.createTempDirectory("graft_qexp").toString + "/t"
      Warehouse.setSnapshotExpectation(s, root, "no_returns",
        "l_returnflag <> 'R'", "drop")
      Warehouse.setSnapshotExpectation(s, root, "small_qty",
        "l_quantity < 45.0", "quarantine")
      Warehouse.writeSnapshot(li, root)
      Warehouse.readSnapshot(s, root).withColumn("src", lit("kept"))
        .unionByName(Warehouse.readSnapshot(s, Warehouse.quarantinePath(root))
          .drop("_violated", "_violating_op")
          .withColumn("src", lit("quarantined")))
    },
      // X215 expectations: both triage destinations recompose as filters
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, 'kept' AS src
        |FROM lineitem WHERE l_returnflag <> 'R' AND l_quantity < 45.0
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, 'quarantined' AS src
        |FROM lineitem WHERE l_returnflag <> 'R' AND NOT (l_quantity < 45.0)""".stripMargin)),
    "q_priority_sample" -> QuerySpec((s, dir) => {
      // X228 priority sampling (Duffield–Lund–Thorup): the 100 docs
      // with the largest w/u priority (w = char length, u = md5-window
      // uniform), each with its τ-adjusted subset-sum weight estimate.
      // Deterministic by the md5 contract → exact oracle, sampling
      // randomness included.
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).as("w"))
      ext.Sketches.prioritySample(d, "doc_id", "w", k = 100)
    },
      // X228 priority sampling: w/u priorities with the 60-bit md5
      // window as u, τ = the 101st largest priority (0 when the
      // population is smaller), ŵ = max(w, τ) — every term one IEEE
      // division/comparison/max, exact cross-engine
      Some("""WITH p AS (
        |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS w,
        |         CAST(length(text) AS DOUBLE) /
        |           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1
        |                 AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)) AS q
        |  FROM documents WHERE length(text) > 0
        |), r AS (SELECT *, row_number() OVER (ORDER BY q DESC, doc_id) AS rn FROM p),
        |tau AS (
        |  SELECT CASE WHEN count(*) = 101 THEN min(q) ELSE CAST(0 AS DOUBLE) END AS tau
        |  FROM r WHERE rn <= 101)
        |SELECT doc_id, w, greatest(w, tau) AS w_est
        |FROM r, tau WHERE rn <= 100""".stripMargin)),
    "q_consistent_sample" -> QuerySpec((s, dir) => {
      // X214 consistent (bottom-k priority) sampling: the 50 customers
      // with the smallest md5 priority, then every one of their order
      // rows — the same keys in ANY engine, table or run, which is
      // what makes cross-table samples joinable. Deterministic by
      // construction → exact oracle.
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      ext.Sketches.consistentKeySample(o, "o_custkey", 50)
    },
      // X214 consistent sampling: the same bottom-k-by-md5 key choice in
      // any engine — the sampled rows recompose exactly
      Some("""WITH keys AS (
        |  SELECT o_custkey FROM (SELECT DISTINCT o_custkey FROM orders) t
        |  ORDER BY md5(CAST(o_custkey AS VARCHAR)), o_custkey LIMIT 50)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_custkey IN (SELECT o_custkey FROM keys)""".stripMargin)),
    "q_heavy_hitters_cm" -> QuerySpec((s, dir) => {
      // X213 Count-Min: frequency estimates for a fixed probe set from
      // a 4-lane md5 sketch (engine-portable contract — DuckDB rebuilds
      // the SAME counters and the SAME collisions, so even the
      // overestimates hash-match), joined against the true counts.
      val li = Tables.lineitem(s, dir).select("l_partkey")
      val sk = ext.Sketches.countMinSketch(li, "l_partkey", width = 1024L)
      val probes = li.filter(col("l_partkey") <= 20)
      val est = ext.Sketches.countMinEstimate(sk, probes, "l_partkey", width = 1024L)
      val truth = probes.groupBy("l_partkey").agg(count(lit(1)).as("true_count"))
      est.join(truth, Seq("l_partkey"))
        .select(col("l_partkey"), col("true_count"), col("cm_estimate"))
    },
      // X213 Count-Min: same md5-lane counters, same collisions — the
      // estimates (overestimates included) recompose exactly
      Some("""WITH hx AS (
        |  SELECT md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
        |sketch AS (
        |  SELECT i AS lane,
        |         ('0x' || substr(h, 8*i + 1, 8))::BIGINT % 1024 AS bucket,
        |         count(*) AS c
        |  FROM hx CROSS JOIN range(4) t(i) GROUP BY 1, 2),
        |probes AS (
        |  SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey <= 20),
        |pb AS (
        |  SELECT l_partkey, i AS lane,
        |         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 8*i + 1, 8))::BIGINT % 1024 AS bucket
        |  FROM probes CROSS JOIN range(4) t(i)),
        |est AS (
        |  SELECT l_partkey, CAST(min(coalesce(c, 0)) AS BIGINT) AS cm_estimate
        |  FROM pb LEFT JOIN sketch USING (lane, bucket) GROUP BY 1),
        |truth AS (
        |  SELECT l_partkey, count(*) AS true_count FROM lineitem
        |  WHERE l_partkey <= 20 GROUP BY 1)
        |SELECT e.l_partkey, t.true_count, e.cm_estimate
        |FROM est e JOIN truth t USING (l_partkey)""".stripMargin), isolated = true),
    "q_graph_triangles" -> QuerySpec((s, dir) => {
      // X212 graph analytics: parts-co-ordered-together co-occurrence
      // graph (10% of orders — the wedge stage is Σ outdeg², so the
      // benchmark bounds degree like any co-occurrence miner bounds
      // its stopwords) → exact triangle count + structural summary.
      // Pure integer results → hash-exact against the same SQL
      // recomposition.
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_partkey")
      val edges = ops.Graphs.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
        maxGroupSize = 10)
      ops.Graphs.graphSummary(edges)
    },
      // X212 graph analytics: co-occurrence triangle count — exact
      // integers, same wedge-close recomposition
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |sized AS (
        |  SELECT g, i FROM (
        |    SELECT g, i, count(*) OVER (PARTITION BY g) AS gs FROM items) t
        |  WHERE gs <= 10),
        |edges AS (
        |  SELECT DISTINCT x.i AS a, y.i AS b
        |  FROM sized x JOIN sized y ON x.g = y.g AND x.i < y.i),
        |deg AS (
        |  SELECT node, count(*) AS degree FROM (
        |    SELECT a AS node FROM edges UNION ALL SELECT b FROM edges) u
        |  GROUP BY node)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |       (SELECT count(*) FROM edges) AS n_edges,
        |       (SELECT count(*) FROM edges e1
        |          JOIN edges e2 ON e1.b = e2.a
        |          JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b) AS n_triangles,
        |       (SELECT max(degree) FROM deg) AS max_degree""".stripMargin)),
    "q_incr_topk_cdf" -> QuerySpec((s, dir) => {
      // X208 top-k IVM: maintain each status's 5 highest prices
      // through a bracket whose deletes evict retained values (those
      // groups rescan, bounded) and whose updates restate prices
      // (preimage subtracts the old copy). Values are COPIED, never
      // combined (×2.0 is exact in binary) → bit-exact; the maintained
      // arrays explode to (group, rank, value) rows so the compare is
      // order-robust, and must equal the direct top-5 of the new state.
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
      val oldState = o.filter(col("o_orderkey") % 5 =!= 0)
      val newState = o.filter(col("o_orderkey") % 3 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2.0)
            .otherwise(col("o_totalprice")))
      val aggOld = oldState.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          slice(sort_array(collect_list(col("o_totalprice")), asc = false), 1, 5)
            .as("topk"))
      val feed = Warehouse.diffFrames(oldState, newState, Seq("o_orderkey"),
        preImages = true)
      store.Ivm.maintainTopK(aggOld, feed, newState, Seq("o_orderstatus"),
        "o_totalprice", 5)
        .select(col("o_orderstatus"), col("n"),
          posexplode(col("topk")).as(Seq("pos", "price")))
        .select(col("o_orderstatus"), col("n"),
          (col("pos") + 1).cast("int").as("rk"), col("price"))
    },
      // X208 top-k IVM: the maintained per-group top-5 (exploded to
      // rank rows) must equal the direct top-5 of the new state
      Some("""WITH newst AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2.0 ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |ranked AS (
        |  SELECT o_orderstatus, price,
        |         row_number() OVER (PARTITION BY o_orderstatus ORDER BY price DESC) AS rk,
        |         count(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM newst)
        |SELECT o_orderstatus, n, CAST(rk AS INT) AS rk, price
        |FROM ranked WHERE rk <= 5""".stripMargin)),
    "q_incr_join_cdf" -> QuerySpec((s, dir) => {
      // X191 join IVM: a materialized rollup of A ⋈ B maintained from
      // the two tables' PERSISTED change feeds alone — delta-join rule
      // ΔV = ΔA⋈B_old ∪ A_new⋈ΔB, both deltas broadcast so neither
      // table shuffles. A starts as the even-orderkey lineitem half,
      // gains the odd half by append, then loses small quantities via
      // a DELETION-VECTOR delete (X189's feed composing in); B's
      // update shifts some group keys (preimage subtracts the old
      // group). Whole-number double measure → bit-exact algebra; the
      // oracle recomputes the final join directly.
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("okey"), col("l_quantity"))
      val or = Tables.orders(s, dir)
        .select(col("o_orderkey").as("okey"), col("o_custkey"))
      val rootA = java.nio.file.Files.createTempDirectory("graft_qja").toString + "/t"
      val rootB = java.nio.file.Files.createTempDirectory("graft_qjb").toString + "/t"
      // r17 (guide §2.6): A's chain and B's chain touch DISJOINT tables
      // — overlap the two seed writes, and A's append+dv-delete with
      // B's update; per-table version sequences (A v1..3, B v1..2) and
      // the maintained result are unchanged
      inParallel(
        Warehouse.writeSnapshot(li.filter(col("okey") % 2 === 0)
          .repartition(3, col("okey")), rootA)) {
        Warehouse.writeSnapshot(or.repartition(3, col("okey")), rootB)
      }
      val agg0 = Warehouse.readSnapshot(s, rootA)
        .join(Warehouse.readSnapshot(s, rootB), "okey")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
      inParallel {
        Warehouse.appendSnapshot(li.filter(col("okey") % 2 === 1), rootA, 1L,
          changeFeed = true)                                             // A v2
        Warehouse.deleteWhereDv(s, rootA, col("l_quantity") < 5.0,
          changeFeed = true)                                             // A v3
      } {
        Warehouse.updateWhere(s, rootB, col("okey") % 10 === 0,
          Map("o_custkey" -> (col("o_custkey") + 100000L)),
          changeFeed = true)                                             // B v2
      }
      store.Ivm.maintainJoinAggregate(agg0,
        (rootA, 2L, 3L), (rootB, 2L, 2L),
        Seq("okey"), Seq("o_custkey"), Map("qty" -> "l_quantity"), "n")
    },
      // X191 join IVM: the maintained rollup must equal the direct
      // recompute of the FINAL join — A ends as all lineitem minus the
      // dv-deleted small quantities, B as orders with shifted group keys
      Some("""WITH a AS (
        |  SELECT l_orderkey AS okey, l_quantity FROM lineitem
        |  WHERE NOT (l_quantity < 5.0)),
        |b AS (
        |  SELECT o_orderkey AS okey,
        |         CASE WHEN o_orderkey % 10 = 0 THEN o_custkey + 100000 ELSE o_custkey END AS o_custkey
        |  FROM orders)
        |SELECT b.o_custkey, count(*) AS n, sum(a.l_quantity) AS qty
        |FROM a JOIN b USING (okey)
        |GROUP BY b.o_custkey""".stripMargin)),
    "q_enrich_affected" -> QuerySpec((s, dir) => {
      // restatement ripple: day 10's close corrected ×1.5 — recompute
      // ONLY the rows whose windows see it (days 10..30 here); must
      // equal the full recompute over the restated table bit-exactly
      val d = dailyOhlc(s, dir)
      val restated = d.withColumn("close",
        when(col("date") === lit("2024-01-10").cast("date"), col("close") * 1.5)
          .otherwise(col("close")))
      ops.Indicators.enrichAffected(restated,
        restated.filter(col("date") === lit("2024-01-10").cast("date")).select("date", "asset"))
    },
      Some(dailyCte +
      """, restated AS (
        |  SELECT date, asset, open, high, low,
        |         CASE WHEN date = DATE '2024-01-10' THEN close * 1.5 ELSE close END AS close
        |  FROM daily
        |), ret2 AS (
        |  SELECT *, close / lag(close) OVER (PARTITION BY asset ORDER BY date) - 1 AS ret
        |  FROM restated
        |), enr2 AS (
        |  -- ma7/ma30 via list_sum: DuckDB's sliding avg() is a segment
        |  -- tree whose summation ORDER differs from Spark's linear
        |  -- frame scan — agrees on natural closes (q_ma30) but the
        |  -- restated day hit a 1-ulp boundary; list() pins frame order
        |  SELECT *,
        |    CASE WHEN count(close) OVER w7 >= 7
        |         THEN list_sum(list(close) OVER w7) / count(close) OVER w7 END AS ma7,
        |    CASE WHEN count(close) OVER w30 >= 30
        |         THEN list_sum(list(close) OVER w30) / count(close) OVER w30 END AS ma30,
        |    CASE WHEN count(ret) OVER w30 >= 30 THEN stddev_samp(ret) OVER w30 END AS vol30
        |  FROM ret2
        |  WINDOW w7 AS (PARTITION BY asset ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
        |         w30 AS (PARTITION BY asset ORDER BY date ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
        |), enr3 AS (
        |  SELECT *, row_number() OVER (PARTITION BY asset ORDER BY date) AS rn FROM enr2
        |), marks AS (
        |  SELECT asset, rn AS mrn FROM enr3 WHERE date = DATE '2024-01-10'
        |)
        |-- bounded EXACTLY like enrichAffected: only rows within 30 ROWS
        |-- at-or-after a restated mark (not "everything after the mark
        |-- date", which agrees here only because daily spans 30 days —
        |-- this form would catch an output-truncation regression at any
        |-- data span, r8 advice)
        |SELECT date, asset, open, high, low, close, ret, ma7, ma30, vol30
        |FROM enr3 JOIN marks USING (asset)
        |WHERE rn BETWEEN mrn AND mrn + 30""".stripMargin)),
    "q_incr_indicators" -> QuerySpec((s, dir) => {
      // incremental nightly refresh: days 21+ enriched from each
      // asset's trailing 31-row tail only — must equal the full-table
      // window recompute bit-exactly (the oracle IS that recompute)
      val all = dailyOhlc(s, dir)
      ops.Indicators.enrichIncremental(
        all.filter(col("date") < lit("2024-01-21").cast("date")),
        all.filter(col("date") >= lit("2024-01-21").cast("date")))
    },
      Some(enrichedCte +
      " SELECT * FROM enriched WHERE date >= DATE '2024-01-21'")),
    "q_quarantine" -> QuerySpec((s, dir) => {
      // dead-letter validation: ordered rules, first failure names the
      // reason; error events with capped values prove first-wins
      quality.Checks.annotateQuarantine(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        Seq("no_error_events" -> (col("event_type") =!= "error"),
            "value_cap" -> (col("value") <= 400.0)))
    },
      Some("""SELECT event_id, event_type, value,
        |       CASE WHEN NOT coalesce(event_type <> 'error', false) THEN 'no_error_events'
        |            WHEN NOT coalesce(value <= 400.0, false) THEN 'value_cap'
        |       END AS _quarantine_reason
        |FROM events""".stripMargin)),
    "q_incr_agg" -> QuerySpec((s, dir) => {
      // incremental MV refresh: per-user metrics as mergeable state —
      // history's state merged with the new batch's, never a rescan of
      // history; equals the direct full aggregation by associativity
      val ev = Tables.events(s, dir)
      val history = ev.filter(to_date(col("ts")) < lit("2024-01-21").cast("date"))
      val delta = ev.filter(to_date(col("ts")) >= lit("2024-01-21").cast("date"))
      ops.IncrementalAgg.finalizeState(ops.IncrementalAgg.merge(
        ops.IncrementalAgg.state(history, Seq("user_id"), "value"),
        ops.IncrementalAgg.state(delta, Seq("user_id"), "value"),
        Seq("user_id")))
    },
      Some("""SELECT user_id, count(value) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sum_v,
        |       min(value) AS min_v, max(value) AS max_v,
        |       CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / count(value) AS mean_v
        |FROM events GROUP BY user_id""".stripMargin)),
    // ---- north-star: dedup family ----
    "q_dedup_exact" -> QuerySpec((s, dir) => Dedup.exact(Tables.documents(s, dir),
      substring(col("text"), 1, 50)),
      Some("""SELECT min(doc_id) AS doc_id, substr(text, 1, 50) AS dedup_key, count(*) AS n_dups
        |FROM documents GROUP BY 2""".stripMargin)),
    "q_dedup_ngram" -> QuerySpec((s, dir) => // dfCap ON: the form that survives boilerplate at scale;
      // exact here (max observed 3-gram df is 25 at sf0.1, ≪ 100)
      // r17 session 2: fanned read — same shingle kernel q_dedup_keep
      // already fans; QueryProf showed the tokenize+shingle pass as a
      // 0.84 s single-task job on the one-row-group scan
      Dedup.ngramJaccardPairs(Tables.documentsWide(s, dir), n = 3, threshold = 0.8, dfCap = Some(100)),
      Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                                     for i in range(1, len(toks) - 1)]) AS shingles
        |       FROM tok WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter,
        |         any_value(x.n) AS na, any_value(y.n) AS nb
        |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, inter / (na + nb - inter) AS jaccard
        |FROM pairs WHERE inter / (na + nb - inter) >= 0.8""".stripMargin)),
    "q_dedup_minhash" -> QuerySpec((s, dir) => // approximate (hash-based): rows-only check
      Dedup.minhashNearDups(Tables.documents(s, dir), n = 3, numHashes = 128, bands = 16, threshold = 0.8), None),
    "q_dedup_minhash_md5" -> QuerySpec((s, dir) => // md5-based construction: full oracle hash-match
      Dedup.minhashNearDupsMd5(Tables.documents(s, dir), n = 3, threshold = 0.8),
      // the md5-MinHash construction recomposed verbatim: Horner-parse
      // the first 15 md5 hex chars mod P (bit-identical to Spark's
      // conv(·,16,10) % P), the same 8 universal hashes / 4 bands /
      // exact-Jaccard verify — pins the LSH banding logic cross-engine
      Some {
      val P = "2147483647"
      val horner = (2 to 15).foldLeft(
        s"(strpos('0123456789abcdef', substr(md5(s), 1, 1)) - 1)::BIGINT") {
        (acc, i) => s"(($acc * 16 + strpos('0123456789abcdef', substr(md5(s), $i, 1)) - 1) % $P)"
      }
      val params = graft.ext.Dedup.Md5MinhashParams
      val sigCols = params.zipWithIndex.map { case ((a, b), i) =>
        s"min((h * $a + $b) % $P) AS m$i"
      }.mkString(", ")
      val bandSel = (0 until 4).map { k =>
        s"SELECT doc_id, $k AS band, m${2 * k}::VARCHAR || ',' || m${2 * k + 1}::VARCHAR AS bk FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                                     for i in range(1, len(toks) - 1)]) AS shingles
         |       FROM tok WHERE len(toks) >= 3),
         |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
         |hashed AS (SELECT doc_id, $horner AS h FROM ex),
         |sig AS (SELECT doc_id, $sigCols FROM hashed GROUP BY doc_id),
         |bands AS ($bandSel),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
         |pairs AS (
         |  SELECT c.a, c.b, count(*) AS inter,
         |         any_value(xa.n) AS na, any_value(xb.n) AS nb
         |  FROM cand c
         |  JOIN ex xa ON xa.doc_id = c.a
         |  JOIN ex xb ON xb.doc_id = c.b AND xb.s = xa.s
         |  GROUP BY 1, 2)
         |SELECT a, b, inter / (na + nb - inter) AS jaccard
         |FROM pairs WHERE inter / (na + nb - inter) >= 0.8""".stripMargin
    }),
    "q_dedup_shingle_indexed" -> QuerySpec((s, dir) => {
      // X250 persisted shingle-LSH index, screened THROUGH storage:
      // the q_dedup_minhash_md5 construction built over the even-id
      // catalog as a bucket-clustered snapshot table (+ meta side
      // table), then the odd-id increment screens via the pruned
      // bucket read — candidates from band-key equality inside the
      // probed rows, exact Jaccard over the stored distinct 60-bit
      // shingle hashes. The bucket layer changes which FILES open,
      // never which pairs verify, so the whole screen recomposes in
      // ANSI SQL; what this key adds over q_dedup_minhash_md5 is the
      // round-trip THROUGH the persisted index (parquet long-array
      // round-trip, bucket layout, manifest-pruned probe read).
      val docs = Tables.documentsWide(s, dir) // r16: md5-shingle sign is kernel-CPU, fanned read
      val root = java.nio.file.Files.createTempDirectory("graft_qshidx").toString + "/t"
      ext.ShingleIndex.buildShingleIndex(docs.filter(col("doc_id") % 2 === 0), root, n = 3)
      ext.ShingleIndex.nearDupAgainstShingleIndex(
        docs.filter(col("doc_id") % 2 === 1), root, threshold = 0.8)
    },
      // X250 persisted shingle-LSH screen: the md5-MinHash construction
      // recomposed over the even/odd catalog-increment split — bucket
      // pruning only decides which FILES open (bucket is a coarsening
      // of the band key), so the oracle needs no bucket layer at all:
      // candidates are band-key equality across the split, verified
      // with exact Jaccard over each doc's DISTINCT 60-bit md5 shingle
      // hashes (the index stores hashes, not shingle text — the
      // Broder-style wire trade; per-doc collision odds ~1e-10)
      Some {
      val P = "2147483647"
      val horner60 = (2 to 15).foldLeft(
        "(strpos('0123456789abcdef', substr(md5(s), 1, 1)) - 1)::BIGINT") {
        (acc, i) => s"($acc * 16 + strpos('0123456789abcdef', substr(md5(s), $i, 1)) - 1)"
      }
      val sigCols = graft.ext.Dedup.Md5MinhashParams.zipWithIndex.map { case ((a, b), i) =>
        s"min(((h % $P) * $a + $b) % $P) AS m$i"
      }.mkString(", ")
      val bandSel = (0 until 4).map { k =>
        s"SELECT doc_id, $k AS band, m${2 * k} * 2147483648 + m${2 * k + 1} AS bk FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                                     for i in range(1, len(toks) - 1)]) AS shingles
         |       FROM tok WHERE len(toks) >= 3),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
         |hashed AS (SELECT doc_id, $horner60 AS h FROM ex),
         |sig AS (SELECT doc_id, $sigCols,
         |               count(DISTINCT h) AS n_sh, list_distinct(list(h)) AS shh
         |        FROM hashed GROUP BY doc_id),
         |bands AS ($bandSel),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bands x JOIN bands y ON x.band = y.band AND x.bk = y.bk
         |         WHERE x.doc_id % 2 = 0 AND y.doc_id % 2 = 1),
         |pairs AS (SELECT c.a, c.b,
         |                 len(list_intersect(sa.shh, sb.shh)) AS inter,
         |                 sa.n_sh AS na, sb.n_sh AS nb
         |          FROM cand c
         |          JOIN sig sa ON sa.doc_id = c.a
         |          JOIN sig sb ON sb.doc_id = c.b)
         |SELECT a, b, inter / (na + nb - inter) AS jaccard
         |FROM pairs WHERE inter / (na + nb - inter) >= 0.8""".stripMargin
    }, isolated = true),
    "q_decontam_indexed" -> QuerySpec((s, dir) => {
      // X255 persisted shingle-posting index, screened THROUGH
      // storage: the even-id catalog's posting lists (md5 60-bit
      // shingle hashes, bucket-range-clustered), probed by the odd-id
      // docs — EXACT-recall containment both ways (no banding
      // probability; the decontamination reading is c_ba, the probe
      // doc's contaminated fraction). dfCap off: the full exact pair
      // set, ANSI-recomposable end to end.
      val docs = Tables.documentsWide(s, dir) // r16: shingle-posting build is kernel-CPU, fanned read
      val root = java.nio.file.Files.createTempDirectory("graft_qpidx").toString + "/t"
      ext.PostingIndex.buildPostingIndex(docs.filter(col("doc_id") % 2 === 0), root, n = 3)
      ext.PostingIndex.containmentAgainstIndex(
        docs.filter(col("doc_id") % 2 === 1), root, threshold = 0.5)
    },
      // X255 posting-index containment screen: distinct 60-bit md5
      // shingle hashes per doc, cross-split pairs from shared hashes,
      // both containment directions over hash-set sizes — the bucket
      // layer only decides which files open, so the oracle needs none
      Some {
      val horner60 = (2 to 15).foldLeft(
        "(strpos('0123456789abcdef', substr(md5(s), 1, 1)) - 1)::BIGINT") {
        (acc, i) => s"($acc * 16 + strpos('0123456789abcdef', substr(md5(s), $i, 1)) - 1)"
      }
      s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                                     for i in range(1, len(toks) - 1)]) AS shingles
         |       FROM tok WHERE len(toks) >= 3),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
         |hd AS (SELECT DISTINCT doc_id, $horner60 AS h FROM ex),
         |ns AS (SELECT doc_id, count(*) AS n FROM hd GROUP BY 1),
         |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |          FROM hd x JOIN hd y ON x.h = y.h
         |          WHERE x.doc_id % 2 = 0 AND y.doc_id % 2 = 1 GROUP BY 1, 2)
         |SELECT a, b, inter / nsa.n AS c_ab, inter / nsb.n AS c_ba
         |FROM pairs JOIN ns nsa ON nsa.doc_id = a JOIN ns nsb ON nsb.doc_id = b
         |WHERE greatest(inter / nsa.n, inter / nsb.n) >= 0.5""".stripMargin
    }, isolated = true),
    "q_dedup_simhash" -> QuerySpec((s, dir) => // hash-based: rows-only vs oracle; pair set
      // proven == brute-force hamming<=3 on sf0.001 (DedupSpec)
      Dedup.simhashNearDups(Tables.documents(s, dir), n = 3, maxHamming = 3), None),
    "q_dedup_simhash_md5" -> QuerySpec((s, dir) => // md5-based construction: full oracle hash-match
      // r17 session 2: fanned read — an md5 per shingle is the heaviest
      // per-row kernel in the dedup family; QueryProf showed it as a
      // 0.9-1.5 s single-task job on the one-row-group scan
      Dedup.simhashNearDupsMd5(Tables.documentsWide(s, dir), n = 3, maxHamming = 3),
      // X179: md5-based SimHash — the whole construction (60-bit md5
      // fingerprint, per-bit majority votes, 4x15-bit pigeonhole bands,
      // exact hamming verify) recomposed in SQL; hamming <= 3 makes the
      // band recall pigeonhole-EXACT, so the pair set is deterministic
      Some {
      val horner60 = (2 to 15).foldLeft(
        "(strpos('0123456789abcdef', substr(md5(s), 1, 1)) - 1)::BIGINT") {
        (acc, i) => s"($acc * 16 + strpos('0123456789abcdef', substr(md5(s), $i, 1)) - 1)"
      }
      s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                                     for i in range(1, len(toks) - 1)]) AS shingles
         |       FROM tok WHERE len(toks) >= 3),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
         |hashed AS (SELECT doc_id, $horner60 AS h FROM ex),
         |votes AS (SELECT doc_id, j,
         |            sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |          FROM hashed CROSS JOIN range(60) t(j) GROUP BY 1, 2),
         |fp AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS f
         |       FROM votes GROUP BY 1),
         |bands AS (SELECT doc_id, k AS band, (f >> (15 * k)::INT) & 32767 AS bk
         |          FROM fp CROSS JOIN range(4) t(k)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
         |         ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id)
         |SELECT c.a, c.b, CAST(bit_count(xor(fa.f, fb.f)) AS BIGINT) AS hamming
         |FROM cand c JOIN fp fa ON fa.doc_id = c.a JOIN fp fb ON fb.doc_id = c.b
         |WHERE bit_count(xor(fa.f, fb.f)) <= 3""".stripMargin
    }),
    "q_embed_neardup" -> QuerySpec((s, dir) =>
      Similarity.embeddingNearDups(Tables.embeddings(s, dir), threshold = 0.4),
      Some("""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |           FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b, list_dot_product(a.v, b.v) / (a.nm * b.nm) AS sim
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= 0.4""".stripMargin)),
    "q_embed_neardup_lsh" -> QuerySpec((s, dir) => // approximate (banded-signature candidates): rows-only
      Similarity.embeddingNearDupsApprox(Tables.embeddings(s, dir), threshold = 0.45,
        Similarity.gaussianBands(16, 64)), None),
    "q_embed_neardup_lsh_md5" -> QuerySpec((s, dir) => // r13 FULL oracle: md5 ±1
      // plane bands make the banded candidate generation, the exact-
      // cosine verify and the pair set all engine-recomposable — the
      // embedding-LSH family's portable pin: q_embed_neardup_lsh runs
      // the same plan over Gaussian planes
      Similarity.embeddingNearDupsApprox(Tables.embeddings(s, dir),
        threshold = 0.45, Similarity.md5SignPlanes(16, 4, 64)),
      // r13 portable embedding-LSH near-dup: 16 md5 ±1 plane bands of 4
      // bits, bucket-equijoin candidates, exact-cosine verify at 0.45 —
      // the q_ann_lsh_md5 signature CTE at band grain
      Some("""WITH pl AS (
        |  SELECT t.t, p.p,
        |         list(CASE WHEN ('0x' || substr(md5('lsh:' || t.t || ':' || p.p || ':' || d.i), 1, 1))::INT % 2 = 0
        |                   THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END ORDER BY d.i) AS plane
        |  FROM (SELECT unnest(range(16)) AS t) t,
        |       (SELECT unnest(range(4)) AS p) p,
        |       (SELECT unnest(range(64)) AS i) d
        |  GROUP BY t.t, p.p
        |), n AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |  FROM embeddings
        |), sig AS (
        |  SELECT n.vec_id, pl.t,
        |         sum(CASE WHEN list_dot_product(n.v, pl.plane) >= 0
        |                  THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
        |  FROM n, pl GROUP BY n.vec_id, pl.t
        |), cand AS (
        |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        |  FROM sig x JOIN sig y ON x.t = y.t AND x.bucket = y.bucket
        |   AND x.vec_id < y.vec_id
        |)
        |SELECT cand.a, cand.b,
        |       list_dot_product(na.v, nb.v) / (na.nm * nb.nm) AS sim
        |FROM cand JOIN n na ON na.vec_id = cand.a JOIN n nb ON nb.vec_id = cand.b
        |WHERE list_dot_product(na.v, nb.v) / (na.nm * nb.nm) >= 0.45""".stripMargin)),
    "q_dedup_keep" -> QuerySpec((s, dir) => {
      val docs = Tables.documentsWide(s, dir)
      Dedup.dropNearDups(docs,
        Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.8, dfCap = Some(100)))
        .select("doc_id", "lang", "n_chars")
    },
      Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                                     for i in range(1, len(toks) - 1)]) AS shingles
        |       FROM tok WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter,
        |         any_value(x.n) AS na, any_value(y.n) AS nb
        |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |dropped AS (SELECT DISTINCT b FROM pairs WHERE inter / (na + nb - inter) >= 0.8)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT b FROM dropped)""".stripMargin), isolated = true),
    "q_dedup_passage" -> QuerySpec((s, dir) =>
      // corpus-wide k-word chunk dedup with document reassembly (C4
      // span-rule shape); exact decision → full oracle hash-match
      Dedup.passageDedup(Tables.documents(s, dir), k = 16),
      Some("""WITH tk AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, CAST(ceil(len(toks) / 16.0) AS INT) AS nc, toks FROM tk),
        |e AS (SELECT doc_id, unnest(range(nc)) AS idx, toks FROM c),
        |ch AS (SELECT doc_id, idx,
        |         array_to_string(toks[idx * 16 + 1 : idx * 16 + 16], ' ') AS chunk FROM e),
        |kept AS (SELECT doc_id, idx, chunk,
        |           row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |       count(*) FILTER (rn = 1) AS n_kept,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY idx), '') AS text_deduped
        |FROM kept GROUP BY doc_id""".stripMargin)),
    "q_dedup_cluster" -> QuerySpec((s, dir) => {
      // transitive-merge policy: one survivor per connected component
      // of the near-dup graph (min-label propagation, Dedup)
      // r17 session 2: fanned read measured FLAT here (FanTest ×2:
      // +0.01/+0.06 — the label-prop loop, not the shingle pass,
      // dominates) — kept on the plain scan per the measured-winner rule
      val docs = Tables.documents(s, dir)
      Dedup.dropNearDupsByCluster(docs,
        Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.8, dfCap = Some(100)))
        .select("doc_id", "lang", "n_chars")
    },
      Some("""WITH RECURSIVE tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                                     for i in range(1, len(toks) - 1)]) AS shingles
        |       FROM tok WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
        |pr AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter,
        |         any_value(x.n) AS na, any_value(y.n) AS nb
        |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT a, b FROM pr WHERE inter / (na + nb - inter) >= 0.8),
        |edges AS (SELECT a AS x, b AS y FROM p UNION SELECT b AS x, a AS y FROM p),
        |reach AS (
        |  SELECT x, y FROM edges
        |  UNION
        |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
        |dropped AS (SELECT x AS doc_id FROM reach GROUP BY 1 HAVING min(y) < x)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin), isolated = true),
    "q_dup_spans" -> QuerySpec((s, dir) =>
      // oracle-checked since r7: the stats depend only on window-CONTENT
      // equality, so the oracle recomputes them from literal window
      // strings while the engine uses rolling xxhash64 (equal up to a
      // ~2^-65-per-pair collision); planted-span behavior also
      // unit-asserted (DedupSpec duplicateSpans)
      Dedup.duplicateSpans(Tables.documents(s, dir), w = 8),
      // window identity via literal 8-token strings (space-join is
      // injective over space-split tokens); engine side hashes instead —
      // same equivalence classes modulo 64-bit collisions
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |d AS (SELECT doc_id,
        |        greatest(len(toks) - 7, 0)::BIGINT AS n_windows,
        |        list_distinct([array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]) AS wins
        |      FROM t),
        |ex AS (SELECT doc_id, unnest(wins) AS h FROM d),
        |df AS (SELECT h, count(*) AS df FROM ex GROUP BY 1),
        |dup AS (SELECT e.doc_id, count(*) FILTER (WHERE f.df BETWEEN 2 AND 1000) AS dup_windows
        |        FROM ex e JOIN df f USING (h) GROUP BY 1)
        |SELECT d.doc_id, d.n_windows, len(d.wins)::BIGINT AS n_distinct,
        |       coalesce(dup.dup_windows, 0)::BIGINT AS dup_windows,
        |       CASE WHEN len(d.wins) > 0
        |            THEN coalesce(dup.dup_windows, 0)::DOUBLE / len(d.wins)
        |            ELSE 0.0 END AS dup_fraction
        |FROM d LEFT JOIN dup USING (doc_id)""".stripMargin)),
    // ---- north-star: similarity search ----
    "q_topk_cosine" -> QuerySpec((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 10)
    },
      Some("""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |           FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_dot_product(q.v, c.v) / (q.nm * c.nm) AS sim
        |  FROM n q, n c WHERE q.vec_id < 10 AND c.vec_id >= 10),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |           FROM scored)
        |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 10""".stripMargin)),
    "q_ann_lsh" -> QuerySpec((s, dir) => { // approximate: rows-only check
      val e = Tables.embeddings(s, dir)
      Similarity.lshTopK(e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 10)
    }, None),
    "q_kmeans_bounded" -> QuerySpec((s, dir) =>
      // X232 bounded Lloyd twin: md5-seeded init, 2 unrolled
      // assignment rounds with an ordered-mean update between them —
      // the entire Lloyd decision loop recomposes in SQL (the ML fit
      // stays rows-only in q_embed_kmeans)
      Similarity.kmeansBounded(Tables.embeddings(s, dir), k = 8, iters = 2),
      // X232 bounded Lloyd: md5-seeded centers, assignment by the
      // monotone surrogate c·c − 2(v·c) (sequential dots, exact), the
      // update as X217-style ordered cumulative means, empty clusters
      // carry — round 2's assignment is pure integers
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |seeds AS (
        |  SELECT vec_id, v,
        |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster
        |  FROM v),
        |c0 AS (SELECT cluster, v AS c FROM seeds WHERE cluster < 8),
        |a1 AS (
        |  SELECT vec_id, v, cluster FROM (
        |    SELECT v.vec_id, v.v, c0.cluster,
        |           row_number() OVER (PARTITION BY v.vec_id
        |             ORDER BY list_dot_product(c0.c, c0.c) - 2*list_dot_product(v.v, c0.c),
        |                      c0.cluster) AS rn
        |    FROM v, c0) t WHERE rn = 1),
        |e1 AS (
        |  SELECT a.cluster, a.vec_id, d.i AS pos, a.v[d.i + 1] AS x
        |  FROM a1 a, (SELECT unnest(range(64)) AS i) d),
        |m1 AS (
        |  SELECT cluster, pos, arg_max(cs, rn) / count(*) AS m
        |  FROM (SELECT cluster, pos,
        |               sum(x) OVER (PARTITION BY cluster, pos ORDER BY vec_id
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |               row_number() OVER (PARTITION BY cluster, pos ORDER BY vec_id) AS rn
        |        FROM e1) t
        |  GROUP BY cluster, pos),
        |c1 AS (SELECT cluster, list(m ORDER BY pos) AS c FROM m1 GROUP BY cluster
        |       UNION ALL
        |       SELECT c0.cluster, c0.c FROM c0
        |       WHERE c0.cluster NOT IN (SELECT cluster FROM m1)),
        |a2 AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT v.vec_id, c1.cluster,
        |           row_number() OVER (PARTITION BY v.vec_id
        |             ORDER BY list_dot_product(c1.c, c1.c) - 2*list_dot_product(v.v, c1.c),
        |                      c1.cluster) AS rn
        |    FROM v, c1) t WHERE rn = 1)
        |SELECT vec_id, cluster FROM a2""".stripMargin)),
    "q_ann_lsh_md5" -> QuerySpec((s, dir) => { // X230 FULL oracle: md5-derived
      // ±1 hyperplanes make signature, bucket, multiprobe and rerank
      // all engine-recomposable — the LSH probe logic's portable pin:
      // q_ann_lsh runs the same plan over Gaussian planes
      val e = Tables.embeddings(s, dir)
      Similarity.lshTopK(e.filter(col("vec_id") < 10),
        e.filter(col("vec_id") >= 10), k = 10, Similarity.md5SignPlanes(4, 8, 64))
    },
      // X230 portable LSH: planes rebuilt from md5 parity (±1 entries),
      // signature = sign of the same sequential float64 dot product
      // (q_topk_cosine bit-exactness), bucket = Σ bit·2^p, multiprobe =
      // bucket XOR 2^p — candidate generation, dedup and exact-cosine
      // rerank all recompose; sims land unrounded like q_topk_cosine
      Some("""WITH pl AS (
        |  SELECT t.t, p.p,
        |         list(CASE WHEN ('0x' || substr(md5('lsh:' || t.t || ':' || p.p || ':' || d.i), 1, 1))::INT % 2 = 0
        |                   THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END ORDER BY d.i) AS plane
        |  FROM (SELECT unnest(range(4)) AS t) t,
        |       (SELECT unnest(range(8)) AS p) p,
        |       (SELECT unnest(range(64)) AS i) d
        |  GROUP BY t.t, p.p
        |), n AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |  FROM embeddings
        |), sig AS (
        |  SELECT n.vec_id, pl.t,
        |         sum(CASE WHEN list_dot_product(n.v, pl.plane) >= 0
        |                  THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
        |  FROM n, pl GROUP BY n.vec_id, pl.t
        |), cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM sig q JOIN sig c ON q.t = c.t
        |   AND c.bucket IN (q.bucket,
        |     xor(q.bucket, 1), xor(q.bucket, 2), xor(q.bucket, 4), xor(q.bucket, 8),
        |     xor(q.bucket, 16), xor(q.bucket, 32), xor(q.bucket, 64), xor(q.bucket, 128))
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10
        |), scored AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |         list_dot_product(qn.v, cn.v) / (qn.nm * cn.nm) AS sim
        |  FROM cand
        |  JOIN n qn ON qn.vec_id = cand.query_id
        |  JOIN n cn ON cn.vec_id = cand.neighbor_id
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 10""".stripMargin)),
    "q_ann_pq" -> QuerySpec((s, dir) => { // approximate (PQ/ADC): rows-only check;
      // recall-vs-brute unit-asserted (SimilaritySpec pqTopK)
      val e = Tables.embeddings(s, dir)
      Similarity.pqTopK(e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 10)
    }, None),
    "q_ann_pq_md5" -> QuerySpec((s, dir) => { // X235 FULL oracle: md5 ±1
      // codebooks + mod-nlist cells make encode, PQ-decode, the ADC
      // sweep (one dot with the decoded vector), shortlist and rerank
      // all engine-recomposable — the PQ family's portable pin (the
      // fitted-codebook production path stays q_ann_pq)
      val e = Tables.embeddings(s, dir)
      Similarity.pqTopKPortable(e.filter(col("vec_id") < 10),
        e.filter(col("vec_id") >= 10), k = 10)
    },
      // X235 portable PQ: md5 ±1 codebooks (constant-norm -> argmax-dot
      // encode, sort key 0-dot so zero signs can't diverge), ADC as one
      // sequential dot with the PQ-decoded vector, shortlist + exact
      // rerank — sims AND adc land unrounded
      Some(PqMd5OracleSql)),
    "q_ann_pq_indexed" -> QuerySpec((s, dir) => {
      // X264 the ADC sweep THROUGH the persisted codes table: bucketed
      // IVF index + buildPqCodes (md5 codebooks — no fit, no codebook
      // table), then pqTopKIndexedCodes reads probed cells' CODE rows
      // (m ints, never raw bytes) for the sweep and raw rows only for
      // the shortlist rerank. Shares q_ann_pq_md5's oracle verbatim —
      // the persisted path must be score-for-score the portable twin.
      val e = Tables.embeddings(s, dir)
      val root = java.nio.file.Files.createTempDirectory("graft_qpqi").toString + "/t"
      ext.VectorIndex.buildIvfIndex(e.filter(col("vec_id") >= 10), root,
        nlist = 16, bucketed = true)
      ext.VectorIndex.buildPqCodes(s, root, m = 8, kc = 16)
      ext.VectorIndex.pqTopKIndexedCodes(
        e.filter(col("vec_id") < 10).select("vec_id", "embedding"), root,
        k = 10, nprobe = 4, shortlist = 50)
    },
      // X264 persisted-codes probe: the IDENTICAL recomposition — the
      // stored code is the md5-rule encode the SQL derives itself, and
      // decode/ADC/shortlist/rerank arithmetic is the portable twin's
      // verbatim; what the key adds is the round-trip THROUGH the codes
      // table (parquet int-array round-trip, cell layout, count gate)
      Some(PqMd5OracleSql), isolated = true),
    "q_vector_norm" -> QuerySpec((s, dir) => Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.l2norm(col("embedding")).as("norm")),
      Some("""SELECT vec_id, sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |FROM embeddings""".stripMargin)),
    // ---- north-star: text analysis ----
    "q_lang_id" -> QuerySpec((s, dir) => Tables.documentsWide(s, dir)
      .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("lang_pred")),
      Some("""WITH sc AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents
        |), r AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> list_contains(['the','a','and','of','to','in','is','it'], t))) * 1.0 / len(toks) AS s_en,
        |    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','los'], t))) * 1.0 / len(toks) AS s_es,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','mit','den'], t))) * 1.0 / len(toks) AS s_de,
        |    len(list_filter(toks, t -> list_contains(['le','la','de','et','les','des','un','une'], t))) * 1.0 / len(toks) AS s_fr,
        |    len(list_filter(toks, t -> list_contains(['的','是','在','了','我','有','和','人'], t))) * 1.0 / len(toks) AS s_zh
        |  FROM sc)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
        |       WHEN s_zh >= s_en AND s_zh >= s_es AND s_zh >= s_de AND s_zh >= s_fr THEN 'zh'
        |       ELSE 'und' END AS lang_pred
        |FROM r""".stripMargin)),
    "q_text_quality" -> QuerySpec((s, dir) => TextAnalysis.qualityFeatures(Tables.documentsWide(s, dir))
      .select("doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "punct_ratio", "quality_score"),
      Some("""SELECT doc_id,
        |  len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
        |  length(regexp_replace(text, ' ', '', 'g')) * 1.0 / len(string_split(lower(text), ' ')) AS avg_token_len,
        |  len(list_filter(string_split(lower(text), ' '),
        |      t -> list_contains(['the','a','and','of','to','in','is','it'], t))) * 1.0
        |    / len(string_split(lower(text), ' ')) AS stopword_ratio,
        |  length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / greatest(length(text), 1) AS punct_ratio,
        |  least(len(string_split(lower(text), ' ')) / 100.0, 1.0) * 0.5
        |    + len(list_filter(string_split(lower(text), ' '),
        |          t -> list_contains(['the','a','and','of','to','in','is','it'], t))) * 1.0
        |      / len(string_split(lower(text), ' ')) * 0.3
        |    + least(length(regexp_replace(text, ' ', '', 'g')) * 1.0
        |            / len(string_split(lower(text), ' ')) / 10.0, 1.0) * 0.2 AS quality_score
        |FROM documents""".stripMargin)),
    "q_token_count" -> QuerySpec((s, dir) => Tables.documentsWide(s, dir)
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.tokenCountBpe(col("text")).as("n_tokens_bpe")),
      Some("""SELECT doc_id,
        |  len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
        |  list_sum(list_transform(string_split(lower(text), ' '),
        |    w -> 1 + greatest(0, floor((length(w) - 1) / 4.0)::BIGINT)))::BIGINT
        |    + length(regexp_replace(text, '[^.,!?;:]', '', 'g'))::BIGINT AS n_tokens_bpe
        |FROM documents""".stripMargin)),
    "q_fingerprint" -> QuerySpec((s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp")),
      Some("SELECT doc_id, md5(text) AS fp FROM documents")),
    "q_vocab" -> QuerySpec((s, dir) => TextAnalysis.vocabulary(Tables.documents(s, dir), topN = 100),
      Some("""SELECT token, count(*) AS freq
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |GROUP BY 1 ORDER BY freq DESC, token LIMIT 100""".stripMargin)),
    "q_sql_shingles" -> QuerySpec((s, dir) => {
      // the SQL surface end-to-end: native function through spark.sql
      graft.functions.Registry.registerAll(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("SELECT doc_id, CAST(size(word_shingles(text, 3)) AS BIGINT) AS n_shingles FROM documents_v")
    },
      Some("""SELECT doc_id,
        |  CASE WHEN len(string_split(lower(text), ' ')) >= 3
        |       THEN len(list_distinct([string_split(lower(text), ' ')[i] || ' ' ||
        |                               string_split(lower(text), ' ')[i+1] || ' ' ||
        |                               string_split(lower(text), ' ')[i+2]
        |                               for i in range(1, len(string_split(lower(text), ' ')) - 1)]))
        |       ELSE 0 END::BIGINT AS n_shingles
        |FROM documents""".stripMargin)),
    "q_train_split" -> QuerySpec((s, dir) => TextAnalysis.splitAssign(Tables.documents(s, dir))
      .select("doc_id", "lang", "split"),
      Some("""SELECT doc_id, lang,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        |      FROM documents)""".stripMargin)),
    "q_fingerprint_rolling" -> QuerySpec((s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprintRolling(col("text")).as("fp")),
      // same fold as the engine: fp = (acc*31 + (md5_32(tok) mod M)) mod M
      // left-to-right over split(lower(text), ' '); list_reduce seeds
      // with a prepended 0 to mirror aggregate's zero initial
      Some("""SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(string_split(lower(text), ' '),
        |        w -> ('0x' || substr(md5(w), 1, 8))::BIGINT % 2147483647)),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) AS fp
        |FROM documents""".stripMargin)),
    // ---- north-star: corpus hygiene (PII / repetition / decontam /
    // ordering / packing / normalization / quantization) ----
    "q_pii" -> QuerySpec((s, dir) => Pii.audit(Tables.documentsWide(s, dir))
      .select("doc_id", "n_emails", "n_ipv4", "n_phones", "redacted"),
      Some(
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '${Pii.EmailRe}'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(text, '${Pii.Ipv4Re}'))::BIGINT AS n_ipv4,
         |  len(regexp_extract_all(text, '${Pii.PhoneRe}'))::BIGINT AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${Pii.EmailRe}', '<EMAIL>', 'g'),
         |    '${Pii.Ipv4Re}', '<IP>', 'g'),
         |    '${Pii.PhoneRe}', '<PHONE>', 'g') AS redacted
         |FROM documents""".stripMargin)),
    "q_repetition" -> QuerySpec((s, dir) => TextAnalysis.repetitionFeatures(Tables.documents(s, dir)),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |         len(list_distinct(toks))::BIGINT AS n_distinct,
        |         CASE WHEN len(toks) >= 2
        |              THEN 1.0 - len(list_distinct([toks[i] || ' ' || toks[i+1]
        |                                            for i in range(1, len(toks))]))::DOUBLE
        |                         / (len(toks) - 1)
        |              ELSE 0.0 END AS dup_bigram_frac
        |  FROM t),
        |top AS (SELECT doc_id, max(cnt) AS top_cnt
        |        FROM (SELECT doc_id, tok, count(*) AS cnt
        |              FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2)
        |        GROUP BY 1)
        |SELECT b.doc_id, n_tokens, n_distinct,
        |  1.0 - n_distinct::DOUBLE / n_tokens AS dup_token_frac,
        |  top_cnt::DOUBLE / n_tokens AS top_token_frac,
        |  dup_bigram_frac
        |FROM base b JOIN top USING (doc_id)""".stripMargin)),
    "q_decontam" -> QuerySpec((s, dir) => {
      val d = Tables.documents(s, dir)
      // every 17th doc plays the held-out benchmark; the rest is corpus
      Contamination.flag(d.filter(col("doc_id") % 17 =!= 0),
        d.filter(col("doc_id") % 17 === 0), n = 5)
    },
      Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                        toks[i+3] || ' ' || toks[i+4]
        |                        for i in range(1, len(toks) - 3)]) AS shingles
        |       FROM tok WHERE len(toks) >= 5),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |bench AS (SELECT DISTINCT s FROM ex WHERE doc_id % 17 = 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM ex JOIN bench USING (s)
        |WHERE doc_id % 17 <> 0
        |GROUP BY 1""".stripMargin)),
    "q_decontam_attrib" -> QuerySpec((s, dir) => {
      val d = Tables.documents(s, dir)
      // same corpus/benchmark fixture as q_decontam, pair-grain output
      Contamination.attribute(d.filter(col("doc_id") % 17 =!= 0),
        d.filter(col("doc_id") % 17 === 0), n = 5)
    },
      Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                        toks[i+3] || ' ' || toks[i+4]
        |                        for i in range(1, len(toks) - 3)]) AS shingles
        |       FROM tok WHERE len(toks) >= 5),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
        |SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
        |FROM ex c JOIN ex b ON c.s = b.s
        |WHERE c.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
        |GROUP BY 1, 2""".stripMargin)),
    "q_decontam_semantic" -> QuerySpec((s, dir) => {
      // embedding-space leak screen: vecs 0-19 play the benchmark set,
      // the rest the corpus — FULL oracle (exact cosine + window, the
      // q_topk_cosine determinism recipe)
      val e = Tables.embeddings(s, dir)
      Contamination.semanticScreen(e.filter(col("vec_id") >= 20),
        e.filter(col("vec_id") < 20), threshold = 0.4)
    },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |           FROM embeddings
        |           WHERE vec_id >= 20 AND nm > 0),
        |b AS (SELECT vec_id AS bench_id, embedding::DOUBLE[] AS v,
        |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |      FROM embeddings
        |      WHERE vec_id < 20 AND nm > 0),
        |s AS (SELECT c.vec_id, b.bench_id,
        |             list_dot_product(c.v, b.v) / (c.nm * b.nm) AS sim
        |      FROM c, b
        |      WHERE list_dot_product(c.v, b.v) / (c.nm * b.nm) >= 0.4),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bench_id) AS rn
        |      FROM s)
        |SELECT vec_id, bench_id, sim FROM r WHERE rn = 1""".stripMargin)),
    "q_split_leakage" -> QuerySpec((s, dir) =>
      ext.Dedup.splitLeakage(Tables.documentsWide(s, dir), n = 3, threshold = 0.5),
      Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                                     for i in range(1, len(toks) - 1)]) AS shingles
        |       FROM tok WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter,
        |         any_value(x.n) AS na, any_value(y.n) AS nb
        |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |jp AS (SELECT a, b, inter / (na + nb - inter) AS jaccard FROM pairs
        |       WHERE inter / (na + nb - inter) >= 0.5),
        |sp AS (SELECT doc_id,
        |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |       FROM (SELECT doc_id,
        |               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        |             FROM documents))
        |SELECT jp.a, jp.b, jp.jaccard, sa.split AS split_a, sb.split AS split_b
        |FROM jp JOIN sp sa ON sa.doc_id = jp.a JOIN sp sb ON sb.doc_id = jp.b
        |WHERE sa.split <> sb.split""".stripMargin)),
    "q_lang_scores" -> QuerySpec((s, dir) => { // the per-language feature vector
      // under langId — what threshold-based language filtering consumes
      val scores = TextAnalysis.langScores(col("text"))
      Tables.documentsWide(s, dir).select(
        col("doc_id") +: scores.map { case (l, c) => round(c, 6).as(s"score_$l") }: _*)
    },
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  round(len(list_filter(toks, w -> w IN ('the','a','and','of','to','in','is','it')))::DOUBLE / len(toks), 6) AS score_en,
        |  round(len(list_filter(toks, w -> w IN ('el','la','de','que','y','en','un','los')))::DOUBLE / len(toks), 6) AS score_es,
        |  round(len(list_filter(toks, w -> w IN ('der','die','das','und','ist','von','mit','den')))::DOUBLE / len(toks), 6) AS score_de,
        |  round(len(list_filter(toks, w -> w IN ('le','la','de','et','les','des','un','une')))::DOUBLE / len(toks), 6) AS score_fr,
        |  round(len(list_filter(toks, w -> w IN ('的','是','在','了','我','有','和','人')))::DOUBLE / len(toks), 6) AS score_zh
        |FROM t""".stripMargin)),
    "q_corpus_prepare" -> QuerySpec((s, dir) => { // end-to-end prep composition:
      // fully oracle-checked since r7: the DuckDB side recomposes the
      // whole pipeline (normalize → gates → decontam → split → near-dup
      // → per-split packing) from the same verified fragments its
      // component keys use; wiring also covered by CorpusPipelineSpec
      val d = Tables.documentsWide(s, dir)
      CorpusPipeline.prepare(
        d.filter(col("doc_id") % 17 =!= 0), d.filter(col("doc_id") % 17 === 0))
        .select(col("doc_id"), col("quality_score"), col("split"), col("pack_id"))
    },
      // the full pipeline recomposed from the SAME verified fragments
      // its component keys use: normalize (q_normalize_text) → quality/
      // repetition/PII gates (q_text_quality, q_repetition, q_pii) →
      // 5-gram decontam vs the benchmark slice (q_decontam) → md5 split
      // (q_train_split) → 3-gram Jaccard keep-first (q_dedup_keep) →
      // per-split prefix-sum packing in md5 order (q_pack_sequences)
      Some("""WITH tok0 AS (
        |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS rtoks
        |  FROM documents),
        |nd AS (
        |  SELECT doc_id,
        |    array_to_string(list_filter(rtoks, (tk, i) -> i = 1 OR rtoks[i-1] <> tk), ' ') AS text
        |  FROM tok0),
        |corpus0 AS (SELECT * FROM nd WHERE doc_id % 17 <> 0),
        |bench AS (SELECT * FROM nd WHERE doc_id % 17 = 0),
        |feat AS (
        |  SELECT doc_id, text,
        |    least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
        |      + len(list_filter(string_split(text, ' '),
        |            t -> list_contains(['the','a','and','of','to','in','is','it'], t))) * 1.0
        |        / len(string_split(text, ' ')) * 0.3
        |      + least(length(regexp_replace(text, ' ', '', 'g')) * 1.0
        |              / len(string_split(text, ' ')) / 10.0, 1.0) * 0.2 AS quality_score,
        |    1.0 - len(list_distinct(string_split(text, ' ')))::DOUBLE
        |        / len(string_split(text, ' ')) AS dup_token_frac,
        |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails
        |  FROM corpus0),
        |htok AS (
        |  SELECT f.doc_id, f.quality_score, string_split(f.text, ' ') AS toks
        |  FROM feat f
        |  WHERE f.quality_score >= 0.2 AND f.dup_token_frac <= 0.8 AND f.n_emails <= 0),
        |hex AS (
        |  SELECT doc_id, unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                                       toks[i+3] || ' ' || toks[i+4]
        |                                       for i in range(1, len(toks) - 3)])) AS s
        |  FROM htok WHERE len(toks) >= 5),
        |bsh AS (
        |  SELECT DISTINCT unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                                        toks[i+3] || ' ' || toks[i+4]
        |                                        for i in range(1, len(toks) - 3)])) AS s
        |  FROM (SELECT string_split(text, ' ') AS toks FROM bench) WHERE len(toks) >= 5),
        |contaminated AS (SELECT DISTINCT doc_id FROM hex JOIN bsh USING (s)),
        |clean AS (SELECT * FROM htok WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |sp AS (
        |  SELECT doc_id, quality_score, toks,
        |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |    len(toks)::BIGINT AS n_tokens
        |  FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        |        FROM clean)),
        |cex AS (
        |  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
        |  FROM (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                                      for i in range(1, len(toks) - 1)]) AS shingles
        |        FROM sp WHERE len(toks) >= 3)
        |  WHERE len(shingles) > 0),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter,
        |         any_value(x.n) AS na, any_value(y.n) AS nb
        |  FROM cex x JOIN cex y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |losers AS (SELECT DISTINCT b FROM pairs WHERE inter / (na + nb - inter) >= 0.8),
        |surv AS (SELECT * FROM sp WHERE doc_id NOT IN (SELECT b FROM losers))
        |SELECT doc_id, quality_score, split,
        |  floor((sum(n_tokens) OVER (PARTITION BY split ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |         - n_tokens) / 512.0)::BIGINT AS pack_id
        |FROM surv""".stripMargin), isolated = true),
    "q_decontam_bloom" -> QuerySpec((s, dir) => { // bloom screening pass: rows-only
      // vs oracle (FP-rate dependent); no-false-negatives + exact-match
      // behavior asserted in ContaminationSpec
      val d = Tables.documents(s, dir)
      Contamination.flagBloom(d.filter(col("doc_id") % 17 =!= 0),
        d.filter(col("doc_id") % 17 === 0), n = 5)
    }, None),
    "q_decontam_bloom_md5" -> QuerySpec((s, dir) => { // md5-lane Bloom: the same
      // screen with a construction any engine recomputes bit-identically
      // (deterministic FPs) — full oracle hash-match
      // r17 session 2: fanned read — the md5-lane bloom build ran as a
      // 0.66-0.84 s single-task job on the one-row-group scan; FanTest
      // same-JVM ×2: −0.23/−0.20 s
      val d = Tables.documentsWide(s, dir)
      Contamination.flagBloomMd5(d.filter(col("doc_id") % 17 =!= 0),
        d.filter(col("doc_id") % 17 === 0), n = 5)
    },
      // X187: the Bloom screen recomposed — 4 md5 32-bit lanes mod m,
      // bench bit set, all-4-lanes-set membership; FPs are deterministic
      // so even the over-count hash-matches
      Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                        toks[i+3] || ' ' || toks[i+4]
        |                        for i in range(1, len(toks) - 3)]) AS shingles
        |       FROM tok WHERE len(toks) >= 5),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |hx AS (SELECT doc_id, md5(s) AS h FROM ex),
        |bits AS (SELECT DISTINCT (('0x' || substr(h, 8*i + 1, 8))::BIGINT % 1048576) AS b
        |         FROM hx CROSS JOIN range(4) t(i) WHERE doc_id % 17 = 0),
        |probe AS (SELECT doc_id, h, (('0x' || substr(h, 8*i + 1, 8))::BIGINT % 1048576) AS b
        |          FROM hx CROSS JOIN range(4) t(i) WHERE doc_id % 17 <> 0),
        |hits AS (SELECT doc_id, h, count(*) AS k
        |         FROM probe JOIN bits USING (b) GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_shared
        |FROM hits WHERE k = 4 GROUP BY 1""".stripMargin)),
    "q_global_index" -> QuerySpec((s, dir) => TotalOrder.globalIndex(
      Tables.documentsWide(s, dir).select("doc_id"),
      // md5 of the id = deterministic corpus shuffle order; id breaks ties
      Seq(md5(col("doc_id").cast("string")), col("doc_id"))),
      Some("""SELECT doc_id,
        |  (row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)::BIGINT AS idx
        |FROM documents""".stripMargin)),
    "q_pack_sequences" -> QuerySpec((s, dir) => packedDocs(s, dir),
      Some("""WITH d AS (SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT doc_id, n_tokens, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id
        |FROM c""".stripMargin)),
    "q_pack_util" -> QuerySpec((s, dir) =>
      TotalOrder.packUtilization(packedDocs(s, dir), budgetTokens = 512),
      Some("""WITH d AS (SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d),
        |p AS (SELECT n_tokens, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id FROM c)
        |SELECT pack_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       round(CAST(sum(n_tokens) AS DOUBLE) / 512, 6) AS utilization
        |FROM p GROUP BY 1""".stripMargin)),
    "q_cross_neardup" -> QuerySpec((s, dir) => {
      // near-dup screen of the newest-20% increment against the
      // catalog — same id split as q_incr_dedup
      val docs = Tables.documents(s, dir)
      val maxId = maxDocId(docs)
      Dedup.crossNearDupPairs(docs, incomingMinId = maxId * 4 / 5)
    },
      Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                                     for i in range(1, len(toks) - 1)]) AS shingles
        |       FROM tok WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
        |thr AS (SELECT (max(doc_id)*4)//5 AS v FROM documents),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter,
        |         any_value(x.n) AS na, any_value(y.n) AS nb
        |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, inter / (na + nb - inter) AS jaccard
        |FROM pairs
        |WHERE inter / (na + nb - inter) >= 0.8
        |  AND a < (SELECT v FROM thr) AND b >= (SELECT v FROM thr)""".stripMargin)),
    "q_normalize_text" -> QuerySpec((s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("norm_text")),
      Some("""WITH t AS (SELECT doc_id,
        |             string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS toks
        |           FROM documents)
        |SELECT doc_id,
        |  array_to_string(list_filter(toks, (tk, i) -> i = 1 OR toks[i-1] <> tk), ' ') AS norm_text
        |FROM t""".stripMargin)),
    "q_chunk_text" -> QuerySpec((s, dir) => TextAnalysis.chunkTokens(
      Tables.documents(s, dir), maxTokens = 128, stride = 96),
      Some("""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, len(toks) AS n,
        |        CASE WHEN len(toks) <= 128 THEN 1
        |             ELSE CAST(ceil((len(toks) - 128) / 96.0) AS INT) + 1 END AS nc, toks
        |      FROM tk),
        |e AS (SELECT doc_id, n, toks, unnest(range(nc)) AS chunk_id FROM c)
        |SELECT doc_id, chunk_id,
        |       least(128, n - chunk_id * 96)::BIGINT AS n_chunk_tokens,
        |       array_to_string(toks[chunk_id * 96 + 1 : chunk_id * 96 + 128], ' ') AS chunk_text
        |FROM e""".stripMargin)),
    "q_mixture_sample" -> QuerySpec((s, dir) => TextAnalysis.mixtureSample(
      Tables.documents(s, dir),
      Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25, "src4" -> 0.1))
      .select("doc_id", "source"),
      Some("""SELECT doc_id, source
        |FROM (SELECT doc_id, source,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b,
        |        CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.75
        |             WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25
        |             WHEN 'src4' THEN 0.1 ELSE 1.0 END AS f
        |      FROM documents)
        |WHERE b < f * 10000""".stripMargin)),
    "q_unigram_logp" -> QuerySpec((s, dir) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, dir)),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |              FROM documents),
        |v AS (SELECT token, count(*) AS freq FROM toks GROUP BY 1),
        |tot AS (SELECT sum(freq) AS total FROM v)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(avg(log10(freq)) - (SELECT log10(total) FROM tot), 6) AS avg_logp
        |FROM toks JOIN v USING (token)
        |GROUP BY doc_id""".stripMargin)),
    "q_mixture_upsample" -> QuerySpec((s, dir) => TextAnalysis.mixtureResample(
      Tables.documents(s, dir),
      Map("src0" -> 2.5, "src1" -> 2.0, "src2" -> 0.5, "src3" -> 0.0))
      .select("doc_id", "source", "copy_idx"),
      Some("""WITH t AS (SELECT doc_id, source,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b,
        |        CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 2.0
        |             WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.0 ELSE 1.0 END AS w
        |      FROM documents),
        |c AS (SELECT doc_id, source,
        |        CAST(floor(w) AS BIGINT)
        |          + CASE WHEN b < (w - floor(w)) * 10000 THEN 1 ELSE 0 END AS n
        |      FROM t)
        |SELECT doc_id, source, unnest(range(n)) AS copy_idx FROM c WHERE n > 0""".stripMargin)),
    "q_pack_concat" -> QuerySpec((s, dir) => TotalOrder.packConcat(
      Tables.documents(s, dir).select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
      Seq(col("doc_id")), "n_tokens", "text", maxTokens = 512),
      Some("""WITH d AS (SELECT doc_id, text,
        |             len(string_split(lower(text), ' '))::BIGINT AS nt FROM documents),
        |c AS (SELECT doc_id, text, nt,
        |        sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d),
        |p AS (SELECT *, CAST(floor((cum - nt) / 512.0) AS BIGINT) AS pack_id FROM c)
        |SELECT pack_id, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
        |       string_agg(text, ' ' ORDER BY cum) AS pack_text
        |FROM p GROUP BY 1""".stripMargin)),
    "q_tfidf_topk" -> QuerySpec((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), k = 3)
        .withColumn("rank", col("rank").cast("long")),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |              FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df_t FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |sc AS (SELECT doc_id, token, tf, round(tf * ln(n_docs / df_t), 6) AS tfidf
        |       FROM tf JOIN dfreq USING (token), n)
        |SELECT doc_id, rank, token, tf, tfidf
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY tfidf DESC, token) AS rank
        |      FROM sc)
        |WHERE rank <= 3""".stripMargin)),
    "q_ngram_counts" -> QuerySpec((s, dir) =>
      TextAnalysis.ngramCounts(Tables.documents(s, dir), n = 3, topN = 100),
      Some("""WITH tk AS (SELECT string_split(lower(text), ' ') AS toks FROM documents),
        |g AS (SELECT unnest([array_to_string(toks[i : i + 2], ' ')
        |                     for i in range(1, len(toks) - 1)]) AS ngram
        |      FROM tk WHERE len(toks) >= 3)
        |SELECT ngram, count(*) AS freq FROM g
        |GROUP BY 1 ORDER BY freq DESC, ngram LIMIT 100""".stripMargin)),
    "q_sample_per_source" -> QuerySpec((s, dir) =>
      TextAnalysis.samplePerSource(Tables.documents(s, dir), nPer = 5)
        .select("doc_id", "source", "sample_rank"),
      Some("""SELECT doc_id, source, sample_rank FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |           AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 5""".stripMargin)),
    "q_stratified_sample" -> QuerySpec((s, dir) =>
      // exact per-source quotas (src3 intentionally unbudgeted → dropped)
      TextAnalysis.stratifiedQuota(Tables.documents(s, dir),
        Map("src0" -> 120L, "src1" -> 60L, "src2" -> 30L, "src4" -> 10L))
        .select("doc_id", "source", "sample_rank"),
      Some("""SELECT r.doc_id, r.source, r.sample_rank FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |           AS sample_rank
        |  FROM documents) r
        |JOIN (VALUES ('src0', 120), ('src1', 60), ('src2', 30), ('src4', 10)) q(source, quota)
        |  ON r.source = q.source AND r.sample_rank <= q.quota""".stripMargin)),
    "q_compression_ratio" -> QuerySpec((s, dir) => // deflate isn't ANSI SQL: rows-only;
      // redundancy ordering + determinism pinned in TextAnalysisSpec
      Tables.documentsWide(s, dir)
        .select(col("doc_id"),
          round(TextAnalysis.compressionRatio(col("text")), 6).as("compression_ratio")), None),
    "q_token_histogram" -> QuerySpec((s, dir) =>
      TextAnalysis.tokenHistogram(Tables.documents(s, dir), width = 10),
      Some("""SELECT CAST(floor(len(string_split(lower(text), ' ')) / 10) AS BIGINT) AS bucket,
        |       count(*) AS n_docs,
        |       round(avg(length(text)), 6) AS avg_chars
        |FROM documents GROUP BY 1""".stripMargin)),
    "q_corpus_health" -> QuerySpec((s, dir) =>
      TextAnalysis.corpusHealth(Tables.documents(s, dir)),
      Some(
      s"""WITH f AS (SELECT source,
         |  least(len(string_split(lower(text), ' ')) / 100.0, 1.0) * 0.5
         |    + len(list_filter(string_split(lower(text), ' '),
         |          t -> list_contains(['the','a','and','of','to','in','is','it'], t))) * 1.0
         |      / len(string_split(lower(text), ' ')) * 0.3
         |    + least(length(regexp_replace(text, ' ', '', 'g')) * 1.0
         |            / len(string_split(lower(text), ' ')) / 10.0, 1.0) * 0.2 AS q,
         |  1.0 - len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
         |        / len(string_split(lower(text), ' ')) AS dupf,
         |  CASE WHEN len(regexp_extract_all(text, '${graft.ext.Pii.EmailRe}')) > 0
         |       THEN 1 ELSE 0 END AS haspii,
         |  len(string_split(lower(text), ' '))::BIGINT AS nt
         |FROM documents)
         |SELECT source, count(*) AS n_docs, round(avg(q), 6) AS avg_quality,
         |       round(avg(dupf), 6) AS avg_dup_frac,
         |       CAST(sum(haspii) AS BIGINT) AS n_pii_docs,
         |       round(avg(nt), 6) AS avg_tokens
         |FROM f GROUP BY 1""".stripMargin)),
    "q_quantize_embed" -> QuerySpec((s, dir) => Similarity.quantizeInt8(Tables.embeddings(s, dir))
      .select("vec_id", "scale", "sum_q", "n_sat"),
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |        CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END AS scale
        |      FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS amax FROM v)),
        |q AS (SELECT vec_id, scale, list_transform(e, x -> round(x * scale)::INT) AS qv FROM s)
        |SELECT vec_id, scale,
        |  list_sum(list_transform(qv, x -> x::BIGINT))::BIGINT AS sum_q,
        |  len(list_filter(qv, x -> abs(x) = 127))::BIGINT AS n_sat
        |FROM q""".stripMargin)),
    "q_embed_centroid" -> QuerySpec((s, dir) =>
      // centroid array → (label, i, m) scalars for the oracle compare
      Similarity.groupCentroids(Tables.embeddings(s, dir), dim = 64)
        .select(col("label"), col("n_vecs"), col("n_valid"), posexplode(col("centroid")))
        .select(col("label"), col("n_vecs"), col("n_valid"),
          (col("pos") + 1).cast("long").as("i"), round(col("col"), 6).as("m")),
      Some("""WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS i,
        |                   unnest(embedding::DOUBLE[]) AS x
        |            FROM embeddings),
        |m AS (SELECT label, CAST(i AS BIGINT) AS i, round(avg(x), 6) AS m
        |      FROM ex GROUP BY 1, 2),
        |n AS (SELECT label, count(*) AS n_vecs,
        |             count(*) FILTER (WHERE embedding IS NOT NULL
        |               AND len(embedding) = 64
        |               AND len(list_filter(embedding, x -> x IS NULL)) = 0)
        |               AS n_valid
        |      FROM embeddings GROUP BY 1)
        |SELECT label, n_vecs, n_valid, i, m FROM m JOIN n USING (label)""".stripMargin)),
    // ---- north-star: multimodal + JSON/array columns ----
    "q_multimodal_meta" -> QuerySpec((s, dir) => Multimodal.attachPayload(Tables.documents(s, dir))
      .select(col("doc_id"), col("format"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("n_bytes")),
      Some("""SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |  n_chars % 640 + 64 AS width,
        |  n_chars * 7 % 480 + 48 AS height,
        |  octet_length(encode(text))::BIGINT AS n_bytes
        |FROM documents""".stripMargin)),
    "q_multimodal_decode" -> QuerySpec((s, dir) => {
      // REAL codec round trip: deterministic rasters → ImageIO PNG
      // encode → ImageIO decode on the executors. PNG is lossless, so
      // the oracle recomputes the decoded mean luma analytically in
      // SQL — a hash match proves byte-faithful decode. JPEG (odd ids,
      // lossy) is covered in MultimodalSpec instead.
      val png = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
      Multimodal.decodeImages(Multimodal.renderImages(png)).toDF()
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_luma"), 6).as("mean_luma"))
    },
      // analytic recompute of the PNG raster the engine decodes with
      // ImageIO: pixel (x,y) of doc d = (31d + 7x + 13y) mod 256
      Some("""SELECT d.doc_id,
        |  d.doc_id % 32 + 16 AS width,
        |  d.doc_id % 24 + 12 AS height,
        |  round(avg(CAST((d.doc_id * 31 + 7 * gx.x + 13 * gy.y) % 256 AS DOUBLE)), 6) AS mean_luma
        |FROM documents d
        |JOIN generate_series(0, 46) gx(x) ON gx.x < d.doc_id % 32 + 16
        |JOIN generate_series(0, 34) gy(y) ON gy.y < d.doc_id % 24 + 12
        |WHERE d.doc_id % 2 = 0
        |GROUP BY 1, 2, 3""".stripMargin)),
    "q_multimodal_frames" -> QuerySpec((s, dir) => {
      // REAL multi-frame container round trip: deterministic rasters →
      // ImageIO animated-GIF encode → ImageReader frame-sample every
      // 2nd frame on the executors. 256-gray palette makes the GIF
      // round trip lossless, so the sampled means have an analytic SQL
      // oracle. Quarter slice of the corpus bounds the encode cost.
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 4 === 1)
      Multimodal.sampleFrames(Multimodal.renderClips(docs), stride = 2).toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_luma"), 6).as("mean_luma"))
    },
      // analytic recompute of the sampled GIF frames: pixel (x,y) of
      // frame f of doc d = (31d + 7x + 13y + 97f) mod 256, frames
      // d%6+4, stride 2
      Some("""SELECT d.doc_id,
        |  gf.f AS frame_idx,
        |  d.doc_id % 32 + 16 AS width,
        |  d.doc_id % 24 + 12 AS height,
        |  round(avg(CAST((d.doc_id * 31 + 7 * gx.x + 13 * gy.y + 97 * gf.f) % 256 AS DOUBLE)), 6) AS mean_luma
        |FROM documents d
        |JOIN generate_series(0, 8, 2) gf(f) ON gf.f < d.doc_id % 6 + 4
        |JOIN generate_series(0, 46) gx(x) ON gx.x < d.doc_id % 32 + 16
        |JOIN generate_series(0, 34) gy(y) ON gy.y < d.doc_id % 24 + 12
        |WHERE d.doc_id % 4 = 1
        |GROUP BY 1, 2, 3, 4""".stripMargin)),
    "q_multimodal_audio" -> QuerySpec((s, dir) => {
      // REAL audio codec round trip: deterministic integer PCM →
      // javax.sound WAV encode → RIFF/WAVE decode on the executors.
      // Every emitted column is an exact integer, so the oracle
      // recomputes the decoded sums analytically — a hash match proves
      // the container+PCM parse was byte-faithful.
      Multimodal.decodeAudio(Multimodal.renderAudio(Tables.documents(s, dir))).toDF()
    },
      // analytic recompute of the PCM waveform the engine decodes with
      // javax.sound: sample i of doc d = ((31d + 7i²) mod 4001) − 2000
      Some("""SELECT d.doc_id,
        |  8000::BIGINT AS sample_rate,
        |  d.doc_id % 500 + 100 AS n_samples,
        |  sum(abs((d.doc_id * 31 + 7 * g.i * g.i) % 4001 - 2000))::BIGINT AS sum_abs,
        |  sum(((d.doc_id * 31 + 7 * g.i * g.i) % 4001 - 2000)
        |      * ((d.doc_id * 31 + 7 * g.i * g.i) % 4001 - 2000))::BIGINT AS sum_sq
        |FROM documents d
        |JOIN generate_series(0, 598) g(i) ON g.i < d.doc_id % 500 + 100
        |GROUP BY 1, 3""".stripMargin)),
    "q_json_extract" -> QuerySpec((s, dir) => Tables.events(s, dir)
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k")),
      Some("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events")),
    "q_json_struct" -> QuerySpec((s, dir) => {
      // schema-full JSON (SURVEY §2.6): from_json with an explicit
      // STRUCT schema over the REAL payload. Two-level projection: the
      // from_json is aliased in an inner Project and field-extracted in
      // the outer one — CollapseProject refuses to duplicate a
      // non-cheap producer referenced more than once, so props is
      // parsed ONCE per row and fans into both k and k_map
      // (intentionally the same extraction, the oracle's shape).
      // The struct keeps k as STRING: per-field CAST coercion below
      // nulls only the field on a bad value, matching the oracle's
      // json_extract_string + CAST. uid/et/v come straight off the
      // scan. (The r3-r5 form also built a to_json→from_json
      // round-trip of (user_id, event_type, value) per row purely to
      // demo a second struct parse — serialize+reparse was ~0.7 s of
      // the 1.25 s line item; that equivalence now lives in a unit
      // test, RelationalSpec "to_json/from_json round-trip".)
      val e = Tables.eventsWide(s, dir)
      val propsStruct = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k STRING"))
      e.select(col("event_id"), propsStruct.as("__props"),
          col("user_id"), col("event_type"), col("value"))
        .select(
          col("event_id"),
          col("__props").getField("k").cast("long").as("k"),
          col("__props").getField("k").cast("long").as("k_map"),
          col("user_id").as("uid"),
          col("event_type").as("et"),
          col("value").as("v"))
    },
      Some("""SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_map,
        |  user_id AS uid, event_type AS et, value AS v
        |FROM events""".stripMargin)),
    "q_json_variant" -> QuerySpec((s, dir) => {
      // semi-structured VARIANT path (Spark 4): parse_json once into
      // the binary variant encoding, then typed variant_get extraction
      // — the open-schema alternative to from_json when payload shapes
      // drift; measured ~2× cheaper than a map parse of the same
      // payload and schema-free at 100 TB (no executor-side schema
      // agreement needed, late binding per field).
      val e = Tables.eventsWide(s, dir)
      e.select(col("event_id"), try_parse_json(col("props")).as("__v"))
        .select(col("event_id"),
          try_variant_get(col("__v"), "$.k", "long").as("k"))
    },
      Some("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events")),
    // ---- relational core: joins / set ops / analytics ----
    "q_join_bcast" -> QuerySpec((s, dir) => Relational.revenueByNation(
      Tables.orders(s, dir), Tables.table(s, dir, "customer"), Tables.table(s, dir, "nation")),
      Some("""SELECT n_name, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin)),
    "q_join_big" -> QuerySpec((s, dir) => Relational.revenueByPriority(
      Tables.lineitem(s, dir), Tables.orders(s, dir)),
      Some("""SELECT o_orderpriority,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)),
    "q_join_bucketed" -> QuerySpec((s, dir) => {
      // co-located join: both sides bucketed on the join key at write
      // time, so the join (and the keyed aggregate above it) plans with
      // ZERO exchanges — write-once/join-many (PlanRegressionSpec
      // asserts the exchange-free plan). Staged once per JVM per sfDir
      // like q_scan_csv: the gated operator is the bucketed JOIN, not
      // the sink.
      val h = s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val (ot, ct) = (s"orders_b_$h", s"customer_b_$h")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_$h"
      if (stagedScanDirs.add(base)) {
        Warehouse.writeBucketed(Tables.orders(s, dir), ot, s"$base/orders",
          "o_custkey", 8)
        Warehouse.writeBucketed(
          Tables.table(s, dir, "customer").select("c_custkey", "c_name"),
          ct, s"$base/customer", "c_custkey", 8)
      }
      // merge hint: at test SF the dim side fits the broadcast
      // threshold and Catalyst would broadcast — legal, but the
      // operator under test is the co-located SORT-MERGE join both
      // sides are too big to broadcast at 100 TB; the hint pins that
      // shape so the plan guard is meaningful at any SF
      Warehouse.readBucketed(s, ot)
        .join(Warehouse.readBucketed(s, ct).hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(count(lit(1)).as("n_orders"),
          graft.ops.ExactSums.moneySum(col("o_totalprice")).as("total_spend"))
    },
      Some("""SELECT c_custkey, c_name, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin)),
    "q_semi_join" -> QuerySpec((s, dir) => Relational.customersWithOrders(
      Tables.table(s, dir, "customer"), Tables.orders(s, dir)),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),
    "q_outer_join" -> QuerySpec((s, dir) => Relational.customerOrderCounts(
      Tables.table(s, dir, "customer"), Tables.orders(s, dir)),
      Some("""SELECT c_custkey, c_name, coalesce(n, 0) AS n_orders
        |FROM customer LEFT JOIN
        |  (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1) o
        |  ON c_custkey = o_custkey""".stripMargin)),
    "q_rollup" -> QuerySpec((s, dir) => Relational.rollupQtyRevenue(Tables.lineitem(s, dir)),
      Some("""SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),
    "q_set_except" -> QuerySpec((s, dir) => Relational.usersExcept(Tables.events(s, dir), "click", "purchase"),
      Some("""SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin)),
    "q_count_distinct" -> QuerySpec((s, dir) => Relational.distinctUsers(Tables.events(s, dir)),
      Some("SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1")),
    "q_approx_distinct" -> QuerySpec((s, dir) => // HLL sketch: rows-only vs oracle;
      // asserted within 3·rsd of exact per group (RelationalSpec)
      Relational.approxDistinctUsers(Tables.events(s, dir)), None),
    "q_distinct_kmv" -> QuerySpec((s, dir) => // X223: md5-portable KMV twin of the
      // approx-distinct family — the (k-1)/u_k estimate recomposes
      // bit-exact cross-engine, collisions of approximation included
      ext.Sketches.kmvDistinct(Tables.events(s, dir),
        Seq("event_type"), "user_id", k = 64),
      // X223 KMV: same md5 priorities, same bottom-64, same one division
      // — the ESTIMATE recomposes bit-exact, approximation error included
      Some("""WITH d AS (SELECT DISTINCT event_type, user_id FROM events
        |           WHERE user_id IS NOT NULL),
        |u AS (SELECT event_type, user_id,
        |             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |                  AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE) AS u
        |      FROM d),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |                                   ORDER BY u, user_id) AS rn FROM u)
        |SELECT event_type,
        |       CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |            ELSE CAST(63 AS DOUBLE) / max(u) END AS distinct_est
        |FROM r WHERE rn <= 64 GROUP BY event_type""".stripMargin)),
    "q_quantiles_sampled" -> QuerySpec((s, dir) => // X224: md5-coordinated sample +
      // exact interpolated percentiles — both halves recompose
      // cross-engine, sampling error included
      ext.Sketches.sampledQuantiles(Tables.events(s, dir),
        Seq("event_type"), "value", "event_id", k = 512),
      // X224 sampled quantiles: same md5 bottom-512 sample, same
      // interpolated quantiles — estimates recompose bit-exact
      Some("""WITH r AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, quantile_cont(value, 0.5) AS p50,
        |       quantile_cont(value, 0.9) AS p90, quantile_cont(value, 0.99) AS p99
        |FROM r WHERE rn <= 512 GROUP BY 1""".stripMargin)),
    "q_quantiles" -> QuerySpec((s, dir) => Relational.valueQuantiles(Tables.events(s, dir)),
      Some("""SELECT event_type, quantile_cont(value, 0.5) AS p50,
        |       quantile_cont(value, 0.9) AS p90, quantile_cont(value, 0.99) AS p99
        |FROM events GROUP BY 1""".stripMargin)),
    "q_quantiles_approx" -> QuerySpec((s, dir) => // sketch: rows-only vs oracle;
      // within-rank-error-of-exact asserted in RelationalSpec
      Relational.valueQuantilesApprox(Tables.events(s, dir)), None),
    "q_topk_group" -> QuerySpec((s, dir) => Relational.topKPerGroup(Tables.events(s, dir), k = 5),
      Some("""SELECT event_type, event_id, value, rank FROM (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rank
        |  FROM events) t WHERE rank <= 5""".stripMargin)),
    "q_rolling_median" -> QuerySpec((s, dir) => Indicators.rollingMedian(Tables.prices(s, dir), 30),
      Some("""SELECT ts AS ts_utc, event_type AS asset,
        |  CASE WHEN count(value) OVER w >= 30 THEN round(median(value) OVER w, 6) END AS med30
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin)),
    "q_ema_macd" -> QuerySpec((s, dir) => Indicators.emaMacd(dailyOhlc(s, dir)),
      // Recursive-indicator oracles replay the EXACT arithmetic of the
      // SeededEwma window recursion (same multiply-add order, alphas as
      // CAST(... AS DOUBLE) divisions) in a recursive CTE, so doubles
      // match bit-for-bit before the final 6-dp round.
      Some(dailyCteRec +
      """, t AS (
        |  SELECT asset, date, close,
        |         row_number() OVER (PARTITION BY asset ORDER BY date) AS rn
        |  FROM daily
        |), e AS (
        |  SELECT asset, date, close, rn,
        |         close AS ema12, close AS ema26, CAST(0 AS DOUBLE) AS sig
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT s.asset, s.date, s.close, s.rn, s.ema12, s.ema26,
        |         (CAST(2 AS DOUBLE)/10)*(s.ema12 - s.ema26)
        |           + (1 - CAST(2 AS DOUBLE)/10)*s.sig AS sig
        |  FROM (
        |    SELECT t.asset, t.date, t.close, t.rn,
        |           (CAST(2 AS DOUBLE)/13)*t.close + (1 - CAST(2 AS DOUBLE)/13)*e.ema12 AS ema12,
        |           (CAST(2 AS DOUBLE)/27)*t.close + (1 - CAST(2 AS DOUBLE)/27)*e.ema26 AS ema26,
        |           e.sig
        |    FROM t JOIN e ON t.asset = e.asset AND t.rn = e.rn + 1
        |  ) s
        |)
        |SELECT date, asset, close,
        |       round(ema12, 6) AS ema12, round(ema26, 6) AS ema26,
        |       round(ema12 - ema26, 6) AS macd, round(sig, 6) AS signal,
        |       round((ema12 - ema26) - sig, 6) AS hist
        |FROM e""".stripMargin)),
    "q_rsi_atr" -> QuerySpec((s, dir) => Indicators.rsiAtr(dailyOhlc(s, dir), 14),
      Some(dailyCteRec +
      """, t AS (
        |  SELECT asset, date, close, high, low,
        |         row_number() OVER (PARTITION BY asset ORDER BY date) AS rn,
        |         lag(close) OVER (PARTITION BY asset ORDER BY date) AS prev_close
        |  FROM daily
        |), g AS (
        |  SELECT asset, date, rn,
        |    CASE WHEN prev_close IS NULL THEN NULL
        |         WHEN close - prev_close > 0 THEN close - prev_close
        |         ELSE 0.0 END AS gain,
        |    CASE WHEN prev_close IS NULL THEN NULL
        |         WHEN close - prev_close < 0 THEN -(close - prev_close)
        |         ELSE 0.0 END AS loss,
        |    CASE WHEN prev_close IS NULL THEN high - low
        |         ELSE greatest(high - low, abs(high - prev_close), abs(low - prev_close))
        |    END AS tr
        |  FROM t
        |), e AS (
        |  SELECT asset, date, rn,
        |         CAST(0 AS DOUBLE) AS cum_gain, CAST(0 AS DOUBLE) AS cum_loss, tr AS cum_tr,
        |         CAST(NULL AS DOUBLE) AS avg_gain, CAST(NULL AS DOUBLE) AS avg_loss,
        |         CAST(NULL AS DOUBLE) AS atr
        |  FROM g WHERE rn = 1
        |  UNION ALL
        |  SELECT g.asset, g.date, g.rn,
        |         e.cum_gain + g.gain, e.cum_loss + g.loss, e.cum_tr + g.tr,
        |         CASE WHEN g.rn - 1 < 14 THEN NULL
        |              WHEN g.rn - 1 = 14 THEN (e.cum_gain + g.gain)/14.0
        |              ELSE (CAST(1 AS DOUBLE)/14)*g.gain
        |                     + (1 - CAST(1 AS DOUBLE)/14)*e.avg_gain END,
        |         CASE WHEN g.rn - 1 < 14 THEN NULL
        |              WHEN g.rn - 1 = 14 THEN (e.cum_loss + g.loss)/14.0
        |              ELSE (CAST(1 AS DOUBLE)/14)*g.loss
        |                     + (1 - CAST(1 AS DOUBLE)/14)*e.avg_loss END,
        |         CASE WHEN g.rn < 14 THEN NULL
        |              WHEN g.rn = 14 THEN (e.cum_tr + g.tr)/14.0
        |              ELSE (CAST(1 AS DOUBLE)/14)*g.tr
        |                     + (1 - CAST(1 AS DOUBLE)/14)*e.atr END
        |  FROM g JOIN e ON g.asset = e.asset AND g.rn = e.rn + 1
        |)
        |SELECT date, asset,
        |  round(CASE WHEN avg_loss = 0 THEN 100.0
        |             ELSE 100.0 - 100.0/(1.0 + avg_gain/avg_loss) END, 6) AS rsi14,
        |  round(atr, 6) AS atr14
        |FROM e""".stripMargin)),
    "q_bollinger" -> QuerySpec((s, dir) => Indicators.bollinger(dailyOhlc(s, dir), 20, 2.0),
      Some(dailyCte +
      """ SELECT date, asset, close,
        |  round(CASE WHEN count(close) OVER w >= 20 THEN avg(close) OVER w END, 6) AS bb_mid,
        |  round(CASE WHEN count(close) OVER w >= 20
        |        THEN avg(close) OVER w + 2.0*stddev_samp(close) OVER w END, 6) AS bb_upper,
        |  round(CASE WHEN count(close) OVER w >= 20
        |        THEN avg(close) OVER w - 2.0*stddev_samp(close) OVER w END, 6) AS bb_lower
        |FROM daily
        |WINDOW w AS (PARTITION BY asset ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin)),
    "q_autocorr" -> QuerySpec((s, dir) =>
      // X225 return ACF: corr between the return series and its own
      // 1..5-day lags — one window pass + stack unpivot + one hash
      // agg; corr's unordered sums round to 6dp on both sides (the
      // q_corr_matrix precedent)
      Indicators.autocorr(dailyOhlc(s, dir), maxLag = 5, minPairs = 10),
      // X225 return ACF: same lag-then-melt shape, corr rounded 6dp on
      // both sides (q_corr_matrix precedent); null rets filtered BEFORE
      // lagging, so the lag runs over the return series itself
      Some(dailyCte +
      """, r AS (
        |  SELECT asset, date,
        |         close / lag(close) OVER (PARTITION BY asset ORDER BY date) - 1 AS ret
        |  FROM daily
        |), rr AS (SELECT * FROM r WHERE ret IS NOT NULL),
        |lagged AS (
        |  SELECT asset, ret,
        |         lag(ret, 1) OVER w AS l1, lag(ret, 2) OVER w AS l2,
        |         lag(ret, 3) OVER w AS l3, lag(ret, 4) OVER w AS l4,
        |         lag(ret, 5) OVER w AS l5
        |  FROM rr WINDOW w AS (PARTITION BY asset ORDER BY date)
        |), melted AS (
        |  SELECT asset, ret, l.lag,
        |         CASE l.lag WHEN 1 THEN l1 WHEN 2 THEN l2 WHEN 3 THEN l3
        |                    WHEN 4 THEN l4 ELSE l5 END AS ret_lag
        |  FROM lagged CROSS JOIN (SELECT unnest([1,2,3,4,5]) AS lag) l
        |)
        |SELECT asset, lag, count(*) AS n_pairs,
        |       CASE WHEN count(*) >= 10
        |             AND stddev_samp(ret) > 0 AND stddev_samp(ret_lag) > 0
        |            THEN round(covar_samp(ret, ret_lag)
        |                       / (stddev_samp(ret) * stddev_samp(ret_lag)), 6) END AS acf
        |FROM melted WHERE ret_lag IS NOT NULL
        |GROUP BY asset, lag""".stripMargin)),
    "q_holt" -> QuerySpec((s, dir) =>
      // X226 Holt level+trend smoothing: the HoltLinear window
      // recursion; the oracle replays the exact coupled recurrence as
      // a recursive CTE (the q_ema_macd precedent)
      Indicators.holt(dailyOhlc(s, dir), alpha = 0.3, beta = 0.1),
      // X226 Holt: the exact coupled recurrence replayed as a recursive
      // CTE — l_t computed in the inner subquery from the previous row's
      // state, b_t outside from (l_t, l_{t-1}, b_{t-1}) — the same
      // multiply-add order HoltLinear emits, bit-identical before the
      // 6-dp round (the q_ema_macd precedent)
      Some(dailyCteRec +
      """, t AS (
        |  SELECT asset, date, close,
        |         row_number() OVER (PARTITION BY asset ORDER BY date) AS rn
        |  FROM daily
        |), e AS (
        |  SELECT asset, date, close, rn, close AS level, CAST(0 AS DOUBLE) AS trend
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT s.asset, s.date, s.close, s.rn, s.level,
        |         (CAST(1 AS DOUBLE)/10)*(s.level - s.plevel)
        |           + (1 - CAST(1 AS DOUBLE)/10)*s.ptrend AS trend
        |  FROM (
        |    SELECT t.asset, t.date, t.close, t.rn,
        |           (CAST(3 AS DOUBLE)/10)*t.close
        |             + (1 - CAST(3 AS DOUBLE)/10)*(e.level + e.trend) AS level,
        |           e.level AS plevel, e.trend AS ptrend
        |    FROM t JOIN e ON t.asset = e.asset AND t.rn = e.rn + 1
        |  ) s
        |)
        |SELECT date, asset, close,
        |       round(level, 6) AS level, round(trend, 6) AS trend,
        |       round(level + trend, 6) AS forecast,
        |       round(close - lag(level + trend)
        |         OVER (PARTITION BY asset ORDER BY date), 6) AS fc_err
        |FROM e""".stripMargin)),
    "q_cusum" -> QuerySpec((s, dir) =>
      // X227 two-sided CUSUM over returns: the CusumState window
      // recursion (reset-at-zero — no built-in frame aggregate);
      // recursive-CTE oracle with greatest(0, ·)
      Indicators.cusum(dailyOhlc(s, dir), target = 0.0, allowance = 0.005, h = 0.05),
      // X227 CUSUM: greatest(0, prev + deviation) replayed per row; the
      // seed row is each asset's first (its ret is NULL by construction,
      // so state stays at the (0,0) init)
      Some(dailyCteRec +
      """, r AS (
        |  SELECT asset, date,
        |         close / lag(close) OVER (PARTITION BY asset ORDER BY date) - 1 AS ret,
        |         row_number() OVER (PARTITION BY asset ORDER BY date) AS rn
        |  FROM daily
        |), e AS (
        |  SELECT asset, date, ret, rn, CAST(0 AS DOUBLE) AS pos, CAST(0 AS DOUBLE) AS neg
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.asset, r.date, r.ret, r.rn,
        |    CASE WHEN r.ret IS NULL THEN e.pos
        |         ELSE greatest(e.pos + ((r.ret - CAST(0 AS DOUBLE)) - CAST(5 AS DOUBLE)/1000),
        |                       CAST(0 AS DOUBLE)) END AS pos,
        |    CASE WHEN r.ret IS NULL THEN e.neg
        |         ELSE greatest(e.neg + ((CAST(0 AS DOUBLE) - CAST(5 AS DOUBLE)/1000) - r.ret),
        |                       CAST(0 AS DOUBLE)) END AS neg
        |  FROM r JOIN e ON r.asset = e.asset AND r.rn = e.rn + 1
        |)
        |SELECT date, asset, round(ret, 6) AS ret,
        |       round(pos, 6) AS cusum_pos, round(neg, 6) AS cusum_neg,
        |       (pos > CAST(5 AS DOUBLE)/100 OR neg > CAST(5 AS DOUBLE)/100) AS alarm
        |FROM e""".stripMargin)),
    "q_stochastic" -> QuerySpec((s, dir) => Indicators.stochastic(dailyOhlc(s, dir), 14, 3),
      Some(dailyCte +
      """ SELECT date, asset, round(k, 6) AS stoch_k,
        |  round(CASE WHEN count(k) OVER ws >= 3 THEN avg(k) OVER ws END, 6) AS stoch_d
        |FROM (
        |  SELECT date, asset,
        |    CASE WHEN count(close) OVER w >= 14 AND max(high) OVER w <> min(low) OVER w
        |         THEN 100.0*(close - min(low) OVER w)/(max(high) OVER w - min(low) OVER w)
        |    END AS k
        |  FROM daily
        |  WINDOW w AS (PARTITION BY asset ORDER BY date ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |) t
        |WINDOW ws AS (PARTITION BY asset ORDER BY date ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin)),
    "q_drawdown" -> QuerySpec((s, dir) => Indicators.drawdown(dailyOhlc(s, dir)),
      Some(dailyCte +
      """ SELECT date, asset, close,
        |  round(close / max(close) OVER (PARTITION BY asset ORDER BY date
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1, 6) AS drawdown
        |FROM daily""".stripMargin)),
    "q_perf_stats" -> QuerySpec((s, dir) => Indicators.perfStats(dailyOhlc(s, dir)),
      Some(dailyCte +
      """, e AS (
        |  SELECT *, close / lag(close) OVER (PARTITION BY asset ORDER BY date) - 1 AS ret,
        |         close / max(close) OVER (PARTITION BY asset ORDER BY date
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS dd
        |  FROM daily
        |)
        |SELECT asset, count(*) AS n_days,
        |  round(arg_max(close, date) / arg_min(close, date) - 1, 6) AS total_return,
        |  round(stddev_samp(ret) * sqrt(365.0), 6) AS ann_vol,
        |  round(avg(ret) / stddev_samp(ret) * sqrt(365.0), 6) AS sharpe,
        |  round(min(dd), 6) AS max_drawdown
        |FROM e GROUP BY 1""".stripMargin)),
    "q_corr_matrix" -> QuerySpec((s, dir) => Relational.corrMatrix(dailyOhlc(s, dir)),
      Some(dailyCte +
      """, r AS (
        |  SELECT date, asset,
        |         close / lag(close) OVER (PARTITION BY asset ORDER BY date) - 1 AS ret
        |  FROM daily
        |)
        |SELECT x.asset AS asset_a, y.asset AS asset_b, count(*) AS n_days,
        |       round(corr(x.ret, y.ret), 6) AS ret_corr
        |FROM r x JOIN r y ON x.date = y.date AND x.asset < y.asset
        |WHERE x.ret IS NOT NULL AND y.ret IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)),
    "q_window_offsets" -> QuerySpec((s, dir) => Relational.windowOffsets(dailyOhlc(s, dir)),
      Some(dailyCte +
      """ SELECT date, asset, close,
        |  lead(close) OVER w AS next_close,
        |  lag(close, 7) OVER w AS close_7ago,
        |  first_value(close) OVER wr AS first_close,
        |  nth_value(close, 3) OVER wr AS third_close
        |FROM daily
        |WINDOW w AS (PARTITION BY asset ORDER BY date),
        |       wr AS (PARTITION BY asset ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)),
    "q_oov_rate" -> QuerySpec((s, dir) => ext.TextAnalysis.oovRate(Tables.documents(s, dir), 1000),
      Some("""WITH vocab AS (
        |  SELECT token FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) u
        |  GROUP BY token ORDER BY count(*) DESC, token LIMIT 1000
        |), tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        |    AS oov_rate
        |FROM tok LEFT JOIN vocab v ON tok.token = v.token
        |GROUP BY doc_id""".stripMargin)),
    "q_heavy_hitters" -> QuerySpec((s, dir) => Relational.heavyHitters(Tables.events(s, dir), "user_id", 0.001),
      Some("""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT user_id, n, round(CAST(n AS DOUBLE)/total, 6) AS share
        |FROM c, t
        |WHERE n >= CAST(0.001 AS DOUBLE) * CAST(total AS DOUBLE)""".stripMargin)),
    "q_key_skew" -> QuerySpec((s, dir) => Relational.keySkew(Tables.events(s, dir), "user_id", 5),
      Some("""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(n) AS BIGINT) AS total,
        |             CAST(max(n) AS BIGINT) AS max_n FROM c),
        |tk AS (SELECT CAST(sum(n) AS BIGINT) AS top_n
        |       FROM (SELECT n FROM c ORDER BY n DESC, user_id LIMIT 5) x)
        |SELECT n_keys, total, round(CAST(max_n AS DOUBLE)/total, 6) AS max_share,
        |       round(CAST(top_n AS DOUBLE)/total, 6) AS top5_share
        |FROM t, tk""".stripMargin)),
    "q_full_outer" -> QuerySpec((s, dir) => Relational.fullOuterUserTotals(Tables.events(s, dir)),
      Some("""WITH a AS (SELECT user_id, count(*) AS n_click FROM events
        |           WHERE event_type = 'click' GROUP BY 1),
        |b AS (SELECT user_id, count(*) AS n_purchase FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT COALESCE(a.user_id, b.user_id) AS user_id,
        |       COALESCE(n_click, 0) AS n_click,
        |       COALESCE(n_purchase, 0) AS n_purchase
        |FROM a FULL OUTER JOIN b ON a.user_id = b.user_id""".stripMargin)),
    "q_gap_fill" -> QuerySpec((s, dir) =>
      // deterministic gaps: drop every 3rd calendar day, then resample
      // + ffill back onto the full per-asset calendar spine
      Relational.calendarFill(dailyOhlc(s, dir)
        .filter(dayofmonth(col("date")) % 3 =!= 0)
        .select("date", "asset", "close")),
      Some(dailyCte +
      """, filt AS (
        |  SELECT date, asset, close FROM daily WHERE day(date) % 3 <> 0
        |), cal AS (
        |  SELECT asset, CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
        |                                            CAST(mx AS TIMESTAMP),
        |                                            INTERVAL 1 DAY)) AS DATE) AS date
        |  FROM (SELECT asset, min(date) AS mn, max(date) AS mx FROM filt GROUP BY 1) b
        |), j AS (
        |  SELECT cal.asset, cal.date, f.close
        |  FROM cal LEFT JOIN filt f ON f.asset = cal.asset AND f.date = cal.date
        |)
        |SELECT date, asset,
        |  last_value(close IGNORE NULLS) OVER (PARTITION BY asset ORDER BY date
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill,
        |  close IS NULL AS was_gap
        |FROM j""".stripMargin)),
    "q_anti_join" -> QuerySpec((s, dir) => Relational.antiJoinUsers(Tables.events(s, dir)),
      Some("""SELECT user_id, count(*) AS n_click
        |FROM events e WHERE event_type = 'click'
        |  AND NOT EXISTS (SELECT 1 FROM events p
        |                  WHERE p.event_type = 'purchase' AND p.value > 200.0
        |                    AND p.user_id = e.user_id)
        |GROUP BY 1""".stripMargin)),
    "q_ohlc_weekly" -> QuerySpec((s, dir) => Ohlc.weekly(Tables.prices(s, dir)),
      Some("""SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type AS asset,
        |       arg_min(value, ts) AS open, max(value) AS high,
        |       min(value) AS low, arg_max(value, ts) AS close
        |FROM events GROUP BY 1, 2""".stripMargin)),
    "q_scd2" -> QuerySpec((s, dir) =>
      // dimension history: each (user, event_type)'s price TIER
      // (floor(value/10)) tracked as an SCD2 attribute — runs collapse,
      // validity intervals close at the next change
      Relational.scdType2(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
            floor(col("value") / 10).as("tier")),
        keyCols = Seq("user_id", "event_type"), attrCol = "tier",
        tsCol = "ts", tieCol = "event_id"),
      Some("""WITH c AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         CAST(floor(value / 10) AS BIGINT) AS tier
        |  FROM events
        |), runs AS (
        |  SELECT *, row_number() OVER w AS rn, lag(tier) OVER w AS prev_tier
        |  FROM c
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |), collapsed AS (
        |  SELECT * FROM runs WHERE rn = 1 OR prev_tier IS DISTINCT FROM tier
        |)
        |SELECT user_id, event_type, tier,
        |  ts AS effective_from,
        |  lead(ts) OVER w2 AS effective_to,
        |  lead(ts) OVER w2 IS NULL AS is_current
        |FROM collapsed
        |WINDOW w2 AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)""".stripMargin)),
    "q_obv" -> QuerySpec((s, dir) => Indicators.obv(Tables.prices(s, dir)),
      Some("""WITH d AS (
        |  SELECT CAST(ts AS DATE) AS date, event_type AS asset,
        |         arg_max(value, ts) AS close, count(*) AS volume
        |  FROM events GROUP BY 1, 2
        |), s AS (
        |  SELECT *, CASE WHEN lag(close) OVER w IS NULL THEN 0.0
        |                 ELSE sign(close - lag(close) OVER w) * volume END AS signed
        |  FROM d WINDOW w AS (PARTITION BY asset ORDER BY date)
        |)
        |SELECT date, asset, close, volume,
        |  CAST(sum(signed) OVER (PARTITION BY asset ORDER BY date
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
        |FROM s""".stripMargin)),
    "q_ma_cross" -> QuerySpec((s, dir) =>
      // 3/10 windows (not 7/30): the testdata spans 30 calendar days,
      // so a 30-day slow MA is warm for exactly one row and could
      // never cross — 3/10 exercises real flips (18 at sf0.01)
      Indicators.maCross(dailyOhlc(s, dir), fast = 3, slow = 10),
      Some(dailyCte +
      """, m AS (
        |  SELECT date, asset, close,
        |    CASE WHEN count(close) OVER wf >= 3 THEN avg(close) OVER wf END AS maf,
        |    CASE WHEN count(close) OVER ws >= 10 THEN avg(close) OVER ws END AS mas
        |  FROM daily
        |  WINDOW wf AS (PARTITION BY asset ORDER BY date ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |         ws AS (PARTITION BY asset ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |), warm AS (
        |  SELECT date, asset, close,
        |    CASE WHEN maf > mas THEN 1 WHEN maf < mas THEN -1 ELSE 0 END AS state
        |  FROM m WHERE mas IS NOT NULL
        |), x AS (
        |  SELECT *, lag(state) OVER (PARTITION BY asset ORDER BY date) AS prev FROM warm
        |)
        |SELECT date, asset, close,
        |  CASE WHEN state = 1 THEN 'golden' ELSE 'death' END AS signal
        |FROM x WHERE prev IS NOT NULL AND state <> prev AND state <> 0""".stripMargin)),
    "q_set_except_all" -> QuerySpec((s, dir) =>
      Relational.usersExceptAll(Tables.events(s, dir), "click", "purchase"),
      Some("""SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT ALL
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin)),
    "q_set_intersect_all" -> QuerySpec((s, dir) =>
      Relational.usersIntersectAll(Tables.events(s, dir), "click", "purchase"),
      Some("""SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT ALL
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin)),
    "q_string_agg" -> QuerySpec((s, dir) => Relational.activeDaysAgg(Tables.events(s, dir)),
      Some("""WITH d AS (
        |  SELECT DISTINCT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
        |  FROM events
        |)
        |SELECT event_type, string_agg(day, ',' ORDER BY day) AS active_days
        |FROM d GROUP BY 1""".stripMargin)),
    "q_moments" -> QuerySpec((s, dir) => Relational.valueMoments(Tables.events(s, dir)),
      Some("""WITH mu AS (SELECT event_type, avg(value) AS mu FROM events GROUP BY 1),
        |c AS (SELECT e.event_type, e.value - mu.mu AS d
        |      FROM events e JOIN mu USING (event_type)),
        |a AS (SELECT event_type, count(*) AS n, avg(d*d) AS m2,
        |             avg(d*d*d) AS m3, avg(d*d*d*d) AS m4
        |      FROM c GROUP BY 1)
        |SELECT event_type, n, round(m3 / power(m2, 1.5), 6) AS skew,
        |       round(m4 / power(m2, 2) - 3, 6) AS kurt_excess
        |FROM a""".stripMargin)),
    "q_retention" -> QuerySpec((s, dir) => Relational.retentionCohorts(Tables.events(s, dir)),
      Some("""WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort
        |            FROM events GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT cohort, CAST(day - cohort AS BIGINT) AS "offset", count(*) AS n_users
        |FROM act JOIN fs USING (user_id)
        |WHERE day - cohort <= 30
        |GROUP BY 1, 2""".stripMargin)),
    "q_funnel" -> QuerySpec((s, dir) => Relational.funnelConversion(Tables.events(s, dir)),
      Some("""WITH fa AS (SELECT user_id, min(ts) AS ts_a FROM events
        |            WHERE event_type = 'click' GROUP BY 1),
        |conv AS (SELECT DISTINCT e.user_id
        |         FROM events e JOIN fa USING (user_id)
        |         WHERE e.event_type = 'purchase'
        |           AND e.ts > fa.ts_a
        |           AND e.ts <= fa.ts_a + INTERVAL 86400 SECONDS)
        |SELECT CAST(fa.ts_a AS DATE) AS cohort, count(*) AS n_users,
        |       CAST(count(conv.user_id) AS BIGINT) AS n_converted,
        |       round(CAST(count(conv.user_id) AS DOUBLE) / count(*), 6) AS conv_rate
        |FROM fa LEFT JOIN conv ON fa.user_id = conv.user_id
        |GROUP BY 1""".stripMargin)),
    "q_drift_psi" -> QuerySpec((s, dir) => Relational.psiDrift(Tables.events(s, dir)),
      Some("""WITH cuts AS (
        |  SELECT event_type,
        |         list_transform(quantile_cont(value,
        |           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), c -> round(c, 6)) AS cuts
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
        |b AS (SELECT e.event_type,
        |        CASE WHEN e.ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END AS period,
        |        len(list_filter(cuts, c -> c <= e.value))::BIGINT AS bucket
        |      FROM events e JOIN cuts USING (event_type)),
        |cnt AS (SELECT event_type, period, bucket, count(*) AS n FROM b GROUP BY 1,2,3),
        |spine AS (SELECT event_type, period, bucket
        |          FROM (SELECT DISTINCT event_type FROM cuts),
        |               (SELECT unnest(['ref','cur']) AS period),
        |               (SELECT unnest(range(0, 10)) AS bucket)),
        |sh AS (SELECT s.event_type, s.period, s.bucket, coalesce(n, 0) AS n,
        |         sum(coalesce(n, 0)) OVER (PARTITION BY s.event_type, s.period) AS tot
        |       FROM spine s LEFT JOIN cnt
        |         ON s.event_type = cnt.event_type AND s.period = cnt.period
        |        AND s.bucket = cnt.bucket),
        |p AS (SELECT event_type, bucket,
        |        max(CASE WHEN period = 'ref' THEN (n + 0.5) / (tot + 5.0) END) AS p_ref,
        |        max(CASE WHEN period = 'cur' THEN (n + 0.5) / (tot + 5.0) END) AS p_cur
        |      FROM sh GROUP BY 1, 2)
        |SELECT event_type, round(sum((p_cur - p_ref) * ln(p_cur / p_ref)), 6) AS psi
        |FROM p GROUP BY 1""".stripMargin)),
    "q_anomaly" -> QuerySpec((s, dir) => Relational.anomalyFlags(Tables.events(s, dir)),
      Some("""WITH st AS (SELECT event_type, avg(value) AS mu,
        |              stddev_samp(value) AS sigma
        |            FROM events GROUP BY 1)
        |SELECT event_id, event_type, value, round((value - mu) / sigma, 6) AS z
        |FROM events JOIN st USING (event_type)
        |WHERE abs(round((value - mu) / sigma, 6)) > 3.0""".stripMargin)),
    "q_trend_fit" -> QuerySpec((s, dir) => Relational.trendFit(Tables.events(s, dir)),
      Some("""SELECT event_type, count(*) AS n,
        |  round(regr_slope(value, epoch(ts) / 86400.0), 6) AS slope,
        |  round(regr_intercept(value, epoch(ts) / 86400.0), 6) AS intercept,
        |  round(regr_r2(value, epoch(ts) / 86400.0), 6) AS r2
        |FROM events GROUP BY 1""".stripMargin)),
    "q_rate_spike" -> QuerySpec((s, dir) => Relational.rateSpikes(Tables.events(s, dir)),
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma
        |       FROM d GROUP BY 1)
        |SELECT event_type, day, n, round((n - mu) / sigma, 6) AS z
        |FROM d JOIN st USING (event_type)
        |WHERE abs(round((n - mu) / sigma, 6)) > 2.0""".stripMargin)),
    "q_winsorize" -> QuerySpec((s, dir) => Relational.winsorize(Tables.events(s, dir)),
      Some("""WITH c AS (SELECT event_type, quantile_cont(value, 0.01) AS p_lo,
        |                  quantile_cont(value, 0.99) AS p_hi
        |           FROM events GROUP BY 1)
        |SELECT event_id, event_type, value,
        |  round(least(greatest(value, p_lo), p_hi), 6) AS value_w
        |FROM events JOIN c USING (event_type)""".stripMargin)),
    "q_dedup_containment" -> QuerySpec((s, dir) =>
      ext.Dedup.ngramContainmentPairs(Tables.documentsWide(s, dir), n = 3, threshold = 0.5),
      Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                                     for i in range(1, len(toks) - 1)]) AS shingles
        |       FROM tok WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter,
        |         any_value(x.n) AS na, any_value(y.n) AS nb
        |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, inter / na AS c_ab, inter / nb AS c_ba
        |FROM pairs WHERE greatest(inter / na, inter / nb) >= 0.5""".stripMargin)),
    "q_shingle_novelty" -> QuerySpec((s, dir) =>
      ext.Dedup.shingleNovelty(Tables.documentsWide(s, dir), n = 3),
      Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                                     for i in range(1, len(toks) - 1)]) AS shingles
        |       FROM tok WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
        |t AS (SELECT doc_id, count(*) AS n_shingles FROM ex GROUP BY 1),
        |f AS (SELECT min(doc_id) AS doc_id FROM ex GROUP BY s),
        |nv AS (SELECT doc_id, count(*) AS n_novel FROM f GROUP BY 1)
        |SELECT t.doc_id, t.n_shingles, coalesce(nv.n_novel, 0) AS n_novel,
        |  round(CAST(coalesce(nv.n_novel, 0) AS DOUBLE) / t.n_shingles, 6) AS novelty
        |FROM t LEFT JOIN nv USING (doc_id)""".stripMargin)),
    "q_centroid_sim" -> QuerySpec((s, dir) =>
      ext.Similarity.centroidSimilarity(Tables.embeddings(s, dir), dim = 64),
      Some("""WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS i,
        |                   unnest(embedding::DOUBLE[]) AS x
        |            FROM embeddings),
        |m AS (SELECT label, i, round(avg(x), 6) AS m FROM ex GROUP BY 1, 2),
        |n AS (SELECT label, sqrt(sum(m * m)) AS nm FROM m GROUP BY 1),
        |d AS (SELECT a.label AS label_a, b.label AS label_b, sum(a.m * b.m) AS dot
        |      FROM m a JOIN m b ON a.i = b.i AND a.label < b.label GROUP BY 1, 2)
        |SELECT label_a, label_b, round(dot / (na.nm * nb.nm), 6) AS cosine
        |FROM d JOIN n na ON label_a = na.label JOIN n nb ON label_b = nb.label""".stripMargin)),
    "q_event_transitions" -> QuerySpec((s, dir) => Relational.eventTransitions(Tables.events(s, dir)),
      Some("""WITH s AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events
        |), c AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS p
        |FROM c""".stripMargin)),
    "q_value_histogram" -> QuerySpec((s, dir) => Relational.valueHistogram(Tables.events(s, dir)),
      Some("""WITH b AS (SELECT event_type, min(value) AS lo, max(value) AS hi
        |           FROM events GROUP BY 1)
        |SELECT e.event_type,
        |  CAST(CASE WHEN b.hi = b.lo THEN 0
        |       ELSE least(floor((e.value - b.lo) / ((b.hi - b.lo) / 20)), 19)
        |       END AS BIGINT) AS bin,
        |  count(*) AS n
        |FROM events e JOIN b USING (event_type) GROUP BY 1, 2""".stripMargin)),
    "q_bm25" -> QuerySpec((s, dir) => ext.TextAnalysis.bm25TopK(
      Tables.documents(s, dir), Bm25Queries, k = 10),
      Some("""WITH q AS (SELECT * FROM (VALUES (1,'hash'),(1,'join'),(2,'window'),
        |                                 (2,'agg'),(2,'scan'),(3,'vector'),
        |                                 (3,'merge')) AS t(query_id, token)),
        |tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |toks AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS token FROM tk),
        |tf AS (SELECT doc_id, token, any_value(dl) AS dl, count(*)::DOUBLE AS tf
        |       FROM toks WHERE token IN (SELECT token FROM q) GROUP BY 1, 2),
        |st AS (SELECT count(*)::DOUBLE AS n_docs,
        |              avg(len(string_split(lower(text), ' ')))::DOUBLE AS avg_dl
        |       FROM documents),
        |dfreq AS (SELECT token, count(*)::DOUBLE AS df_t FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |         round(sum(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        |               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl))), 6)
        |           AS bm25
        |       FROM tf JOIN q USING (token) JOIN dfreq USING (token), st
        |       GROUP BY 1, 2)
        |SELECT query_id, rank, doc_id, bm25
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY bm25 DESC, doc_id) AS rank
        |      FROM sc)
        |WHERE rank <= 10""".stripMargin)),
    "q_bm25_indexed" -> QuerySpec((s, dir) => {
      // X253 persisted BM25 index, probed THROUGH storage: postings
      // built once into a token-hash-bucket-clustered snapshot table
      // (+ corpus-scalar meta), then the query batch reads ONLY its
      // terms' buckets — df exact from the probed postings, scoring
      // q_bm25's formula verbatim, so the key shares q_bm25's oracle;
      // what it adds is the round-trip THROUGH the persisted postings
      // (parquet int round-trip, bucket layout, driver-planned pruned
      // read).
      val root = java.nio.file.Files.createTempDirectory("graft_qtidx").toString + "/t"
      // r16: fanned read — the build's tokenize+explode is kernel-CPU
      // over a single-row-group file (readWide's measured-winner rule)
      ext.TextIndex.buildTextIndex(Tables.documentsWide(s, dir), root)
      ext.TextIndex.bm25TopKIndexed(s, root, Bm25Queries, k = 10)
    },
      // X253 indexed probe: same scoring, same oracle — the persisted
      // postings change which FILES are read, never which scores emerge
      Some("""WITH q AS (SELECT * FROM (VALUES (1,'hash'),(1,'join'),(2,'window'),
        |                                 (2,'agg'),(2,'scan'),(3,'vector'),
        |                                 (3,'merge')) AS t(query_id, token)),
        |tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |toks AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS token FROM tk),
        |tf AS (SELECT doc_id, token, any_value(dl) AS dl, count(*)::DOUBLE AS tf
        |       FROM toks WHERE token IN (SELECT token FROM q) GROUP BY 1, 2),
        |st AS (SELECT count(*)::DOUBLE AS n_docs,
        |              avg(len(string_split(lower(text), ' ')))::DOUBLE AS avg_dl
        |       FROM documents),
        |dfreq AS (SELECT token, count(*)::DOUBLE AS df_t FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |         round(sum(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        |               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl))), 6)
        |           AS bm25
        |       FROM tf JOIN q USING (token) JOIN dfreq USING (token), st
        |       GROUP BY 1, 2)
        |SELECT query_id, rank, doc_id, bm25
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY bm25 DESC, doc_id) AS rank
        |      FROM sc)
        |WHERE rank <= 10""".stripMargin), isolated = true),
    "q_rrf_fusion" -> QuerySpec((s, dir) => {
      // X244 hybrid retrieval: BM25 (the q_bm25 term queries, depth
      // 20) fused with semantic cosine (the query-id'th document's
      // embedding vs the rest, depth 20) by reciprocal-rank fusion —
      // rank positions only, so the two scoring scales need no
      // calibration. Top-10 fused, 9-dp rrf both sides.
      val docs = Tables.documents(s, dir)
      val lex = ext.TextAnalysis.bm25TopK(docs, Bm25Queries, k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val e = Tables.embeddings(s, dir)
      val qids = Bm25Queries.map(_._1.toLong)
      val sem = Similarity.bruteForceTopK(
          e.filter(col("vec_id").isin(qids: _*)),
          e.filter(!col("vec_id").isin(qids: _*)), k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, sem), k = 10)
    },
      // X244 reciprocal-rank fusion: the q_bm25 chain at depth 20, the
      // q_topk_cosine chain at depth 20 over the query-id'th embeddings,
      // union'd and re-ranked by sum(1/(60+rank)) — 9-dp both sides
      Some("""WITH q AS (SELECT * FROM (VALUES (1,'hash'),(1,'join'),(2,'window'),
        |                                 (2,'agg'),(2,'scan'),(3,'vector'),
        |                                 (3,'merge')) AS t(query_id, token)),
        |tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |toks AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS token FROM tk),
        |tf AS (SELECT doc_id, token, any_value(dl) AS dl, count(*)::DOUBLE AS tf
        |       FROM toks WHERE token IN (SELECT token FROM q) GROUP BY 1, 2),
        |st AS (SELECT count(*)::DOUBLE AS n_docs,
        |              avg(len(string_split(lower(text), ' ')))::DOUBLE AS avg_dl
        |       FROM documents),
        |dfreq AS (SELECT token, count(*)::DOUBLE AS df_t FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |         round(sum(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        |               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl))), 6)
        |           AS bm25
        |       FROM tf JOIN q USING (token) JOIN dfreq USING (token), st
        |       GROUP BY 1, 2),
        |lex AS (SELECT query_id::BIGINT AS query_id, doc_id, rank
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                           ORDER BY bm25 DESC, doc_id) AS rank
        |              FROM sc)
        |        WHERE rank <= 20),
        |n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |      FROM embeddings),
        |sem0 AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
        |                list_dot_product(a.v, b.v) / (a.nm * b.nm) AS sim
        |         FROM n a JOIN n b ON b.vec_id NOT IN (1, 2, 3)
        |         WHERE a.vec_id IN (1, 2, 3)),
        |sem AS (SELECT query_id, doc_id, rank
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                           ORDER BY sim DESC, doc_id) AS rank
        |              FROM sem0)
        |        WHERE rank <= 20),
        |u AS (SELECT query_id, doc_id, rank FROM lex
        |      UNION ALL SELECT query_id, doc_id, rank FROM sem),
        |f AS (SELECT query_id, doc_id,
        |             round(sum(1.0 / (60 + rank)), 9) AS rrf,
        |             count(*) AS n_lists
        |      FROM u GROUP BY 1, 2)
        |SELECT query_id, rank, doc_id, rrf, n_lists
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY rrf DESC, doc_id) AS rank
        |      FROM f)
        |WHERE rank <= 10""".stripMargin), isolated = true),
    "q_rrf_indexed" -> QuerySpec((s, dir) => {
      // r16: the SERVING loop end-to-end — q_rrf_fusion's hybrid
      // ranking answered from the two PERSISTED indexes instead of
      // inline corpus scans: BM25 from the token-bucket text index
      // (q_bm25_indexed's build), semantic from the bucketed IVF index
      // (q_ann_ivf_indexed's X220 rule — ANSI-recomposable, so the
      // whole fused path carries an oracle), RRF-fused. Builds sit in
      // the timed region by the indexed-key precedent; the steady-state
      // probe cost is on the isolated map + RetrievalFloorProbe.
      val docs = Tables.documentsWide(s, dir) // r16: kernel-heavy build, fanned read
      val e = Tables.embeddings(s, dir)
      val qids = Bm25Queries.map(_._1.toLong)
      val troot = java.nio.file.Files.createTempDirectory("graft_qrft").toString + "/t"
      val vroot = java.nio.file.Files.createTempDirectory("graft_qrfv").toString + "/v"
      // r17 (guide §2.6): the two builds write DISJOINT tables — overlap
      // them so one chain's bounded jobs back-fill the other's idle cores
      inParallel(ext.TextIndex.buildTextIndex(docs, troot)) {
        ext.VectorIndex.buildIvfIndex(e.filter(!col("vec_id").isin(qids: _*)), vroot,
          nlist = 16, bucketed = true)
      }
      ext.Retrieval.retrieveFused(s, troot, vroot, Bm25Queries,
        e.filter(col("vec_id").isin(qids: _*)), k = 10, depth = 20, nprobe = 4)
    },
      // r16 indexed serving loop: q_rrf_fusion's lex chain verbatim
      // (indexed BM25 is score-for-score the inline ranking) + the
      // q_ann_ivf_indexed bucketed-probe chain at depth 20 over the
      // non-query corpus (the X220 cell rule is deterministic whether
      // computed inline or read back through the persisted index) +
      // the same RRF fold — the whole persisted path recomposes
      Some("""WITH q AS (SELECT * FROM (VALUES (1,'hash'),(1,'join'),(2,'window'),
        |                                 (2,'agg'),(2,'scan'),(3,'vector'),
        |                                 (3,'merge')) AS t(query_id, token)),
        |tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |toks AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS token FROM tk),
        |tf AS (SELECT doc_id, token, any_value(dl) AS dl, count(*)::DOUBLE AS tf
        |       FROM toks WHERE token IN (SELECT token FROM q) GROUP BY 1, 2),
        |st AS (SELECT count(*)::DOUBLE AS n_docs,
        |              avg(len(string_split(lower(text), ' ')))::DOUBLE AS avg_dl
        |       FROM documents),
        |dfreq AS (SELECT token, count(*)::DOUBLE AS df_t FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |         round(sum(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        |               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl))), 6)
        |           AS bm25
        |       FROM tf JOIN q USING (token) JOIN dfreq USING (token), st
        |       GROUP BY 1, 2),
        |lex AS (SELECT query_id::BIGINT AS query_id, doc_id, rank
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                           ORDER BY bm25 DESC, doc_id) AS rank
        |              FROM sc)
        |        WHERE rank <= 20),
        |n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |      FROM embeddings),
        |c AS (SELECT vec_id AS doc_id, v AS cv, (vec_id % 16)::INT AS cell
        |      FROM n WHERE vec_id NOT IN (1, 2, 3)),
        |p AS (SELECT q.vec_id AS query_id, q.v AS qv, q.nm AS qn,
        |             ((q.vec_id + i.i) % 16)::INT AS cell
        |      FROM n q, (SELECT unnest(range(0, 4)) AS i) i
        |      WHERE q.vec_id IN (1, 2, 3)),
        |sem0 AS (SELECT p.query_id, c.doc_id,
        |                list_dot_product(p.qv, c.cv)
        |                  / (p.qn * sqrt(list_dot_product(c.cv, c.cv))) AS sim
        |         FROM p JOIN c USING (cell)),
        |sem AS (SELECT query_id, doc_id, rank
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                           ORDER BY sim DESC, doc_id) AS rank
        |              FROM sem0)
        |        WHERE rank <= 20),
        |u AS (SELECT query_id, doc_id, rank FROM lex
        |      UNION ALL SELECT query_id, doc_id, rank FROM sem),
        |f AS (SELECT query_id, doc_id,
        |             round(sum(1.0 / (60 + rank)), 9) AS rrf,
        |             count(*) AS n_lists
        |      FROM u GROUP BY 1, 2)
        |SELECT query_id, rank, doc_id, rrf, n_lists
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY rrf DESC, doc_id) AS rank
        |      FROM f)
        |WHERE rank <= 10""".stripMargin), isolated = true),
    "q_rrf_filtered" -> QuerySpec((s, dir) => {
      // X263 FILTERED hybrid retrieval: q_rrf_indexed's serving loop
      // with an allow set (even doc ids — standing in for "docs whose
      // metadata passes a policy scan") semi-joined into BOTH
      // retrievers' candidates BEFORE their rank cuts: ranks are
      // positions among allowed docs, collection stats stay global,
      // non-matching docs never occupy rank slots.
      val docs = Tables.documentsWide(s, dir) // r16: kernel-heavy build, fanned read
      val e = Tables.embeddings(s, dir)
      val qids = Bm25Queries.map(_._1.toLong)
      val troot = java.nio.file.Files.createTempDirectory("graft_qrff").toString + "/t"
      val vroot = java.nio.file.Files.createTempDirectory("graft_qrfg").toString + "/v"
      // r17 (guide §2.6): disjoint-table builds overlapped, as in q_rrf_indexed
      inParallel(ext.TextIndex.buildTextIndex(docs, troot)) {
        ext.VectorIndex.buildIvfIndex(e.filter(!col("vec_id").isin(qids: _*)), vroot,
          nlist = 16, bucketed = true)
      }
      val allow = docs.filter(pmod(col("doc_id"), lit(2)) === 0).select("doc_id")
      ext.Retrieval.retrieveFused(s, troot, vroot, Bm25Queries,
        e.filter(col("vec_id").isin(qids: _*)), k = 10, depth = 20, nprobe = 4,
        allowedDocs = Some(allow))
    },
      // X263 filtered hybrid serving: q_rrf_indexed's chain with the
      // allow set (even doc ids) landing BEFORE each retriever's rank
      // cut — collection stats (st, dfreq) stay GLOBAL by design, the
      // filter prunes candidates only
      Some("""WITH q AS (SELECT * FROM (VALUES (1,'hash'),(1,'join'),(2,'window'),
        |                                 (2,'agg'),(2,'scan'),(3,'vector'),
        |                                 (3,'merge')) AS t(query_id, token)),
        |tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |toks AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS token FROM tk),
        |tf AS (SELECT doc_id, token, any_value(dl) AS dl, count(*)::DOUBLE AS tf
        |       FROM toks WHERE token IN (SELECT token FROM q) GROUP BY 1, 2),
        |st AS (SELECT count(*)::DOUBLE AS n_docs,
        |              avg(len(string_split(lower(text), ' ')))::DOUBLE AS avg_dl
        |       FROM documents),
        |dfreq AS (SELECT token, count(*)::DOUBLE AS df_t FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |         round(sum(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        |               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl))), 6)
        |           AS bm25
        |       FROM tf JOIN q USING (token) JOIN dfreq USING (token), st
        |       GROUP BY 1, 2),
        |lex AS (SELECT query_id::BIGINT AS query_id, doc_id, rank
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                           ORDER BY bm25 DESC, doc_id) AS rank
        |              FROM sc WHERE doc_id % 2 = 0)
        |        WHERE rank <= 20),
        |n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |      FROM embeddings),
        |c AS (SELECT vec_id AS doc_id, v AS cv, (vec_id % 16)::INT AS cell
        |      FROM n WHERE vec_id NOT IN (1, 2, 3) AND vec_id % 2 = 0),
        |p AS (SELECT q.vec_id AS query_id, q.v AS qv, q.nm AS qn,
        |             ((q.vec_id + i.i) % 16)::INT AS cell
        |      FROM n q, (SELECT unnest(range(0, 4)) AS i) i
        |      WHERE q.vec_id IN (1, 2, 3)),
        |sem0 AS (SELECT p.query_id, c.doc_id,
        |                list_dot_product(p.qv, c.cv)
        |                  / (p.qn * sqrt(list_dot_product(c.cv, c.cv))) AS sim
        |         FROM p JOIN c USING (cell)),
        |sem AS (SELECT query_id, doc_id, rank
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                           ORDER BY sim DESC, doc_id) AS rank
        |              FROM sem0)
        |        WHERE rank <= 20),
        |u AS (SELECT query_id, doc_id, rank FROM lex
        |      UNION ALL SELECT query_id, doc_id, rank FROM sem),
        |f AS (SELECT query_id, doc_id,
        |             round(sum(1.0 / (60 + rank)), 9) AS rrf,
        |             count(*) AS n_lists
        |      FROM u GROUP BY 1, 2)
        |SELECT query_id, rank, doc_id, rrf, n_lists
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY rrf DESC, doc_id) AS rank
        |      FROM f)
        |WHERE rank <= 10""".stripMargin), isolated = true),
    "q_rrf_pq" -> QuerySpec((s, dir) => {
      // X264 in the serving loop: the hybrid ranking with the semantic
      // retriever answered from the persisted PQ CODES (ADC sweep over
      // m ints per row, raw bytes only for the shortlist rerank) —
      // the serving configuration for probed cells too big to read
      // raw per batch. The whole path stays ANSI-recomposable: lex
      // chain + md5-PQ chain + RRF fold.
      val docs = Tables.documentsWide(s, dir) // r16: kernel-heavy build, fanned read
      val e = Tables.embeddings(s, dir)
      val qids = Bm25Queries.map(_._1.toLong)
      val troot = java.nio.file.Files.createTempDirectory("graft_qrfp").toString + "/t"
      val vroot = java.nio.file.Files.createTempDirectory("graft_qrfq").toString + "/v"
      // r17 (guide §2.6): the text build overlaps the DEPENDENT vector
      // pair (codes need the IVF index) — disjoint tables either way
      inParallel(ext.TextIndex.buildTextIndex(docs, troot)) {
        ext.VectorIndex.buildIvfIndex(
          e.filter(!col("vec_id").isin(qids: _*)).select("vec_id", "embedding"),
          vroot, nlist = 16, bucketed = true)
        ext.VectorIndex.buildPqCodes(s, vroot, m = 8, kc = 16)
      }
      ext.Retrieval.retrieveFused(s, troot, vroot, Bm25Queries,
        e.filter(col("vec_id").isin(qids: _*)).select("vec_id", "embedding"),
        k = 10, depth = 20, nprobe = 4, pqShortlist = Some(50))
    },
      // X264 in the serving loop: q_rrf_indexed's lex chain + the
      // q_ann_pq_md5 encode/decode/ADC/shortlist/rerank chain over the
      // non-query corpus + the RRF fold — the PQ-backed hybrid path
      // recomposes end-to-end
      Some("""WITH q AS (SELECT * FROM (VALUES (1,'hash'),(1,'join'),(2,'window'),
        |                                 (2,'agg'),(2,'scan'),(3,'vector'),
        |                                 (3,'merge')) AS t(query_id, token)),
        |tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |toks AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS token FROM tk),
        |tf AS (SELECT doc_id, token, any_value(dl) AS dl, count(*)::DOUBLE AS tf
        |       FROM toks WHERE token IN (SELECT token FROM q) GROUP BY 1, 2),
        |st AS (SELECT count(*)::DOUBLE AS n_docs,
        |              avg(len(string_split(lower(text), ' ')))::DOUBLE AS avg_dl
        |       FROM documents),
        |dfreq AS (SELECT token, count(*)::DOUBLE AS df_t FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |         round(sum(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        |               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl))), 6)
        |           AS bm25
        |       FROM tf JOIN q USING (token) JOIN dfreq USING (token), st
        |       GROUP BY 1, 2),
        |lex AS (SELECT query_id::BIGINT AS query_id, doc_id, rank
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                           ORDER BY bm25 DESC, doc_id) AS rank
        |              FROM sc)
        |        WHERE rank <= 20),
        |cw AS (
        |  SELECT j.j, cs.c,
        |         list(CASE WHEN ('0x' || substr(md5('pq:' || j.j || ':' || cs.c || ':' || sub.i), 1, 1))::INT % 2 = 0
        |                   THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END ORDER BY sub.i) AS w
        |  FROM (SELECT unnest(range(8)) AS j) j,
        |       (SELECT unnest(range(16)) AS c) cs,
        |       (SELECT unnest(range(8)) AS i) sub
        |  GROUP BY j.j, cs.c),
        |n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |      FROM embeddings),
        |enc AS (
        |  SELECT vec_id, j, w FROM (
        |    SELECT n.vec_id, cw.j, cw.w,
        |           row_number() OVER (PARTITION BY n.vec_id, cw.j
        |             ORDER BY (CAST(0 AS DOUBLE)
        |               - list_dot_product(list_transform(range(8), x -> n.v[cw.j*8 + x + 1]), cw.w)),
        |               cw.c) AS rn
        |    FROM n, cw WHERE n.vec_id NOT IN (1, 2, 3)) t WHERE rn = 1),
        |dec AS (
        |  SELECT vec_id, flatten(list(w ORDER BY j)) AS dec FROM enc GROUP BY vec_id),
        |cand AS (
        |  SELECT qe.vec_id AS query_id, qe.v AS qv, qe.nm AS qn,
        |         c.vec_id AS neighbor_id, c.v AS cv, c.nm AS cn,
        |         list_dot_product(qe.v, d.dec) AS adc
        |  FROM n qe, (SELECT unnest(range(4)) AS i) pi,
        |       n c JOIN dec d ON d.vec_id = c.vec_id
        |  WHERE qe.vec_id IN (1, 2, 3) AND c.vec_id NOT IN (1, 2, 3)
        |    AND (c.vec_id % 16) = ((qe.vec_id + pi.i) % 16)),
        |shortpq AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc DESC, neighbor_id) AS srn
        |  FROM cand),
        |rrk AS (
        |  SELECT query_id, neighbor_id AS doc_id,
        |         list_dot_product(qv, cv) / (qn * cn) AS sim
        |  FROM shortpq WHERE srn <= 50),
        |sem AS (SELECT query_id, doc_id, rank
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                           ORDER BY sim DESC, doc_id) AS rank
        |              FROM rrk)
        |        WHERE rank <= 20),
        |u AS (SELECT query_id, doc_id, rank FROM lex
        |      UNION ALL SELECT query_id, doc_id, rank FROM sem),
        |f AS (SELECT query_id, doc_id,
        |             round(sum(1.0 / (60 + rank)), 9) AS rrf,
        |             count(*) AS n_lists
        |      FROM u GROUP BY 1, 2)
        |SELECT query_id, rank, doc_id, rrf, n_lists
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY rrf DESC, doc_id) AS rank
        |      FROM f)
        |WHERE rank <= 10""".stripMargin), isolated = true),
    "q_temperature_mix" -> QuerySpec((s, dir) =>
      ext.TextAnalysis.temperatureMixture(Tables.documents(s, dir), alpha = 0.7),
      Some("""WITH s AS (SELECT source, count(*) AS n_docs,
        |             sum(len(string_split(lower(text), ' ')))::BIGINT AS n_tokens
        |           FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_tokens)::DOUBLE AS total,
        |             sum(power(n_tokens::DOUBLE, 0.7)) AS z_temp FROM s)
        |SELECT source, n_docs, n_tokens,
        |       round(n_tokens / total, 6) AS p_nat,
        |       round(power(n_tokens::DOUBLE, 0.7) / z_temp, 6) AS p_temp,
        |       round((power(n_tokens::DOUBLE, 0.7) / z_temp)
        |             / (n_tokens / total), 6) AS boost
        |FROM s, t""".stripMargin)),
    "q_source_kl" -> QuerySpec((s, dir) =>
      ext.TextAnalysis.sourceDivergence(Tables.documents(s, dir), topN = 200),
      Some("""WITH toks AS (SELECT source, unnest(string_split(lower(text), ' ')) AS token
        |              FROM documents),
        |st AS (SELECT source, token, count(*) AS f FROM toks GROUP BY 1, 2),
        |v AS (SELECT token, sum(f)::BIGINT AS freq FROM st GROUP BY 1
        |      ORDER BY freq DESC, token LIMIT 200),
        |ct AS (SELECT sum(freq)::DOUBLE AS c_tot FROM v),
        |iv AS (SELECT st.source, st.token, st.f, v.freq FROM st JOIN v USING (token)),
        |stt AS (SELECT source, sum(f)::DOUBLE AS s_tot FROM iv GROUP BY 1)
        |SELECT source, count(*) AS n_terms,
        |       round(sum((f / s_tot) * ln((f / s_tot) / (freq / c_tot))), 6) AS kl
        |FROM iv JOIN stt USING (source), ct
        |GROUP BY source""".stripMargin)),
    "q_kfold" -> QuerySpec((s, dir) => ext.TextAnalysis
      .kfoldAssign(Tables.documents(s, dir), k = 5)
      .select("doc_id", "lang", "fold"),
      Some("""SELECT doc_id, lang,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold
        |FROM documents""".stripMargin)),
    "q_quality_gate" -> QuerySpec((s, dir) =>
      ext.TextAnalysis.qualityGatePerSource(Tables.documents(s, dir), keepFrac = 0.75),
      // UNROUNDED score on both sides: the raw doubles are bit-identical
      // (q_text_quality), a 6-dp round diverges on binary ties
      Some("""WITH sc AS (SELECT doc_id, source,
        |  least(len(string_split(lower(text), ' ')) / 100.0, 1.0) * 0.5
        |    + len(list_filter(string_split(lower(text), ' '),
        |          t -> list_contains(['the','a','and','of','to','in','is','it'], t))) * 1.0
        |      / len(string_split(lower(text), ' ')) * 0.3
        |    + least(length(regexp_replace(text, ' ', '', 'g')) * 1.0
        |            / len(string_split(lower(text), ' ')) / 10.0, 1.0) * 0.2 AS score
        |  FROM documents),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY source
        |                           ORDER BY score DESC, doc_id) AS qrank,
        |        count(*) OVER (PARTITION BY source) AS n_src
        |      FROM sc)
        |SELECT doc_id, source, score, qrank FROM r
        |WHERE qrank <= ceil(n_src * 0.75)""".stripMargin)),
    "q_epoch_shuffle" -> QuerySpec((s, dir) =>
      TotalOrder.epochShuffle(Tables.documents(s, dir), "doc_id", epochs = 3),
      Some("""WITH e AS (
        |  SELECT doc_id, unnest(range(0, 3)) AS epoch FROM documents
        |), keyed AS (
        |  SELECT doc_id, epoch,
        |         md5(concat('graft:', epoch, ':', doc_id)) AS k
        |  FROM e
        |)
        |SELECT doc_id, epoch,
        |  row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) - 1 AS position
        |FROM keyed""".stripMargin)),
    "q_bigram_logp" -> QuerySpec((s, dir) => ext.TextAnalysis.bigramLogProb(Tables.documents(s, dir)),
      Some("""WITH arr AS (SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents),
        |idx AS (SELECT doc_id, a, unnest(range(1, len(a))) AS i
        |        FROM arr WHERE len(a) >= 2),
        |bgn AS (SELECT doc_id, a[i] AS w1, a[i+1] AS w2 FROM idx),
        |bc AS (SELECT w1, w2, count(*) AS c FROM bgn GROUP BY 1, 2),
        |ctx AS (SELECT w1, count(*) AS cc FROM bgn GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS vs FROM
        |       (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(log10((c + 1.0) / (cc + 1.0 * vs))), 6) AS avg_logp
        |FROM bgn JOIN bc USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v
        |GROUP BY doc_id""".stripMargin)),
    "q_perplexity_bucket" -> QuerySpec((s, dir) =>
      // CCNet-style within-language head/middle/tail LM-quality split
      ext.TextAnalysis.perplexityBucket(Tables.documents(s, dir)),
      // reuses q_bigram_logp's model CTEs; ntile(3) per language over
      // (avg_logp DESC, doc_id) — the deterministic CCNet bucket cut
      Some("""WITH arr AS (SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents),
        |idx AS (SELECT doc_id, a, unnest(range(1, len(a))) AS i
        |        FROM arr WHERE len(a) >= 2),
        |bgn AS (SELECT doc_id, a[i] AS w1, a[i+1] AS w2 FROM idx),
        |bc AS (SELECT w1, w2, count(*) AS c FROM bgn GROUP BY 1, 2),
        |ctx AS (SELECT w1, count(*) AS cc FROM bgn GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS vs FROM
        |       (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)),
        |scored AS (
        |  SELECT doc_id, round(avg(log10((c + 1.0) / (cc + 1.0 * vs))), 6) AS avg_logp
        |  FROM bgn JOIN bc USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v
        |  GROUP BY doc_id),
        |tiled AS (
        |  SELECT s.doc_id, d.lang, s.avg_logp,
        |         ntile(3) OVER (PARTITION BY d.lang ORDER BY s.avg_logp DESC, s.doc_id) AS t
        |  FROM scored s JOIN documents d USING (doc_id))
        |SELECT doc_id, lang, avg_logp,
        |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM tiled""".stripMargin)),
    "q_bpe_learn" -> QuerySpec((s, dir) => // oracle-checked since r8: the fixed
      // 8-round merge loop unrolls into chained SQL CTEs (see
      // bpeLearnOracle); the greedy remerge semantics are additionally
      // pinned in BpeSpec on a hand-computed corpus
      ext.Bpe.learn(Tables.documents(s, dir), merges = 8),
      Some(bpeLearnOracle(8))),
    "q_bpe_encode" -> QuerySpec((s, dir) => { // oracle-checked since r8 via the
      // same unrolled merge chain as q_bpe_learn (bpeEncodeOracle);
      // OOV char-fallback additionally pinned in BpeSpec
      val docs = Tables.documents(s, dir)
      val (_, seg) = ext.Bpe.learnWithSegmentation(docs, merges = 8)
      ext.Bpe.encode(docs, seg).orderBy("doc_id")
    },
      Some(bpeEncodeOracle(8)), isolated = true),
    "q_quality_classifier" -> QuerySpec((s, dir) => // rows-only: L-BFGS isn't ANSI
      // SQL; separation + calibration asserted in QualityClassifierSpec.
      // Weak label: lang='en' — the CCNet trick of scoring against a
      // reference corpus, here the majority language slice
      ext.QualityClassifier.trainScore(Tables.documents(s, dir),
        col("lang") === "en"), None),
    "q_classifier_fixed" -> QuerySpec((s, dir) =>
      // X229 fixed-weight scoring — the classifier family's portable
      // twin: features → exact multiply-add chain → sigmoid → z-space
      // gate, every term DuckDB-recomposable (the fit itself stays
      // rows-only in q_quality_classifier)
      ext.QualityClassifier.scoreFixed(Tables.documents(s, dir)),
      // X229 fixed-weight classifier scoring: the q_text_quality feature
      // expressions feed the exact left-to-right multiply-add chain
      // scoreFixed emits (weights as CAST-division literals so both
      // engines hold identical doubles); prob behind a 6-dp round (one
      // libm exp), the gate decision in exact z-space
      Some("""WITH f AS (
        |  SELECT doc_id,
        |    len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
        |    length(regexp_replace(text, ' ', '', 'g')) * 1.0 / len(string_split(lower(text), ' ')) AS avg_token_len,
        |    len(list_filter(string_split(lower(text), ' '),
        |        t -> list_contains(['the','a','and','of','to','in','is','it'], t))) * 1.0
        |      / len(string_split(lower(text), ' ')) AS stopword_ratio,
        |    length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / greatest(length(text), 1) AS punct_ratio,
        |    least(len(string_split(lower(text), ' ')) / 100.0, 1.0) * 0.5
        |      + len(list_filter(string_split(lower(text), ' '),
        |            t -> list_contains(['the','a','and','of','to','in','is','it'], t))) * 1.0
        |        / len(string_split(lower(text), ' ')) * 0.3
        |      + least(length(regexp_replace(text, ' ', '', 'g')) * 1.0
        |              / len(string_split(lower(text), ' ')) / 10.0, 1.0) * 0.2 AS quality_score
        |  FROM documents
        |), z AS (
        |  SELECT doc_id,
        |    (((((CAST(0 AS DOUBLE)
        |      + (CAST(2 AS DOUBLE)/1000) * CAST(n_tokens AS DOUBLE))
        |      + (CAST(-5 AS DOUBLE)/10) * avg_token_len)
        |      + CAST(6 AS DOUBLE) * stopword_ratio)
        |      + CAST(-6 AS DOUBLE) * punct_ratio)
        |      + CAST(3 AS DOUBLE) * quality_score) AS z
        |  FROM f)
        |SELECT doc_id,
        |       round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-z)), 6) AS prob,
        |       z >= CAST(0 AS DOUBLE) AS pred
        |FROM z""".stripMargin)),
    "q_pca_power" -> QuerySpec((s, dir) =>
      // X233 power-iteration twin: 5 unrolled iterations over the
      // centered Gramian (ordered sums + sequential dots + sqrt
      // normalize) — deterministic sign, unrounded doubles; the SVD
      // fit stays rows-only in q_embed_pca
      Similarity.pcaPowerTop(Tables.embeddings(s, dir), iters = 5),
      // X233 power-iteration PCA twin: centered Gramian sums as
      // list_reduce left folds (NOT windowed cumsums — DuckDB's window
      // sum goes parallel/pairwise above ~2M input rows and drifts
      // ~1e-15 off the sequential order; list_reduce is a guaranteed
      // sequential fold, the q_fingerprint_rolling precedent), then 5
      // unrolled matrix-vector + normalize steps via sequential list
      // dots — loadings recompose UNROUNDED
      Some {
      val iterBlocks = (1 to 5).map { t =>
        s""", y$t AS (SELECT gr.i, list_dot_product(gr.r, x${t - 1}.x) AS y FROM gr, x${t - 1}),
           |x$t AS (SELECT list_transform(yl, v -> v / sqrt(list_dot_product(yl, yl))) AS x
           |        FROM (SELECT list(y ORDER BY i) AS yl FROM y$t) t$t)""".stripMargin
      }.mkString("\n")
      s"""WITH d AS (SELECT unnest(range(64)) AS i),
         |e AS (SELECT vec_id, d.i AS pos, (embedding::DOUBLE[])[d.i + 1] AS x
         |      FROM embeddings, d),
         |m AS (SELECT pos,
         |             list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b) / count(*) AS m
         |      FROM e GROUP BY pos),
         |c AS (SELECT e.vec_id, e.pos, e.x - m.m AS c FROM e JOIN m USING (pos)),
         |p AS (SELECT a.vec_id, a.pos AS i, b.pos AS j, a.c * b.c AS p
         |      FROM c a JOIN c b ON a.vec_id = b.vec_id),
         |g AS (SELECT i, j, list_reduce(list(p ORDER BY vec_id), (a, b) -> a + b) AS g
         |      FROM p GROUP BY i, j),
         |gr AS (SELECT i, list(g ORDER BY j) AS r FROM g GROUP BY i),
         |x0 AS (SELECT list(CAST(1 AS DOUBLE) ORDER BY i) AS x FROM d)
         |$iterBlocks
         |SELECT d.i AS pos, x5.x[d.i + 1] AS loading FROM x5, d""".stripMargin
    }, isolated = true),
    "q_embed_pca" -> QuerySpec((s, dir) => { // rows-only: eigenvector sign is
      // basis-ambiguous; orthonormality + variance ordering + exact
      // projection asserted in SimilaritySpec. Emitted as k rounded
      // scalar columns (not array<double>) so a generic row
      // canonicalizer can sort/hash the frame.
      val k = 8
      val p = ext.Similarity.pcaProject(Tables.embeddings(s, dir), k = k)
      p.select(col("vec_id") +: (1 to k).map(i =>
        round(element_at(col("proj"), i), 6).as(s"pc_$i")): _*)
    }, None),
    "q_embed_kmeans" -> QuerySpec((s, dir) => // rows-only: cluster ids arbitrary
      // across runs; cohesion + determinism asserted in SimilaritySpec
      ext.Similarity.kmeansClusters(Tables.embeddings(s, dir), k = 8), None),
    "q_semantic_dedup" -> QuerySpec((s, dir) => // rows-only: k-means fit not
      // ANSI-expressible; precision/keep-first pinned in SimilaritySpec
      ext.Similarity.semanticDedup(Tables.embeddings(s, dir), k = 8, threshold = 0.9), None),
    "q_semantic_dedup_bucketed" -> QuerySpec((s, dir) => // FULL oracle: the fixed
      // vec_id-mod assignment makes the keep-first cosine decision
      // ANSI-expressible — cross-engine pin of X158's survivor rule
      ext.Similarity.semanticDedupBucketed(Tables.embeddings(s, dir),
        buckets = 8, threshold = 0.4),
      Some("""WITH e AS (SELECT vec_id, (vec_id % 8)::INT AS cluster, embedding::DOUBLE[] AS v,
        |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |           FROM embeddings),
        |d AS (SELECT x.vec_id AS vec_id, min(y.vec_id) AS dup_of
        |      FROM e x JOIN e y ON x.cluster = y.cluster AND x.vec_id > y.vec_id
        |      WHERE list_dot_product(x.v, y.v) / (x.nm * y.nm) >= 0.4
        |      GROUP BY x.vec_id)
        |SELECT e.vec_id, e.cluster, d.dup_of IS NULL AS keep, d.dup_of
        |FROM e LEFT JOIN d USING (vec_id)""".stripMargin)),
    "q_incr_dedup" -> QuerySpec((s, dir) => {
      // incremental crawl cycle: newest 20% of ids arrive against the
      // accepted catalog (the other 80%); content key = md5(normalized
      // text). The max-id probe is a bounded scalar collect, the same
      // scalar-subquery shape as q_point_lookup.
      val docs = Tables.documents(s, dir)
      val maxId = maxDocId(docs)
      val thr = maxId * 4 / 5
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") >= thr),
        docs.filter(col("doc_id") < thr),
        md5(ext.TextAnalysis.normalizeText(col("text"))))
    },
      Some(incrDedupOracle)),
    "q_incr_dedup_bloom" -> QuerySpec((s, dir) => {
      // scale variant of q_incr_dedup: Bloom screen before the
      // anti-join. No false negatives ⇒ bit-identical result, so it
      // shares the exact form's oracle.
      val docs = Tables.documents(s, dir)
      val maxId = maxDocId(docs)
      val thr = maxId * 4 / 5
      Dedup.incrementalDedupBloom(
        docs.filter(col("doc_id") >= thr),
        docs.filter(col("doc_id") < thr),
        md5(ext.TextAnalysis.normalizeText(col("text"))))
    },
      // the Bloom screen has no false negatives, so the scale variant's
      // output is bit-identical to the exact form — same oracle
      Some(incrDedupOracle)),
    "q_group_stats" -> QuerySpec((s, dir) => Relational.groupStats(Tables.prices(s, dir)),
      Some("""SELECT event_type AS asset, count(*) AS n,
        |  round(avg(value), 6) AS mean_price,
        |  round(stddev_samp(value), 6) AS sd_price,
        |  round(corr(value, epoch(ts)/86400), 6) AS corr_drift,
        |  round(covar_samp(value, epoch(ts)/86400), 6) AS covar_drift
        |FROM events GROUP BY 1""".stripMargin)),
    "q_lexical_stats" -> QuerySpec((s, dir) => TextAnalysis.lexicalStats(Tables.documentsWide(s, dir)),
      Some("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
        |), tf AS (
        |  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
        |  round(log2(CAST(sum(c) AS DOUBLE)) - sum(c * log2(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE), 6) AS entropy
        |FROM tf GROUP BY doc_id""".stripMargin)),
    "q_zipf_fit" -> QuerySpec((s, dir) => TextAnalysis.zipfFit(Tables.documents(s, dir)),
      Some("""WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |freq AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1 ORDER BY freq DESC, token LIMIT 1000),
        |ranked AS (SELECT token, freq, row_number() OVER (ORDER BY freq DESC, token) AS rank FROM freq)
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |  round(regr_slope(ln(freq), ln(rank)), 6) AS slope,
        |  round(regr_intercept(ln(freq), ln(rank)), 6) AS intercept,
        |  round(regr_r2(ln(freq), ln(rank)), 6) AS r2
        |FROM ranked""".stripMargin)),
    "q_sessionize" -> QuerySpec((s, dir) => Relational.sessionize(Tables.events(s, dir), gapSec = 1800L),
      Some("""WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY 1, 2""".stripMargin)),
    "q_asof_join" -> QuerySpec((s, dir) => {
      val e = Tables.events(s, dir)
      Relational.asofJoin(
        e.filter(col("event_type") === "click").select("event_id", "ts", "user_id", "value"),
        e.filter(col("event_type") === "purchase").select("user_id", "ts", "value"),
        key = "user_id", tsCol = "ts", valueCol = "value")
    },
      Some("""WITH r AS (
        |  SELECT user_id, ts, max(value) AS rv FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |), l AS (
        |  SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'click')
        |SELECT l.event_id, l.ts, l.user_id, l.value, r.rv AS asof_value, r.ts AS asof_ts
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),
    "q_join_salted" -> QuerySpec((s, dir) => Relational.saltedJoin(
      Tables.tableWide(s, dir, "orders"),
      Tables.table(s, dir, "customer").select(col("c_custkey").as("o_custkey"), col("c_name")),
      key = "o_custkey", buckets = 8)
      .select("o_orderkey", "o_custkey", "c_name", "o_totalprice"),
      Some("""SELECT o_orderkey, o_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)),
    "q_pivot" -> QuerySpec((s, dir) => Relational.pivotUserValues(Tables.events(s, dir),
      Seq("click", "error", "purchase", "signup", "view")),
      Some("""SELECT user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (event_type = 'click') AS DOUBLE) AS click,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (event_type = 'error') AS DOUBLE) AS error,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (event_type = 'purchase') AS DOUBLE) AS purchase,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (event_type = 'signup') AS DOUBLE) AS signup,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (event_type = 'view') AS DOUBLE) AS view
        |FROM events GROUP BY 1""".stripMargin)),
    "q_unpivot" -> QuerySpec((s, dir) => {
      // round-trip: melt the pivoted wide table back to long — equals
      // the direct (user, type) grouped sum (null cells drop out)
      val types = Seq("click", "error", "purchase", "signup", "view")
      Relational.unpivotUserValues(
        Relational.pivotUserValues(Tables.events(s, dir), types), types)
    },
      Some("""SELECT user_id, event_type,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin)),
    "q_cube" -> QuerySpec((s, dir) => Relational.cubeCounts(Tables.events(s, dir)),
      Some("""SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS n
        |FROM events GROUP BY CUBE (event_type, CAST(ts AS DATE))""".stripMargin)),
    "q_rank_funcs" -> QuerySpec((s, dir) => Relational.rankFamily(Tables.lineitem(s, dir)),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |  percent_rank() OVER w AS prnk, cume_dist() OVER w AS cdist
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)""".stripMargin)),
    "q_fuzzy_join" -> QuerySpec((s, dir) => ops.FuzzyJoin.editDistancePairs(
      Tables.tableWide(s, dir, "customer").select(col("c_custkey"), col("c_name")),
      idCol = "c_custkey", strCol = "c_name", k = 1)
      .select(col("a"), col("b"), col("dist")),
      Some("""WITH c AS (SELECT c_custkey, c_name FROM customer)
        |SELECT x.c_custkey AS a, y.c_custkey AS b,
        |       CAST(levenshtein(x.c_name, y.c_name) AS BIGINT) AS dist
        |FROM c x JOIN c y ON x.c_custkey < y.c_custkey
        |  AND abs(len(x.c_name) - len(y.c_name)) <= 1
        |  AND levenshtein(x.c_name, y.c_name) <= 1""".stripMargin)),
    "q_grouping_sets" -> QuerySpec((s, dir) => Relational.groupingSetCounts(Tables.events(s, dir)),
      Some("""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events)
        |SELECT event_type, d, count(*) AS n,
        |       CAST(2*GROUPING(event_type) + GROUPING(d) AS BIGINT) AS gid
        |FROM e GROUP BY GROUPING SETS ((event_type, d), (event_type), ())""".stripMargin)),
    "q_set_intersect" -> QuerySpec((s, dir) => Relational.usersIntersect(Tables.events(s, dir), "click", "purchase"),
      Some("""SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin)),
    "q_ma7_calendar" -> QuerySpec((s, dir) => Relational.maCalendar(dailyOhlc(s, dir), 7),
      Some(dailyCte +
      """ SELECT date, asset, close,
        |   avg(close) OVER (PARTITION BY asset ORDER BY date
        |                    RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) AS ma7_cal
        | FROM daily""".stripMargin)),
    "q_hopping_window" -> QuerySpec((s, dir) => Relational.hoppingCounts(Tables.events(s, dir)),
      Some("""WITH e AS (SELECT event_type,
        |             (floor(epoch(ts))::BIGINT // 43200) * 43200 AS b FROM events),
        |w AS (SELECT event_type, unnest([b, b - 43200]) AS ws_epoch FROM e)
        |SELECT make_timestamp(ws_epoch * 1000000) AS ws, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2""".stripMargin)),
    "q_range_join" -> QuerySpec((s, dir) => {
      // point-in-interval join, bucketed to an equi-join (IntervalJoin):
      // 200 deterministic 97-minute windows laid every 211 minutes over
      // the event span, events assigned by inclusive BETWEEN. The 1-hour
      // bucket keeps interval replication at 2-3 rows each; the exploded
      // interval side is broadcast-sized here, shuffled-hash at 100 TB.
      val e = Tables.events(s, dir).select(unix_timestamp(col("ts")).as("p"), col("user_id"))
      val iv = s.range(200).select(col("id").as("interval_id"),
        (lit(1704067200L) + col("id") * (211L * 60)).as("start_s"))
        .withColumn("end_s", col("start_s") + (97L * 60))
      ops.IntervalJoin.pointInInterval(e, "p", iv, "start_s", "end_s", bucket = 3600L)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
    },
      Some("""WITH iv AS (SELECT i AS interval_id,
        |              1704067200 + i*211*60 AS start_s,
        |              1704067200 + i*211*60 + 97*60 AS end_s
        |            FROM range(200) t(i)),
        |e AS (SELECT floor(epoch(ts))::BIGINT AS p, user_id FROM events)
        |SELECT interval_id, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users
        |FROM e JOIN iv ON p BETWEEN start_s AND end_s
        |GROUP BY 1""".stripMargin)),
    "q_array_ops" -> QuerySpec((s, dir) => Tables.embeddings(s, dir).select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      element_at(col("embedding"), 1).cast("double").as("first"),
      array_max(col("embedding")).cast("double").as("vmax"),
      array_min(col("embedding")).cast("double").as("vmin"),
      element_at(reverse(col("embedding")), 1).cast("double").as("last")),
      Some("""SELECT vec_id, len(embedding)::BIGINT AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first,
        |  CAST(list_max(embedding) AS DOUBLE) AS vmax,
        |  CAST(list_min(embedding) AS DOUBLE) AS vmin,
        |  CAST(list_reverse(embedding)[1] AS DOUBLE) AS last
        |FROM embeddings""".stripMargin)),
    "q_string_ops" -> QuerySpec((s, dir) => Tables.documents(s, dir).select(
      col("doc_id"),
      upper(substring(col("text"), 1, 10)).as("head_upper"),
      length(col("text")).cast("long").as("n_chars_computed"),
      (size(split(col("text"), " ")) - 1).cast("long").as("n_spaces"),
      regexp_replace(col("text"), "[aeiou]", "").as("no_vowels"),
      instr(col("text"), "the").cast("long").as("first_the")),
      Some("""SELECT doc_id,
        |  upper(substr(text, 1, 10)) AS head_upper,
        |  length(text)::BIGINT AS n_chars_computed,
        |  (len(string_split(text, ' ')) - 1)::BIGINT AS n_spaces,
        |  regexp_replace(text, '[aeiou]', '', 'g') AS no_vowels,
        |  CASE WHEN strpos(text, 'the') IS NULL THEN 0 ELSE strpos(text, 'the') END::BIGINT AS first_the
        |FROM documents""".stripMargin)),
    "q_ann_ivf" -> QuerySpec((s, dir) => { // approximate: rows-only check
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopK(e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 10)
    }, None),
    "q_ann_ivf_bucketed" -> QuerySpec((s, dir) => { // FULL oracle: fixed mod-nlist
      // cells + deterministic probe set make the IVF sweep/rerank
      // decision ANSI-expressible — cross-engine pin of the ANN
      // family's probe/rerank logic (only the k-means fit stays
      // rows-only)
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopKBucketed(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 10)
    },
      // X220 bucketed IVF: fixed cells + deterministic probes → the
      // probe/rerank/rank decision recomposes exactly (same DOUBLE[]
      // dot-product contract as q_topk_cosine)
      Some("""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |           FROM embeddings),
        |c AS (SELECT vec_id AS neighbor_id, v AS cv, (vec_id % 16)::INT AS cell
        |      FROM n WHERE vec_id >= 10),
        |p AS (SELECT q.vec_id AS query_id, q.v AS qv, q.nm AS qn,
        |             ((q.vec_id + i.i) % 16)::INT AS cell
        |      FROM n q, (SELECT unnest(range(0, 4)) AS i) i WHERE q.vec_id < 10),
        |scored AS (
        |  SELECT p.query_id, c.neighbor_id,
        |         list_dot_product(p.qv, c.cv)
        |           / (p.qn * sqrt(list_dot_product(c.cv, c.cv))) AS sim
        |  FROM p JOIN c USING (cell)),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id) AS rank
        |           FROM scored)
        |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 10""".stripMargin)),
    "q_embed_dedup_indexed" -> QuerySpec((s, dir) => {
      // X249 incremental near-dup screen against the persisted index:
      // the query slice (the "increment") screens against the indexed
      // corpus through the pruned probe read — best indexed neighbor
      // at sim ≥ 0.8 flags (dup_of, dup_sim), novel rows carry NULLs.
      // Bucketed build → every stage ANSI-recomposable.
      val e = Tables.embeddings(s, dir)
      val root = java.nio.file.Files.createTempDirectory("graft_qvnd").toString + "/t"
      ext.VectorIndex.buildIvfIndex(e.filter(col("vec_id") >= 10), root,
        nlist = 16, bucketed = true)
      // dup_sim stays raw: one sequential-dot cosine per pair, the
      // q_ann_ivf_bucketed precedent (raw doubles hash-match)
      ext.VectorIndex.nearDupAgainstIndex(e.filter(col("vec_id") < 10), root,
        threshold = 0.8, nprobe = 4)
        .select("vec_id", "dup_of", "dup_sim")
    },
      // X249 near-dup screen against the persisted index: best probed
      // neighbor (rank-1 by sim desc, id) at sim >= 0.8 flags; the
      // increment left-joins the flags so novel rows ride with NULLs
      Some("""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |           FROM embeddings),
        |c AS (SELECT vec_id AS neighbor_id, v AS cv, (vec_id % 16)::INT AS cell
        |      FROM n WHERE vec_id >= 10),
        |p AS (SELECT q.vec_id AS query_id, q.v AS qv, q.nm AS qn,
        |             ((q.vec_id + i.i) % 16)::INT AS cell
        |      FROM n q, (SELECT unnest(range(0, 4)) AS i) i WHERE q.vec_id < 10),
        |scored AS (
        |  SELECT p.query_id, c.neighbor_id,
        |         list_dot_product(p.qv, c.cv)
        |           / (p.qn * sqrt(list_dot_product(c.cv, c.cv))) AS sim
        |  FROM p JOIN c USING (cell)),
        |best AS (SELECT query_id, neighbor_id, sim,
        |                row_number() OVER (PARTITION BY query_id
        |                  ORDER BY sim DESC, neighbor_id) AS rn
        |         FROM scored),
        |flag AS (SELECT query_id AS vec_id, neighbor_id AS dup_of, sim AS dup_sim
        |         FROM best WHERE rn = 1 AND sim >= 0.8)
        |SELECT q.vec_id, f.dup_of, f.dup_sim
        |FROM (SELECT vec_id FROM n WHERE vec_id < 10) q
        |LEFT JOIN flag f ON q.vec_id = f.vec_id""".stripMargin)),
    "q_ann_ivf_indexed" -> QuerySpec((s, dir) => {
      // X247 persisted IVF index, probed THROUGH storage: bucketed
      // build (the X220 portable rule) into a range-clustered snapshot
      // table + centroids side table, then ivfTopKIndexed's pruned
      // read → probe join → exact-cosine rerank → top-k. Same oracle
      // recomposition as q_ann_ivf_bucketed — what this key adds is
      // the round-trip THROUGH the persisted index (parquet float
      // round-trip exact, cell layout, manifest-pruned probe read).
      val e = Tables.embeddings(s, dir)
      val root = java.nio.file.Files.createTempDirectory("graft_qvidx").toString + "/t"
      ext.VectorIndex.buildIvfIndex(e.filter(col("vec_id") >= 10), root,
        nlist = 16, bucketed = true)
      ext.VectorIndex.ivfTopKIndexed(e.filter(col("vec_id") < 10), root,
        k = 10, nprobe = 4)
    },
      // X247 persisted-index probe: same recomposition — the bucketed
      // rule is deterministic whether computed inline or read back from
      // the cell-clustered index table
      Some("""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |           FROM embeddings),
        |c AS (SELECT vec_id AS neighbor_id, v AS cv, (vec_id % 16)::INT AS cell
        |      FROM n WHERE vec_id >= 10),
        |p AS (SELECT q.vec_id AS query_id, q.v AS qv, q.nm AS qn,
        |             ((q.vec_id + i.i) % 16)::INT AS cell
        |      FROM n q, (SELECT unnest(range(0, 4)) AS i) i WHERE q.vec_id < 10),
        |scored AS (
        |  SELECT p.query_id, c.neighbor_id,
        |         list_dot_product(p.qv, c.cv)
        |           / (p.qn * sqrt(list_dot_product(c.cv, c.cv))) AS sim
        |  FROM p JOIN c USING (cell)),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id) AS rank
        |           FROM scored)
        |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 10""".stripMargin), isolated = true),
    "q_ann_filtered" -> QuerySpec((s, dir) => {
      // X261 FILTERED vector search through the persisted index:
      // attribute columns (here `label`) persist WITH the index rows,
      // so the predicate evaluates inside the pruned probe read — no
      // corpus join at query time — and rank counts matching rows
      // only. Same X220 bucketed recomposition as q_ann_ivf_indexed
      // with the attr predicate on the candidate side.
      val e = Tables.embeddings(s, dir)
      val root = java.nio.file.Files.createTempDirectory("graft_qvflt").toString + "/t"
      ext.VectorIndex.buildIvfIndex(e.filter(col("vec_id") >= 10), root,
        nlist = 16, bucketed = true)
      ext.VectorIndex.ivfTopKIndexed(
        e.filter(col("vec_id") < 10).select("vec_id", "embedding"), root,
        k = 10, nprobe = 4, where = Some(pmod(col("label"), lit(2)) === 0))
    },
      // X261 filtered probe: the attr predicate lands on the CANDIDATE
      // side (the index rows) before ranking — queries rank among
      // matching rows only, never fall back to unfiltered neighbors
      Some("""WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
        |           FROM embeddings),
        |c AS (SELECT vec_id AS neighbor_id, v AS cv, (vec_id % 16)::INT AS cell
        |      FROM n WHERE vec_id >= 10 AND label % 2 = 0),
        |p AS (SELECT q.vec_id AS query_id, q.v AS qv, q.nm AS qn,
        |             ((q.vec_id + i.i) % 16)::INT AS cell
        |      FROM n q, (SELECT unnest(range(0, 4)) AS i) i WHERE q.vec_id < 10),
        |scored AS (
        |  SELECT p.query_id, c.neighbor_id,
        |         list_dot_product(p.qv, c.cv)
        |           / (p.qn * sqrt(list_dot_product(c.cv, c.cv))) AS sim
        |  FROM p JOIN c USING (cell)),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id) AS rank
        |           FROM scored)
        |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 10""".stripMargin), isolated = true),
    // ---- streaming (bounded replay through the PRODUCTION sink shape:
    // update-mode micro-batches upserted into a date-partitioned
    // warehouse — open-window state lives on executors and each batch
    // rewrites only the date partitions it touched; no complete-mode
    // memory sink holding every window on the driver) ----
    "q_stream_sessions" -> QuerySpec((s, dir) =>
      graft.streaming.SessionWindows.run(
        s, s"$dir/events.parquet", s"stream_sessions_${math.abs(dir.hashCode)}"),
      // session_window semantics: break at delta >= gap (see
      // StreamingSessions scaladoc) — one tick stricter than
      // q_sessionize's batch `>` break
      Some("""WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin)),
    "q_stream_ohlc" -> QuerySpec((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_stream_ohlc_" +
        s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
      graft.streaming.StreamingOhlc.runIncremental(
        s, s"$dir/events.parquet", wh, s"stream_ohlc_${math.abs(dir.hashCode)}")
        .select(col("date").cast("date").as("date"), col("asset"),
          col("open"), col("high"), col("low"), col("close"))
    },
      Some(s"$dailyCte SELECT * FROM daily"), isolated = true))

  /** The driver contract's two maps, derived from `specs`. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = specs.map { case (k, q) => k -> q.plan }
  lazy val oracleSql: Map[String, String] = specs.collect { case (k, QuerySpec(_, Some(sql), _)) => k -> sql }

  /** q_bpe_learn's oracle, generated: the merge loop is a FIXED
    * `merges`-round iteration, so it unrolls into chained CTEs — one
    * (argmax pair, guarded rule, re-segmented vocab) triple per round
    * (the SURVEY's composed-mega-oracle trick, applied to a loop).
    * The greedy left-to-right single-pass remerge is the only subtle
    * part in SQL: matches of the winning pair (l,r) can only overlap
    * in runs where l = r, so "merge every match the greedy scan
    * takes" ≡ gaps-and-islands over match positions, keeping
    * alternate members of each island of consecutive matches.
    * Early-stop (minFreq) falls out for free: a round whose best pair
    * is sub-threshold emits no rule row, and its pass-through LEFT
    * JOIN leaves the segmentation untouched, so every later round
    * finds the same sub-threshold argmax and also emits nothing.
    * Verified bit-exact vs the engine at sf0.001/0.01/0.1.
    */
  private def bpeLearnOracle(merges: Int, minFreq: Long = 2L): String = {
    val union = (1 to merges)
      .map(k => s"""SELECT $k AS step, l AS "left", r AS "right", c AS freq FROM r$k""")
      .mkString(" UNION ALL ")
    s"""${bpeChain(merges, minFreq)}
$union ORDER BY step"""
  }

  /** q_bpe_encode's oracle: the same unrolled merge chain, then the
    * final segmentation (seg`merges`) joins back to per-doc term
    * frequencies — n_pieces = Σ tf · |pieces(word)|, with the
    * char-count fallback for any word outside the segmentation
    * vocabulary (none here, since the vocab comes from the same
    * corpus, but the COALESCE keeps the oracle honest to encode()'s
    * OOV contract). Verified bit-exact at sf0.001/0.01/0.1.
    */
  private def bpeEncodeOracle(merges: Int): String =
    s"""${bpeChain(merges)},
enc AS (
  SELECT doc_id, word, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY 1, 2)
SELECT doc_id,
       sum(tf)::BIGINT AS n_words,
       sum(tf * coalesce(len(sym), len(word)))::BIGINT AS n_pieces,
       round(sum(tf * coalesce(len(sym), len(word)))::DOUBLE / sum(tf)::DOUBLE, 6) AS fertility
FROM enc LEFT JOIN seg$merges USING (word)
GROUP BY doc_id ORDER BY doc_id"""

  /** The words → seg0 → … → seg`merges` CTE chain shared by the two
    * BPE oracles: one (argmax pair, guarded rule, re-segmentation)
    * triple per round. */
  private def bpeChain(merges: Int, minFreq: Long = 2L): String = {
    def round(k: Int): String = {
      val prev = s"seg${k - 1}"
      s"""
pr$k AS (
  SELECT p.l AS l, p.r AS r, sum(freq)::BIGINT AS c
  FROM (SELECT freq, unnest([{'l': sym[i], 'r': sym[i+1]} for i in range(1, len(sym))]) AS p
        FROM $prev WHERE len(sym) >= 2)
  GROUP BY 1, 2 ORDER BY c DESC, l, r LIMIT 1),
r$k AS (SELECT * FROM pr$k WHERE c >= $minFreq),
seg$k AS (
  SELECT word, any_value(freq) AS freq,
         list(emit ORDER BY i) FILTER (WHERE emit IS NOT NULL) AS sym
  FROM (
    SELECT word, freq, i,
           CASE WHEN taken THEN s || lead(s) OVER (PARTITION BY word ORDER BY i)
                WHEN coalesce(lag(taken) OVER (PARTITION BY word ORDER BY i), false) THEN NULL
                ELSE s END AS emit
    FROM (
      SELECT word, freq, i, s,
             coalesce(is_match AND (i - min(i) OVER (PARTITION BY word, island)) % 2 = 0, false) AS taken
      FROM (
        SELECT word, freq, i, s, is_match,
               CASE WHEN is_match THEN i - (row_number() OVER (PARTITION BY word, is_match ORDER BY i)) END AS island
        FROM (
          SELECT e.word, e.freq, e.i, e.s,
                 coalesce(e.s = rule.l AND lead(e.s) OVER (PARTITION BY e.word ORDER BY e.i) = rule.r, false) AS is_match
          FROM (SELECT word, freq, unnest(sym) AS s, unnest(range(1, len(sym)+1)) AS i FROM $prev) e
          LEFT JOIN r$k rule ON TRUE)))
  ) GROUP BY word)"""
    }
    s"""WITH words AS (
  SELECT token AS word, count(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE token <> '' GROUP BY 1),
seg0 AS (SELECT word, freq, [word[i] for i in range(1, len(word)+1)] AS sym FROM words),${(1 to merges).map(round).mkString(",")}"""
  }

  /** X235's full PQ recomposition — md5 ±1 codebooks, argmax-dot
    * encode, decode-as-flatten, ADC as one list_dot_product with the
    * decoded vector, shortlist 50, exact rerank, top 10. Shared
    * VERBATIM by q_ann_pq_md5 (inline portable twin) and
    * q_ann_pq_indexed (the same arithmetic probed through the
    * persisted codes table — r16): the two keys must stay
    * bit-identical to each other by construction, so they must share
    * one oracle. */
  private val PqMd5OracleSql: String =
    """WITH cw AS (
      |  SELECT j.j, cs.c,
      |         list(CASE WHEN ('0x' || substr(md5('pq:' || j.j || ':' || cs.c || ':' || sub.i), 1, 1))::INT % 2 = 0
      |                   THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END ORDER BY sub.i) AS w
      |  FROM (SELECT unnest(range(8)) AS j) j,
      |       (SELECT unnest(range(16)) AS c) cs,
      |       (SELECT unnest(range(8)) AS i) sub
      |  GROUP BY j.j, cs.c
      |), n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
      |  FROM embeddings
      |), enc AS (
      |  SELECT vec_id, j, w FROM (
      |    SELECT n.vec_id, cw.j, cw.w,
      |           row_number() OVER (PARTITION BY n.vec_id, cw.j
      |             ORDER BY (CAST(0 AS DOUBLE)
      |               - list_dot_product(list_transform(range(8), x -> n.v[cw.j*8 + x + 1]), cw.w)),
      |               cw.c) AS rn
      |    FROM n, cw) t WHERE rn = 1
      |), dec AS (
      |  SELECT vec_id, flatten(list(w ORDER BY j)) AS dec FROM enc GROUP BY vec_id
      |), cand AS (
      |  SELECT q.vec_id AS query_id, q.v AS qv, q.nm AS qn,
      |         c.vec_id AS neighbor_id, c.v AS cv, c.nm AS cn,
      |         list_dot_product(q.v, d.dec) AS adc
      |  FROM n q, (SELECT unnest(range(4)) AS i) pi,
      |       n c JOIN dec d ON d.vec_id = c.vec_id
      |  WHERE q.vec_id < 10 AND c.vec_id >= 10
      |    AND (c.vec_id % 16) = ((q.vec_id + pi.i) % 16)
      |), short AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc DESC, neighbor_id) AS srn
      |  FROM cand
      |), ranked AS (
      |  SELECT query_id, neighbor_id, adc,
      |         list_dot_product(qv, cv) / (qn * cn) AS sim
      |  FROM short WHERE srn <= 50
      |), final AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM ranked)
      |SELECT query_id, rank, neighbor_id, sim, adc FROM final WHERE rank <= 10""".stripMargin
}
