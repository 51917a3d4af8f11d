package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming form of the daily OHLC pipeline (SURVEY.md
  * §2.7): the reference simulates a stream with Airflow daily batches
  * + catchup; the Spark-native form is `readStream` → 1-day tumbling
  * window per asset → min_by/max_by OHLC.
  *
  * Watermarking: 1 day of allowed lateness mirrors the reference's
  * tolerance for late/replayed data (its unique index silently drops
  * replays). In production the sink is `foreachBatch` MERGE into
  * daily_metrics (keyed upsert, Warehouse.upsert); indicators stay a
  * batch pass over the small aggregate table after each micro-batch,
  * exactly as the reference rewrites the whole table per run —
  * 30-row trailing windows over a total order aren't incrementalizable.
  */
object StreamingOhlc {

  /** events.parquet raw schema — `ts` declared as whatever the file
    * surfaces in batch (nanos-as-long for legacy TIMESTAMP(NANOS)
    * testdata, a µs timestamp for regenerated testdata; see
    * Tables.rawTsType / Tables.tsToTimestamp).
    */
  private def eventsRawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** An ISOLATED session (same SparkContext, own conf) with streaming
    * configs tuned for a bounded replay of a SMALL-cardinality keyed
    * aggregate:
    *
    *  - shuffle partitions sized to the state's key cardinality
    *    (assets × days here, ~150 keys — 32 state stores would each
    *    pay per-batch open/commit I/O to hold a handful of rows; at
    *    scale this number is sized to keys/executor like any shuffle);
    *  - no-data micro-batches off: they exist to eagerly evict state
    *    past the watermark (append-mode finalization); an update-mode
    *    upsert sink gets nothing from them and pays a full state-store
    *    round per trigger. Eviction still happens on the next data
    *    batch in a long-running query.
    *
    * newSession (not set-then-restore on the caller's session, the
    * round-3 form): a conf mutation on a shared session silently
    * applies to every query running concurrently on it — the same
    * cross-query contamination class the bench harness had to fix.
    */
  private def replaySession(spark: SparkSession, statePartitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s
  }

  /** readStream → watermark → 1-day tumbling OHLC, shared by both
    * sinks below.
    */
  private def ohlcStream(spark: SparkSession, eventsPath: String, queryName: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.streaming.schemaInference", "false")
    // the file streaming source monitors a DIRECTORY; when handed a
    // single parquet file, stage a dir with a symlink to it
    val src = new java.io.File(eventsPath)
    val streamDir =
      if (src.isFile) {
        val d = java.nio.file.Files.createTempDirectory(s"graft_stream_$queryName")
        java.nio.file.Files.createSymbolicLink(d.resolve(src.getName), src.toPath)
        d.toString
      } else eventsPath
    val tsType = graft.Tables.rawTsType(spark, eventsPath)
    val stream = spark.readStream
      .schema(eventsRawSchema(tsType))
      .parquet(streamDir)
      .select(graft.Tables.tsToTimestamp(spark, tsType).as("ts_utc"),
        col("event_type").as("asset"), col("value").as("price"))
      .withWatermark("ts_utc", "1 day")
    stream
      .groupBy(window(col("ts_utc"), "1 day").as("w"), col("asset"))
      .agg(
        min_by(col("price"), col("ts_utc")).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), col("ts_utc")).as("close"))
      .select(col("w.start").cast("date").as("date"), col("asset"),
        col("open"), col("high"), col("low"), col("close"))
  }

  /** Bounded replay into an in-memory table: complete output mode so
    * the memory sink holds every window.
    */
  def run(spark: SparkSession, eventsPath: String, queryName: String,
          statePartitions: Int = 8): DataFrame = {
    val s = replaySession(spark, statePartitions)
    val q = ohlcStream(s, eventsPath, queryName).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    s.table(queryName)
  }

  /** Production sink shape: update-mode micro-batches merged into a
    * date-partitioned parquet warehouse via keyed upsert + dynamic
    * partition overwrite — each batch rewrites ONLY the date
    * partitions it touches (late/replayed data restates its own day),
    * the streaming analog of the reference's per-day ON CONFLICT
    * upsert (dag_btc_daily.py:219-230).
    */
  def runIncremental(spark: SparkSession, eventsPath: String,
                     warehouseDir: String, queryName: String,
                     statePartitions: Int = 8): DataFrame = {
    import graft.store.Warehouse
    val s = replaySession(spark, statePartitions)
    val q = ohlcStream(s, eventsPath, queryName).writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.withColumn("date", col("date").cast("string"))
          val exists = new java.io.File(warehouseDir).exists()
          val merged = if (exists) {
            // the touched dates are bounded (one per restated day) —
            // collect them and read with a static IN on the partition
            // column: guaranteed PartitionFilters, unlike a semi-join
            // whose partition pruning is best-effort DPP
            val dates = b.select("date").distinct().collect().map(_.getString(0)).toIndexedSeq
            val existing = Warehouse.readPartitions(s, warehouseDir, "date", dates)
              .withColumn("date", col("date").cast("string"))
            Warehouse.upsert(existing, b, keys = Seq("date", "asset"),
              updateCols = Seq("open", "high", "low", "close"))
          } else b
          Warehouse.overwritePartitions(merged, warehouseDir, Seq("date"))
        }
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    graft.store.SchemaCache.read(spark, warehouseDir)
  }
}
