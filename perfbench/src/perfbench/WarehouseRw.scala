package perfbench

import graft.store.Warehouse
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** One lineitem-shaped row. Quantities are whole numbers and prices
  * carry two decimals, so the model's checksums are exact.
  */
final case class Line(orderkey: Long, linenumber: Int, partkey: Long, suppkey: Long,
                      quantity: Double, price: Double, discount: Double, tax: Double,
                      returnflag: String, linestatus: String, shipdate: java.sql.Timestamp) {
  def toRow: Row = Row(orderkey, partkey, suppkey, linenumber, quantity, price, discount, tax,
    returnflag, linestatus, shipdate)
  def fields: Seq[Any] = toRow.toSeq
}

/** Seeded lineitem generator: every order's lines are a pure function
  * of (seed, orderkey), so the model regenerates any base row on demand.
  */
final case class LineGen(seed: Long) {
  def lines(o: Long, salt: Long = 0L): Seq[Line] = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + o * 1000003L + salt)
    val n = 1 + r.nextInt(7)
    (1 to n).map { ln =>
      val q = (1 + r.nextInt(50)).toDouble
      Line(o, ln, r.nextInt(20000).toLong, r.nextInt(1000).toLong, q,
        math.round(q * (900 + r.nextInt(100000) / 100.0) * 100) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        "RAN".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
        new java.sql.Timestamp((788918400L + r.nextInt(2500) * 86400L) * 1000L))
    }
  }
}

/** Reads beside writes on one snapshot table (ROADMAP item 2's
  * snapshot / manifest / deletion-vector path). The op stream is a
  * fixed cycle of 7 reads and 3 writes; the seed picks keys and values.
  * Reads: bloom-indexed point lookups (Zipf-skewed keys, a fifth aimed
  * at recently written keys) and key-range scans. Writes rotate through
  * append, dv update, dv delete and upsert merge; every 12th write is
  * followed by an index refresh and a maintenance tick.
  */
final class WarehouseRw(spark: SparkSession, seed: Long, trace: Trace) extends Workload {
  private val Orders = 25000L
  private val Files = 16
  private val gen = LineGen(seed)
  private val schema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))
  private val policy = Warehouse.MaintenancePolicy(targetFileBytes = 512L << 10)

  private val rnd = new java.util.Random(seed)
  private var path = ""
  // the model: orders touched by a write, by orderkey; untouched orders are gen.lines(o)
  private val touched = mutable.Map.empty[Long, mutable.Map[Int, Line]]
  private val recent = mutable.Queue.empty[Long]
  private var nextOrder = Orders
  private var slot = 0
  private var writes = 0
  private val zipf = new Zipf(Orders.toInt, 1.1)

  private def modelLines(o: Long): Seq[Line] =
    touched.get(o).map(_.values.toSeq)
      .getOrElse(if (o < Orders) gen.lines(o) else Nil).sortBy(_.linenumber)

  private def touch(o: Long): mutable.Map[Int, Line] =
    touched.getOrElseUpdate(o, mutable.Map(modelLines(o).map(l => l.linenumber -> l): _*))

  private def df(rows: Seq[Line]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(_.toRow), 1), schema)

  def setup(dir: String): Unit = {
    path = s"$dir/lineitem"
    val g = gen
    val base = spark.createDataFrame(
      spark.sparkContext.range(0L, Orders, numSlices = Files).flatMap(o => g.lines(o).map(_.toRow)),
      schema)
    Warehouse.writeSnapshot(base, path)
    Warehouse.indexSnapshot(spark, path, "l_orderkey")
    // warm-up: each op kind once, untimed, checked against the model
    // (each op is built right before it runs: building a write updates the model)
    (Seq(() => pointRead(), () => rangeRead()) ++ Seq.fill(4)(() => write())).foreach { mk =>
      val op = mk()
      op.check(op.run())
    }
  }

  private def readKey(): Long =
    if (recent.nonEmpty && rnd.nextInt(5) == 0) recent(rnd.nextInt(recent.size))
    else (zipf.sample(rnd) * 7919L) % Orders

  private def remember(keys: Seq[Long]): Unit = {
    keys.foreach(recent.enqueue(_))
    while (recent.size > 64) recent.dequeue()
  }

  private def rowsMatch(got: Array[Row], want: Seq[Line], what: String): Unit = {
    val g = got.map(_.toSeq).sortBy(r => (r(0).asInstanceOf[Long], r(3).asInstanceOf[Int])).toSeq
    val w = want.map(_.fields).sortBy(r => (r(0).asInstanceOf[Long], r(3).asInstanceOf[Int]))
    require(g == w, s"$what: got ${g.size} rows, model has ${w.size}" +
      g.zip(w).find { case (a, b) => a != b }.map { case (a, b) => s"; first diff $a vs $b" }.getOrElse(""))
  }

  def cycleDone: Boolean = slot % 10 == 0

  def next(): Op = {
    val s = slot
    slot += 1
    if (s % 10 == 3 || s % 10 == 7) rangeRead()
    else if (s % 10 == 4 || s % 10 == 8 || s % 10 == 9) write()
    else pointRead()
  }

  private def pointRead(): Op = {
    val k = readKey()
    Op("read", "point_read", 0L,
      () => trace.span("store.point_read")(
        Warehouse.readSnapshotPoint(spark, path, "l_orderkey", k).collect()),
      res => {
        val rows = res.asInstanceOf[Array[Row]]
        trace.count("store.rows_returned", rows.length.toDouble, afterOp = true)
        if (trace.on) trace.count("store.snapshot_files",
          Warehouse.snapshotFiles(spark, path).count().toDouble, afterOp = true)
        rowsMatch(rows, modelLines(k), s"point read $k")
      })
  }

  private def rangeRead(): Op = {
    val lo = readKey()
    val hi = lo + 20
    Op("read", "range_read", 0L,
      () => trace.span("store.range_read")(
        Warehouse.readSnapshotRange(spark, path, "l_orderkey", Some(lo), Some(hi)).collect()),
      res => rowsMatch(res.asInstanceOf[Array[Row]], (lo to hi).flatMap(modelLines),
        s"range read [$lo, $hi]"))
  }

  private def write(): Op = {
    writes += 1
    val written0 = if (trace.on) Counters.bytesWritten() else 0L
    def bytesCounter(name: String): Unit =
      if (trace.on) trace.count(name, (Counters.bytesWritten() - written0).toDouble)
    if (writes % 13 == 12) {
      Op("write", "index_refresh", 0L, () => trace.span("store.index_refresh")(
        Warehouse.refreshIndexSnapshot(spark, path)))
    } else if (writes % 13 == 0) {
      Op("write", "maintain", 0L, () => {
        trace.span("store.maintain")(Warehouse.maintainSnapshot(spark, path, policy))
        bytesCounter("store.maintain_bytes_written")
      })
    } else (writes % 13) % 4 match {
      case 1 =>
        val orders = (0 until 10).map(i => nextOrder + i)
        nextOrder += 10
        val rows = orders.flatMap(o => gen.lines(o))
        rows.foreach(l => touch(l.orderkey)(l.linenumber) = l)
        remember(orders)
        Op("write", "append", Counters.csvBytes(rows.map(_.fields)), () =>
          trace.span("store.append")(
            Warehouse.appendSnapshot(df(rows), path, Warehouse.currentSnapshot(spark, path))))
      case 2 =>
        val keys = Seq.fill(5)(readKey()).distinct
        val post = keys.flatMap { o =>
          val m = touch(o)
          m.keys.toSeq.map { ln =>
            val l = m(ln).copy(quantity = m(ln).quantity + 1)
            m(ln) = l
            l
          }
        }
        remember(keys)
        Op("write", "update_dv", Counters.csvBytes(post.map(_.fields)), () =>
          trace.span("store.update_dv")(Warehouse.updateWhereDv(spark, path,
            col("l_orderkey").isin(keys: _*), Map("l_quantity" -> (col("l_quantity") + 1)))))
      case 3 =>
        val keys = Seq.fill(3)(readKey()).distinct
        keys.foreach(o => touch(o).clear())
        remember(keys)
        Op("write", "delete_dv", Counters.csvBytes(keys.map(Seq(_))), () =>
          trace.span("store.delete_dv")(
            Warehouse.deleteWhereDv(spark, path, col("l_orderkey").isin(keys: _*))))
      case _ =>
        val upd = Seq.fill(3)(readKey()).distinct.flatMap(o => modelLines(o).take(2))
          .map(l => l.copy(quantity = l.quantity + 2, price = l.price + 1.25, returnflag = "N"))
        val fresh = gen.lines(nextOrder, salt = 7L)
        nextOrder += 1
        val source = upd ++ fresh
        source.foreach(l => touch(l.orderkey)(l.linenumber) = l)
        remember(source.map(_.orderkey).distinct)
        val set = schema.fieldNames.filterNot(Set("l_orderkey", "l_linenumber"))
          .map(c => c -> col(s"s.$c")).toMap
        Op("write", "merge", Counters.csvBytes(source.map(_.fields)), () =>
          trace.span("store.merge")(Warehouse.mergeIntoSnapshot(spark, path, df(source),
            Seq("l_orderkey", "l_linenumber"),
            Seq(Warehouse.UpdateWhen(lit(true), set), Warehouse.InsertWhen(lit(true))))))
    }
  }

  /** (row count, Σ (31·orderkey + linenumber)·quantity, Σ price in cents). */
  private def modelChecksum(): (Long, Long, Long) = {
    var n = 0L; var a = 0L; var b = 0L
    def add(l: Line): Unit = {
      n += 1
      a += (31L * l.orderkey + l.linenumber) * l.quantity.toLong
      b += math.round(l.price * 100)
    }
    (0L until Orders).foreach(o => if (!touched.contains(o)) gen.lines(o).foreach(add))
    touched.values.foreach(_.values.foreach(add))
    (n, a, b)
  }

  def finish(): Finish = {
    val t = Warehouse.readSnapshot(spark, path)
    val r = t.agg(count(lit(1)),
      sum((lit(31L) * col("l_orderkey") + col("l_linenumber")) * col("l_quantity").cast("long")),
      sum(round(col("l_extendedprice") * 100).cast("long"))).head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    val want = modelChecksum()
    val live = t.collect().map(_.toSeq.toSeq)
    val files = Warehouse.snapshotFiles(spark, path).count()
    Finish(Seq("final row count and column checksums match the model" ->
      (if (got == want) "" else s"table $got vs model $want")),
      path, Counters.csvBytes(live), Map("store.live_files_end" -> files.toDouble))
  }
}

/** Zipf(n, s) sampler over ranks 1..n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(r: java.util.Random): Long = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    (if (i >= 0) i else -i - 1).toLong + 1
  }
}
