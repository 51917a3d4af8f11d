package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.functions._

/** r17 (VERDICT r16 #6): EMPIRICAL skew evidence for the two hot-key
  * shuffle families whose 100 TB safety previously rested on the
  * bounded-dfCap argument alone — the dedup posting-list build
  * (groupBy shingle: hot boilerplate shingles) and the co-occurrence
  * edge build (groupBy group key: hot groups). For each, measures on
  * real sf data:
  *
  *  - the hottest KEY's row count and its share of the shuffled rows
  *    (what a single reducer must absorb before the cap filters it);
  *  - rows per hash partition at the exchange's own partitioning
  *    (max/median — the guide §2.5 straggler ratio);
  *  - the same after the dfCap / maxGroupSize bound is applied — the
  *    number that holds at any scale, because the caps bound the
  *    per-key state (boundedDistinctLong caps DURING aggregation; the
  *    posting collect_list is filtered at ≤ dfCap groups).
  *
  * Usage: runMain graft.tools.SkewProbe [sfDir]
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()

    def partShares(df: org.apache.spark.sql.DataFrame, key: Seq[String],
                   label: String): Unit = {
      val parts = df.repartition(32, key.map(col): _*)
        .groupBy(spark_partition_id().as("p")).count()
        .collect().map(_.getLong(1)).sorted
      if (parts.isEmpty) { println(s"[skew] $label: empty"); return }
      val max = parts.last
      val med = parts(parts.length / 2)
      println(f"[skew] $label: partitions=${parts.length} max=$max med=$med " +
        f"max/med=${max.toDouble / math.max(1, med)}%.2f")
    }

    // ---- dedup posting build (ngramJaccardPairs' two shuffles) ----
    val docs = Tables.documents(spark, sfDir)
    val postingRows = docs
      .select(col("doc_id"),
        explode(graft.functions.native.wordShingles(col("text"), 3)).as("s"))
    val dfBy = postingRows.groupBy("s").count()
    val top = dfBy.orderBy(desc("count")).limit(5).collect()
    val totalRows = postingRows.count()
    println(s"[skew] posting rows total=$totalRows")
    top.foreach(r => println(f"[skew] hot shingle '${r.getString(0).take(30)}' " +
      f"df=${r.getLong(1)} share=${r.getLong(1).toDouble / totalRows}%.4f"))
    partShares(postingRows, Seq("s"), "posting groupBy(s) exchange (pre-cap)")
    // after dfCap=100 (the declared bound): only surviving groups' rows
    val surviving = postingRows.join(
      dfBy.filter(col("count") <= 100).select("s"), Seq("s"), "left_semi")
    partShares(surviving, Seq("s"), "posting groupBy(s) exchange (df<=100 groups)")

    // ---- co-occurrence edge build (q_graph_* / q_graph_view_tick) ----
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    val groups = li.select(col("l_orderkey").as("g"), col("l_partkey").as("i"))
    val gSizes = groups.groupBy("g").agg(countDistinct("i").as("n"))
    val gTop = gSizes.orderBy(desc("n")).limit(3).collect()
    gTop.foreach(r => println(s"[skew] hot group ${r.get(0)} distinct items=${r.get(1)}"))
    partShares(groups, Seq("g"), "edge groupBy(g) exchange")
    // pairs per group are capped at C(maxGroupSize,2)=C(10,2)=45 by
    // boundedDistinctLong (cap enforced DURING aggregation); the pair
    // dedup exchange below is keyed on the pair itself (high card)
    val pairs = groups.groupBy("g")
      .agg(graft.functions.native.boundedDistinctLong(col("i"), 10).as("items"))
      .filter(col("items").isNotNull)
      .select(explode(graft.functions.native.longPairs(col("items"))).as("p"))
      .select(col("p.a"), col("p.b"))
    partShares(pairs, Seq("a", "b"), "edge pair distinct exchange")
    spark.stop()
  }
}
