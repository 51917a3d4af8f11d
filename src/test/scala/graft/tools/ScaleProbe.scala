package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale probe — ad-hoc main, not part of the driver contract.
  *
  * Unions K shifted-id copies of the sf0.1 documents/embeddings tables
  * (so every doc gains K−1 exact clones — a worst-case near-dup load:
  * every shingle's df multiplies by K and the Σdf² pair work by K²)
  * and times the heavy operator families at 1× and K×. The point is
  * the exponent, not the absolute numbers: linear-ish growth means the
  * shape survives scale; superlinear growth shows where the dfCap /
  * banding / blocking guards must take over.
  */
object ScaleProbe {
  def time(label: String)(f: => Long): Unit = {
    System.gc()
    val t0 = System.nanoTime()
    val n = f
    println(f"[scale] $label%-46s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($n rows)")
  }

  /** GRAFT_PROBE_ONLY=<name> scopes a run to one section (dedup,
    * fuzzy, writes, skew, ann, graph) — the full probe is ~15 min and
    * a new family's exponent shouldn't cost re-measuring the rest. */
  private def section(name: String)(body: => Unit): Unit =
    if (sys.env.get("GRAFT_PROBE_ONLY").forall(_ == name)) body

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = "/root/testdata/sf0.1"
    val k = args.headOption.map(_.toInt).getOrElse(10)
    spark.range(1000).selectExpr("sum(id)").collect()

    section("dedup") {
    val docs1 = Tables.documents(spark, dir)
    val maxId = docs1.agg(max(col("doc_id"))).head().getLong(0) + 1
    def copies(base: DataFrame, idCol: String): DataFrame =
      (0 until k).map(i => base.withColumn(idCol, col(idCol) + lit(i * maxId)))
        .reduce(_ unionByName _)
    val docsK = copies(docs1, "doc_id").localCheckpoint(true)
    println(s"[scale] docs 1x=${docs1.count()} ${k}x=${docsK.count()}")

    for ((label, d) <- Seq("1x" -> docs1, s"${k}x" -> docsK)) {
      time(s"dedup exact ($label)") { graft.ext.Dedup.exact(d, md5(col("text"))).count() }
      time(s"ngram pairs dfCap=default ($label)") {
        graft.ext.Dedup.ngramJaccardPairs(d, 3, 0.8).count()
      }
      time(s"dup spans ($label)") { graft.ext.Dedup.duplicateSpans(d, w = 8).count() }
      time(s"minhash near-dups ($label)") {
        graft.ext.Dedup.minhashNearDups(d, threshold = 0.8).count()
      }
      time(s"corpus prepare ($label)") {
        graft.ext.CorpusPipeline.prepare(
          d.filter(col("doc_id") % 17 =!= 0), d.filter(col("doc_id") % 17 === 0)).count()
      }
      // the Config switch SCALE.md documents for heavy duplication:
      // MinHash banding replaces exact Σdf² pairs as the pipeline's
      // pair source — same decision logic, near-linear pair build
      time(s"corpus prepare minhash ($label)") {
        graft.ext.CorpusPipeline.prepare(
          d.filter(col("doc_id") % 17 =!= 0), d.filter(col("doc_id") % 17 === 0),
          graft.ext.CorpusPipeline.Config(dedupMinhash = true)).count()
      }
      time(s"dedup cluster ($label)") {
        graft.ext.Dedup.dropNearDupsByCluster(d,
          graft.ext.Dedup.ngramJaccardPairs(d, 3, 0.8)).count()
      }
    }
    }

    section("fuzzy") {
    // SymSpell fuzzy join: clone the customer names K× with shifted
    // keys — every name gains K−1 exact copies, so candidate groups
    // fatten by K and verified pairs by ~K² (the worst case for any
    // blocking scheme; the deletion-neighborhood groups must absorb it
    // without a cross join appearing)
    val cust1 = Tables.tableWide(spark, dir, "customer").select(col("c_custkey"), col("c_name"))
    val maxCk = cust1.agg(max(col("c_custkey"))).head().getLong(0) + 1
    val custK = (0 until k).map(i =>
        cust1.withColumn("c_custkey", col("c_custkey") + lit(i * maxCk)))
      .reduce(_ unionByName _).localCheckpoint(true)
    for ((label, c) <- Seq("1x" -> cust1, s"${k}x" -> custK)) {
      time(s"fuzzy join k=1 ($label)") {
        graft.ops.FuzzyJoin.editDistancePairs(c, "c_custkey", "c_name", k = 1).count()
      }
    }
    }

    section("writes") {
    // r9: the r8 WRITE surface (mergeInto / diffFrames / applyChangeFeed)
    // under the same K× load. Keyed tables have UNIQUE join keys by
    // construction, so the full-outer join cannot key-skew — the risk
    // at scale is VOLUME (the join touches the whole table). The probe
    // measures (a) the full-table forms growing linearly in K, and
    // (b) the partition-prune composition SCALE.md prescribes (merge
    // only the date partitions the batch touches, land them via
    // dynamic overwrite) staying bounded by the TOUCHED partition —
    // with the batch deliberately skewed onto one hot date.
    val ev1 = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val maxEv = ev1.agg(max(col("event_id"))).head().getLong(0) + 1
    val evK = (0 until k).map(i =>
        ev1.withColumn("event_id", col("event_id") + lit(i * maxEv)))
      .reduce(_ unionByName _).localCheckpoint(true)
    import graft.store.Warehouse
    for ((label, t) <- Seq("1x" -> ev1, s"${k}x" -> evK)) {
      // batch: update 1% of keys, insert 1% new — every row on ONE day
      val batch = t.filter(col("event_id") % 100 === 0)
        .withColumn("value", col("value") * 2)
        .unionByName(t.filter(col("event_id") % 100 === 1)
          .withColumn("event_id", -col("event_id") - 1))
        .localCheckpoint(true)
      time(s"mergeInto full table ($label)") {
        Warehouse.mergeInto(t, batch, Seq("event_id"), Seq(
          Warehouse.UpdateWhen(lit(true), Map("value" -> col("s.value"))),
          Warehouse.InsertWhen(lit(true)))).count()
      }
      val restated = t.withColumn("value",
        when(col("event_id") % 50 === 0, col("value") + 1).otherwise(col("value")))
      time(s"diffFrames full table ($label)") {
        Warehouse.diffFrames(t, restated, Seq("event_id")).count()
      }
      time(s"applyChangeFeed round-trip ($label)") {
        Warehouse.applyChangeFeed(t,
          Warehouse.diffFrames(t, restated, Seq("event_id")).localCheckpoint(true),
          Seq("event_id")).count()
      }
      // partition-prune composition: the skewed batch lands on ONE of
      // the ~30 event days; merge only that partition's slice
      val hotDate = "2024-01-07"
      val slice = t.filter(to_date(col("ts")) === lit(hotDate))
      val hotBatch = slice.filter(col("event_id") % 100 === 0)
        .withColumn("value", col("value") * 2).localCheckpoint(true)
      time(s"mergeInto pruned to hot date ($label)") {
        Warehouse.mergeInto(slice, hotBatch, Seq("event_id"), Seq(
          Warehouse.UpdateWhen(lit(true), Map("value" -> col("s.value"))),
          Warehouse.InsertWhen(lit(true)))).count()
      }
    }
    }

    section("skew") {
    // r9: AQE skew-join vs the manual salt (X35). One hot key carries
    // half the fact side; the dim side forces a sort-merge join
    // (broadcast disabled — at 100 TB the dim that matters doesn't
    // broadcast). Three forms: plain join with AQE skew handling,
    // plain join with AQE off (the victim a naive plan produces), and
    // the explicit salt with AQE off.
    {
      // 16M rows, 3/4 on the hot key: the hot shuffle partition is
      // ~480 MB — past AQE's DEFAULT 256 MB skew threshold, so the
      // split fires exactly as it would on a production-sized skew
      val n = 16000000L
      val fact = spark.range(n).toDF("id")
        .withColumn("user_id", when(col("id") % 4 =!= 0, lit(0L)).otherwise(col("id") % 100000))
        .withColumn("payload", md5(col("id").cast("string")))
        .localCheckpoint(true)
      val dim = spark.range(100000).toDF("user_id")
        .withColumn("tier", col("user_id") % 7)
        .localCheckpoint(true)
      def withConfs(confs: (String, String)*)(f: => Long): Long = {
        val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        try f finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      val noBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
      time("skew join: AQE skew split") {
        withConfs(noBroadcast,
          "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.enabled" -> "true") {
          fact.join(dim, Seq("user_id")).count()
        }
      }
      time("skew join: AQE off (victim)") {
        withConfs(noBroadcast, "spark.sql.adaptive.enabled" -> "false") {
          fact.join(dim, Seq("user_id")).count()
        }
      }
      time("skew join: manual salt, AQE off") {
        withConfs(noBroadcast, "spark.sql.adaptive.enabled" -> "false") {
          graft.ops.Relational.saltedJoin(fact, dim, "user_id", buckets = 32).count()
        }
      }
      // the case AQE can NOT split: the skew sits in an AGGREGATION
      // key, not a join — partial aggregation absorbs it map-side when
      // the aggregate is algebraic, which is the real mitigation
      time("skew agg: hot groupBy key (partial agg absorbs)") {
        withConfs("spark.sql.adaptive.enabled" -> "true") {
          fact.groupBy("user_id").agg(count(lit(1)), sum(length(col("payload")))).count()
        }
      }
    }
    }

    section("ann") {
    val emb1 = Tables.embeddings(spark, dir)
    val maxVid = emb1.agg(max(col("vec_id"))).head().getLong(0) + 1
    val embK = (0 until k).map(i => emb1.withColumn("vec_id", col("vec_id") + lit(i * maxVid)))
      .reduce(_ unionByName _).localCheckpoint(true)
    for ((label, e) <- Seq("1x" -> emb1, s"${k}x" -> embK)) {
      val q = e.filter(col("vec_id") < 10)
      time(s"ann ivf ($label)") { graft.ext.Similarity.ivfTopK(q, e, 10).count() }
      time(s"ann ivf-pq ($label)") { graft.ext.Similarity.pqTopK(q, e, 10).count() }
      time(s"embed near-dup banded ($label)") {
        graft.ext.Similarity.embeddingNearDupsApprox(e, 0.7).count()
      }
    }
    }

    section("graph") {
    // r12: the graph family under K× group load over a FIXED item
    // universe. Copies ROTATE the item ids (copy i maps p → (p + 37i)
    // mod universe), so group sizes are unchanged (the maxGroupSize
    // cap keeps firing identically) but every item's DEGREE grows ~K×
    // — distinct edges ~K×, wedge work Σdeg² ~K². That is exactly the
    // load the cap can NOT bound (degrees come from group
    // multiplicity, not group size): the probe pins which graph ops
    // ride the linear side (edge build, pagerank, labelprop — all
    // edge-grain) and which pay the wedge exponent (jaccard,
    // triangles), where degree orientation is the documented
    // mitigation.
    val gk = math.min(k, 4) // wedges grow quadratically: 4× load = 16× wedge work
    val li1 = Tables.lineitem(spark, dir).filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey")
    val maxOk = li1.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val universe = li1.agg(max(col("l_partkey"))).head().getLong(0) + 1
    val liK = (0 until gk).map(i => li1
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOk))
        .withColumn("l_partkey", pmod(col("l_partkey") + lit(i * 37L), lit(universe))))
      .reduce(_ unionByName _).localCheckpoint(true)
    for ((label, l) <- Seq("1x" -> li1, s"${gk}x" -> liK)) {
      val edges = graft.ops.Graphs
        .coOccurrenceEdges(l, "l_orderkey", "l_partkey", maxGroupSize = 10)
        .localCheckpoint(true)
      time(s"graph edge build ($label)") { edges.count() }
      time(s"graph jaccard wedges ($label)") {
        graft.ops.Graphs.neighborhoodJaccard(edges).filter(col("common") >= 3).count()
      }
      time(s"graph triangles id-oriented ($label)") {
        graft.ops.Graphs.triangleCount(edges).head().getLong(0)
      }
      time(s"graph triangles degree-oriented ($label)") {
        graft.ops.Graphs.triangleCountDegreeOriented(edges).head().getLong(0)
      }
      time(s"graph pagerank 3 iters ($label)") {
        graft.ops.Graphs.pageRank(edges).count()
      }
      time(s"graph labelprop 3 rounds ($label)") {
        graft.ops.Graphs.minLabelPropagate(edges, 3).count()
      }
      // r13 additions: the frontier PPR (state = seed neighborhood,
      // not the graph — the probe shows it ride the edge-linear side),
      // Adamic–Adar (same wedge exponent as jaccard), and the
      // fixpoint forms (per-round driver probes ride the same jobs)
      time(s"graph ppr frontier 3 iters ($label)") {
        val seeds = edges.select(col("a").as("node")).distinct()
          .orderBy("node").limit(3)
        graft.ops.Graphs.personalizedPageRank(edges, seeds).count()
      }
      time(s"graph adamic-adar wedges ($label)") {
        graft.ops.Graphs.adamicAdar(edges).filter(col("common") >= 3).count()
      }
      time(s"graph labelprop fixpoint ($label)") {
        graft.ops.Graphs.minLabelPropagateFixpoint(edges).count()
      }
      // r14: the fused-round PPR (one edge-grain aggregate per round)
      // and the warm-start refresh — the refresh at FIXED small churn
      // should track the edge-linear per-round cost, with rounds=2
      // beating the cold 3-iteration walk by ~a round
      // stored ranks staged OUTSIDE the timed region: the lane prices
      // the REFRESH, not the cold walk that seeded it
      val refreshSeeds = edges.select(col("a").as("node")).distinct()
        .orderBy("node").limit(3).localCheckpoint(true)
      val storedRanks = graft.ops.Graphs.personalizedPageRank(edges, refreshSeeds)
        .localCheckpoint(true)
      time(s"graph ppr warm refresh 2 rounds ($label)") {
        graft.ops.Graphs.refreshPersonalizedPageRank(edges, refreshSeeds,
          storedRanks, rounds = 2).count()
      }
    }
    }

    section("sketch") {
    // r14: the one-pass Count-Min buffer build under K× volume. The
    // buffer is FIXED (lanes × width longs per partial) regardless of
    // rows or key cardinality, so the build must ride the scan —
    // linear in volume with a per-row constant and no generated rows
    // (the old explode form paid 4× row materialization through the
    // same scan). The degree-IVM lane pins the other claim: the
    // maintenance merge is FEED-priced, so a fixed-size feed costs
    // ~the same against a K×-bigger degree table.
    val li1 = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val maxOk2 = li1.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val liK2 = (0 until k).map(i =>
        li1.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOk2)))
      .reduce(_ unionByName _).localCheckpoint(true)
    for ((label, l) <- Seq("warmup" -> li1, "1x" -> li1, s"${k}x" -> liK2)) {
      time(s"count-min one-pass build ($label)") {
        graft.ext.Sketches.countMinSketch(l, "l_partkey").count()
      }
    }
    val liG = Tables.lineitem(spark, dir).filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey")
    val gk2 = math.min(k, 4)
    val maxOk3 = liG.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val liGK = (0 until gk2).map(i =>
        liG.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOk3)))
      .reduce(_ unionByName _).localCheckpoint(true)
    for ((label, l) <- Seq("1x" -> liG, s"${gk2}x" -> liGK)) {
      val edges = graft.ops.Graphs
        .coOccurrenceEdges(l, "l_orderkey", "l_partkey", maxGroupSize = 10)
        .localCheckpoint(true)
      val deg = graft.ops.Graphs.degrees(edges).localCheckpoint(true)
      // fixed 200-edge feed against the K×-bigger degree table
      val someEdges = edges.orderBy("a", "b").limit(200).localCheckpoint(true)
      val feed = someEdges.withColumn("_change_type", lit("delete"))
      time(s"degree IVM, fixed 200-edge feed ($label)") {
        graft.store.Ivm.maintainDegrees(deg, feed).count()
      }
    }
    }

    section("ndv") {
    // r12: the X231 zero-scan shape — after ANALYZE, the NDV answer
    // reads the (files × k)-row side table, not the data. Measured
    // (warm, K=20): every lane is job-floor-bound at sf0.1 (analyze
    // 1.1 s both scales, ndv 0.65 s both, direct kmv 0.40→0.48 s) —
    // the distinct collapses map-side over a small user_id domain, so
    // this SF cannot separate flat from linear by time alone; the
    // ZERO-data-read guarantee is pinned structurally instead
    // (AnalyzeSpec's poison pins: corrupt every data file, the answer
    // still returns). The probe stays as the regression tripwire for
    // the side-table read path itself.
    import graft.store.Warehouse
    val ev1 = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val maxEv = ev1.agg(max(col("event_id"))).head().getLong(0) + 1
    val evK = (0 until k).map(i =>
        ev1.withColumn("event_id", col("event_id") + lit(i * maxEv)))
      .reduce(_ unionByName _).localCheckpoint(true)
    // warmup pass first: the 1x numbers otherwise carry JVM/codegen
    // warmup and invert the comparison
    for ((label, t) <- Seq("warmup" -> ev1, "1x" -> ev1, s"${k}x" -> evK)) {
      val root = java.nio.file.Files.createTempDirectory("probe_ndv").toString + "/t"
      Warehouse.writeSnapshot(t.repartition(16), root)
      time(s"analyzeSnapshot user_id ($label)") {
        Warehouse.analyzeSnapshot(spark, root, Seq("user_id"), k = 256)
          .map(_ => 1L).getOrElse(0L)
      }
      time(s"ndvSnapshot covered ($label)") {
        Warehouse.ndvSnapshot(spark, root, Seq("user_id"), k = 256).count()
      }
      time(s"kmvDistinct direct scan ($label)") {
        graft.ext.Sketches.kmvDistinct(
          Warehouse.readSnapshot(spark, root).withColumn("g", lit(1)),
          Seq("g"), "user_id", 256).count()
      }
    }
    }
    spark.stop()
  }
}
