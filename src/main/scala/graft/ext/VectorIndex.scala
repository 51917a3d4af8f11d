package graft.ext

import graft.store.Warehouse
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTED IVF vector index (X247, r14; hardened + drift-monitored
  * r15) — build once, probe forever.
  *
  * Every ANN entry point in [[Similarity]] is self-contained: it fits
  * coarse centroids and assigns the corpus per CALL, which is the
  * right shape for one-shot jobs and the wrong one for a serving /
  * repeated-retrieval workload over a 100 TB embedding corpus — the
  * fit is a corpus scan and the assignment another, paid on every
  * query batch. This module materializes the IVF structure as
  * warehouse snapshot tables and turns a probe into a PRUNED READ:
  *
  *  - the INDEX table at `path`: `(vec_id, embedding, cell)`,
  *    range-partitioned on `cell` at build, so every data file holds a
  *    contiguous cell range and the manifest's per-file min/max stats
  *    (X162) prune non-probed cells at the FILE level — a probe of
  *    `nprobe` cells opens ~`nprobe/nlist` of the corpus bytes and
  *    plans driver-side with zero I/O for skipped files;
  *  - the CENTROIDS table at `path + "_centroids"`: `nlist` rows
  *    `(cell, centroid, mode, stamp, base_n, base_resid, inc_n,
  *    inc_resid)`, read and collected at probe time (bounded:
  *    nlist × dim doubles, the same driver-scalar budget the inline
  *    fit already used). `stamp` is the build's torn-build stamp
  *    ([[PersistedIndex]]). The `base_*`/`inc_*` columns are the
  *    DRIFT LEDGER (r15, below).
  *
  * Both tables get full snapshot semantics for free: versioned commits,
  * time travel, retention, OPTIMIZE, and the maintenance tick. Build
  * commit, torn-build check, layout-forcing maintenance and the
  * streaming sink are [[lifecycle]]'s.
  *
  * INCREMENTAL growth rides the X200 refresh discipline:
  * [[refreshIvfIndex]] assigns ONLY vectors not yet in the index
  * (anti-join on `vec_id`) against the STORED centroids and appends —
  * the steady-state tick costs the new vectors' bytes, never a refit.
  * Centroids staying fixed means recall decays as the distribution
  * drifts (the standard IVF trade); re-seeding is an explicit
  * [[buildIvfIndex]] decision, exactly like the bloom index's
  * `indexSnapshot` full rebuild. WHEN to re-seed is what the drift
  * ledger answers (r15, the r14 verdict's #3 forward gap): the build
  * records each cell's corpus share and mean cosine residual; every
  * refresh folds the increment's shares/residuals into the `inc_*`
  * side of the ledger (riding the assignment the refresh computes
  * anyway — zero extra data I/O); [[indexAdvice]] compares the two
  * and SURFACES a rebuild recommendation when the assignment-share
  * drift or the residual growth crosses a bound — surfaced, never
  * auto-applied, the joinAdvice pattern: a rebuild invalidates probe
  * routing for concurrent readers, which only the owner can schedule.
  *
  * `bucketed = true` swaps the k-means assignment for the X220
  * engine-portable rule (`cell = vec_id mod nlist`, probes = the
  * nprobe cells starting at the query's own bucket) — same plan
  * shape, ANSI-recomposable end-to-end, so the PERSISTED probe path
  * itself carries a DuckDB oracle (q_ann_ivf_indexed); the k-means
  * mode stays the production semantic index. Bucketed cells have no
  * geometry, so their ledger records shares only (residuals NULL) and
  * [[indexAdvice]] uses the share signal alone.
  */
object VectorIndex {

  private val KmeansMode = "kmeans"
  private val BucketedMode = "bucketed"

  /** Build commit, torn-build check, maintenance and sink ([[PersistedIndex]]). */
  val lifecycle: PersistedIndex = PersistedIndex("VectorIndex", "_centroids",
    "cell", "buildIvfIndex", refreshIvfIndex)

  def centroidsPath(path: String): String = lifecycle.sidePath(path)

  /** Attribute columns riding the index rows (r16): every corpus
    * column beyond the two the index requires (`vec_id`, `embedding`)
    * persists WITH the row, so a filtered probe evaluates its
    * predicate inside the pruned read — no join back to the corpus
    * table at query time. Denormalizing attrs into the index is the
    * standard filtered-ANN trade: index bytes grow by the attr widths,
    * and in exchange "top-k among rows WHERE p" costs exactly the
    * probed cells' bytes (the attr predicate also rides into the
    * parquet scan, so row-group stats skip within probed files). */
  private def attrCols(df: DataFrame): Seq[Column] =
    df.columns.toSeq.filterNot(c => c == "vec_id" || c == "embedding").map(col)

  /** Per-cell cosine residual (1 − cos(v, centroid)) against a literal
    * centroid table — NULL in bucketed mode (cells have no geometry).
    */
  private def residCol(mode: String, cents: Array[Array[Double]]): Column =
    if (mode == BucketedMode) lit(null).cast("double")
    else {
      val litCents = typedlit(cents.map(_.toSeq).toSeq)
      val c = element_at(litCents, col("cell") + 1)
      lit(1.0) - Similarity.dot(col("embedding"), c) /
        (Similarity.l2norm(col("embedding")) * Similarity.l2norm(c))
    }

  /** Build (or rebuild) the index for `corpus` (`vec_id`, `embedding`,
    * plus any ATTRIBUTE columns — persisted with the rows for filtered
    * probes, see [[attrCols]]; refreshes must then carry the same
    * attrs, enforced by the warehouse schema gate).
    * Returns the index table's committed version
    * ([[PersistedIndex.commitBuild]]: centroids first, stamped).
    */
  def buildIvfIndex(corpus: DataFrame, path: String, nlist: Int = 16,
                    fitSample: Int = 50, bucketed: Boolean = false): Long = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val spark = corpus.sparkSession
    import spark.implicits._
    val attrs = attrCols(corpus)
    val (assigned, cents, mode) =
      if (bucketed) {
        val a = corpus.select(col("vec_id") +: col("embedding") +: attrs :+
          pmod(col("vec_id"), lit(nlist)).cast("int").as("cell"): _*)
        (a, Array.fill(nlist)(Array.empty[Double]), BucketedMode)
      } else {
        val cs = Similarity.coarseCentroids(corpus, nlist, fitSample)
        val assign1 = graft.functions.native.centroidProbes(col("embedding"), cs, 1)
        val a = corpus.select(col("vec_id") +: col("embedding") +: attrs :+
          element_at(assign1, 1).as("cell"): _*)
        (a, cs, KmeansMode)
      }
    // drift-ledger baseline: each cell's corpus count + mean residual
    // (one aggregate over the assignment the build computes anyway;
    // nlist rows back to the driver)
    val baseStats = assigned
      .select(col("cell"), residCol(mode, cents).as("resid"))
      .groupBy("cell").agg(count(lit(1)).as("n"), avg(col("resid")).as("r"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // Contiguous cell range per data file — the property that makes
    // the manifest min/max stats prune probes at file grain (hash
    // partitioning on the raw cell would spread every cell across
    // every file and kill skipping). r17: the boundaries come from the
    // per-cell counts the drift-ledger baseline above ALREADY
    // collected, so the exchange is BucketLayout's deterministic hash
    // form — the range form's sampling pass re-ran the centroid
    // assignment over the whole corpus once more per build. Hot cells
    // still split across slices (by vec_id hash), exactly like the
    // sampled form.
    val cellCounts = Array.tabulate(nlist)(i =>
      baseStats.get(i).map(_._1).getOrElse(0L))
    val laid = BucketLayout.exchange(assigned, col("cell"),
      xxhash64(col("vec_id")), cellCounts, layoutParts(spark, nlist))
    lifecycle.commitBuild(laid, path) { stamp =>
      (0 until nlist).map { i =>
        val (n, resid) = baseStats.getOrElse(i, (0L, None))
        (i, cents(i).toSeq, mode, stamp, n, resid, 0L, None: Option[Double])
      }.toDF("cell", "centroid", "mode", "stamp",
        "base_n", "base_resid", "inc_n", "inc_resid")
    }
  }

  private def layoutParts(spark: SparkSession, nlist: Int): Int =
    math.max(1, math.min(nlist, spark.sessionState.conf.numShufflePartitions))

  /** The centroids table's rows, cell-ordered — read through the
    * torn-build check ([[PersistedIndex.requireBuilt]]).
    */
  private def centroidRows(spark: SparkSession, path: String): IndexedSeq[Row] = {
    lazy val rows = {
      val rs = lifecycle.sideRows(spark, path).sortBy(_.getAs[Int]("cell"))
      require(rs.nonEmpty, s"VectorIndex($path): centroids table is empty")
      rs
    }
    lifecycle.requireBuilt(spark, path, rows.head.getAs[Long]("stamp"))
    rows
  }

  /** The stored centroids, cell-ordered, plus the index mode and nlist. */
  private def readCentroids(spark: SparkSession, path: String)
      : (Array[Array[Double]], String, Int) = {
    val rows = centroidRows(spark, path)
    (rows.map(_.getAs[Seq[Double]]("centroid").toArray).toArray,
      rows.head.getAs[String]("mode"), rows.length)
  }

  /** Assign the incremental `corpus` rows NOT yet indexed to the
    * STORED structure and append them — the X200 refresh shape: the
    * tick costs the new vectors' bytes (plus one vec_id anti-join
    * against the index at key grain), never a refit or corpus rescan.
    * None when nothing is new. The increment's per-cell counts and
    * residuals fold into the drift ledger (riding the assignment this
    * refresh computes anyway); the ledger update is ADVISORY and
    * best-effort — a failure after the index append logs and leaves
    * stats stale, never the index wrong.
    */
  def refreshIvfIndex(corpus: DataFrame, path: String): Option[Long] =
    appendIvfIncrement(corpus, path).map { case (v, foldLedger) => foldLedger(); v }

  /** [[refreshIvfIndex]]'s append, with its drift-ledger fold handed
    * back instead of run: the fold is advisory, so a caller with other
    * work to do may run it beside that work ([[CorpusPipeline]]'s
    * refreshes run it beside the shingle append).
    */
  private[ext] def appendIvfIncrement(corpus: DataFrame, path: String)
      : Option[(Long, () => Unit)] = {
    val spark = corpus.sparkSession
    val (cents, mode, nlist) = readCentroids(spark, path)
    // CAS-retried end to end (r16): the whole assign-and-append re-runs
    // per conflict — anti-join included, so a racing refresh's vectors
    // are re-excluded; see [[Warehouse.retryOnConflict]]'s contract
    val appended = Warehouse.retryOnConflict() {
      // attrs ride the refresh exactly as they rode the build — the
      // warehouse schema gate refuses an increment whose attr set
      // drifted from the indexed schema (r16)
      val attrs = attrCols(corpus)
      // consumed by the append's range sampling, its write AND the ledger
      val (fresh, seen) = PersistedIndex.countedCheckpoint(PersistedIndex.notIndexed(
        corpus.select(col("vec_id") +: col("embedding") +: attrs: _*), "vec_id",
        Warehouse.readSnapshot(spark, path), rowsPerKey = Some(1.0)))
      if (seen.getLong(0) == 0L) None
      else {
        val assigned =
          if (mode == BucketedMode)
            fresh.select(col("vec_id") +: col("embedding") +: attrs :+
              pmod(col("vec_id"), lit(nlist)).cast("int").as("cell"): _*)
          else {
            val assign1 = graft.functions.native.centroidProbes(col("embedding"), cents, 1)
            fresh.select(col("vec_id") +: col("embedding") +: attrs :+
              element_at(assign1, 1).as("cell"): _*)
          }
        Warehouse.appendSnapshotIfAny(
          assigned.repartitionByRange(layoutParts(spark, nlist),
            col("cell"), col("vec_id")),
          path, Warehouse.currentSnapshot(spark, path)).map((_, assigned))
      }
    }
    appended.map { case (v, assigned) =>
      // the ledger fold re-reads the centroids row at ITS current
      // version inside recordIncrementStats, so a conflict retry there
      // is a clean re-read-modify-write
      (v, () =>
        try Warehouse.retryOnConflict() {
          recordIncrementStats(spark, path, assigned, mode, cents)
        }
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] drift-ledger update on $path failed " +
              s"(stats stale until the next refresh; the index append committed): ${e.getMessage}")
        })
    }
  }

  /** Fold one increment's per-cell (count, mean residual) into the
    * ledger's cumulative `inc_n`/`inc_resid` (weighted mean). */
  private def recordIncrementStats(spark: SparkSession, path: String,
                                   assigned: DataFrame, mode: String,
                                   cents: Array[Array[Double]]): Unit = {
    val incStats = assigned
      .select(col("cell"), residCol(mode, cents).as("resid"))
      .groupBy("cell").agg(count(lit(1)).as("n"), avg(col("resid")).as("r"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val side = centroidsPath(path)
    val cur = Warehouse.currentSnapshot(spark, side)
    val rows = lifecycle.sideRows(spark, path, Some(cur))
    import spark.implicits._
    val merged = rows.map { r =>
      val cell = r.getInt(0)
      val (dn, dr) = incStats.getOrElse(cell, (0L, None: Option[Double]))
      val n0 = r.getLong(6)
      val r0 = if (r.isNullAt(7)) None else Some(r.getDouble(7))
      val n1 = n0 + dn
      val r1 = (r0, dr) match {
        case (Some(a), Some(b)) if n1 > 0 => Some((a * n0 + b * dn) / n1)
        case (None, Some(b)) => Some(b)
        case (a, None) => a
      }
      (cell, r.getSeq[Double](1), r.getString(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)), n1, r1)
    }.toSeq.toDF("cell", "centroid", "mode", "stamp",
      "base_n", "base_resid", "inc_n", "inc_resid")
    Warehouse.commitSnapshot(merged, side, cur)
    ()
  }

  /** What [[indexAdvice]] decided and why — all inputs are the
    * nlist-row ledger, zero data I/O. `shareDrift` is the total-
    * variation distance between the build-time cell-share distribution
    * and the post-build increments'; `residualRatio` is increment mean
    * residual / build mean residual (None in bucketed mode or when
    * either side recorded no residual).
    */
  case class IndexAdvice(
      rebuildAdvised: Boolean,
      shareDrift: Option[Double],
      residualRatio: Option[Double],
      incrementRows: Long,
      reason: String)

  /** SURFACED rebuild advice from the drift ledger (r15) — the
    * joinAdvice pattern: measure, recommend, never auto-apply. A
    * rebuild is advised when, over at least `minIncrementRows`
    * post-build rows, EITHER the assignment-share drift reaches
    * `shareDriftBound` (probes route by shares that no longer describe
    * the data — recall decays even if every vector is "near" its
    * cell) OR the increments' mean residual grew past
    * `residualGrowthBound` × the build's (new vectors sit farther from
    * every stored centroid — the geometry itself has moved). Below
    * `minIncrementRows` the advice abstains: share estimates over a
    * handful of rows are noise, and re-seeding on noise churns readers
    * for nothing. Costs one nlist-row side-table read.
    */
  def indexAdvice(spark: SparkSession, path: String,
                  minIncrementRows: Long = 1000L,
                  shareDriftBound: Double = 0.25,
                  residualGrowthBound: Double = 1.5): IndexAdvice = {
    val rows = centroidRows(spark, path)
    val at = rows.head.fieldIndex _
    val (baseN, baseR, incN, incR) =
      (at("base_n"), at("base_resid"), at("inc_n"), at("inc_resid"))
    val baseTot = rows.map(_.getLong(baseN)).sum
    val incTot = rows.map(_.getLong(incN)).sum
    if (incTot < minIncrementRows)
      return IndexAdvice(rebuildAdvised = false, None, None, incTot,
        s"only $incTot post-build rows (< $minIncrementRows) — not enough signal")
    val shareDrift =
      if (baseTot == 0L) None
      else Some(rows.map { r =>
        math.abs(r.getLong(baseN).toDouble / baseTot - r.getLong(incN).toDouble / incTot)
      }.sum / 2.0)
    def wMean(nAt: Int, rAt: Int): Option[Double] = {
      val wr = rows.collect { case r if !r.isNullAt(rAt) && r.getLong(nAt) > 0 =>
        (r.getLong(nAt), r.getDouble(rAt)) }
      val n = wr.map(_._1).sum
      if (n == 0) None else Some(wr.map { case (w, x) => w * x }.sum / n)
    }
    val residualRatio = for {
      b <- wMean(baseN, baseR) if b > 0.0
      i <- wMean(incN, incR)
    } yield i / b
    val driftHit = shareDrift.exists(_ >= shareDriftBound)
    val residHit = residualRatio.exists(_ >= residualGrowthBound)
    val reason =
      if (driftHit) f"assignment-share drift ${shareDrift.get}%.3f >= $shareDriftBound%.2f" +
        " — increments no longer land where the build did; re-seed with buildIvfIndex"
      else if (residHit) f"mean residual grew ${residualRatio.get}%.2fx >= " +
        f"$residualGrowthBound%.2fx — new vectors sit far from every stored " +
        "centroid; re-seed with buildIvfIndex"
      else "drift within bounds — the stored centroids still describe the data"
    IndexAdvice(driftHit || residHit, shareDrift, residualRatio, incTot, reason)
  }

  /** INCREMENTAL near-dup screen against the index (X249) — the
    * embedding-space analog of the X91 incremental exact dedup: an
    * increment of (vec_id, embedding) rows is checked against the
    * INDEXED corpus without ever scanning it — probe the increment's
    * vectors through the pruned cell read, exact-cosine against the
    * probed cells only, and flag rows whose best indexed neighbor
    * reaches `threshold`. Returns the increment plus
    * (`dup_of`, `dup_sim`) — NULL when the row is novel — so the
    * caller routes novel rows to [[refreshIvfIndex]] (or
    * `lifecycle.sink`) and drops/links the near-dups: the
    * dedup-then-index loop of a growing corpus, priced at the
    * increment's bytes + the probed cells. Approximate exactly as IVF
    * retrieval is (a near-dup hiding in an unprobed cell is missed —
    * raise `nprobe` for recall); rows already indexed under the same
    * vec_id match THEMSELVES at sim 1 — screen before refresh, or
    * anti-join first as [[refreshIvfIndex]] does. An empty increment
    * (a legitimate streaming micro-batch) returns empty, it never
    * crashes the loop (r15). `broadcastProbes` passes through to
    * [[ivfTopKIndexed]] — set false for a corpus-sized increment.
    * `where` (r16) scopes the screen to matching INDEX rows — e.g.
    * dedup-within-language when `lang` rides the index as an attr —
    * with [[ivfTopKIndexed]]'s filtered-probe semantics verbatim.
    */
  def nearDupAgainstIndex(increment: DataFrame, path: String,
                          threshold: Double = 0.95,
                          nprobe: Int = 4,
                          broadcastProbes: Boolean = true,
                          where: Option[Column] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val best = ivfTopKIndexed(increment, path, k = 1, nprobe = nprobe,
        broadcastProbes = broadcastProbes, where = where)
      .filter(col("sim") >= threshold)
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("dup_of"),
        col("sim").as("dup_sim"))
    increment.join(best, Seq("vec_id"), "left")
  }

  /** One probe batch, planned: `probes` holds one row
    * (query_id, qv, qn, cell) per (query, probed cell), `cells` the
    * sorted distinct probed cells (bounded by nlist, a driver scalar by
    * the same budget as the centroid read; contiguous runs collapse into
    * one pruned range read each), `dim` the query dimension.
    */
  private case class ProbePlan(probes: DataFrame, cells: IndexedSeq[Int], dim: Int)

  /** Plan a probe batch against the stored `centroids` (as
    * [[readCentroids]] returns them): per query the `nprobe` nearest
    * cells (stored-centroid distance in kmeans mode; the X220 rule in
    * bucketed mode), with `qv` as the query vector column. With `broadcastProbes` the probe frame is evaluated ONCE:
    * its rows are collected, the cell set and dimension come from them
    * on the driver, and the rows re-enter the plan as a broadcast local
    * relation. Without it the frame stays distributed and the cell set
    * and dimension are one aggregate over it. None when nothing is
    * probed (an empty batch).
    */
  private def probePlan(queries: DataFrame, qv: Column,
                        centroids: (Array[Array[Double]], String, Int),
                        nprobe: Int, broadcastProbes: Boolean): Option[ProbePlan] = {
    val (cents, mode, nlist) = centroids
    val np = math.min(nprobe, nlist)
    val base = queries.select(col("vec_id").as("query_id"), qv.as("qv"),
      Similarity.l2norm(col("embedding")).as("qn"), col("embedding"))
    val probes =
      if (mode == BucketedMode)
        base.select(col("query_id"), col("qv"), col("qn"),
            explode(sequence(lit(0), lit(np - 1))).as("i"))
          .select(col("query_id"), col("qv"), col("qn"),
            pmod(col("query_id") + col("i"), lit(nlist)).cast("int").as("cell"))
      else
        base.select(col("query_id"), col("qv"), col("qn"),
          explode(graft.functions.native.centroidProbes(col("embedding"), cents, np))
            .as("cell"))
    if (broadcastProbes) {
      val rows = probes.collect()
      if (rows.isEmpty) None
      else Some(ProbePlan(
        broadcast(queries.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), probes.schema)),
        rows.map(_.getInt(3)).distinct.sorted.toIndexedSeq,
        rows.iterator.map(_.get(1)).collectFirst { case v: collection.Seq[_] => v.size }
          .getOrElse(-1)))
    } else {
      val r = probes.agg(sort_array(collect_set(col("cell"))), max(size(col("qv")))).head()
      val cells = r.getSeq[Int](0).toIndexedSeq
      if (cells.isEmpty) None
      else Some(ProbePlan(probes, cells, if (r.isNullAt(1)) -1 else r.getInt(1)))
    }
  }

  /** Probe the persisted index: per query the `nprobe` nearest cells
    * (stored-centroid distance in kmeans mode; the X220 rule in
    * bucketed mode), a PRUNED read of exactly the probed cells' files,
    * exact-cosine rerank, per-query top-k — [[Similarity.ivfTopK]]'s
    * plan shape with the fit and assignment scans replaced by a
    * bounded centroid read and manifest-planned file skipping.
    *
    * An EMPTY query frame returns an empty result with the right
    * schema — probing nothing is a no-op, not an error (r15: a
    * screen-before-ingest loop may legitimately see empty
    * micro-batches). `broadcastProbes` (default true) collects the
    * probe rows once and broadcasts them into the cell join — the
    * right call for the typical bounded query batch (one probe job,
    * then the probe itself); a CORPUS-SIZED probe frame (a full
    * re-screen of one table against another) should pass false and let
    * the planner/AQE pick the join (the probe side is not bounded by
    * construction here, unlike the centroid read — r15, the r14
    * review).
    *
    * `where` (r16) is FILTERED vector search: a predicate over the
    * index's attribute columns (any corpus column beyond
    * vec_id/embedding persists with the row — see [[attrCols]]),
    * applied to the pruned read BEFORE the cosine rerank, so "top-k
    * among rows WHERE p" never joins back to the corpus and never
    * widens the read beyond the probed cells (the predicate reaches
    * the parquet scan, so row-group stats skip within them too).
    * Standard filtered-ANN recall caveat, stated honestly: the probe
    * set is chosen by the query geometry alone, so a SELECTIVE filter
    * thins each probed cell's candidates rather than redirecting the
    * probe — raise `nprobe` under selective filters to recover the
    * candidate pool (in the limit, nprobe = nlist is an exact filtered
    * scan of the index). k-NULL semantics: a query whose probed cells
    * hold NO matching rows simply returns fewer than k rows — never
    * unfiltered fallback rows.
    *
    * `allowed` (r16) is the id-set form of the same filter: a
    * one-column (`vec_id`) frame semi-joined into the candidates —
    * for predicates that live OUTSIDE the index (an allow list
    * computed from another table's stats-pruned scan), where an attr
    * predicate can't reach. Composes with `where` (both must hold);
    * same recall caveat and same short-list semantics.
    */
  def ivfTopKIndexed(queries: DataFrame, path: String, k: Int = 10,
                     nprobe: Int = 4, broadcastProbes: Boolean = true,
                     where: Option[Column] = None,
                     allowed: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = queries.sparkSession
    val plan = probePlan(queries, col("embedding"), readCentroids(spark, path), nprobe,
      broadcastProbes).getOrElse {
      import spark.implicits._
      return spark.emptyDataset[(Long, Long, Long, Double)]
        .toDF("query_id", "rank", "neighbor_id", "sim")
    }
    val pruned = Warehouse.readSnapshotRuns(spark, path, "cell", plan.cells)
    val withAttr = where.fold(pruned)(pruned.filter)
    val corpusIdx = allowed.fold(withAttr)(a =>
        withAttr.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi"))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"), col("cell"))
    val scored = plan.probes.join(corpusIdx, Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        (Similarity.dot(col("qv"), col("cv"))
          / (col("qn") * Similarity.l2norm(col("cv")))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  // ---------- persisted PQ codes: the ADC sweep without raw bytes ----------

  /** The txn app id every codes commit stamps (the TextIndex
    * synced-seq discipline): its epoch records the INDEX version the
    * codes were derived against — advisory; the binding validity
    * check is the row-count equality in [[pqTopKIndexedCodes]]. */
  private val PqApp = "graft-pq-codes"

  def codesPath(path: String): String = s"${path}_codes"

  /** md5-codebook PQ encode of (cell, vec_id, embedding) rows →
    * (cell, vec_id, code[m], m, kc). The encode is
    * [[Similarity.pqTopKPortable]]'s argmax-dot rule verbatim (±1
    * codewords have constant norm, so nearest ≡ argmax of one
    * sequential dot; sort key `0.0 − dot` pins −0.0; ties on the code
    * index) — only the CODE INDEX persists, not the decoded vector.
    * `m`/`kc` ride as constant columns (RLE — ~zero bytes) so probes
    * and refreshes recover the build parameters from the table itself
    * instead of trusting the caller to repeat them. */
  private def encodePqRows(rows: DataFrame, m: Int, kc: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val subDim = dim / m
    val cb = Similarity.md5PqCodebooks(m, kc, subDim)
    // r16 optimization: the argmax-dot decision as ONE codegen kernel
    // call ([[graft.functions.PqEncodeDotExpr]]) instead of the
    // m × kc struct-array_sort tree it started as — same sequential
    // dots, same total-order tie rule, bit-identical codes (oracle
    // q_ann_pq_indexed unchanged); the expression tree shrank from
    // 128 struct branches per row to one static call.
    val v = col("embedding").cast("array<double>")
    rows.select(col("cell"), col("vec_id"),
      graft.functions.native.pqEncodeDot(v, cb).as("code"),
      lit(m).as("m"), lit(kc).as("kc"))
  }

  /** Build (or rebuild) the PQ-codes side table for the index at
    * `path` (X264, r16): every indexed vector's md5-codebook PQ code,
    * cell-range-clustered like the index itself. The 100 TB point:
    * [[ivfTopKIndexed]]'s probe reads the probed cells' RAW embedding
    * bytes (dim × 4 per row); with codes on disk the ADC sweep reads
    * m × 4-byte ints per row instead (8 × smaller at the defaults,
    * before encoding), and raw bytes are touched only for the
    * per-query SHORTLIST rerank — the standard IVF-PQ-with-refine
    * architecture, persisted. Codebooks are md5-derived (±1, the X235
    * portable rule), so there is no fit, no codebook table, and the
    * whole probe recomposes in ANSI SQL (oracle key q_ann_pq_indexed).
    */
  def buildPqCodes(spark: SparkSession, path: String, m: Int = 8,
                   kc: Int = 16): Long = {
    val ledger = centroidRows(spark, path) // torn-build check rides
    val nlist = ledger.length
    val idx = Warehouse.readSnapshot(spark, path)
      .select("cell", "vec_id", "embedding")
    val dims = idx.select(size(col("embedding")).as("d")).limit(1).collect()
    require(dims.nonEmpty, s"buildPqCodes($path): the index is empty")
    // r17: layout boundaries from the drift ledger's per-cell counts
    // (base_n + inc_n — one nlist-row driver read) instead of a range
    // exchange, whose SAMPLING pass re-ran the PQ encode over the
    // whole index once more per build. Ledger counts are advisory
    // (stale after a failed ledger fold): that shifts file sizing
    // only — placement stays contiguous-by-cell either way.
    val cellCounts = {
      val byCell = ledger.map(r => r.getAs[Int]("cell") ->
        (r.getAs[Long]("base_n") + r.getAs[Long]("inc_n"))).toMap
      Array.tabulate(nlist)(i => byCell.getOrElse(i, 0L))
    }
    val enc = BucketLayout.exchange(encodePqRows(idx, m, kc, dims.head.getInt(0)),
      col("cell"), xxhash64(col("vec_id")), cellCounts, layoutParts(spark, nlist))
    val side = codesPath(path)
    Warehouse.replaceSnapshot(enc, side,
      txn = Some((PqApp, Warehouse.currentSnapshot(spark, path))))
  }

  /** Encode ONLY index rows with no code yet and append — the X200
    * refresh shape at code grain; a replayed call no-ops by the
    * anti-join. None when the codes already cover the index. The
    * protocol is APPEND-ONLY self-healing: after `refreshIvfIndex`
    * grows the index, one call re-covers it; after a DELETE on the
    * index table the codes hold orphans this refresh cannot remove —
    * the probe's count check refuses and its message routes to
    * [[buildPqCodes]] (deletes rewrite history; a rebuild is the
    * honest price, exactly like the IVF centroids themselves).
    */
  def refreshPqCodes(spark: SparkSession, path: String): Option[Long] = {
    val (_, _, nlist) = readCentroids(spark, path)
    val side = codesPath(path)
    require(Warehouse.snapshots(spark, side).nonEmpty,
      s"refreshPqCodes($path): no codes table — buildPqCodes first")
    Warehouse.retryOnConflict() {
      val codes = Warehouse.readSnapshot(spark, side)
      val p = codes.select("m", "kc").head()
      // consumed by the append's range sampling and its write; the
      // vector width rides the same job
      val (fresh, seen) = PersistedIndex.countedCheckpoint(Warehouse.readSnapshot(spark, path)
        .select("cell", "vec_id", "embedding")
        .join(codes.select("vec_id"), Seq("vec_id"), "left_anti"),
        max(size(col("embedding"))).as("d"))
      if (seen.getLong(0) == 0L) None
      else Warehouse.appendSnapshotIfAny(
        encodePqRows(fresh, p.getInt(0), p.getInt(1), seen.getInt(1))
          .repartitionByRange(layoutParts(spark, nlist),
            col("cell"), col("vec_id")),
        side, Warehouse.currentSnapshot(spark, side),
        txn = Some((PqApp, Warehouse.currentSnapshot(spark, path))))
    }
  }

  /** IVF-PQ probe THROUGH the persisted codes (X264):
    * [[Similarity.pqTopKPortable]]'s plan shape with the encode pass
    * replaced by the stored codes — per query the probed cells, a
    * PRUNED read of those cells' CODE rows (m ints per row, never raw
    * embedding bytes), the ADC sweep as one sequential dot with the
    * PQ-decoded vector, shortlist by (adc, id), then an exact-cosine
    * rerank that reads RAW rows only for the shortlisted ids (the
    * probed cells' files, vec_id residual — row-group stats skip
    * within them since files are (cell, vec_id)-sorted). Returns
    * (query_id, rank, neighbor_id, sim, adc) — score-for-score the
    * portable twin.
    *
    * Validity gate, zero data I/O: manifest row counts of codes and
    * index must MATCH — a stale codes table (index grew: run
    * [[refreshPqCodes]]; index saw deletes: run [[buildPqCodes]])
    * refuses loudly instead of silently dropping the uncovered rows
    * from every answer.
    */
  def pqTopKIndexedCodes(queries: DataFrame, path: String, k: Int = 10,
                         nprobe: Int = 4, shortlist: Int = 50,
                         broadcastProbes: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val spark = queries.sparkSession
    val centroids = readCentroids(spark, path)
    val side = codesPath(path)
    require(Warehouse.snapshots(spark, side).nonEmpty,
      s"pqTopKIndexedCodes($path): no codes table — buildPqCodes first")
    val (rcIdx, rcCodes) = (Warehouse.snapshotRowCount(spark, path),
      Warehouse.snapshotRowCount(spark, side))
    require(rcIdx.isDefined && rcCodes.isDefined && rcIdx == rcCodes,
      s"pqTopKIndexedCodes($path): codes cover ${rcCodes.getOrElse(-1L)} rows " +
        s"but the index holds ${rcIdx.getOrElse(-1L)} — refreshPqCodes after " +
        "index growth, buildPqCodes after deletes")
    // equal TOTALS cannot prove coverage when a delete and a later
    // append net to zero between probes (r16 review): walk the index's
    // manifest rowCounts since the codes' sync stamp — still zero data
    // I/O — and refuse on any DECREASE along the chain (rows left the
    // id set after the sync; some current rows are uncoded and some
    // codes orphaned, at identical totals). Residual, documented:
    // a row-count-preserving UPDATE of an embedding is indistinguishable
    // from compaction at manifest grain — an embedding rewrite needs
    // buildPqCodes, the same contract as a delete.
    val syncedAt = Warehouse.lastCommittedEpoch(spark, side, PqApp)
    require(syncedAt.isDefined,
      s"pqTopKIndexedCodes($path): codes table carries no sync stamp — " +
        "rebuild with buildPqCodes")
    val chain = Warehouse.snapshots(spark, path).filter(_ >= syncedAt.get)
    val counts = chain.flatMap(v =>
      Warehouse.snapshotRowCount(spark, path, Some(v)).map(v -> _))
    counts.sliding(2).foreach {
      case Seq((_, a), (v, b)) =>
        require(b >= a,
          s"pqTopKIndexedCodes($path): index rowCount dropped $a -> $b at " +
            s"v=$v after the codes' last sync (v=${syncedAt.get}) — a delete " +
            "the count gate cannot see through; re-run buildPqCodes")
      case _ => ()
    }
    import spark.implicits._
    def emptyResult = spark.emptyDataset[(Long, Long, Long, Double, Double)]
      .toDF("query_id", "rank", "neighbor_id", "sim", "adc")
    val plan = probePlan(queries, col("embedding").cast("array<double>"), centroids,
      nprobe, broadcastProbes).getOrElse(return emptyResult)
    val dim = plan.dim
    val pRow = Warehouse.readSnapshot(spark, side).select("m", "kc").head()
    val (m, kc) = (pRow.getInt(0), pRow.getInt(1))
    require(dim % m == 0,
      s"pqTopKIndexedCodes($path): query dim $dim does not split into the " +
        s"codes' m=$m subspaces — wrong index for these queries")
    val subDim = dim / m
    val cb = Similarity.md5PqCodebooks(m, kc, subDim)
    // PQ-decode from the STORED code: chosen codewords looked up from
    // the codebooks, concatenated — Σⱼ qⱼ·c_codeⱼ then evaluates as
    // pqTopKPortable's ONE sequential dot (pinned order). r16: one
    // kernel call ([[graft.functions.PqDecodeExpr]]) instead of the
    // m-way concat-of-typedlit-lookups — exact codebook copies, so the
    // downstream dot is bit-identical.
    val dec = graft.functions.native.pqDecode(col("code"), cb)
    val codesRead = Warehouse.readSnapshotRuns(spark, side, "cell", plan.cells)
      .select(col("cell"), col("vec_id").as("neighbor_id"), dec.as("dec"))
    val wS = Window.partitionBy("query_id").orderBy(desc("adc"), asc("neighbor_id"))
    val short = plan.probes.join(codesRead, Seq("cell"))
      .select(col("query_id"), col("qv"), col("qn"), col("neighbor_id"),
        Similarity.dot(col("qv"), col("dec")).as("adc"))
      .withColumn("__srn", row_number().over(wS))
      .filter(col("__srn") <= shortlist)
      .localCheckpoint(true) // consumed by the id collect AND the rerank join
    // the rerank's raw read: probed cells' files, restricted to the
    // shortlisted ids — bounded by queries × shortlist by construction
    // (the same driver-scalar budget as the probe plan itself)
    val ids = short.select("neighbor_id").distinct().collect().map(_.getLong(0))
    if (ids.isEmpty) return emptyResult
    val raw = Warehouse.readSnapshotRuns(spark, path, "cell", plan.cells)
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    short.join(raw, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("adc"),
        (Similarity.dot(col("qv"), col("cv"))
          / (col("qn") * Similarity.l2norm(col("cv")))).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim", "adc")
  }
}
