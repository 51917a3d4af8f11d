package graft.store

import graft.ops.Graphs
import org.apache.spark.sql.SparkSession

/** GRAPH-VIEW MAINTENANCE TICK (X252, r15 — the r14 verdict's #6):
  * one entrypoint that keeps a graph's derived views current from its
  * edge table's change feeds, composing the X245 components the owner
  * previously wired by hand —
  *
  *  - the DEGREE view at `degPath`: maintained ALGEBRAICALLY per tick
  *    ([[Ivm.maintainDegrees]] — one feed-grain aggregate + one keyed
  *    merge; exact, ≡ a recompute over the post-bracket edge list at
  *    any churn rate);
  *  - the PPR RANKS view at `ranksPath` (optional): refreshed by the
  *    WARM-START walk ([[Graphs.refreshPersonalizedPageRank]] — rounds
  *    of the fused single-aggregate PPR round starting from the stored
  *    ranks; after j rounds the L1 distance to the new graph's
  *    stationary ranks is ≤ dʲ·‖R_old − R*‖₁, the asserted contraction
  *    bound), and only when the bracket is WORTH it: a bracket
  *    touching fewer than `refreshMinEdgeFraction` of the graph's
  *    edges leaves the ranks within tolerance anyway (the contraction
  *    argument's other half — R_old ≈ R*_new away from a small changed
  *    region), so the tick records the skip instead of paying rounds
  *    of edge-grain aggregates for noise.
  *
  * CURSOR DISCIPLINE: the bracket's upper edge version is stamped into
  * the view's OWN commit manifest (`txnApp`/`txnEpoch` — the streaming
  * sink's idempotence record, reused): the cursor and the state it
  * describes are ONE commit, so there is no separate cursor table to
  * tear, and a tick that crashes BEFORE a view's commit re-reads the
  * same bracket and re-derives the same state (the fold is
  * deterministic in (state, bracket), so re-committing it is
  * idempotent in content). EACH view keeps its own cursor (r15
  * review): a crash between the degree and ranks stamps leaves the
  * ranks cursor behind, and the next tick simply resumes that view's
  * pending bracket — nothing wedges, nothing silently skips. The one
  * non-atomicity left is the manifest publish itself (best-effort by
  * design): a commit whose cursor record failed to land would make
  * the NEXT tick re-fold an already-merged bracket, so the stamp
  * VERIFIES its record after committing and fails the tick loudly
  * when it is unreadable, naming the repair.
  *
  * FIRST tick seeds both views from the pinned current edge version
  * (full recomputes, once — [[Graphs.degrees]] and the cold
  * [[Graphs.personalizedPageRank]] walk). A CLEAN tick (cursor already
  * at the current version) reads two manifests and returns — zero data
  * bytes, the same poison-pinnable discipline as every other
  * maintenance tick. Edge commits must carry change feeds
  * (`changeFeed = true`) from the seeding version on: the feed bracket
  * read enforces the gap rule loudly.
  *
  * 100 TB shape: the steady-state tick costs the bracket's feed rows
  * (degrees) plus, when fired, `refreshRounds` edge-grain aggregates
  * (ranks) — never a degree rescan, never a cold walk.
  */
object GraphView {

  /** The txn stamp's app id: one graph-view cursor per view table. */
  private val AppId = "graft.graphview"

  case class GraphViewPolicy(
      seeds: Seq[Long] = Seq.empty,
      pprIterations: Int = 5,
      refreshRounds: Int = 2,
      refreshMinEdgeFraction: Double = 0.0,
      damping: Double = 0.85,
      weightCol: Option[String] = None)

  /** What one tick did: the degree bracket it applied, whether the
    * degree view moved, and the ranks action — `seeded` | `refreshed`
    * | `skipped_small_bracket` (stale within the contraction
    * tolerance, recorded not hidden — and the ranks CURSOR does not
    * advance, so the skipped bracket stays pending and successive
    * small brackets ACCUMULATE until the cumulative touched fraction
    * crosses the knob, r15 review) | `current` (ranks cursor already
    * at the edge head) | `none` (no ranks view) | `clean` (both views
    * current; nothing read).
    */
  case class GraphViewReport(
      fromVersion: Long,
      toVersion: Long,
      degreesMaintained: Boolean,
      ranksAction: String)

  def maintainGraphView(spark: SparkSession, edgesPath: String,
                        degPath: String, ranksPath: Option[String] = None,
                        policy: GraphViewPolicy = GraphViewPolicy()): GraphViewReport = {
    val cur = Warehouse.currentSnapshot(spark, edgesPath)
    require(cur >= 1, s"maintainGraphView($edgesPath): no committed edge snapshot")
    require(ranksPath.isEmpty || policy.seeds.nonEmpty,
      "maintainGraphView: a ranks view needs policy.seeds")
    import spark.implicits._
    def seedsDf = policy.seeds.toDF("node")
    // the cursor rides the manifest, whose publish is BEST-EFFORT
    // (reads degrade to listing) — but a LOST cursor record would make
    // the next tick re-fold an already-merged bracket (the degree fold
    // is algebraic, not idempotent), so a stamp whose record did not
    // land fails the tick LOUDLY here instead (r15 review); the error
    // names the repair (re-seed) rather than silently double-counting
    def stamp(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
      Warehouse.replaceSnapshot(df, path, txn = Some((AppId, cur)))
      require(Warehouse.lastCommittedEpoch(spark, path, AppId).contains(cur),
        s"maintainGraphView($path): the view committed but its cursor record " +
          s"(txnEpoch=$cur) did not publish — a later tick would re-fold this " +
          "bracket; re-seed the view (delete it and re-tick) before continuing")
    }
    // each view keeps its OWN cursor (r15 review): a crash between the
    // two stamps must not wedge or silently skip the other view, and a
    // skipped ranks refresh must keep its bracket PENDING
    val degAt = Warehouse.lastCommittedEpoch(spark, degPath, AppId)
    val (degFrom, degMoved) = degAt match {
      case None =>
        // first tick: seed from the pinned edge version — the one full
        // recompute the view ever pays
        stamp(Graphs.degrees(
          Warehouse.readSnapshot(spark, edgesPath, Some(cur))), degPath)
        (cur, true)
      case Some(at) if at >= cur => (at, false)
      case Some(at) =>
        val feed = Warehouse.readChangeFeed(spark, edgesPath, at + 1, cur)
          .drop("_commit_version")
        stamp(Ivm.maintainDegrees(
          Warehouse.readSnapshot(spark, degPath), feed), degPath)
        (at + 1, true)
    }
    val ranksAction = ranksPath.map { rp =>
      Warehouse.lastCommittedEpoch(spark, rp, AppId) match {
        case None =>
          stamp(Graphs.personalizedPageRank(
            Warehouse.readSnapshot(spark, edgesPath, Some(cur)), seedsDf,
            policy.pprIterations, policy.damping,
            weightCol = policy.weightCol), rp)
          "seeded"
        case Some(rAt) if rAt >= cur => "current"
        case Some(rAt) =>
          // the PENDING bracket: everything since the last refresh,
          // not just this tick's — skips accumulate here. Touched
          // fraction over the current edge count, a manifest field
          // (zero data I/O).
          val feedR = Warehouse.readChangeFeed(spark, edgesPath, rAt + 1, cur)
          val touched = feedR.select("a", "b").distinct().count()
          val total = math.max(1L,
            Warehouse.snapshotRowCount(spark, edgesPath, Some(cur))
              .getOrElse(Warehouse.readSnapshot(spark, edgesPath, Some(cur)).count()))
          if (touched.toDouble / total >= policy.refreshMinEdgeFraction) {
            stamp(Graphs.refreshPersonalizedPageRank(
              Warehouse.readSnapshot(spark, edgesPath, Some(cur)), seedsDf,
              Warehouse.readSnapshot(spark, rp),
              policy.refreshRounds, policy.damping, policy.weightCol), rp)
            "refreshed"
          } else "skipped_small_bracket"
      }
    }.getOrElse("none")
    if (!degMoved && (ranksAction == "none" || ranksAction == "current"))
      GraphViewReport(degFrom, cur, degreesMaintained = false, "clean")
    else GraphViewReport(degFrom, cur, degMoved, ranksAction)
  }
}
