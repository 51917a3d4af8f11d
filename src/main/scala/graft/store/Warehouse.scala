package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Warehouse write semantics on plain parquet — the reference's three
  * SQLite write paths re-expressed relationally (SURVEY.md §2.1
  * S8/S9/S10):
  *
  *  - S8 insertIfAbsent: `INSERT OR IGNORE` against a UNIQUE index
  *    (dag_btc_daily.py:147-156) — FIRST write wins, replays are
  *    no-ops. Relational form: existing ∪ (incoming ⟕̸ existing), i.e.
  *    left-anti join + union.
  *  - S9 upsert: `ON CONFLICT(key) DO UPDATE SET <subset>`
  *    (dag:219-230) — LAST write wins on the key, but ONLY the listed
  *    columns are updated; the rest (the indicator columns) are
  *    preserved. Relational form: full outer join + per-column
  *    coalesce(new, old).
  *  - S10 overwrite: `BEGIN; DELETE; INSERT` full transactional
  *    rewrite (dag:287-295) — mode("overwrite") dir swap.
  *
  * Scale: the incoming batch is tiny relative to the table (≤24 rows/
  * day/asset in the reference), so both joins broadcast the incoming
  * side — verified BroadcastHashJoin, no shuffle of the big table.
  * At 100 TB the table is date-partitioned parquet and the
  * read-modify-write touches only the partitions present in the
  * incoming batch (partition-pruned via a dynamic `date IN (...)`
  * pushdown); concurrency is single-writer by design, mirroring
  * SQLite's writer serialization (SURVEY.md §3.3).
  */
object Warehouse {

  /** S8: append only the incoming rows whose key is not already
    * present. First-wins: an existing row is never touched.
    */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val fresh = incoming.join(broadcast(existing.select(keys.map(col): _*).distinct()),
      keys, "left_anti")
    existing.unionByName(fresh)
  }

  /** S9: keyed upsert, last-write-wins on `keys`, updating ONLY
    * `updateCols`; all other columns keep their existing values (new
    * rows get NULL there). Mirrors dag_btc_daily.py:219-230 where the
    * OHLC upsert must not clobber ret/ma7/ma30/vol30.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             updateCols: Seq[String]): DataFrame = {
    // No broadcast hint: BroadcastHashJoin cannot build a FULL OUTER
    // join, so a hint would degrade to BroadcastNestedLoopJoin. The
    // shuffle here is keyed on the upsert key and both sides are
    // aggregate-table sized; at 100 TB the real form is dynamic
    // partition overwrite of just the dates present in `incoming`.
    val ex = existing.alias("old")
    val in = incoming.alias("new")
    val preservedCols = existing.columns.filterNot(c => keys.contains(c) || updateCols.contains(c))
    val joined = ex.join(in, keys.map(k => col(s"old.$k") === col(s"new.$k")).reduce(_ && _), "full_outer")
    joined.select(
      keys.map(k => coalesce(col(s"new.$k"), col(s"old.$k")).as(k)) ++
      updateCols.map(c => coalesce(col(s"new.$c"), col(s"old.$c")).as(c)) ++
      preservedCols.map(c => col(s"old.$c").as(c)): _*)
  }

  /** One ordered clause of a [[mergeInto]] — the Delta/Iceberg MERGE
    * surface shape. Conditions are evaluated over the joined row with
    * the target aliased `t` and the source aliased `s` (write
    * `col("s.close") > col("t.close")`); among the clauses that apply
    * to a row, the FIRST in sequence wins (SQL:2003 MERGE / Delta
    * clause-order semantics).
    */
  sealed trait MergeClause
  /** Matched rows satisfying `cond`: replace each column in `set` with
    * its expression (over `t.*`/`s.*`); unlisted columns keep their
    * target values.
    */
  final case class UpdateWhen(cond: Column,
                              set: Map[String, Column]) extends MergeClause
  /** Matched rows satisfying `cond`: drop the target row. */
  final case class DeleteWhen(cond: Column) extends MergeClause
  /** Source rows with no target match satisfying `cond`: insert, taking
    * each target column from the same-named source column (NULL where
    * the source lacks it). Reference only `s.*` in the condition — the
    * `t` side is all-NULL here by construction.
    */
  final case class InsertWhen(cond: Column) extends MergeClause

  /** Multi-clause MERGE INTO — the general form S8/S9 are special
    * cases of (insertIfAbsent = one unconditional InsertWhen; upsert =
    * unconditional UpdateWhen + InsertWhen), completing the
    * Delta/Iceberg-style write surface next to [[commitSnapshot]]:
    * conditional update, conditional delete, and conditional insert in
    * one relational pass. Pure function like its siblings: returns the
    * merged table for the caller to land via [[rewriteAtomic]] /
    * [[commitSnapshot]] / [[overwritePartitions]].
    *
    * Semantics (SQL:2003 MERGE / Delta):
    *  - target rows with no source match are kept untouched;
    *  - matched rows take the FIRST Update/Delete clause whose
    *    condition holds (none → kept untouched);
    *  - unmatched source rows take the first Insert clause whose
    *    condition holds (none → dropped);
    *  - a source with duplicate merge keys is rejected up front (the
    *    multiple-match row would be non-deterministically updated —
    *    the error Delta raises), at the cost of one aggregate
    *    pass over the SOURCE (the small side: a batch, not the table).
    *    DELIBERATE DEVIATION from Delta, documented here: Delta errors
    *    only when a duplicate key actually matches a target row
    *    (unmatched duplicates insert as distinct rows); this check is
    *    stricter and rejects unmatched duplicates too. Scoping it to
    *    actual matches would need a semi-join against the TARGET —
    *    an eager pass over the big side on every call — and a source
    *    batch carrying the same key twice is virtually always an
    *    upstream dedup bug, so the strict form both fails earlier and
    *    costs less. The check repeats per call (each SnapshotMerge
    *    conflict retry re-validates the same batch); dedup the source
    *    once upstream if that pass matters.
    *
    * Scale shape: one full-outer join keyed on the merge keys — same
    * posture as [[upsert]] (no broadcast hint: BroadcastHashJoin
    * cannot build full-outer, a hint would degrade to nested-loop).
    * At 100 TB compose with partition pruning: merge only the
    * partitions present in the source batch, then land them via
    * [[overwritePartitions]] — the join never touches the rest of the
    * table.
    */
  def mergeInto(target: DataFrame, source: DataFrame, keys: Seq[String],
                clauses: Seq[MergeClause]): DataFrame = {
    require(keys.nonEmpty && clauses.nonEmpty, "mergeInto needs keys and at least one clause")
    // uniqueness applies to IDENTITY-bearing rows only: NULL-keyed
    // source rows match no target row (each is an unambiguous insert
    // candidate), so two of them are not a multiple-match hazard —
    // groupBy would wrongly fold them into one NULL group
    require(source.filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(col): _*).count().filter(col("count") > 1).isEmpty,
      s"mergeInto: source is not unique on merge keys (${keys.mkString(", ")}); " +
        "a target row would match multiple source rows non-deterministically")
    // presence markers instead of key-null probes: NULL merge keys must
    // read as "unmatched", not poison the matched test
    val t = target.withColumn("__t", lit(true)).alias("t")
    val s = source.withColumn("__s", lit(true)).alias("s")
    val joined = t.join(s,
      keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _), "full_outer")
    val KEEP = -1
    val DROP = -2
    // first-clause-wins: fold right so earlier clauses sit outermost
    val matchedAction = clauses.zipWithIndex.foldRight(lit(KEEP)) {
      case ((UpdateWhen(c, _), i), els) => when(c, lit(i)).otherwise(els)
      case ((DeleteWhen(c), i), els) => when(c, lit(i)).otherwise(els)
      case (_, els) => els
    }
    val insertAction = clauses.zipWithIndex.foldRight(lit(DROP)) {
      case ((InsertWhen(c), i), els) => when(c, lit(i)).otherwise(els)
      case (_, els) => els
    }
    val action = when(col("t.__t").isNotNull && col("s.__s").isNotNull, matchedAction)
      .when(col("t.__t").isNull, insertAction)
      .otherwise(lit(KEEP))
    val dropped = clauses.zipWithIndex.collect {
      case (DeleteWhen(_), i) => col("__action") === i
    }.foldLeft(col("__action") === DROP)(_ || _)
    val out = target.schema.map { f =>
      val fromSource =
        if (source.columns.contains(f.name)) col(s"s.${f.name}").cast(f.dataType)
        else lit(null).cast(f.dataType)
      clauses.zipWithIndex.foldLeft(col(s"t.${f.name}")) {
        case (acc, (UpdateWhen(_, set), i)) if set.contains(f.name) =>
          when(col("__action") === i, set(f.name).cast(f.dataType)).otherwise(acc)
        case (acc, (InsertWhen(_), i)) =>
          when(col("__action") === i, fromSource).otherwise(acc)
        case (acc, _) => acc
      }.as(f.name)
    }
    joined.withColumn("__action", action).filter(!dropped).select(out: _*)
  }

  /** Row-level diff of two keyed table states — the change-data-feed
    * shape (Delta CDF / Iceberg changelog): emits each row present in
    * exactly one side, or present in both with any non-key column
    * changed, tagged `_change_type` ∈ insert/update/delete. Inserts
    * and updates carry the NEW values, deletes the OLD — the rows a
    * downstream incremental consumer must apply to catch up, without
    * rescanning the table. Unchanged rows are absent by construction.
    *
    * Scale shape: one full-outer join on the keys plus a null-safe
    * struct comparison of the non-key columns — no row-level hashing
    * pass, no second scan of either side. The change feed of a 100 TB
    * table is one keyed join of two snapshots; partition-prune both
    * sides first when the writer touches bounded partitions
    * ([[overwritePartitions]] patterns).
    */
  def diffFrames(oldDf: DataFrame, newDfIn: DataFrame, keys: Seq[String],
                 preImages: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "diffFrames needs at least one key column")
    // schema compatibility = same column NAMES and TYPES — deliberately
    // insensitive to nullability and field order, which routine
    // operators flip without changing the data (union and outer join
    // widen nullability, readEvolving reorders); requiring StructType
    // equality rejected logically identical states spuriously (r8
    // advice). catalogString prints nested types without nullable
    // flags, so nested-struct nullability drift is tolerated too.
    // Sorted SEQ, not a Map: a Map keyed on name collapses duplicate
    // column names, so frames differing in duplicate-column
    // multiplicity slipped past the check and died later on an
    // ambiguous-reference error instead of this message (r9 advice).
    def typeMap(df: DataFrame) = df.schema.map(f => f.name -> f.dataType.catalogString).sorted
    require(typeMap(oldDf) == typeMap(newDfIn),
      s"diffFrames: column names/types differ (use appendEvolving/readEvolving conventions first): " +
        s"${oldDf.schema.simpleString} vs ${newDfIn.schema.simpleString}")
    val newDf = newDfIn.select(oldDf.columns.map(col).toIndexedSeq: _*)
    // the feed covers IDENTITY-BEARING rows only: a NULL merge key can
    // be matched by nothing (not even another NULL), so including such
    // rows would emit a phantom delete+insert pair for an UNCHANGED
    // row on every diff — and the delete side could never retire
    // anything in applyChangeFeed, duplicating the row once per
    // diff/apply cycle. Excluded from BOTH sides, the round-trip law
    // holds exactly on the keyed subspace and NULL-keyed rows are
    // carried by neither feed nor retirement (spec-pinned).
    val keyed = keys.map(col(_).isNotNull).reduce(_ && _)
    val nonKeys = oldDf.columns.filterNot(keys.contains)
    val o = oldDf.filter(keyed).withColumn("__o", lit(true)).alias("o")
    val n = newDf.filter(keyed).withColumn("__n", lit(true)).alias("n")
    val joined = o.join(n,
      keys.map(k => col(s"o.$k") === col(s"n.$k")).reduce(_ && _), "full_outer")
    val changed =
      if (nonKeys.isEmpty) lit(false) // key-only table: presence IS the state
      else !(struct(nonKeys.map(c => col(s"o.$c")): _*) <=>
             struct(nonKeys.map(c => col(s"n.$c")): _*))
    val changeType = when(col("o.__o").isNull, lit("insert"))
      .when(col("n.__n").isNull, lit("delete"))
      .when(changed, lit("update"))
    val side = (c: String) => when(col("n.__n").isNotNull, col(s"n.$c")).otherwise(col(s"o.$c")).as(c)
    if (!preImages)
      joined.withColumn("_change_type", changeType)
        .filter(col("_change_type").isNotNull)
        .select(oldDf.columns.map(side) :+ col("_change_type"): _*)
    else {
      // Delta-CDF 4-type vocabulary: each update additionally emits its
      // OLD row as `update_preimage` — the row an ALGEBRAIC consumer
      // (sum/count maintenance, [[Ivm.maintainAggregate]])
      // must SUBTRACT, which the post-only feed cannot supply. Emitted
      // in the same single join pass via a 2-element explode (two
      // projections of one joined frame would compute the join twice);
      // non-update rows' second element carries a NULL type and is
      // filtered. [[applyChangeFeed]] ignores preimage rows by
      // construction (it filters on the other three types).
      val changeRow = struct(
        oldDf.columns.map(side) :+ changeType.as("_change_type"): _*)
      val preRow = struct(
        oldDf.columns.map(c => col(s"o.$c").as(c)) :+
          when(changeType === "update", lit("update_preimage"))
            .as("_change_type"): _*)
      joined.select(explode(array(changeRow, preRow)).as("r"))
        .filter(col("r._change_type").isNotNull)
        .select(col("r.*"))
    }
  }

  /** Consumer side of the change feed: apply a [[diffFrames]] output
    * to a table state — deletes and updates retire their target rows
    * (one anti-join on the BROADCAST feed keys: the feed is a batch,
    * the target is the table), inserts and updates land their feed
    * rows. Round-trip law, spec-pinned:
    * `applyChangeFeed(old, diffFrames(old, new)) ≡ new` — the contract
    * that lets a downstream 100 TB replica stay in sync reading only
    * feeds. NULL merge keys carry no identity (the standard CDC
    * assumption, as in [[mergeInto]]): [[diffFrames]] excludes
    * NULL-keyed rows from the feed, and the retire join here cannot
    * match them — such rows in the target simply persist untouched.
    * The broadcast hint assumes the batch-sized feed; for a
    * table-sized backfill feed drop the hint and let the keyed
    * shuffle join plan it.
    */
  def applyChangeFeed(target: DataFrame, feed: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "applyChangeFeed needs at least one key column")
    val retired = feed.filter(col("_change_type").isin("delete", "update"))
      .select(keys.map(col): _*)
    val landed = feed.filter(col("_change_type").isin("insert", "update"))
      .drop("_change_type")
    target.join(broadcast(retired), keys, "left_anti").unionByName(landed)
  }

  /** Change feed between two committed snapshot versions of a
    * [[writeSnapshot]]/[[commitSnapshot]] table: [[diffFrames]] over
    * the two pinned version reads.
    *
    * MANIFEST-PRUNED (r10): a file both manifests reference under the
    * same root-relative identity is byte-identical in both versions
    * ([[deleteWhere]]/[[updateWhere]]/[[rollbackSnapshot]] carry
    * untouched files by reference), so its rows can never appear in
    * the feed — with per-version key uniqueness (the CDC contract
    * [[diffFrames]] already assumes), a key living in a shared file
    * lives NOWHERE else in either version. Both sides therefore read
    * ONLY their non-shared files: after a one-key erase on a 100 TB
    * table, the diff scans the one rewritten file and its
    * predecessor, not the table — the feed costs what CHANGED. Falls
    * back to full reads when either manifest is missing.
    *
    * SHARPENED CONTRACT (advice r10): pruning upgrades the per-version
    * key-uniqueness assumption from "duplicate keys join-multiply the
    * feed" (the unpruned failure mode, noisy and visible) to
    * "duplicate keys can SILENTLY corrupt the feed": if a key has one
    * copy in a shared carried-by-reference file and another in a
    * rewritten file, both sides exclude the shared copy and the feed
    * emits phantom insert/update/delete rows the unpruned diff would
    * not. Tables that cannot guarantee per-version key uniqueness
    * (e.g. raw append logs diffed on a business key) must pass
    * `pruneShared = false` to force full-version reads — correct under
    * duplicates at full-scan cost.
    */
  def snapshotDiff(spark: SparkSession, path: String, fromVersion: Long, toVersion: Long,
                   keys: Seq[String], pruneShared: Boolean = true): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // each manifest read ONCE, pruning all-or-nothing (review r10: a
    // transient re-read failure on one side falling back to a FULL
    // read while the other stays pruned would emit a phantom feed row
    // for every shared-file row — silent CDC corruption; parsed nodes
    // are threaded through instead, and if either manifest is absent
    // BOTH sides read full)
    (readManifest(fs, path, fromVersion), readManifest(fs, path, toVersion)) match {
      case (Some(a), Some(b)) =>
        val shared0 =
          if (!pruneShared) Set.empty[String]
          else normEntries(a, fromVersion).toSet intersect
            normEntries(b, toVersion).toSet
        // deletion vectors (X189) break "shared entry = identical
        // rows": a dv commit carries every file by reference but
        // changes their EFFECTIVE rows. When the two versions' dv
        // state differs, every dv-touched entry is demoted from the
        // shared set — both sides then read it dv-aware and the diff
        // sees its true rows (conservative, driver-side, zero I/O).
        val (dvA, dvB) = (readDvState(a), readDvState(b))
        val shared =
          if (dvA == dvB) shared0
          else shared0 -- (dvA.toSeq ++ dvB.toSeq).flatMap(_.files.map(_._1))
        diffFrames(
          bridgeAcrossSchema(
            manifestPlannedRead(spark, path, fromVersion, a, shared),
            a, b, keys, s"snapshotDiff($path, $fromVersion..$toVersion)"),
          manifestPlannedRead(spark, path, toVersion, b, shared), keys)
      case _ =>
        diffFrames(readSnapshot(spark, path, Some(fromVersion)),
          readSnapshot(spark, path, Some(toVersion)), keys)
    }
  }

  /** Diff across a schema change (X201): the from-side frame projected
    * into the TO manifest's logical schema through the one identity
    * both sides share — the PHYSICAL column name frozen in the files.
    * A renamed column bridges (same physical, new logical); a column
    * added after `from` reads NULL on the from side (so its values
    * surface as updates, exactly what a recompute would say); a
    * column dropped before `to` leaves the feed with the schema it no
    * longer has. Diff keys must bridge — a key column that did not
    * exist at `from` would make every old row a phantom, so it is
    * refused loudly. No schema change = the frame unchanged.
    */
  private def bridgeAcrossSchema(fromDf: DataFrame,
                                 mFrom: com.fasterxml.jackson.databind.JsonNode,
                                 mTo: com.fasterxml.jackson.databind.JsonNode,
                                 keys: Seq[String], ctx: String): DataFrame = {
    val schemaFrom = org.apache.spark.sql.types.DataType
      .fromJson(mFrom.get("schema").toString).asInstanceOf[StructType]
    val schemaTo = org.apache.spark.sql.types.DataType
      .fromJson(mTo.get("schema").toString).asInstanceOf[StructType]
    val (mapFrom, mapTo) = (columnMapOf(mFrom), columnMapOf(mTo))
    if (schemaFrom == schemaTo && mapFrom == mapTo) return fromDf
    val physToLogicalFrom = physToLogical(schemaFrom, mapFrom)
    val bridged = schemaTo.fields.map { f =>
      physToLogicalFrom.get(physicalName(mapTo, f.name)) match {
        case Some(oldName) => col(oldName).cast(f.dataType).as(f.name)
        case None =>
          require(!keys.contains(f.name),
            s"$ctx: diff key '${f.name}' did not exist at the from-version " +
              "(its physical column is absent) — every old row would be a phantom; " +
              "diff within each schema era instead")
          lit(null).cast(f.dataType).as(f.name)
      }
    }
    fromDf.select(bridged.toIndexedSeq: _*)
  }

  /** Reclaim the debris multi-writer operation leaves behind: staging
    * dirs and pointer temps from crashed or conflict-losing
    * [[commitSnapshot]]/[[writeSnapshot]] writers (`_staging-*`,
    * `_latest.tmp` and tagged `_latest.tmp-*`), whose NEWEST content
    * is older than `graceMs` (mirror of the commit protocol's orphan
    * lease — never reap a LIVE writer's staging mid-flight).
    * Committed `v=*` data, the `_latest` pointer, and
    * commit markers are never touched — markers record claimed
    * versions, deleting one would let a later writer re-claim history.
    * Returns the deleted paths.
    */
  def vacuum(spark: SparkSession, path: String, graceMs: Long = 600000L): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val now = System.currentTimeMillis()
    val debris = fs.listStatus(root).toSeq.filter { st =>
      val name = st.getPath.getName
      (name.startsWith("_staging-") ||
        name == "_latest.tmp" || name.startsWith("_latest.tmp-")) &&
        now - newestMtime(fs, st.getPath) > graceMs
    }.filter(st => fs.delete(st.getPath, true)).map(_.getPath.toString)
    // a file-sharing ([[deleteWhere]]) version that crashed between
    // promote and manifest publish: `_partial` present, manifest
    // absent. The version is unreadable by design (the manifest was
    // its commit record) — reap it past the grace so currentSnapshot
    // stops resolving to a dead end, and release its claim marker so
    // the version number can be re-claimed. EXCEPT when any LIVE
    // manifest still references files inside the dir (review r10 #2:
    // an expire that crashed after deleting an old version's manifest
    // but before its sweep leaves `_partial` + no manifest on a dir a
    // later version's data depends on — that dir is expire's to finish,
    // never vacuum's to reap).
    val partialCandidates = fs.listStatus(root).toSeq.filter { st =>
      st.isDirectory && st.getPath.getName.matches("v=\\d+") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_partial")) &&
        !fs.exists(manifestPath(path, st.getPath.getName.drop(2).toLong)) &&
        now - newestMtime(fs, st.getPath) > graceMs
    }
    // "referenced" includes SIDECARS, not just data entries (review
    // r11): a dv-commit version owns no data files, so a reference
    // check on manifestEntries alone would let vacuum reap a `_dv`
    // (or `_idx`) dir that live manifests still subtract/probe —
    // unrecoverable position loss. Same reachability rule expire uses.
    val referenced: Set[String] =
      if (partialCandidates.isEmpty) Set.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("_manifest-v")).map(_.stripPrefix("_manifest-v").toLong)
        .flatMap(mv => readManifest(fs, path, mv).toSeq.flatMap(m =>
          manifestEntries(m).filter(_.contains("/")) ++
            readDvState(m).toSeq.flatMap(_.refs) ++
            readIdxState(m).map(_.ref).toSeq)).toSet
    val partials = partialCandidates.filter { st =>
      val name = st.getPath.getName
      !referenced.exists(_.startsWith(s"$name/")) && {
        val ok = fs.delete(st.getPath, true)
        if (ok) fs.delete(new org.apache.hadoop.fs.Path(
          s"$path/_commit-v${name.drop(2)}"), false)
        ok
      }
    }.map(_.getPath.toString)
    debris ++ partials
  }

  // staleness from the NEWEST entry anywhere under the candidate, not
  // the root dir's mtime: a long parquet write lands task files in
  // nested _temporary attempt dirs without touching the root mtime,
  // so a root-mtime lease would reap a LIVE writer's staging the
  // moment its write outlives the grace
  private def newestMtime(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path): Long = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) st.getModificationTime
    else (st.getModificationTime +:
      fs.listStatus(p).toSeq.map(c => newestMtime(fs, c.getPath))).max
  }

  /** Reap crashed-[[rewriteAtomic]] debris across a TABLE tree — the
    * `<dir>.staging-<tag>` / `<dir>.retired-<tag>` siblings a crash
    * leaves next to a rewrite destination (the table root's own
    * siblings included, and partition dirs at any nesting) — after
    * REPAIRING first: a crash between retire and promote leaves the
    * destination missing and the retired dir holding the table's only
    * data, so a stale `retired` whose destination is gone is RENAMED
    * BACK (restore), never deleted; only then is stale staging/retired
    * debris reaped. Everything respects `graceMs` measured from the
    * newest entry under the candidate (same live-writer lease as
    * [[vacuum]]) — a live rewrite's dirs are never touched. Distinct
    * from [[vacuum]], which serves the snapshot layout's `_staging-*`
    * protocol. Returns the reaped paths.
    */
  def vacuumTable(spark: SparkSession, path: String, graceMs: Long = 600000L): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    val debrisRe = """^(.+)\.(staging|retired)-[0-9a-f]{8}$""".r
    val reaped = Seq.newBuilder[String]
    def handle(st: org.apache.hadoop.fs.FileStatus, base: String, kind: String): Unit = {
      if (now - newestMtime(fs, st.getPath) <= graceMs) return // live lease
      val dest = new org.apache.hadoop.fs.Path(st.getPath.getParent, base)
      if (kind == "retired" && !fs.exists(dest)) fs.rename(st.getPath, dest)
      else if (fs.delete(st.getPath, true)) reaped += st.getPath.toString
    }
    def sweep(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) st.getPath.getName match {
          case debrisRe(base, kind) => handle(st, base, kind)
          case _ => sweep(st.getPath)
        }
      }
    // the root's own crash debris lives NEXT TO `path`, in its parent;
    // process `retired` before `staging` so the restore (if any) wins
    if (root.getParent != null && fs.exists(root.getParent))
      fs.listStatus(root.getParent).toSeq
        .filter(st => st.isDirectory && (
          st.getPath.getName.startsWith(s"${root.getName}.retired-") ||
            st.getPath.getName.startsWith(s"${root.getName}.staging-")))
        .sortBy(st => !st.getPath.getName.contains(".retired-"))
        .foreach { st =>
          st.getPath.getName match {
            case debrisRe(base, kind) => handle(st, base, kind)
            case _ => ()
          }
        }
    if (fs.exists(root)) sweep(root)
    reaped.result()
  }

  /** Schema-evolution append: land a batch whose schema ADDS columns
    * to (or drops columns from) the table's, failing fast when a
    * SHARED column changed type — the incompatibility parquet
    * `mergeSchema` would otherwise surface as a read error much later,
    * on whichever query first touches the drifted files. Widening is
    * the normal corpus-pipeline motion (a new quality signal, a new
    * provenance tag); silent type drift is the operator error.
    * Read back through [[readEvolving]]; old files' missing columns
    * surface as NULL.
    */
  def appendEvolving(df: DataFrame, path: String): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(dest)) {
      val existing = readEvolving(df.sparkSession, path).schema
      val incoming = df.schema
      val drift = existing.flatMap(e => incoming.find(_.name == e.name)
        .filter(_.dataType != e.dataType).map(i => s"${e.name}: ${e.dataType} -> ${i.dataType}"))
      require(drift.isEmpty,
        s"appendEvolving($path): shared columns changed type (${drift.mkString("; ")})")
    }
    df.write.mode(SaveMode.Append).parquet(path)
    SchemaCache.invalidate(path)
  }

  /** Union-schema read of an evolved table: per-file footers merged,
    * absent columns NULL-filled. Costs a footer read per file instead
    * of per table — pair with [[compact]] to keep file counts sane.
    */
  def readEvolving(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** S10: atomic full rewrite. */
  def overwrite(df: DataFrame, path: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    SchemaCache.invalidate(path) // a full rewrite may change the schema
  }

  /** Read-modify-write rewrite of a LIVE path (`df` still reads from
    * `path`): write to a `path.staging-<tag>` sibling first, then swap
    * it in by two renames (retire the live dir, promote the staged one)
    * — the parquet analog of the reference's BEGIN/DELETE/INSERT
    * transaction (dag_btc_daily.py:287-295). The overwrite-in-place
    * alternative (cache + count as a barrier) is not durable: block
    * eviction or executor loss after the old files are deleted forces
    * recomputation from a half-rewritten source.
    *
    * `check` runs after the staged write and before the swap — the
    * place for a guard read from metrics observed during that write
    * ([[observeCount]]): if it throws, the live table is untouched.
    * When the write or `check` throws, the staging dir is deleted and
    * the original exception rethrown.
    *
    * Each rename is atomic on HDFS/POSIX, the swap as a whole is not:
    * between retire and promote `path` does not exist, and a crash in
    * that window leaves the table's only data in `path.retired-<tag>`,
    * which [[vacuumTable]] renames back. (The append publish of
    * [[appendAtomic]] is a single rename and has no such window.) On
    * object stores swap the table POINTER (catalog/manifest) instead —
    * same two-phase shape.
    */
  def rewriteAtomic(df: DataFrame, path: String, check: () => Unit = () => ()): Unit = {
    val spark = df.sparkSession
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path.staging-$tag")
    val retired = new org.apache.hadoop.fs.Path(s"$path.retired-$tag")
    try {
      stagedWrite(spark)(df.write.mode(SaveMode.Overwrite).parquet(staging.toString))
      check()
    } catch {
      case e: Throwable =>
        try fs.delete(staging, true) catch { case d: Throwable => e.addSuppressed(d) }
        throw e
    }
    val existed = fs.exists(dest)
    if (existed) require(fs.rename(dest, retired), s"cannot retire $dest")
    require(fs.rename(staging, dest), s"cannot promote $staging")
    if (existed) fs.delete(retired, true)
    SchemaCache.invalidate(path) // a full rewrite may change the schema
  }

  /** Run a write into a staging dir. When the write's job fails, its
    * other tasks keep running after the abort and can still create
    * dirs or files under the staging dir, so on failure this waits, up
    * to 30 s, until no task of the write's jobs is active: the caller's
    * delete of the staging dir then leaves nothing behind.
    */
  private def stagedWrite(spark: SparkSession)(write: => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"graft-staged-write-${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    try write
    catch {
      case e: Throwable =>
        val st = sc.statusTracker
        def active = st.getJobIdsForTag(tag).iterator.flatMap(st.getJobInfo(_))
          .flatMap(_.stageIds).flatMap(st.getStageInfo(_)).exists(_.numActiveTasks > 0)
        val deadline = System.nanoTime() + java.util.concurrent.TimeUnit.SECONDS.toNanos(30)
        while (active && System.nanoTime() < deadline) Thread.sleep(10)
        throw e
    } finally sc.removeJobTag(tag)
  }

  /** Append-only landing of a batch into the parquet table at `path`,
    * writing O(batch) bytes instead of [[rewriteAtomic]]'s O(table):
    * the batch is staged in a `path.staging-<tag>` sibling (crash
    * debris [[vacuumTable]] reaps), its rows counted by a metric
    * observed on that same write (no job of its own), then each staged
    * data file is renamed into `path` — a batch written as one
    * partition publishes with a single rename, so readers see all of
    * it or none of it. The first batch of a new table renames the
    * staged dir itself into place. A zero-row batch publishes nothing.
    * The staging dir is gone when this returns or throws. Returns the
    * rows appended. Single writer per table, like rewriteAtomic.
    */
  def appendAtomic(df: DataFrame, path: String): Long = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(
      s"$path.staging-${java.util.UUID.randomUUID().toString.take(8)}")
    val (counted, rows) = observeCount(df)
    try {
      stagedWrite(df.sparkSession)(counted.write.parquet(staging.toString))
      val n = rows()
      if (n > 0) {
        if (!fs.exists(dest)) require(fs.rename(staging, dest), s"cannot promote $staging")
        else fs.listStatus(staging).map(_.getPath)
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
          .foreach(f => require(fs.rename(f, new org.apache.hadoop.fs.Path(dest, f.getName)),
            s"cannot publish $f"))
      }
      n
    } finally fs.delete(staging, true)
  }

  /** `df` plus a row counter that rides on whichever action next runs
    * it — a `Dataset.observe` metric, so the count costs no job of its
    * own. Read the count only after that action; a count whose metrics
    * never arrive fails loudly instead of blocking. The metrics row is
    * empty when adaptive execution found the observed branch empty and
    * dropped it from the final plan; that reads as 0.
    */
  def observeCount(df: DataFrame): (DataFrame, () => Long) = {
    val seen = org.apache.spark.sql.Observation()
    (df.observe(seen, count(lit(1)).as("rows")), () => {
      val row = scala.concurrent.Await.result(seen.future, scala.concurrent.duration.Duration(60, "s"))
      if (row.length == 0) 0L else row.getLong(0)
    })
  }

  /** Delta-style CHECK constraints on a snapshot table — declared
    * once, enforced on every row-writing commit path
    * ([[writeSnapshot]]/[[commitSnapshot]]/[[appendSnapshot]] and the
    * [[deleteWhere]]/[[updateWhere]]/[[mergeIntoSnapshot]] rewrites)
    * by a `raise_error` filter FUSED INTO the write plan — zero extra
    * jobs, zero extra scans: the batch is validated by the same pass
    * that writes it, and a violating row aborts the write before any
    * commit with the constraint name and the row as JSON. SQL-standard
    * NULL semantics: a constraint fails only when its predicate is
    * FALSE (NULL passes). Stored as one root-level `_constraints`
    * JSON, overwrite-renamed (last writer wins, never absent
    * mid-swap); [[optimizeSnapshot]]/[[rollbackSnapshot]]/
    * [[compactSnapshot]]'s inputs are already-committed rows, but the
    * two rewriters route through [[commitSnapshot]] and revalidate —
    * the belt Delta also wears.
    */
  /** Serialize the read-modify-write of a root RULES file (review
    * r11): `_constraints`/`_generated` are single gate files with no
    * CAS of their own, so two concurrent ALTERs would silently drop
    * one rule from the enforcement gate (last rename wins). Exclusive
    * create of `_ddl-lock`, bounded wait, stale locks broken past the
    * grace (a crashed ALTER must not wedge DDL forever).
    *
    * Stale-lock breaking is RENAME-CLAIMED (review r12): a bare
    * check-then-delete races — between the staleness check and the
    * delete, the stale holder can release and ANOTHER alter re-acquire,
    * and the delete then kills the fresh holder's lock (two writers
    * proceed, reintroducing the lost-rule race). Instead the breaker
    * renames the lock to a unique breaker-owned name — atomic, exactly
    * one breaker wins, and a lock re-created in the window is a
    * DIFFERENT file the rename never touches — then re-verifies
    * staleness on the claimed file (rename preserves mtime): verified
    * stale → delete and retry the acquire; actually fresh (re-created
    * inside the check→rename window) → rename it straight back.
    */
  private def withDdlLock[T](fs: org.apache.hadoop.fs.FileSystem, path: String,
                             graceMs: Long = 600000L)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(s"$path/_ddl-lock")
    val deadline = System.currentTimeMillis() + 30000L
    var acquired = false
    while (!acquired) {
      acquired =
        try { val o = fs.create(lock, false); o.close(); true }
        catch {
          case _: java.io.IOException =>
            val stale =
              try System.currentTimeMillis() -
                fs.getFileStatus(lock).getModificationTime > graceMs
              catch { case _: java.io.FileNotFoundException => false }
            if (stale) {
              val claimed = new org.apache.hadoop.fs.Path(
                s"$path/_ddl-lock.broken-${java.util.UUID.randomUUID().toString.take(8)}")
              try {
                if (fs.rename(lock, claimed)) {
                  val freshAgain = System.currentTimeMillis() -
                    fs.getFileStatus(claimed).getModificationTime <= graceMs
                  if (!freshAgain) fs.delete(claimed, false)
                  else if (!fs.rename(claimed, lock))
                    // a third alter locked meanwhile; the claimed copy is
                    // now a duplicate of a lock its holder will release —
                    // drop it rather than leave debris
                    fs.delete(claimed, false)
                }
              } catch { case _: java.io.IOException => () }
            }
            else if (System.currentTimeMillis() > deadline)
              throw new java.io.IOException(
                s"DDL lock busy under $path — a concurrent ALTER holds it")
            else Thread.sleep(100L)
            false
        }
    }
    try body finally fs.delete(lock, false)
  }

  /** Shared tmp+rename publisher for the root rules files. */
  private def writeRulesFile(fs: org.apache.hadoop.fs.FileSystem, path: String,
                             fileName: String, rules: Map[String, String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    rules.toSeq.sortBy(_._1).foreach { case (n, p) => node.put(n, p) }
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_latest.tmp-ct$tag")
    val out = fs.create(tmp, true)
    out.write(mapper.writeValueAsBytes(node)); out.close()
    overwriteRename(fs, tmp, new org.apache.hadoop.fs.Path(s"$path/$fileName"),
      s"cannot publish $fileName for $path")
  }

  def setSnapshotConstraint(spark: SparkSession, path: String,
                            name: String, predicateSql: String): Unit = {
    requireTagName(name)
    // parse eagerly: a typo'd expression must fail HERE, not inside
    // someone else's write a week later
    spark.sessionState.sqlParser.parseExpression(predicateSql)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))
    withDdlLock(fs, path) {
      writeRulesFile(fs, path, "_constraints",
        snapshotConstraints(spark, path) + (name -> predicateSql))
    }
  }

  /** Remove a named constraint; returns whether it existed. */
  def dropSnapshotConstraint(spark: SparkSession, path: String, name: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withDdlLock(fs, path) {
      val existing = snapshotConstraints(spark, path)
      if (!existing.contains(name)) false
      else {
        val rest = existing - name
        if (rest.isEmpty)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/_constraints"), false)
        else writeRulesFile(fs, path, "_constraints", rest)
        true
      }
    }
  }

  /** The table's declared CHECK constraints, name -> predicate SQL. */
  def snapshotConstraints(spark: SparkSession, path: String): Map[String, String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = new org.apache.hadoop.fs.Path(s"$path/_constraints")
    if (!fs.exists(f)) return Map.empty
    try {
      val in = fs.open(f)
      val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
      val it = node.fieldNames()
      Iterator.continually(if (it.hasNext) Some(it.next()) else None)
        .takeWhile(_.isDefined).flatten
        .map(n => n -> node.get(n).asText()).toMap
    } catch {
      // an unreadable constraints file must FAIL writes, not silently
      // skip enforcement — unlike manifests, this file is a gate
      case e @ (_: java.io.IOException |
                _: com.fasterxml.jackson.core.JacksonException) =>
        throw new java.io.IOException(
          s"unreadable _constraints under $path — refusing to write unvalidated", e)
    }
  }

  /** The fused enforcement filter: per row, each constraint predicate
    * evaluates inside the write's own plan; a FALSE aborts the pass
    * via `raise_error` with the row as JSON. No-op when the table has
    * no constraints.
    */
  private def constraintGuard(df: DataFrame, path: String, op: String): DataFrame =
    snapshotConstraints(df.sparkSession, path).toSeq.sortBy(_._1)
      .foldLeft(df) { case (d, (name, sql)) =>
        d.filter(when(!coalesce(expr(sql), lit(true)),
          raise_error(concat(
            lit(s"$op($path): CHECK constraint '$name' ($sql) violated by row "),
            to_json(struct(d.columns.map(col).toIndexedSeq: _*)))))
          .otherwise(lit(true)))
      }

  /** Declare `column` GENERATED AS `exprSql` (X205) — the Delta
    * generated-column shape: from now on every full write, append and
    * replaceWhere batch either FILLS the
    * column (when the incoming frame lacks it — the common case: the
    * writer supplies business columns, the table derives `date` from
    * `ts`) or VALIDATES it (when the frame supplies it, a fused
    * `raise_error` guard aborts on any row where the value differs
    * from the expression — a silently-divergent derived column would
    * poison every downstream prune); row-level rewrites
    * (update/merge/dv-update) RE-DERIVE instead, Delta's UPDATE
    * behavior — a SET on a source column recomputes the derived
    * column rather than aborting on the stale value (see
    * [[generatedRederive]]). The payoff at 100 TB is
    * data-skipping on the DERIVED column: generate an event-date from
    * a timestamp, cluster on it, and X162's stats prune date-ranged
    * reads without the writer ever computing the column. Declarations
    * ride a `_generated` root file under the same
    * parse-eagerly/unreadable-fails-writes contract as CHECK
    * constraints; expressions must be deterministic (enforced at
    * declaration — a rand() fill would break replays and the
    * validate-vs-fill equivalence). Dropping the SOURCE column leaves
    * a declaration that fails analysis at the next write — drop the
    * generation rule first.
    */
  def setGeneratedColumn(spark: SparkSession, path: String,
                         column: String, exprSql: String): Unit = {
    require(column.nonEmpty, "setGeneratedColumn: empty column name")
    val parsed = spark.sessionState.sqlParser.parseExpression(exprSql)
    // determinism gate: the PARSED tree is unresolved (an unresolved
    // function defaults to deterministic), so resolve the expression
    // against a probe frame carrying its referenced names as NULLs and
    // inspect the analyzed tree. Best-effort — a probe that fails
    // analysis on the null typing doesn't reject the rule (the parse
    // gate above remains hard, and the real write resolves properly).
    val refs = parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
    }.distinct
    scala.util.Try {
      val probe = refs.foldLeft(spark.range(1).toDF())((d, n) => d.withColumn(n, lit(null)))
      probe.select(expr(exprSql).as("__g")).queryExecution.analyzed
    }.foreach(analyzed => require(analyzed.expressions.forall(_.deterministic),
      s"setGeneratedColumn($path): '$exprSql' is non-deterministic — a generated " +
        "column must re-derive to the same value on every write and validation"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))
    withDdlLock(fs, path) {
      writeRulesFile(fs, path, "_generated",
        snapshotGenerated(spark, path) + (column -> exprSql))
    }
  }

  /** Remove a generation rule; returns whether it existed. */
  def dropGeneratedColumn(spark: SparkSession, path: String, column: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withDdlLock(fs, path) {
      val existing = snapshotGenerated(spark, path)
      if (!existing.contains(column)) false
      else {
        val rest = existing - column
        if (rest.isEmpty)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/_generated"), false)
        else writeRulesFile(fs, path, "_generated", rest)
        true
      }
    }
  }

  /** Declare a named data-quality EXPECTATION (X215) — the DLT
    * `expect / expect_or_drop / expect_or_fail` shape, the triage
    * layer CHECK constraints (X186) deliberately aren't: a constraint
    * is a hard table invariant (violation = abort, every write path,
    * rewrites included), an expectation is an INGEST policy with a
    * per-rule action —
    *
    *  - `"abort"`: fail the write naming the rule and row (a CHECK
    *    with expectation bookkeeping);
    *  - `"drop"`: violating rows silently leave the batch (the
    *    boilerplate filter every corpus ingest runs);
    *  - `"quarantine"`: violating rows divert to the sibling snapshot
    *    table `<path>/_quarantine` — stamped with the rule name and
    *    the violating batch's op — for triage and replay (the
    *    dead-letter pattern), and the clean remainder commits.
    *
    * SQL CHECK semantics per rule (only FALSE violates; NULL passes —
    * write `x IS NOT NULL` to reject nulls); rules apply abort → drop
    * → quarantine, name order within an action. Scope is ROW-LANDING
    * ingest (full writes, appends, streaming sinks, replaceWhere
    * batches, branch commits); row-level REWRITES do not re-triage —
    * dropping carried rows on an UPDATE would be silent data loss, so
    * rewrites keep enforcing hard constraints only — and the
    * maintenance/merge full rewrites (compactSnapshot, the streaming
    * upsert sink) pass `triage = false` for the same reason: their
    * input is committed rows, not an ingest. Quarantine rows land
    * AFTER the main commit succeeds (at-most-once relative to it; a
    * replayed or retried attempt never double-quarantines) and pay
    * one extra pass over the batch — persist it upstream if it is
    * expensive to recompute. Predicates must be deterministic
    * (enforced at declaration like generated columns — the kept-rows
    * filter and the quarantine write evaluate the rule in separate
    * jobs, and a `rand()` rule would send rows to both destinations
    * or neither). Declarations ride an `_expectations` root file
    * under the DDL-lock / unreadable-fails-writes contract.
    */
  def setSnapshotExpectation(spark: SparkSession, path: String, name: String,
                             predicateSql: String,
                             onViolation: String = "abort"): Unit = {
    requireTagName(name)
    require(Set("abort", "drop", "quarantine")(onViolation),
      s"setSnapshotExpectation($path): unknown action '$onViolation' " +
        "(abort | drop | quarantine)")
    val parsed = spark.sessionState.sqlParser.parseExpression(predicateSql)
    // determinism gate, same probe as setGeneratedColumn (review r11)
    val refs = parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
    }.distinct
    scala.util.Try {
      val probe = refs.foldLeft(spark.range(1).toDF())((d, n) => d.withColumn(n, lit(null)))
      probe.select(expr(predicateSql).as("__e")).queryExecution.analyzed
    }.foreach(analyzed => require(analyzed.expressions.forall(_.deterministic),
      s"setSnapshotExpectation($path): '$predicateSql' is non-deterministic — " +
        "the kept-rows filter and the quarantine write must agree on every row"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))
    withDdlLock(fs, path) {
      writeRulesFile(fs, path, "_expectations",
        snapshotExpectations(spark, path).map { case (n, (p, a)) => n -> s"$a $p" }
          + (name -> s"$onViolation $predicateSql"))
    }
  }

  /** Remove a named expectation; returns whether it existed. */
  def dropSnapshotExpectation(spark: SparkSession, path: String, name: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withDdlLock(fs, path) {
      val existing = snapshotExpectations(spark, path)
      if (!existing.contains(name)) false
      else {
        val rest = (existing - name).map { case (n, (p, a)) => n -> s"$a $p" }
        if (rest.isEmpty)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/_expectations"), false)
        else writeRulesFile(fs, path, "_expectations", rest)
        true
      }
    }
  }

  /** Declared expectations: name -> (predicate SQL, action). */
  def snapshotExpectations(spark: SparkSession,
                           path: String): Map[String, (String, String)] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = new org.apache.hadoop.fs.Path(s"$path/_expectations")
    if (!fs.exists(f)) return Map.empty
    try {
      val in = fs.open(f)
      val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
      val it = node.fieldNames()
      Iterator.continually(if (it.hasNext) Some(it.next()) else None)
        .takeWhile(_.isDefined).flatten
        .map { n =>
          val Array(action, sql) = node.get(n).asText().split(" ", 2)
          n -> (sql, action)
        }.toMap
    } catch {
      case e @ (_: java.io.IOException |
                _: com.fasterxml.jackson.core.JacksonException |
                _: MatchError) =>
        throw new java.io.IOException(
          s"unreadable _expectations under $path — refusing to write untriaged", e)
    }
  }

  /** The quarantine side table of `path`. */
  def quarantinePath(path: String): String = s"$path/_quarantine"

  /** Apply the declared expectations to an ingest batch. Returns the
    * KEPT frame plus a quarantine FLUSH to invoke AFTER the main
    * commit succeeds (review r11: an eager quarantine write would
    * duplicate rows on every CAS retry, land rows for ingests a later
    * abort rule then refused, and break the streaming epoch gate's
    * exactly-once story — deferring it ties the side-table write to
    * exactly the successful attempt). Abort rules fuse as
    * `raise_error` (zero extra jobs), drop rules as filters,
    * quarantine rules carry their rows into the flush and filter them
    * from the batch. Rules apply abort → drop → quarantine, name
    * order within an action — an aborting ingest never quarantines
    * first. Quarantine delivery is AT-MOST-ONCE relative to the main
    * commit (a crash between commit and flush loses the diverted
    * rows, never phantoms them); audit-critical rules should abort.
    */
  /** Arm-late capture of per-rule triage counts (X221): the gate's
    * `observe` nodes count each rule's violating rows INSIDE the write
    * plan (the DLT expectation-metrics shape — zero extra jobs, the
    * same pass that triages also counts), and this handle pulls the
    * observed values off the write action via a QueryExecutionListener
    * so the commit can persist them into its manifest. `arm()` must be
    * called immediately BEFORE the batch's write action and not
    * earlier: a prior partial action (appendVersionFrom's `isEmpty`
    * limit-1 probe) would report partial counts. Metrics delivery is
    * best-effort by construction (the manifest itself is) — a listener
    * that never fires yields None, never a blocked commit.
    */
  private[store] final class ExpectationMetricsHandle(
      spark: SparkSession, tag: String, ruleActions: Seq[(String, String)]) {
    private val results = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private val latch = new java.util.concurrent.CountDownLatch(1)
    private val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        val mine = qe.observedMetrics.filter { case (k, _) => k.startsWith(tag) }
        if (mine.nonEmpty) {
          mine.foreach { case (k, row) =>
            results.put(k.substring(tag.length), row.getLong(0))
          }
          latch.countDown()
        }
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    def arm(): Unit =
      if (ruleActions.nonEmpty) spark.listenerManager.register(listener)
    /** Unregister without collecting — the failure path's cleanup. An
      * armed listener left behind by a throwing write (constraint
      * violation, CAS conflict) would otherwise accumulate on the
      * session forever. */
    def disarm(): Unit =
      if (ruleActions.nonEmpty) spark.listenerManager.unregister(listener)
    def collect(): Option[Map[String, (String, Long)]] = {
      if (ruleActions.isEmpty) return None
      val ok = latch.await(30, java.util.concurrent.TimeUnit.SECONDS)
      spark.listenerManager.unregister(listener)
      if (!ok) None
      else Some(ruleActions.map { case (n, a) =>
        n -> ((a, Option(results.get(n)).map(_.longValue).getOrElse(0L)))
      }.toMap)
    }
  }

  private[store] val NoExpectationMetrics =
    new ExpectationMetricsHandle(null, "", Seq.empty)

  private def expectationGate(df: DataFrame, path: String, op: String,
                              txn: Option[(String, Long)] = None)
      : (DataFrame, () => Unit, ExpectationMetricsHandle) = {
    val prec = Map("abort" -> 0, "drop" -> 1, "quarantine" -> 2)
    val rules = snapshotExpectations(df.sparkSession, path).toSeq
      .sortBy { case (n, (_, a)) => (prec(a), n) }
    if (rules.isEmpty) return (df, () => (), NoExpectationMetrics)
    val spark = df.sparkSession
    // unique per gate: two concurrent commits' listeners must not read
    // each other's observed nodes
    val tag = s"graft-exp-${java.util.UUID.randomUUID().toString.take(8)}#"
    val quarantined = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val kept = rules.foldLeft(df) { case (d0, (name, (sql, action))) =>
      val violates = !coalesce(expr(sql), lit(true))
      // quarantine branches split from the PRE-observe frame so the
      // flush action never re-fires this rule's counter
      val d = d0.observe(s"$tag$name",
        count(when(violates, lit(1))).as("violations"))
      action match {
        case "abort" =>
          d.filter(when(violates,
            raise_error(concat(
              lit(s"$op($path): expectation '$name' ($sql) violated by row "),
              to_json(struct(d.columns.map(col).toIndexedSeq: _*)))))
            .otherwise(lit(true)))
        case "drop" => d.filter(!violates)
        case "quarantine" =>
          quarantined += d0.filter(violates)
            .withColumn("_violated", lit(name))
            .withColumn("_violating_op", lit(op))
          d.filter(!violates)
      }
    }
    val metrics = new ExpectationMetricsHandle(spark, tag,
      rules.map { case (n, (_, a)) => n -> a })
    // ONE unioned side-table commit for all quarantine rules (review
    // r11: per-rule commits multiplied the extra pass and the crash
    // window), and for streaming ingests the flush carries its OWN
    // (appId#q, epoch) idempotence record — a replayed epoch whose
    // main commit never landed (e.g. a batch fully emptied by triage)
    // must still not double-quarantine.
    val flush: () => Unit = () =>
      quarantined.reduceOption(_ unionByName _).foreach { bad =>
        val q = quarantinePath(path)
        val qTxn = txn.map { case (app, epoch) => (s"$app#q", epoch) }
        val replayed = qTxn.exists { case (app, epoch) =>
          lastCommittedEpoch(spark, q, app).exists(_ >= epoch) }
        if (!replayed && !bad.isEmpty)
          retryOnConflict(19) {
            appendSnapshot(bad, q,
              snapshots(spark, q).lastOption.getOrElse(0L),
              evolveSchema = true, txn = qTxn)
          }
      }
    (kept, flush, metrics)
  }

  /** Declare `column` as the table's IDENTITY column (X210, the Delta
    * `GENERATED BY DEFAULT AS IDENTITY` shape): every full write and
    * append whose frame LACKS the column mints each new row a unique
    * ascending Long — the row id a training-data pipeline wants
    * without a table-wide sort. A frame that SUPPLIES the column is
    * trusted (BY DEFAULT semantics — this is what lets compaction,
    * replaceWhere reloads and CDC replicas restate committed ids
    * verbatim), with a fused NULL guard: an unset id in a supplied
    * column aborts the write, because a NULL id silently breaks the
    * uniqueness every downstream join on it assumes.
    *
    * The contract is Delta's: ids are UNIQUE and INCREASING per fill,
    * GAPS ALLOWED. Minting is one projection in the write's own plan
    * (`hwm + 1 + monotonically_increasing_id()` — per-partition id
    * spaces, no shuffle, no count pass), and the new high-water mark
    * costs ZERO extra jobs: the manifest's own footer pass already
    * records each fresh file's column max, so `idHwm` = max over the
    * committed stats — the next fill starts above everything actually
    * written, whether minted or supplied. Within one commit the
    * per-partition spacing leaves large gaps; across commits the hwm
    * snaps back to the true max. One identity column per table.
    * Declarations ride an `_identity` root file under the same
    * DDL-lock / unreadable-fails-writes contract as constraints.
    * Caveat (also Delta's): a task retry that reorders upstream rows
    * can change WHICH row gets WHICH id within the failed partition —
    * ids are stable once committed, not across speculative replays.
    */
  def setIdentityColumn(spark: SparkSession, path: String,
                        column: String, startAt: Long = 1L): Unit = {
    require(column.nonEmpty, "setIdentityColumn: empty column name")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // declaring over an EXISTING column validates it NULL-free once,
    // here (one column-pruned count — a DDL-time cost): the write-path
    // guards assume committed ids are non-null, so a legacy NULL would
    // otherwise brick every later row-level rewrite touching its file
    // (review r11) — refuse at the declaration, where the fix is clear
    if (snapshots(spark, path).nonEmpty) {
      val cur = readSnapshot(spark, path)
      if (cur.columns.contains(column)) {
        val nulls = cur.filter(col(column).isNull).limit(1).count()
        require(nulls == 0L,
          s"setIdentityColumn($path): committed column '$column' holds NULLs — " +
            "backfill ids first (identity assumes committed ids are non-null and unique)")
      }
    }
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))
    withDdlLock(fs, path) {
      identityRule(fs, path).foreach { case (c, _) =>
        require(c == column,
          s"setIdentityColumn($path): '$c' is already the identity column — " +
            "one per table; drop it first")
      }
      writeRulesFile(fs, path, "_identity", Map(column -> startAt.toString))
    }
  }

  /** Remove the identity rule; returns whether it existed. Committed
    * ids stay in the data — only minting stops. */
  def dropIdentityColumn(spark: SparkSession, path: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withDdlLock(fs, path) {
      val had = identityRule(fs, path).isDefined
      if (had) fs.delete(new org.apache.hadoop.fs.Path(s"$path/_identity"), false)
      had
    }
  }

  /** The declared identity column and its start, if any. */
  def snapshotIdentity(spark: SparkSession, path: String): Option[(String, Long)] =
    identityRule(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), path)

  private def identityRule(fs: org.apache.hadoop.fs.FileSystem,
                           path: String): Option[(String, Long)] = {
    val f = new org.apache.hadoop.fs.Path(s"$path/_identity")
    if (!fs.exists(f)) return None
    try {
      val in = fs.open(f)
      val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
      val it = node.fieldNames()
      if (!it.hasNext) None
      else { val c = it.next(); Some((c, node.get(c).asText().toLong)) }
    } catch {
      // like _constraints: a write gate, never best-effort
      case e @ (_: java.io.IOException |
                _: com.fasterxml.jackson.core.JacksonException) =>
        throw new java.io.IOException(
          s"unreadable _identity under $path — refusing to write unminted", e)
    }
  }

  /** The id to mint ABOVE, when the manifest can answer: the recorded
    * `idHwm`; else the stats-derived max of the identity column —
    * trusted ONLY when EVERY file records a stat for it (a single
    * stats-less file could hide the true max, and minting below it
    * mints duplicates — review r11: a readable pre-stats manifest must
    * fall to the scan, not to `startAt - 1`); a schema without the
    * column, or an empty file list, answers `startAt - 1` exactly.
    * None = the manifest cannot answer — callers scan.
    */
  private def identityHwm(m: Option[com.fasterxml.jackson.databind.JsonNode],
                          column: String, startAt: Long): Option[Long] =
    m.flatMap { mm =>
      Option(mm.get("idHwm")).map(_.asLong).orElse {
        val inSchema = scala.util.Try(org.apache.spark.sql.types.DataType
          .fromJson(mm.get("schema").toString).asInstanceOf[StructType]
          .fieldNames.contains(column)).getOrElse(true)
        val n = Option(mm.get("files")).map(_.size).getOrElse(0)
        if (!inSchema || n == 0) Some(startAt - 1L)
        else {
          val phys = physicalName(columnMapOf(mm), column)
          val maxes = Option(mm.get("stats")).toSeq.flatMap(starr =>
            (0 until starr.size).map(i =>
              Option(starr.get(i).get(phys)).flatMap(s => Option(s.get("max")))
                .map(_.asLong)))
          if (maxes.size == n && maxes.forall(_.isDefined))
            Some(math.max(startAt - 1L, maxes.flatten.max))
          else None
        }
      }
    }

  /** [[identityHwm]] for a committed version: manifest when readable,
    * else ONE column-pruned scan of the pinned version (a best-effort
    * manifest may be lost — minting below the true max would mint
    * duplicates, so the fallback pays the scan; a version whose schema
    * predates the column reads as `startAt - 1`).
    */
  private def identityHwmAt(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                            path: String, v: Long, column: String,
                            startAt: Long): Long =
    if (v < 1) startAt - 1L
    else identityHwm(readManifest(fs, path, v), column, startAt).getOrElse {
      try {
        val row = readSnapshot(spark, path, Some(v))
          .agg(max(col(column).cast("long"))).head()
        if (row.isNullAt(0)) startAt - 1L else math.max(startAt - 1L, row.getLong(0))
      } catch { case _: org.apache.spark.sql.AnalysisException => startAt - 1L }
    }

  /** Mint-or-guard the identity column: a frame that lacks it gains
    * `hwm + 1 + monotonically_increasing_id()` (one projection in the
    * write plan); a frame that supplies it is trusted but NULL-guarded.
    * `hwmOf` is by-name — only a frame that actually needs minting
    * pays the manifest read behind it.
    */
  private def identityAlign(df: DataFrame, path: String, op: String,
                            hwmOf: => Long): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    identityRule(fs, path) match {
      case None => df
      case Some((c, _)) if !df.columns.contains(c) =>
        df.withColumn(c, (lit(hwmOf + 1L) + monotonically_increasing_id()).cast("long"))
      case Some((c, _)) =>
        df.filter(when(col(c).isNull,
          raise_error(concat(
            lit(s"$op($path): identity column '$c' supplied but NULL in row "),
            to_json(struct(df.columns.map(col).toIndexedSeq: _*)))))
          .otherwise(lit(true)))
    }
  }

  /** The table's declared generation rules, column -> expression SQL. */
  def snapshotGenerated(spark: SparkSession, path: String): Map[String, String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = new org.apache.hadoop.fs.Path(s"$path/_generated")
    if (!fs.exists(f)) return Map.empty
    try {
      val in = fs.open(f)
      val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
      val it = node.fieldNames()
      Iterator.continually(if (it.hasNext) Some(it.next()) else None)
        .takeWhile(_.isDefined).flatten
        .map(n => n -> node.get(n).asText()).toMap
    } catch {
      // like _constraints: this file is a write gate, never best-effort
      case e @ (_: java.io.IOException |
                _: com.fasterxml.jackson.core.JacksonException) =>
        throw new java.io.IOException(
          s"unreadable _generated under $path — refusing to write unvalidated", e)
    }
  }

  /** Fill-or-validate the declared generated columns: a frame that
    * LACKS the column gains it from the expression (zero extra jobs —
    * the projection rides the write plan); a frame that SUPPLIES it is
    * validated row-by-row with a fused `raise_error` (null-safe
    * equality, so a NULL-yielding expression validates a NULL value).
    */
  private def generatedAlign(df: DataFrame, path: String, op: String): DataFrame =
    snapshotGenerated(df.sparkSession, path).toSeq.sortBy(_._1)
      .foldLeft(df) { case (d, (c, sql)) =>
        if (!d.columns.contains(c)) d.withColumn(c, expr(sql))
        else generatedCheck(d, c, sql, path, op)
      }

  /** Row-level REWRITES re-derive (Delta's UPDATE behavior, review
    * r11): rewritten rows originate from committed — already valid —
    * rows, so the only divergence source is a SET/merge-update on a
    * SOURCE column; validating would abort every such write, so the
    * rule is recomputed instead — the SET wins on the sources, the
    * rule wins on the derived column (an explicit divergent SET of the
    * derived column itself is overwritten by its definition). A rule
    * whose column the schema lacks (declared but never backfilled — a
    * full-write/append evolution concern) is skipped: no fill may
    * drift a rewritten file from the manifest schema.
    */
  private def generatedRederive(df: DataFrame, path: String, op: String): DataFrame =
    snapshotGenerated(df.sparkSession, path).toSeq.sortBy(_._1)
      .foldLeft(df) { case (d, (c, sql)) =>
        if (!d.columns.contains(c)) d
        else d.withColumn(c, expr(sql).cast(d.schema(c).dataType))
      }

  private def generatedCheck(d: DataFrame, c: String, sql: String,
                             path: String, op: String): DataFrame =
    d.filter(when(!(col(c) <=> expr(sql)),
      raise_error(concat(
        lit(s"$op($path): generated column '$c' (= $sql) violated by row "),
        to_json(struct(d.columns.map(col).toIndexedSeq: _*)))))
      .otherwise(lit(true)))

  /** Commit `df` as the table's whole next version, against the newest
    * one — [[commitSnapshot]] for a writer that derived `df` from no
    * version in particular. Returns the committed version.
    */
  def writeSnapshot(df: DataFrame, path: String,
                    txn: Option[(String, Long)] = None): Long = {
    val base = currentSnapshot(df.sparkSession, path)
    commitFull(df, path, base, base + 1, "writeSnapshot", 600000L,
      Commit.MainRef, txn = txn)
  }

  /** [[commitSnapshot]] against the newest version. */
  def replaceSnapshot(df: DataFrame, path: String,
                      txn: Option[(String, Long)] = None): Long =
    commitSnapshot(df, path, currentSnapshot(df.sparkSession, path), txn = txn)

  /** Thrown by [[commitSnapshot]] when another writer claimed the
    * version first — the retry-able half of optimistic concurrency:
    * re-read the table at its new version, re-derive the write, and
    * commit again against the fresh version.
    */
  final class SnapshotConflictException(path: String, attempted: Long)
    extends RuntimeException(
      s"concurrent writer committed v=$attempted under $path first; " +
        "re-read the latest snapshot and retry")

  /** Re-run `body` until it commits or `maxRetries`
    * [[SnapshotConflictException]]s have been absorbed — the
    * optimistic-concurrency retry loop every CAS writer needs, shared
    * (r16, the r15 verdict: the index refreshers threw on a concurrent
    * maintenance/compaction commit instead of retrying like
    * [[graft.streaming.SnapshotMerge]]). The CONTRACT is on `body`:
    * it must re-read everything the conflicting commit could have
    * changed — the current version it CASes against at minimum, and
    * any state it derives its write from (an anti-join's "existing"
    * set, a read-modify-write's current row) — because a retry that
    * reuses stale reads re-introduces exactly the lost update the CAS
    * exists to prevent. Conflicts are expected-rare: the loop is for
    * availability under a racing writer, not for throughput.
    */
  def retryOnConflict[T](maxRetries: Int = 10)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: SnapshotConflictException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The latest committed snapshot version, 0 when the table is empty
    * — the `expectedVersion` a [[commitSnapshot]] writer reads before
    * deriving its write.
    */
  def currentSnapshot(spark: SparkSession, path: String): Long =
    snapshots(spark, path).lastOption.getOrElse(0L)

  /** The MAIN lineage's write base: the `_latest` target when the
    * pointer exists, else the newest live version (0 on an empty
    * table). Deliberately NOT [[currentSnapshot]] — that is the
    * highest live version NUMBER, which includes unpublished branch
    * heads (X171): a main-side write that based itself on a branch
    * head would adopt — and its pointer advance would silently
    * PUBLISH — unaudited branch content (review r11). Every main-side
    * write below reads its content base here and allocates its
    * version number via [[nextVersionAbove]].
    */
  private def mainWriteBase(spark: SparkSession, path: String): Long = {
    val ptr = new org.apache.hadoop.fs.Path(s"$path/_latest")
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Commit.readPointerFile(fs, ptr)
      .orElse(snapshots(spark, path).lastOption)
      .getOrElse(0L)
  }

  /** The next globally-free version number: versions are ONE sequence
    * shared with branch heads, so a main-side commit allocates ABOVE
    * every live version even when its content base is behind (a
    * branch is ahead); the manifest's carried entries keep the
    * content's lineage regardless of the number's gap. */
  private def nextVersionAbove(spark: SparkSession, path: String, base: Long): Long =
    math.max(base, currentSnapshot(spark, path)) + 1

  /** Optimistic-concurrency full-content commit: `df` becomes version
    * `expectedVersion + 1`, the version the writer read before deriving
    * `df`. A concurrent commit of that number makes this one fail with
    * a retry-able [[SnapshotConflictException]]; see [[Commit]] for the
    * protocol, its crash windows and the orphan-claim lease
    * (`orphanGraceMs`). `triage = false` skips the expectation gate.
    */
  def commitSnapshot(df: DataFrame, path: String, expectedVersion: Long,
                     orphanGraceMs: Long = 600000L,
                     triage: Boolean = true,
                     txn: Option[(String, Long)] = None): Long =
    commitFull(df, path, expectedVersion, expectedVersion + 1, "commitSnapshot",
      orphanGraceMs, Commit.MainRef, triage, txn)

  /** The gated full-content write and its commit, shared by
    * [[writeSnapshot]], [[commitSnapshot]] and [[commitToBranch]]:
    * identity mint-or-guard (high-water mark at `hwmBase`, the content
    * lineage the write extends), generated fill-or-validate, the
    * expectation triage, the CHECK guard, then one observed write into
    * a fresh staging dir, committed as version `next` with a
    * best-effort manifest. A write that dies mid-job deletes its
    * staging dir, so it leaves nothing behind.
    */
  private def commitFull(df: DataFrame, path: String, hwmBase: Long, next: Long,
                         op: String, orphanGraceMs: Long, ref: Commit.Ref,
                         triage: Boolean = true,
                         txn: Option[(String, Long)] = None): Long = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging-$tag")
    val idd = identityAlign(df, path, op, {
      val (c, st) = identityRule(fs, path).get
      identityHwmAt(spark, fs, path, hwmBase, c, st)
    })
    val (g, flushQuarantine, expMetrics) =
      if (triage) expectationGate(generatedAlign(idd, path, op), path, op)
      else (generatedAlign(idd, path, op), () => (), NoExpectationMetrics)
    expMetrics.arm()
    val expCounts =
      try {
        constraintGuard(g, path, op)
          .write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
        expMetrics.collect() // right after the observed write: a later
        // CAS conflict throw must not leave the listener armed
      } catch {
        case t: Throwable =>
          expMetrics.disarm()
          fs.delete(staging, true)
          throw t
      }
    commitStagedVersion(spark, fs, path, staging, next, g.schema.json, Nil, None,
      op = op, orphanGraceMs = orphanGraceMs, txn = txn, expectations = expCounts,
      policy = Commit.BestEffort, ref = ref)
    flushQuarantine()
    next
  }

  /** ZERO-REWRITE APPEND — the incremental-ingest commit the 100 TB
    * table needs: a new version whose content is the previous
    * version's rows PLUS `df`'s rows, where only `df`'s rows are
    * written (new files in the version dir) and every previous file is
    * carried into the new manifest BY REFERENCE (root-relative
    * entries, per-file accounting reused — zero bytes copied, zero
    * footer re-reads). Appending a day of data to a 100 TB table costs
    * the day's files plus one manifest write; [[writeSnapshot]] /
    * [[commitSnapshot]] would rewrite the table. This is the write
    * path that makes the version history a LOG of arrivals — which is
    * exactly what [[readSnapshotStream]] tails.
    *
    * Same optimistic CAS as [[commitSnapshot]] (`expectedVersion`
    * read-before-write; a concurrent commit loses with a retryable
    * [[SnapshotConflictException]]). The appended version is
    * file-sharing, so its manifest is LOAD-BEARING (same contract as
    * [[deleteWhere]]): `_partial` is stamped before promote — a
    * manifest loss fails reads loudly instead of silently dropping the
    * carried rows — and a failed manifest publish unwinds the version.
    * Schema must match the committed schema exactly (names + types,
    * any column order) unless `evolveSchema` is set, which permits
    * ADDITIVE evolution: the batch's new columns extend the committed
    * schema (nullable — carried files read them as null), committed
    * columns missing from the batch fill with typed nulls, shared
    * columns must keep their exact type. An EMPTY `df` returns the
    * current version — no empty commit. Appending to an EMPTY table
    * (expectedVersion 0) commits a self-contained v=1.
    */
  def appendSnapshot(df: DataFrame, path: String, expectedVersion: Long,
                     orphanGraceMs: Long = 600000L,
                     changeFeed: Boolean = false,
                     txn: Option[(String, Long)] = None,
                     evolveSchema: Boolean = false): Long =
    appendVersionFrom(df, path, base = expectedVersion, next = expectedVersion + 1,
      orphanGraceMs, Commit.MainRef, changeFeed, txn, evolveSchema)
      .getOrElse(currentSnapshot(df.sparkSession, path)) // empty batch: no commit

  /** Shared core of [[appendSnapshot]]/[[commitStreamBatch]]/
    * [[appendToBranch]]: commit version `next` whose content is version
    * `base`'s rows plus `df`'s, new files only, base carried by
    * manifest reference, and advance `ref`. The two numbers are
    * decoupled because a branch append extends the BRANCH head while
    * the number is allocated globally. Returns None for an empty batch
    * (no commit), the committed version otherwise.
    */
  private def appendVersionFrom(dfIn: DataFrame, path: String, base: Long,
                                next: Long, orphanGraceMs: Long, ref: Commit.Ref,
                                changeFeed: Boolean = false,
                                txn: Option[(String, Long)] = None,
                                evolveSchema: Boolean = false,
                                gateOp: String = "appendSnapshot"): Option[Long] = {
    // generated columns (X205) fill BEFORE the schema gate: the common
    // writer supplies business columns only, the table derives the rest
    val (df, flushQuarantine, expMetrics) = expectationGate(
      generatedAlign(dfIn, path, "appendSnapshot"), path, gateOp, txn)
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the base version's committed entries + schema, resolved exactly
    // like the row-level writes: manifest when present, dir listing
    // for self-contained pre-manifest versions, refusal for a
    // file-sharing version whose manifest cannot be read
    val (baseEntries, baseSchema, reuse) =
      if (base == 0L) (Seq.empty[String], None, None)
      else readManifest(fs, path, base) match {
        case Some(m) =>
          (normEntries(m, base),
            Some(org.apache.spark.sql.types.DataType
              .fromJson(m.get("schema").toString).asInstanceOf[StructType]),
            Some((m, base)))
        case None =>
          require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=$base")),
            s"appendSnapshot($path): no committed snapshot v=$base")
          require(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=$base/_partial")),
            s"appendSnapshot($path): v=$base is a file-sharing version with no readable manifest")
          val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/v=$base")).toSeq
            .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith("."))
            .map(st => s"v=$base/${st.getPath.getName}").sorted
          (names, None, None)
      }
    // an empty batch commits nothing — probed BEFORE the identity hwm
    // resolution (review r11: an empty streaming batch must not pay a
    // manifest read, let alone the lost-manifest max scan, for ids it
    // will never mint). The schema gate below is skipped for empty
    // batches by construction — there are no rows it could protect.
    // A batch EMPTIED by triage still delivers its quarantine rows:
    // "nothing committed" is that ingest's correct main-table outcome.
    if (df.isEmpty) { flushQuarantine(); return None }
    val committed0: Option[StructType] = baseSchema.orElse(
      if (base == 0L) None
      else Some(spark.read.parquet(baseEntries.map(entryPath(path, _)): _*).schema))
    // identity minting (X210) BEFORE the schema gate: the batch gains
    // the column the committed schema carries; the hwm is the BASE
    // manifest's record (scan fallback when it cannot answer), so
    // appended ids land above everything the lineage committed. A
    // declared-but-never-backfilled column (committed schema lacks it,
    // review r11) does NOT mint on a plain append — the batch must
    // match the committed schema; backfill via a full write, or append
    // with evolveSchema to land it as an evolution column.
    val dfI = identityRule(fs, path) match {
      case Some((c, _)) if !df.columns.contains(c) && base != 0L &&
        !committed0.exists(_.fieldNames.contains(c)) && !evolveSchema => df
      case _ => identityAlign(df, path, "appendSnapshot", {
        val (c, st) = identityRule(fs, path).get
        reuse.flatMap { case (m, _) => identityHwm(Some(m), c, st) }
          .getOrElse(identityHwmAt(spark, fs, path, base, c, st))
      })
    }
    val committed = committed0.getOrElse(dfI.schema)
    val want = committed.fields.map(f => f.name -> f.dataType).toMap
    // the version's schema: exact-match gate by default (silent casts
    // here would corrupt the log a stream tail replays forever);
    // `evolveSchema` relaxes it to ADDITIVE evolution — the committed
    // schema grows the batch's new columns (nullable: carried files
    // read them as null), shared columns must keep their exact type
    // (widening is a rewrite, not an append), and committed columns
    // missing from the batch land as typed nulls. Pinned reads of old
    // versions keep their own manifests' narrower schema.
    val cmap0 = reuse.map { case (mm, _) => columnMapOf(mm) }.getOrElse(Map.empty)
    val tombstones = reuse.map { case (mm, _) => droppedColumnsOf(mm) }.getOrElse(Seq.empty)
    val (target: StructType, minted: Map[String, String]) =
      if (!evolveSchema) {
        val got = dfI.schema.fields.map(f => f.name -> f.dataType).toMap
        require(got == want,
          s"appendSnapshot($path): batch schema must match the committed schema exactly; " +
            s"committed=${committed.simpleString} batch=${dfI.schema.simpleString}")
        (committed, Map.empty[String, String])
      } else {
        val drift = dfI.schema.fields
          .filter(f => want.get(f.name).exists(_ != f.dataType))
          .map(f => s"${f.name}: committed ${want(f.name).simpleString} vs batch ${f.dataType.simpleString}")
        require(drift.isEmpty,
          s"appendSnapshot($path): shared columns changed type (${drift.mkString("; ")})")
        val fresh = dfI.schema.fields.filterNot(f => want.contains(f.name))
          .map(_.copy(nullable = true))
        // resurrection guard (X196): a fresh column whose name matches
        // a PHYSICAL name still frozen in carried files (renamed-away
        // or tombstoned) must land under a minted physical name, or
        // the old bytes would read back into the new column
        val used0 = usedPhysicalNames(committed, cmap0, tombstones)
        val m = fresh.map(_.name).foldLeft((Map.empty[String, String], used0)) {
          case ((acc, used), n) =>
            if (!used(n)) (acc, used + n)
            else { val p = mintPhysical(n, used); (acc + (n -> p), used + p) }
        }._1
        (StructType(committed.fields ++ fresh), m)
      }
    val aligned = dfI.select(target.fields.map(f =>
      if (dfI.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging-$tag")
    // mapped table (X195): the batch lands in the files' physical
    // layout (evolution columns map per the minting above — identity
    // unless the name collides with frozen bytes)
    val cmap = cmap0 ++ minted
    // armed here, AFTER the isEmpty probe above — its limit-1 action
    // would otherwise deliver partial triage counts; collected right
    // after the observed write so a throwing gate or a later CAS
    // conflict never leaves the listener armed
    expMetrics.arm()
    val expCounts =
      try {
        toPhysical(constraintGuard(aligned, path, "appendSnapshot"), cmap)
          .write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
        expMetrics.collect()
      } catch { case t: Throwable => expMetrics.disarm(); throw t }
    // file-sharing marker BEFORE the dir becomes visible (when there
    // is a base to share — an append onto empty is self-contained)
    if (baseEntries.nonEmpty)
      fs.create(new org.apache.hadoop.fs.Path(staging, "_partial"), true).close()
    // change capture (X172): an append's feed is its own batch as
    // 'insert' rows — staged with the data, published after promote.
    // r17 (guide §1.2, don't compute things twice): the feed reads the
    // JUST-STAGED files back instead of re-evaluating the batch plan —
    // the staged bytes ARE the batch (the same rows the table itself
    // will serve), while the input plan can be arbitrarily expensive
    // (q_graph_view_tick's append ran its co-occurrence build + anti
    // join TWICE; q_incr_join_cdf re-scanned+re-shuffled its 600k-row
    // slice). Physical → logical alias, then the two feed literals.
    val cdfStaging = if (!changeFeed) None else Some {
      val st = new org.apache.hadoop.fs.Path(s"$path/_staging-${tag}cdf")
      spark.read.schema(physicalize(target, cmap)).parquet(staging.toString)
        .select(toLogicalCols(target, cmap).toIndexedSeq: _*)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(next))
        .write.mode(SaveMode.ErrorIfExists).parquet(st.toString)
      st
    }
    // an append rewrites nothing, so the base's deletion vectors
    // (X189) carry forward verbatim — the new files have none
    commitStagedVersion(spark, fs, path, staging, next, target.json,
      baseEntries, reuse, op = "appendSnapshot",
      orphanGraceMs = orphanGraceMs, txn = txn,
      dv = reuse.flatMap { case (m, _) => readDvState(m) },
      columnMap = if (minted.isEmpty) None else Some(cmap),
      cdfStaging = cdfStaging, expectations = expCounts, ref = ref)
    flushQuarantine()
    Some(next)
  }

  /** STREAMING TAIL of the snapshot warehouse — the table as a
    * Structured Streaming SOURCE (the Delta "streaming from a table"
    * shape): each committed version's NEW data files become stream
    * input as they appear, so an [[appendSnapshot]] log is consumed
    * row-exactly-once end-to-end (Spark's file-source offset log +
    * the sink's checkpoint give restart-safe progress; run with
    * `Trigger.AvailableNow` for catch-up batches, continuous triggers
    * for a live tail). Built on the built-in parquet file source over
    * the `v=*` layout rather than a custom DSv2 source: version dirs
    * appear atomically (staging + rename) and carried-by-reference
    * files create no new paths, so "new file" = "newly committed
    * rows" exactly when history is APPEND-ONLY.
    *
    * Contract: valid for append-only histories ([[writeSnapshot]] /
    * [[commitSnapshot]] initial load + [[appendSnapshot]] batches).
    * A file-sharing REWRITE version ([[deleteWhere]] /
    * [[updateWhere]] / compactSnapshot) re-emits its rewritten files'
    * surviving rows — the same restriction Delta's source has before
    * `skipChangeCommits`; [[rollbackSnapshot]] emits nothing (its
    * version holds no files). [[snapshotHistory]]'s `file_sharing`
    * column audits whether a history is tail-safe. Schema is pinned
    * to the CURRENT committed schema at call time (streams need a
    * static schema); the table must have at least one version.
    */
  def readSnapshotStream(spark: SparkSession, path: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = readSnapshot(spark, path).schema
    // mapped table (X195): the files carry the physical layout — tail
    // physically, alias back to the committed logical names (a
    // map-ignorant physical tail would read renamed columns as NULLs)
    val fsv = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cmap = readManifest(fsv, path, currentSnapshot(spark, path))
      .map(columnMapOf).getOrElse(Map.empty)
    val r = spark.readStream.schema(physicalize(schema, cmap))
    // the glob matches DATA FILES directly (no partition inference:
    // `v` stays a layout detail, not a column); `_partial`/`_SUCCESS`
    // markers and root-level `_staging-*`/`_latest`/`_tag-*`/manifest
    // protocol files all fall outside `v=*/part-*`
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toString))
      .parquet(s"$path/v=*/part-*")
      .select(toLogicalCols(schema, cmap): _*)
  }

  /** The highest epoch writer `appId` has committed to the table
    * (None if it never committed): the read half of the Delta-style
    * idempotent-writes protocol — [[appendSnapshot]] with `txn =
    * Some((appId, epoch))` stamps the pair into the version's
    * manifest, so "did my batch land?" is answered by the COMMITTED
    * history itself, not a side marker a crash could lose. Scans live
    * manifests newest-first, driver-side, zero data I/O; retention
    * caveat: the app's last-commit version must stay inside
    * [[expireSnapshots]]'s keep window for at least the stream's
    * maximum replay horizon (one version, for Spark's foreachBatch
    * replay-last-batch-on-restart contract).
    */
  /** Driver-side scan cache (review r11): manifests are immutable and
    * an appId's stamp only moves FORWARD, so each call needs to parse
    * only the versions that appeared since the last scan — without
    * this, an idle stream (empty batches never stamp) re-read the
    * whole version history's manifests on every trigger. Keyed
    * (path, appId) -> (scanned-through version, last epoch); a cold
    * cache or another driver's writes degrade to the full scan, never
    * to a wrong answer.
    */
  private val epochScanCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Option[Long])]()

  def lastCommittedEpoch(spark: SparkSession, path: String, appId: String): Option[Long] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = snapshots(spark, path)
    val key = (new org.apache.hadoop.fs.Path(path).toString, appId)
    // a cache entry scanned PAST the table's current head means the
    // table was deleted and recreated in-session (r15 review: the
    // GraphView repair path is exactly "delete the view and re-tick")
    // — both the floor AND the cached epoch describe the dead table,
    // so the scan restarts from scratch instead of resurrecting a
    // stale cursor against the fresh table
    val cached = Option(epochScanCache.get(key))
      .filter(_._1 <= vs.lastOption.getOrElse(0L))
    val floor = cached.map(_._1).getOrElse(0L)
    val fresh = vs.reverseIterator.takeWhile(_ > floor)
      .flatMap(v => readManifest(fs, path, v))
      .collectFirst {
        case m if m.has("txnApp") && m.get("txnApp").asText == appId =>
          m.get("txnEpoch").asLong
      }
    val result = fresh.orElse(cached.flatMap(_._2))
    epochScanCache.put(key, (vs.lastOption.getOrElse(0L), result))
    result
  }

  /** EVERY epoch writer `appId` has committed to the table — the set
    * form of [[lastCommittedEpoch]], for protocols where the newest
    * stamp alone cannot answer "is anything missing?" (r16 review: two
    * racing text-index refreshes can stamp v and v+1; if v's owner
    * crashed before its meta fold, the newest stamp v+1 masks the
    * orphaned v forever under a max-only comparison). Same driver-side
    * manifest scan, same forward-only cache discipline, same
    * degrade-to-full-scan-never-to-wrong-answer rule; retention
    * caveat: versions whose manifests [[expireSnapshots]] trimmed drop
    * out of the set — protocols pairing two stamp sets must keep a
    * covering PIN that retention cannot orphan (the text index's
    * `synced_seq` rule).
    */
  private val epochSetScanCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Set[Long])]()

  def committedEpochs(spark: SparkSession, path: String, appId: String): Set[Long] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = snapshots(spark, path)
    val key = (new org.apache.hadoop.fs.Path(path).toString, appId)
    val cached = Option(epochSetScanCache.get(key))
      .filter(_._1 <= vs.lastOption.getOrElse(0L))
    val floor = cached.map(_._1).getOrElse(0L)
    val fresh = vs.reverseIterator.takeWhile(_ > floor)
      .flatMap(v => readManifest(fs, path, v))
      .collect {
        case m if m.has("txnApp") && m.get("txnApp").asText == appId =>
          m.get("txnEpoch").asLong
      }.toSet
    val result = fresh ++ cached.map(_._2).getOrElse(Set.empty)
    epochSetScanCache.put(key, (vs.lastOption.getOrElse(0L), result))
    result
  }

  /** One exactly-once streaming micro-batch into the table — the body
    * [[writeSnapshotStream]] runs per epoch, factored out so the
    * replay path is directly testable. Skips when `epoch` is already
    * committed by `appId` (foreachBatch replays the last batch after a
    * restart); otherwise appends under the CAS, retrying
    * [[SnapshotConflictException]] against the fresh version so a
    * concurrent foreign writer (compaction, another stream) never
    * kills the stream — the append's content is version-independent,
    * so the retry re-reads nothing but the number. Returns the version
    * holding the batch's rows (current version for a skip/empty
    * batch).
    *
    * A skipped epoch first rolls `_latest` forward to the writer's
    * newest stamped version ([[rollForwardStamped]]): a commit that
    * died between its manifest and its pointer advance is complete but
    * unpublished, and the next epoch bases itself on `_latest`, so
    * without the roll-forward it would commit above that version
    * without its rows. Rolling forward, rather than making the epoch
    * gate ignore unpublished stamps, keeps [[lastCommittedEpoch]]'s
    * answer the one every txn protocol reads (a retry that re-appended
    * on the newest version would duplicate the batch).
    */
  def commitStreamBatch(batch: DataFrame, path: String, appId: String, epoch: Long,
                        changeFeed: Boolean = false,
                        orphanGraceMs: Long = 600000L): Long = {
    val spark = batch.sparkSession
    // bounded CAS retry (20 attempts): each loss means a foreign
    // commit advanced the version, so progress is global even when
    // this writer spins
    retryOnConflict(19) {
      // the epoch gate re-checks INSIDE the retry loop (review r11): a
      // zombie driver that loses the CAS to its replacement must see
      // the replacement's epoch stamp — a single pre-loop check would
      // let the zombie re-append an already-committed epoch
      if (lastCommittedEpoch(spark, path, appId).exists(_ >= epoch)) {
        rollForwardStamped(spark, path, appId)
        mainWriteBase(spark, path)
      } else {
        // content base = the MAIN lineage (review r11: currentSnapshot
        // includes unpublished branch heads — a stream basing itself on
        // one would silently publish it); version number allocated above
        // every live version
        val base = mainWriteBase(spark, path)
        appendVersionFrom(batch, path, base, nextVersionAbove(spark, path, base),
          orphanGraceMs, Commit.MainRef, changeFeed, txn = Some((appId, epoch)))
          .getOrElse(base) // empty batch: no commit
      }
    }
  }

  /** Publish `appId`'s newest stamped version if it sits above the main
    * pointer: its commit died after the manifest and before the
    * advance. Only versions above `_latest` are read, so a table whose
    * last commit completed costs no manifest read. The advance is
    * forward-only: when a foreign main commit has already moved
    * `_latest` past that version, the pointer stays where it is.
    */
  private def rollForwardStamped(spark: SparkSession, path: String, appId: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = mainWriteBase(spark, path)
    snapshots(spark, path).reverseIterator.takeWhile(_ > base)
      .find(v => readManifest(fs, path, v).exists(m =>
        m.has("txnApp") && m.get("txnApp").asText == appId))
      .foreach(Commit.advancePointer(fs, path, _))
  }

  /** STREAMING SINK into the snapshot warehouse — [[readSnapshotStream]]'s
    * write-side twin, closing the loop: a Structured Streaming query
    * lands each micro-batch as one [[appendSnapshot]] version,
    * EXACTLY-ONCE end-to-end. Spark's checkpoint gives at-least-once
    * epochs (the last batch replays after a crash); idempotence comes
    * from the Delta txn shape — the (appId, epoch) pair rides the
    * version's own manifest, so a replayed epoch is recognized and
    * skipped no matter where the crash fell. Table versions become the
    * stream's batch log: tail it with [[readSnapshotStream]], audit it
    * with [[snapshotHistory]], expire it with the same retention as
    * any table (keeping ≥ the replay horizon, see
    * [[lastCommittedEpoch]]).
    *
    * Returns the configured writer — caller picks trigger and calls
    * `.start()`; `appId` must be unique per logical stream into the
    * table (two streams sharing an id would skip each other's epochs).
    */
  def writeSnapshotStream(source: DataFrame, path: String, checkpoint: String,
                          appId: String, changeFeed: Boolean = false,
                          maintainEvery: Int = 0,
                          maintainPolicy: MaintenancePolicy = MaintenancePolicy())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(source, path, checkpoint, maintainEvery, maintainPolicy) { (batch, epoch) =>
      commitStreamBatch(batch, path, appId, epoch, changeFeed); ()
    }

  /** The `foreachBatch` loop every snapshot sink shares: `commit` lands
    * each micro-batch, then every `maintainEvery` epochs (0 = never) the
    * in-loop maintenance tick (r13) runs [[maintainSnapshot]] with
    * `maintainPolicy`, so a streaming-ingest table never drifts into the
    * small-file/stale-stats state that needed a separate job. Safe under
    * epoch replay: every maintenance component is idempotent and no-ops
    * when clean.
    *
    * The tick is BEST-EFFORT (r13 ADVICE): the epoch's commit has already
    * succeeded by the time it runs, and a skipped tick re-fires on a later
    * epoch — so a transient hygiene failure (e.g. a
    * SnapshotConflictException escaping the sidecar sweep's bounded CAS
    * retry under a concurrent analyzer) logs and continues instead of
    * killing the streaming query. Ingestion availability is not coupled
    * to maintenance success.
    */
  def batchSink(source: DataFrame, path: String, checkpoint: String,
                maintainEvery: Int, maintainPolicy: MaintenancePolicy)
               (commit: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        commit(batch, epoch)
        if (maintainEvery > 0 && epoch % maintainEvery == maintainEvery - 1)
          try { maintainSnapshot(batch.sparkSession, path, maintainPolicy); () }
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[graft] maintenance tick at epoch $epoch on $path failed " +
                  s"(will retry on a later epoch): ${e.getMessage}")
          }
        ()
      }

  /** One exactly-once streaming MERGE micro-batch — [[commitStreamBatch]]'s
    * upsert-shaped sibling, and why the txn gate matters MORE here: a
    * replayed append would merely duplicate rows, but a replayed merge
    * is not naturally idempotent (its first run's inserts become the
    * replay's matches and take the update clause), so the epoch skip
    * is the correctness of the restart, not an optimization. Same
    * bounded CAS retry against foreign writers; the batch must be
    * deterministic per epoch (Spark's replay contract).
    */
  def commitStreamMerge(batch: DataFrame, path: String, appId: String, epoch: Long,
                        keys: Seq[String], clauses: Seq[MergeClause],
                        changeFeed: Boolean = false,
                        orphanGraceMs: Long = 600000L): Long = {
    val spark = batch.sparkSession
    retryOnConflict(19) {
      // epoch gate inside the retry loop, with the roll-forward of a
      // stamped but unpublished version — see [[commitStreamBatch]]
      if (lastCommittedEpoch(spark, path, appId).exists(_ >= epoch)) {
        rollForwardStamped(spark, path, appId)
        mainWriteBase(spark, path)
      } else mergeIntoSnapshot(spark, path, batch, keys, clauses,
        orphanGraceMs, changeFeed = changeFeed, txn = Some((appId, epoch)))
    }
  }

  /** REPLICA APPLY — close the CDC loop: take the recorded change feed
    * of `src` for versions `fromVersion..toVersion` and apply it to
    * `dst` as ONE file-grain merge, so a downstream replica catches up
    * across N commits reading only the feeds and rewriting only the
    * files its keys live in — never rescanning either table. Feed rows
    * fold to per-key LAST state first (delete/update/insert vocabulary,
    * `_commit_version` then change-type rank orders same-version
    * delete+insert pairs), then one [[mergeIntoSnapshot]]: delete rows
    * drop, everything else upserts. Requires per-version key
    * uniqueness on `src` (the standing CDC contract) and a recorded
    * feed for every version in the range ([[readChangeFeed]]'s gap
    * rule). Law, spec-pinned: if `dst` ≡ `src@(fromVersion-1)`, then
    * after replication `dst` ≡ `src@toVersion`.
    */
  def replicateChanges(spark: SparkSession, src: String, dst: String,
                       keys: Seq[String], fromVersion: Long, toVersion: Long,
                       orphanGraceMs: Long = 600000L): Long = {
    val feed = readChangeFeed(spark, src, fromVersion, toVersion)
      .filter(col("_change_type") =!= "update_preimage")
    // last state per key across the range: later commit wins; within a
    // commit a delete can only co-exist with a later re-insert of the
    // same key via a SEPARATE version (per-version key uniqueness), so
    // (_commit_version, insert/update over delete) is a total order
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "delete", 0).otherwise(1).desc)
    val last = feed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "_commit_version")
    val schemaCols = last.columns.filterNot(_ == "_change_type")
    mergeIntoSnapshot(spark, dst, last, keys, Seq(
      DeleteWhen(col("s._change_type") === "delete"),
      UpdateWhen(lit(true),
        schemaCols.filterNot(keys.contains).map(c => c -> col(s"s.$c")).toMap),
      InsertWhen(col("s._change_type") =!= "delete")),
      orphanGraceMs)
  }

  /** Publish a pointer file by OVERWRITING rename — the destination is
    * never absent, so concurrent readers see old-or-new, not a
    * FileNotFoundException window (advice r10: the delete-then-rename
    * publish made a tag briefly absent, failing concurrent reads and
    * aborting the loser of two concurrent retags). Local FS gets the
    * genuinely atomic `Files.move(ATOMIC_MOVE, REPLACE_EXISTING)`;
    * elsewhere `FileContext.rename(OVERWRITE)` (atomic on HDFS); the
    * last-resort delete+rename is retried once so a racing publisher
    * re-creating the destination between the loser's delete and rename
    * degrades to last-wins instead of an abort.
    */
  private[store] def overwriteRename(fs: org.apache.hadoop.fs.FileSystem,
                                     tmp: org.apache.hadoop.fs.Path,
                                     dest: org.apache.hadoop.fs.Path,
                                     errMsg: => String): Unit = {
    val scheme = dest.toUri.getScheme
    if (scheme == null || scheme == "file") {
      // the NIO move bypasses ChecksumFileSystem, so its `.crc`
      // sidecars must go first: a stale `._latest.crc` would make
      // every later fs.open fail the checksum; with no sidecar the
      // checksum layer reads raw (its documented fallback)
      def crcOf(p: org.apache.hadoop.fs.Path) =
        new org.apache.hadoop.fs.Path(p.getParent, "." + p.getName + ".crc")
      fs.delete(crcOf(tmp), false)
      fs.delete(crcOf(dest), false)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(dest.toUri, fs.getConf)
          .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          // FS without overwrite-rename: retried delete+rename, last
          // publisher wins instead of the pre-r11 require-abort
          var ok = { fs.delete(dest, false); fs.rename(tmp, dest) }
          if (!ok) { fs.delete(dest, false); ok = fs.rename(tmp, dest) }
          require(ok, errMsg)
      }
    }
  }

  /** Per-version MANIFEST — the file-level commit record that makes
    * snapshot reads LISTING-FREE (VERDICT r8 #1): a one-file JSON next
    * to the version dir holding the data file list, per-file bytes,
    * footer-derived row count, and the schema. On a real object store
    * directory listing is slow and eventually consistent — a reader
    * that plans from the manifest touches exactly the committed files
    * (a file landing in the version dir AFTER commit, e.g. stray task
    * retry output, is invisible — the same isolation Delta's log and
    * Iceberg's manifests provide), and needs zero LIST calls for the
    * data. Row count comes from parquet footers at commit time
    * (driver-side metadata reads, O(files), no Spark job), so
    * downstream `count()`-style checks can answer from the manifest.
    * Written AFTER promote via write-to-tmp + rename, under the
    * commit's [[Commit.ManifestPolicy]]: a self-contained version's
    * manifest is best-effort (a manifest-less version reads through
    * the directory-listing fallback, exactly like a writer that died in
    * the gap or a pre-manifest table), a file-sharing version's is
    * load-bearing.
    */
  private def manifestPath(path: String, v: Long) =
    new org.apache.hadoop.fs.Path(s"$path/_manifest-v$v")

  /** Resolve one manifest file entry to its full path. Entries are
    * root-relative when they contain a `/` (a [[deleteWhere]] version
    * carrying an untouched file of an EARLIER version forward by
    * reference — `v=3/part-…`), plain file names otherwise (all files
    * live in this version's own dir — the only form pre-r10 manifests
    * ever wrote, so old manifests read unchanged).
    */
  private def resolveEntry(path: String, v: Long, entry: String): String =
    if (isAbsoluteEntry(entry)) entry
    else if (entry.contains("/")) s"$path/$entry" else s"$path/v=$v/$entry"

  /** An ABSOLUTE manifest entry — a rooted path or full URI pointing
    * OUTSIDE the table root, written only by [[cloneSnapshot]] (the
    * shallow-clone form): the clone's manifest references the source
    * table's bytes in place. Root-relative entries stay the norm;
    * absolute ones resolve verbatim everywhere entries resolve.
    */
  private def isAbsoluteEntry(e: String): Boolean =
    e.startsWith("/") || e.contains("://")

  /** Root-relative entry `e` of table `path` resolved to a readable
    * path — identity for absolute (clone) entries. */
  private def entryPath(path: String, e: String): String =
    if (isAbsoluteEntry(e)) e else s"$path/$e"

  /** The manifest's file entries, in committed order. */
  private def manifestEntries(m: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
    val it = m.get("files").elements()
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next().asText()
    b.result()
  }

  /** The manifest's entries NORMALIZED to root-relative form (plain
    * names become `v=<v>/name`) — the single copy of the rule every
    * cross-version consumer (deleteWhere/rollback/diff/expire) keys on.
    */
  private def normEntries(m: com.fasterxml.jackson.databind.JsonNode,
                          v: Long): Seq[String] =
    manifestEntries(m).map(e => if (e.contains("/")) e else s"v=$v/$e")

  /** Plan a read of version `v` from its parsed manifest: committed
    * schema, committed file list (minus `exclude`, root-relative),
    * empty-frame when nothing remains. The single manifest-planned
    * scan construction, shared by [[readSnapshot]] and
    * [[snapshotDiff]]'s pruned sides.
    */
  private def manifestPlannedRead(spark: SparkSession, path: String, v: Long,
                                  m: com.fasterxml.jackson.databind.JsonNode,
                                  exclude: Set[String] = Set.empty): DataFrame = {
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    dvPlannedRead(spark, path, m, schema, normEntries(m, v).filterNot(exclude))
  }

  // ---------------------------------------------------------------------------
  // Deletion vectors (X189) — merge-on-read row-level DELETE, the
  // Delta-DV / Iceberg-positional-delete shape: [[deleteWhereDv]]
  // records the matched rows' (file, row position) pairs in a `_dv`
  // sidecar inside its OWN version dir and rewrites NOTHING — every
  // data file is carried by reference, so erasing k scattered rows of
  // a 100 TB table costs one discovery scan plus a k-row parquet
  // write, where even the file-grain [[deleteWhere]] pays the touched
  // files' full bytes. Reads subtract the positions with an anti-join
  // on (normalized file path, `_metadata.row_index`) applied ONLY to
  // the files that carry positions — the clean bulk of the table scans
  // exactly as before (the manifest's `dvFiles` makes the split a
  // driver-side decision, zero extra I/O). Every rewrite of a dv'd
  // file (deleteWhere / updateWhere / merge / optimize / compact /
  // [[materializeDeletes]]) MATERIALIZES its deletions — the rewritten
  // file's positions die with its old path (position entries key on
  // the path, so a stale entry can never match a new file). The
  // position frame broadcasts while the manifest's live-position count
  // stays under [[DvBroadcastMaxRows]]; past that the anti-join
  // shuffles only the dv'd files' rows.
  // ---------------------------------------------------------------------------

  /** The manifest's deletion-vector state: `refs` names the `_dv`
    * sidecar dirs whose positions apply (root-relative `v=<n>/_dv`, or
    * absolute for a [[cloneSnapshot]] reference), `files` the touched
    * entries with their LIVE deleted-position count. Stale positions
    * (referencing since-rewritten paths) may persist inside kept refs;
    * they are inert in the anti-join and excluded from this count.
    */
  private[store] case class DvState(refs: Seq[String], files: Seq[(String, Long)]) {
    def rows: Long = files.map(_._2).sum
    def fileSet: Set[String] = files.map(_._1).toSet
  }

  private val DvBroadcastMaxRows = 262144L

  /** The manifest's bloom-index state (X193): one indexed `column`,
    * the filter width in `bits`, the `_idx` sidecar ref, and the
    * entries the index covers. Coverage is advisory: entries outside
    * `files` (later appends, rewritten files — whose new paths simply
    * aren't listed) are kept by every probe.
    */
  private[store] case class IdxState(column: String, bits: Long, ref: String,
                                     files: Seq[String])

  private def readIdxState(m: com.fasterxml.jackson.databind.JsonNode): Option[IdxState] =
    Option(m.get("idxRef")).map { r =>
      val fl = m.get("idxFiles")
      IdxState(m.get("idxCol").asText, m.get("idxBits").asLong, r.asText,
        (0 until fl.size).map(fl.get(_).asText))
    }

  // ---------------------------------------------------------------------------
  // Column mapping (X195) — Delta column-mapping shape: the manifest's
  // `columnMap` carries {logical name -> physical name}, where the
  // physical name is the column's name at FIRST write, frozen forever
  // inside the parquet files. [[renameSnapshotColumn]] is then a pure
  // manifest commit — ALTER TABLE RENAME COLUMN on a 100 TB table
  // costs one manifest write, zero file rewrites. Every scan reads the
  // PHYSICAL schema and aliases back to logical; every data-file write
  // renames logical -> physical first, so all files of a mapped table
  // share one physical layout. Full rewrites (commitSnapshot /
  // compactSnapshot) write logical names and drop the map. Mapping is
  // a READER FEATURE (X192): a map-ignorant scan would silently read
  // the renamed column as all-NULLs — the gate turns that into a loud
  // refusal.
  // ---------------------------------------------------------------------------

  private def columnMapOf(m: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    Option(m.get("columnMap")).map { node =>
      val it = node.fieldNames(); val b = Map.newBuilder[String, String]
      while (it.hasNext) { val k = it.next(); b += k -> node.get(k).asText }
      b.result()
    }.getOrElse(Map.empty)

  private def physicalName(map: Map[String, String], c: String): String =
    map.getOrElse(c, c)

  private def physicalize(schema: StructType, map: Map[String, String]): StructType =
    if (map.isEmpty) schema
    else StructType(schema.fields.map(f => f.copy(name = physicalName(map, f.name))))

  /** Rename a logical frame's columns to their physical names before a
    * data-file write into a mapped table. */
  private def toPhysical(df: DataFrame, map: Map[String, String]): DataFrame =
    if (map.isEmpty) df
    else df.select(df.columns.map(c => col(c).as(physicalName(map, c))).toIndexedSeq: _*)

  /** The physical->logical projection closing every mapped scan. */
  private def toLogicalCols(schema: StructType, map: Map[String, String]): Seq[Column] =
    schema.fields.map(f => col(physicalName(map, f.name)).as(f.name)).toSeq

  /** X201's bridge lookup in one place: physical name -> logical name
    * for a schema era — the one identity two versions share. */
  private def physToLogical(schema: StructType, cmap: Map[String, String]): Map[String, String] =
    schema.fieldNames.map(n => physicalName(cmap, n) -> n).toMap

  /** Physical-name tombstones (X196): every physical column name a
    * [[dropSnapshotColumn]] retired. The dropped column's bytes stay
    * frozen inside carried files, so a LATER column of the same name
    * must map to a fresh physical name or the old bytes would
    * resurrect into it. Cleared by full rewrites — compaction leaves
    * no file carrying the tombstoned bytes.
    */
  private def droppedColumnsOf(m: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    Option(m.get("droppedColumns")).map(a =>
      (0 until a.size).map(a.get(_).asText)).getOrElse(Seq.empty)

  /** Every physical column name the current files may carry bytes
    * under: the live schema's physical names plus the tombstones. A
    * NEW column (add / evolveSchema append) whose name hits this set
    * must be minted a fresh physical name.
    */
  private def usedPhysicalNames(schema: StructType, map: Map[String, String],
                                dropped: Seq[String]): Set[String] =
    schema.fieldNames.map(physicalName(map, _)).toSet ++ dropped

  /** A deterministic fresh physical name for logical `name`: the
    * first `name__p<k>` not yet used by any live or tombstoned
    * physical column. */
  private def mintPhysical(name: String, used: Set[String]): String =
    Iterator.from(0).map(k => s"${name}__p$k").find(!used(_)).get

  private def readDvState(m: com.fasterxml.jackson.databind.JsonNode): Option[DvState] =
    Option(m.get("dvRefs")).map { r =>
      val refs = (0 until r.size).map(r.get(_).asText)
      val fl = m.get("dvFiles"); val cl = m.get("dvFileRows")
      DvState(refs, (0 until fl.size).map(i => (fl.get(i).asText, cl.get(i).asLong)))
    }.filter(_.files.nonEmpty)

  /** `file:/x`, `file:///x`, `s3a://bucket/x` → scheme-and-authority-
    * stripped path — the one normalization both sides of the DV
    * anti-join share (`_metadata.file_path` carries the scheme; stored
    * positions and manifest entries do not).
    */
  private def stripSchemeCol(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:(//[^/]*)?", "")

  /** The table root as the scheme-less qualified path every stored DV
    * position is relative to. */
  private def qualifiedRoot(fs: org.apache.hadoop.fs.FileSystem, path: String): String =
    fs.makeQualified(new org.apache.hadoop.fs.Path(path)).toUri.getPath

  private val dvRowSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType)))

  /** The live position frame of `refs`, resolved to (`__p` scheme-less
    * absolute path, `__pos`). Each ref's rows are relative to the root
    * that RECORDED them — the table root for `v=<n>/_dv` refs, the ref's
    * own grandparent for an absolute (clone) ref — so positions keep
    * matching after a table is cloned or relocated.
    */
  private def dvFrame(spark: SparkSession, path: String, q: String,
                      refs: Seq[String]): DataFrame =
    refs.map { ref =>
      val root =
        if (!isAbsoluteEntry(ref))
          q
        else new org.apache.hadoop.fs.Path(ref).getParent.getParent.toString
      spark.read.schema(dvRowSchema).parquet(entryPath(path, ref))
        .select(
          when(col("file").startsWith("/"), col("file"))
            .otherwise(concat(lit(root + "/"), col("file"))).as("__p"),
          col("pos").as("__pos"))
    }.reduce(_ unionAll _)

  /** Stamp each scanned row's physical identity: `__p` (normalized
    * file path) + `__pos` (`_metadata.row_index`, the in-file row
    * ordinal the vectorized parquet reader maintains across row-group
    * and page skipping — the same primitive Delta's DVs key on).
    */
  private def withRowId(scan: DataFrame): DataFrame =
    scan.withColumn("__p", stripSchemeCol(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))

  /** Normalize a scheme-less physical path back to entry form:
    * root-relative inside the table (`v=<n>/part-…`), scheme-less
    * absolute for clone references — the inverse of [[entryPath]]
    * under root `q`, shared by the DV recorder and the bloom indexer.
    */
  private def entryFormCol(q: String, p: Column): Column =
    when(p.startsWith(q + "/"), p.substr(lit(q.length + 2), lit(Int.MaxValue)))
      .otherwise(p)

  /** Subtract the DV positions from `scan` (which must sit DIRECTLY
    * over a parquet file source — `_metadata` is stamped here). The
    * anti-join broadcasts under the manifest-recorded live count,
    * shuffles the dv'd files' rows otherwise. `__p`/`__pos` survive
    * for callers that need the row identity; project them away
    * otherwise.
    */
  private def antiDv(scan: DataFrame, dv: DataFrame, bcast: Boolean): DataFrame =
    withRowId(scan)
      .join(if (bcast) broadcast(dv) else dv, Seq("__p", "__pos"), "left_anti")

  /** Build the read of a version over an explicit (possibly pruned)
    * normalized entry list, applying the manifest's deletion vectors:
    * entries without positions scan plainly (one untouched parquet
    * scan — the 100 TB bulk), entries in `dvFiles` scan through the
    * anti-join, and the two legs union. The single dv-aware scan
    * construction behind [[readSnapshot]], [[readSnapshotWhere]],
    * [[snapshotDiff]] and [[optimizeSnapshot]].
    */
  private def dvPlannedRead(spark: SparkSession, path: String,
                            m: com.fasterxml.jackson.databind.JsonNode,
                            schema: StructType, entries: Seq[String]): DataFrame = {
    if (entries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // column mapping (X195): scan the files' PHYSICAL layout, alias
    // back to the committed logical names as the scan's closing
    // projection (pushdown sees the physical scan; the alias is free)
    val cmap = columnMapOf(m)
    val phys = physicalize(schema, cmap)
    val back = toLogicalCols(schema, cmap)
    val dv = readDvState(m)
    val dvd = dv.map(_.fileSet).getOrElse(Set.empty)
    val (hit, plain) = entries.partition(dvd)
    val plainDf =
      if (plain.isEmpty) None
      else {
        val scan = spark.read.schema(phys).parquet(plain.map(entryPath(path, _)): _*)
        Some(if (cmap.isEmpty) scan else scan.select(back: _*))
      }
    val hitDf =
      if (hit.isEmpty) None
      else {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val scan = spark.read.schema(phys).parquet(hit.map(entryPath(path, _)): _*)
        Some(antiDv(scan, dvFrame(spark, path, qualifiedRoot(fs, path), dv.get.refs),
          bcast = dv.get.rows <= DvBroadcastMaxRows)
          .select(back: _*))
      }
    (plainDf, hitDf) match {
      case (Some(a), Some(b)) => a.unionAll(b)
      case (Some(a), None)    => a
      case (None, Some(b))    => b
      case _                  => throw new IllegalStateException("unreachable: entries nonEmpty")
    }
  }

  /** Parquet-footer metadata of one committed file: (rows, per-column
    * min/max stats). Stats are recorded for the TOP-LEVEL columns whose
    * parquet VALUES and ordering match Spark's predicate space —
    * plain signed INT32/INT64, DATE (epoch-day longs), TIMESTAMP
    * (normalized to epoch-micros longs whatever the file's unit),
    * FLOAT/DOUBLE, and ASCII-only UTF8 strings (parquet orders binary
    * stats by UNSIGNED bytes, which coincides with Java string order
    * only inside ASCII — a non-ASCII min/max is dropped rather than
    * trusted). Decimal-annotated ints (UNSCALED physical values) and
    * unsigned ints (unsigned comparator) are deliberately skipped:
    * recording their raw stats would prune wrongly, and pruning must
    * only ever be an optimization. A row group with stats disabled
    * drops the column (bounds unknown); an all-null row group
    * contributes nothing and is NOT a drop — nulls can never satisfy a
    * range predicate, so the other groups' bounds stay valid.
    * Driver-side, the same footer read that already supplies the
    * manifest row count.
    */
  private def footerInfo(conf: org.apache.hadoop.conf.Configuration,
                         st: org.apache.hadoop.fs.FileStatus,
                         mapper: com.fasterxml.jackson.databind.ObjectMapper)
    : (Long, com.fasterxml.jackson.databind.node.ObjectNode) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def cmpAny(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case _ => 0
    }
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rows = r.getRecordCount
      val acc = scala.collection.mutable.LinkedHashMap[String, (Any, Any)]()
      val dropped = scala.collection.mutable.Set[String]()
      r.getFooter.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          if (c.getPath.size == 1) {
            val name = c.getPath.toDotString
            val s = c.getStatistics
            val pt = c.getPrimitiveType
            import org.apache.parquet.schema.LogicalTypeAnnotation
            val ann = pt.getLogicalTypeAnnotation
            // integer annotations are a WHITELIST: a decimal-annotated
            // INT32/64 stores UNSCALED values (1234 for 12.34) — raw
            // stats would compare against scaled bounds and prune
            // wrongly, so decimals (and unsigned ints, whose parquet
            // comparator is unsigned) are skipped, not guessed at.
            // Timestamps normalize to MICROS — the unit statComparable
            // lowers bounds to; the lossy NANOS→micros floor is safe
            // for min but must CEIL for max (understating max could
            // wrongly prune a file whose tail rows sit past the floor).
            def intOk = ann == null || ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] ||
              (ann match {
                case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
                case _ => false
              })
            def tsAdjust(v: Long, isMax: Boolean): Option[Long] = ann match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MICROS => Some(v)
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(v * 1000L)
                  case LogicalTypeAnnotation.TimeUnit.NANOS => // Java 17: no ceilDiv
                    Some(if (isMax) Math.floorDiv(v + 999L, 1000L) else Math.floorDiv(v, 1000L))
                  case _ => None
                }
              case _ => None
            }
            def scalaVal(o: Any, isMax: Boolean): Option[Any] = pt.getPrimitiveTypeName match {
              case INT32 if intOk => Some(o.asInstanceOf[java.lang.Integer].longValue)
              case INT64 if ann == null || ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
                if (intOk) Some(o.asInstanceOf[java.lang.Long].longValue) else None
              case INT64 if ann.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
                tsAdjust(o.asInstanceOf[java.lang.Long].longValue, isMax)
              case FLOAT => Some(o.asInstanceOf[java.lang.Float].doubleValue)
              case DOUBLE => Some(o.asInstanceOf[java.lang.Double].doubleValue)
              case BINARY if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                val str = o.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                if (str.forall(_ < 128)) Some(str) else None
              case _ => None
            }
            if (s == null || s.isEmpty) dropped += name
            else if (s.hasNonNullValue)
              (scalaVal(s.genericGetMin, isMax = false),
                scalaVal(s.genericGetMax, isMax = true)) match {
                case (Some(mn), Some(mx)) => acc.get(name) match {
                  case None => acc(name) = (mn, mx)
                  case Some((m0, m1)) => acc(name) = (
                    if (cmpAny(mn, m0) < 0) mn else m0,
                    if (cmpAny(mx, m1) > 0) mx else m1)
                }
                case _ => dropped += name
              }
          }
        }
      }
      dropped.foreach(acc.remove)
      val statsNode = mapper.createObjectNode()
      acc.foreach { case (name, (mn, mx)) =>
        val o = statsNode.putObject(name)
        def put(field: String, v: Any): Unit = v match {
          case l: Long => o.put(field, l)
          case d: Double => o.put(field, d)
          case str: String => o.put(field, str)
        }
        put("min", mn); put("max", mx)
      }
      (rows, statsNode)
    } finally r.close()
  }

  private[store] def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                                   conf: org.apache.hadoop.conf.Configuration,
                                   path: String, v: Long, schemaJson: String,
                                   entriesIn: Option[Seq[String]] = None,
                                   reuseFrom: Option[(com.fasterxml.jackson.databind.JsonNode, Long)] = None,
                                   txn: Option[(String, Long)] = None,
                                   dv: Option[DvState] = None,
                                   idx: Option[IdxState] = None,
                                   columnMap: Option[Map[String, String]] = None,
                                   droppedColumns: Option[Seq[String]] = None,
                                   idxDrop: Boolean = false,
                                   expectations: Option[Map[String, (String, Long)]] = None): Unit = {
    val entries: Seq[String] = entriesIn.getOrElse {
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/v=$v")).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(_.getPath.getName)
    }.sorted
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // per-file (bytes, rows, stats) REUSE from the previous manifest —
    // a carried-by-reference file's footer must not be re-read on every
    // commit (review r10 #4: without this, each deleteWhere paid
    // O(total table files) driver-side footer opens, defeating its
    // touched-files-only cost contract). Keyed on the root-relative
    // identity; a previous manifest without per-file arrays (pre-r10)
    // yields no reuse and the footers are read once, upgrading it.
    val reuse: Map[String, (Long, Long, com.fasterxml.jackson.databind.JsonNode)] =
      reuseFrom match {
        case Some((old, oldV)) =>
          val oe = manifestEntries(old).map(e => if (e.contains("/")) e else s"v=$oldV/$e")
          (Option(old.get("fileBytes")), Option(old.get("fileRows"))) match {
            case (Some(b), Some(r)) =>
              val os = Option(old.get("stats"))
              oe.indices.map { i =>
                oe(i) -> ((b.get(i).asLong, r.get(i).asLong,
                  os.map(_.get(i)).getOrElse(
                    mapper.createObjectNode(): com.fasterxml.jackson.databind.JsonNode)))
              }.toMap
            case _ => Map.empty
          }
        case None => Map.empty
      }
    // fresh entries' footers read in PARALLEL (r16, guide §5 — this is
    // single-threaded driver work on the commit path: a 32-file local
    // commit paid 32 sequential opens; a 10k-file commit at scale
    // would pay them at listing-latency each). Bounded pool, order
    // preserved by keying; carried-by-reference entries still reuse
    // the previous manifest and never re-open a footer.
    val freshEntries = entries.filterNot(reuse.contains)
    val freshInfos: Map[String, (Long, Long, com.fasterxml.jackson.databind.JsonNode)] = {
      def readOne(e: String) = {
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(resolveEntry(path, v, e)))
        val (rows, stats) = footerInfo(conf, st, mapper)
        (st.getLen, rows, stats: com.fasterxml.jackson.databind.JsonNode)
      }
      if (freshEntries.size <= 1) freshEntries.map(e => e -> readOne(e)).toMap
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(freshEntries.size, 16))
        try freshEntries.map { e =>
          e -> pool.submit(new java.util.concurrent.Callable[
            (Long, Long, com.fasterxml.jackson.databind.JsonNode)] {
            override def call() = readOne(e)
          })
        }.map { case (e, f) =>
          // r17 (ADVICE): rethrow the worker's own exception — callers
          // matching on IOException/FileNotFoundException on the commit
          // path must see the same error surface as the sequential
          // branch, not an ExecutionException wrapper
          e -> (try f.get() catch {
            case ee: java.util.concurrent.ExecutionException =>
              throw ee.getCause
          })
        }.toMap
        finally pool.shutdown()
      }
    }
    val infos = entries.map(e => reuse.getOrElse(e, freshInfos(e)))
    val node = mapper.createObjectNode()
    node.put("version", v)
    // IN-COMMIT timestamp (X209, the Delta inCommitTimestamps shape):
    // the commit instant rides the commit record itself, so time
    // travel and history survive anything that refreshes file mtimes
    // (a distcp/rsync table copy, an FS migration). Always the WRITE
    // time — a restore/rollback is a NEW commit at its own instant,
    // never the restored version's.
    node.put("committedAtMs", System.currentTimeMillis())
    // rowCount is the version's EFFECTIVE count: physical footer rows
    // minus live deletion-vector positions — [[snapshotRowCount]] stays
    // an O(1) truthful answer on a merge-on-read table
    node.put("rowCount", infos.map(_._2).sum - dv.map(_.rows).getOrElse(0L))
    node.put("bytes", infos.map(_._1).sum)
    // identity high-water mark (X210): derived from the SAME per-file
    // stats this manifest records — zero extra jobs; the max over all
    // committed files (fresh footers + carried reuse) bounds every id
    // actually written, minted or supplied
    identityRule(fs, path).foreach { case (c, startAt) =>
      val effMap = columnMap
        .orElse(reuseFrom.map { case (m, _) => columnMapOf(m) })
        .getOrElse(Map.empty)
      val phys = physicalName(effMap, c)
      val fromStats = infos.foldLeft(startAt - 1L) { (acc, i) =>
        Option(i._3.get(phys)).flatMap(s => Option(s.get("max")))
          .map(mx => math.max(acc, mx.asLong)).getOrElse(acc)
      }
      val carried = reuseFrom
        .flatMap { case (m, _) => Option(m.get("idHwm")).map(_.asLong) }
        .getOrElse(startAt - 1L)
      node.put("idHwm", math.max(fromStats, carried))
    }
    // Delta txn-action shape: the writer's (appId, epoch) rides the
    // COMMIT itself, so idempotence survives any crash window — there
    // is no separate marker whose loss could double-apply a batch
    txn.foreach { case (app, epoch) =>
      node.put("txnApp", app); node.put("txnEpoch", epoch)
    }
    // per-rule triage counts (X221, the DLT expectation-metrics shape):
    // observed inside the commit's own write plan, persisted with the
    // commit they triaged — snapshotHistory/describeSnapshot surface
    // them; absent on commits without declared rules (or pre-X221)
    expectations.filter(_.nonEmpty).foreach { ms =>
      val em = node.putObject("expectationMetrics")
      ms.toSeq.sortBy(_._1).foreach { case (rule, (action, violations)) =>
        val r = em.putObject(rule)
        r.put("action", action)
        r.put("violations", violations)
      }
    }
    node.set[com.fasterxml.jackson.databind.JsonNode]("schema", mapper.readTree(schemaJson))
    val arr = node.putArray("files")
    entries.foreach(arr.add)
    // per-file column min/max, PARALLEL to `files` — the data-skipping
    // record [[readSnapshotRange]] prunes from (absent in pre-r10
    // manifests, which read fine: pruning just has nothing to use) —
    // plus per-file bytes/rows, which make the reuse above possible
    val starr = node.putArray("stats")
    infos.foreach(i => starr.add(i._3))
    val barr = node.putArray("fileBytes")
    infos.foreach(i => barr.add(i._1))
    val rarr = node.putArray("fileRows")
    infos.foreach(i => rarr.add(i._2))
    // deletion-vector record (X189): the dv dirs whose positions apply
    // to this version, the entries they touch (normalized form, a
    // subset of `files`) and the live deleted-row count per entry —
    // `dvFiles`/`dvFileRows` are parallel arrays like the accounting
    dv.filter(_.files.nonEmpty).foreach { d =>
      val dra = node.putArray("dvRefs"); d.refs.foreach(dra.add)
      val dfa = node.putArray("dvFiles"); d.files.foreach { case (f, _) => dfa.add(f) }
      val dca = node.putArray("dvFileRows"); d.files.foreach { case (_, c) => dca.add(c) }
    }
    // reader-feature record (X192, the Delta protocol/table-features
    // shape): name every feature a reader MUST understand to produce
    // correct rows from this manifest. A version with live deletion
    // vectors read by a dv-ignorant build would silently resurrect
    // deleted rows; the feature gate in [[readManifest]] turns that
    // into a loud refusal. Absent array = plain manifest, readable by
    // every build.
    // column mapping (X195): explicit on a rename commit, carried from
    // the previous manifest otherwise (a carried file's physical
    // layout never changes); identity entries are dropped so an
    // all-identity map canonicalizes to "no map"
    val cmap = columnMap
      .orElse(reuseFrom.map { case (old, _) => columnMapOf(old) })
      .getOrElse(Map.empty)
      .filter { case (l, p) => l != p }
    if (cmap.nonEmpty) {
      val cm = node.putObject("columnMap")
      cmap.toSeq.sortBy(_._1).foreach { case (l, p) => cm.put(l, p) }
    }
    // physical-name tombstones (X196): explicit on a drop commit,
    // carried otherwise — they guard every FUTURE same-name column
    // against resurrecting the frozen bytes, so they live exactly as
    // long as some carried file might still hold them
    val dropped = droppedColumns
      .orElse(reuseFrom.map { case (old, _) => droppedColumnsOf(old) })
      .getOrElse(Seq.empty).distinct.sorted
    if (dropped.nonEmpty) {
      val da = node.putArray("droppedColumns"); dropped.foreach(da.add)
    }
    val feats =
      (if (dv.exists(_.files.nonEmpty)) Seq("deletion-vectors") else Nil) ++
        (if (cmap.nonEmpty) Seq("column-mapping") else Nil) ++
        (if (dropped.nonEmpty) Seq("dropped-columns") else Nil)
    if (feats.nonEmpty) {
      val farr = node.putArray("readerFeatures"); feats.foreach(farr.add)
    }
    // bloom-index record (X193): explicit on an [[indexSnapshot]]
    // commit, CARRIED from the previous manifest otherwise — the index
    // is passively conservative (an uncovered or rewritten file is
    // simply kept by every probe), so unlike dv state it needs no
    // per-write maintenance. NOT a reader feature: an index-ignorant
    // reader returns correct rows, just unpruned.
    (if (idxDrop) None
     else idx.orElse(reuseFrom.flatMap { case (old, _) => readIdxState(old) })).foreach { s =>
      node.put("idxCol", s.column)
      node.put("idxBits", s.bits)
      node.put("idxRef", s.ref)
      val ia = node.putArray("idxFiles"); s.files.foreach(ia.add)
    }
    publishManifest(fs, path, v, mapper.writeValueAsBytes(node))
  }

  /** Publish manifest bytes for version `v` by tmp + rename. */
  private def publishManifest(fs: org.apache.hadoop.fs.FileSystem, path: String,
                              v: Long, bytes: Array[Byte]): Unit = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_latest.tmp-mf$tag")
    val out = fs.create(tmp, true)
    out.write(bytes); out.close()
    // clean the tmp up on a failed publish (r9 advice): the random tag
    // means leaked tmps accrue per failure and nothing else reaps them
    val ok =
      try fs.rename(tmp, manifestPath(path, v))
      catch { case e: java.io.IOException => fs.delete(tmp, false); throw e }
    if (!ok) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"cannot publish manifest for v=$v under $path")
    }
  }

  /** Reader features THIS build understands — the gate below refuses
    * manifests demanding more, because "degrade to listing" on an
    * incomprehensible commit record means silently wrong rows. */
  private val SupportedReaderFeatures =
    Set("deletion-vectors", "column-mapping", "dropped-columns")

  /** The parsed manifest of `version`, if one was committed. */
  private[store] def readManifest(fs: org.apache.hadoop.fs.FileSystem, path: String,
                                  v: Long): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val mf = manifestPath(path, v)
    if (!fs.exists(mf)) None
    else {
      // a manifest that cannot be read or parsed (bit rot, torn disk)
      // degrades to the listing fallback, mirroring the best-effort
      // publish: the manifest is an optimization, never a gate
      val parsed =
        try {
          val in = fs.open(mf)
          try Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(in))
          finally in.close()
        } catch {
          case e @ (_: java.io.IOException |
                    _: com.fasterxml.jackson.core.JacksonException) =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"unreadable manifest for v=$v under $path (falling back to listing)", e)
            None
        }
      // …but a PARSED manifest naming a reader feature this build does
      // not implement is the one case that must NOT degrade (X192):
      // the listing fallback would return confidently wrong rows
      // (e.g. dv-deleted rows resurrected). Loud stop, never silent.
      parsed.foreach { node =>
        Option(node.get("readerFeatures")).foreach { fa =>
          val unknown = (0 until fa.size).map(fa.get(_).asText)
            .filterNot(SupportedReaderFeatures)
          if (unknown.nonEmpty) throw new IllegalStateException(
            s"snapshot v=$v under $path requires reader features this build does not " +
              s"support: ${unknown.mkString(", ")} — upgrade the reader; a listing " +
              "fallback would return incorrect rows")
        }
      }
      parsed
    }
  }

  /** The manifest's committed row count for `version` — an O(1) driver
    * read, no Spark job, no file I/O beyond the one manifest. None for
    * manifest-less (pre-manifest or crash-gap) versions.
    */
  def snapshotRowCount(spark: SparkSession, path: String,
                       version: Option[Long] = None): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse(currentSnapshot(spark, path))
    readManifest(fs, path, v).map(_.get("rowCount").asLong())
  }

  /** What [[joinSnapshots]] decided and why — computable with ZERO
    * data I/O (manifest fields + analyze side tables only), so a
    * caller can inspect the plan choice, and the skew advice, without
    * building the join. `strategy` is one of `broadcast_left`,
    * `broadcast_right`, `shuffle_hash_left`, `shuffle_hash_right`,
    * `shuffle`. `saltAdvice` is SURFACED, never auto-applied: salting
    * rewrites both sides' keys, which only the caller can decide
    * (it changes the join's output grain for aggregates downstream).
    */
  case class JoinAdvice(
      strategy: String,
      leftBytesEst: Option[Long],
      rightBytesEst: Option[Long],
      buildSideNdv: Option[Double],
      saltAdvice: Option[String])

  /** STATS-DRIVEN SNAPSHOT JOIN (r13, hardened r14): join two snapshot
    * tables on `keys`, choosing the strategy from the MANIFESTS and
    * ANALYZE side tables alone — the CBO dividend of the stats the
    * warehouse already keeps. Spark's own planner can't make this
    * call: a fresh parquet relation's sizeInBytes is FILE bytes
    * (compressed, column-pruned wrongly) and a snapshot read behind dv
    * anti-joins/column maps loses even that.
    *
    * SIZE estimate (r14 — the r13 ADVICE fix): rowCount ×
    * schema.defaultSize assumes fixed widths (20 B per string), so a
    * multi-KB-text table was under-estimated by orders of magnitude
    * and broadcast into an OOM — the exact failure the hint exists to
    * avoid. The estimate is now `max(rowCount × defaultSize,
    * manifestBytes × DecompressionFactor)` — the manifest already
    * records the version's total data bytes — and a schema carrying
    * var-width columns (string/binary/array/map) with NO readable
    * byte count is NEVER broadcast on the row-width guess alone.
    * Unknown size is large size.
    *
    * PREDICATE-AWARE sizing (r15 — the r14 verdict's #2): the natural
    * consumer joins a FILTERED read (a date-sliced fact table), and a
    * whole-table byte estimate can't see that the slice broadcasts.
    * `leftRange`/`rightRange` = (column, lo, hi) declare the slice;
    * the side's byte estimate scales by the X246 [[estimateRows]]
    * selectivity — and DECLINES (stays un-broadcastable) whenever
    * estimateRows declines (no recorded histogram family, incomplete
    * coverage, any dv'd file), because a planner consult must never
    * guess small. [[joinSnapshots]] applies the same range to the
    * read it builds, so the advice and the plan describe one join.
    *
    * STRATEGY ladder: a side under `broadcastThreshold` (default: the
    * session's autoBroadcastJoinThreshold) gets the explicit
    * `broadcast()` hint (both under → the smaller). When NEITHER side
    * broadcasts, the decision consults the X231 synopses (r14): if the
    * smaller buildable side has complete recorded-NDV coverage on a
    * join key and its per-key cardinality `rowCount / ndv` is bounded
    * (≤ 64 rows/key), the side is hinted SHUFFLE_HASH — bounded build
    * partitions hash safely, and skipping both sides' sorts beats SMJ.
    * The AVERAGE bound alone cannot rule out a single hub key hiding
    * behind a passing mean (r15, the r14 review), so certification
    * additionally requires a recorded HISTOGRAM family on a join key
    * whose hottest bin is bounded ([[recordedMaxBinRows]] — all of one
    * value's rows share its bin, so no key can exceed its bin's
    * total): no histogram, or a hot bin → build-side skew cannot be
    * ruled out → plain join. No synopsis coverage → plain join, and
    * the planner's SMJ/SHJ machinery (plus AQE's runtime re-pick)
    * takes over — the right fallback at 100 TB where both sides are
    * corpus-sized. All hints respect join-type build rules (a LEFT
    * OUTER join can only build right, etc.); an ineligible side simply
    * isn't hinted.
    *
    * SKEW is surfaced, not auto-applied ([[joinAdvice]]): when the
    * probe side's recorded per-key cardinality exceeds ~1024 rows/key,
    * the advice names the key and recommends salting / AQE skew join —
    * rewriting keys is the caller's decision, not a join helper's.
    * Broadcast strategies carry no salt advice at all: a broadcast
    * join never shuffles either side, so there is no partition for a
    * hot key to concentrate in (and the advice therefore costs zero
    * synopsis reads on the broadcast path — r15, the r14 review's
    * planning-cost note).
    *
    * The whole decision costs zero DATA bytes (spec poison pin:
    * corrupt every data file, the plan still builds with the right
    * strategy); the synopsis/histogram lookups read the
    * (files × k)-row side tables, metadata-grain by construction, and
    * each recorded estimate is computed AT MOST ONCE per decision
    * (memoized per (path, column) — r15).
    */
  def joinSnapshots(spark: SparkSession, leftPath: String, rightPath: String,
                    keys: Seq[String], joinType: String = "inner",
                    broadcastThreshold: Option[Long] = None,
                    leftRange: Option[(String, Double, Double)] = None,
                    rightRange: Option[(String, Double, Double)] = None): DataFrame = {
    // a declared range slice READS pruned (r16, the r15 verdict): the
    // decision already sizes the slice from the histogram; the read
    // now opens only stats-overlapping files too (readSnapshotWhere
    // documents result ≡ readSnapshot().filter(bounds), so semantics
    // are untouched) — on a date-sliced 100 TB fact side the scan is
    // the in-range files, not the table
    def sliced(path: String, range: Option[(String, Double, Double)]) =
      range.fold(readSnapshot(spark, path)) { case (c, lo, hi) =>
        readSnapshotWhere(spark, path, Seq((c, Some(lo), Some(hi))))
      }
    val l = sliced(leftPath, leftRange)
    val r = sliced(rightPath, rightRange)
    joinAdvice(spark, leftPath, rightPath, keys, joinType,
      broadcastThreshold, leftRange, rightRange).strategy match {
      case "broadcast_left"     => broadcast(l).join(r, keys, joinType)
      case "broadcast_right"    => l.join(broadcast(r), keys, joinType)
      case "shuffle_hash_left"  => l.hint("SHUFFLE_HASH").join(r, keys, joinType)
      case "shuffle_hash_right" => l.join(r.hint("SHUFFLE_HASH"), keys, joinType)
      case _                    => l.join(r, keys, joinType)
    }
  }

  /** Parquet-to-in-memory expansion guess for the size estimate:
    * deliberately conservative (snappy parquet commonly decodes 2–5×;
    * under-guessing risks an OOM broadcast, over-guessing only costs a
    * shuffle that AQE may still convert back).
    */
  private val DecompressionFactor = 4L

  /** Per-key build-side rows bound under which [[joinSnapshots]] hints
    * SHUFFLE_HASH; and the probe-side per-key bound past which the
    * advice recommends salting.
    */
  private val ShuffleHashMaxRowsPerKey = 64.0
  private val SkewAdviseRowsPerKey = 1024.0

  /** Build-side hub veto (r15 — the r14 review): the hottest single
    * key's rows are bounded by its histogram bin's total, so a
    * recorded hottest bin under this many rows RULES OUT the hub that
    * an average-rows/key bound cannot see. Deliberately an absolute
    * row budget, not a partition-relative one: a half-million-row key
    * hashes in one build task at any cluster size, while a
    * relative-to-partitions test would veto uniform tables as the
    * partition count grows. Finer certification = more bins (the
    * bound shrinks as rowCount/bins does).
    */
  private val ShuffleHashMaxBuildKeyRows = 1L << 19

  /** The [[joinSnapshots]] decision alone — zero data I/O. */
  def joinAdvice(spark: SparkSession, leftPath: String, rightPath: String,
                 keys: Seq[String], joinType: String = "inner",
                 broadcastThreshold: Option[Long] = None,
                 leftRange: Option[(String, Double, Double)] = None,
                 rightRange: Option[(String, Double, Double)] = None): JoinAdvice = {
    require(keys.nonEmpty, "joinSnapshots: no join keys given")
    val thr = broadcastThreshold.getOrElse(
      org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold)
    val fsConf = spark.sparkContext.hadoopConfiguration
    // every recorded estimate is a side-table read: memoize per
    // (path, column) so one decision never re-runs a lookup the
    // ladder and the skew probe both want (r14 review)
    val ndvCache = scala.collection.mutable.Map.empty[(String, String), Option[Double]]
    def ndvAt(path: String, c: String): Option[Double] =
      ndvCache.getOrElseUpdate((path, c), recordedNdv(spark, path, c))
    val binCache = scala.collection.mutable.Map.empty[String, Option[Long]]
    def maxBinAt(path: String): Option[Long] =
      binCache.getOrElseUpdate(path,
        keys.flatMap(c => recordedMaxBinRows(spark, path, c)).minOption)
    def manifest(path: String) = {
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(fsConf)
      val v = currentSnapshot(spark, path)
      if (v >= 1) readManifest(fs, path, v) else None
    }
    // r15 (r14 review): recurse — a struct wrapping a string/array is
    // just as var-width as a top-level one
    def isVar(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.StringType => true
      case _: org.apache.spark.sql.types.BinaryType => true
      case _: org.apache.spark.sql.types.ArrayType => true
      case _: org.apache.spark.sql.types.MapType => true
      case s: StructType => s.fields.exists(f => isVar(f.dataType))
      case _ => false
    }
    def hasVarWidth(path: String): Boolean = manifest(path).exists { m =>
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(m.get("schema").toString).asInstanceOf[StructType]
      schema.fields.exists(f => isVar(f.dataType))
    }
    def rowCount(path: String): Option[Long] =
      manifest(path).flatMap(m => Option(m.get("rowCount")).map(_.asLong))
    def estBytes(path: String, range: Option[(String, Double, Double)]): Option[Long] = {
      val whole = manifest(path).flatMap { m =>
        val rows = Option(m.get("rowCount")).map(_.asLong)
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(m.get("schema").toString).asInstanceOf[StructType]
        val widthEst = rows.map(_ * schema.defaultSize)
        val fileEst = Option(m.get("bytes")).map(_.asLong * DecompressionFactor)
        (widthEst, fileEst) match {
          case (Some(a), Some(b)) => Some(math.max(a, b))
          // var-width rows under a width-only guess are the OOM path
          // (r13 ADVICE): without the byte signal, refuse to estimate
          case (Some(a), None) => if (hasVarWidth(path)) None else Some(a)
          case _ => None
        }
      }
      range match {
        case None => whole
        // a declared slice scales by the X246 histogram selectivity —
        // and the estimate DECLINES when estimateRows does: a planner
        // consult must never guess a filtered side small. The scale
        // factor is the UPPER bound (every intersecting bin whole —
        // r16, the r15 ADVICE): proration assumes uniform-within-bin
        // mass, which can under-size a slice by a boundary bin's full
        // count when values concentrate inside the overlap — and an
        // under-sized broadcast is the OOM path, while an over-sized
        // one only costs a shuffle AQE may still convert back
        case Some((c, lo, hi)) =>
          for {
            b <- whole
            n <- rowCount(path) if n > 0
            est <- estimateRows(spark, path, c, lo, hi, upperBound = true)
          } yield math.ceil(b * math.min(1.0, est / n)).toLong
      }
    }
    val norm = joinType.toLowerCase.replaceAll("[_ ]", "")
    val canBuildLeft = Set("inner", "cross", "right", "rightouter")(norm)
    val canBuildRight = Set("inner", "cross", "left", "leftouter",
      "semi", "leftsemi", "anti", "leftanti")(norm)
    val lb = estBytes(leftPath, leftRange)
    val rb = estBytes(rightPath, rightRange)
    // best recorded per-key cardinality across the join keys: the
    // composite key's per-key count is bounded by ANY single column's
    val perKey: String => Option[Double] = path =>
      (for {
        n <- rowCount(path).toSeq
        c <- keys
        ndv <- ndvAt(path, c) if ndv > 0.0
      } yield n.toDouble / ndv).minOption
    val ndvOf: String => Option[Double] = path =>
      keys.flatMap(c => ndvAt(path, c)).maxOption
    val le = lb.filter(_ <= thr).filter(_ => canBuildLeft)
    val re = rb.filter(_ <= thr).filter(_ => canBuildRight)
    val (strategy, buildNdv) = (le, re) match {
      case (Some(a), Some(b)) if a <= b => ("broadcast_left", None)
      case (_, Some(_))                 => ("broadcast_right", None)
      case (Some(_), _)                 => ("broadcast_left", None)
      case _ =>
        // neither broadcasts: try a synopsis-certified SHUFFLE_HASH on
        // the smaller buildable side (unknown sizes stay unhinted).
        // BOTH certificates must hold (r15): the synopsis bounds the
        // AVERAGE rows/key; the recorded histogram's hottest bin rules
        // out the hub an average cannot see (a key's rows all share
        // one bin). Either signal missing → skew not ruled out →
        // plain join, the r14 review's prescription.
        val candidates = Seq(
          ("shuffle_hash_left", lb, canBuildLeft, leftPath),
          ("shuffle_hash_right", rb, canBuildRight, rightPath))
          .collect { case (s, Some(bytes), true, p) => (s, bytes, p) }
          .sortBy(_._2)
        candidates.headOption.flatMap { case (s, _, p) =>
          perKey(p).filter(_ <= ShuffleHashMaxRowsPerKey)
            .filter(_ => maxBinAt(p).exists(_ <= ShuffleHashMaxBuildKeyRows))
            .map(_ => (s, ndvOf(p)))
        }.getOrElse(("shuffle", None))
    }
    // skew advice reads the PROBE side(s) — the side(s) not being
    // built: a bounded build hashes fine, but a probe key holding
    // thousands of rows lands them in one task either way. A plain
    // shuffle has no build side, so BOTH sides are probe-shaped and
    // the worse one speaks (r14 review). A broadcast join never
    // shuffles either side — no partition exists for a hot key to
    // concentrate in — so broadcast strategies carry no salt advice
    // and pay no synopsis reads (r15).
    val saltAdvice = {
      val probePaths = strategy match {
        case "broadcast_left" | "broadcast_right" => Seq.empty[String]
        case "shuffle_hash_left" => Seq(rightPath)
        case "shuffle_hash_right" => Seq(leftPath)
        case _ => Seq(leftPath, rightPath)
      }
      probePaths.flatMap(p => perKey(p).map(p -> _))
        .filter(_._2 >= SkewAdviseRowsPerKey)
        .sortBy(-_._2).headOption.map { case (p, pk) =>
          f"join key(s) ${keys.mkString(", ")} average $pk%.0f rows/key on " +
            s"$p — consider salting the key or relying on AQE skew-join " +
            "(spark.sql.adaptive.skewJoin.enabled) before shuffling at scale"
        }
    }
    JoinAdvice(strategy, lb, rb, buildNdv, saltAdvice)
  }

  /** NDV estimate for `column` from RECORDED synopses alone — the
    * PLANNING variant of [[ndvSnapshot]]: where that one live-scans
    * uncovered files to stay exact, this one returns None unless
    * every live file is dv-free and covered by a recorded synopsis
    * family (largest recorded k wins), because a planner consult must
    * never cost data bytes (X203). The estimate it does return is
    * bit-identical to [[ndvSnapshot]] at that k.
    */
  def recordedNdv(spark: SparkSession, path: String, column: String): Option[Double] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = currentSnapshot(spark, path)
    if (v < 1) return None
    val m = readManifest(fs, path, v).getOrElse(return None)
    // any dv'd file would need a live re-scan for an exact answer —
    // planning reads nothing, so it simply declines
    if (readDvState(m).exists(_.files.nonEmpty)) return None
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    if (!schema.fieldNames.contains(column)) return None
    val pc = physicalName(columnMapOf(m), column)
    val entries = normEntries(m, v)
    if (entries.isEmpty) return Some(0.0)
    val side = synopsesPath(path)
    if (snapshots(spark, side).isEmpty) return None
    import spark.implicits._
    val fam = readSnapshot(spark, side).filter(col("column") === pc)
      .join(broadcast(entries.toDF("file")), Seq("file"), "left_semi")
      .localCheckpoint(true) // consumed by the coverage probe AND the estimate
    val ks = fam.groupBy("k").agg(countDistinct(col("file")).as("nf"))
      .filter(col("nf") === entries.size)
      .select("k").collect().map(_.getInt(0))
    if (ks.isEmpty) return None
    val k = ks.max
    val est = fam.filter(col("k") === k && col("v").isNotNull)
      .groupBy("v").agg(min(col("u")).as("u"))
      .orderBy(col("u"), col("v")).limit(k)
      .agg(count(lit(1)).as("__n"), max(col("u")).as("__uk"))
      .select(when(col("__n") < k, col("__n").cast("double"))
        .otherwise(lit((k - 1).toDouble) / col("__uk")))
      .head()
    Some(if (est.isNullAt(0)) 0.0 else est.getDouble(0))
  }

  /** Upper bound on the hottest single value's row count for `column`,
    * from the RECORDED histogram families alone (r15) — all of one
    * value's rows share its bin, so no key can exceed its bin's total:
    * the heavy-hitter signal [[joinAdvice]]'s SHUFFLE_HASH
    * certification needs (an average rows/key bound cannot rule out a
    * hub). Planning-grade like [[recordedNdv]]/[[estimateRows]]: zero
    * data bytes, and None unless some (column, bins) family is dv-free
    * and covers EVERY live file — the tightest complete family
    * (largest bins) answers. NULL-bin coverage sentinels carry no
    * counts; an empty table bounds at 0.
    */
  def recordedMaxBinRows(spark: SparkSession, path: String, column: String): Option[Long] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = currentSnapshot(spark, path)
    if (v < 1) return None
    val m = readManifest(fs, path, v).getOrElse(return None)
    if (readDvState(m).exists(_.files.nonEmpty)) return None
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    if (!schema.fieldNames.contains(column)) return None
    val pc = physicalName(columnMapOf(m), column)
    val entries = normEntries(m, v)
    if (entries.isEmpty) return Some(0L)
    val side = histogramsPath(path)
    if (snapshots(spark, side).isEmpty) return None
    import spark.implicits._
    val fam = readSnapshot(spark, side).filter(col("column") === pc)
      .join(broadcast(entries.toDF("file")), Seq("file"), "left_semi")
      .localCheckpoint(true) // consumed by the coverage probe AND the max
    val complete = fam.groupBy("bins").agg(countDistinct(col("file")).as("nf"))
      .filter(col("nf") === entries.size)
      .select("bins").collect().map(_.getInt(0))
    if (complete.isEmpty) return None
    val b = complete.max
    fam.filter(col("bins") === b && col("bin").isNotNull)
      .groupBy("bin").agg(sum("n").as("n"))
      .agg(max(col("n"))).head() match {
        case r if r.isNullAt(0) => Some(0L) // all-NULL column: no binned mass
        case r => Some(r.getLong(0))
      }
  }

  /** All LIVE snapshot versions under `path`, ascending. A version dir
    * carrying an `_expired-v<n>` marker is excluded: [[expireSnapshots]]
    * leaves such a dir behind only to host files still referenced by a
    * later version's manifest ([[deleteWhere]] file sharing) — the
    * version itself is retired and unreadable. One listing covers both
    * the `v=` dirs and the markers.
    */
  def snapshots(spark: SparkSession, path: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val names = fs.listStatus(root).toSeq.map(_.getPath.getName)
    val expired = names.filter(_.startsWith("_expired-v"))
      .map(_.stripPrefix("_expired-v").toLong).toSet
    names.filter(_.matches("v=\\d+")).map(_.drop(2).toLong)
      .filterNot(expired).sorted
  }

  /** Read a snapshot: the pinned `version`, or the main ref's target
    * ([[mainWriteBase]]) when absent. `_latest` is swapped by an
    * overwriting rename, so once written it is never absent; the
    * listing fallback to max(v=*) serves a table whose first commit
    * died between its promote and its pointer write (and a table from
    * before the pointer), where the newest version dir is the only
    * candidate — and a reader still resolves ONE concrete version.
    */
  private def resolveVersion(spark: SparkSession, path: String,
                             version: Option[Long]): Long =
    version.getOrElse {
      val v = mainWriteBase(spark, path)
      if (v == 0L) sys.error(s"no _latest pointer or v=* versions under $path")
      v
    }

  def readSnapshot(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame = {
    val v = resolveVersion(spark, path, version)
    // plan from the manifest when one was committed: the scan reads
    // EXACTLY the committed file list with the committed schema — zero
    // LIST calls against the version dir, and stray post-commit files
    // (task-retry debris) are invisible. Manifest-less versions (pre-
    // manifest tables, or a writer that died between promote and
    // manifest publish) fall back to the directory scan unchanged.
    val fsv = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fsv, path, v) match {
      case Some(m) => manifestPlannedRead(spark, path, v, m)
      case None =>
        // no manifest: two states must fail LOUDLY before the listing
        // fallback, because a directory scan would return silently
        // wrong data. An expired version's dir may survive only to
        // host files a later manifest still references; a `_partial`-
        // marked version ([[deleteWhere]]) holds only its REWRITTEN
        // files — the untouched rows exist solely via its (lost)
        // manifest's cross-version references.
        require(!fsv.exists(new org.apache.hadoop.fs.Path(s"$path/_expired-v$v")),
          s"snapshot v=$v under $path was expired (expireSnapshots); " +
            "its surviving files only back later versions' manifests")
        require(!fsv.exists(new org.apache.hadoop.fs.Path(s"$path/v=$v/_partial")),
          s"snapshot v=$v under $path is a file-sharing version (deleteWhere) with a " +
            "missing/unreadable manifest; a listing read would silently drop its " +
            "carried-forward rows — restore the manifest or vacuum the partial version")
        spark.read.parquet(s"$path/v=$v")
    }
  }

  /** [[collectSnapshot]]'s memo: path -> (version, manifest text, rows),
    * one entry per path. */
  private val collectCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String, IndexedSeq[Row])]()

  /** A SMALL snapshot's rows on the driver (immutable: callers share
    * them) — the pinned `version` or the current one — memoized per
    * path. The memo key is the resolved version together with that
    * version's manifest text, never the version number alone: the
    * manifest names the committed data files, so a table deleted and
    * rebuilt at the same version misses. A hit costs the `_latest` and
    * manifest reads and no Spark job. A manifest-less version (pre-
    * manifest, or a crash between promote and manifest publish) is read
    * uncached. Meant for side tables of a few rows (index meta,
    * centroids) that probes read on every call but that change only
    * when a build or refresh commits.
    */
  def collectSnapshot(spark: SparkSession, path: String,
                      version: Option[Long] = None): IndexedSeq[Row] = {
    def rows(df: DataFrame) = scala.collection.immutable.ArraySeq.unsafeWrapArray(df.collect())
    val v = resolveVersion(spark, path, version)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, path, v) match {
      case None => rows(readSnapshot(spark, path, Some(v)))
      case Some(m) =>
        val key = new org.apache.hadoop.fs.Path(path).toString
        val text = m.toString
        Option(collectCache.get(key)) match {
          case Some((cv, ct, cached)) if cv == v && ct == text => cached
          case _ =>
            val read = rows(manifestPlannedRead(spark, path, v, m))
            collectCache.put(key, (v, text, read))
            read
        }
    }
  }

  /** DESCRIBE TABLE (X211) — one (property, value) frame collecting
    * everything a table declares and carries: version accounting from
    * the manifest (zero data I/O), the committed schema, the column
    * map and tombstones, deletion-vector and bloom-index state, reader
    * features, CHECK constraints, generated/identity rules, tags and
    * branches. The operational "what am I looking at" answer the
    * scattered readers individually provide — composed, never
    * recomputed (every line comes from an existing metadata surface).
    */
  def describeSnapshot(spark: SparkSession, path: String,
                       version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = resolveVersion(spark, path, version)
    val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
    rows += (("version", v.toString))
    rows += (("committed_at", new java.sql.Timestamp(commitInstant(fs, path, v)).toString))
    readManifest(fs, path, v).foreach { m =>
      rows += (("row_count", m.get("rowCount").asLong.toString))
      rows += (("bytes", m.get("bytes").asLong.toString))
      val entries = manifestEntries(m)
      rows += (("n_files", entries.size.toString))
      rows += (("n_shared_files",
        entries.count(e => e.contains("/") && !e.startsWith(s"v=$v/")).toString))
      rows += (("schema", org.apache.spark.sql.types.DataType
        .fromJson(m.get("schema").toString).asInstanceOf[StructType].simpleString))
      columnMapOf(m).toSeq.sortBy(_._1).foreach { case (l, p) =>
        rows += ((s"column_map.$l", p)) }
      val tomb = droppedColumnsOf(m)
      if (tomb.nonEmpty) rows += (("dropped_physical", tomb.mkString(", ")))
      readDvState(m).foreach { d =>
        rows += (("deletion_vectors.files", d.files.size.toString))
        rows += (("deletion_vectors.rows", d.rows.toString))
      }
      readIdxState(m).foreach { s =>
        rows += (("bloom_index",
          s"${s.column} (${s.bits} bits, ${s.files.size}/${entries.size} files covered)"))
      }
      // X231/X234: ANALYZE coverage per column, from the _synopses/
      // _histograms side tables — "how stale is my zero-scan NDV /
      // histogram". Synopsis rows key on NORMALIZED entries (v=N/name),
      // so the raw manifest entries normalize before the join. Rows
      // key on the frozen PHYSICAL column name; the report labels them
      // by the CURRENT logical name (r14 — a rename must not strand a
      // family's coverage under a label no live column bears; the
      // column_map rows disclose the physical identity either way).
      val logicalLabel: String => String = {
        val inv = columnMapOf(m).map(_.swap)
        p => inv.getOrElse(p, p)
      }
      if (snapshots(spark, synopsesPath(path)).nonEmpty) {
        readSnapshot(spark, synopsesPath(path))
          .join(broadcast(normEntries(m, v).toDF("file")), Seq("file"), "left_semi")
          .select("file", "column", "k").distinct()
          .groupBy("column", "k").agg(countDistinct("file").as("n"))
          .collect()
          .sortBy(r => (r.getString(0), r.getInt(1)))
          .foreach { r =>
            rows += ((s"synopsis.${logicalLabel(r.getString(0))}",
              s"k=${r.getInt(1)}: ${r.getLong(2)}/${entries.size} files covered"))
          }
      }
      if (snapshots(spark, histogramsPath(path)).nonEmpty) {
        // families enumerate from the WHOLE side table (not just
        // live-covered rows) so an edge-pinned family with zero live
        // file rows — the all-dv analyze state — still reports its
        // existence as 0/N instead of vanishing
        val side = readSnapshot(spark, histogramsPath(path))
          .localCheckpoint(true) // one read feeds families AND coverage
        val covered = side
          .join(broadcast(normEntries(m, v).toDF("file")), Seq("file"), "left_semi")
          .select("file", "column", "bins").distinct()
          .groupBy("column", "bins").agg(countDistinct("file").as("n"))
          .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
        side.select("column", "bins").distinct()
          .collect().map(r => (r.getString(0), r.getInt(1))).sorted
          .foreach { case (c, b) =>
            rows += ((s"histogram.${logicalLabel(c)}",
              s"bins=$b: ${covered.getOrElse((c, b), 0L)}/${entries.size} files covered"))
          }
      }
      Option(m.get("readerFeatures")).foreach { rf =>
        rows += (("reader_features",
          (0 until rf.size).map(rf.get(_).asText()).mkString(", ")))
      }
      // X221: per-rule triage counts recorded by THIS commit's gate
      Option(m.get("expectationMetrics")).foreach { em =>
        val it = em.fieldNames()
        while (it.hasNext) {
          val rule = it.next()
          val r = em.get(rule)
          rows += ((s"expectation_metrics.$rule",
            s"${r.get("action").asText}: ${r.get("violations").asLong} violation(s)"))
        }
      }
    }
    snapshotConstraints(spark, path).toSeq.sortBy(_._1).foreach { case (n, sql) =>
      rows += ((s"constraint.$n", sql)) }
    snapshotExpectations(spark, path).toSeq.sortBy(_._1).foreach { case (n, (sql, a)) =>
      rows += ((s"expectation.$n", s"$a: $sql")) }
    snapshotGenerated(spark, path).toSeq.sortBy(_._1).foreach { case (c, sql) =>
      rows += ((s"generated.$c", sql)) }
    snapshotIdentity(spark, path).foreach { case (c, st) =>
      rows += (("identity", s"$c (starts at $st)")) }
    snapshotTags(spark, path).foreach { case (n, tv, live) =>
      rows += ((s"tag.$n", s"v=$tv${if (live) "" else " (expired)"}")) }
    snapshotBranches(spark, path).foreach { case (n, bv, live) =>
      rows += ((s"branch.$n", s"v=$bv${if (live) "" else " (expired)"}")) }
    rows.toSeq.toDF("property", "value")
  }

  /** Timestamp time travel: the highest version committed at or before
    * `tsMillis` — "the table as of last night's run" without knowing
    * the version number. Commit instants come from the commit marker's
    * modification time (the CAS claim moment) when present, else the
    * version directory's — data-landing resolution, adequate for
    * as-of reads; for audit-grade ordering use version numbers, which
    * are monotone by construction.
    */
  def snapshotVersionAt(spark: SparkSession, path: String, tsMillis: Long,
                        ceil: Boolean = false): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (ceil) {
      // the FROM side of a wall-clock change-feed bracket: the first
      // version committed at or after the instant
      val at = snapshots(spark, path).filter(commitInstant(fs, path, _) >= tsMillis)
      require(at.nonEmpty, s"no snapshot under $path committed at or after $tsMillis")
      at.min
    } else {
      val at = snapshots(spark, path).filter(commitInstant(fs, path, _) <= tsMillis)
      require(at.nonEmpty, s"no snapshot under $path committed at or before $tsMillis")
      at.max
    }
  }

  /** The version's commit instant: the CAS marker's mtime when
    * present, else the version dir's — the one rule shared by
    * [[snapshotVersionAt]] and [[snapshotHistory]].
    */
  private def commitInstant(fs: org.apache.hadoop.fs.FileSystem,
                            path: String, v: Long): Long =
    readCommittedAtMs(fs, path, v).getOrElse {
      val marker = new org.apache.hadoop.fs.Path(s"$path/_commit-v$v")
      if (fs.exists(marker)) fs.getFileStatus(marker).getModificationTime
      else fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$path/v=$v")).getModificationTime
    }

  /** The manifest's in-commit timestamp (X209), STREAMED: the field is
    * written second, so a token-level scan returns after a handful of
    * tokens without materializing the per-file stats arrays —
    * `snapshotVersionAt`/`expireSnapshotsOlderThan` filter over EVERY
    * version, and a tree parse per version would turn a metadata
    * lookup into driver-side JSON churn on a long streaming history
    * (review r11). Deliberately does NOT route through readManifest:
    * this answers "when", not "what" — the reader-feature gate guards
    * content, and a timestamp resolution should degrade to the mtime
    * rule on a pre-field or unreadable manifest, not refuse. The catch
    * is the narrow IO/Jackson pair — fatal errors propagate.
    */
  private def readCommittedAtMs(fs: org.apache.hadoop.fs.FileSystem,
                                path: String, v: Long): Option[Long] =
    try {
      val f = manifestPath(path, v)
      if (!fs.exists(f)) None
      else {
        val in = fs.open(f)
        try {
          val p = new com.fasterxml.jackson.core.JsonFactory()
            .createParser(in: java.io.InputStream)
          if (p.nextToken() != com.fasterxml.jackson.core.JsonToken.START_OBJECT) None
          else {
            var out: Option[Long] = None
            var tok = p.nextToken()
            while (out.isEmpty &&
              tok == com.fasterxml.jackson.core.JsonToken.FIELD_NAME) {
              val name = p.currentName()
              p.nextToken()
              if (name == "committedAtMs") out = Some(p.getLongValue)
              else { p.skipChildren(); tok = p.nextToken() }
            }
            out
          }
        } finally in.close()
      }
    } catch {
      case _: java.io.IOException | _: com.fasterxml.jackson.core.JacksonException => None
    }

  /** [[readSnapshot]] pinned to [[snapshotVersionAt]]'s resolution. */
  def readSnapshotAt(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    readSnapshot(spark, path, Some(snapshotVersionAt(spark, path, tsMillis)))

  /** Named snapshot TAG (Iceberg-tag shape): `_tag-<name>` pins a
    * version under a stable name — "prod", "eval-2024-08" — so readers
    * address meaning, not numbers. Written via tmp + atomic rename
    * (last tag wins, like `_latest`); retagging moves the pin. A tag
    * does NOT protect its version from [[expireSnapshots]] — retention
    * is by version count, and a read through a dangling tag fails with
    * the version's own clear error; [[snapshotTags]] lists dangling
    * tags for cleanup.
    */
  private def requireTagName(name: String): Unit =
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")

  def tagSnapshot(spark: SparkSession, path: String, name: String,
                  version: Option[Long] = None): Long = {
    requireTagName(name)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse(currentSnapshot(spark, path))
    require(snapshots(spark, path).contains(v),
      s"tagSnapshot($path): no live snapshot v=$v to tag")
    // overwriting publish (advice r10): a retag must never leave the
    // tag absent mid-swap, and two concurrent retags must both land
    // (last wins), not abort the loser
    Commit.writePointerFile(fs, path, new org.apache.hadoop.fs.Path(s"$path/_tag-$name"), v,
      s"cannot publish tag '$name' for $path")
    v
  }

  /** All tags: (name, version, live) — `live` false when the tagged
    * version has been expired out from under the tag.
    */
  def snapshotTags(spark: SparkSession, path: String): Seq[(String, Long, Boolean)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val live = snapshots(spark, path).toSet
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_tag-")).sorted.flatMap { n =>
        // a tag listed a moment ago may have been dropped since — skip
        // it, don't crash the listing
        Commit.readPointerFile(fs, new org.apache.hadoop.fs.Path(root, n))
          .map(v => (n.stripPrefix("_tag-"), v, live.contains(v)))
      }
  }

  /** [[readSnapshot]] through a [[tagSnapshot tag]] — one GET of the
    * tag file, not a listing of every tag.
    */
  def readSnapshotTag(spark: SparkSession, path: String, name: String): DataFrame = {
    requireTagName(name)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tag = new org.apache.hadoop.fs.Path(s"$path/_tag-$name")
    // one retry on absent (advice r10): publishes are overwriting-atomic
    // on local FS/HDFS, but the last-resort delete+rename fallback (and
    // any pre-r11 writer) has a brief absent window — re-read once
    // before concluding the tag does not exist
    val v = Commit.readPointerFile(fs, tag).orElse(Commit.readPointerFile(fs, tag))
      .getOrElse(sys.error(s"no tag '$name' under $path"))
    readSnapshot(spark, path, Some(v))
  }

  /** Remove a tag (the version stays). Returns whether it existed.
    * Name validated like [[tagSnapshot]] — an unvalidated name with
    * path segments would turn the delete into an arbitrary-file
    * delete under the table root (review r10).
    */
  def dropSnapshotTag(spark: SparkSession, path: String, name: String): Boolean = {
    requireTagName(name)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_tag-$name"), false)
  }

  // ---------------------------------------------------------------------------
  // Branches — WRITE-AUDIT-PUBLISH (Iceberg branch / WAP shape).
  //
  // The version history is ONE global sequence (every commit — main,
  // branch, restore — claims the next number through the same
  // [[Commit]] claim, so no two commits ever share a number or a
  // file path); `_latest` and `_branch-<name>` are NAMED REFS into
  // that sequence, exactly git refs over one object store. A branch
  // commit is therefore a full first-class version — manifest,
  // history row, pinned-readable — that unaudited readers simply
  // never see, because [[readSnapshot]] resolves through `_latest`.
  //
  // The WAP discipline this enables: stage tonight's batch on a
  // branch ([[commitToBranch]]/[[appendToBranch]]), run the audit
  // queries against [[readSnapshotBranch]], then [[publishBranch]] —
  // ONE pointer write — to make it the table, or [[dropBranch]] to
  // abandon it with nothing to clean up (retention ages the orphaned
  // versions out normally). While a branch is ahead of main, route
  // ALL writes through branches: a main-side
  // [[commitSnapshot]]/[[appendSnapshot]] CASes against
  // `expectedVersion + 1`, which a branch commit may already hold —
  // the writer fails with a retryable conflict (never corruption),
  // but the clean pattern is branch-everything, publish-to-promote.
  // [[readSnapshotStream]]'s "new file = new main rows" equivalence
  // also assumes no branch is being written concurrently — a branch
  // commit's files land under `v=*` before any audit passes.
  // ---------------------------------------------------------------------------

  private def branchFile(path: String, name: String) =
    new org.apache.hadoop.fs.Path(s"$path/_branch-$name")

  /** The branch's LINEAGE anchor (review r11): the main version the
    * branch's pending work is based on — written at create, advanced
    * to the published head on every publish. [[publishBranch]] guards
    * on THIS, not on version numbers: main commits made after the
    * branch point can carry numbers below the branch head, and a
    * numeric `mainV <= head` check would silently un-publish them.
    */
  private def branchBaseFile(path: String, name: String) =
    new org.apache.hadoop.fs.Path(s"$path/_branchbase-$name")

  private def writeBranchBase(fs: org.apache.hadoop.fs.FileSystem, path: String,
                              name: String, v: Long): Unit =
    Commit.writePointerFile(fs, path, branchBaseFile(path, name), v,
      s"cannot record base for branch '$name' under $path")

  /** Create branch `name` at `fromVersion` (default: the `_latest`
    * target). Fails if the branch already exists — a branch is a
    * lineage, not a tag; re-pointing it silently would orphan
    * in-flight audit work. Exclusive create (O_EXCL through the same
    * local-FS path the [[Commit]] claim uses) so two concurrent creates
    * cannot both win.
    */
  def createBranch(spark: SparkSession, path: String, name: String,
                   fromVersion: Option[Long] = None): Long = {
    requireTagName(name)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = fromVersion.getOrElse(resolveVersion(spark, path, None))
    require(snapshots(spark, path).contains(v),
      s"createBranch($path): no live snapshot v=$v to branch from")
    val dest = branchFile(path, name)
    val created =
      if (dest.toUri.getScheme == null || dest.toUri.getScheme == "file")
        try {
          java.nio.file.Files.write(java.nio.file.Paths.get(dest.toUri.getPath),
            v.toString.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else
        try {
          val out = fs.create(dest, false)
          out.write(v.toString.getBytes("UTF-8")); out.close(); true
        } catch {
          // only exists-already means exists-already (review r11): a
          // transient I/O or permission failure misreported as "branch
          // exists" sends the operator to drop a branch that was never
          // created — let the real error surface
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
    require(created, s"createBranch($path): branch '$name' already exists")
    // the lineage anchor publishBranch guards on; creation was
    // exclusive, so this write has no competitor
    writeBranchBase(fs, path, name, v)
    v
  }

  /** The branch's current head version. */
  def branchHead(spark: SparkSession, path: String, name: String): Long = {
    requireTagName(name)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // same one-retry-on-absent as readSnapshotTag: the advance swap is
    // overwriting-atomic, but tolerate a last-resort-fallback window
    Commit.readPointerFile(fs, branchFile(path, name))
      .orElse(Commit.readPointerFile(fs, branchFile(path, name)))
      .getOrElse(sys.error(s"no branch '$name' under $path"))
  }

  /** All branches: (name, head version, live). */
  def snapshotBranches(spark: SparkSession, path: String): Seq[(String, Long, Boolean)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val live = snapshots(spark, path).toSet
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_branch-")).sorted.flatMap { n =>
        Commit.readPointerFile(fs, new org.apache.hadoop.fs.Path(root, n))
          .map(v => (n.stripPrefix("_branch-"), v, live.contains(v)))
      }
  }

  /** [[readSnapshot]] at the branch head — the audit query's input. */
  def readSnapshotBranch(spark: SparkSession, path: String, name: String): DataFrame =
    readSnapshot(spark, path, Some(branchHead(spark, path, name)))

  /** Full-content commit onto a branch: `df` becomes the branch's new
    * head, `_latest` untouched. Optimistic concurrency at TWO levels:
    * the global [[Commit]] claim allocates the version number
    * (loser → retryable conflict, like every commit), and
    * `expectedBranchVersion` is the branch-lineage CAS — the head the
    * writer read before deriving `df`; a branch that moved since
    * fails the same way. One writer per branch is the intended
    * discipline (WAP stages are serial); the branch-pointer re-check
    * before the swap narrows, not closes, a simultaneous-advance race
    * two disciplined writers never enter.
    */
  def commitToBranch(df: DataFrame, path: String, name: String,
                     expectedBranchVersion: Long,
                     orphanGraceMs: Long = 600000L): Long = {
    val spark = df.sparkSession
    val head = branchHead(spark, path, name)
    if (head != expectedBranchVersion)
      throw new SnapshotConflictException(path, head)
    // branch commits validate like EVERY row-writing path (review
    // r11): the WAP stage is where validation is supposed to happen —
    // skipping the CHECK/generated gates here would let publishBranch
    // promote unvalidated rows to main. Identity alignment included
    // (review r12): the mint's high-water mark reads the BRANCH head
    // (the content lineage this commit extends).
    commitFull(df, path, head, currentSnapshot(spark, path) + 1, "commitToBranch",
      orphanGraceMs, Commit.BranchRef(name, expectedBranchVersion))
  }

  /** [[appendSnapshot]] onto a branch: content extends the BRANCH
    * head (files carried by reference), while the version number is
    * allocated globally — the two are decoupled here exactly because
    * main may have advanced past the branch point. Same contracts as
    * [[appendSnapshot]] (exact schema gate, empty batch = no commit,
    * load-bearing manifest) plus the branch-lineage CAS of
    * [[commitToBranch]].
    */
  def appendToBranch(df: DataFrame, path: String, name: String,
                     expectedBranchVersion: Long,
                     orphanGraceMs: Long = 600000L): Long = {
    val spark = df.sparkSession
    val head = branchHead(spark, path, name)
    if (head != expectedBranchVersion)
      throw new SnapshotConflictException(path, head)
    appendVersionFrom(df, path, base = head, next = currentSnapshot(spark, path) + 1,
      orphanGraceMs, Commit.BranchRef(name, expectedBranchVersion),
      gateOp = "appendToBranch")
      .getOrElse(head) // empty batch: branch unchanged
  }

  /** PUBLISH — the one-pointer-write promote that completes
    * write-audit-publish: `_latest` fast-forwards to the branch head,
    * and every audited version the branch accumulated becomes the
    * table's history in one atomic swap. The branch stays (publish
    * again after more commits, or [[dropBranch]] when done). Fails
    * loudly if `_latest` is AHEAD of the branch head — someone wrote
    * main directly since the branch point; re-branch from latest and
    * replay rather than silently un-publishing their commit
    * (`_latest` advances forward only, so the swap would no-op).
    */
  def publishBranch(spark: SparkSession, path: String, name: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = branchHead(spark, path, name)
    val mainV = resolveVersion(spark, path, None)
    // LINEAGE guard, not a numeric one (review r11): the branch's work
    // extends its recorded base; if main moved off that base since —
    // regardless of the version NUMBERS involved — fast-forwarding
    // would silently un-publish main's commit. Legacy branches without
    // a base record fall back to the numeric check.
    Commit.readPointerFile(fs, branchBaseFile(path, name)) match {
      case Some(base) =>
        require(mainV == base || mainV == head,
          s"publishBranch($path): main moved to v=$mainV since branch '$name' " +
            s"based itself on v=$base — publishing head v=$head would un-publish " +
            "main's commit; re-branch from latest and replay the branch's changes")
      case None =>
        require(mainV <= head,
          s"publishBranch($path): _latest is at v=$mainV, ahead of branch '$name' " +
            s"head v=$head — re-branch from latest and replay the branch's changes")
    }
    Commit.advancePointer(fs, path, head)
    // future publishes of this branch extend from the published head
    writeBranchBase(fs, path, name, head)
    head
  }

  /** Remove a branch pointer (versions stay; retention ages them out
    * once unreferenced). Returns whether it existed.
    */
  def dropBranch(spark: SparkSession, path: String, name: String): Boolean = {
    requireTagName(name)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(branchBaseFile(path, name), false)
    fs.delete(branchFile(path, name), false)
  }

  /** ROLLBACK / RESTORE (Delta `RESTORE TABLE ... TO VERSION` shape):
    * commits a NEW version whose content is exactly `toVersion`'s —
    * the undo for a bad write that keeps history linear and auditable
    * (nothing is deleted; the bad version stays pinned-readable until
    * retention ages it out). ZERO-COPY via the file-sharing machinery:
    * the new version dir holds only the `_partial` marker and its
    * manifest references the target's files (root-relative entries),
    * with per-file accounting reused — a 100 TB restore costs one
    * manifest write. Same CAS concurrency as every commit; the target
    * must be a LIVE version (not expired). A manifest-less target
    * (pre-manifest table) restores by reference to its directory
    * listing, paying one footer pass to build the new manifest.
    */
  def rollbackSnapshot(spark: SparkSession, path: String, toVersion: Long,
                       orphanGraceMs: Long = 600000L): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(snapshots(spark, path).contains(toVersion),
      s"rollbackSnapshot($path): no live snapshot v=$toVersion to restore")
    if (toVersion == v) return v
    val (entries, schemaJson, reuse) = readManifest(fs, path, toVersion) match {
      case Some(m) =>
        (manifestEntries(m).map(e => if (e.contains("/")) e else s"v=$toVersion/$e"),
          m.get("schema").toString, Some((m, toVersion)))
      case None =>
        // same fences as readSnapshot's listing fallback: a rollback
        // racing expireSnapshots (liveness checked a moment ago, sweep
        // started since) must fail loudly, never restore from a
        // half-swept directory (review r10)
        require(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_expired-v$toVersion")),
          s"rollbackSnapshot($path): v=$toVersion was expired mid-call")
        require(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=$toVersion/_partial")),
          s"rollbackSnapshot($path): v=$toVersion is a file-sharing version with no readable manifest")
        val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/v=$toVersion")).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map(st => s"v=$toVersion/${st.getPath.getName}").sorted
        (names, spark.read.parquet(s"$path/v=$toVersion").schema.json, None)
    }
    val next = nextVersionAbove(spark, path, v)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging-$tag")
    fs.mkdirs(staging)
    fs.create(new org.apache.hadoop.fs.Path(staging, "_partial"), true).close()
    // PRE-ADVANCE expiry fence (advice r10): the manifest-present path
    // reuses per-file bytes/rows/stats from the target manifest, so
    // writeManifest never stats the referenced files — a concurrent
    // expireSnapshots dropping toVersion between the liveness check
    // above and the manifest publish would let the restore commit a current
    // version whose manifest points at files the sweep just deleted,
    // silent until scans fail. From the manifest-publish instant the
    // new version's references are visible to expire's reachability
    // pass, so a clean re-check here (expire stamps `_expired-v` FIRST,
    // before touching any file) means the referenced files survive.
    // The manifest-less fallback re-checks the same marker before
    // listing; this closes the asymmetry on the reuse path. A restore
    // references the target's files verbatim, so its deletion-vector
    // state (X189) restores with them.
    commitStagedVersion(spark, fs, path, staging, next, schemaJson,
      entries, reuse, op = "rollbackSnapshot",
      orphanGraceMs = orphanGraceMs,
      dv = reuse.flatMap { case (m, _) => readDvState(m) },
      preAdvance = () => fenceRestoreAgainstExpiry(fs, path, toVersion, next))
    next
  }

  /** [[rollbackSnapshot]]'s post-publish fence, factored for direct
    * spec coverage (the race it guards cannot be interleaved
    * deterministically through the public API): if the restore target
    * carries an `_expired-v` marker or its version dir is gone, the
    * freshly published restore version is UNWOUND — manifest first
    * (readers degrade to the no-such-version error, never a scan of
    * the dead file list), then dir, then CAS marker — and the call
    * fails loudly before `_latest` ever points at it.
    */
  private[store] def fenceRestoreAgainstExpiry(
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      toVersion: Long, next: Long): Unit = {
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/_expired-v$toVersion")) ||
        !fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=$toVersion"))) {
      Commit.unwindVersion(fs, path, next)
      sys.error(s"rollbackSnapshot($path): v=$toVersion was expired mid-call; " +
        s"restore v=$next unwound")
    }
  }

  /** Table history — the DESCRIBE HISTORY analog, one row per LIVE
    * version, ascending: (version, committed_at, row_count, bytes,
    * n_files, file_sharing). Driver-side from commit markers (the CAS
    * claim instant; dir mtime for marker-less versions) and
    * manifests — zero data I/O, zero Spark jobs beyond the local-frame
    * build. NULL metrics for manifest-less (pre-manifest / crash-gap)
    * versions; `file_sharing` marks [[deleteWhere]]/[[updateWhere]]
    * versions whose manifest references earlier versions' files.
    */
  def snapshotHistory(spark: SparkSession, path: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = snapshots(spark, path).map { v =>
      val ts = commitInstant(fs, path, v)
      readManifest(fs, path, v) match {
        case Some(m) =>
          val entries = manifestEntries(m)
          (v, new java.sql.Timestamp(ts), Some(m.get("rowCount").asLong),
            Some(m.get("bytes").asLong), Some(entries.size),
            Some(entries.exists(_.contains("/"))),
            // X221 per-rule triage counts, as recorded at commit time
            Option(m.get("expectationMetrics")).map(_.toString))
        case None => (v, new java.sql.Timestamp(ts), None, None, None, None, None)
      }
    }
    import spark.implicits._
    rows.toDF("version", "committed_at", "row_count", "bytes", "n_files",
      "file_sharing", "expectations")
  }

  /** Drop every version older than `keepLast` versions back (never the
    * latest). Readers pinned to an expired version fail on next scan —
    * the standard retention contract.
    *
    * REACHABILITY-AWARE ([[deleteWhere]] file sharing): a retained
    * version's manifest may reference files physically living in an
    * expired version's dir (`v=3/part-…` entries). Those files are the
    * retained version's DATA — deleting them would corrupt a live
    * snapshot — so an expiring dir sheds only its unreferenced files;
    * if shared files remain, the dir stays behind under an
    * `_expired-v<n>` marker (excluded from [[snapshots]], refused by
    * [[readSnapshot]]) and is swept again on later expire runs, until
    * nothing references it and it vanishes. The manifest is deleted
    * FIRST (r9 advice): a concurrent reader loses the manifest before
    * any file goes, failing over to the clear no-such-version error
    * instead of planning a scan of deleted files.
    */
  /** Age-based retention — the Delta `delta.logRetentionDuration` /
    * Iceberg `expire_snapshots(older_than)` shape: expire versions
    * whose COMMIT INSTANT (CAS-marker mtime; dir mtime for
    * marker-less versions) is older than `maxAgeMs`, always keeping
    * at least `keepLast`. The call reduces to [[expireSnapshots]]
    * with a suffix length — inheriting every fence (branch-head
    * roots, reachability, unreadable-manifest hard stop) rather than
    * duplicating the sweep. Commit instants are NOT assumed monotone
    * in version order (review r12): a slow commit can claim version N
    * yet stamp its manifest after N+1 published, so a suffix
    * `takeWhile` from the youngest end would stop at the first
    * old-looking instant and let a younger-than-cutoff version BELOW
    * it expire. Membership is computed over the whole history
    * instead, and the kept suffix starts at the OLDEST young version
    * — over-retaining the (rare) old-instant versions sitting above
    * it, which is the safe direction for a retention sweep. The time
    * policy a streaming-ingest table wants: [[writeSnapshotStream]]
    * makes version COUNT meaningless (one per micro-batch), but
    * "7 days of replay/time-travel" is a contract humans can hold.
    */
  def expireSnapshotsOlderThan(spark: SparkSession, path: String, maxAgeMs: Long,
                               keepLast: Int = 1): Seq[Long] = {
    require(maxAgeMs >= 0, s"maxAgeMs must be >= 0, got $maxAgeMs")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - maxAgeMs
    // shares commitInstant's rule (X209): the manifest's in-commit
    // timestamp when recorded, mtimes otherwise — so "7 days of
    // replay" keeps meaning commit age after a table copy refreshed
    // every mtime (where the mtime rule would retain EVERYTHING young)
    val vs = snapshots(spark, path)
    val oldestYoung = vs.indexWhere(commitInstant(fs, path, _) >= cutoff)
    val young = if (oldestYoung < 0) 0 else vs.size - oldestYoung
    expireSnapshots(spark, path, math.max(keepLast, math.max(1, young)))
  }

  def expireSnapshots(spark: SparkSession, path: String, keepLast: Int = 2): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = snapshots(spark, path)
    // branch heads are RETENTION ROOTS (unlike tags, which dangle by
    // design): a branch is unpublished in-flight work — expiring its
    // head out from under the audit would silently lose the staged
    // batch. Intermediate branch versions age out normally; the head's
    // manifest references keep any files it still needs alive below.
    val branchHeads = snapshotBranches(spark, path)
      .collect { case (_, v, true) => v }.toSet
    val drop = all.dropRight(keepLast).filterNot(branchHeads)
    val dropSet = drop.toSet
    val retained = all.filterNot(dropSet)
    // HARD STOP before anything is touched: a RETAINED file-sharing
    // version (`_partial` present) whose manifest cannot be read holds
    // its data ONLY through manifest references we cannot enumerate —
    // proceeding would compute an incomplete live set below and delete
    // files the current snapshot still needs (review r10 #1: the
    // crash-gap state, or a transiently unreadable manifest, must make
    // retention refuse, never silently lose the live version's rows).
    // A manifest-less retained version WITHOUT `_partial` is safe: its
    // dir is self-contained (pre-manifest table or plain crash gap).
    retained.foreach { rv =>
      require(readManifest(fs, path, rv).isDefined ||
        !fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=$rv/_partial")),
        s"expireSnapshots($path): retained v=$rv is a file-sharing version with no " +
          "readable manifest — its carried rows cannot be traced; vacuum or restore " +
          "it before expiring history")
    }
    // every root-relative (cross-version) file entry a RETAINED
    // manifest still needs — the live set for the sweeps below. A
    // retained manifest's deletion-vector refs (X189) count too: the
    // `v=<n>/_dv` sidecar must outlive its home version for exactly
    // as long as a live manifest subtracts its positions.
    val referenced: Set[String] = retained.flatMap(rv =>
      readManifest(fs, path, rv).toSeq.flatMap(m =>
        manifestEntries(m).filter(_.contains("/")) ++
          readDvState(m).toSeq.flatMap(_.refs.filterNot(isAbsoluteEntry)) ++
          readIdxState(m).map(_.ref).filterNot(isAbsoluteEntry))).toSet
    def sweepDir(v: Long): Unit = {
      val dir = new org.apache.hadoop.fs.Path(s"$path/v=$v")
      // idempotent teardown of the version's commit records — also
      // covers an expire that crashed right after creating the marker
      // (re-swept here with manifest/marker still present); recorded
      // change files age out with their version (the feed's retention
      // IS the table's retention, as in Delta CDF)
      fs.delete(manifestPath(path, v), false)
      fs.delete(cdfDir(path, v), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/_commit-v$v"), false)
      val refsHere = referenced.filter(_.startsWith(s"v=$v/"))
      if (refsHere.isEmpty) {
        fs.delete(dir, true)
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/_expired-v$v"), false)
      } else {
        fs.listStatus(dir).foreach { st =>
          if (!refsHere.contains(s"v=$v/${st.getPath.getName}")) fs.delete(st.getPath, true)
        }
        fs.create(new org.apache.hadoop.fs.Path(s"$path/_expired-v$v"), true).close()
      }
    }
    // (manifest/marker deletion is inside sweepDir; the drop loop below
    // only adds the marker-first visibility fence)
    drop.foreach { v =>
      // marker FIRST (review r10 #3): from this instant the version is
      // excluded from snapshots() and the listing fallback refuses it,
      // so a crash anywhere in the teardown — or a concurrent pinned
      // reader arriving mid-sweep — hits a loud error, never a silent
      // scan of a half-deleted directory. The marker comes off only
      // after the dir is fully gone (sweepDir's empty-refs branch).
      fs.create(new org.apache.hadoop.fs.Path(s"$path/_expired-v$v"), true).close()
      sweepDir(v)
    }
    // re-sweep PREVIOUSLY expired dirs: a version that was keeping them
    // alive may itself have just expired, releasing their files
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_expired-v")).map(_.stripPrefix("_expired-v").toLong)
      .foreach { v =>
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=$v")))
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/_expired-v$v"), false)
        else sweepDir(v)
      }
    drop
  }

  /** Row-level DELETE on the snapshot warehouse — the compliance-erase
    * path (GDPR-style: remove one user's rows without rewriting the
    * table). Commits a NEW version through the [[commitSnapshot]] CAS
    * in which ONLY the files that actually contain matching rows are
    * rewritten (minus those rows); every untouched file is carried into
    * the new version's manifest BY REFERENCE (a root-relative
    * `v=<old>/part-…` entry) — zero bytes copied. At 100 TB an erase of
    * one key therefore costs: one column-pruned scan to find the
    * touched files, plus a rewrite of just those files — not a
    * partition, not the table. Compose with [[expireSnapshots]] to
    * erase history too (it is reachability-aware: shared files live
    * exactly as long as a live manifest names them).
    *
    * Delete semantics are SQL `DELETE WHERE`: rows where `predicate`
    * is TRUE go; NULL-predicate rows stay. Returns the new version —
    * or the CURRENT version unchanged when nothing matches (no empty
    * commit). Concurrency: same optimistic protocol as
    * [[commitSnapshot]] — a concurrent commit between the version read
    * and the claim loses with a retry-able
    * [[SnapshotConflictException]]. `scanBound = (column, lo, hi)` is
    * the caller's promise that every matching row lies inside the
    * bound: manifest stats (X162) then drop non-overlapping files from
    * the discovery scan itself — on a [[compactSnapshot clustered]]
    * table, erasing one key opens only the candidate files even for
    * the find step.
    *
    * The new version's manifest is LOAD-BEARING, not best-effort: a
    * directory listing of `v=<next>` sees only the rewritten files, so
    * the untouched rows exist only through the manifest's references.
    * A `_partial` marker is written into the version dir BEFORE
    * promote; [[readSnapshot]]'s listing fallback refuses marked dirs,
    * so a manifest loss fails loudly instead of silently dropping the
    * carried-forward rows, and a crash between promote and manifest
    * publish leaves a version that [[vacuum]] reaps after the grace.
    * If the manifest publish itself fails, the version is unwound
    * (data dir + marker deleted) and the error propagates.
    */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column,
                  orphanGraceMs: Long = 600000L,
                  scanBound: Option[(String, Option[Any], Option[Any])] = None,
                  changeFeed: Boolean = false): Long =
    rewriteMatchingFiles(spark, path,
      _.where(predicate).select(col("__file")),
      orphanGraceMs, scanBound,
      "deleteWhere", rewrite = (df, _) => df.where(!coalesce(predicate, lit(false))),
      changes = if (!changeFeed) None else Some((df, _) =>
        df.where(coalesce(predicate, lit(false)))
          .withColumn("_change_type", lit("delete"))))

  /** Row-level UPDATE on the snapshot warehouse — [[deleteWhere]]'s
    * sibling (Delta-style `UPDATE t SET ... WHERE ...`), sharing its
    * whole machinery: one column-pruned discovery scan finds the files
    * containing matching rows, ONLY those files are rewritten (each
    * matching row's `set` columns replaced, cast to their existing
    * types so the schema never drifts; non-matching rows in touched
    * files pass through unchanged), untouched files are carried into
    * the new version's manifest by reference with their accounting
    * reused. Same CAS concurrency, `_partial` manifest contract,
    * no-match no-op, and `scanBound` candidate pruning. At 100 TB a
    * point correction costs one pruned scan + a few file rewrites —
    * the write path the reference's per-day UPSERT (S9) needs when
    * the restated rows are scattered rather than partition-aligned.
    */
  def updateWhere(spark: SparkSession, path: String, predicate: Column,
                  set: Map[String, Column],
                  orphanGraceMs: Long = 600000L,
                  scanBound: Option[(String, Option[Any], Option[Any])] = None,
                  changeFeed: Boolean = false): Long = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    def applySet(df: DataFrame, schema: StructType, cond: Column): DataFrame =
      df.select(schema.map { f =>
        if (set.contains(f.name))
          when(cond, set(f.name).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        else col(f.name)
      }: _*)
    rewriteMatchingFiles(spark, path,
      _.where(predicate).select(col("__file")),
      orphanGraceMs, scanBound,
      "updateWhere",
      changes = if (!changeFeed) None else Some((df, schema) => {
        // post-images as `update`, old rows as `update_preimage` (the
        // Delta-CDF pair): algebraic consumers subtract the pre and add
        // the post; applyChangeFeed ignores preimages. Both legs scan
        // the TOUCHED files only.
        val pre = df.where(coalesce(predicate, lit(false)))
        applySet(pre, schema, lit(true)).withColumn("_change_type", lit("update"))
          .unionByName(pre.withColumn("_change_type", lit("update_preimage")))
      }),
      // EAGER validation, before the discovery scan runs and even when
      // the predicate matches nothing (review r10: a typo'd SET column
      // on a no-match call must throw, not report a successful no-op)
      validate = schema => {
        val unknown = set.keySet -- schema.fieldNames
        require(unknown.isEmpty,
          s"updateWhere: SET columns not in the table schema: ${unknown.mkString(", ")}")
      },
      rewrite = (df, schema) => applySet(df, schema, coalesce(predicate, lit(false))))
  }

  /** MERGE INTO over the snapshot warehouse — the file-grain Delta
    * `MERGE` that completes the row-level write family
    * ([[deleteWhere]] erases, [[updateWhere]] corrects, this UPSERTS a
    * batch): [[mergeInto]]'s clause semantics (first-clause-wins
    * update/delete/insert, source-duplicate rejection) applied so that
    * ONLY the files containing a source key are rewritten, unmatched
    * source rows land as NEW files in the same commit, and every
    * untouched file is carried by reference — at 100 TB a nightly
    * upsert batch costs one key-pruned discovery scan plus a rewrite
    * of the files its keys actually live in, not the table.
    *
    * Discovery is a BROADCAST left-semi join of the table scan against
    * the source's distinct keys (the batch side; NULL-keyed source
    * rows match nothing and are excluded) — the scan reads key columns
    * only, and a plan that lost the broadcast (and with it
    * `input_file_name`'s stream-side meaning) fails the entry-list
    * lookup loudly rather than rewriting wrong files. `scanBound` is
    * the same caller promise as [[deleteWhere]]'s: every MATCHED key
    * lies inside the bound, so manifest stats prune the discovery scan
    * itself (insert-only rows are unaffected — they touch no existing
    * file). A merge whose keys all miss commits just the inserts; a
    * merge that neither matches nor inserts is a no-op (current
    * version returned, no empty commit). `changeFeed = true` records
    * the version's row-level feed as [[diffFrames]] of the touched
    * rows against their merged replacement — insert/update/delete
    * exactly, touched-files grain, assuming key-unique table rows
    * (the same contract [[applyChangeFeed]] consumes under).
    *
    * Same CAS/`_partial`/manifest/unwind contract as the siblings;
    * `source` is evaluated per pass (discovery, rewrite, feed) — cache
    * it upstream if that matters for a large batch.
    */
  def mergeIntoSnapshot(spark: SparkSession, path: String, source: DataFrame,
                        keys: Seq[String], clauses: Seq[MergeClause],
                        orphanGraceMs: Long = 600000L,
                        scanBound: Option[(String, Option[Any], Option[Any])] = None,
                        changeFeed: Boolean = false,
                        txn: Option[(String, Long)] = None): Long = {
    require(keys.nonEmpty && clauses.nonEmpty,
      "mergeIntoSnapshot needs keys and at least one clause")
    val srcKeys = source.select(keys.map(col): _*)
      .where(keys.map(col(_).isNotNull).reduce(_ && _)).distinct()
    val hasInsert = clauses.exists(_.isInstanceOf[InsertWhen])
    rewriteMatchingFiles(spark, path,
      // `__file` arrives pre-stamped from `_metadata.file_path` in a
      // projection directly over the scan (fixed per-row before any
      // join, so the plan stays legal even when the batch is itself
      // parquet-backed); the semi join runs above it and column
      // pruning still narrows the scan to the key columns
      discover = _.select(col("__file") +: keys.map(col): _*)
        .join(broadcast(srcKeys), keys, "left_semi"),
      orphanGraceMs, scanBound, "mergeIntoSnapshot",
      rewrite = (df, _) => mergeInto(df, source, keys, clauses),
      changes = if (!changeFeed) None else Some((df, _) =>
        diffFrames(df, mergeInto(df, source, keys, clauses), keys, preImages = true)),
      commitOnNoMatch = hasInsert, txn = txn)
  }

  /** Shared core of the row-level write paths ([[deleteWhere]] /
    * [[updateWhere]] / [[mergeIntoSnapshot]]): `discover` maps the raw
    * candidate scan to a frame with a `__file` column naming each file
    * that must be rewritten — a filter-then-`input_file_name`
    * projection for predicate ops (filter pushes to the scan), or an
    * `input_file_name`-first projection then semi-join for merge
    * (keeps the expression's subtree single-source when the batch is
    * itself file-backed). `rewrite` produces the touched files'
    * replacement rows, `changes` optionally records the version's
    * change feed. `commitOnNoMatch` lets an op that can CREATE rows
    * (merge with insert clauses) commit even when no existing file
    * matches — `rewrite` then runs on an empty frame and an empty
    * result is still a no-op.
    */
  /** Predicate-scoped overwrite (X204) — the Delta
    * `INSERT OVERWRITE … replaceWhere` shape, the idempotent-reload
    * primitive the row-level family was missing: in ONE commit, rows
    * matching `predicate` are deleted and `batch` lands in their
    * place. File-grain like its siblings: only files CONTAINING a
    * matching row rewrite (their non-matching rows re-land beside the
    * batch), every untouched file carries by reference — re-loading
    * one day of a 100 TB date-clustered table costs that day's files,
    * and re-running the same reload converges instead of duplicating
    * (the property a delete-then-append pair loses if the job dies
    * between the two commits, and the reason this is one commit).
    *
    * Delta's replaceWhere contract is enforced the fused way: every
    * batch row must satisfy `predicate`, validated by a `raise_error`
    * guard inside the write's own plan (zero extra jobs) — a row
    * outside the predicate would silently survive the NEXT reload of
    * the same predicate. Batch schema must match the committed schema
    * exactly (names and types; this is a reload, not an evolution).
    * CHECK constraints, the column map, deletion vectors (matched
    * rows already dv-deleted don't double-count; rewritten files
    * materialize their positions), and `scanBound` discovery pruning
    * all compose exactly as in [[deleteWhere]]/[[updateWhere]]. A
    * predicate matching nothing still commits the batch (that IS the
    * reload of an empty slice); `changeFeed = true` records deletes
    * of the replaced rows + inserts of the batch.
    */
  def replaceWhere(spark: SparkSession, path: String, predicate: Column,
                   batch: DataFrame,
                   orphanGraceMs: Long = 600000L,
                   scanBound: Option[(String, Option[Any], Option[Any])] = None,
                   changeFeed: Boolean = false): Long = {
    // the gated batch builds ONCE (review r11: the rewrite and the
    // change-feed closures both consume it — two gate evaluations
    // would queue the quarantine rows twice), and the quarantine
    // flush fires AFTER the commit, like every ingest path
    var flushQuarantine: () => Unit = () => ()
    val alignedCache = scala.collection.mutable.HashMap.empty[StructType, DataFrame]
    def aligned(schema: StructType): DataFrame = alignedCache.getOrElseUpdate(schema, {
      // generated columns (X205) fill before the schema gate, exactly
      // as in appendSnapshot — the reload writer supplies business
      // columns only (review r11); the reload batch is an INGEST, so
      // expectations (X215) triage it like any append
      // metrics handle unused: the reload batch lands inside
      // rewriteMatchingFiles' rewrite commit, whose manifest plumbing
      // is the row-level family's — the X221 counts cover the
      // row-LANDING ingest paths (write/append/branch/commit)
      val (b, fl, _) = expectationGate(generatedAlign(batch, path, "replaceWhere"),
        path, "replaceWhere")
      flushQuarantine = fl
      val got = b.schema.fields.map(f => f.name -> f.dataType).toMap
      val want = schema.fields.map(f => f.name -> f.dataType).toMap
      require(got == want,
        s"replaceWhere($path): batch schema must match the committed schema exactly; " +
          s"committed=${schema.simpleString} batch=${b.schema.simpleString}")
      val a = b.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      // the replaceWhere contract, fused into the write plan: a batch
      // row OUTSIDE the predicate would silently survive the next
      // reload of the same slice — refuse it before any commit
      a.filter(when(!coalesce(predicate, lit(false)),
        raise_error(concat(
          lit(s"replaceWhere($path): batch row outside the predicate: "),
          to_json(struct(a.columns.map(col).toIndexedSeq: _*)))))
        .otherwise(lit(true)))
    })
    val out = rewriteMatchingFiles(spark, path,
      discover = _.where(predicate).select(col("__file")),
      orphanGraceMs = orphanGraceMs, scanBound = scanBound,
      op = "replaceWhere",
      rewrite = (touched, schema) =>
        touched.filter(!coalesce(predicate, lit(false))).unionByName(aligned(schema)),
      commitOnNoMatch = true,
      changes = if (!changeFeed) None else Some((touched, schema) =>
        touched.where(coalesce(predicate, lit(false)))
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
          .withColumn("_change_type", lit("delete"))
          .unionByName(aligned(schema).withColumn("_change_type", lit("insert")))))
    flushQuarantine()
    out
  }

  private def rewriteMatchingFiles(spark: SparkSession, path: String,
                                   discover: DataFrame => DataFrame,
                                   orphanGraceMs: Long,
                                   scanBound: Option[(String, Option[Any], Option[Any])],
                                   op: String,
                                   rewrite: (DataFrame, StructType) => DataFrame,
                                   validate: StructType => Unit = _ => (),
                                   changes: Option[(DataFrame, StructType) => DataFrame] = None,
                                   commitOnNoMatch: Boolean = false,
                                   txn: Option[(String, Long)] = None): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"$op($path): no committed snapshot")
    // the version's committed entries, root-relative; manifest when
    // present, dir listing for pre-manifest versions
    val (entries, schemaOpt, manifestOpt) = readManifest(fs, path, v) match {
      case Some(m) =>
        (manifestEntries(m).map(e => if (e.contains("/")) e else s"v=$v/$e"),
          Some(org.apache.spark.sql.types.DataType
            .fromJson(m.get("schema").toString).asInstanceOf[StructType]), Some(m))
      case None =>
        require(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=$v/_partial")),
          s"$op($path): v=$v is a file-sharing version with no readable manifest")
        (fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/v=$v")).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map(st => s"v=$v/${st.getPath.getName}").sorted, None, None)
    }
    // validate against the committed schema BEFORE any scan or early
    // return: a caller error (updateWhere SET typo) must throw even
    // when the predicate matches nothing. One inherent gap: an EMPTY
    // pre-manifest version has no schema source at all, so validation
    // (like everything else) is a no-op there.
    schemaOpt.foreach(validate)
    // an empty version without a manifest has no schema source at all —
    // even an insert-only merge has nothing to anchor its types to
    if (entries.isEmpty && !(commitOnNoMatch && schemaOpt.isDefined)) return v
    val schema = schemaOpt.getOrElse(
      spark.read.parquet(entries.map(entryPath(path, _)): _*).schema)
    if (schemaOpt.isEmpty) validate(schema) // inferred-schema (pre-manifest) path
    // `scanBound` = (column, lower, upper): the caller's promise that
    // every matching row lies inside the bound — manifest stats then
    // drop non-overlapping files from the DISCOVERY scan itself, so an
    // erase of one key on a clustered table opens only candidate files
    // even for the find step. Skipped files are untouched by contract.
    val candidates = (scanBound, manifestOpt) match {
      case (Some((column, lo, hi)), Some(m)) =>
        val keep = statsOverlap(m, schema, column, lo, hi).toSet
        entries.zipWithIndex.collect { case (e, i) if keep(i) => e }
      case _ => entries
    }
    if (candidates.isEmpty && !commitOnNoMatch) return v
    // each row's `__file` is pre-stamped from `_metadata.file_path` in
    // a projection directly over its scan (fixed per-row before any
    // join the discover function adds), and the version's deletion
    // vectors (X189) are subtracted up front: discovery and rewrite
    // must see LIVE rows only, or a dv-deleted row would resurrect
    // through the rewrite. Files without positions scan plainly.
    val dvState = manifestOpt.flatMap(readDvState)
    // column mapping (X195): scans read the files' physical layout and
    // alias back to logical, so `discover`/`rewrite` see committed
    // names; the staged write renames back to physical below
    val cmap = manifestOpt.map(columnMapOf).getOrElse(Map.empty)
    val physReader = spark.read.schema(physicalize(schema, cmap))
    def liveScanWithFile(es: Seq[String]): DataFrame = {
      val dvd = dvState.map(_.fileSet).getOrElse(Set.empty)
      val (hit, plain) = es.partition(dvd)
      def leg(ps: Seq[String], anti: Boolean): Option[DataFrame] =
        if (ps.isEmpty) None
        else {
          val base = physReader.parquet(ps.map(entryPath(path, _)): _*)
            .withColumn("__file", col("_metadata.file_path"))
          Some(
            if (!anti) base
            else antiDv(base, dvFrame(spark, path, qualifiedRoot(fs, path), dvState.get.refs),
              bcast = dvState.get.rows <= DvBroadcastMaxRows))
        }
      Seq(leg(plain, anti = false), leg(hit, anti = true)).flatten
        .map(_.select((toLogicalCols(schema, cmap) :+ col("__file")).toIndexedSeq: _*))
        .reduce(_ unionAll _)
    }
    // which candidate files contain matching rows — ONE scan that reads
    // only the matching columns (Catalyst prunes the projection down
    // to the metadata stamp + the filter/join inputs); this is the
    // op's whole read cost over the untouched bulk of the table. A
    // shuffled `matching` would surface as "" file names and fail the
    // entry-list lookup loudly — never silently touch the wrong files.
    val byPath = candidates.map(e =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(entryPath(path, e))).toUri.getPath -> e).toMap
    val touched: Set[String] =
      if (candidates.isEmpty) Set.empty
      else discover(liveScanWithFile(candidates))
        .select(col("__file")).distinct()
        .collect()
        .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath)
        .map(p => byPath.getOrElse(p,
          sys.error(s"$op($path): scanned file $p not in committed entry list")))
        .toSet
    if (touched.isEmpty && !commitOnNoMatch) return v
    val untouched = entries.filterNot(touched)
    // rewritten files MATERIALIZE their deletions: their positions die
    // with the old path; positions on untouched files carry forward
    val newDv: Option[DvState] = dvState.flatMap { d =>
      val rem = d.files.filterNot { case (f, _) => touched(f) }
      if (rem.isEmpty) None else Some(DvState(d.refs, rem))
    }
    val next = nextVersionAbove(spark, path, v)
    def touchedDf: DataFrame =
      if (touched.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else liveScanWithFile(touched.toSeq.sorted)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val kept0 = constraintGuard(
      generatedRederive(rewrite(touchedDf, schema), path, op), path, op)
    // identity NULL guard (X210): rewritten rows carry their committed
    // ids, but a merge INSERT clause that doesn't set the identity
    // column lands NULL — which silently breaks id uniqueness
    // downstream. Mint via append instead, or supply ids explicitly
    // (BY DEFAULT semantics). Schema-lacking tables skip (declared but
    // never backfilled — no fill may drift a rewritten file's schema).
    val kept = identityRule(fs, path) match {
      case Some((c, _)) if kept0.columns.contains(c) =>
        kept0.filter(when(col(c).isNull,
          raise_error(concat(
            lit(s"$op($path): identity column '$c' is NULL in a written row — " +
              "merge inserts must supply ids (or land new rows via append) "),
            to_json(struct(kept0.columns.map(col).toIndexedSeq: _*)))))
          .otherwise(lit(true)))
      case _ => kept0
    }
    // no matching files AND nothing created (insert clauses that all
    // miss): no empty commit — the isEmpty probe runs only on the
    // cheap no-touched path (source-side rows only)
    if (touched.isEmpty && kept.isEmpty) return v
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging-$tag")
    // physical layout on disk (X195): every file of a mapped table
    // shares the frozen physical names, rewrites included
    toPhysical(kept, cmap).write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
    // mark as file-sharing BEFORE the dir becomes visible (see Scaladoc)
    fs.create(new org.apache.hadoop.fs.Path(staging, "_partial"), true).close()
    // change capture (X172): the feed rows are STAGED before the claim
    // (the `_staging-` prefix keeps crash debris inside vacuum's sweep)
    // and renamed into `_cdf/v=<next>` only after promote — one extra
    // scan of the TOUCHED files only, never the table
    val cdfStaging = changes.map { mk =>
      val st = new org.apache.hadoop.fs.Path(s"$path/_staging-${tag}cdf")
      mk(touchedDf, schema)
        .withColumn("_commit_version", lit(next))
        .write.mode(SaveMode.ErrorIfExists).parquet(st.toString)
      st
    }
    commitStagedVersion(spark, fs, path, staging, next, schema.json,
      untouched, manifestOpt.map(m => (m, v)), op = op,
      orphanGraceMs = orphanGraceMs, txn = txn, dv = newDv,
      cdfStaging = cdfStaging)
    next
  }

  /** Live rows of entries `es` WITH their row identity (`__p` file
    * path, `__pos` row index) — the shared discovery scan of the DV
    * writes: dv'd files subtract their existing positions first (an
    * already-deleted row must not re-match), plain files just take
    * the stamp; output in logical column names through the map.
    */
  private def dvLiveWithId(spark: SparkSession, path: String,
                           m: com.fasterxml.jackson.databind.JsonNode,
                           schema: StructType, es: Seq[String]): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = qualifiedRoot(fs, path)
    val dvState = readDvState(m)
    val cmap = columnMapOf(m)
    val phys = physicalize(schema, cmap)
    val dvd = dvState.map(_.fileSet).getOrElse(Set.empty)
    val (hit, plain) = es.partition(dvd)
    def leg(ps: Seq[String], anti: Boolean): Option[DataFrame] =
      if (ps.isEmpty) None
      else {
        val scan = spark.read.schema(phys).parquet(ps.map(entryPath(path, _)): _*)
        Some(
          if (!anti) withRowId(scan)
          else antiDv(scan, dvFrame(spark, path, q, dvState.get.refs),
            bcast = dvState.get.rows <= DvBroadcastMaxRows))
      }
    Seq(leg(plain, anti = false), leg(hit, anti = true)).flatten
      .map(_.select(toLogicalCols(schema, cmap) ++ Seq("__p", "__pos").map(col): _*))
      .reduce(_ unionAll _)
  }

  /** [[Commit]] with a [[writeManifest]] manifest: entries = the
    * promoted dir's fresh data files + `carried` references, per-file
    * accounting reused from `reuseFrom`. Load-bearing and advancing
    * `_latest` unless told otherwise. Returns the fresh file names.
    */
  private def commitStagedVersion(spark: SparkSession,
                                  fs: org.apache.hadoop.fs.FileSystem,
                                  path: String,
                                  staging: org.apache.hadoop.fs.Path,
                                  next: Long, schemaJson: String,
                                  carried: Seq[String],
                                  reuseFrom: Option[(com.fasterxml.jackson.databind.JsonNode, Long)],
                                  op: String, orphanGraceMs: Long,
                                  txn: Option[(String, Long)] = None,
                                  dv: Option[DvState] = None,
                                  idx: Option[IdxState] = None,
                                  idxDrop: Boolean = false,
                                  columnMap: Option[Map[String, String]] = None,
                                  droppedColumns: Option[Seq[String]] = None,
                                  cdfStaging: Option[org.apache.hadoop.fs.Path] = None,
                                  expectations: Option[Map[String, (String, Long)]] = None,
                                  policy: Commit.ManifestPolicy = Commit.LoadBearing,
                                  ref: Commit.Ref = Commit.MainRef,
                                  preAdvance: () => Unit = () => ()): Seq[String] =
    Commit(fs, path, staging, next, op, orphanGraceMs, policy, ref, cdfStaging, preAdvance) {
      fresh =>
        writeManifest(fs, spark.sparkContext.hadoopConfiguration, path, next,
          schemaJson, Some(fresh ++ carried), reuseFrom = reuseFrom, txn = txn,
          dv = dv, idx = idx, idxDrop = idxDrop, columnMap = columnMap,
          droppedColumns = droppedColumns, expectations = expectations)
    }

  /** Merge-on-read row-level DELETE — deletion vectors (X189), the
    * Delta-DV / Iceberg-positional-delete shape and [[deleteWhere]]'s
    * cheaper sibling: instead of rewriting every file that contains a
    * matching row, the matched rows' (file, `_metadata.row_index`)
    * pairs are RECORDED in a `_dv` parquet sidecar inside the new
    * version's dir and every data file is carried by reference —
    * erasing k scattered rows of a 100 TB table costs one
    * column-pruned discovery scan plus a k-row parquet write, where
    * even the file-grain [[deleteWhere]] pays the touched files' full
    * bytes back out. Reads subtract the positions with an anti-join
    * applied ONLY to the files that carry them (a driver-side split
    * from the manifest's `dvFiles`); the clean bulk of the table
    * scans exactly as before. Deletions accumulate across dv commits
    * and MATERIALIZE whenever their file is rewritten ([[deleteWhere]]
    * / [[updateWhere]] / [[mergeIntoSnapshot]] / [[optimizeSnapshot]]
    * / [[compactSnapshot]]) or swept wholesale by
    * [[materializeDeletes]] — a position keys on its file's PATH, so
    * a rewritten file's positions can never touch its replacement.
    *
    * The trade against [[deleteWhere]] is the standard merge-on-read
    * one: O(matches) write cost now, an anti-join over the dv'd
    * files' rows at every read until materialization (broadcast while
    * the manifest's live count stays under [[DvBroadcastMaxRows]]).
    * Same CAS/`_partial`/unwind/no-match-no-op contract as the
    * file-grain writes; `scanBound` prunes the discovery scan via
    * manifest stats (X162); `changeFeed = true` records the deleted
    * rows (X172) from the matched files only. Requires a readable
    * manifest (the DV record rides it) — on a manifest-less table use
    * [[deleteWhere]]. [[snapshotRowCount]] stays truthful (the
    * manifest's rowCount is EFFECTIVE rows); a [[readSnapshotStream]]
    * tail sees no event for a dv commit (deletes are invisible to an
    * append-only consumer — the restriction rewrite versions already
    * carry, in the opposite direction).
    */
  def deleteWhereDv(spark: SparkSession, path: String, predicate: Column,
                    orphanGraceMs: Long = 600000L,
                    scanBound: Option[(String, Option[Any], Option[Any])] = None,
                    changeFeed: Boolean = false): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"deleteWhereDv($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"deleteWhereDv($path): v=$v has no readable manifest — the DV record rides the " +
        "manifest; use deleteWhere (file rewrite) on manifest-less tables"))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    val entries = normEntries(m, v)
    if (entries.isEmpty) return v
    val dvState = readDvState(m)
    val candidates = scanBound match {
      case Some((column, lo, hi)) =>
        val keep = statsOverlap(m, schema, column, lo, hi).toSet
        entries.zipWithIndex.collect { case (e, i) if keep(i) => e }
      case None => entries
    }
    if (candidates.isEmpty) return v
    val q = qualifiedRoot(fs, path)
    def liveWithId(es: Seq[String]): DataFrame = dvLiveWithId(spark, path, m, schema, es)
    // matched positions, normalized back to entry form (root-relative
    // inside the table, scheme-less absolute for clone references)
    val matched = liveWithId(candidates).where(predicate).select(
      entryFormCol(q, col("__p")).as("file"),
      col("__pos").as("pos"))
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging-$tag")
    // r17 (guide §1.2/§2.3): with a change feed requested, ONE
    // discovery scan serves both consumers — the matched rows land
    // (row columns + file + pos) in a private `_matched` staging dir;
    // the `_dv` sidecar and the feed are cheap projections of that
    // already-materialized k-row frame instead of a SECOND full
    // dvLiveWithId scan of the candidate files (the previous shape —
    // its cost note — re-read the matched files for the feed).
    // `_matched` is deleted before the commit; the underscore prefix
    // keeps it out of the fresh-file list either way. Without a feed
    // the positions-only write stays the single scan it always was.
    // Tables whose OWN schema claims `file`/`pos` fall back to the
    // two-scan shape rather than colliding in the combined frame.
    val matchedStaged: Option[StructType] =
      if (!changeFeed || schema.fieldNames.exists(dvRowSchema.fieldNames.contains))
        None
      else Some(StructType(schema.fields ++ dvRowSchema.fields))
    matchedStaged match {
      case None =>
        matched.write.mode(SaveMode.ErrorIfExists).parquet(s"$staging/_dv")
      case Some(st) =>
        liveWithId(candidates).where(predicate)
          .select(schema.fieldNames.map(col) ++ Seq(
            entryFormCol(q, col("__p")).as("file"),
            col("__pos").as("pos")): _*)
          .write.mode(SaveMode.ErrorIfExists).parquet(s"$staging/_matched")
        spark.read.schema(st).parquet(s"$staging/_matched")
          .select("file", "pos")
          .write.mode(SaveMode.ErrorIfExists).parquet(s"$staging/_dv")
    }
    fs.create(new org.apache.hadoop.fs.Path(staging, "_partial"), true).close()
    val perFile = spark.read.schema(dvRowSchema).parquet(s"$staging/_dv")
      .groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    if (perFile.isEmpty) { fs.delete(staging, true); return v }
    val entrySet = entries.toSet
    perFile.foreach { case (f, _) => require(entrySet.contains(f),
      s"deleteWhereDv($path): matched file $f not in committed entry list") }
    val next = nextVersionAbove(spark, path, v)
    val merged: Seq[(String, Long)] = {
      val base = dvState.map(_.files).getOrElse(Seq.empty).toMap
      val add = perFile.toMap
      (base.keySet ++ add.keySet).toSeq.sorted
        .map(f => f -> (base.getOrElse(f, 0L) + add.getOrElse(f, 0L)))
    }
    val newDv = DvState(dvState.map(_.refs).getOrElse(Seq.empty) :+ s"v=$next/_dv", merged)
    // change capture (X172): the deleted rows — projected from the
    // `_matched` staging when the fused discovery ran (r17: the rows
    // were already materialized there; no second scan), re-read from
    // the matched files only on the collision fallback
    val cdfStaging = if (!changeFeed) None else Some {
      val st = new org.apache.hadoop.fs.Path(s"$path/_staging-${tag}cdf")
      val deleted = matchedStaged match {
        case Some(ms) => spark.read.schema(ms).parquet(s"$staging/_matched")
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        case None => liveWithId(perFile.map(_._1)).where(predicate)
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      }
      deleted
        .withColumn("_change_type", lit("delete"))
        .withColumn("_commit_version", lit(next))
        .write.mode(SaveMode.ErrorIfExists).parquet(st.toString)
      st
    }
    if (matchedStaged.isDefined)
      fs.delete(new org.apache.hadoop.fs.Path(s"$staging/_matched"), true)
    commitStagedVersion(spark, fs, path, staging, next,
      m.get("schema").toString, entries, Some((m, v)),
      op = "deleteWhereDv", orphanGraceMs = orphanGraceMs,
      dv = Some(newDv), cdfStaging = cdfStaging)
    next
  }

  /** Merge-on-read row-level UPDATE (X197) — [[updateWhere]]'s
    * deletion-vector sibling, completing the DV write family: the
    * matched rows' positions are RECORDED (their old copies stop being
    * read, exactly [[deleteWhereDv]]) and their post-SET copies land
    * as NEW files in the SAME commit — updating k scattered rows of a
    * 100 TB table costs one column-pruned discovery scan, a k-row
    * sidecar and a k-row data file, where the file-grain
    * [[updateWhere]] pays every touched file's full bytes back out.
    * Every existing data file is carried by reference.
    *
    * Same contracts as [[deleteWhereDv]]: positions accumulate and
    * materialize on rewrite, `scanBound` prunes discovery via manifest
    * stats, no-match is a no-op (no empty commit), requires a readable
    * manifest, CHECK constraints validate the post-image rows inside
    * their write plan, and the column map applies (SET names logical
    * columns; the fresh file lands physical). The effective rowCount
    * is conserved by construction: the fresh file's footer rows equal
    * the new positions. `changeFeed = true` records the Delta-CDF
    * `update_preimage`/`update` pair from the matched files only. A
    * second update can re-match the first's post-images (they live in
    * a clean fresh file) — updates compose across commits.
    *
    * Cost note (r17): ONE discovery scan of the candidate files serves
    * every consumer — the matched rows are staged once (row columns +
    * position) and the sidecar, post-images, and optional feed are
    * projections of that k-row frame (previously each consumer
    * re-scanned the matched files). The predicate must be
    * deterministic, as for every discovery-based write.
    *
    * Streaming-tail caveat: an append-only [[readSnapshotStream]]
    * consumer sees this version's FRESH post-image file as new rows
    * (the dv'd old copies are invisible to it) — the same restriction
    * rewrite versions carry; the version is `_partial`-marked, so
    * [[snapshotHistory]]'s `file_sharing` column audits tail safety
    * here exactly as for the file-grain writes.
    */
  def updateWhereDv(spark: SparkSession, path: String, predicate: Column,
                    set: Map[String, Column],
                    orphanGraceMs: Long = 600000L,
                    scanBound: Option[(String, Option[Any], Option[Any])] = None,
                    changeFeed: Boolean = false): Long = {
    require(set.nonEmpty, "updateWhereDv needs at least one SET column")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"updateWhereDv($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"updateWhereDv($path): v=$v has no readable manifest — the DV record rides the " +
        "manifest; use updateWhere (file rewrite) on manifest-less tables"))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    // eager SET validation — a typo'd column must throw even on no-match
    val unknown = set.keySet -- schema.fieldNames
    require(unknown.isEmpty,
      s"updateWhereDv: SET columns not in the table schema: ${unknown.mkString(", ")}")
    def applySet(df: DataFrame): DataFrame =
      df.select(schema.map { f =>
        if (set.contains(f.name)) set(f.name).cast(f.dataType).as(f.name)
        else col(f.name)
      }: _*)
    val entries = normEntries(m, v)
    if (entries.isEmpty) return v
    val dvState = readDvState(m)
    val cmap = columnMapOf(m)
    val candidates = scanBound match {
      case Some((column, lo, hi)) =>
        val keep = statsOverlap(m, schema, column, lo, hi).toSet
        entries.zipWithIndex.collect { case (e, i) if keep(i) => e }
      case None => entries
    }
    if (candidates.isEmpty) return v
    val q = qualifiedRoot(fs, path)
    def liveWithId(es: Seq[String]): DataFrame = dvLiveWithId(spark, path, m, schema, es)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging-$tag")
    // r17 (guide §1.2/§2.3): ONE discovery scan — the matched rows land
    // (row columns + file + pos) in a private `_matched` staging dir,
    // and the sidecar, the post-images, and the optional feed are all
    // cheap projections of that already-materialized k-row frame. The
    // previous shape re-scanned the matched files once per consumer
    // (positions, post-images, feed — 2-3 full passes; the Scaladoc's
    // cost note). `_matched` is deleted before the commit. Tables whose
    // OWN schema claims `file`/`pos` fall back to the multi-scan shape.
    val matchedStaged: Option[StructType] =
      if (schema.fieldNames.exists(dvRowSchema.fieldNames.contains)) None
      else Some(StructType(schema.fields ++ dvRowSchema.fields))
    matchedStaged match {
      case None =>
        liveWithId(candidates).where(predicate).select(
            entryFormCol(q, col("__p")).as("file"),
            col("__pos").as("pos"))
          .write.mode(SaveMode.ErrorIfExists).parquet(s"$staging/_dv")
      case Some(ms) =>
        liveWithId(candidates).where(predicate)
          .select(schema.fieldNames.map(col) ++ Seq(
            entryFormCol(q, col("__p")).as("file"),
            col("__pos").as("pos")): _*)
          .write.mode(SaveMode.ErrorIfExists).parquet(s"$staging/_matched")
        spark.read.schema(ms).parquet(s"$staging/_matched")
          .select("file", "pos")
          .write.mode(SaveMode.ErrorIfExists).parquet(s"$staging/_dv")
    }
    fs.create(new org.apache.hadoop.fs.Path(staging, "_partial"), true).close()
    val perFile = spark.read.schema(dvRowSchema).parquet(s"$staging/_dv")
      .groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    if (perFile.isEmpty) { fs.delete(staging, true); return v }
    val entrySet = entries.toSet
    perFile.foreach { case (f, _) => require(entrySet.contains(f),
      s"updateWhereDv($path): matched file $f not in committed entry list") }
    // post-images: the matched rows with SET applied, landing as fresh
    // data files beside the sidecar — projected from `_matched` when
    // the fused discovery ran, re-read from the matched files on the
    // fallback. SaveMode.Append because the writes above already
    // created the (private) staging dir.
    val matchedFiles = perFile.map(_._1)
    def matchedRows: DataFrame = matchedStaged match {
      case Some(ms) => spark.read.schema(ms).parquet(s"$staging/_matched")
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      case None => liveWithId(matchedFiles).where(predicate)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }
    val post = applySet(matchedRows)
    toPhysical(constraintGuard(
      generatedRederive(post, path, "updateWhereDv"), path, "updateWhereDv"), cmap)
      .write.mode(SaveMode.Append).parquet(staging.toString)
    val next = nextVersionAbove(spark, path, v)
    val merged: Seq[(String, Long)] = {
      val base = dvState.map(_.files).getOrElse(Seq.empty).toMap
      val add = perFile.toMap
      (base.keySet ++ add.keySet).toSeq.sorted
        .map(f => f -> (base.getOrElse(f, 0L) + add.getOrElse(f, 0L)))
    }
    val newDv = DvState(dvState.map(_.refs).getOrElse(Seq.empty) :+ s"v=$next/_dv", merged)
    val cdfStaging = if (!changeFeed) None else Some {
      val st = new org.apache.hadoop.fs.Path(s"$path/_staging-${tag}cdf")
      val pre = matchedRows
      applySet(pre).withColumn("_change_type", lit("update"))
        .unionByName(pre.withColumn("_change_type", lit("update_preimage")))
        .withColumn("_commit_version", lit(next))
        .write.mode(SaveMode.ErrorIfExists).parquet(st.toString)
      st
    }
    if (matchedStaged.isDefined)
      fs.delete(new org.apache.hadoop.fs.Path(s"$staging/_matched"), true)
    commitStagedVersion(spark, fs, path, staging, next,
      m.get("schema").toString, entries, Some((m, v)),
      op = "updateWhereDv", orphanGraceMs = orphanGraceMs,
      dv = Some(newDv), cdfStaging = cdfStaging)
    next
  }

  /** Purge the table's deletion vectors — the Delta `REORG TABLE …
    * APPLY (PURGE)` shape: rewrite ONLY the files that carry live DV
    * positions (their surviving rows land as fresh files), carry every
    * clean file by reference with its accounting reused, and commit a
    * version with no dv state at all — the read-side anti-join
    * disappears and retention ages the `_dv` sidecars out with their
    * versions. The file-grain middle ground between letting positions
    * ride and a full [[compactSnapshot]] rewrite. None (no commit)
    * when the current version has no deletion vectors; otherwise
    * (newVersion, filesWritten).
    */
  def materializeDeletes(spark: SparkSession, path: String,
                         orphanGraceMs: Long = 600000L): Option[(Long, Int)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"materializeDeletes($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(return None)
    val dvState = readDvState(m).getOrElse(return None)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    val entries = normEntries(m, v)
    val touched = dvState.fileSet
    val untouched = entries.filterNot(touched)
    val rewrittenDf = dvPlannedRead(spark, path, m, schema, entries.filter(touched))
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging-$tag")
    toPhysical(rewrittenDf, columnMapOf(m))
      .write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
    if (untouched.nonEmpty)
      fs.create(new org.apache.hadoop.fs.Path(staging, "_partial"), true).close()
    val next = nextVersionAbove(spark, path, v)
    val fresh = commitStagedVersion(spark, fs, path, staging, next,
      m.get("schema").toString, untouched, Some((m, v)),
      op = "materializeDeletes", orphanGraceMs = orphanGraceMs)
    Some((next, fresh.size))
  }

  /** ALTER TABLE RENAME COLUMN without rewriting a byte (X195) — the
    * Delta column-mapping shape: the manifest carries {logical →
    * physical} where the physical name is the column's name at FIRST
    * write, frozen inside the parquet files forever. This commit
    * carries every data file by reference and publishes a manifest
    * whose schema bears the new logical name plus the updated map —
    * at 100 TB the rename costs ONE manifest write. Every reader
    * scans the physical layout and aliases back (pushdown unaffected
    * — the alias is the scan's closing projection); every writer
    * (append / deleteWhere / updateWhere / merge / dv-delete /
    * optimize / purge) renames logical → physical before landing
    * files, so one version always means one physical layout. Full
    * rewrites ([[commitSnapshot]]/[[compactSnapshot]]) write logical
    * names and DROP the map — compaction doubles as mapping cleanup.
    *
    * Mapping is a READER FEATURE (X192): a map-ignorant build would
    * silently read the renamed column as all-NULLs; the gate refuses
    * instead. Renames chain (a→b→c keeps one map entry to the
    * original physical name) and compose with deletion vectors and
    * manifest stats (stats live under physical names; [[statsOverlap]]
    * translates). [[snapshotDiff]] BRIDGES a rename (X201): the
    * from-side projects into the to-side's logical schema through the
    * shared physical names, so the feed lands in the current names.
    * Known sharp edges, loud by construction: [[readChangeFeed]]
    * ACROSS a rename fails on the recorded feeds' schema mismatch
    * (each feed carries its commit-time names — replay per schema era,
    * or pull via the bridged diff), and a [[setSnapshotConstraint]]
    * naming the old column fails analysis at the next write —
    * re-declare it under the new name. The bloom index survives: an
    * index on the renamed column is re-keyed to the new logical name
    * in the same commit.
    */
  def renameSnapshotColumn(spark: SparkSession, path: String,
                           from: String, to: String,
                           orphanGraceMs: Long = 600000L): Long = {
    require(to.nonEmpty && to != from,
      s"renameSnapshotColumn: invalid target name '$to'")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"renameSnapshotColumn($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"renameSnapshotColumn($path): v=$v has no readable manifest — the column map " +
        "rides it; rewrite the table (commitSnapshot) to rename on a manifest-less table"))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    require(schema.fieldNames.contains(from),
      s"renameSnapshotColumn($path): no column '$from' in the committed schema")
    require(!schema.fieldNames.contains(to),
      s"renameSnapshotColumn($path): column '$to' already exists")
    val cmap = columnMapOf(m)
    val newMap = (cmap - from) + (to -> physicalName(cmap, from))
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val committed = commitMetadataOnly(spark, path, v, m, newSchema,
      columnMap = Some(newMap),
      idx = readIdxState(m).map(s => if (s.column == from) s.copy(column = to) else s),
      op = "renameSnapshotColumn", orphanGraceMs = orphanGraceMs)
    // the identity rule (X210) re-keys with the column, like the bloom
    // index above — a rule left on the stale name would mint a ROGUE
    // column under it at the next write (review r11). After the
    // version commit: the rule rides a root file, not the manifest, so
    // the re-key is keyed to the rename's success.
    identityRule(fs, path).foreach { case (c, st) =>
      if (c == from) withDdlLock(fs, path) {
        writeRulesFile(fs, path, "_identity", Map(to -> st.toString))
      }
    }
    committed
  }

  /** ALTER TABLE DROP COLUMN without rewriting a byte (X196) — the
    * second metadata-only schema change: the commit carries every data
    * file by reference and publishes a manifest whose schema no longer
    * bears the column. The column's bytes stay frozen inside the
    * carried files and simply stop being projected (scans plan an
    * explicit physical schema, so an extra parquet column is never
    * read). The dropped column's PHYSICAL name is recorded as a
    * tombstone: a later column of the same name ([[addSnapshotColumn]]
    * or an `evolveSchema` append) is minted a FRESH physical name, so
    * the dead bytes can never resurrect into it — old rows read the
    * re-added column as NULL, exactly Delta's drop-then-add contract.
    * Tombstones ride the manifest (gated as the `dropped-columns`
    * reader feature — an ignorant WRITER's evolution append would
    * otherwise re-bind the name to the frozen bytes) and clear on full
    * rewrites: after [[commitSnapshot]]/[[compactSnapshot]] no live
    * file carries the bytes. A bloom index on the dropped column is
    * dropped with it; a CHECK constraint naming it fails analysis at
    * the next write — re-declare or drop the constraint.
    */
  def dropSnapshotColumn(spark: SparkSession, path: String, name: String,
                         orphanGraceMs: Long = 600000L): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"dropSnapshotColumn($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"dropSnapshotColumn($path): v=$v has no readable manifest — the column map " +
        "rides it; rewrite the table (commitSnapshot) to drop on a manifest-less table"))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    require(schema.fieldNames.contains(name),
      s"dropSnapshotColumn($path): no column '$name' in the committed schema")
    require(schema.size > 1,
      s"dropSnapshotColumn($path): cannot drop the only column '$name'")
    // a dropped identity column would leave a rule that re-mints it at
    // the next write (review r11) — the rule goes first, explicitly
    require(!identityRule(fs, path).exists(_._1 == name),
      s"dropSnapshotColumn($path): '$name' is the identity column — " +
        "dropIdentityColumn first")
    val cmap = columnMapOf(m)
    val idx0 = readIdxState(m)
    commitMetadataOnly(spark, path, v, m,
      StructType(schema.fields.filterNot(_.name == name)),
      columnMap = Some(cmap - name),
      droppedColumns = Some(droppedColumnsOf(m) :+ physicalName(cmap, name)),
      idx = idx0.filterNot(_.column == name),
      idxDrop = idx0.exists(_.column == name),
      op = "dropSnapshotColumn", orphanGraceMs = orphanGraceMs)
  }

  /** ALTER TABLE ADD COLUMN (X196): a metadata-only commit growing the
    * schema by one nullable column — carried files read it as NULL
    * (the planned physical schema names a column their footers lack).
    * If the name collides with a physical name still frozen in the
    * files (tombstoned by a drop, or freed by a rename), the new
    * column is minted a fresh physical name via the column map, so old
    * bytes never resurrect. Nullable by construction: every committed
    * row predates the column.
    */
  def addSnapshotColumn(spark: SparkSession, path: String, name: String,
                        dataType: org.apache.spark.sql.types.DataType,
                        orphanGraceMs: Long = 600000L): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"addSnapshotColumn($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"addSnapshotColumn($path): v=$v has no readable manifest — the column map " +
        "rides it; rewrite the table (commitSnapshot) to evolve a manifest-less table"))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    require(!schema.fieldNames.contains(name),
      s"addSnapshotColumn($path): column '$name' already exists")
    val cmap = columnMapOf(m)
    val used = usedPhysicalNames(schema, cmap, droppedColumnsOf(m))
    val newMap = if (used(name)) cmap + (name -> mintPhysical(name, used)) else cmap
    commitMetadataOnly(spark, path, v, m,
      StructType(schema.fields :+ org.apache.spark.sql.types.StructField(
        name, dataType, nullable = true)),
      columnMap = Some(newMap),
      op = "addSnapshotColumn", orphanGraceMs = orphanGraceMs)
  }

  /** The shared protocol of every METADATA-ONLY commit (rename / drop
    * / add column): an empty file-sharing version — staging dir holds
    * only the `_partial` marker, every data file of `v` carries by
    * reference — published under the same CAS + unwind contract as a
    * data commit. DV state always carries (positions are column-
    * agnostic). Returns the committed version.
    */
  private def commitMetadataOnly(spark: SparkSession, path: String, v: Long,
                                 m: com.fasterxml.jackson.databind.JsonNode,
                                 newSchema: StructType,
                                 columnMap: Option[Map[String, String]] = None,
                                 droppedColumns: Option[Seq[String]] = None,
                                 idx: Option[IdxState] = None,
                                 idxDrop: Boolean = false,
                                 op: String = "alterSnapshot",
                                 orphanGraceMs: Long = 600000L): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = normEntries(m, v)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging-$tag")
    fs.mkdirs(staging)
    fs.create(new org.apache.hadoop.fs.Path(staging, "_partial"), true).close()
    val next = nextVersionAbove(spark, path, v)
    commitStagedVersion(spark, fs, path, staging, next, newSchema.json,
      entries, Some((m, v)), op = op, orphanGraceMs = orphanGraceMs,
      dv = readDvState(m), idx = idx, idxDrop = idxDrop,
      columnMap = columnMap, droppedColumns = droppedColumns)
    next
  }

  // ---------------------------------------------------------------------------
  // PER-FILE COLUMN SYNOPSES (X231) — the Iceberg-puffin / Delta-stats
  // move for cardinality: ANALYZE once, answer "how many distinct X"
  // for ANY later snapshot with ZERO data I/O. Each data file gets a
  // bottom-k KMV synopsis per analyzed column (the X223 md5-priority
  // contract at file grain), persisted in a side SNAPSHOT table (the
  // quarantine/CM-sketch side-table precedent — no manifest plumbing,
  // crash-safe via the side table's own commits). Because a value's
  // priority depends on NOTHING but the value, the union of per-file
  // bottom-k sets contains the table-wide bottom-k — so the merged
  // estimate is BIT-IDENTICAL to running kmvDistinct over the whole
  // table, while costing only a read of the (files × k)-row side
  // table. The synopsis is a pure function of the immutable file, so
  // it survives appends, compaction carries, time travel, clones and
  // column RENAMES (rows key on the frozen PHYSICAL name) — analyze
  // is append-only maintenance, never invalidation.

  /** Side-table path for [[analyzeSnapshot]]'s per-file synopses. */
  def synopsesPath(path: String): String = s"$path/_synopses"

  /** Bottom-k KMV synopsis rows for `physCol` over `files`:
    * (file, column, k, u, v) — the k smallest md5 priorities of the
    * file's distinct values, ties on the value. One column-pruned
    * scan of exactly `files`.
    */
  /** The live-scan under the ANALYZE family (X231/X234), dv-aware
    * (r13): files carrying deletion-vector positions read through the
    * same two-leg anti-join shape as [[dvPlannedRead]] — the plain leg
    * is one untouched parquet scan, the dv leg subtracts the sidecar's
    * (file, pos) rows — so a zero-scan answer over a dv-carrying table
    * is EXACT instead of refused. Emits `file` (entry-form) plus the
    * physical columns; callers project what they bin/sketch.
    */
  private def analyzeScan(spark: SparkSession, path: String, q: String,
                          physSchema: StructType, files: Seq[String],
                          dv: Option[DvState]): DataFrame = {
    val dvd = dv.map(_.fileSet).getOrElse(Set.empty)
    val (hit, plain) = files.partition(dvd)
    def leg(fs0: Seq[String], subtract: Boolean): Option[DataFrame] =
      if (fs0.isEmpty) None
      else {
        val scan = spark.read.schema(physSchema)
          .parquet(fs0.map(entryPath(path, _)): _*)
        val withId =
          if (subtract) antiDv(scan, dvFrame(spark, path, q, dv.get.refs),
            bcast = dv.get.rows <= DvBroadcastMaxRows)
          else withRowId(scan)
        Some(withId.withColumn("file", entryFormCol(q, col("__p"))))
      }
    (leg(plain, subtract = false) ++ leg(hit, subtract = true))
      .reduce(_ unionAll _)
  }

  private def synopsisRows(spark: SparkSession, path: String, q: String,
                           physSchema: StructType, physCol: String,
                           files: Seq[String], k: Int,
                           dv: Option[DvState] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("file").orderBy("u", "v")
    analyzeScan(spark, path, q, physSchema, files, dv)
      .select(col("file"), col(physCol).cast("string").as("v"))
      .where(col("v").isNotNull)
      .distinct()
      .withColumn("u",
        conv(substring(md5(col("v")), 1, 15), 16, 10)
          .cast("long").cast("double") / lit(math.pow(2.0, 60.0)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("file"), lit(physCol).as("column"), lit(k).as("k"),
        col("u"), col("v"))
  }

  /** The side table's live synopsis rows for (`physCols`, `k`) over
    * exactly `entries`, or an empty frame when no side table exists.
    * Stale rows (dead files, other k, other columns) filter out —
    * they are inert, never wrong.
    */
  private def liveSynopses(spark: SparkSession, path: String,
                           physCols: Seq[String], entries: Seq[String],
                           k: Int): DataFrame = {
    import spark.implicits._
    val side = synopsesPath(path)
    val base =
      if (snapshots(spark, side).isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType.fromDDL("file STRING, column STRING, k INT, u DOUBLE, v STRING"))
      else readSnapshot(spark, side)
    base.filter(col("k") === k && col("column").isin(physCols: _*))
      .join(broadcast(entries.toDF("file")), Seq("file"), "left_semi")
  }

  /** ANALYZE (X231): compute and append the missing per-file KMV
    * synopses for `columns` on the CURRENT snapshot. Incremental by
    * construction: a (file, column, k) synopsis already in the side
    * table is never recomputed (files are immutable), so the
    * steady-state maintenance tick after an append costs the NEW
    * files' bytes — the X200 refresh discipline. Returns the side
    * table's new version, or None when coverage was already complete.
    * Logical column names resolve to physical once, here — synopsis
    * rows key on the PHYSICAL name, so a later RENAME costs nothing.
    */
  def analyzeSnapshot(spark: SparkSession, path: String, columns: Seq[String],
                      k: Int = 256): Option[Long] = {
    require(columns.nonEmpty, s"analyzeSnapshot($path): no columns given")
    require(k >= 3, s"k must be >= 3 for the (k-1)/u_k estimator, got $k")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"analyzeSnapshot($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"analyzeSnapshot($path): v=$v has no readable manifest — synopses ride its entry list"))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    columns.foreach(c => require(schema.fieldNames.contains(c),
      s"analyzeSnapshot($path): column '$c' not in snapshot schema"))
    val cmap = columnMapOf(m)
    val physCols = columns.map(physicalName(cmap, _))
    // dv-aware (r13): a synopsis covers the file's rows INCLUDING
    // dv-deleted ones, so dv-carrying files are never recorded — they
    // route through ndvSnapshot's live-scan leg (dv-subtracted) until
    // a REORG rewrites them into dv-free files this tick then covers
    val dvd = readDvState(m).map(_.fileSet).getOrElse(Set.empty)
    val entries = normEntries(m, v).filterNot(dvd)
    val q = qualifiedRoot(fs, path)
    val covered = liveSynopses(spark, path, physCols, entries, k)
      .select("file", "column").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val physSchema = physicalize(schema, cmap)
    import spark.implicits._
    val fresh = physCols.flatMap { pc =>
      val need = entries.filterNot(f => covered((f, pc)))
      if (need.isEmpty) None
      else {
        val real = synopsisRows(spark, path, q, physSchema, pc, need, k)
          .localCheckpoint(true) // read once for rows AND the sentinel diff
        // a file whose column is all-NULL yields no value rows — mark
        // it covered with a (u, v) = NULL sentinel or every later
        // analyze/ndv re-scans it forever; readers filter v IS NOT
        // NULL before estimating
        val present = real.select("file").distinct()
          .collect().map(_.getString(0)).toSet
        val empties = need.filterNot(present)
        val sent =
          if (empties.isEmpty) None
          else Some(empties.toDF("file")
            .select(col("file"), lit(pc).as("column"), lit(k).as("k"),
              lit(null).cast("double").as("u"), lit(null).cast("string").as("v")))
        Some(sent.fold(real)(real.unionByName(_)))
      }
    }
    if (fresh.isEmpty) return None
    val rows = fresh.reduce(_ unionByName _)
    val side = synopsesPath(path)
    Some(snapshots(spark, side).lastOption match {
      case None => writeSnapshot(rows, side)
      case Some(cur) => appendSnapshot(rows, side, cur)
    })
  }

  /** Distinct-count estimates from the synopses (X231): one row per
    * requested column, `distinct_est` BIT-IDENTICAL to
    * `Sketches.kmvDistinct` over the full current snapshot — per-file
    * bottom-k sets merge to the global bottom-k because a value's
    * priority is a function of the value alone. Files without a
    * recorded synopsis are scanned ON THE FLY (result stays exact;
    * only the I/O grows), so the answer is always correct and costs
    * zero data bytes exactly when [[analyzeSnapshot]] coverage is
    * complete. Values compare as their string forms (the kmvDistinct
    * contract). Deletion vectors (r13): a recorded synopsis covers the
    * file's rows INCLUDING dv-deleted ones, so synopses of files that
    * currently carry dv positions are ignored and those files
    * live-scan through the dv-subtracting leg — the answer stays
    * exact; only the dv'd files' I/O is paid (a REORG purge restores
    * full zero-scan).
    */
  def ndvSnapshot(spark: SparkSession, path: String, columns: Seq[String],
                  k: Int = 256, version: Option[Long] = None): DataFrame = {
    require(columns.nonEmpty, s"ndvSnapshot($path): no columns given")
    // same floor as analyzeSnapshot/kmvDistinct: the (k−1)/u_k
    // estimator is degenerate below 3 — without this the live-scan
    // path would silently produce garbage at k=1/2
    require(k >= 3, s"ndvSnapshot($path): k must be >= 3 for the KMV estimator, got $k")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // synopses key on immutable FILES, so any version's entry list
    // merges the same way — time travel is free (files only ever
    // carried by reference; an old version's files are covered iff
    // they were live when analyzed). Reader-side version resolution
    // (resolveVersion), like readSnapshot/describeSnapshot.
    val v = resolveVersion(spark, path, version)
    require(v >= 1, s"ndvSnapshot($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"ndvSnapshot($path): v=$v has no readable manifest"))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    columns.foreach(c => require(schema.fieldNames.contains(c),
      s"ndvSnapshot($path): column '$c' not in snapshot schema"))
    val cmap = columnMapOf(m)
    val logicalOf = columns.map(c => physicalName(cmap, c) -> c).toMap
    val physCols = columns.map(physicalName(cmap, _))
    // dv-aware (r13, no refusal): recorded synopses are only
    // trustworthy for files WITHOUT deletion-vector positions — a
    // covered file that later gained a dv would overcount, so its
    // rows are ignored and the file live-scans through the
    // dv-subtracting leg. Zero data bytes still holds exactly when
    // coverage is complete over the dv-free files and no dv exists.
    val dv = readDvState(m).filter(_.files.nonEmpty)
    val dvd = dv.map(_.fileSet).getOrElse(Set.empty)
    val entries = normEntries(m, v)
    val dvFree = entries.filterNot(dvd)
    val q = qualifiedRoot(fs, path)
    import spark.implicits._
    val recorded = liveSynopses(spark, path, physCols, dvFree, k)
      .select("file", "column", "u", "v")
    val coveredPairs = recorded.select("file", "column").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val physSchema = physicalize(schema, cmap)
    val live = physCols.flatMap { pc =>
      val need = dvFree.filterNot(f => coveredPairs((f, pc))) ++ entries.filter(dvd)
      if (need.isEmpty) None
      else Some(synopsisRows(spark, path, q, physSchema, pc, need, k, dv)
        .select("file", "column", "u", "v"))
    }
    // all-NULL coverage sentinels (u, v both NULL) count as covered
    // above but carry no values — drop them before estimating
    val all = (recorded +: live).reduce(_ unionByName _)
      .where(col("v").isNotNull)
    // merge: dedupe by value (u is a function of v), table-wide
    // bottom-k per column, then the X223 estimator verbatim
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("column").orderBy("u", "v")
    val toLogical = logicalOf.foldLeft(col("column")) { case (acc, (p, l)) =>
      when(col("column") === p, lit(l)).otherwise(acc)
    }
    val est = all.groupBy("column", "v").agg(min(col("u")).as("u"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy("column")
      .agg(count(lit(1)).as("__n"), max(col("u")).as("__uk"))
      .select(col("column"),
        when(col("__n") < k, col("__n").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("__uk")).as("__est"))
    // an all-NULL column has zero value rows anywhere — report 0.0,
    // not a silently missing output row
    physCols.toDF("column").join(est, Seq("column"), "left")
      .select(toLogical.as("column"),
        coalesce(col("__est"), lit(0.0)).as("distinct_est"))
  }

  /** Side-table path for [[analyzeHistogram]]'s per-file bin counts. */
  def histogramsPath(path: String): String = s"$path/_histograms"

  /** Per-file fixed-edge histogram rows for `physCol` over `files`:
    * (file, column, lo, hi, bins, bin, n). Bin assignment is the X128
    * IEEE expression with out-of-range values CLAMPED into the end
    * bins (later appends may exceed the pinned range), so counts from
    * any file merge under the same edges.
    */
  private def histogramRows(spark: SparkSession, path: String, q: String,
                            physSchema: StructType, physCol: String,
                            files: Seq[String], lo: Double, hi: Double,
                            bins: Int, dv: Option[DvState] = None): DataFrame = {
    val width = (lit(hi) - lit(lo)) / lit(bins)
    val bin =
      if (hi == lo) lit(0L)
      else least(greatest(floor((col("v") - lit(lo)) / width),
        lit(0L)), lit(bins - 1L)).cast("long")
    analyzeScan(spark, path, q, physSchema, files, dv)
      .select(col("file"), col(physCol).cast("double").as("v"))
      .where(col("v").isNotNull)
      .select(col("file"), bin.as("bin"))
      .groupBy("file", "bin").agg(count(lit(1)).as("n"))
      .select(col("file"), lit(physCol).as("column"), lit(lo).as("lo"),
        lit(hi).as("hi"), lit(bins).as("bins"), col("bin"), col("n"))
  }

  /** HISTOGRAM ANALYZE (X234): record per-file fixed-edge bin counts
    * for `column` into the `_histograms` side table — the distribution
    * complement of [[analyzeSnapshot]]'s NDV synopses, and the
    * stronger merge: bin counts are INTEGERS that sum, so the merged
    * histogram is EXACT, not an estimate. The bin edges pin at the
    * FIRST analyze (from one column-pruned min/max pass over the
    * then-current snapshot) and every later tick reuses them — files
    * that arrive with values outside the pinned range clamp into the
    * end bins (visible as fat edge bins: the signal to re-pin by
    * analyzing under a new `bins` family). Incremental exactly like
    * the NDV side: covered (file, column, bins) rows never recompute.
    */
  def analyzeHistogram(spark: SparkSession, path: String, column: String,
                       bins: Int = 20): Option[Long] = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"analyzeHistogram($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"analyzeHistogram($path): v=$v has no readable manifest"))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    require(schema.fieldNames.contains(column),
      s"analyzeHistogram($path): column '$column' not in snapshot schema")
    val cmap = columnMapOf(m)
    val pc = physicalName(cmap, column)
    // dv-aware (r13): dv-carrying files are never recorded (their bin
    // counts would include deleted rows) — histogramSnapshot live-scans
    // them dv-subtracted under the same pinned edges
    val dvd = readDvState(m).map(_.fileSet).getOrElse(Set.empty)
    val entries = normEntries(m, v).filterNot(dvd)
    val q = qualifiedRoot(fs, path)
    val side = histogramsPath(path)
    val existing =
      if (snapshots(spark, side).isEmpty) None
      else {
        val fam = readSnapshot(spark, side)
          .filter(col("column") === pc && col("bins") === bins)
        fam.select("lo", "hi").head(1).headOption.map { r =>
          val covered = fam.select("file").distinct()
            .collect().map(_.getString(0)).toSet
          (r.getDouble(0), r.getDouble(1), covered)
        }
      }
    val (lo, hi, covered) = existing.getOrElse {
      val r = readSnapshot(spark, path, Some(v))
        .agg(min(col(column).cast("double")),
          max(col(column).cast("double"))).head()
      require(!r.isNullAt(0),
        s"analyzeHistogram($path): column '$column' is all-NULL — no edges to pin")
      (r.getDouble(0), r.getDouble(1), Set.empty[String])
    }
    val need = entries.filterNot(covered)
    import spark.implicits._
    if (need.isEmpty) {
      // r14 (ADVICE): when EVERY live file carries a dv, no file row
      // can be recorded — but if the family doesn't exist yet it must
      // still be created with its edges pinned, or histogramSnapshot
      // refuses with "run analyzeHistogram first" while analyzeHistogram
      // keeps returning None: an instruction loop the caller cannot
      // resolve. Persist the " edges" sentinel row (the
      // compactAnalyzeSidecars shape: file=" edges", bin/n NULL) —
      // inert to every file-grain reader, visible to the family-wide
      // edge lookup — so the all-live-scan answer serves under pinned
      // edges. The edges came from the dv-subtracted readSnapshot
      // min/max above, so they describe the LIVE rows.
      if (existing.nonEmpty) return None
      val sentinel = Seq(" edges").toDF("file")
        .select(col("file"), lit(pc).as("column"), lit(lo).as("lo"),
          lit(hi).as("hi"), lit(bins).as("bins"),
          lit(null).cast("long").as("bin"), lit(null).cast("long").as("n"))
      return Some(snapshots(spark, side).lastOption match {
        case None => writeSnapshot(sentinel, side)
        case Some(cur) => appendSnapshot(sentinel, side, cur)
      })
    }
    val real = histogramRows(spark, path, q,
      physicalize(schema, cmap), pc, need, lo, hi, bins)
      .localCheckpoint(true) // read once for rows AND the sentinel diff
    // all-NULL files yield no bin rows — sentinel-cover them (bin, n
    // NULL) so they never re-scan; readers filter bin IS NOT NULL
    val present = real.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    val empties = need.filterNot(present)
    val rows =
      if (empties.isEmpty) real
      else real.unionByName(empties.toDF("file")
        .select(col("file"), lit(pc).as("column"), lit(lo).as("lo"),
          lit(hi).as("hi"), lit(bins).as("bins"),
          lit(null).cast("long").as("bin"), lit(null).cast("long").as("n")))
    Some(snapshots(spark, side).lastOption match {
      case None => writeSnapshot(rows, side)
      case Some(cur) => appendSnapshot(rows, side, cur)
    })
  }

  /** EXACT value distribution from the histogram synopses (X234): the
    * merged per-file bin counts — plain integer sums, so the result
    * equals binning the whole snapshot under the pinned edges, with
    * zero data I/O at full coverage (uncovered files scan on the fly
    * under the SAME edges, so the answer is always exact). Deletion
    * vectors (r13): dv-carrying files' recorded counts are ignored and
    * those files live-scan dv-subtracted under the same edges — exact,
    * never refused, the X231 contract. Output: one row per
    * non-empty bin — (bin, lo, hi, n), where lo/hi are the PINNED
    * range (bin width = (hi−lo)/bins).
    */
  def histogramSnapshot(spark: SparkSession, path: String, column: String,
                        bins: Int = 20, version: Option[Long] = None): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = resolveVersion(spark, path, version)
    require(v >= 1, s"histogramSnapshot($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"histogramSnapshot($path): v=$v has no readable manifest"))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    require(schema.fieldNames.contains(column),
      s"histogramSnapshot($path): column '$column' not in snapshot schema")
    val cmap = columnMapOf(m)
    val pc = physicalName(cmap, column)
    // dv-aware (r13, no refusal): recorded bin counts are only
    // trustworthy for dv-free files; dv-carrying files live-scan
    // through the dv-subtracting leg under the SAME pinned edges, so
    // the merged histogram stays integer-exact
    val dv = readDvState(m).filter(_.files.nonEmpty)
    val dvd = dv.map(_.fileSet).getOrElse(Set.empty)
    val entries = normEntries(m, v)
    val dvFree = entries.filterNot(dvd)
    val q = qualifiedRoot(fs, path)
    val side = histogramsPath(path)
    require(snapshots(spark, side).nonEmpty,
      s"histogramSnapshot($path): no histogram family — run analyzeHistogram first")
    import spark.implicits._
    val fam = readSnapshot(spark, side)
      .filter(col("column") === pc && col("bins") === bins)
    val edge = fam.select("lo", "hi").head(1).headOption.getOrElse(sys.error(
      s"histogramSnapshot($path): no ($column, bins=$bins) family — run analyzeHistogram first"))
    val (lo, hi) = (edge.getDouble(0), edge.getDouble(1))
    val recorded = fam
      .join(broadcast(dvFree.toDF("file")), Seq("file"), "left_semi")
      .select("file", "bin", "n")
    val coveredFiles = recorded.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    val need = dvFree.filterNot(coveredFiles) ++ entries.filter(dvd)
    val live =
      if (need.isEmpty) None
      else Some(histogramRows(spark, path, q, physicalize(schema, cmap),
        pc, need, lo, hi, bins, dv).select("file", "bin", "n"))
    live.fold(recorded)(recorded.unionByName(_))
      .where(col("bin").isNotNull) // all-NULL coverage sentinels carry no counts
      .groupBy("bin").agg(sum("n").as("n"))
      .select(col("bin"), lit(lo).as("lo"), lit(hi).as("hi"), col("n"))
  }

  /** Driver-side cardinality estimate for `column ∈ [lo, hi]` from the
    * RECORDED histogram family alone (r14) — the planning complement of
    * [[histogramSnapshot]], for sizing shuffles / choosing AQE hints /
    * feeding [[joinAdvice]]-style decisions: where that one live-scans
    * to stay exact, this one never touches a data byte and returns
    * None when it can't certify (no (`column`, `bins`) family,
    * incomplete file coverage, or any live file carrying a dv).
    *
    * Estimate: bins fully inside [lo, hi] count whole; the boundary
    * bins prorate linearly (uniform-within-bin assumption). The true
    * live-row count over the pinned range therefore lies within
    * [sum of fully-contained bins, sum of all intersecting bins] — the
    * CLAMPED-BIN bound: end bins may additionally hold out-of-range
    * mass clamped in by later appends (the X234 contract), which can
    * only over-estimate, never silently under-estimate a range that
    * excludes the end bins.
    */
  def estimateRows(spark: SparkSession, path: String, column: String,
                   lo: Double, hi: Double, bins: Int = 20,
                   upperBound: Boolean = false): Option[Double] = {
    require(lo <= hi, s"estimateRows($path): lo $lo > hi $hi")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = currentSnapshot(spark, path)
    if (v < 1) return None
    val m = readManifest(fs, path, v).getOrElse(return None)
    if (readDvState(m).exists(_.files.nonEmpty)) return None
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    if (!schema.fieldNames.contains(column)) return None
    val pc = physicalName(columnMapOf(m), column)
    val entries = normEntries(m, v)
    if (entries.isEmpty) return Some(0.0)
    val side = histogramsPath(path)
    if (snapshots(spark, side).isEmpty) return None
    import spark.implicits._
    val fam = readSnapshot(spark, side)
      .filter(col("column") === pc && col("bins") === bins)
      .join(broadcast(entries.toDF("file")), Seq("file"), "left_semi")
      .localCheckpoint(true) // consumed by the coverage probe AND the sums
    val edge = fam.select("lo", "hi").head(1).headOption.getOrElse(return None)
    val (blo, bhi) = (edge.getDouble(0), edge.getDouble(1))
    val coveredN = fam.select("file").distinct().count()
    if (coveredN != entries.size) return None
    val counts = fam.where(col("bin").isNotNull)
      .groupBy("bin").agg(sum("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val width = (bhi - blo) / bins
    val est = (0L until bins.toLong).map { b =>
      val n = counts.getOrElse(b, 0L)
      if (n == 0L) 0.0
      else if (width == 0.0) {
        // degenerate single-point range: all mass sits at blo
        if (lo <= blo && blo <= hi) n.toDouble else 0.0
      } else {
        val binLo = blo + b * width
        val binHi = blo + (b + 1) * width
        val overlap = math.min(hi, binHi) - math.max(lo, binLo)
        // upperBound (r16, the r15 ADVICE): any POSITIVE overlap counts
        // the bin whole — the clamped-bin interval's top end. Proration
        // (uniform-within-bin) can under-estimate a boundary bin by its
        // full mass when values concentrate inside the overlap, which
        // is exactly the guess a broadcast decision must never make.
        // non-empty intersection is overlap >= 0 (a point range inside
        // a bin, or a range touching a bin edge, has overlap exactly 0
        // but must still count its bin whole for a bound)
        if (upperBound) { if (overlap >= 0.0) n.toDouble else 0.0 }
        else n * math.min(1.0, math.max(0.0, overlap / width))
      }
    }.sum
    Some(est)
  }

  /** Maintenance for the ANALYZE side tables (X231/X234): rows for
    * files no longer live in the MAIN table's current snapshot are
    * inert (every read semi-joins the live entry list) but accumulate
    * forever under churn — compaction/OPTIMIZE replaces files, whose
    * old synopses then never match again. One full rewrite of each
    * side table keeps only live-file rows; side tables are
    * (files × k)-row small by construction, so this is the cheap tick
    * of the maintenance loop (run it after compactSnapshot/OPTIMIZE;
    * then re-[[analyzeSnapshot]]/[[analyzeHistogram]] to cover the
    * replacement files). Returns (synopsis rows dropped, histogram
    * rows dropped).
    */
  def compactAnalyzeSidecars(spark: SparkSession, path: String): (Long, Long) = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"compactAnalyzeSidecars($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"compactAnalyzeSidecars($path): v=$v has no readable manifest"))
    val live = broadcast(normEntries(m, v).toDF("file"))
    // r13 hardening (ADVICE): (a) a histogram family's pinned (lo, hi)
    // must SURVIVE the sweep even when every one of its file rows is
    // dead — otherwise the next analyzeHistogram silently re-pins from
    // current data and histograms across the sweep stop being
    // comparable despite the edges-pin-at-first-analyze contract. Each
    // rewrite therefore carries one sentinel EDGE ROW per (column,
    // bins) family (file = " edges", bin/n NULL — the all-NULL
    // sentinel shape; readers semi-join live files, so it is inert
    // everywhere except analyzeHistogram's edge lookup, which reads
    // lo/hi family-wide by design). (b) the rewrite rides the
    // optimistic commitSnapshot/expectedVersion path: a concurrent
    // analyze tick appending between our read and an unguarded
    // writeSnapshot would be silently discarded (coverage regressing
    // until re-analyzed); on SnapshotConflictException the sweep
    // re-reads and retries.
    def sweep(side: String, keepEdges: Boolean): Long = {
      var attempts = 0
      while (true) {
        val cur = currentSnapshot(spark, side)
        if (cur == 0L) return 0L
        val all = readSnapshot(spark, side, Some(cur))
          .localCheckpoint(true) // one read feeds dead-count, kept and the rewrite
        // dead = rows for files no longer live, edge sentinels excluded
        // — the rewrite trigger must not count its own edge rows as
        // dead or every sweep after the first would rewrite a clean
        // table forever
        val dead = all.filter(col("file") =!= " edges")
          .join(live, Seq("file"), "left_anti").count()
        if (dead == 0L) return 0L
        val liveRows = all.join(live, Seq("file"), "left_semi")
        val kept =
          if (!keepEdges) liveRows
          else liveRows.unionByName(all
            .select(col("column"), col("lo"), col("hi"), col("bins")).distinct()
            .select(lit(" edges").as("file"), col("column"), col("lo"),
              col("hi"), col("bins"), lit(null).cast("long").as("bin"),
              lit(null).cast("long").as("n")))
        try {
          commitSnapshot(kept, side, cur)
          return dead
        } catch {
          case _: SnapshotConflictException if attempts < 5 => attempts += 1
        }
      }
      0L
    }
    (sweep(synopsesPath(path), keepEdges = false),
      sweep(histogramsPath(path), keepEdges = true))
  }

  /** What [[maintainSnapshot]] should keep healthy — every knob maps
    * to one component tick, and every component already no-ops when
    * its surface is clean, so a policy can be maximal and cheap.
    */
  case class MaintenancePolicy(
      optimize: Boolean = true,
      targetFileBytes: Long = 128L << 20,
      minSmallFiles: Int = 2,
      clusterCols: Seq[String] = Seq.empty,
      analyzeColumns: Seq[String] = Seq.empty,
      analyzeK: Int = 256,
      histogramColumns: Seq[(String, Int)] = Seq.empty,
      retentionMaxAgeMs: Option[Long] = None,
      retentionKeepLast: Int = 2,
      // DV purge thresholds (r14 — the r13 verdict's composition gap:
      // every component existed but the tick never called
      // materializeDeletes, so a table taking regular dv-erases
      // accumulated `_dv` positions forever and every read paid a
      // growing anti-join). The tick purges when the manifest's dv
      // accounting crosses EITHER bound: total recorded positions ≥
      // dvPurgeMinPositions, or dv-touched live files ≥
      // dvPurgeMinFileFraction of the entry list. The decision reads
      // two manifest fields — zero data I/O below threshold, and no
      // dv state at all short-circuits before either test, so the
      // clean-tick poison pin holds. Set either knob to 0 to purge on
      // any dv at all; the defaults let small vectors ride (they are
      // cheap to apply at read) and purge before the anti-join build
      // side stops broadcasting.
      dvPurgeMinPositions: Long = 1L << 20,
      dvPurgeMinFileFraction: Double = 0.3)

  /** What one [[maintainSnapshot]] tick actually did. */
  case class MaintenanceReport(
      optimized: Option[(Long, Int)],
      dvPurged: Option[(Long, Int)],
      indexRefreshed: Option[Long],
      analyzed: Option[Long],
      histogramsAnalyzed: Map[String, Option[Long]],
      sidecarsSwept: (Long, Long),
      expired: Seq[Long])

  /** ONE MAINTENANCE ENTRYPOINT (r13): the tick a streaming-ingest
    * table's owner calls instead of five — composes, in dependency
    * order, OPTIMIZE (small-file bin-packing + optional Z-order) →
    * DV PURGE when the manifest's deletion-vector accounting crosses
    * the policy thresholds (r14 — [[materializeDeletes]]; bounded so a
    * dv-churned table's read-side anti-join stops growing) →
    * bloom-index refresh (only when an index is declared; seeding one
    * stays an explicit [[indexSnapshot]] decision) → ANALYZE ticks for
    * the policy's NDV columns and histogram families → the analyze
    * sidecar sweep (optimize/purge just killed the old files' rows) →
    * age-based retention (only when the policy sets an age). OPTIMIZE
    * runs FIRST so the index/synopsis ticks cover the files that will
    * actually live, and the purge precedes those same ticks for the
    * same reason. Every component is already incremental and
    * no-ops when clean — a clean table's tick reads manifests and
    * side tables, ZERO data bytes (spec-pinned with the poison pin) —
    * so running this on a schedule is safe at any frequency.
    */
  def maintainSnapshot(spark: SparkSession, path: String,
                       policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val optimized =
      if (!policy.optimize) None
      else optimizeSnapshot(spark, path, policy.targetFileBytes,
        policy.minSmallFiles, clusterCols = policy.clusterCols)
    // DV purge AFTER optimize (optimize carries dv state through; the
    // purge rewrite must not race it within the tick) and BEFORE the
    // index/analyze ticks, so the purge's fresh files get re-covered
    // by the SAME tick instead of decaying until the next one. The
    // threshold decision costs two manifest fields.
    val dvPurged = {
      val v = mainWriteBase(spark, path)
      val m = if (v >= 1) readManifest(fs, path, v) else None
      m.flatMap(readDvState).filter { s =>
        val positions = s.files.map(_._2).sum
        val nEntries = m.map(normEntries(_, v).size).getOrElse(0)
        val frac = if (nEntries == 0) 1.0 else s.files.size.toDouble / nEntries
        positions >= policy.dvPurgeMinPositions ||
          frac >= policy.dvPurgeMinFileFraction
      }.flatMap(_ => materializeDeletes(spark, path))
    }
    // refresh only an EXISTING index: whether a table wants one is a
    // schema-design decision, not a maintenance default
    val hasIndex = {
      val v = mainWriteBase(spark, path)
      v >= 1 && readManifest(fs, path, v).flatMap(readIdxState).isDefined
    }
    val indexRefreshed = if (hasIndex) refreshIndexSnapshot(spark, path) else None
    val analyzed =
      if (policy.analyzeColumns.isEmpty) None
      else analyzeSnapshot(spark, path, policy.analyzeColumns, policy.analyzeK)
    val hists = policy.histogramColumns.map { case (c, b) =>
      s"$c/$b" -> analyzeHistogram(spark, path, c, b)
    }.toMap
    val swept = compactAnalyzeSidecars(spark, path)
    val expired = policy.retentionMaxAgeMs
      .map(age => expireSnapshotsOlderThan(spark, path, age, policy.retentionKeepLast))
      .getOrElse(Seq.empty)
    MaintenanceReport(optimized, dvPurged, indexRefreshed, analyzed, hists, swept, expired)
  }

  /** FILE-GRAIN BLOOM INDEX (X193) — the Delta bloom-filter-index
    * shape: point-lookup file skipping for a column the clustering
    * does NOT cover. Min/max stats (X162) prune beautifully on the
    * z-ordered columns and not at all on a high-cardinality unordered
    * key (every file's [min,max] spans the domain); a per-file bloom
    * answers "could this file contain v?" regardless of layout.
    *
    * ZERO-REWRITE commit, the X189 pattern: one scan of the current
    * version computes each file's distinct set-bit positions (4
    * md5-lane bloom, X187's engine-portable contract: lane i = 32-bit
    * hex window i of md5(value-as-string) mod `mBits`), lands them as
    * a `_idx` parquet sidecar inside the new version's dir, and
    * carries every data file by reference. Index size per file is
    * `min(4·distinct values, mBits)` positions. [[readSnapshotPoint]]
    * consults the sidecar; appended or rewritten files fall outside
    * the recorded coverage and are KEPT by every probe (conservative
    * — reads stay correct, pruning just decays until the next
    * `indexSnapshot` refreshes it; no per-write maintenance, unlike
    * dv state). One index per table (a refresh replaces); dv-deleted
    * rows may contribute bits — a bloom over a superset only adds
    * false positives. Retention keeps the sidecar alive exactly as
    * long as a live manifest references it. Deliberately NOT a
    * reader feature: ignoring the index is correct, just slower.
    */
  def indexSnapshot(spark: SparkSession, path: String, column: String,
                    mBits: Long = 1L << 17,
                    orphanGraceMs: Long = 600000L): Long = {
    require(mBits > 0, s"mBits must be positive, got $mBits")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"indexSnapshot($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"indexSnapshot($path): v=$v has no readable manifest — the index record rides it"))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    require(schema.fieldNames.contains(column),
      s"indexSnapshot($path): column '$column' not in snapshot schema")
    val entries = normEntries(m, v)
    require(entries.nonEmpty, s"indexSnapshot($path): v=$v holds no files")
    val q = qualifiedRoot(fs, path)
    val cmap = columnMapOf(m)
    val scan = spark.read.schema(physicalize(schema, cmap))
      .parquet(entries.map(entryPath(path, _)): _*)
    val idxRows = scan
      .select(entryFormCol(q, stripSchemeCol(col("_metadata.file_path"))).as("file"),
        md5(col(physicalName(cmap, column)).cast("string")).as("h"))
      .where(col("h").isNotNull)
      .select(col("file"), explode(array((0 until 4).map(i =>
        conv(substring(col("h"), i * 8 + 1, 8), 16, 10).cast("long") % mBits): _*)).as("pos"))
      .distinct()
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging-$tag")
    idxRows.write.mode(SaveMode.ErrorIfExists).parquet(s"$staging/_idx")
    fs.create(new org.apache.hadoop.fs.Path(staging, "_partial"), true).close()
    val next = nextVersionAbove(spark, path, v)
    commitStagedVersion(spark, fs, path, staging, next,
      m.get("schema").toString, entries, Some((m, v)),
      op = "indexSnapshot", orphanGraceMs = orphanGraceMs,
      dv = readDvState(m),
      idx = Some(IdxState(column, mBits, s"v=$next/_idx", entries)))
    next
  }

  /** Incremental refresh of the [[indexSnapshot bloom index]] (X200):
    * coverage decays as appends and rewrites land files outside the
    * recorded set — a full re-index pays the whole table's bytes back
    * for every refresh tick, which defeats the point on an
    * append-dominated 100 TB table. This refresh PLANS FROM THE
    * SIDECAR instead: positions for still-live covered files are
    * carried from the recorded `_idx` rows (a semi-join against the
    * covered file list — the data files themselves are immutable, so
    * their bitsets cannot have changed), and ONLY the uncovered files
    * are scanned with the same md5-lane kernel under the SAME `mBits`
    * (probes stay consistent). The refresh tick costs the NEW files'
    * bytes plus a position-grain sidecar rewrite — the index analog of
    * the X180 maintenance loop. Positions for files no longer in the
    * entry list simply don't carry (their files are gone; a stale row
    * would be inert anyway, positions key on the file path). None (no
    * commit) when coverage is already complete; requires an existing
    * index ([[indexSnapshot]] seeds it and remains the full-rebuild
    * path, e.g. to change `mBits`).
    */
  def refreshIndexSnapshot(spark: SparkSession, path: String,
                           orphanGraceMs: Long = 600000L): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"refreshIndexSnapshot($path): no committed snapshot")
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"refreshIndexSnapshot($path): v=$v has no readable manifest"))
    val s0 = readIdxState(m).getOrElse(sys.error(
      s"refreshIndexSnapshot($path): no index on v=$v — seed one with indexSnapshot"))
    val entries = normEntries(m, v)
    val covered = s0.files.toSet intersect entries.toSet
    val newFiles = entries.filterNot(covered)
    if (newFiles.isEmpty) return None // every entry covered
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schema").toString).asInstanceOf[StructType]
    val cmap = columnMapOf(m)
    val q = qualifiedRoot(fs, path)
    import spark.implicits._
    val carried = spark.read.schema(dvRowSchema).parquet(entryPath(path, s0.ref))
      .join(broadcast(covered.toSeq.toDF("file")), Seq("file"), "left_semi")
    val freshRows =
      if (newFiles.isEmpty) None
      else Some(spark.read.schema(physicalize(schema, cmap))
        .parquet(newFiles.map(entryPath(path, _)): _*)
        .select(entryFormCol(q, stripSchemeCol(col("_metadata.file_path"))).as("file"),
          md5(col(physicalName(cmap, s0.column)).cast("string")).as("h"))
        .where(col("h").isNotNull)
        .select(col("file"), explode(array((0 until 4).map(i =>
          conv(substring(col("h"), i * 8 + 1, 8), 16, 10).cast("long") % s0.bits): _*)).as("pos"))
        .distinct())
    val idxRows = freshRows.fold(carried)(carried.unionByName(_))
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging-$tag")
    idxRows.write.mode(SaveMode.ErrorIfExists).parquet(s"$staging/_idx")
    fs.create(new org.apache.hadoop.fs.Path(staging, "_partial"), true).close()
    val next = nextVersionAbove(spark, path, v)
    commitStagedVersion(spark, fs, path, staging, next,
      m.get("schema").toString, entries, Some((m, v)),
      op = "refreshIndexSnapshot", orphanGraceMs = orphanGraceMs,
      dv = readDvState(m),
      idx = Some(IdxState(s0.column, s0.bits, s"v=$next/_idx", entries)))
    Some(next)
  }

  /** Point lookup through the [[indexSnapshot bloom index]]: files
    * whose bloom rules `value` out are skipped DRIVER-side before any
    * data file opens; uncovered files (no index, later appends,
    * rewrites) and bloom false positives are read and resolved by the
    * residual filter — result ALWAYS ≡
    * `readSnapshot(...).filter(col(column) === value)` (the index is
    * an optimization, never a correctness gate, like every pruning in
    * this store). Composes with deletion vectors (the surviving files
    * read dv-aware). On an unindexed table or a different column this
    * IS the plain filtered read.
    */
  def readSnapshotPoint(spark: SparkSession, path: String, column: String,
                        value: Any, version: Option[Long] = None): DataFrame = {
    val v = resolveVersion(spark, path, version)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, path, v) match {
      case Some(m) =>
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(m.get("schema").toString).asInstanceOf[StructType]
        require(schema.fieldNames.contains(column),
          s"readSnapshotPoint($path): column '$column' not in snapshot schema")
        val entries = normEntries(m, v)
        val files = readIdxState(m).filter(_.column == column) match {
          case None => entries
          case Some(s) =>
            val covered = s.files.toSet intersect entries.toSet
            // the probe's 4 lane positions, driver-side, under the
            // identical md5 contract the index was built with — the
            // string form must be SPARK'S cast of the value, not
            // String.valueOf (review r11: Timestamp.toString keeps a
            // fractional digit Spark's cast drops; a diverging
            // representation would prune files that contain the value)
            // r17 session 2 (guide §5 — the driver runs a JOB per
            // lookup here): for integral/string/boolean probes Spark's
            // cast-to-string IS the JVM toString, so the probe string
            // resolves driver-side with no job. Fractional, temporal
            // and decimal values keep the Spark-cast job — their
            // rendered forms are engine-formatted (review r11: a
            // diverging representation would prune files that contain
            // the value).
            val probeStr = value match {
              case null => null
              case s: String => s
              case _: java.lang.Long | _: java.lang.Integer |
                   _: java.lang.Short | _: java.lang.Byte |
                   _: java.lang.Boolean => value.toString
              case _ => spark.range(1)
                .select(lit(value).cast("string")).collect()(0).getString(0)
            }
            if (probeStr == null)
              return dvPlannedRead(spark, path, m, schema, entries)
                .filter(col(column) === lit(value))
            val md = java.security.MessageDigest.getInstance("MD5")
            val hex = md.digest(probeStr.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            val probes = (0 until 4)
              .map(i => java.lang.Long.parseLong(hex.substring(i * 8, i * 8 + 8), 16) % s.bits)
              .distinct
            // r17 session 2: the per-file probe-hit count groups
            // DRIVER-side — the pos.isin pushdown leaves at most one
            // row per (file, probe position), i.e. <= 4 rows per
            // covered file (positions are distinct per file by the
            // build's distinct), a list the driver already holds at
            // entry grain. Collecting rows instead of a grouped frame
            // drops the probe's exchange+aggregate stage; same answer.
            val keep: Set[String] = spark.read.schema(dvRowSchema)
              .parquet(entryPath(path, s.ref))
              .where(col("pos").isin(probes: _*))
              .select(col("file"), col("pos"))
              .collect()
              .groupBy(_.getString(0))
              .collect { case (f, rs)
                if rs.map(_.getLong(1)).distinct.length == probes.size => f }
              .toSet
            entries.filter(e => !covered(e) || keep(e))
        }
        dvPlannedRead(spark, path, m, schema, files)
          .filter(col(column) === lit(value))
      case None =>
        val df = readSnapshot(spark, path, Some(v))
        df.filter(col(column) === lit(value))
    }
  }

  // ---------------------------------------------------------------------------
  // Change data feed (X172) — Delta-CDF shape: writes made with
  // `changeFeed = true` PERSIST their row-level changes next to the
  // commit, under `_cdf/v=<n>`, as table rows plus `_change_type`
  // ('insert' | 'update' | 'delete' — [[diffFrames]]' vocabulary, so
  // [[applyChangeFeed]] consumes the recorded feed directly) and
  // `_commit_version`. Recording costs only what changed: an append
  // records its batch, a deleteWhere/updateWhere scans its TOUCHED
  // files once more — never the table. Contrast [[snapshotDiff]],
  // which RECONSTRUCTS a feed after the fact by diffing two versions:
  // the recorded feed is the push model a 100 TB downstream replica
  // tails continuously, the diff is the pull-model backfill for
  // commits that didn't record (they compose: gaps in the recording
  // are exactly the versions [[changeFeedVersions]] omits).
  //
  // Durability contract: the feed is staged before the version's CAS
  // claim and unwound with the version on every failure path, so a
  // recorded feed never describes a version that doesn't exist. The
  // converse crash window (version promoted, feed rename lost) is one
  // rename wide; consumers needing completeness treat a missing
  // version in [[changeFeedVersions]] as a [[snapshotDiff]] backfill.
  // ---------------------------------------------------------------------------

  private def cdfDir(path: String, v: Long) =
    new org.apache.hadoop.fs.Path(s"$path/_cdf/v=$v")

  /** Versions with recorded change files, ascending. */
  def changeFeedVersions(spark: SparkSession, path: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/_cdf")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.matches("v=\\d+")).map(_.drop(2).toLong).sorted
  }

  /** The recorded change rows for commits `fromVersion..toVersion`
    * (inclusive): table columns + `_change_type` + `_commit_version`.
    * Only RECORDED versions are read ([[changeFeedVersions]]); by
    * default the range must be fully recorded — `allowGaps = true`
    * opts into partial coverage (the caller backfills the gaps via
    * [[snapshotDiff]]). Feed-apply law, spec-pinned: for a recorded
    * commit `n`, `applyChangeFeed(readSnapshot(n-1),
    * readChangeFeed(n, n)) ≡ readSnapshot(n)` on keyed tables.
    */
  def readChangeFeed(spark: SparkSession, path: String, fromVersion: Long,
                     toVersion: Long, allowGaps: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"readChangeFeed($path): empty range $fromVersion..$toVersion")
    val recorded = changeFeedVersions(spark, path)
      .filter(v => v >= fromVersion && v <= toVersion)
    val missing = (fromVersion to toVersion).filterNot(recorded.contains)
    require(allowGaps || missing.isEmpty,
      s"readChangeFeed($path): no recorded changes for version(s) " +
        s"${missing.mkString(", ")} — commit with changeFeed = true, backfill via " +
        "snapshotDiff, or pass allowGaps = true")
    require(recorded.nonEmpty,
      s"readChangeFeed($path): nothing recorded in $fromVersion..$toVersion")
    // schema-era bridging (X202): each recorded feed carries its
    // COMMIT-TIME column names, so a range spanning a rename holds
    // files with different schemas — and a naive multi-path read
    // would infer ONE schema and silently NULL the renamed column in
    // every other era (worse than failing). Detect eras from the
    // versions' manifests (driver-side, zero data I/O); a single era
    // reads exactly as before, a multi-era range reads each era with
    // its own explicit schema and bridges into the LAST era's logical
    // names through the frozen physical names (X201's rule: renamed
    // columns bridge, later-added columns read NULL in older feeds,
    // dropped columns leave the feed).
    def eraOf(m: com.fasterxml.jackson.databind.JsonNode): (StructType, Map[String, String]) =
      (org.apache.spark.sql.types.DataType
        .fromJson(m.get("schema").toString).asInstanceOf[StructType], columnMapOf(m))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val eras = recorded.map(v => readManifest(fs, path, v).map(eraOf))
    val distinctEras = eras.flatten.map { case (s, cm) => (s.json, cm) }.distinct
    // ordering matters (review r11): the fast path may only fire when
    // EVERY manifest is readable (or there is a single version) — a
    // rotted old-era manifest must not let a spanning range slip onto
    // the naive read and silently NULL the renamed column. With
    // missing manifests the feed FILES' own schemas decide: all equal
    // → one schema, the naive read is safe; unequal → refuse loudly.
    if (recorded.size == 1 ||
        (eras.forall(_.isDefined) && distinctEras.size <= 1))
      return spark.read.parquet(recorded.map(v => cdfDir(path, v).toString): _*)
    if (!eras.forall(_.isDefined)) {
      val fileSchemas = recorded
        .map(v => spark.read.parquet(cdfDir(path, v).toString).schema.json).distinct
      require(fileSchemas.size == 1,
        s"readChangeFeed($path): $fromVersion..$toVersion spans a schema change but " +
          "some version's manifest is unreadable — the era bridge needs every manifest; " +
          "replay per schema era, or pull via snapshotDiff")
      return spark.read.parquet(recorded.map(v => cdfDir(path, v).toString): _*)
    }
    val (toSchema, toMap) = readManifest(fs, path, toVersion).map(eraOf)
      .getOrElse(eras.last.get)
    recorded.zip(eras.map(_.get))
      .groupBy { case (_, (s, cm)) => (s.json, cm) }.toSeq
      .map { case (_, group) =>
        val (fromSchema, fromMap) = group.head._2
        val feedSchema = fromSchema
          .add("_change_type", org.apache.spark.sql.types.StringType)
          .add("_commit_version", org.apache.spark.sql.types.LongType)
        val df = spark.read.schema(feedSchema)
          .parquet(group.map(g => cdfDir(path, g._1).toString): _*)
        val physToLogicalFrom = physToLogical(fromSchema, fromMap)
        df.select(toSchema.fields.map { f =>
          physToLogicalFrom.get(physicalName(toMap, f.name)) match {
            case Some(old) => col(old).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }.toIndexedSeq ++ Seq(col("_change_type"), col("_commit_version")): _*)
      }.reduce(_ unionByName _)
  }

  /** The change feed as a Structured Streaming SOURCE — the
    * continuous-consumption twin of [[readChangeFeed]], and the CDC
    * counterpart of [[readSnapshotStream]] (which tails ROWS of an
    * append-only history; this tails CHANGES of any recorded history,
    * deletes and updates included). Same construction and the same
    * exactly-once/restart contract: the parquet file source over
    * `_cdf/v=*`, new commit = new files, offsets in the stream
    * checkpoint. Feed a downstream replica by applying each
    * micro-batch with [[applyChangeFeed]] in `foreachBatch`.
    *
    * Schema-era GATE (r12, closes the stream-side half of X202): the
    * stream pins the CURRENT schema at call time, and the parquet
    * file source cannot bridge per-file — a feed file recorded before
    * a column RENAME carries the old name, so the pinned read would
    * deliver that column as all-NULL to a continuous CDC consumer:
    * silently wrong rows, the exact hazard the batch
    * [[readChangeFeed]] era-bridges. So stream CONSTRUCTION resolves
    * every recorded feed version's schema era from its manifest
    * (driver-side, zero data I/O — the X202 machinery) and REFUSES
    * loudly when any feed's era would misread under the pinned
    * schema: a renamed column (current physical name lives under a
    * different logical name in that era) or a retyped one. Eras that
    * differ only bridgeably are NOT refused — a column added after an
    * old feed reads NULL there (the bridge's own answer) and a
    * dropped column is simply ignored by the pinned schema. Versions
    * with unreadable manifests fall back to the feed FILES' own
    * schemas under a stricter rule (same names ∧ same types or
    * refusal — without the column map, a rename is indistinguishable
    * from a drop+add). Catch up across a refused backlog with the
    * batch [[readChangeFeed]], then start the stream's checkpoint at
    * the post-change versions. A rename committed AFTER the stream
    * starts is out of this gate's reach (the source is already
    * running) — restart the stream to re-gate, which the refusal
    * message of the next cold start enforces.
    */
  def readChangeFeedStream(spark: SparkSession, path: String,
                           maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val base = readSnapshot(spark, path).schema
    val recorded = changeFeedVersions(spark, path)
    if (recorded.nonEmpty) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val curMap = readManifest(fs, path, resolveVersion(spark, path, None))
        .map(columnMapOf).getOrElse(Map.empty)
      def eraOf(m: com.fasterxml.jackson.databind.JsonNode): (StructType, Map[String, String]) =
        (org.apache.spark.sql.types.DataType
          .fromJson(m.get("schema").toString).asInstanceOf[StructType], columnMapOf(m))
      val offEra = recorded.filter { v =>
        readManifest(fs, path, v).map(eraOf) match {
          case Some((fromSchema, fromMap)) =>
            val physToLogicalFrom = physToLogical(fromSchema, fromMap)
            base.fields.exists { f =>
              physToLogicalFrom.get(physicalName(curMap, f.name)) match {
                case Some(old) =>
                  old != f.name || fromSchema(old).dataType != f.dataType
                case None => false // added after this era: NULL is the bridge's answer too
              }
            }
          case None =>
            // no manifest: the feed files' own schema decides, strictly
            val fileFields = spark.read.parquet(cdfDir(path, v).toString).schema.fields
              .filterNot(f => f.name == "_change_type" || f.name == "_commit_version")
              .map(f => f.name -> f.dataType).toMap
            fileFields.exists { case (n, dt) =>
              !base.fieldNames.contains(n) || base(n).dataType != dt
            }
        }
      }
      require(offEra.isEmpty,
        s"readChangeFeedStream($path): recorded feed version(s) ${offEra.mkString(", ")} " +
          "were committed under an earlier schema era that the stream's pinned schema " +
          "would misread (a renamed column reads as all-NULL through a parquet file " +
          "source — it cannot bridge per-file). Catch up across the schema change with " +
          "the batch readChangeFeed (which bridges eras), then start the stream's " +
          "checkpoint at the post-change versions.")
    }
    val schema = base
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", org.apache.spark.sql.types.LongType)
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toString))
      .parquet(s"$path/_cdf/v=*/part-*")
  }

  /** O(1) global MIN/MAX from the manifest (X203) — the
    * aggregate-pushdown answer: `SELECT min(c), max(c)` over a 100 TB
    * table costs ZERO data I/O when every file's committed stats can
    * answer truthfully, and a scan of ONLY the files that can't
    * otherwise. Returns a one-row frame `(mn, mx)` in the column's
    * type, always ≡ `readSnapshot(…).agg(min, max)`.
    *
    * A file answers from stats only when ALL of: its stats carry the
    * column (a file whose column is all-NULL records none — it cannot
    * hold the extremum, but neither can we distinguish it from a
    * stats-less footer, so it scans); the column's type is in the
    * EXACT-safe set (integers, floating point, DATE — timestamp stats
    * ceil their NANOS max for pruning safety and string stats may be
    * writer-truncated, so both always scan rather than risk an
    * off-by-one answer); and the file carries no deletion-vector
    * positions (a dv'd row may BE the recorded extremum — those files
    * re-scan dv-aware, the file-grain price of merge-on-read). The
    * zero-I/O path is spec-pinned on the executed plan (no parquet
    * scan at all); stats live under physical names, so renames
    * compose.
    */
  def snapshotExtremes(spark: SparkSession, path: String, column: String,
                       version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val v = resolveVersion(spark, path, version)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def full(): DataFrame = readSnapshot(spark, path, Some(v))
      .agg(min(col(column)).as("mn"), max(col(column)).as("mx"))
    readManifest(fs, path, v) match {
      case None => full()
      case Some(m) =>
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(m.get("schema").toString).asInstanceOf[StructType]
        require(schema.fieldNames.contains(column),
          s"snapshotExtremes($path): column '$column' not in snapshot schema")
        val dt = schema(column).dataType
        val exactSafe = dt match {
          case LongType | IntegerType | ShortType | ByteType |
               DoubleType | FloatType | DateType => true
          case _ => false
        }
        if (!exactSafe) return full()
        val entries = normEntries(m, v)
        if (entries.isEmpty) return full()
        val phys = physicalName(columnMapOf(m), column)
        val stats = Option(m.get("stats"))
        val dvd = readDvState(m).map(_.fileSet).getOrElse(Set.empty)
        val statOf: Int => Option[com.fasterxml.jackson.databind.JsonNode] =
          i => stats.flatMap(s => Option(s.get(i))).flatMap(n => Option(n.get(phys)))
        val (statIdx, scanIdx) = entries.indices.partition(i =>
          !dvd(entries(i)) && statOf(i).isDefined)
        // driver-side fold of the answering files' extremes
        val folded: Option[(Either[BigDecimal, String], Either[BigDecimal, String])] =
          statIdx.map(statOf(_).get)
            .map(n => (jsonComparable(n.get("min")), jsonComparable(n.get("max"))))
            .reduceOption { (a, b) =>
              (if (cmpComparable(a._1, b._1) <= 0) a._1 else b._1,
                if (cmpComparable(a._2, b._2) >= 0) a._2 else b._2)
            }
        // stats for a whitelisted type must be numeric JSON; anything
        // else (forged/legacy manifest) falls back to the full scan
        if (folded.exists(p => p._1.isRight || p._2.isRight)) return full()
        // the folded pair lifted back into the column's type: stats
        // store integral families as long, floats as double, DATE as
        // epoch-day (see footerInfo) — exact round trips by whitelist
        val statRow: Option[DataFrame] = folded.collect { case (Left(a), Left(b)) =>
          dt match {
            case DoubleType | FloatType =>
              spark.createDataFrame(Seq((a.toDouble, b.toDouble))).toDF("mn", "mx")
                .select(col("mn").cast(dt).as("mn"), col("mx").cast(dt).as("mx"))
            case DateType =>
              spark.createDataFrame(Seq((a.toLongExact, b.toLongExact))).toDF("mn", "mx")
                .select(date_from_unix_date(col("mn").cast("int")).as("mn"),
                  date_from_unix_date(col("mx").cast("int")).as("mx"))
            case _ =>
              spark.createDataFrame(Seq((a.toLongExact, b.toLongExact))).toDF("mn", "mx")
                .select(col("mn").cast(dt).as("mn"), col("mx").cast(dt).as("mx"))
          }
        }
        val scanRow: Option[DataFrame] =
          if (scanIdx.isEmpty) None
          else Some(dvPlannedRead(spark, path, m, schema, scanIdx.map(entries))
            .agg(min(col(column)).as("mn"), max(col(column)).as("mx")))
        (statRow, scanRow) match {
          case (Some(s), Some(r)) =>
            s.unionAll(r).agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"))
          case (Some(s), None) => s
          case (None, Some(r)) => r
          case (None, None) => full()
        }
    }
  }

  /** Export the Delta `symlink_format_manifest` analog (X206): one
    * plain-text file listing the version's ABSOLUTE data-file paths,
    * so an external engine that only speaks parquet (DuckDB, Trino,
    * Hive, Athena) reads the committed snapshot without understanding
    * the layout — `read_parquet(<the listed files>)` IS the pinned
    * version, stray files and other versions invisible. Lands under
    * `_symlink/v=<n>/manifest.txt` (tmp+rename), beside a
    * `schema.json` sidecar carrying the logical schema and the column
    * map (X195) — a mapped table's files hold PHYSICAL names, and the
    * sidecar is what lets the consumer alias back; re-export after new
    * commits (the export names one immutable version, it does not
    * follow the pointer). REFUSES a version with live deletion
    * vectors: an external reader would resurrect the deleted rows —
    * [[materializeDeletes]] first, then export.
    */
  def exportSymlinkManifest(spark: SparkSession, path: String,
                            version: Option[Long] = None): String = {
    val v = resolveVersion(spark, path, version)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = readManifest(fs, path, v).getOrElse(sys.error(
      s"exportSymlinkManifest($path): v=$v has no readable manifest"))
    require(readDvState(m).isEmpty,
      s"exportSymlinkManifest($path): v=$v carries live deletion vectors — an " +
        "external parquet reader would resurrect deleted rows; run " +
        "materializeDeletes first")
    val entries = normEntries(m, v)
    val q = qualifiedRoot(fs, path)
    val lines = entries.map(e => fs.makeQualified(
      new org.apache.hadoop.fs.Path(entryPath(path, e))).toString).sorted
    val dir = new org.apache.hadoop.fs.Path(s"$path/_symlink/v=$v")
    fs.mkdirs(dir)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    def publish(name: String, bytes: Array[Byte]): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(dir, s".tmp-$tag-$name")
      val out = fs.create(tmp, true)
      out.write(bytes); out.close()
      overwriteRename(fs, tmp, new org.apache.hadoop.fs.Path(dir, name),
        s"cannot publish symlink manifest for v=$v under $path")
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val side = mapper.createObjectNode()
    side.put("version", v)
    side.set[com.fasterxml.jackson.databind.JsonNode]("schema",
      mapper.readTree(m.get("schema").toString))
    val cmap = columnMapOf(m)
    if (cmap.nonEmpty) {
      val cm = side.putObject("columnMap")
      cmap.toSeq.sortBy(_._1).foreach { case (l, p) => cm.put(l, p) }
    }
    publish("schema.json", mapper.writeValueAsBytes(side))
    publish("manifest.txt", (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    s"$path/_symlink/v=$v/manifest.txt"
  }

  /** Manifest-stats-pruned snapshot read — the Delta/Iceberg
    * data-skipping shape: `path` at `version`, filtered to
    * `lower ≤ column ≤ upper` (either bound optional), planning ONLY
    * the files whose committed per-file min/max can overlap the bound.
    * The decision is driver-side against the manifest — zero file I/O
    * for skipped files, which at 100 TB turns a date-ranged read into
    * a scan of the handful of files whose ranges intersect. Files
    * without usable stats for `column` (pre-stats manifests,
    * unsupported types, non-ASCII string bounds) are KEPT — pruning is
    * an optimization, never a correctness gate — and the residual
    * predicate is applied either way, so the result is always exactly
    * `readSnapshot(…).filter(bounds)`. Bounds take natural Scala
    * values per the column's type: numbers, String, java.sql.Date /
    * LocalDate / "yyyy-MM-dd" for DATE, java.sql.Timestamp / Instant
    * for TIMESTAMP.
    */
  def readSnapshotRange(spark: SparkSession, path: String, column: String,
                        lower: Option[Any] = None, upper: Option[Any] = None,
                        version: Option[Long] = None): DataFrame =
    readSnapshotWhere(spark, path, Seq((column, lower, upper)), version)

  /** Pruned read of a SET of integer key values (r15): collapses the
    * sorted distinct ids into contiguous [lo, hi] runs and unions one
    * [[readSnapshotRange]] per run — the shared probe shape of every
    * persisted index (IVF cells, shingle buckets, token buckets): file
    * planning stays one manifest pass per run, contiguous probes read
    * as one pruned range, and — because runs merge only CONSECUTIVE
    * ids — every value inside a run is a requested id, so the result
    * ≡ `readSnapshot(…).filter(col(column).isin(ids…))` exactly.
    * `ids` must be non-empty. The version is resolved ONCE and pinned
    * across every run (r15 review): per-run resolution would let a
    * concurrent commit land between two runs' reads and silently mix
    * two versions' rows into one "snapshot" — exactly the torn read
    * the snapshot model exists to prevent.
    */
  def readSnapshotRuns(spark: SparkSession, path: String, column: String,
                       ids: Seq[Int], version: Option[Long] = None): DataFrame = {
    require(ids.nonEmpty, s"readSnapshotRuns($path): empty id set")
    val v = version.getOrElse(resolveVersion(spark, path, None))
    val runs = ids.distinct.sorted.foldLeft(List.empty[(Int, Int)]) {
      case ((lo, hi) :: rest, c) if c == hi + 1 => (lo, c) :: rest
      case (acc, c) => (c, c) :: acc
    }.reverse
    // ONE plan, not one per run (r16 — measured on the indexed-BM25
    // probe at sf0.1: a 7-bucket probe as 7 unioned range reads paid 7
    // separate scan setups PER CONSUMER, costing as much as the corpus
    // scan the index exists to remove): the manifest is read once, a
    // file survives if its stats overlap ANY run, and the residual
    // predicate is the OR of the runs' BETWEENs over one scan relation
    // — parquet-pushable, row-group skipping intact. Equivalence is
    // unchanged: runs merge only consecutive ids, so the OR of ranges
    // IS the isin filter.
    def residual(df: DataFrame): DataFrame =
      df.filter(runs.map { case (lo, hi) =>
        col(column) >= lo && col(column) <= hi }.reduce(_ || _))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, path, v) match {
      case Some(m) =>
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(m.get("schema").toString).asInstanceOf[StructType]
        require(schema.fieldNames.contains(column),
          s"readSnapshotRuns($path): column '$column' not in snapshot schema")
        val entries = normEntries(m, v)
        val keep = runs
          .map { case (lo, hi) =>
            statsOverlap(m, schema, column, Some(lo), Some(hi)).toSet }
          .reduce(_ union _)
        residual(dvPlannedRead(spark, path, m, schema,
          entries.indices.filter(keep).map(entries)))
      case None =>
        residual(readSnapshot(spark, path, Some(v)))
    }
  }

  /** [[readSnapshotRange]] over a CONJUNCTION of column ranges: the
    * file list is pruned by the INTERSECTION of each range's
    * stats-overlap set — on a [[graft.ops.Layout.zorder]]-clustered
    * table, where every clustered column's per-file min/max is tight,
    * a 2-D box read (`date` × `key`) opens only the files whose
    * hyper-rectangle intersects the box, which is exactly what the
    * Morton layout was bought for. Same contract as the single-column
    * form: pruning is never a correctness gate, residual predicates
    * always apply, result ≡ `readSnapshot(…).filter(every bound)`.
    */
  def readSnapshotWhere(spark: SparkSession, path: String,
                        ranges: Seq[(String, Option[Any], Option[Any])],
                        version: Option[Long] = None): DataFrame = {
    require(ranges.nonEmpty, "readSnapshotWhere needs at least one column range")
    val v = resolveVersion(spark, path, version)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bounds(df: DataFrame, schema: StructType): DataFrame = {
      val preds = ranges.flatMap { case (column, lower, upper) =>
        val dt = schema(column).dataType
        def boundLit(x: Any): Column = x match {
          case s: String if dt == org.apache.spark.sql.types.DateType =>
            lit(java.sql.Date.valueOf(s))
          case s: String if dt == org.apache.spark.sql.types.TimestampType =>
            lit(parseSessionInstant(s))
          case d: java.time.LocalDate => lit(java.sql.Date.valueOf(d))
          case other => lit(other)
        }
        lower.map(l => col(column) >= boundLit(l)) ++
          upper.map(u => col(column) <= boundLit(u))
      }
      preds.reduceOption(_ && _).fold(df)(df.filter)
    }
    readManifest(fs, path, v) match {
      case Some(m) =>
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(m.get("schema").toString).asInstanceOf[StructType]
        ranges.foreach { case (column, _, _) =>
          require(schema.fieldNames.contains(column),
            s"readSnapshotWhere($path): column '$column' not in snapshot schema")
        }
        val entries = normEntries(m, v)
        val keep = ranges
          .map { case (c, lo, hi) => statsOverlap(m, schema, c, lo, hi).toSet }
          .reduce(_ intersect _)
        // dv-aware (X189): the surviving files read through the same
        // deletion-vector subtraction as readSnapshot — stats stay
        // valid bounds on a dv'd file (a superset's min/max), so
        // pruning composes with merge-on-read unchanged
        bounds(dvPlannedRead(spark, path, m, schema,
          entries.indices.filter(keep).map(entries)), schema)
      case None =>
        val df = readSnapshot(spark, path, Some(v))
        bounds(df, df.schema)
    }
  }

  /** Indices of the manifest's file entries whose recorded stats for
    * `column` can overlap `[lower, upper]` — the shared data-skipping
    * decision of [[readSnapshotRange]] and [[deleteWhere]]'s
    * `scanBound`. Files without usable stats for the column are KEPT
    * (pruning is an optimization, never a correctness gate); a kind
    * mismatch in the comparable space compares equal → conservatively
    * kept.
    */
  private def statsOverlap(m: com.fasterxml.jackson.databind.JsonNode,
                           schema: StructType, column: String,
                           lower: Option[Any], upper: Option[Any]): Seq[Int] = {
    require(schema.fieldNames.contains(column),
      s"statsOverlap: column '$column' not in snapshot schema")
    val dt = schema(column).dataType
    val lo = lower.map(statComparable(_, dt))
    val hi = upper.map(statComparable(_, dt))
    val entries = manifestEntries(m)
    val stats = Option(m.get("stats"))
    // footer stats live under the files' PHYSICAL column name (X195)
    val phys = physicalName(columnMapOf(m), column)
    entries.indices.filter { i =>
      stats.flatMap(s => Option(s.get(i))).flatMap(n => Option(n.get(phys))) match {
        case Some(st) =>
          val mn = jsonComparable(st.get("min"))
          val mx = jsonComparable(st.get("max"))
          hi.forall(h => cmpComparable(mn, h) <= 0) &&
            lo.forall(l => cmpComparable(mx, l) >= 0)
        case None => true
      }
    }
  }

  /** A bound value lowered into the manifest-stats comparable space
    * (numbers as BigDecimal, text as String) according to the COLUMN's
    * Spark type — DATE stats are epoch-day longs, TIMESTAMP stats are
    * epoch-micros longs (parquet physical values; see [[footerInfo]]).
    */
  private def statComparable(x: Any,
                             dt: org.apache.spark.sql.types.DataType): Either[BigDecimal, String] = {
    import org.apache.spark.sql.types._
    dt match {
      case DateType => Left(BigDecimal(x match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay
        case d: java.time.LocalDate => d.toEpochDay
        case s: String => java.time.LocalDate.parse(s).toEpochDay
        case other => sys.error(s"unsupported DATE bound: $other")
      }))
      case TimestampType => Left(BigDecimal(x match {
        case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
        case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
        case s: String =>
          val i = parseSessionInstant(s)
          i.getEpochSecond * 1000000L + i.getNano / 1000
        case other => sys.error(s"unsupported TIMESTAMP bound: $other")
      }))
      case TimestampNTZType => Left(BigDecimal(x match {
        case d: java.time.LocalDateTime =>
          d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000
        case other => sys.error(s"unsupported TIMESTAMP_NTZ bound: $other")
      }))
      case StringType => Right(x.toString)
      case _ => Left(BigDecimal(x.toString))
    }
  }

  /** A wall-clock string (`yyyy-MM-dd[ HH:mm:ss[.fff]]`) as an
    * instant in the SESSION timezone — the rule every SQL-facing
    * timestamp argument shares, so a string bound and a `TIMESTAMP`
    * literal of the same wall-clock time always name the same
    * instant (review r11: `Timestamp.valueOf` reads the JVM default
    * zone, which can disagree with `spark.sql.session.timeZone`).
    */
  private[graft] def parseSessionInstant(s: String): java.time.Instant = {
    val zone = java.time.ZoneId.of(org.apache.spark.sql.SparkSession.active
      .sessionState.conf.sessionLocalTimeZone)
    val t = s.trim.replace(' ', 'T')
    val ldt =
      if (t.contains("T")) java.time.LocalDateTime.parse(t)
      else java.time.LocalDate.parse(t).atStartOfDay()
    ldt.atZone(zone).toInstant
  }

  private def jsonComparable(n: com.fasterxml.jackson.databind.JsonNode): Either[BigDecimal, String] =
    if (n.isNumber) Left(BigDecimal(n.decimalValue)) else Right(n.asText)

  private def cmpComparable(a: Either[BigDecimal, String],
                            b: Either[BigDecimal, String]): Int = (a, b) match {
    case (Left(x), Left(y)) => x.compare(y)
    case (Right(x), Right(y)) => x.compareTo(y)
    case _ => 0
  }

  /** Date-partitioned warehouse layout (`path/date=YYYY-MM-DD/…`) —
    * the 100 TB form: scans with a date predicate prune to the
    * matching directories (PartitionFilters, no file I/O elsewhere).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)
    // a full overwrite may change the table's schema; `overwritePartitions`
    // below deliberately does NOT invalidate — it is schema-preserving by
    // contract and sits on the per-micro-batch streaming hot path, where
    // the cache exists precisely to skip per-batch footer re-inference
    SchemaCache.invalidate(path)
  }

  /** Incremental keyed rewrite: replaces ONLY the partitions present
    * in `df` (dynamic partition overwrite), leaving all other
    * partitions untouched — the scalable form of the reference's
    * per-day upsert (dag_btc_daily.py:219-230): a day's restatement
    * rewrites that day's directory, never the table.
    *
    * `tasksPerPartition` bounds write parallelism per distinct
    * partition value: 1 (default) co-locates each partition's rows in
    * one task → one file per touched dir (right for aggregate-table
    * sized restatements; without any repartition every task sprinkles
    * rows into every `date=` dir — tasks×dirs tiny files, measured 140
    * for 30 dates). For a LARGE or skewed partition, set it so each
    * task's slice fits executor memory — the salt keeps k tasks per
    * dir instead of funneling a hot date through one task.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String],
                          tasksPerPartition: Int = 1): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // salt only when spreading a partition over >1 task: with k=1 the
    // pmod is always 0 but would still hash every column of every row
    // on the write path (and xxhash64 rejects un-hashable types like
    // MapType that a plain repartition handles fine)
    val colocated =
      if (tasksPerPartition <= 1) df.repartition(partitionCols.map(col): _*)
      else {
        val salt = pmod(xxhash64(df.columns.map(col): _*), lit(tasksPerPartition))
        df.repartition(partitionCols.map(col) :+ salt: _*)
      }
    try colocated.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Partition-pruned read: `path` filtered to the given `values` of
    * the partition column, with literals cast to the DISCOVERED
    * partition type so the predicate is guaranteed to land in
    * PartitionFilters. (Comparing through a cast on the COLUMN side —
    * e.g. string literals against an inferred DATE partition column —
    * silently defeats pruning and rescans the whole table; so can a
    * join-based semi-filter, where pruning is best-effort DPP.)
    */
  def readPartitions(spark: SparkSession, path: String, partitionCol: String,
                     values: Seq[String]): DataFrame = {
    val df = SchemaCache.read(spark, path) // per-micro-batch callers skip footer re-inference
    require(df.schema.fieldNames.contains(partitionCol),
      s"readPartitions($path): partition column '$partitionCol' not found " +
        s"(columns: ${df.schema.fieldNames.mkString(", ")})")
    if (values.isEmpty) return df.limit(0)
    val lits = df.schema(partitionCol).dataType match {
      case org.apache.spark.sql.types.DateType => values.map { v =>
        require(v.matches("""\d{4}-\d{2}-\d{2}"""),
          s"readPartitions($path): value '$v' for DATE partition column " +
            s"'$partitionCol' must be yyyy-MM-dd")
        lit(java.sql.Date.valueOf(v))
      }
      case dt => values.map(v => lit(v).cast(dt))
    }
    df.filter(col(partitionCol).isin(lits: _*))
  }

  /** S4: headered CSV sink (dag:92-95). `singleFile` gives the
    * reference's one-file-per-day parity; leave false at scale.
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** S5: headered CSV scan with a DECLARED schema — never inferSchema
    * (SURVEY.md §1.3).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S7's optional connector (SURVEY §2.1): scan a JDBC table — the
    * direct analogue of the reference's `pd.read_sql` over SQLite
    * (dag_btc_daily.py), kept thin over `spark.read.jdbc` because
    * that source already does the two things that matter:
    * filter/column pushdown into the remote query (verified in
    * WarehouseSpec against an embedded Derby — `PushedFilters` reach
    * the JDBCRelation scan) and, when a `partitionColumn` is given,
    * a partition-parallel read (numPartitions range-predicate queries
    * instead of one single-threaded cursor — the only shape that
    * survives a big table; an unpartitioned JDBC scan is a one-task
    * bottleneck by construction).
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
               partitionColumn: Option[String] = None,
               lowerBound: Long = 0L, upperBound: Long = 0L,
               numPartitions: Int = 1,
               properties: java.util.Properties = new java.util.Properties()): DataFrame =
    partitionColumn match {
      case Some(pc) =>
        spark.read.jdbc(url, table, pc, lowerBound, upperBound, numPartitions, properties)
      case None => spark.read.jdbc(url, table, properties)
    }

  /** JSONL (newline-delimited JSON) sink — the interchange format
    * training corpora ship in; one JSON object per line, splittable,
    * partition-parallel.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** JSONL scan with a DECLARED schema — never inferSchema (inference
    * is a full extra pass over the data at scale; SURVEY.md §1.3).
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Small-file compaction: rewrite `path` into files of roughly
    * `targetFileBytes`, atomically ([[rewriteAtomic]] dir swap).
    *
    * Incremental append patterns (streaming micro-batches, per-day
    * upserts, task-per-partition writes) accrete files far below the
    * scan-efficient size; at 100 TB the cost is dominated by per-file
    * open/footer/seek overhead and driver-side listing, both linear in
    * FILE COUNT, not bytes — a table of 10 KB files reads ~100× slower
    * than the same bytes in 128 MB files. Target count is computed
    * from the CURRENT compressed on-disk size (not a row-count guess,
    * which bakes in a compression-ratio assumption), and the rewrite
    * uses round-robin `repartition(n)` — an even byte spread without a
    * shuffle key; for sort-clustered layouts compose with a
    * `sortWithinPartitions` on the cluster key after a range
    * repartition instead.
    *
    * Partitioned tables compact PER PARTITION DIRECTORY, automatically:
    * a `<col>=` child under `path` means Hive-style layout, and the
    * rewrite recurses into each partition dir (nested partitions
    * included) instead of flattening the tree. The pre-r9 behavior —
    * `spark.read.parquet(root)` absorbs the partition column and the
    * flat rewrite destroys the `date=` dirs, silently killing
    * partition pruning for every later scan (VERDICT r8 #4) — is
    * unreachable now. Per-dir recursion is also the 100 TB shape: each
    * rewrite is bounded by one partition's bytes, and untouched
    * partitions stay byte-identical (no needless churn, and a crash
    * mid-compaction corrupts nothing — each dir swap is atomic).
    *
    * Returns the number of output files written.
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val children = fs.listStatus(dest).toSeq
    // SNAPSHOT-ROOT GUARD (r9 verdict #1): a writeSnapshot/
    // commitSnapshot root also has `<col>=` children (`v=<n>`), but
    // recursing into them would rewrite IMMUTABLE committed versions in
    // place — every pinned reader's contract broken — and orphan their
    // manifests, whose stale file lists would then plan reads of
    // deleted files. Refuse, naming the snapshot-aware tool.
    require(!children.exists { st =>
      val n = st.getPath.getName
      n == "_latest" || n.startsWith("_commit-v") || n.startsWith("_manifest-v")
    }, s"compact($path): snapshot table root (writeSnapshot/commitSnapshot layout) — " +
      "in-place compaction would rewrite immutable versions and invalidate their " +
      "manifests; use compactSnapshot, which commits the compacted current version " +
      "as a NEW version")
    val partDirs = children.filter { st =>
      val name = st.getPath.getName
      st.isDirectory && name.contains("=") &&
        !name.startsWith("_") && !name.startsWith(".") &&
        // crashed-rewriteAtomic debris (`<dir>.staging-*`/`<dir>.retired-*`)
        // still carries the partition dir's `=` (r9 verdict #2):
        // treating it as a partition would rewrite garbage back into
        // the table — it is vacuumTable's to repair/reap, never ours
        !name.contains(".staging-") && !name.contains(".retired-")
    }
    if (partDirs.nonEmpty)
      return partDirs.map(d => compact(spark, d.getPath.toString, targetFileBytes)).sum
    val it = fs.listFiles(dest, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) bytes += f.getLen
    }
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    rewriteAtomic(spark.read.parquet(path).repartition(n), path)
    n
  }

  /** Snapshot-aware compaction: lands the compacted CURRENT version as
    * a NEW version through the [[commitSnapshot]] CAS — history stays
    * immutable (pinned readers keep their bytes), the new version gets
    * its own manifest, `_latest` advances, and old versions age out via
    * [[expireSnapshots]] as usual. Sizing uses the manifest's committed
    * byte total when present (zero I/O), the dir listing otherwise.
    * This also FOLDS IN [[deleteWhere]] file sharing: the compacted
    * version materializes every carried-forward reference into its own
    * dir, letting the referenced old versions expire. Returns
    * (newVersion, filesWritten).
    *
    * `clusterCols` turns it into `OPTIMIZE ZORDER BY`: the rewrite
    * lays rows along the Morton curve over those columns
    * ([[graft.ops.Layout.zorder]]), so each output file covers a small
    * hyper-rectangle of the clustered space and the manifest's
    * per-file min/max (X162) become TIGHT on every clustered column —
    * [[readSnapshotRange]] and [[deleteWhere]]'s `scanBound` then skip
    * most files for a filter on ANY of them. Compaction is exactly the
    * right moment to buy that layout: the table is being rewritten
    * anyway, and the curve costs one sampled range shuffle.
    */
  def compactSnapshot(spark: SparkSession, path: String,
                      targetFileBytes: Long = 128L << 20,
                      clusterCols: Seq[String] = Seq.empty): (Long, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"compactSnapshot($path): no committed snapshot")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = readManifest(fs, path, v).map(_.get("bytes").asLong).getOrElse {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$path/v=$v"), true)
      var b = 0L
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) b += f.getLen
      }
      b
    }
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val current = readSnapshot(spark, path, Some(v))
    val arranged =
      if (clusterCols.isEmpty) current.repartition(n)
      else graft.ops.Layout.zorder(current, clusterCols, n)
    // committed rows re-land, not an ingest: X215 triage stays off —
    // a layout rewrite must never drop or divert data (review r11)
    (commitSnapshot(arranged, path, expectedVersion = v, triage = false), n)
  }

  /** Metadata table — the Iceberg `table$files` analog: one row per
    * committed data file of `version`, straight from the manifest
    * (zero data I/O): (file, bytes, rows, shared), `shared` marking
    * entries carried from another version (or another table — a
    * [[cloneSnapshot]] reference) rather than owned by this version's
    * dir. NULL bytes/rows for pre-accounting manifests. The input
    * [[optimizeSnapshot]]'s policy reads and the audit for clone/
    * file-sharing provenance.
    */
  def snapshotFiles(spark: SparkSession, path: String,
                    version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val v = resolveVersion(spark, path, version)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, path, v) match {
      case Some(m) =>
        val es = manifestEntries(m)
        val bytes = Option(m.get("fileBytes"))
        val rows = Option(m.get("fileRows"))
        // live deletion-vector positions per entry (X189) — straight
        // from the manifest's parallel arrays, still zero data I/O
        val dvByFile = readDvState(m).map(_.files.toMap).getOrElse(Map.empty)
        es.indices.map { i =>
          val e = es(i)
          val norm = if (e.contains("/")) e else s"v=$v/$e"
          (e,
            bytes.map(_.get(i).asLong),
            rows.map(_.get(i).asLong),
            isAbsoluteEntry(e) || (e.contains("/") && !e.startsWith(s"v=$v/")),
            dvByFile.getOrElse(norm, 0L))
        }.toDF("file", "bytes", "rows", "shared", "dv_rows")
      case None =>
        require(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=$v/_partial")),
          s"snapshotFiles($path): v=$v is a file-sharing version with no readable manifest")
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/v=$v")).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName)
          .map(st => (s"v=$v/${st.getPath.getName}",
            Option(st.getLen), Option.empty[Long], false, 0L))
          .toDF("file", "bytes", "rows", "shared", "dv_rows")
    }
  }

  /** Per-file manifest accounting for a NUMERIC `column`:
    * (bytes, Some((min, max))) per live file, straight from the
    * committed manifest's parallel arrays — zero data I/O (r16, the
    * bucket-index health advice's input). Files without usable numeric
    * stats for the column (pre-stats manifests, non-numeric types)
    * carry None ranges; callers must treat such files as covering
    * everything (the same keep-don't-guess rule as pruning).
    */
  def snapshotFileRanges(spark: SparkSession, path: String, column: String,
                         version: Option[Long] = None)
      : Seq[(Option[Long], Option[(Double, Double)])] = {
    val v = resolveVersion(spark, path, version)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, path, v) match {
      case Some(m) =>
        val es = manifestEntries(m)
        val bytes = Option(m.get("fileBytes"))
        val stats = Option(m.get("stats"))
        val phys = physicalName(columnMapOf(m), column)
        es.indices.map { i =>
          val b = bytes.map(_.get(i).asLong)
          val range = for {
            s <- stats
            n <- Option(s.get(i))
            st <- Option(n.get(phys))
            mn <- Option(st.get("min")) if mn.isNumber
            mx <- Option(st.get("max")) if mx.isNumber
          } yield (mn.asDouble, mx.asDouble)
          (b, range)
        }
      case None => Seq.empty
    }
  }

  /** SHALLOW CLONE — Delta `CREATE TABLE ... SHALLOW CLONE` / Iceberg
    * snapshot-ref shape: a NEW table at `dst` whose v=1 manifest
    * references the source version's files IN PLACE (absolute
    * entries), with per-file accounting copied — cloning a 100 TB
    * table costs ONE manifest write and zero data bytes. The
    * dev/test-on-prod move: the clone is a fully independent table —
    * appends, row-level writes, optimize, branches, its own history —
    * whose NEW versions write into `dst` while untouched source bytes
    * stay referenced; the source never sees any of it.
    *
    * The shallow-clone caveat, same as Delta's: the SOURCE's retention
    * does not know about clones — `expireSnapshots`/`vacuum` on the
    * source can delete bytes a clone still references, after which the
    * clone's affected reads fail with missing-file errors (loud, never
    * silent). Pin the source version with a tag/branch for the clone's
    * lifetime, or materialize the clone (one `compactSnapshot(dst)`
    * rewrites it self-contained, severing all source references).
    * Stream-sink idempotence records (`txnApp`/`txnEpoch`) are
    * deliberately NOT copied — the clone is a different table and
    * sinks into it start their own epoch history. `version` pins a
    * historical source version (time-travel clone).
    */
  def cloneSnapshot(spark: SparkSession, src: String, dst: String,
                    version: Option[Long] = None,
                    orphanGraceMs: Long = 600000L): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
    val fs = new org.apache.hadoop.fs.Path(dst).getFileSystem(conf)
    // same-filesystem fence (review r12): absolute entries are stored
    // SCHEME-LESS (rooted paths) and resolve against whatever
    // filesystem reads the CLONE — if src and dst lived on different
    // stores (or different authorities/buckets), every entry would
    // resolve against the wrong one: missing-file errors at best,
    // reads of an unrelated table at worst. Refuse loudly up front;
    // cross-store cloning is a copy (distcp + deep clone), not a
    // reference.
    require(srcFs.getUri == fs.getUri,
      s"cloneSnapshot: source (${srcFs.getUri}) and destination (${fs.getUri}) live on " +
        "different filesystems — a shallow clone references the source's bytes in " +
        "place, which only resolves within one filesystem; copy the data instead")
    val v = resolveVersion(spark, src, version)
    require(snapshots(spark, dst).isEmpty,
      s"cloneSnapshot: destination $dst already holds a committed table")
    def absolutize(e: String): String =
      srcFs.makeQualified(new org.apache.hadoop.fs.Path(resolveEntry(src, v, e)))
        .toUri.getPath
    val srcManifest = readManifest(srcFs, src, v)
    // a manifest-less source version must be self-contained to be
    // cloneable (same rule as every reader of the listing fallback)
    require(srcManifest.isDefined ||
        !srcFs.exists(new org.apache.hadoop.fs.Path(s"$src/v=$v/_partial")),
      s"cloneSnapshot($src): v=$v is a file-sharing version with no readable manifest")
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$dst/_staging-$tag")
    fs.mkdirs(staging)
    fs.create(new org.apache.hadoop.fs.Path(staging, "_partial"), true).close()
    Commit(fs, dst, staging, 1L, "cloneSnapshot", orphanGraceMs, Commit.LoadBearing,
      Commit.MainRef) { _ => srcManifest match {
      case Some(m) =>
        // copy the source manifest VERBATIM — files absolutized in
        // committed order so the stats/fileBytes/fileRows arrays stay
        // parallel — and publish with the same tmp+rename protocol
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = m.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
        node.put("version", 1L)
        // the clone is a NEW commit at its own instant (X209) — the
        // verbatim copy must not inherit the source's commit time
        node.put("committedAtMs", System.currentTimeMillis())
        node.remove("txnApp"); node.remove("txnEpoch")
        // the bloom index (X193) does NOT clone: its rows name
        // source-root-relative files the clone's entries no longer
        // match. Dropping it is purely conservative (unpruned reads
        // stay correct); re-index the clone to restore pruning.
        node.remove("idxCol"); node.remove("idxBits")
        node.remove("idxRef"); node.remove("idxFiles")
        val arr = mapper.createArrayNode()
        manifestEntries(m).foreach(e => arr.add(absolutize(e)))
        node.set[com.fasterxml.jackson.databind.JsonNode]("files", arr)
        // deletion-vector state (X189) clones by reference too: refs
        // and touched entries absolutize (dvFileRows deep-copied in
        // order stays parallel); positions inside an absolutized ref
        // resolve against ITS root, so they keep matching the
        // absolutized file paths
        readDvState(m).foreach { d =>
          val ra = mapper.createArrayNode(); d.refs.foreach(r => ra.add(absolutize(r)))
          node.set[com.fasterxml.jackson.databind.JsonNode]("dvRefs", ra)
          val fa = mapper.createArrayNode()
          d.files.foreach { case (f, _) => fa.add(absolutize(f)) }
          node.set[com.fasterxml.jackson.databind.JsonNode]("dvFiles", fa)
        }
        publishManifest(fs, dst, 1L, mapper.writeValueAsBytes(node))
      case None =>
        val names = srcFs.listStatus(new org.apache.hadoop.fs.Path(s"$src/v=$v")).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map(st => s"v=$v/${st.getPath.getName}").sorted
        writeManifest(fs, conf, dst, 1L,
          spark.read.parquet(s"$src/v=$v").schema.json, Some(names.map(absolutize)))
    }}
    1L
  }

  /** Small-file OPTIMIZE — the Delta `OPTIMIZE` bin-packing shape, and
    * the auto-compaction policy in one: coalesce ONLY the current
    * version's files smaller than `targetFileBytes / 2`, carrying
    * every right-sized file into the new manifest BY REFERENCE. The
    * DECISION costs zero I/O (per-file bytes come from the manifest
    * accounting X162 already records) and the REWRITE costs the small
    * files' bytes — never the table. This is the maintenance loop a
    * streaming-ingest table needs: [[writeSnapshotStream]] lands one
    * version per micro-batch (small files by construction), and a
    * periodic `optimizeSnapshot` folds them into target-sized files
    * while [[compactSnapshot]]'s full rewrite stays reserved for
    * re-clustering the WHOLE table. Below `minSmallFiles` small files
    * it's a no-op returning None — safe to call on every maintenance
    * tick. Same CAS/`_partial`/manifest/unwind contract as every
    * file-sharing commit; pinned readers of old versions untouched;
    * returns (newVersion, filesWritten).
    *
    * `clusterCols` (r12, Delta's `OPTIMIZE … ZORDER BY`): the PACKED
    * files are laid along the Morton curve over those columns
    * ([[graft.ops.Layout.zorder]], the [[compactSnapshot]] path), so a
    * clustered table's maintenance tick keeps its X162 per-file
    * min/max TIGHT on the fresh files instead of letting the layout
    * decay until a full recompaction — the rewrite still costs only
    * the small files' bytes, and carried right-sized files (whose
    * stats are already tight) stay by reference, untouched.
    */
  def optimizeSnapshot(spark: SparkSession, path: String,
                       targetFileBytes: Long = 128L << 20,
                       minSmallFiles: Int = 2,
                       orphanGraceMs: Long = 600000L,
                       clusterCols: Seq[String] = Seq.empty): Option[(Long, Int)] = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = mainWriteBase(spark, path)
    require(v >= 1, s"optimizeSnapshot($path): no committed snapshot")
    val (entries, bytes, schemaJson, reuse) = readManifest(fs, path, v) match {
      case Some(m) if m.has("fileBytes") =>
        val es = normEntries(m, v)
        val bs = es.indices.map(m.get("fileBytes").get(_).asLong)
        (es, bs, m.get("schema").toString, Some((m, v)))
      case other =>
        require(other.isDefined ||
            !fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=$v/_partial")),
          s"optimizeSnapshot($path): v=$v is a file-sharing version with no readable manifest")
        val sts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/v=$v")).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName)
        (sts.map(st => s"v=$v/${st.getPath.getName}"), sts.map(_.getLen),
          spark.read.parquet(s"$path/v=$v").schema.json, None)
    }
    val smallIdx = entries.indices.filter(i => bytes(i) < targetFileBytes / 2)
    if (smallIdx.size < minSmallFiles) return None
    val small = smallIdx.map(entries).toSet
    val carried = entries.filterNot(small)
    val n = math.max(1L,
      (smallIdx.map(bytes).sum + targetFileBytes - 1) / targetFileBytes).toInt
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(schemaJson).asInstanceOf[StructType]
    // dv-aware packed read (X189): a small file carrying deletion-
    // vector positions materializes them here (live rows only); its
    // positions die with the old path. Carried files keep theirs.
    val packedRead = reuse match {
      case Some((m, _)) => dvPlannedRead(spark, path, m, schema, small.toSeq.sorted)
      case None => spark.read.schema(schema)
        .parquet(small.toSeq.sorted.map(entryPath(path, _)): _*)
    }
    val packed =
      if (clusterCols.isEmpty) packedRead.repartition(n)
      else graft.ops.Layout.zorder(packedRead, clusterCols, n)
    val packedDv: Option[DvState] = reuse.flatMap { case (m, _) =>
      readDvState(m).flatMap { d =>
        val rem = d.files.filterNot { case (f, _) => small(f) }
        if (rem.isEmpty) None else Some(DvState(d.refs, rem))
      }
    }
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging-$tag")
    // packed files keep the table's physical layout (X195) — carried
    // files can't change theirs, and one version means one layout
    toPhysical(packed, reuse.map { case (mm, _) => columnMapOf(mm) }.getOrElse(Map.empty))
      .write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
    if (carried.nonEmpty)
      fs.create(new org.apache.hadoop.fs.Path(staging, "_partial"), true).close()
    val next = nextVersionAbove(spark, path, v)
    val fresh = commitStagedVersion(spark, fs, path, staging, next,
      schemaJson, carried, reuse, op = "optimizeSnapshot",
      orphanGraceMs = orphanGraceMs, dv = packedDv)
    Some((next, fresh.size))
  }

  /** ORC sink — the other columnar interchange format a warehouse
    * migration meets (Hive-era tables). Same columnar/codec virtues as
    * parquet; pushdown and pruning work identically through the scan.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** ORC scan with a DECLARED schema — never inferSchema (SURVEY.md
    * §1.3; for ORC inference is only a footer read, but the declared
    * schema is still the contract that catches silent drift).
    */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Hash-bucketed table write: pre-shuffle the table ONCE at write
    * time into `nBuckets` by `key` (bucket id is burned into each file
    * name; the catalog carries the spec), so every later equi-join or
    * aggregate on `key` against a same-bucketed table reads co-located
    * data and plans with ZERO exchanges — the write-once/join-many
    * amortization that turns the nightly big-join shuffle into a scan
    * at 100 TB. `sortBy(key)` additionally orders rows within each
    * bucket file so sort-merge joins can skip their sorts when each
    * bucket holds one file. Registered via `saveAsTable` with an
    * explicit path (external table): bucketing METADATA lives in the
    * session catalog — a metastore in production — because plain
    * parquet carries no bucket contract for the planner to trust.
    */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
                    key: String, nBuckets: Int): Unit = {
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(nBuckets, key).sortBy(key)
      .option("path", path)
      .saveAsTable(tableName)
    SchemaCache.invalidate(path)
  }

  /** Catalog read of a bucketed table — the bucket spec only applies
    * through the catalog; a path read of the same files would discard
    * it (and the zero-exchange join with it).
    */
  def readBucketed(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)

  /** S6: empty-input guard (dag:126-127 etc.) — limit(1), never a full
    * count.
    */
  def requireNonEmpty(df: DataFrame, what: String): DataFrame = {
    require(!df.isEmpty, s"empty input: $what")
    df
  }
}
