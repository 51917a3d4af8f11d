package graft.store

import graft.SparkSpec
import graft.model.Schemas

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("insertIfAbsent: first write wins, replays are no-ops (S8, dag:147-156)") {
    val existing = Seq(("t1", "BTC", 100.0), ("t2", "BTC", 101.0)).toDF("ts_utc", "asset", "price")
    val incoming = Seq(("t2", "BTC", 999.0), ("t3", "BTC", 102.0)).toDF("ts_utc", "asset", "price")
    val merged = Warehouse.insertIfAbsent(existing, incoming, Seq("ts_utc", "asset"))
    val byKey = merged.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(byKey === Map(("t1", "BTC") -> 100.0, ("t2", "BTC") -> 101.0, ("t3", "BTC") -> 102.0))
    // replay: inserting the same batch again changes nothing
    val replay = Warehouse.insertIfAbsent(merged, incoming, Seq("ts_utc", "asset"))
    assert(replay.count() === 3)
    assert(replay.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap === byKey)
  }

  test("insertIfAbsent: no duplicate keys ever (S8 invariant)") {
    val existing = Seq(("t1", "A", 1.0)).toDF("ts_utc", "asset", "price")
    val incoming = Seq(("t1", "A", 2.0), ("t1", "B", 3.0)).toDF("ts_utc", "asset", "price")
    val merged = Warehouse.insertIfAbsent(existing, incoming, Seq("ts_utc", "asset"))
    assert(merged.groupBy("ts_utc", "asset").count().filter($"count" > 1).isEmpty)
  }

  test("upsert: last write wins on update cols, other cols preserved (S9, dag:219-230)") {
    val existing = Seq(
      ("2024-01-01", "BTC", 100.0, 0.05), // (date, asset, close, ret)
      ("2024-01-02", "BTC", 110.0, 0.10)
    ).toDF("date", "asset", "close", "ret")
    val incoming = Seq(
      ("2024-01-02", "BTC", 999.0), // restate day 2 close
      ("2024-01-03", "BTC", 120.0)  // new day
    ).toDF("date", "asset", "close")
    val out = Warehouse.upsert(existing, incoming, keys = Seq("date", "asset"), updateCols = Seq("close"))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), Option(r.get(3)))).toMap
    assert(out("2024-01-01") === ((100.0, Some(0.05))))  // untouched
    assert(out("2024-01-02") === ((999.0, Some(0.10))))  // close updated, ret PRESERVED
    assert(out("2024-01-03") === ((120.0, None)))        // new row, ret NULL
  }

  test("upsert is idempotent under replay") {
    val existing = Seq(("d1", "A", 1.0, 9.0)).toDF("date", "asset", "close", "ret")
    val incoming = Seq(("d1", "A", 2.0)).toDF("date", "asset", "close")
    val once = Warehouse.upsert(existing, incoming, Seq("date", "asset"), Seq("close"))
    val twice = Warehouse.upsert(once, incoming, Seq("date", "asset"), Seq("close"))
    assert(once.orderBy("date").collect().toSeq === twice.orderBy("date").collect().toSeq)
  }

  test("CSV sink + declared-schema scan round trip (S4/S5, dag:92-95,125)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/out"
    val df = Seq(("2024-01-01T00:00:00Z", 42694.12), ("2024-01-01T01:00:00Z", 42700.0))
      .toDF("ts_utc", "price")
    Warehouse.writeCsv(df, dir, singleFile = true)
    val back = Warehouse.readCsv(spark, dir, Schemas.rawCsvSchema)
    assert(back.orderBy("ts_utc").collect().toSeq === df.orderBy("ts_utc").collect().toSeq)
  }

  test("requireNonEmpty guards empty inputs (S6)") {
    val empty = Seq.empty[(String, Double)].toDF("ts_utc", "price")
    intercept[IllegalArgumentException] { Warehouse.requireNonEmpty(empty, "test") }
  }

  test("overwritePartitions rewrites only the partitions present in the batch") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_part").toString
    val base = Seq(
      ("2024-01-01", "BTC", 100.0), ("2024-01-02", "BTC", 101.0), ("2024-01-03", "BTC", 102.0)
    ).toDF("date", "asset", "price")
    Warehouse.writePartitioned(base, dir, Seq("date"))
    val d1File = new java.io.File(s"$dir/date=2024-01-01").listFiles().filter(_.getName.endsWith(".parquet")).head
    val d1Before = d1File.lastModified()
    Thread.sleep(1100)
    // restate only day 2
    val restated = Seq(("2024-01-02", "BTC", 999.0)).toDF("date", "asset", "price")
    Warehouse.overwritePartitions(restated, dir, Seq("date"))
    val after = spark.read.parquet(dir)
      .withColumn("date", col("date").cast("string")) // partition col is inferred as DATE
      .collect().map(r => r.getAs[String]("date") -> r.getAs[Double]("price")).toMap
    assert(after === Map("2024-01-01" -> 100.0, "2024-01-02" -> 999.0, "2024-01-03" -> 102.0))
    // day-1 partition untouched on disk (same file, same mtime)
    assert(d1File.exists() && d1File.lastModified() === d1Before)
    // reads with a date predicate prune to one partition directory
    val plan = spark.read.parquet(dir).filter(col("date") === "2024-01-02")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("2024-01-02"))
  }

  test("dynamic partition pruning: a dim-filtered join prunes the fact scan at runtime") {
    import org.apache.spark.sql.functions.col
    // the at-scale sibling of the static typed-IN pruning readPartitions
    // guarantees: when the date set comes from a JOIN (not a literal),
    // DPP injects the dim's build-side keys into the fact scan's
    // partition filters — directory pruning without a driver round-trip
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val fact = (1 to 30).flatMap(d => Seq((f"2024-01-$d%02d", "BTC", d.toDouble)))
      .toDF("date", "asset", "price")
    Warehouse.writePartitioned(fact, dir, Seq("date"))
    // the dim must be a SCAN with a surviving selective Filter: a
    // local Seq folds the filter into a LocalRelation and the pruning
    // rule sees no predicate to reuse — mirror the real shape (dim
    // table on disk, filtered at query time)
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    Seq(("2024-01-05", "keep"), ("2024-01-06", "keep"), ("2024-01-07", "drop"))
      .toDF("ddate", "tag")
      .withColumn("ddate", col("ddate").cast("date"))
      .write.mode("overwrite").parquet(dimDir)
    // join on the RAW partition column: casting/wrapping it disqualifies
    // the scan from pruning-filter insertion (the same rule
    // readPartitions encodes for static literals)
    val joined = spark.read.parquet(dir)
      .join(spark.read.parquet(dimDir).filter(col("tag") === "keep"),
        col("date") === col("ddate"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan not dynamically pruned:\n${plan.take(1500)}")
    assert(joined.count() === 2L)
  }

  test("rewriteAtomic: read-modify-write on a LIVE path survives, leaves no staging dirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rewrite").toString + "/t"
    Warehouse.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    // merged frame still READS from dir — the exact shape that made
    // cache+overwrite fragile
    val existing = spark.read.parquet(dir)
    val merged = existing.unionByName(Seq((3L, "c")).toDF("id", "v"))
    Warehouse.rewriteAtomic(merged, dir)
    val out = spark.read.parquet(dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "a", 2L -> "b", 3L -> "c"))
    val siblings = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(siblings.toSeq === Seq("t"), s"staging/retired dirs left behind: ${siblings.mkString(",")}")
    // also works when the destination doesn't exist yet
    val fresh = dir + "2"
    Warehouse.rewriteAtomic(Seq((9L, "z")).toDF("id", "v"), fresh)
    assert(spark.read.parquet(fresh).count() === 1)
  }

  private def listing(dir: String): Seq[(String, Long)] = {
    val f = new java.io.File(dir)
    if (!f.exists()) Seq.empty else f.listFiles().map(c => c.getName -> c.length()).toSeq.sorted
  }

  test("rewriteAtomic: a throwing write or check leaves the live table and no staging dir") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_rewrite_fail").toString + "/t"
    Warehouse.overwrite(Seq((1L, "a")).toDF("id", "v"), dir)
    val before = listing(dir)
    val boom = spark.range(3).select(expr("assert_true(id < 2)").cast("long").as("id"), lit("x").as("v"))
    intercept[Exception] { Warehouse.rewriteAtomic(boom, dir) }
    assert(listing(dir) === before)
    val guard = intercept[IllegalArgumentException] {
      Warehouse.rewriteAtomic(Seq((2L, "b")).toDF("id", "v"), dir, check = () => require(false, "guard"))
    }
    assert(guard.getMessage === "requirement failed: guard")
    assert(listing(dir) === before)
    val siblings = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(siblings.toSeq === Seq("t"), s"staging dirs left behind: ${siblings.mkString(",")}")
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("appendAtomic: one published file per batch, zero rows publish nothing, no staging left") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_append").toString + "/t"
    def dataFiles = listing(dir).map(_._1).filter(_.startsWith("part-"))
    assert(Warehouse.appendAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), dir) === 2L)
    assert(dataFiles.size === 1)
    assert(Warehouse.appendAtomic(Seq((3L, "c")).toDF("id", "v").coalesce(1), dir) === 1L)
    assert(dataFiles.size === 2)
    val before = listing(dir)
    assert(Warehouse.appendAtomic(Seq((4L, "d")).toDF("id", "v").filter(col("id") < 0), dir) === 0L)
    assert(listing(dir) === before)
    val boom = spark.range(3).select(expr("assert_true(id < 2)").cast("long").as("id"), lit("x").as("v"))
    intercept[Exception] { Warehouse.appendAtomic(boom, dir) }
    assert(listing(dir) === before)
    val siblings = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(siblings.toSeq === Seq("t"), s"staging dirs left behind: ${siblings.mkString(",")}")
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("compact: bin-packs small files to the byte target, identical data, atomic") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    // 16 tasks -> 16 small files, the accretion pattern compaction fixes
    spark.range(10000).selectExpr("id", "id * 2 AS v").repartition(16)
      .write.parquet(dir)
    def dataFiles = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getName).toSeq
    assert(dataFiles.size === 16)
    val before = spark.read.parquet(dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // huge target -> everything packs into one file
    val n = Warehouse.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(n === 1 && dataFiles.size === 1)
    val after = spark.read.parquet(dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === before)
    // tiny target -> several files, still the same data
    val n2 = Warehouse.compact(spark, dir, targetFileBytes = 16L << 10)
    assert(n2 > 1 && dataFiles.size === n2)
    assert(spark.read.parquet(dir).count() === 10000)
    // no staging/retired leftovers
    val siblings = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(siblings.toSeq === Seq("t"), s"leftovers: ${siblings.mkString(",")}")
  }

  test("compact: a partitioned root keeps its layout and pruning (per-dir recursion)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compactp").toString + "/t"
    val df = spark.range(4000).selectExpr(
      "id", "CAST(date_add(DATE '2024-01-01', CAST(id % 3 AS INT)) AS DATE) AS date")
    Warehouse.writePartitioned(df.repartition(8), dir, Seq("date"))
    val before = spark.read.parquet(dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString)).toSeq
    val n = Warehouse.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(n === 3, "one output file per partition directory")
    // the date= dirs survived — the flat rewrite would have flattened them
    val children = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("date=")).sorted
    assert(children.toSeq === Seq("date=2024-01-01", "date=2024-01-02", "date=2024-01-03"))
    val after = spark.read.parquet(dir)
    assert(after.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[java.sql.Date]("date").toString)).toSeq === before)
    // pruning still works: the date predicate plans as a PartitionFilter
    // (inputFiles reports the unpruned relation, so assert on the plan)
    val pruned = after.filter($"date" === java.sql.Date.valueOf("2024-01-02"))
    assert(pruned.count() === before.count(_._2 == "2024-01-02"))
    val plan = pruned.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters:"))
    assert(pf.exists(_.toLowerCase.contains("date")),
      s"expected a date PartitionFilter after compaction:\n$plan")
  }

  test("snapshot manifest: pinned reads plan from the committed file list, not a dir listing") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest").toString + "/t"
    val v = Warehouse.writeSnapshot(
      Seq((1L, "a"), (2L, "b")).toDF("id", "x").repartition(2), root)
    // manifest exists and records the commit: files, bytes, row count
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = Warehouse.readManifest(fs, root, v)
    assert(m.isDefined, "commit must publish a manifest")
    assert(m.get.get("rowCount").asLong() === 2L)
    assert(Warehouse.snapshotRowCount(spark, root) === Some(2L))
    // a stray file landing AFTER commit (task-retry debris / a raced
    // writer) is INVISIBLE to a manifest-planned read — the listing
    // read would absorb it
    val alien = Seq((99L, "zz")).toDF("id", "x")
    alien.write.parquet(s"$root/v=$v/alien")
    val alienFile = new java.io.File(s"$root/v=$v/alien").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(alienFile.toPath,
      java.nio.file.Paths.get(s"$root/v=$v/part-alien.snappy.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/v=$v/alien"))
    val viaManifest = Warehouse.readSnapshot(spark, root, Some(v))
    assert(viaManifest.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    assert(viaManifest.inputFiles.length === 2 &&
      !viaManifest.inputFiles.exists(_.contains("alien")),
      "scan must touch only manifest-listed files")
    // commitSnapshot publishes manifests too
    val v2 = Warehouse.commitSnapshot(Seq((3L, "c")).toDF("id", "x"), root, v)
    assert(Warehouse.snapshotRowCount(spark, root, Some(v2)) === Some(1L))
    // fallback: a manifest-less version (crash between promote and
    // publish, or a pre-manifest table) still reads via the listing
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_manifest-v$v2"), false)
    assert(Warehouse.readSnapshot(spark, root, Some(v2)).collect()
      .map(_.getLong(0)).toSeq === Seq(3L))
    // a CORRUPT manifest degrades to the listing fallback, not a
    // read failure — the manifest is an optimization, never a gate
    val v3 = Warehouse.writeSnapshot(Seq((9L, "i")).toDF("id", "x"), root)
    val mfPath = new org.apache.hadoop.fs.Path(s"$root/_manifest-v$v3")
    val out = fs.create(mfPath, true)
    out.write("{not json".getBytes("UTF-8")); out.close()
    assert(Warehouse.readManifest(fs, root, v3).isEmpty, "corrupt manifest must read as absent")
    assert(Warehouse.readSnapshot(spark, root, Some(v3)).collect()
      .map(_.getLong(0)).toSeq === Seq(9L))
    // retention drops the manifest with the data
    Warehouse.writeSnapshot(Seq((4L, "d")).toDF("id", "x"), root)
    Warehouse.expireSnapshots(spark, root, keepLast = 1)
    assert(Warehouse.readManifest(fs, root, v).isEmpty, "expired version's manifest must go")
  }

  test("snapshots: versioned writes, time travel, pointer swap, retention") {
    val root = java.nio.file.Files.createTempDirectory("graft_snap").toString + "/t"
    val v1 = Warehouse.writeSnapshot(Seq((1L, "a")).toDF("id", "x"), root)
    val v2 = Warehouse.writeSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "x"), root)
    val v3 = Warehouse.writeSnapshot(Seq((3L, "c")).toDF("id", "x"), root)
    assert((v1, v2, v3) === ((1L, 2L, 3L)))
    assert(Warehouse.snapshots(spark, root) === Seq(1L, 2L, 3L))
    // latest follows the pointer; pinned versions stay readable
    assert(Warehouse.readSnapshot(spark, root).collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(Warehouse.readSnapshot(spark, root, Some(2L)).count() === 2L)
    assert(Warehouse.readSnapshot(spark, root, Some(1L)).count() === 1L)
    // retention drops the oldest, keeps latest 2
    assert(Warehouse.expireSnapshots(spark, root, keepLast = 2) === Seq(1L))
    assert(Warehouse.snapshots(spark, root) === Seq(2L, 3L))
    assert(Warehouse.readSnapshot(spark, root).count() === 1L)
    intercept[Exception] { Warehouse.readSnapshot(spark, root, Some(1L)).collect() }
  }

  test("commitSnapshot: stale writer fails retry-able; no lost update") {
    val root = java.nio.file.Files.createTempDirectory("graft_cas").toString + "/t"
    val v1 = Warehouse.commitSnapshot(Seq((1L, "base")).toDF("id", "x"), root, 0L)
    assert(v1 === 1L)
    // two writers both derive from v1 — the second to claim v2 must
    // fail with the retry-able conflict, not silently overwrite
    val base = Warehouse.currentSnapshot(spark, root)
    val winner = Warehouse.commitSnapshot(Seq((2L, "w1")).toDF("id", "x"), root, base)
    assert(winner === 2L)
    intercept[Warehouse.SnapshotConflictException] {
      Warehouse.commitSnapshot(Seq((3L, "w2")).toDF("id", "x"), root, base)
    }
    // the loser's retry protocol: re-read the fresh version, commit again
    val retry = Warehouse.commitSnapshot(
      Seq((3L, "w2")).toDF("id", "x"), root, Warehouse.currentSnapshot(spark, root))
    assert(retry === 3L)
    // serializable history: all three versions present, each intact,
    // loser's aborted attempt left no staging debris
    assert(Warehouse.snapshots(spark, root) === Seq(1L, 2L, 3L))
    assert(Warehouse.readSnapshot(spark, root, Some(2L)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "w1")))
    assert(Warehouse.readSnapshot(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((3L, "w2")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .exists(_.getPath.getName.startsWith("_staging")))
  }

  test("commitSnapshot: orphan marker from a crashed writer is adopted after the grace") {
    val root = java.nio.file.Files.createTempDirectory("graft_cas3").toString + "/t"
    Warehouse.commitSnapshot(Seq((1L, "base")).toDF("id", "x"), root, 0L)
    // simulate a writer that claimed v2 then died before promoting:
    // marker exists, v=2 data never appears
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_commit-v2"), false).close()
    // within the grace the claim is honored: retriers conflict
    intercept[Warehouse.SnapshotConflictException] {
      Warehouse.commitSnapshot(Seq((2L, "w")).toDF("id", "x"), root, 1L)
    }
    // past the grace the lease is broken and progress resumes at v2
    Thread.sleep(30)
    val v = Warehouse.commitSnapshot(Seq((2L, "w")).toDF("id", "x"), root, 1L,
      orphanGraceMs = 10L)
    assert(v === 2L)
    assert(Warehouse.readSnapshot(spark, root).collect().head.getString(1) === "w")
  }

  test("readSnapshot: missing _latest pointer falls back to the max version") {
    val root = java.nio.file.Files.createTempDirectory("graft_cas4").toString + "/t"
    Warehouse.commitSnapshot(Seq((1L, "a")).toDF("id", "x"), root, 0L)
    Warehouse.commitSnapshot(Seq((2L, "b")).toDF("id", "x"), root, 1L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the delete half of a committer's delete-then-rename pointer swap
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_latest"), false)
    assert(Warehouse.readSnapshot(spark, root).collect().head.getString(1) === "b")
  }

  test("commitSnapshot: genuinely concurrent writers — exactly one claim per version") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = java.nio.file.Files.createTempDirectory("graft_cas2").toString + "/t"
    Warehouse.commitSnapshot(Seq((0L, "seed")).toDF("id", "x"), root, 0L)
    // 4 writers race from the same read snapshot, retrying on conflict
    // until committed: every writer must land in SOME version, and the
    // final history must hold all 4 payloads exactly once
    val results = Await.result(Future.sequence((1 to 4).map { w =>
      Future {
        var committed = -1L
        while (committed < 0) {
          try committed = Warehouse.commitSnapshot(
            Seq((w.toLong, s"writer$w")).toDF("id", "x"), root,
            Warehouse.currentSnapshot(spark, root))
          catch { case _: Warehouse.SnapshotConflictException => () }
        }
        committed
      }
    }), 120.seconds)
    assert(results.toSet.size === 4, s"two writers claimed one version: $results")
    val payloads = Warehouse.snapshots(spark, root).drop(1).map(v =>
      Warehouse.readSnapshot(spark, root, Some(v)).collect().head.getString(1))
    assert(payloads.sorted === Seq("writer1", "writer2", "writer3", "writer4"))
  }

  test("mergeInto: conditional update/delete/insert, fall-through keeps, first clause wins") {
    import org.apache.spark.sql.functions.{col, lit}
    val target = Seq( // (k, v, tag) — tag is never updated, like q_upsert's ret
      (1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"), (4, 40.0, "d")
    ).toDF("k", "v", "tag")
    val source = Seq( // k=1 delete, k=2 update, k=3 matched-no-clause, k=5 insert, k=6 filtered insert
      (1, 111.0), (2, 222.0), (3, -1.0), (5, 555.0), (6, -5.0)
    ).toDF("k", "v")
    val out = Warehouse.mergeInto(target, source, Seq("k"), Seq(
      Warehouse.DeleteWhen(col("s.k") === 1),
      Warehouse.UpdateWhen(col("s.v") > 0, Map("v" -> col("s.v"))),
      // first clause wins: k=2 hits the update above, never this delete
      Warehouse.DeleteWhen(col("s.v") > 200),
      Warehouse.InsertWhen(col("s.v") > 0)
    )).collect().map(r => r.getInt(0) -> ((r.getDouble(1), Option(r.get(2))))).toMap
    assert(out === Map(
      2 -> ((222.0, Some("b"))),  // updated, tag preserved
      3 -> ((30.0, Some("c"))),   // matched, no clause fired: untouched
      4 -> ((40.0, Some("d"))),   // no source match: untouched
      5 -> ((555.0, None))))      // inserted, missing col NULL
  }

  test("mergeInto: S8/S9 are special cases (unconditional insert; update+insert)") {
    import org.apache.spark.sql.functions.lit
    val existing = Seq(("d1", 1.0, 9.0), ("d2", 2.0, 8.0)).toDF("k", "close", "ret")
    val incoming = Seq(("d2", 999.0), ("d3", 3.0)).toDF("k", "close")
    val viaMerge = Warehouse.mergeInto(existing, incoming, Seq("k"), Seq(
      Warehouse.UpdateWhen(lit(true), Map("close" -> org.apache.spark.sql.functions.col("s.close"))),
      Warehouse.InsertWhen(lit(true))))
    val viaUpsert = Warehouse.upsert(existing, incoming, Seq("k"), Seq("close"))
    assert(viaMerge.orderBy("k").collect().toSeq === viaUpsert.orderBy("k").collect().toSeq)
  }

  test("mergeInto rejects a source with duplicate merge keys (Delta's multiple-match error)") {
    import org.apache.spark.sql.functions.lit
    val target = Seq((1, 1.0)).toDF("k", "v")
    val dup = Seq((1, 2.0), (1, 3.0)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Warehouse.mergeInto(target, dup, Seq("k"), Seq(Warehouse.InsertWhen(lit(true))))
    }
  }

  test("diffFrames: insert/update/delete feed, unchanged rows absent, null-safe compare") {
    val oldSt = Seq((1, Some(10.0), "a"), (2, Some(20.0), "b"), (3, None: Option[Double], "c"))
      .toDF("k", "v", "tag")
    val newSt = Seq((1, Some(10.0), "a"),  // unchanged → absent
      (2, Some(99.0), "b"),                // update
      (3, None: Option[Double], "c"),      // unchanged incl. NULL v (null-safe) → absent
      (4, Some(40.0), "d")                 // insert
    ).toDF("k", "v", "tag")
    val feed = Warehouse.diffFrames(oldSt, newSt, Seq("k"))
      .collect().map(r => r.getInt(0) -> r.getString(3)).toMap
    assert(feed === Map(2 -> "update", 4 -> "insert"))
    // delete: drop k=2 from the new side entirely
    val feed2 = Warehouse.diffFrames(oldSt, newSt.filter($"k" =!= 2), Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(3), Option(r.get(1)))).toSet
    assert(feed2 === Set((2, "delete", Some(20.0)), (4, "insert", Some(40.0))))
  }

  test("diffFrames: tolerates nullability and field-order drift between logically equal schemas") {
    // union/outer-join/readEvolving flip nullability or reorder fields
    // without changing the data; requiring StructType equality rejected
    // these spuriously (r8 advice)
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val oldSt = Seq((1, 10.0, "a"), (2, 20.0, "b")).toDF("k", "v", "tag")
    // nullability drift: same columns declared all-nullable
    val nullableNew = spark.createDataFrame(
      java.util.Arrays.asList(Row(1, 10.0, "a"), Row(2, 99.0, "b")),
      StructType(Seq(StructField("k", IntegerType, nullable = true),
        StructField("v", DoubleType, nullable = true),
        StructField("tag", StringType, nullable = true))))
    assert(oldSt.schema !== nullableNew.schema, "fixture must actually drift nullability")
    val feed = Warehouse.diffFrames(oldSt, nullableNew, Seq("k"))
      .collect().map(r => r.getInt(0) -> r.getString(3)).toMap
    assert(feed === Map(2 -> "update"))
    // field-order drift: same columns, reordered — aligned, not rejected
    val reordered = Seq(("b", 99.0, 2), ("c", 30.0, 3)).toDF("tag", "v", "k")
    val feed2 = Warehouse.diffFrames(oldSt, reordered, Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(3))).toSet
    assert(feed2 === Set((1, "delete"), (2, "update"), (3, "insert")))
    // a REAL type change must still be rejected
    val drifted = Seq((1, "10.0", "a")).toDF("k", "v", "tag")
    val e = intercept[IllegalArgumentException] {
      Warehouse.diffFrames(oldSt, drifted, Seq("k"))
    }
    assert(e.getMessage.contains("names/types"))
  }

  test("promoteStaging: lease loss after a successful claim stays on the retryable path") {
    // a writer stalled past the grace finds its staging vacuumed (or
    // its lease broken) when it finally promotes; the failure must be
    // the retryable SnapshotConflictException — upsertBatch's loop
    // catches exactly that — not a bare require failure (r8 advice)
    val root = java.nio.file.Files.createTempDirectory("graft_promote").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    val goneStaging = new org.apache.hadoop.fs.Path(s"$root/_staging-dead")
    val dest = new org.apache.hadoop.fs.Path(s"$root/v=2")
    intercept[Warehouse.SnapshotConflictException] {
      Commit.promoteStaging(fs, goneStaging, dest, root, 2L)
    }
  }

  test("snapshotDiff: change feed between committed versions") {
    val root = java.nio.file.Files.createTempDirectory("graft_cdc").toString + "/t"
    Warehouse.commitSnapshot(Seq((1, "x"), (2, "y")).toDF("k", "v"), root, 0L)
    Warehouse.commitSnapshot(Seq((1, "x"), (2, "Y"), (3, "z")).toDF("k", "v"), root, 1L)
    val feed = Warehouse.snapshotDiff(spark, root, 1L, 2L, Seq("k"))
      .collect().map(r => r.getInt(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(feed === Map(2 -> (("Y", "update")), 3 -> (("z", "insert"))))
  }

  test("snapshotDiff prunes shared files: the feed of an erase reads the changed files only") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_cdcprune").toString + "/t"
    Warehouse.writeSnapshot(
      spark.range(0, 300).toDF("id").withColumn("v", col("id") * 2)
        .repartitionByRange(3, col("id")), root)
    Warehouse.deleteWhere(spark, root, col("id") === 5)
    val feed = Warehouse.snapshotDiff(spark, root, 1L, 2L, Seq("id"))
    // exact feed: the one deleted row
    assert(feed.collect().map(r => (r.getLong(0), r.getString(2))).toSeq ===
      Seq((5L, "delete")))
    // pruned plan: each side reads only its non-shared file (1+1), not
    // both versions in full (3+3)
    assert(feed.inputFiles.length === 2, s"expected 2 scanned files, got ${feed.inputFiles.toSeq}")
    // a bloom-index commit carries every data file by reference, so its
    // diff against its base is file-identical → EMPTY feed from an
    // EMPTY scan
    val v3 = Warehouse.indexSnapshot(spark, root, "id")
    val rb = Warehouse.snapshotDiff(spark, root, 2L, v3, Seq("id"))
    assert(rb.isEmpty && rb.inputFiles.isEmpty)
  }

  test("applyChangeFeed round-trip law: apply(old, diff(old, new)) == new") {
    val oldSt = Seq((1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")).toDF("k", "v", "tag")
    val newSt = Seq((2, 99.0, "b"), (3, 30.0, "c"), (4, 40.0, "d")).toDF("k", "v", "tag")
    val replayed = Warehouse.applyChangeFeed(oldSt,
      Warehouse.diffFrames(oldSt, newSt, Seq("k")), Seq("k"))
    assert(replayed.orderBy("k").collect().toSeq === newSt.orderBy("k").collect().toSeq)
  }

  test("mergeInto/diffFrames: NULL merge keys carry no identity — never matched") {
    import org.apache.spark.sql.functions.lit
    val target = Seq((Some(1), 1.0), (None: Option[Int], 2.0)).toDF("k", "v")
    // TWO NULL-keyed source rows: no multiple-match hazard (each is an
    // unambiguous insert), so the uniqueness guard must not fire
    val source = Seq((None: Option[Int], 9.0), (None: Option[Int], 8.0)).toDF("k", "v")
    // a NULL-keyed source row matches NO target row (not even the
    // NULL-keyed one): it goes down the insert path; the NULL-keyed
    // target row is untouched
    val merged = Warehouse.mergeInto(target, source, Seq("k"), Seq(
      Warehouse.UpdateWhen(lit(true), Map("v" -> org.apache.spark.sql.functions.col("s.v"))),
      Warehouse.InsertWhen(lit(true))))
    assert(merged.collect().map(r => (Option(r.get(0)), r.getDouble(1))).toSet ===
      Set((Some(1), 1.0), (None, 2.0), (None, 9.0), (None, 8.0)))
    // the change feed covers the KEYED subspace only: NULL-keyed rows
    // appear as neither phantom deletes nor inserts (a feed entry for
    // them could never be applied), so diff/apply round-trips cleanly
    val feed = Warehouse.diffFrames(target, source, Seq("k"))
      .collect().map(r => (Option(r.get(0)), r.getString(2))).toSet
    assert(feed === Set((Some(1), "delete")))
    // round-trip on the keyed subspace: unchanged NULL-keyed rows are
    // NOT duplicated by a diff/apply cycle
    val same = Warehouse.applyChangeFeed(target,
      Warehouse.diffFrames(target, target, Seq("k")), Seq("k"))
    assert(same.collect().map(r => (Option(r.get(0)), r.getDouble(1)).toString).sorted.toSeq ===
      target.collect().map(r => (Option(r.get(0)), r.getDouble(1)).toString).sorted.toSeq)
  }

  test("snapshotVersionAt: timestamp time travel resolves the as-of version") {
    val root = java.nio.file.Files.createTempDirectory("graft_asof").toString + "/t"
    Warehouse.commitSnapshot(Seq((1, "v1")).toDF("k", "v"), root, 0L)
    val between = System.currentTimeMillis()
    Thread.sleep(1100) // local-FS mtime can be second-granular
    Warehouse.commitSnapshot(Seq((1, "v2")).toDF("k", "v"), root, 1L)
    assert(Warehouse.snapshotVersionAt(spark, root, between) === 1L)
    assert(Warehouse.readSnapshot(spark, root, Some(Warehouse.snapshotVersionAt(spark, root, between)))
      .collect().head.getString(1) === "v1")
    assert(Warehouse.snapshotVersionAt(spark, root, System.currentTimeMillis()) === 2L)
    intercept[IllegalArgumentException] { // before the first commit: no as-of version
      Warehouse.snapshotVersionAt(spark, root, 0L)
    }
  }

  test("in-commit timestamps: time travel survives refreshed file mtimes (X209)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ict").toString + "/t"
    Warehouse.commitSnapshot(Seq((1, "v1")).toDF("k", "v"), root, 0L)
    val between = System.currentTimeMillis()
    Thread.sleep(50) // manifest-recorded instants are millisecond-exact
    Warehouse.commitSnapshot(Seq((1, "v2")).toDF("k", "v"), root, 1L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a table copy that refreshed every mtime (distcp/rsync):
    // markers and version dirs all claim "now" — the recorded
    // committedAtMs must still resolve the bracket correctly
    val future = System.currentTimeMillis() + 3600 * 1000
    Seq(s"$root/_commit-v1", s"$root/_commit-v2", s"$root/v=1", s"$root/v=2")
      .foreach(p => fs.setTimes(new org.apache.hadoop.fs.Path(p), future, -1))
    assert(Warehouse.snapshotVersionAt(spark, root, between) === 1L,
      "mtime-based resolution would see no version at or before `between`")
    assert(Warehouse.snapshotVersionAt(spark, root, between, ceil = true) === 2L)
    // re-committing v1's content lands at its OWN instant, not v1's
    Warehouse.commitSnapshot(Warehouse.readSnapshot(spark, root, Some(1L)), root, 2L)
    assert(Warehouse.snapshotVersionAt(spark, root, System.currentTimeMillis()) === 3L)
    assert(Warehouse.snapshotVersionAt(spark, root, between) === 1L)
  }

  test("vacuum reclaims stale staging debris, never live data or commit markers") {
    val root = java.nio.file.Files.createTempDirectory("graft_vac").toString + "/t"
    Warehouse.commitSnapshot(Seq((1, "x")).toDF("k", "v"), root, 0L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = new org.apache.hadoop.fs.Path(s"$root/_staging-dead1")
    fs.mkdirs(stale)
    fs.setTimes(stale, System.currentTimeMillis() - 3600 * 1000, -1)
    val fresh = new org.apache.hadoop.fs.Path(s"$root/_staging-live2")
    fs.mkdirs(fresh) // a LIVE writer's staging: inside the grace, kept
    val deleted = Warehouse.vacuum(spark, root, graceMs = 60000L)
    assert(deleted.map(p => p.substring(p.lastIndexOf('/') + 1)) === Seq("_staging-dead1"))
    assert(fs.exists(fresh) && fs.exists(new org.apache.hadoop.fs.Path(s"$root/v=1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_commit-v1")))
    assert(Warehouse.readSnapshot(spark, root).count() === 1)
  }

  private def hfs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("compact refuses a snapshot table root; compactSnapshot commits a NEW version") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_csnap").toString + "/t"
    val df = spark.range(0, 200).toDF("id").repartition(8)
    Warehouse.writeSnapshot(df, root)
    // in-place compact would rewrite the immutable v=1 and orphan its
    // manifest (r9 verdict #1) — refused, naming the right tool
    val e = intercept[IllegalArgumentException] { Warehouse.compact(spark, root) }
    assert(e.getMessage.contains("compactSnapshot"))
    val v1Files = hfs(root).listStatus(new org.apache.hadoop.fs.Path(s"$root/v=1"))
      .filter(_.isFile).map(s => s.getPath.getName -> s.getLen).toMap
    val (next, n) = Warehouse.compactSnapshot(spark, root)
    assert(next === 2L && n === 1)
    // old version: byte-identical files, still readable pinned, with a
    // valid manifest
    val v1After = hfs(root).listStatus(new org.apache.hadoop.fs.Path(s"$root/v=1"))
      .filter(_.isFile).map(s => s.getPath.getName -> s.getLen).toMap
    assert(v1After === v1Files, "compactSnapshot must not touch committed files")
    assert(Warehouse.readSnapshot(spark, root, Some(1L)).count() === 200)
    // new version: same data, fewer files, manifest matches the dir
    val latest = Warehouse.readSnapshot(spark, root)
    assert(latest.count() === 200)
    assert(latest.agg(org.apache.spark.sql.functions.sum(col("id"))).head.getLong(0) === 199L * 200 / 2)
    assert(latest.inputFiles.length === 1)
    val listed = hfs(root).listStatus(new org.apache.hadoop.fs.Path(s"$root/v=2"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")).map(_.getPath.getName).toSet
    assert(latest.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet === listed,
      "manifest-planned file list must match the committed directory")
  }

  test("compact skips rewriteAtomic crash debris in a partitioned tree; vacuumTable reaps it") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_debris").toString + "/t"
    val df = spark.range(0, 40).toDF("id").withColumn("grp", col("id") % 2)
    Warehouse.writePartitioned(df, root, Seq("grp"))
    val fs = hfs(root)
    // crashed rewrite of partition dir grp=0: staging debris whose name
    // still contains '=' — pre-r10 compact recursed into it as a
    // "partition" and rewrote garbage back into the tree (r9 verdict #2)
    val debris = new org.apache.hadoop.fs.Path(s"$root/grp=0.staging-deadbeef")
    spark.range(0, 5).toDF("id").write.parquet(debris.toString)
    def debrisListing() = fs.listStatus(debris)
      .map(s => s.getPath.getName -> s.getLen).toMap
    val before = debrisListing()
    Warehouse.compact(spark, root, targetFileBytes = 1L << 20)
    assert(fs.exists(debris) && debrisListing() === before,
      "compact must neither rewrite nor reap crash debris")
    assert(spark.read.parquet(s"$root/grp=0").count() === 20)
    assert(spark.read.parquet(s"$root/grp=1").count() === 20)
    // vacuumTable reaps it once stale
    Thread.sleep(150)
    val reaped = Warehouse.vacuumTable(spark, root, graceMs = 100L)
    assert(reaped.exists(_.endsWith("grp=0.staging-deadbeef")))
    assert(!fs.exists(debris))
    assert(spark.read.parquet(root).count() === 40)
  }

  test("vacuumTable repairs a crash between retire and promote (restore, never reap)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_repair").toString
    val root = s"$dir/t"
    spark.range(0, 10).toDF("id").write.parquet(root)
    val fs = hfs(root)
    // simulate rewriteAtomic crashing after retiring the live dir but
    // before promoting staging: dest missing, retired holds the ONLY data
    val retired = new org.apache.hadoop.fs.Path(s"$root.retired-deadbeef")
    assert(fs.rename(new org.apache.hadoop.fs.Path(root), retired))
    val staging = new org.apache.hadoop.fs.Path(s"$root.staging-deadbeef")
    spark.range(0, 20).toDF("id").write.parquet(staging.toString)
    Thread.sleep(150)
    val reaped = Warehouse.vacuumTable(spark, root, graceMs = 100L)
    // retired restored to the table path; staging (the uncommitted new
    // write) reaped; the table reads its pre-rewrite state
    assert(fs.exists(new org.apache.hadoop.fs.Path(root)) && !fs.exists(retired))
    assert(reaped.exists(_.endsWith(".staging-deadbeef")) && !fs.exists(staging))
    assert(spark.read.parquet(root).count() === 10)
  }

  test("deleteWhere rewrites ONLY the touched files; untouched carried by reference") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_delw").toString + "/t"
    val df = spark.range(0, 300).toDF("id").withColumn("user", concat(lit("u"), col("id") % 100))
    Warehouse.writeSnapshot(df.repartitionByRange(3, col("id")), root)
    val fs = hfs(root)
    val v1Files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/v=1"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(s => s.getPath.getName -> s.getLen).toMap
    assert(v1Files.size === 3)
    // erase one user (3 rows, all with id % 100 == 7 — ids 7, 107, 207
    // land in DIFFERENT range files, so this touches all three; erase a
    // single id instead to keep two files untouched)
    val next = Warehouse.deleteWhere(spark, root, col("id") === 5)
    assert(next === 2L)
    val latest = Warehouse.readSnapshot(spark, root)
    assert(latest.count() === 299 && latest.filter(col("id") === 5).isEmpty)
    // pinned history intact
    assert(Warehouse.readSnapshot(spark, root, Some(1L)).count() === 300)
    // exactly one file rewritten; the other two carried by reference
    // ("v=1/..." entries in the v=2 manifest) and byte-identical on disk
    val m2 = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
      new org.apache.hadoop.fs.Path(s"$root/_manifest-v2"))
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(m2.toString)), "UTF-8")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(mf)
    val entries = (0 until node.get("files").size()).map(node.get("files").get(_).asText())
    val carried = entries.filter(_.startsWith("v=1/"))
    assert(carried.size === 2, s"expected 2 carried references, got $entries")
    carried.foreach { e =>
      val name = e.stripPrefix("v=1/")
      assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$root/$e")).getLen === v1Files(name),
        s"carried file $e must be byte-identical")
    }
    assert(node.get("rowCount").asLong === 299L)
    // latest read plans exactly the manifest's files (2 shared + rewritten)
    assert(latest.inputFiles.length === entries.size)
    // no-match predicate: no empty commit, version unchanged
    assert(Warehouse.deleteWhere(spark, root, col("id") === 99999) === 2L)
    // a second delete composes (against the file-sharing version)
    assert(Warehouse.deleteWhere(spark, root, col("user") === "u7") === 3L)
    val v3 = Warehouse.readSnapshot(spark, root)
    assert(v3.count() === 296 && v3.filter(col("user") === "u7").isEmpty)
  }

  test("expireSnapshots is reachability-aware: shared files outlive their home version") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_reach").toString + "/t"
    Warehouse.writeSnapshot(
      spark.range(0, 300).toDF("id").repartitionByRange(3, col("id")), root)
    Warehouse.deleteWhere(spark, root, col("id") === 5) // v2 shares 2 files of v1
    val fs = hfs(root)
    // expiring v1 keeps ONLY the files v2's manifest references
    assert(Warehouse.expireSnapshots(spark, root, keepLast = 1) === Seq(1L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_expired-v1")))
    assert(Warehouse.snapshots(spark, root) === Seq(2L))
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/v=1"))
      .filter(_.isFile).map(_.getPath.getName)
    assert(leftover.length === 2 && leftover.forall(!_.startsWith("_")))
    // the expired version refuses reads instead of returning partial data
    intercept[IllegalArgumentException] { Warehouse.readSnapshot(spark, root, Some(1L)) }
    // the live version still reads completely through the shared files
    val v2 = Warehouse.readSnapshot(spark, root)
    assert(v2.count() === 299)
    // compactSnapshot materializes the references; the next expire
    // releases v1's leftovers entirely (second-order sweep)
    Warehouse.compactSnapshot(spark, root)
    Warehouse.expireSnapshots(spark, root, keepLast = 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v=1")), "released shared files reaped")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_expired-v1")))
    assert(Warehouse.readSnapshot(spark, root).count() === 299)
  }

  test("vacuum reaps a deleteWhere version that crashed before its manifest published") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_partial").toString + "/t"
    Warehouse.writeSnapshot(spark.range(0, 10).toDF("id"), root)
    val fs = hfs(root)
    // simulate the crash window: v=2 promoted with its _partial marker,
    // claim marker present, manifest never published
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v=2"))
    fs.create(new org.apache.hadoop.fs.Path(s"$root/v=2/_partial"), true).close()
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_commit-v2"), true).close()
    // the listing fallback refuses the partial version LOUDLY
    val e = intercept[IllegalArgumentException] { Warehouse.readSnapshot(spark, root, Some(2L)) }
    assert(e.getMessage.contains("file-sharing"))
    Thread.sleep(150)
    val reaped = Warehouse.vacuum(spark, root, graceMs = 100L)
    assert(reaped.exists(_.endsWith("v=2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v=2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_commit-v2")))
    assert(Warehouse.currentSnapshot(spark, root) === 1L)
    assert(Warehouse.readSnapshot(spark, root).count() === 10)
  }

  test("readSnapshotRange prunes files from manifest stats; results identical to full read") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_stats").toString + "/t"
    val df = spark.range(0, 120).toDF("id")
      .withColumn("d", date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id").cast("int")))
      .withColumn("name", concat(lit("doc-"), format_string("%03d", col("id"))))
    Warehouse.writeSnapshot(df.repartitionByRange(3, col("d")), root)
    val full = Warehouse.readSnapshot(spark, root)
    assert(full.inputFiles.length === 3)
    // long bound: only the file containing the max id survives
    val hiId = Warehouse.readSnapshotRange(spark, root, "id", lower = Some(119L))
    assert(hiId.inputFiles.length === 1, "stats must prune to the one overlapping file")
    assert(hiId.collect().map(_.getLong(0)).toSeq === Seq(119L))
    // date bound (epoch-day stats): strictly fewer files than the full
    // read, same rows as the unpruned filtered read
    val d0 = "2024-04-25" // day 115
    val pruned = Warehouse.readSnapshotRange(spark, root, "d", lower = Some(d0))
    assert(pruned.inputFiles.length < full.inputFiles.length)
    val expected = full.filter(col("d") >= lit(java.sql.Date.valueOf(d0)))
    assert(pruned.orderBy("id").collect().toSeq === expected.orderBy("id").collect().toSeq)
    // string bound (ASCII stats), both ends
    val mid = Warehouse.readSnapshotRange(spark, root, "name",
      lower = Some("doc-115"), upper = Some("doc-117"))
    assert(mid.inputFiles.length === 1)
    assert(mid.orderBy("id").collect().map(_.getString(2)).toSeq ===
      Seq("doc-115", "doc-116", "doc-117"))
    // a range with no overlapping file reads empty without touching parquet
    val none = Warehouse.readSnapshotRange(spark, root, "id", lower = Some(10000L))
    assert(none.inputFiles.isEmpty && none.isEmpty)
    // pruning respects pinned versions and deleteWhere file sharing
    Warehouse.deleteWhere(spark, root, col("id") === 119)
    val shared = Warehouse.readSnapshotRange(spark, root, "id", lower = Some(100L))
    assert(shared.collect().map(_.getLong(0)).sorted.toSeq === (100L to 118L))
  }

  test("manifest stats never prune on untrusted types (decimal) or timestamps' unit drift") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_stsafe").toString + "/t"
    // decimal(9,2) lands as UNSCALED INT32/INT64 in parquet: raw stats
    // (1234 for 12.34) must be SKIPPED, not compared against scaled
    // bounds — the wrong-prune hazard this test pins
    val df = spark.range(0, 90).toDF("id")
      .withColumn("amt", (col("id") / lit(4)).cast("decimal(9,2)"))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("id") * 3600))
    // Spark's default parquet timestamp encoding is legacy INT96, which
    // carries no usable stats; annotated TIMESTAMP_MICROS is what a
    // stats-pruning table should write (and what the normalizer reads)
    val prevTs = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try Warehouse.writeSnapshot(df.repartitionByRange(3, col("id")), root)
    finally prevTs match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val full = Warehouse.readSnapshot(spark, root)
    // decimal bound: no stats recorded → nothing pruned, results exact
    val amts = Warehouse.readSnapshotRange(spark, root, "amt",
      lower = Some(new java.math.BigDecimal("20.00")))
    assert(amts.inputFiles.length === full.inputFiles.length,
      "decimal stats must be absent (conservative keep), never mis-pruned")
    assert(amts.count() === full.filter(col("amt") >= lit(new java.math.BigDecimal("20.00"))).count())
    // timestamp bound (micros-normalized stats): prunes AND stays exact
    val cut = java.time.Instant.ofEpochSecond(1700000000L + 80 * 3600)
    val late = Warehouse.readSnapshotRange(spark, root, "ts", lower = Some(cut))
    assert(late.inputFiles.length < full.inputFiles.length, "timestamp stats must prune")
    assert(late.count() === full.filter(col("ts") >= lit(java.sql.Timestamp.from(cut))).count())
  }

  test("clustered compactSnapshot makes manifest stats prune on EVERY clustered column") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_zopt").toString + "/t"
    // x and y independent → a 1-D sort could only tighten one of them
    val df = spark.range(0, 20000).toDF("id")
      .withColumn("x", pmod(col("id") * 7919, lit(10000)))
      .withColumn("y", pmod(col("id") * 104729, lit(10000)))
      .repartition(8) // random layout: every file spans ~the full x/y range
    Warehouse.writeSnapshot(df, root)
    // random layout: a narrow range on x prunes (almost) nothing
    val before = Warehouse.readSnapshotRange(spark, root, "x", Some(0L), Some(199L))
    assert(before.inputFiles.length === 8, "unclustered files all overlap a narrow range")
    val bytes = hfs(root).getContentSummary(
      new org.apache.hadoop.fs.Path(s"$root/v=1")).getLength
    val (v2, n) = Warehouse.compactSnapshot(spark, root,
      targetFileBytes = bytes / 8 + 1, clusterCols = Seq("x", "y"))
    assert(v2 === 2L && n >= 4, s"want a multi-file clustered rewrite, got $n")
    val expectedX = df.filter(col("x").between(0, 199)).orderBy("id").collect().toSeq
    val prunedX = Warehouse.readSnapshotRange(spark, root, "x", Some(0L), Some(199L))
    assert(prunedX.inputFiles.length < n, "z-order must prune x-ranged reads")
    assert(prunedX.orderBy("id").collect().toSeq === expectedX)
    val prunedY = Warehouse.readSnapshotRange(spark, root, "y", Some(0L), Some(199L))
    assert(prunedY.inputFiles.length < n, "z-order must prune y-ranged reads too")
    assert(prunedY.orderBy("id").collect().toSeq ===
      df.filter(col("y").between(0, 199)).orderBy("id").collect().toSeq)
  }

  test("deleteWhere scanBound restricts the discovery scan via manifest stats") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_dwb").toString + "/t"
    Warehouse.writeSnapshot(
      spark.range(0, 300).toDF("id").repartitionByRange(3, col("id")), root)
    // a bound that (deliberately, wrongly) excludes the file holding
    // id=5 proves the bound actually gates the scan: nothing found
    assert(Warehouse.deleteWhere(spark, root, col("id") === 5,
      scanBound = Some(("id", Some(250L), Some(299L)))) === 1L)
    assert(Warehouse.readSnapshot(spark, root).count() === 300)
    // correct bound: the delete lands; files outside the bound are
    // untouched-by-contract (carried by reference, never opened)
    assert(Warehouse.deleteWhere(spark, root, col("id") === 5,
      scanBound = Some(("id", Some(5L), Some(5L)))) === 2L)
    val latest = Warehouse.readSnapshot(spark, root)
    assert(latest.count() === 299 && latest.filter(col("id") === 5).isEmpty)
  }

  test("updateWhere rewrites only touched files, applies SET to matching rows, keeps schema") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_updw").toString + "/t"
    val df = spark.range(0, 300).toDF("id")
      .withColumn("v", (col("id") * 2).cast("double"))
      .withColumn("tag", lit("keep"))
    Warehouse.writeSnapshot(df.repartitionByRange(3, col("id")), root)
    val next = Warehouse.updateWhere(spark, root, col("id") === 7,
      set = Map("v" -> (col("v") + 1000), "tag" -> lit("fixed")))
    assert(next === 2L)
    val latest = Warehouse.readSnapshot(spark, root)
    // names/types only: the parquet round-trip widens nullability
    assert(latest.schema.map(f => f.name -> f.dataType) ===
      df.schema.map(f => f.name -> f.dataType), "SET must not drift the schema")
    val updated = latest.filter(col("id") === 7).head
    assert(updated.getDouble(1) === 1014.0 && updated.getString(2) === "fixed")
    // every other row untouched, incl. the touched file's neighbors
    assert(latest.filter(col("id") =!= 7).filter(col("tag") =!= "keep").isEmpty)
    assert(latest.count() === 300)
    // only one file rewritten; two carried by reference
    val mf = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
      new org.apache.hadoop.fs.Path(s"$root/_manifest-v2"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(mf.toString)), "UTF-8"))
    val entries = (0 until node.get("files").size()).map(node.get("files").get(_).asText())
    assert(entries.count(_.startsWith("v=1/")) === 2, s"expected 2 carried refs: $entries")
    // pinned history intact; unknown SET column rejected; no-match no-op
    assert(Warehouse.readSnapshot(spark, root, Some(1L))
      .filter(col("id") === 7).head.getString(2) === "keep")
    intercept[IllegalArgumentException] {
      Warehouse.updateWhere(spark, root, col("id") === 1, Map("nope" -> lit(1)))
    }
    // validation is EAGER: a typo'd SET column throws even when the
    // predicate matches nothing (no silent "successful no-op")
    intercept[IllegalArgumentException] {
      Warehouse.updateWhere(spark, root, col("id") === 99999, Map("nope" -> lit(1)))
    }
    assert(Warehouse.updateWhere(spark, root, col("id") === 99999,
      Map("tag" -> lit("x"))) === 2L)
  }

  test("expireSnapshots refuses when a RETAINED file-sharing version has no readable manifest") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_expguard").toString + "/t"
    Warehouse.writeSnapshot(spark.range(0, 50).toDF("id"), root)
    val fs = hfs(root)
    // crash-gap state AT THE HEAD: v=2 promoted with _partial, manifest
    // never published. Its rows exist only via untraceable references —
    // expiring v1 here would delete the only good data (review r10 #1)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v=2"))
    fs.create(new org.apache.hadoop.fs.Path(s"$root/v=2/_partial"), true).close()
    val e = intercept[IllegalArgumentException] {
      Warehouse.expireSnapshots(spark, root, keepLast = 1)
    }
    assert(e.getMessage.contains("file-sharing"))
    assert(Warehouse.readSnapshot(spark, root, Some(1L)).count() === 50, "v1 untouched")
  }

  test("vacuum never reaps a partial dir that live manifests still reference") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_vacref").toString + "/t"
    Warehouse.writeSnapshot(
      spark.range(0, 300).toDF("id").repartitionByRange(3, col("id")), root)
    Warehouse.deleteWhere(spark, root, col("id") === 5)   // v2: refs v=1/B, v=1/C
    Warehouse.deleteWhere(spark, root, col("id") === 150) // v3: refs v=2/A', v=1/C
    val fs = hfs(root)
    val v3refs = {
      val mf = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
        new org.apache.hadoop.fs.Path(s"$root/_manifest-v3"))
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(mf.toString)), "UTF-8"))
      (0 until node.get("files").size()).map(node.get("files").get(_).asText())
    }
    assert(v3refs.exists(_.startsWith("v=2/")), s"fixture needs a live ref into v=2: $v3refs")
    // simulate an expire that crashed after deleting v2's manifest but
    // before its sweep: v=2 now has `_partial` (every deleteWhere
    // version does) and no manifest — the exact state vacuum's partial
    // reap matches, but v3's data lives in that dir (review r10 #2)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_manifest-v2"), false)
    Thread.sleep(150)
    val reaped = Warehouse.vacuum(spark, root, graceMs = 100L)
    assert(!reaped.exists(_.endsWith("v=2")), "referenced partial dir must survive vacuum")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/v=2")))
    assert(Warehouse.readSnapshot(spark, root).count() === 298, "v3 reads completely")
  }

  test("a crashed expire (marker created, teardown unfinished) completes on the next run") {
    val root = java.nio.file.Files.createTempDirectory("graft_expcrash").toString + "/t"
    Warehouse.writeSnapshot(spark.range(0, 10).toDF("id"), root)
    Warehouse.writeSnapshot(spark.range(0, 20).toDF("id"), root)
    val fs = hfs(root)
    // crash right after the marker fence: dir, manifest, commit marker
    // all still present — but the version is already invisible and
    // refused, never silently scanned (review r10 #3)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_expired-v1"), true).close()
    assert(Warehouse.snapshots(spark, root) === Seq(2L))
    // next expire finishes the teardown via the re-sweep
    Warehouse.expireSnapshots(spark, root, keepLast = 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v=1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_manifest-v1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_expired-v1")))
    assert(Warehouse.readSnapshot(spark, root).count() === 20)
  }

  test("deleteWhere reuses carried files' manifest info — no footer re-reads, no file opens") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_reuse").toString + "/t"
    Warehouse.writeSnapshot(
      spark.range(0, 300).toDF("id").repartitionByRange(3, col("id")), root)
    Warehouse.deleteWhere(spark, root, col("id") === 5) // v2: A' + refs v=1/B, v=1/C
    val fs = hfs(root)
    // physically remove a carried file: if the next deleteWhere touched
    // it in ANY way — discovery scan, rewrite, or a manifest footer
    // re-read (review r10 #4) — it would throw FileNotFound. With a
    // scanBound restricting discovery to the A-range file and manifest
    // reuse supplying the carried bytes/rows/stats, it must succeed.
    // find which v=1 file holds the TOP id range (one the stats exclude
    // for a bound at id=6): read each file's max id
    val byMax = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/v=1"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")).map(_.getPath)
      .map(p => p -> spark.read.parquet(p.toString).agg(max(col("id"))).head.getLong(0))
    val topFile = byMax.maxBy(_._2)._1
    fs.delete(topFile, false)
    val next = Warehouse.deleteWhere(spark, root, col("id") === 6,
      scanBound = Some(("id", Some(6L), Some(6L))))
    assert(next === 3L, "commit must succeed without touching the deleted carried file")
    // the new manifest still carries the (now missing) file by
    // reference with its reused accounting intact
    val mf = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
      new org.apache.hadoop.fs.Path(s"$root/_manifest-v3"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(mf.toString)), "UTF-8"))
    val entries = (0 until node.get("files").size()).map(node.get("files").get(_).asText())
    assert(entries.contains(s"v=1/${topFile.getName}"))
    assert(node.get("rowCount").asLong === 298L, "reused per-file rows sum correctly")
  }

  test("deleteWhere loses a claim race retry-ably and leaves no staging debris") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_dwrace").toString + "/t"
    Warehouse.writeSnapshot(spark.range(0, 50).toDF("id"), root)
    val fs = hfs(root)
    // another writer claimed v2 between our version read and our claim
    // (fresh marker — no orphan lease to break)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_commit-v2"), true).close()
    intercept[Warehouse.SnapshotConflictException] {
      Warehouse.deleteWhere(spark, root, col("id") === 5)
    }
    // conflict loser cleans its staging; the table is untouched
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .exists(_.getPath.getName.startsWith("_staging-")))
    assert(Warehouse.readSnapshot(spark, root).count() === 50)
  }

  test("schema evolution across snapshot versions survives file-sharing commits") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_evosnap").toString + "/t"
    Warehouse.writeSnapshot(spark.range(0, 100).toDF("id"), root)
    // widened table state lands as a NEW version (each version owns its
    // schema via the manifest)
    val widened = spark.range(0, 100).toDF("id")
      .withColumn("quality", (col("id") % 5).cast("double"))
      .repartitionByRange(2, col("id"))
    Warehouse.commitSnapshot(widened, root, expectedVersion = 1L)
    // a file-sharing delete on the widened version carries its files
    // and its WIDENED schema forward
    val v3 = Warehouse.deleteWhere(spark, root, col("id") === 7)
    assert(v3 === 3L)
    val latest = Warehouse.readSnapshot(spark, root)
    assert(latest.columns.toSeq === Seq("id", "quality") && latest.count() === 99)
    // pinned reads see each version's own schema
    assert(Warehouse.readSnapshot(spark, root, Some(1L)).columns.toSeq === Seq("id"))
    assert(Warehouse.readSnapshot(spark, root, Some(2L)).columns.toSeq === Seq("id", "quality"))
    // updateWhere on the widened column composes on top
    Warehouse.updateWhere(spark, root, col("id") === 8, Map("quality" -> lit(99.0)))
    assert(Warehouse.readSnapshot(spark, root)
      .filter(col("id") === 8).head.getDouble(1) === 99.0)
  }

  test("pruning law: readSnapshotRange equals the unpruned filtered read over random bounds") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_prunelaw").toString + "/t"
    val rnd = new scala.util.Random(777L)
    // mixed-type table with values the stats machinery must compare in
    // three spaces (long, double, ASCII string, date) — plus negatives
    // and duplicated values at file boundaries
    val rows = (0 until 500).map { _ =>
      val k = rnd.nextInt(2000) - 1000
      (k.toLong, k * 0.5 - 3.25, f"s${k + 1000}%04d",
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(365))))
    }
    val df = rows.toDF("l", "d", "s", "dt")
    Warehouse.writeSnapshot(df.repartitionByRange(5, col("l")), root)
    val full = Warehouse.readSnapshot(spark, root)
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf).mkString("|")
    for (i <- 1 to 15) {
      val (column, lo, hi, loLit, hiLit) = rnd.nextInt(4) match {
        case 0 =>
          val a = rnd.nextInt(2400) - 1200; val b = a + rnd.nextInt(600)
          ("l", a.toLong: Any, b.toLong: Any, lit(a.toLong), lit(b.toLong))
        case 1 =>
          val a = rnd.nextDouble() * 1000 - 500; val b = a + rnd.nextDouble() * 200
          ("d", a: Any, b: Any, lit(a), lit(b))
        case 2 =>
          val a = rnd.nextInt(2000); val b = a + rnd.nextInt(500)
          ("s", f"s$a%04d": Any, f"s$b%04d": Any, lit(f"s$a%04d"), lit(f"s$b%04d"))
        case _ =>
          val a = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(400) - 20)
          val b = a.plusDays(rnd.nextInt(120))
          ("dt", a: Any, b: Any,
            lit(java.sql.Date.valueOf(a)), lit(java.sql.Date.valueOf(b)))
      }
      val pruned = Warehouse.readSnapshotRange(spark, root, column, Some(lo), Some(hi))
      val expected = full.filter(col(column) >= loLit && col(column) <= hiLit)
      assert(pruned.collect().map(key).sorted.toSeq ===
        expected.collect().map(key).sorted.toSeq,
        s"iteration $i: $column in [$lo, $hi] diverged (pruning must be conservative)")
    }
  }

  test("pointer publish has no absent window: concurrent reads during an advance storm never miss (advice r10)") {
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("graft_ptratomic").toString + "/t"
    Warehouse.writeSnapshot(spark.range(0, 10).toDF("id"), root)
    val fs = hfs(root)
    val ptr = new Path(s"$root/_latest")
    val missed = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probe = new Thread(() => {
      while (!stop.get()) if (!fs.exists(ptr)) missed.incrementAndGet()
    })
    probe.start()
    // an advance storm: pre-r11 each swap deleted the pointer before
    // renaming the replacement in, so the probe would observe absence
    for (i <- 2 to 202) Commit.advancePointer(fs, root, i.toLong)
    stop.set(true); probe.join()
    assert(missed.get() === 0, s"_latest was absent ${missed.get()} times mid-advance")
    // the swap also lands: the final advance is the pointer's value
    assert(Commit.readPointerFile(fs, ptr) === Some(202L))
  }

  test("snapshotDiff pruneShared=false: correct under duplicate keys where the pruned feed phantoms (advice r10)") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_cdcdup").toString + "/t"
    // duplicate key k=1 with its copies in DIFFERENT files: file A
    // holds (1,"a"); file B holds (1,"b") and (2,"c") — parallelize
    // with 2 slices pins placement positionally (a union of local
    // relations would be folded back into one partition by Catalyst)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq((1, "a"), (1, "b"), (2, "c")), 2))
      .toDF("k", "v")
    Warehouse.writeSnapshot(df, root)
    // erase the (1,"b") copy: file B is rewritten, file A carried by
    // reference — the exact advice scenario
    Warehouse.deleteWhere(spark, root, col("v") === "b")
    // pruned diff excludes the shared file A from BOTH sides, so it
    // cannot see the surviving (1,"a") copy and emits a phantom
    // delete for k=1 (this documents the sharpened contract)
    val pruned = Warehouse.snapshotDiff(spark, root, 1L, 2L, Seq("k"))
      .filter(col("_change_type") === "delete" && col("k") === 1)
    assert(!pruned.isEmpty, "expected the documented phantom under duplicate keys")
    // the opt-out reads both versions in FULL: k=1 still has a live
    // copy, so no delete is emitted
    val full = Warehouse.snapshotDiff(spark, root, 1L, 2L, Seq("k"), pruneShared = false)
    assert(full.filter(col("_change_type") === "delete" && col("k") === 1).isEmpty)
    assert(full.inputFiles.length === 3, "opt-out must read every file of both versions")
  }

  test("snapshotHistory: one row per live version with manifest metrics and sharing flag") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_hist").toString + "/t"
    Warehouse.writeSnapshot(
      spark.range(0, 300).toDF("id").repartitionByRange(3, col("id")), root)
    Warehouse.deleteWhere(spark, root, col("id") === 5)
    val h = Warehouse.snapshotHistory(spark, root).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(h(0).getLong(2) === 300L && h(0).getInt(4) === 3 && !h(0).getBoolean(5))
    assert(h(1).getLong(2) === 299L && h(1).getBoolean(5), "deleteWhere version is file-sharing")
    assert(!h(0).isNullAt(1) && h(0).getTimestamp(1).getTime <= h(1).getTimestamp(1).getTime)
    // expired versions drop out of history
    Warehouse.expireSnapshots(spark, root, keepLast = 1)
    assert(Warehouse.snapshotHistory(spark, root).collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("diffFrames rejects duplicate-column multiplicity drift with a clear message") {
    val a = Seq((1, 2.0)).toDF("k", "v")
    val b = a.select($"k", $"v", $"v") // two columns named v
    val e = intercept[IllegalArgumentException] { Warehouse.diffFrames(a, b, Seq("k")) }
    assert(e.getMessage.contains("names/types differ"))
  }

  // ---- the empty-append contract of the write-then-check append ----

  private def tableDebris(root: String): Seq[String] =
    new java.io.File(root).listFiles().map(_.getName).toSeq
      .filter(n => n.startsWith("_staging-") || n.startsWith("_commit-v")).sorted

  private def versionDirs(root: String): Seq[String] =
    new java.io.File(root).listFiles().map(_.getName).toSeq.filter(_.startsWith("v=")).sorted

  test("appendSnapshot: an empty batch returns the current version, no v= dir, staging dir or commit marker") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_empty_append").toString + "/t"
    Warehouse.commitSnapshot(spark.range(0, 10).toDF("id"), root, 0L)
    val (dirs, debris) = (versionDirs(root), tableDebris(root))
    // statically empty (a local relation, an empty range), emptied by a
    // filter at run time, and emptied under a range exchange (the index
    // refreshes' layout)
    Seq(Seq.empty[Long].toDF("id"), spark.range(0).toDF("id"),
      spark.range(0, 10).toDF("id").filter(col("id") > 100),
      spark.range(0, 10).toDF("id").filter(col("id") > 100).repartitionByRange(4, col("id")))
      .foreach { empty =>
        assert(Warehouse.appendSnapshot(empty, root, 1L) === 1L)
        assert(Warehouse.appendSnapshotIfAny(empty, root, 1L) === None)
      }
    assert(versionDirs(root) === dirs)
    assert(tableDebris(root) === debris, "no staging dir, no commit marker")
    assert(Warehouse.currentSnapshot(spark, root) === 1L)
    // a first append that lands nothing leaves no table behind
    val fresh = java.nio.file.Files.createTempDirectory("graft_empty_first").toString + "/t"
    assert(Warehouse.appendSnapshotIfAny(spark.range(0).toDF("id"), fresh, 0L) === None)
    assert(!new java.io.File(fresh).exists())
  }

  test("appendSnapshot: an empty batch whose schema fails the gate returns instead of throwing") {
    val root = java.nio.file.Files.createTempDirectory("graft_empty_schema").toString + "/t"
    Warehouse.commitSnapshot(spark.range(0, 10).toDF("id"), root, 0L)
    val debris = tableDebris(root)
    val wrong = Seq.empty[(String, Int)].toDF("name", "n")
    assert(Warehouse.appendSnapshot(wrong, root, 1L) === 1L)
    assert(Warehouse.appendSnapshotIfAny(wrong, root, 1L, evolveSchema = true) === None)
    assert(Warehouse.appendSnapshot(Seq.empty[String].toDF("id"), root, 1L,
      evolveSchema = true) === 1L, "a type change refuses rows, not an empty batch")
    assert(versionDirs(root) === Seq("v=1") && tableDebris(root) === debris)
    // the gate still refuses a batch that has rows
    val e = intercept[IllegalArgumentException](
      Warehouse.appendSnapshot(Seq(("a", 1)).toDF("name", "n"), root, 1L))
    assert(e.getMessage.contains("must match the committed schema exactly"), e.getMessage)
  }

  test("appendSnapshot: a batch emptied by a quarantine expectation still flushes its quarantine rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_empty_quarantine").toString + "/t"
    Warehouse.commitSnapshot(spark.range(0, 10).toDF("x"), root, 0L)
    Warehouse.setSnapshotExpectation(spark, root, "small", "x < 100", "quarantine")
    // a statically empty batch returns at once: the triage counts still
    // arrive (0), so nothing waits out the metrics listener's timeout
    val t0 = System.nanoTime()
    assert(Warehouse.appendSnapshotIfAny(Seq.empty[Long].toDF("x"), root, 1L) === None)
    assert(System.nanoTime() - t0 < 20L * 1000 * 1000 * 1000, "an empty batch waited on its metrics")
    assert(Warehouse.appendSnapshotIfAny(spark.range(200, 211).toDF("x"), root, 1L) === None)
    assert(Warehouse.currentSnapshot(spark, root) === 1L, "nothing committed to the main table")
    val q = Warehouse.readSnapshot(spark, Warehouse.quarantinePath(root))
    assert(q.select("x").as[Long].collect().sorted.toSeq === (200L to 210L))
  }

  test("commitStreamBatch: an empty epoch stamps nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft_empty_epoch").toString + "/t"
    Warehouse.commitSnapshot(spark.range(0, 10).toDF("id"), root, 0L)
    val debris = tableDebris(root)
    assert(Warehouse.commitStreamBatch(spark.range(0).toDF("id"), root, "empty-app", 0L) === 1L)
    assert(Warehouse.lastCommittedEpoch(spark, root, "empty-app") === None)
    assert(versionDirs(root) === Seq("v=1") && tableDebris(root) === debris)
    // the next epoch with rows stamps and lands as usual
    assert(Warehouse.commitStreamBatch(spark.range(10, 12).toDF("id"), root, "empty-app", 1L) === 2L)
    assert(Warehouse.lastCommittedEpoch(spark, root, "empty-app") === Some(1L))
  }

  test("appendSnapshot: the observed row count equals the rows the new version adds, under a range exchange") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_append_count").toString + "/t"
    Warehouse.commitSnapshot(spark.range(0, 100).toDF("id"), root, 0L)
    val session = spark.newSession() // its listener hears only this append
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        qe.observedMetrics.values.filter(_.schema.fieldNames.toSeq == Seq("rows"))
          .foreach(r => counts.add(r.getLong(0)))
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    try {
      // the range exchange's sampling job re-runs the plan below it
      val batch = session.range(1000, 6000, 1, 8).toDF("id").repartitionByRange(4, col("id"))
      assert(Warehouse.appendSnapshotIfAny(batch, root, 1L) === Some(2L))
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally session.listenerManager.unregister(listener)
    val added = Warehouse.snapshotRowCount(spark, root, Some(2L)).get -
      Warehouse.snapshotRowCount(spark, root, Some(1L)).get
    assert(added === 5000L)
    import scala.jdk.CollectionConverters._
    assert(counts.asScala.toSeq === Seq(added))
  }
}
