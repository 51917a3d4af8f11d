package graft.ext

import graft.SparkSpec
import graft.store.Warehouse
import org.apache.spark.sql.functions._

/** X250 persisted shingle-LSH index — the load-bearing claims:
  * (1) the persisted screen equals the inline md5-MinHash screen
  *     restricted to cross pairs (same banding, same verify — the
  *     bucket layer changes which FILES open, never which pairs
  *     verify), on planted docs and on the real sf0.001 corpus;
  * (2) screening opens ONLY the hit buckets' files (range layout +
  *     manifest stats), poison-pinned: corrupt every non-probed file,
  *     the screen still answers;
  * (3) refresh signs only NEW docs under the STORED meta (no catalog
  *     re-shingle), no-ops on a covered corpus, and appends (previous
  *     files carried by reference);
  * (4) the xxh performance mode matches ITS inline twin the same way;
  * (5) a torn rebuild (meta committed, index commit lost) REFUSES
  *     loudly instead of screening under mismatched parameters;
  * (6) the streaming sink is exactly-once by the anti-join's own
  *     idempotence, and maintenance keeps the bucket layout so
  *     compaction never kills pruning.
  */
class ShingleIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/t"

  private def sfDocs = graft.Tables.documents(spark, "/root/testdata/sf0.001")

  /** Inline md5 screen restricted to cross pairs, re-oriented as
    * (catalog doc, increment doc): the equivalence target. */
  private def inlineCross(all: org.apache.spark.sql.DataFrame,
                          isCatalog: Long => Boolean,
                          xxh: Boolean = false): Set[(Long, Long, Double)] = {
    val pairs =
      if (xxh) Dedup.minhashNearDups(all, n = 3, threshold = 0.5)
      else Dedup.minhashNearDupsMd5(all, n = 3, threshold = 0.5)
    pairs.collect().flatMap { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      if (isCatalog(a) && !isCatalog(b)) Some((a, b, j))
      else if (isCatalog(b) && !isCatalog(a)) Some((b, a, j))
      else None
    }.toSet
  }

  test("md5 screen == inline minhashNearDupsMd5 cross pairs (planted + sf0.001 parity split)") {
    // planted: catalog evens, increment odds; doc 3 is an exact clone
    // of catalog doc 2 (jaccard 1 -> every band agrees, deterministic
    // detection); doc 5 is novel
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val planted = Seq(
      (2L, base),
      (4L, "one two three four five six seven eight nine ten eleven twelve"),
      (3L, base),
      (5L, "red orange yellow green blue indigo violet cyan magenta white")
    ).toDF("doc_id", "text")
    val root = freshRoot("shidx")
    ShingleIndex.buildShingleIndex(planted.filter($"doc_id" % 2 === 0), root, n = 3)
    val got = ShingleIndex.nearDupAgainstShingleIndex(
      planted.filter($"doc_id" % 2 === 1), root, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((2L, 3L, 1.0)), s"clone must flag, novel must pass: $got")
    assert(got === inlineCross(planted, _ % 2 == 0))

    // real corpus: catalog = even ids, increment = odd ids
    val docs = sfDocs
    val root2 = freshRoot("shidx_sf")
    ShingleIndex.buildShingleIndex(docs.filter($"doc_id" % 2 === 0), root2, n = 3)
    val got2 = ShingleIndex.nearDupAgainstShingleIndex(
      docs.filter($"doc_id" % 2 === 1), root2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want2 = inlineCross(docs, _ % 2 == 0)
    assert(got2 === want2,
      s"persisted screen must equal the inline twin's cross pairs: " +
        s"extra=${got2 -- want2}, missing=${want2 -- got2}")
  }

  test("xxh performance mode == inline minhashNearDups cross pairs on sf0.001") {
    val docs = sfDocs
    val root = freshRoot("shidx_xxh")
    ShingleIndex.buildShingleIndex(docs.filter($"doc_id" % 2 === 0), root,
      n = 3, mode = "xxh")
    val got = ShingleIndex.nearDupAgainstShingleIndex(
      docs.filter($"doc_id" % 2 === 1), root, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === inlineCross(docs, _ % 2 == 0, xxh = true))
  }

  test("screen opens only the hit buckets' files (poison pin on every other file)") {
    val docs = sfDocs
    val root = freshRoot("shidx_prune")
    // widen the layout past the test session's 4 shuffle partitions:
    // with 4 files over 4 bands every one-doc probe would touch every
    // file and the pruning claim would be untestable
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      ShingleIndex.buildShingleIndex(docs.filter($"doc_id" % 2 === 0), root, n = 3)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    val all = Warehouse.readSnapshot(spark, root).inputFiles.toSet
    assert(all.size > 4, s"need several files for pruning to mean anything: ${all.size}")
    // ONE increment doc probes at most 4 buckets (one per band)
    val inc = docs.filter($"doc_id" === 1L)
    val screen = ShingleIndex.nearDupAgainstShingleIndex(inc, root, threshold = 0.5)
    val expected = screen.collect().toSeq
    val opened = screen.inputFiles.toSet.intersect(all)
    assert(opened.size < all.size,
      s"screen must skip non-probed buckets' files: opened ${opened.size}/${all.size}")
    (all -- opened).foreach { f =>
      val out = new java.io.FileOutputStream(new java.io.File(new java.net.URI(f)))
      out.write("not parquet".getBytes); out.close()
    }
    assert(ShingleIndex.nearDupAgainstShingleIndex(inc, root, threshold = 0.5)
      .collect().toSeq === expected,
      "the screen must answer from the probed files alone")
  }

  test("refresh: no-op when covered, signs only new docs, appends (files carried)") {
    val docs = sfDocs
    val catalog = docs.filter($"doc_id" % 2 === 0)
    val root = freshRoot("shidx_refresh")
    ShingleIndex.buildShingleIndex(catalog, root, n = 3)
    val vBefore = Warehouse.currentSnapshot(spark, root)
    assert(ShingleIndex.refreshShingleIndex(catalog, root).isEmpty)
    assert(Warehouse.currentSnapshot(spark, root) === vBefore)
    // grow the catalog by the odd docs: refresh appends, and a later
    // screen against the grown index equals a fresh build's screen
    assert(ShingleIndex.refreshShingleIndex(docs, root).nonEmpty)
    val hist = Warehouse.describeSnapshot(spark, root)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(hist("n_shared_files").toInt > 0, s"refresh must append, not rewrite: $hist")
    val rebuilt = freshRoot("shidx_rebuilt")
    ShingleIndex.buildShingleIndex(docs, rebuilt, n = 3)
    val probe = Seq((9001L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val a = ShingleIndex.nearDupAgainstShingleIndex(probe, root, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = ShingleIndex.nearDupAgainstShingleIndex(probe, rebuilt, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b, "refreshed index must screen exactly like a fresh build")
  }

  test("torn rebuild refuses; empty increment returns empty; unbuilt path refuses") {
    val root = freshRoot("shidx_torn")
    val docs = Seq((2L, "a b c d e f"), (4L, "g h i j k l")).toDF("doc_id", "text")
    ShingleIndex.buildShingleIndex(docs, root, n = 3)
    // empty increment (a legitimate streaming micro-batch): empty
    // result frame with the right schema, no require-crash
    val empty = ShingleIndex.nearDupAgainstShingleIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), root)
    assert(empty.columns.toSeq === Seq("a", "b", "jaccard") && empty.isEmpty)
    // sub-n-token increment: shingle-less docs can never pair
    assert(ShingleIndex.nearDupAgainstShingleIndex(
      Seq((7L, "x y")).toDF("doc_id", "text"), root).isEmpty)
    // ...a refresh batch of such docs indexes ONE presence sentinel
    // each (so replays anti-join them out instead of re-shingling the
    // same docs on every tick), and the REPLAY commits nothing
    val sub = Seq((8L, "x y")).toDF("doc_id", "text")
    assert(ShingleIndex.refreshShingleIndex(sub, root).nonEmpty)
    val vAt = Warehouse.currentSnapshot(spark, root)
    assert(ShingleIndex.refreshShingleIndex(sub, root).isEmpty)
    assert(Warehouse.currentSnapshot(spark, root) === vAt)
    // sentinels never pair: the screen over the sentinel's own doc
    // still finds nothing
    assert(ShingleIndex.nearDupAgainstShingleIndex(
      Seq((9L, "x y")).toDF("doc_id", "text"), root).isEmpty)
    // simulate the torn rebuild: meta advances (stamp ahead of the
    // index table), the paired index commit never lands
    val metaSide = ShingleIndex.metaPath(root)
    val torn = Seq(("md5", 3, 64, 4, Warehouse.currentSnapshot(spark, root) + 5))
      .toDF("mode", "n", "nb", "bands", "stamp")
    Warehouse.commitSnapshot(torn, metaSide, Warehouse.currentSnapshot(spark, metaSide))
    // probes AND refreshes refuse, and the refusal writes nothing
    val vTorn = Warehouse.currentSnapshot(spark, root)
    Seq[() => Any](
      () => ShingleIndex.nearDupAgainstShingleIndex(docs, root),
      () => ShingleIndex.refreshShingleIndex(Seq((10L, "p q r s t")).toDF("doc_id", "text"), root)
    ).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("crashed between"))
      assert(Warehouse.currentSnapshot(spark, root) === vTorn)
    }
    // unbuilt path refuses loudly, naming the fix
    val e2 = intercept[IllegalArgumentException] {
      ShingleIndex.nearDupAgainstShingleIndex(docs, freshRoot("shidx_none"))
    }
    assert(e2.getMessage.contains("buildShingleIndex"))
  }

  test("streaming sink: batches refresh; a replayed batch is a no-op (anti-join idempotence)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot("shidx_stream")
    val ck = java.nio.file.Files.createTempDirectory("graft_shidx_ck").toString
    val docs = sfDocs.localCheckpoint(true)
    ShingleIndex.buildShingleIndex(docs.filter($"doc_id" < 20), root, n = 3)
    val docCount = Warehouse.readSnapshot(spark, root).select("doc_id").distinct().count()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val src = mem.toDF().withColumnRenamed("value", "doc_id").join(docs, Seq("doc_id"))
    def drain(tag: String): Unit = {
      val q = ShingleIndex.lifecycle.sink(src, root, s"$ck/$tag")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(20L to 40L: _*)
    drain("ck")
    val grown = Warehouse.readSnapshot(spark, root).select("doc_id").distinct().count()
    assert(grown > docCount, "streamed docs must index")
    drain("ck_replay") // fresh checkpoint re-delivers the same rows
    assert(Warehouse.readSnapshot(spark, root).select("doc_id").distinct().count() === grown,
      "replayed docs must not index twice")
    // an unbuilt path refuses at sink CONSTRUCTION, not mid-stream
    val e = intercept[IllegalArgumentException] {
      ShingleIndex.lifecycle.sink(src, freshRoot("shidx_nosink"), s"$ck/none")
    }
    assert(e.getMessage.contains("buildShingleIndex"))
  }

  test("screenAndRefresh: dups drop, survivors index and return; a replayed batch converges") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val root = freshRoot("shidx_cycle")
    ShingleIndex.buildShingleIndex(
      Seq((2L, base)).toDF("doc_id", "text"), root, n = 3)
    val batch = Seq(
      (11L, base), // near-dup (exact clone) of indexed doc 2 -> drops
      (13L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val out = ShingleIndex.screenAndRefresh(batch, root, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(13L), s"the clone must drop, the novel doc survive: $out")
    val indexed = Warehouse.readSnapshot(spark, root)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed === Set(2L, 13L), s"survivors must index: $indexed")
    // REPLAY the same batch: 13 is now indexed, so it flags against
    // ITSELF at jaccard 1 and drops — the cycle converges
    val replay = ShingleIndex.screenAndRefresh(batch, root, threshold = 0.8)
    assert(replay.isEmpty, "a replayed batch must produce no survivors")
    assert(Warehouse.readSnapshot(spark, root)
      .select("doc_id").distinct().count() === 2, "nothing double-indexes")
  }

  test("NULL-text docs sentinel like sub-n docs: refreshes converge, screens stay pruned (r16)") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val root = freshRoot("shidx_null")
    // a NULL-text doc in the BUILD gets a presence sentinel (under
    // default ANSI, size(split(NULL)) is NULL and satisfies neither
    // size branch — the r15 ADVICE decay: no sentinel, re-signed on
    // every later tick)
    val catalog = Seq((2L, base), (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    ShingleIndex.buildShingleIndex(catalog, root, n = 3)
    val sentinels = Warehouse.readSnapshot(spark, root)
      .filter(col("band") === -1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sentinels === Set(4L), s"the NULL-text doc must index a sentinel: $sentinels")
    // a refresh replaying the covered batch commits NOTHING
    assert(ShingleIndex.refreshShingleIndex(catalog, root).isEmpty,
      "a covered batch incl. the NULL-text doc must anti-join out entirely")
    // a NULL-text INCREMENT doc: refresh indexes its sentinel once,
    // the replay no-ops
    val inc = Seq((7L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(ShingleIndex.refreshShingleIndex(inc, root).nonEmpty)
    assert(ShingleIndex.refreshShingleIndex(inc, root).isEmpty)
    // screenAndRefresh replay convergence with a NULL-text doc in the
    // batch: first pass emits it as a (signature-less) survivor and
    // indexes its sentinel; the REPLAY anti-joins it out — it must not
    // re-emerge as "novel, now-indexed" forever
    val batch = Seq((11L, null.asInstanceOf[String]), (13L, base)).toDF("doc_id", "text")
    val out1 = ShingleIndex.screenAndRefresh(batch, root, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out1 === Set(11L), s"NULL-text survives (no signature to flag), clone drops: $out1")
    val replay = ShingleIndex.screenAndRefresh(batch, root, threshold = 0.8)
    assert(replay.isEmpty,
      "a replayed batch with a NULL-text doc must converge to no survivors")
    // an all-sentinel increment (NULL + sub-n) probes NO buckets: with
    // every data file poisoned, the screen still answers empty — the
    // r15 ADVICE pruning note (sentinel probes must not widen the read
    // to bucket 0's files)
    val all = Warehouse.readSnapshot(spark, root).inputFiles.toSet
    all.foreach { f =>
      val o = new java.io.FileOutputStream(new java.io.File(new java.net.URI(f)))
      o.write("not parquet".getBytes); o.close()
    }
    assert(ShingleIndex.nearDupAgainstShingleIndex(
      Seq((21L, null.asInstanceOf[String]), (22L, "x y")).toDF("doc_id", "text"),
      root).isEmpty, "an all-sentinel increment must read zero index bytes")
  }

  test("maintenance keeps the bucket layout: compaction never kills probe pruning") {
    val docs = sfDocs
    val root = freshRoot("shidx_maint")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      ShingleIndex.buildShingleIndex(docs.filter($"doc_id" % 4 === 0), root, n = 3)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    // several small refresh appends: the decay scenario
    (1 to 3).foreach { r =>
      ShingleIndex.refreshShingleIndex(docs.filter($"doc_id" % 4 === r % 4), root)
    }
    val inc = Seq((9001L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val expected = ShingleIndex.nearDupAgainstShingleIndex(inc, root, threshold = 0.3)
      .collect().toSeq
    val filesBefore = Warehouse.readSnapshot(spark, root).inputFiles.length
    val rep = ShingleIndex.lifecycle.maintain(spark, root,
      Warehouse.MaintenancePolicy(targetFileBytes = 1L << 16))
    assert(rep.optimized.nonEmpty, "small append files must bin-pack")
    val all = Warehouse.readSnapshot(spark, root).inputFiles.toSet
    assert(all.size < filesBefore, s"$filesBefore -> ${all.size}")
    val screen = ShingleIndex.nearDupAgainstShingleIndex(inc, root, threshold = 0.3)
    assert(screen.collect().toSeq === expected,
      "compaction must not change the screen's answer")
    assert(screen.inputFiles.toSet.intersect(all).size < all.size,
      s"post-compaction screen must still skip files: ${screen.inputFiles.length}/${all.size}")
  }
}
