package graft.store

import graft.SparkSpec
import graft.ext.{PostingIndex, ShingleIndex, TextIndex, VectorIndex}
import org.apache.spark.sql.functions._

/** r16 CAS-conflict retry in the index refreshers (the r15 verdict #3)
  * + the TextIndex refresh-window detection (#4). Claims:
  * (1) retryOnConflict re-runs the body per conflict and rethrows past
  *     the budget (deterministic, injected conflicts);
  * (2) every index refresher survives a CONCURRENT writer — two
  *     threads refreshing disjoint batches both land, and the final
  *     index content ≡ serial execution (the anti-join makes the
  *     re-derivation idempotent, asserted);
  * (3) a refresh racing a maintenance tick retries and lands;
  * (4) a postings append whose meta fold never landed (the crash
  *     window) makes every probe refuse LOUDLY naming
  *     repairTextIndexMeta; the repair restores exact scalars and
  *     re-opens the index.
  */
class ConflictRetrySpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/t"

  test("retryOnConflict: re-runs per conflict, rethrows past the budget") {
    var runs = 0
    val out = Warehouse.retryOnConflict(maxRetries = 5) {
      runs += 1
      if (runs <= 3) throw new Warehouse.SnapshotConflictException("p", runs.toLong)
      "landed"
    }
    assert(out === "landed" && runs === 4)
    var runs2 = 0
    intercept[Warehouse.SnapshotConflictException] {
      Warehouse.retryOnConflict(maxRetries = 2) {
        runs2 += 1
        throw new Warehouse.SnapshotConflictException("p", runs2.toLong)
      }
    }
    assert(runs2 === 3, "budget 2 = one initial run + two retries")
    // a non-conflict failure is NOT retried — it is the caller's bug
    var runs3 = 0
    intercept[IllegalStateException] {
      Warehouse.retryOnConflict() { runs3 += 1; throw new IllegalStateException("no") }
    }
    assert(runs3 === 1)
  }

  private def concurrently(a: => Unit, b: => Unit): Unit = {
    val ea = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ta = new Thread(() => try a catch { case t: Throwable => ea.set(t) })
    val tb = new Thread(() => try b catch { case t: Throwable => ea.compareAndSet(null, t) })
    ta.start(); tb.start(); ta.join(120000); tb.join(120000)
    if (ea.get() != null) throw ea.get()
  }

  test("two concurrent shingle-index refreshers both land; content == serial") {
    val base = (1 to 40).map(i =>
      (i.toLong, s"w$i w${i + 1} w${i + 2} w${i + 3} alpha beta gamma"))
    val batchA = base.filter(_._1 % 2 == 0).toDF("doc_id", "text")
    val batchB = base.filter(_._1 % 2 == 1).toDF("doc_id", "text")
    val seed = Seq((1000L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val racedRoot = freshRoot("race_sh")
    ShingleIndex.buildShingleIndex(seed, racedRoot, n = 3)
    concurrently(
      { ShingleIndex.refreshShingleIndex(batchA, racedRoot); () },
      { ShingleIndex.refreshShingleIndex(batchB, racedRoot); () })
    val serialRoot = freshRoot("serial_sh")
    ShingleIndex.buildShingleIndex(seed, serialRoot, n = 3)
    ShingleIndex.refreshShingleIndex(batchA, serialRoot)
    ShingleIndex.refreshShingleIndex(batchB, serialRoot)
    def content(root: String) = Warehouse.readSnapshot(spark, root)
      .select("band", "bk", "doc_id", "n_sh").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(content(racedRoot) === content(serialRoot),
      "raced refreshes must converge to the serial index content")
  }

  test("a text-index refresh racing maintenance lands; meta scalars stay exact; vector+posting refreshers race too") {
    // text: refresh vs refresh (two commits each — postings CAS + meta
    // read-modify-write with max-fold synced_seq)
    val troot = freshRoot("race_tx")
    TextIndex.buildTextIndex(Seq((1L, "alpha beta")).toDF("doc_id", "text"), troot)
    val ta = (10 to 29).map(i => (i.toLong, s"tok$i alpha")).toDF("doc_id", "text")
    val tb = (30 to 49).map(i => (i.toLong, s"tok$i beta")).toDF("doc_id", "text")
    concurrently(
      { TextIndex.refreshTextIndex(ta, troot); () },
      { TextIndex.refreshTextIndex(tb, troot); () })
    val m = Warehouse.readSnapshot(spark, TextIndex.metaPath(troot))
      .select("n_docs", "n_dl", "sum_dl").head()
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) === ((41L, 41L, 82L)),
      s"raced meta folds must sum exactly: $m")
    val vBefore = Warehouse.currentSnapshot(spark, TextIndex.metaPath(troot))
    TextIndex.repairTextIndexMeta(spark, troot)
    val m2 = Warehouse.readSnapshot(spark, TextIndex.metaPath(troot))
      .select("n_docs", "n_dl", "sum_dl").head()
    assert(m2 === m, "repair must be a no-op after clean raced folds")
    assert(Warehouse.currentSnapshot(spark, TextIndex.metaPath(troot)) === vBefore + 1)
    // text refresh vs MAINTENANCE (the realistic cron-vs-sink race)
    concurrently(
      { TextIndex.refreshTextIndex(
          (50 to 69).map(i => (i.toLong, s"tok$i gamma")).toDF("doc_id", "text"), troot); () },
      // the cron side composes with the same shared loop: a
      // maintenance tick losing the CAS to the sink re-derives and
      // re-packs (idempotent — it reads current state per attempt)
      { Warehouse.retryOnConflict() {
          TextIndex.lifecycle.maintain(spark, troot,
            Warehouse.MaintenancePolicy(targetFileBytes = 1L << 16))
        }; () })
    assert(Warehouse.readSnapshot(spark, troot)
      .select("doc_id").distinct().count() === 61)
    // vector + posting: concurrent disjoint refreshes land whole
    val vroot = freshRoot("race_vec")
    val dim = 8
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Array.tabulate(dim)(d => (i + d).toFloat))).toDF("vec_id", "embedding")
    VectorIndex.buildIvfIndex(vecs(0 to 9), vroot, nlist = 4, bucketed = true)
    concurrently(
      { VectorIndex.refreshIvfIndex(vecs(10 to 29), vroot); () },
      { VectorIndex.refreshIvfIndex(vecs(30 to 49), vroot); () })
    assert(Warehouse.readSnapshot(spark, vroot).count() === 50)
    val proot = freshRoot("race_pi")
    PostingIndex.buildPostingIndex(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), proot, n = 3)
    concurrently(
      { PostingIndex.refreshPostingIndex(
          (10 to 19).map(i => (i.toLong, s"w$i x y z q")).toDF("doc_id", "text"), proot); () },
      { PostingIndex.refreshPostingIndex(
          (20 to 29).map(i => (i.toLong, s"w$i x y z q")).toDF("doc_id", "text"), proot); () })
    assert(Warehouse.readSnapshot(spark, proot)
      .select("doc_id").distinct().count() === 21)
  }

  test("the text-index crash window is DETECTED: probe refuses naming the repair; repair restores exact scalars") {
    // shrink the live-refresh grace so the CRASHED window refuses fast
    // (the default 15s budget is for serving probes racing a live tick)
    spark.conf.set("graft.textindex.syncGraceMs", "300")
    try testWindow() finally spark.conf.unset("graft.textindex.syncGraceMs")
  }

  private def testWindow(): Unit = {
    val root = freshRoot("tx_window")
    val docs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma")).toDF("doc_id", "text")
    TextIndex.buildTextIndex(docs, root)
    // simulate the crash: a stamped postings append whose meta fold
    // never lands — one real posting row for a new doc, stamped with
    // the refresher's own txn app id (the exact on-disk state a kill
    // between refreshTextIndex's two commits leaves)
    val orphan = Seq(("delta", 99L, 1L, 1L)).toDF("token", "doc_id", "tf", "dl")
      .select(pmod(xxhash64(col("token")), lit(64L)).cast("int").as("bucket"),
        col("token"), col("doc_id"), col("tf"), col("dl"))
    val base = Warehouse.currentSnapshot(spark, root)
    Warehouse.appendSnapshot(orphan, root, base,
      txn = Some(("graft-text-index-refresh", base + 1)))
    val e = intercept[IllegalArgumentException] {
      TextIndex.bm25TopKIndexed(spark, root, Seq(1 -> Seq("alpha")), k = 5)
    }
    assert(e.getMessage.contains("repairTextIndexMeta"),
      s"the window must refuse naming the repair: ${e.getMessage}")
    // a refresh hitting the window refuses the same way (it would fold
    // on top of under-counted scalars)
    val e2 = intercept[IllegalArgumentException] {
      TextIndex.refreshTextIndex(Seq((7L, "zeta")).toDF("doc_id", "text"), root)
    }
    assert(e2.getMessage.contains("repairTextIndexMeta"))
    TextIndex.repairTextIndexMeta(spark, root)
    val m = Warehouse.readSnapshot(spark, TextIndex.metaPath(root))
      .select("n_docs", "n_dl", "sum_dl").head()
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) === ((3L, 3L, 6L)),
      s"repair must fold the orphaned increment exactly: $m")
    // the index serves again, scoring over the repaired scalars
    assert(TextIndex.bm25TopKIndexed(spark, root, Seq(1 -> Seq("alpha")), k = 5)
      .count() === 1)
  }

  test("a crashed refresh's window is NOT masked by a later refresh that lands (per-version stamps, r16 review)") {
    spark.conf.set("graft.textindex.syncGraceMs", "300")
    try testMaskedWindow() finally spark.conf.unset("graft.textindex.syncGraceMs")
  }

  /** The race a max-only comparison cannot see: refresh A appends
    * stamped postings v2 and dies before its fold; refresh B — already
    * past its window check when A committed — appends v3 AND folds,
    * stamping v3. Under max-folded synced_seq the newest stamp (3)
    * masks A's orphaned v2 forever; under per-version fold stamps the
    * probe still refuses naming the repair, and the repair restores
    * the exact scalars including A's increment.
    */
  private def testMaskedWindow(): Unit = {
    val root = freshRoot("tx_masked")
    TextIndex.buildTextIndex(
      Seq((1L, "alpha beta alpha")).toDF("doc_id", "text"), root)
    def postingRow(token: String, id: Long) =
      Seq((token, id, 1L, 1L)).toDF("token", "doc_id", "tf", "dl")
        .select(pmod(xxhash64(col("token")), lit(64L)).cast("int").as("bucket"),
          col("token"), col("doc_id"), col("tf"), col("dl"))
    // A: stamped append v2, no fold (crashed)
    val v1 = Warehouse.currentSnapshot(spark, root)
    Warehouse.appendSnapshot(postingRow("delta", 99L), root, v1,
      txn = Some(("graft-text-index-refresh", v1 + 1)))
    // B: the racing refresh that landed WHOLE — stamped append v3 plus
    // its meta fold stamped for v3 (the exact on-disk state
    // refreshTextIndex leaves; reconstructed because the in-process
    // API correctly refuses to start a refresh over an open window)
    val v2 = Warehouse.currentSnapshot(spark, root)
    Warehouse.appendSnapshot(postingRow("epsilon", 100L), root, v2,
      txn = Some(("graft-text-index-refresh", v2 + 1)))
    val side = TextIndex.metaPath(root)
    val m0 = Warehouse.readSnapshot(spark, side)
      .select("n_docs", "n_dl", "sum_dl", "nb", "stamp", "synced_seq").head()
    Warehouse.commitSnapshot(
      Seq((m0.getLong(0) + 1, m0.getLong(1) + 1, m0.getLong(2) + 1,
        m0.getInt(3), m0.getLong(4), m0.getLong(5)))
        .toDF("n_docs", "n_dl", "sum_dl", "nb", "stamp", "synced_seq"),
      side, Warehouse.currentSnapshot(spark, side),
      txn = Some(("graft-text-meta-fold", v2 + 1)))
    // the probe must still see A's orphaned v2 — the masked case
    val e = intercept[IllegalArgumentException] {
      TextIndex.bm25TopKIndexed(spark, root, Seq(1 -> Seq("alpha")), k = 5)
    }
    assert(e.getMessage.contains("repairTextIndexMeta") &&
      e.getMessage.contains(s"v=${v1 + 1}"),
      s"the orphaned middle version must stay detected: ${e.getMessage}")
    TextIndex.repairTextIndexMeta(spark, root)
    val m = Warehouse.readSnapshot(spark, side)
      .select("n_docs", "n_dl", "sum_dl").head()
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) === ((3L, 3L, 5L)),
      s"repair must restore BOTH increments' scalars exactly: $m")
    assert(TextIndex.bm25TopKIndexed(spark, root, Seq(1 -> Seq("alpha")), k = 5)
      .count() === 1)
  }
}
