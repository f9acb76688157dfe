package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.IrSql

/** Round-15 BM25 store maintenance: SURGICAL reclaim (touched-file
  * rewrites instead of the r14 full-table swap) and the
  * generation-versioned lazy update's crash/revive states. The
  * oracle entries (q10_bm25_updated / _updated_compacted /
  * _deleted*) prove the absolute answers; these specs pin the file
  * economics and the protocol edges. */
class Bm25GenUpdateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def freshStore(nFiles: Int = 6): String = {
    val o = tmp("graft_gen_bm25")
    IrSql.writeBm25Stats(spark, dir, o)
    // fan the two authoritative tables out so "untouched" is a real
    // set on sf0.001 (the build's range layout may land few files)
    IrSql.swapIn(spark, s"$o/postings",
      spark.read.parquet(s"$o/postings")
        .repartitionByRange(nFiles, col("term"))
        .sortWithinPartitions(col("term"), col("doc_id")))
    IrSql.swapIn(spark, s"$o/doclen",
      spark.read.parquet(s"$o/doclen")
        .repartitionByRange(nFiles, col("doc_id")))
    o
  }

  private def ranked(store: String): Seq[(Long, Double)] =
    IrSql.q10Bm25PrunedAt(spark, store, IrSql.ExpandedQueryTerms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def snap(store: String, table: String,
                   excluded: Set[String] = Set.empty) =
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/$table"))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .filter(f => !excluded.contains(f.getPath.getName))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sortBy(_._1).toSeq

  test("bm25 compaction is SURGICAL: only part files holding a dead " +
    "row are rewritten — doclen files without a tombstoned doc_id " +
    "survive byte-identical (name, size, mtime)") {
    val store = freshStore()
    // a LOCALIZED takedown (contiguous id range — the real takedown
    // shape: one crawl segment, one source) so the doc_id-ranged
    // doclen layout confines it to a file subset
    val del = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 30).select(col("doc_id"))
    IrSql.deleteBm25Docs(spark, store, del)
    val post = ranked(store)
    val dead = spark.read.parquet(s"$store/tombstones")
      .collect().map(_.getLong(0)).toSet
    def touchedOf(table: String): Set[String] =
      spark.read.parquet(s"$store/$table")
        .filter(col("doc_id").isInCollection(dead.toSeq))
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0).split("/").last).toSet
    // the fixture takedown set (doc_id % 13 = 5) is spread across the
    // doc_id range, so the TERM-ranged postings table is all-touched;
    // the doc_id-ranged doclen localizes — exactly the layout-key
    // story the StoreSurgery doc describes
    val lenTouched = touchedOf("doclen")
    val lenBefore = snap(store, "doclen", lenTouched)
    assert(lenBefore.nonEmpty && lenTouched.nonEmpty,
      "fixture needs both touched and untouched doclen files")
    IrSql.compactBm25Deletes(spark, store)
    val lenAfter = snap(store, "doclen")
    assert(lenBefore.forall(lenAfter.contains),
      "an untouched doclen file was rewritten by the reclaim")
    assert(!lenAfter.exists(f => lenTouched.contains(f._1)),
      "a dead-holding doclen file survived the reclaim")
    assert(ranked(store) == post, "surgical reclaim changed the answer")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/tombstones")), "compaction left the tombstones dir")
  }

  test("update crash states: an UNCOMMITTED update (staged deltas, " +
    "no marker) rolls back; a COMMITTED one (marker present) replays " +
    "to the exact post-update state; a crashed COMPACT (marker " +
    "present) replays to the folded store") {
    val store = freshStore()
    val pre = ranked(store)
    val upd = IrSql.updatedDocsNew(spark, dir)
    // A: staged deltas, NO marker → rollback (store untouched)
    val direct = freshStore()
    IrSql.updateBm25Docs(spark, direct, upd)
    val want = ranked(direct)
    // stage a plausible payload by hand (content does not matter for
    // the rollback branch — recovery must delete it unexamined)
    spark.range(1).selectExpr("'x' as term", "id as doc_id",
      "1L as tf", "1L as gen")
      .write.parquet(s"$store/_graft_upd_stage/postings")
    spark.range(1).selectExpr("id as doc_id", "1L as dl", "1L as gen")
      .write.parquet(s"$store/_graft_upd_stage/doclen")
    IrSql.recoverBm25Update(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_graft_upd_stage")), "rollback left the staged payload")
    assert(ranked(store) == pre, "rollback changed the store")
    // B: a real update interrupted AFTER the commit point — replay
    // from the marker must land the exact post-update state. Simulate
    // by running the full update, then re-arming the marker and
    // re-running recovery (every derive step is idempotent from
    // physical state, so the double replay must be a no-op).
    IrSql.updateBm25Docs(spark, store, upd)
    assert(ranked(store) == want)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$store/_graft_update_inflight"), false).close()
    IrSql.recoverBm25Update(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_graft_update_inflight")))
    assert(ranked(store) == want, "update replay changed the ranking")
    // C: crashed COMPACT — marker present, nothing else done yet;
    // recovery replays the whole idempotent pass
    fs.create(new org.apache.hadoop.fs.Path(
      s"$store/_graft_compact_inflight"), false).close()
    IrSql.recoverBm25Compact(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_graft_compact_inflight")))
    for (d <- Seq("doc_gen", "sup_corpus", "stats_upd"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/$d")),
        s"compact replay left $d")
    assert(ranked(store) == want, "compact replay changed the ranking")
    // and a second compact replay on the folded store is a no-op
    fs.create(new org.apache.hadoop.fs.Path(
      s"$store/_graft_compact_inflight"), false).close()
    IrSql.recoverBm25Compact(spark, store)
    assert(ranked(store) == want)
  }

  test("the O(1) staleness generation: the store creator starts the " +
    "marker, and every mutation class advances it (delete, lazy " +
    "delete, update, compact) — the DirVersion fast path never " +
    "aliases a mutation away") {
    import spark.implicits._
    val store = freshStore()
    val root = new org.apache.hadoop.fs.Path(store)
    def gen: Long = graft.StoreGen.read(fs, root).getOrElse(
      fail(s"no ${graft.StoreGen.GenFile} under $store"))
    var last = gen // writeBm25Stats (and the swapIn fan-out) started it
    def advanced(what: String): Unit = {
      val g = gen
      assert(g > last, s"$what did not advance the store generation")
      last = g
    }
    IrSql.deleteBm25Docs(spark, store, Seq(3L, 16L).toDF("doc_id"))
    advanced("eager delete")
    IrSql.deleteBm25DocsLazy(spark, store, Seq(29L).toDF("doc_id"))
    advanced("lazy delete")
    IrSql.updateBm25Docs(spark, store,
      Seq((42L, "zzqgen bump text")).toDF("doc_id", "text"))
    advanced("update")
    IrSql.compactBm25Deletes(spark, store)
    advanced("compact")
  }

  test("the O(1) staleness generation on the INVERTED and POSITIONAL " +
    "stores: write (fresh and rebuild), appendToStore, deleteDocs and " +
    "compactDeletes each advance it — the precondition for every " +
    "serving snapshot's one-read stamp") {
    import spark.implicits._
    import graft.index.{InvertedIndex, PositionalIndex}
    val corpus = IrEngine.corpus(spark, dir)
    val delta = Seq(("Dzz001", "merge stream zzqgenappend"))
      .toDF("docid", "content")
    val victim = corpus.select(col("docid")).orderBy(col("docid"))
      .head().getString(0)
    def advances(store: String)(ops: (String, () => Unit)*): Unit = {
      val root = new org.apache.hadoop.fs.Path(store)
      ops.foreach { case (what, op) =>
        val before = graft.StoreGen.read(fs, root)
        op()
        val after = graft.StoreGen.read(fs, root).getOrElse(
          fail(s"$what left no ${graft.StoreGen.GenFile} under $store"))
        assert(before.forall(after > _),
          s"$what did not advance the store generation")
      }
    }
    val inv = tmp("graft_gen_inv")
    advances(inv)(
      "inverted write" -> (() =>
        InvertedIndex.write(InvertedIndex.build(spark, corpus, k = 1), inv)),
      "inverted rebuild" -> (() =>
        InvertedIndex.write(InvertedIndex.build(spark, corpus, k = 1), inv)),
      "inverted append" -> (() =>
        InvertedIndex.appendToStore(spark, inv, delta, k = 1)),
      "inverted delete" -> (() =>
        InvertedIndex.deleteDocs(spark, inv, Seq(victim).toDF("docid"))),
      "inverted compact" -> (() =>
        InvertedIndex.compactDeletes(spark, inv)))
    val pos = tmp("graft_gen_pos")
    advances(pos)(
      "positional write" -> (() =>
        PositionalIndex.write(PositionalIndex.build(spark, corpus), pos)),
      "positional rebuild" -> (() =>
        PositionalIndex.write(PositionalIndex.build(spark, corpus), pos)),
      "positional append" -> (() =>
        PositionalIndex.appendToStore(spark, pos, delta)),
      "positional delete" -> (() =>
        PositionalIndex.deleteDocs(spark, pos, Seq(victim).toDF("docid"))),
      "positional compact" -> (() =>
        PositionalIndex.compactDeletes(spark, pos)))
  }

  test("updating a DELETED doc revives it (the re-add path), for " +
    "both tombstone flavors — INCLUDING a doc with pending " +
    "generations from an earlier update (its superseded mass must " +
    "rejoin sup_corpus, not inflate (tt, nd)); the revived doc " +
    "serves its NEW content only, and compaction folds to the " +
    "rebuild truth") {
    import spark.implicits._
    for (lazyLeg <- Seq(false, true)) {
      val store = freshStore()
      val victim = ranked(store).head._1
      val ids = Seq(victim).toDF("doc_id")
      // FIRST update the doc (so it carries a superseded generation),
      // THEN delete it, THEN re-add — the r15 review's
      // update→delete→update accounting sequence
      IrSql.updateBm25Docs(spark, store,
        Seq((victim, "interim crawl text merge")).toDF(
          "doc_id", "text"))
      if (lazyLeg) IrSql.deleteBm25DocsLazy(spark, store, ids)
      else IrSql.deleteBm25Docs(spark, store, ids)
      assert(!ranked(store).exists(_._1 == victim))
      val newText = "merge stream join filter sort window hash dup " +
        "zzqrevive"
      IrSql.updateBm25Docs(spark, store,
        Seq((victim, newText)).toDF("doc_id", "text"))
      // truth: rebuild over (corpus with the victim's text replaced)
      val corpusDir = tmp("graft_rev_corpus")
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          when(col("doc_id") === victim, lit(newText))
            .otherwise(col("text")).as("text"))
        .write.mode("overwrite")
        .parquet(s"$corpusDir/documents.parquet")
      val truth = tmp("graft_rev_truth")
      IrSql.writeBm25Stats(spark, corpusDir, truth)
      assert(ranked(store) == ranked(truth),
        s"revive (lazy=$lazyLeg) != rebuild over the replaced corpus")
      // the revive-introduced term resolves to exactly the victim
      val hit = IrSql.q10Bm25PrunedAt(spark, store,
        Seq("zzqrevive"), 10).collect().map(_.getLong(0)).toSeq
      assert(hit == Seq(victim))
      IrSql.compactBm25Deletes(spark, store)
      assert(ranked(store) == ranked(truth),
        s"post-compaction revive (lazy=$lazyLeg) drifted")
    }
  }

  test("an UNCOMMITTED update of a deleted doc does NOT resurrect " +
    "it: the revive rides the staged payload, so rollback leaves " +
    "the tombstone (and the dead ranking) untouched") {
    import spark.implicits._
    val store = freshStore()
    val victim = ranked(store).head._1
    IrSql.deleteBm25Docs(spark, store, Seq(victim).toDF("doc_id"))
    val dead = ranked(store)
    assert(!dead.exists(_._1 == victim))
    // a crashed pre-commit update attempt: staged payload present
    // (including the tombstone-drop sentinel), NO marker
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$store/_graft_upd_stage"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$store/_graft_upd_stage/_drop_tombstones"), false).close()
    spark.range(1).selectExpr("id as doc_id", "1L as dl", "1L as gen")
      .write.parquet(s"$store/_graft_upd_stage/doclen")
    IrSql.recoverBm25Update(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_graft_upd_stage")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/tombstones")),
      "rollback consumed the staged tombstone drop — the deleted " +
        "doc would serve its OLD content again")
    assert(ranked(store) == dead, "rollback changed the ranking")
  }

  test("a RE-CRAWL TO EMPTY text (zero tokens) removes the doc " +
    "everywhere: pending reads, the NORMAL compact, a crash-replay " +
    "compact from the marker, and a replay after one table was " +
    "already reclaimed all equal rebuild-without-the-doc") {
    import spark.implicits._
    // the doc's new generation has NO physical rows (doc_gen flips,
    // nothing appends) — the one update shape where physical max-gen
    // liveness is blind; BM25-wise an empty doc == a deleted doc
    val probe = freshStore()
    val victim = ranked(probe).head._1
    val oracle = freshStore()
    IrSql.deleteBm25Docs(spark, oracle, Seq(victim).toDF("doc_id"))
    IrSql.compactBm25Deletes(spark, oracle)
    val want = ranked(oracle)
    assert(!want.exists(_._1 == victim))
    val empty = Seq((victim, "... !!! ???")).toDF("doc_id", "text")
    def oldRows(s: String): Long = spark.read.parquet(s"$s/doclen")
      .filter(col("doc_id") === victim).count()
    // arm 1: pending reads, then the NORMAL compact path
    val s1 = freshStore()
    IrSql.updateBm25Docs(spark, s1, empty)
    assert(ranked(s1) == want, "pending zero-token update read wrong")
    IrSql.compactBm25Deletes(spark, s1)
    assert(oldRows(s1) == 0,
      "normal compact resurrected the empty-updated doc's old rows")
    assert(ranked(s1) == want, "normal compact changed the answer")
    // arm 2: crash right after the CompactMarker commit — the replay
    // (physical-gen scan) must still see the zero-row generation
    val s2 = freshStore()
    IrSql.updateBm25Docs(spark, s2, empty)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$s2/_graft_compact_inflight"), false).close()
    IrSql.recoverBm25Compact(spark, s2)
    assert(oldRows(s2) == 0,
      "crash-replay compact resurrected the empty-updated doc")
    assert(ranked(s2) == want, "crash-replay changed the answer")
    // arm 3: crash BETWEEN the two table reclaims (postings already
    // rewritten to gen 0, doclen not) — the replay must treat each
    // table by its own committed-reclaim state, also for a normal
    // (non-empty) pending update in the same batch
    val s3 = freshStore()
    IrSql.updateBm25Docs(spark, s3, empty.unionByName(
      Seq((want.head._1, "agg hash window extra text")) // a scoring doc
        .toDF("doc_id", "text")))
    val s3want = {
      val tw = freshStore()
      IrSql.deleteBm25Docs(spark, tw, Seq(victim).toDF("doc_id"))
      IrSql.updateBm25Docs(spark, tw,
        Seq((want.head._1, "agg hash window extra text"))
          .toDF("doc_id", "text"))
      IrSql.compactBm25Deletes(spark, tw)
      ranked(tw)
    }
    assert(ranked(s3) == s3want, "pending mixed-batch read wrong")
    // the REAL pass, stopped right after the postings reclaim leg
    // committed (stats recomputed, postings rewritten + witnessed,
    // doclen untouched, sidecars + marker still present)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$s3/_graft_compact_inflight"), false).close()
    IrSql.replayCompact(spark, s3, physicalGenScan = false,
      crashAfter = Some("postings"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$s3/postings/_graft_rc_done")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(
        s"$s3/doclen/_graft_rc_done")),
      "crash simulation did not land the mid-reclaim state")
    IrSql.recoverBm25Compact(spark, s3)
    assert(oldRows(s3) == 0,
      "mid-reclaim replay resurrected the empty-updated doc")
    assert(ranked(s3) == s3want, "mid-reclaim replay changed the answer")
    for (d <- Seq("doc_gen", "sup_corpus", "stats_upd"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$s3/$d")))
  }

  test("the compact never aggregates a whole table for liveness on " +
    "the doc_gen-authoritative path: no executed plan during a " +
    "normal OR crash-replay compact contains the physical max-gen " +
    "fold (it survives only as the pre-r16 legacy fallback)") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    def plansOf(body: => Unit): Seq[String] = {
      val plans =
        new java.util.concurrent.CopyOnWriteArrayList[String]()
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = { plans.add(qe.executedPlan.toString); () }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        body
        // listener delivery is async: wait until the recorded set
        // stabilizes (bounded)
        var last = -1
        var spins = 0
        while (plans.size() != last && spins < 40) {
          last = plans.size(); spins += 1; Thread.sleep(250)
        }
      } finally spark.listenerManager.unregister(l)
      plans.asScala.toSeq
    }
    val s1 = freshStore()
    IrSql.updateBm25Docs(spark, s1,
      Seq((7L, "agg hash plan pin text")).toDF("doc_id", "text"))
    val normal = plansOf(IrSql.compactBm25Deletes(spark, s1))
    assert(normal.nonEmpty, "listener recorded nothing")
    assert(normal.forall(!_.contains("max(gen")),
      "the NORMAL compact ran the whole-table max-gen fold")
    val s2 = freshStore()
    IrSql.updateBm25Docs(spark, s2,
      Seq((7L, "agg hash plan pin text")).toDF("doc_id", "text"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$s2/_graft_compact_inflight"), false).close()
    val replay = plansOf(IrSql.recoverBm25Compact(spark, s2))
    assert(replay.nonEmpty, "listener recorded nothing on replay")
    assert(replay.forall(!_.contains("max(gen")),
      "the crash REPLAY ran the whole-table max-gen fold despite " +
        "an authoritative doc_gen artifact")
  }
}
