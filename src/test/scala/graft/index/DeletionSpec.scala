package graft.index

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.IrSql

/** Round-14 takedown-shaped deletion: tombstones honored at query
  * time (post-delete == rebuild-without-docs — the oracle entries
  * q10_bm25_deleted / q36_phrase_deleted prove the absolute answer;
  * these specs pin the maintenance machinery), reclaimed by
  * compaction, crash-safe at both protocol states, and detected by
  * the live servers' stamps. */
class DeletionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  // ---- BM25 store ------------------------------------------------

  private def freshBm25Store(): String = {
    val o = tmp("graft_del_bm25")
    IrSql.writeBm25Stats(spark, dir, o)
    o
  }

  private def ranked(store: String): Seq[(Long, Double)] =
    IrSql.q10Bm25PrunedAt(spark, store, IrSql.ExpandedQueryTerms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("bm25 delete changes the ranking to the rebuild-without-docs " +
    "answer; compaction reclaims tombstones without changing it; " +
    "re-deleting and deleting unknown ids are no-ops") {
    val store = freshBm25Store()
    val pre = ranked(store)
    val del = IrSql.deletedDocIds(spark, dir)
    IrSql.deleteBm25Docs(spark, store, del)
    val post = ranked(store)
    assert(post != pre, "deleting docs left the ranking unchanged — " +
      "fixture takedown set missed the top-10 entirely?")
    // == a store BUILT without the docs (the ground truth)
    val truthDir = tmp("graft_del_bm25_truth")
    val live = spark.read.parquet(s"$dir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(IrSql.DeletedDocsMod)) =!=
        lit(IrSql.DeletedDocsRem))
    val corpusDir = tmp("graft_del_bm25_corpus")
    live.write.mode("overwrite")
      .parquet(s"$corpusDir/documents.parquet")
    IrSql.writeBm25Stats(spark, corpusDir, truthDir)
    assert(post == ranked(truthDir),
      "tombstoned ranking != rebuild-without-docs")
    // derived artifacts are delete-exact on disk too
    val (tt, nd) = {
      val r = spark.read.parquet(s"$store/corpus").head()
      (r.getLong(0), r.getLong(1))
    }
    val rt = spark.read.parquet(s"$truthDir/corpus").head()
    assert((tt, nd) == ((rt.getLong(0), rt.getLong(1))),
      "corpus stats not delete-exact")
    // no-ops: re-delete the same ids, delete ids the store never had
    IrSql.deleteBm25Docs(spark, store, del)
    import spark.implicits._
    IrSql.deleteBm25Docs(spark, store,
      Seq(999999901L, 999999902L).toDF("doc_id"))
    assert(ranked(store) == post)
    // compaction physically reclaims and preserves every answer
    val rowsBefore = spark.read.parquet(s"$store/postings").count()
    IrSql.compactBm25Deletes(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/tombstones")),
      "compaction left the tombstones dir")
    assert(spark.read.parquet(s"$store/postings").count() < rowsBefore,
      "compaction reclaimed nothing")
    assert(ranked(store) == post, "compaction changed the ranking")
  }

  test("bm25 delete crash states: uncommitted staging rolls back; a " +
    "committed marker replays to the exact post-delete store") {
    val store = freshBm25Store()
    val pre = ranked(store)
    val del = IrSql.deletedDocIds(spark, dir)
    // A: staged tombstones, NO marker → rollback (store untouched)
    del.write.parquet(s"$store/_graft_tomb_new")
    IrSql.recoverBm25Delete(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_graft_tomb_new")))
    assert(ranked(store) == pre, "rollback changed the store")
    // B: committed (marker present) with staged tombstones → replay
    // completes the delete, including the derived recompute
    del.write.parquet(s"$store/_graft_tomb_new")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$store/_graft_delete_inflight"), false).close()
    IrSql.recoverBm25Delete(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_graft_delete_inflight")))
    val replayed = ranked(store)
    val direct = freshBm25Store()
    IrSql.deleteBm25Docs(spark, direct, del)
    assert(replayed == ranked(direct),
      "crash replay != direct delete")
  }

  test("a delete under a LIVE Bm25Server is detected by the stamp " +
    "(post-delete served == fresh, no refresh)") {
    val store = freshBm25Store()
    val srv = new graft.query.Bm25Server(spark, store)
    val preServed = srv.search(IrSql.ExpandedQueryTerms)
    assert(preServed == ranked(store))
    IrSql.deleteBm25Docs(spark, store, IrSql.deletedDocIds(spark, dir))
    val postServed = srv.search(IrSql.ExpandedQueryTerms)
    assert(postServed != preServed, "fixture delete missed the top-10")
    assert(postServed == ranked(store),
      "stale served ranking after a delete (stamp missed it)")
    // the warm BATCH path rides the same snapshot: a deleted doc is
    // gone from every qid's ranking too
    val dead = IrSql.deletedDocIds(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val batch = srv.searchBatch(Seq(
      1L -> IrSql.ExpandedQueryTerms, 2L -> IrSql.DefaultQueryTerms))
    assert(batch.nonEmpty)
    assert(batch.forall { case (_, _, doc, _) => !dead.contains(doc) },
      "the warm batch path served a deleted doc")
    assert(batch.filter(_._1 == 1L).map(r => (r._3, r._4)) ==
      postServed.map { case (d, s) => (d, s) },
      "batch qid ranking != the served post-delete ranking")
    // compaction under the live server too
    IrSql.compactBm25Deletes(spark, store)
    assert(srv.search(IrSql.ExpandedQueryTerms) == postServed)
  }

  test("delete then MERGE composes: the maintenance lifecycle — " +
    "post-merge ranking == a store built from (corpus minus takedown) " +
    "plus the delta; re-ingesting a tombstoned id is rejected until " +
    "compaction reclaims it") {
    import spark.implicits._
    val store = freshBm25Store()
    val del = IrSql.deletedDocIds(spark, dir)
    IrSql.deleteBm25Docs(spark, store, del)
    // a delta of NEW docs over the shared vocabulary
    val delta = Seq(
      (10001L, "merge stream data table"),
      (10002L, "stream filter window sort"),
      (10003L, "merge join hash scan")).toDF("doc_id", "text")
    IrSql.mergeBm25Stats(spark, store, delta)
    // truth: build from (reduced corpus) ∪ delta
    val truthCorpus = tmp("graft_del_merge_corpus")
    spark.read.parquet(s"$dir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(IrSql.DeletedDocsMod)) =!=
        lit(IrSql.DeletedDocsRem))
      .select(col("doc_id"), col("text"))
      .unionByName(delta)
      .write.mode("overwrite").parquet(s"$truthCorpus/documents.parquet")
    val truthStore = tmp("graft_del_merge_truth")
    IrSql.writeBm25Stats(spark, truthCorpus, truthStore)
    assert(ranked(store) == ranked(truthStore),
      "delete+merge != rebuild from (reduced ∪ delta)")
    // corpus stats delete-and-merge exact on disk
    val got = spark.read.parquet(s"$store/corpus").head()
    val want = spark.read.parquet(s"$truthStore/corpus").head()
    assert((got.getLong(0), got.getLong(1)) ==
      ((want.getLong(0), want.getLong(1))),
      "corpus stats drifted across delete+merge")
    // re-ingesting a TOMBSTONED id: rejected while the tombstone
    // pends (removal wins) ...
    val deadId = del.orderBy("doc_id").head().getLong(0)
    val reIngest = Seq((deadId, "merge stream")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      IrSql.mergeBm25Stats(spark, store, reIngest)
    }
    // ... and accepted after compaction physically reclaims the rows
    IrSql.compactBm25Deletes(spark, store)
    IrSql.mergeBm25Stats(spark, store, reIngest)
    val post = ranked(store)
    assert(post.nonEmpty)
    // the re-ingested doc is a live doc again: a store built from
    // (reduced ∪ delta ∪ re-ingest) agrees
    val truth2Corpus = tmp("graft_del_merge_corpus2")
    spark.read.parquet(s"$truthCorpus/documents.parquet")
      .unionByName(reIngest)
      .write.mode("overwrite")
      .parquet(s"$truth2Corpus/documents.parquet")
    val truth2 = tmp("graft_del_merge_truth2")
    IrSql.writeBm25Stats(spark, truth2Corpus, truth2)
    assert(post == ranked(truth2),
      "post-compaction re-ingest != rebuild truth")
  }

  // ---- BM25 store: LAZY-stats deletion -----------------------------

  test("lazy delete serves the rebuild-without-docs ranking while " +
    "leaving stats/corpus untouched on disk; compaction pays the " +
    "deferred bill (stats == rebuild truth, sidecar and tombstones " +
    "gone) without changing any answer") {
    val store = freshBm25Store()
    val statsBefore = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$store/stats"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .toSeq.sorted
    val corpusRaw = {
      val r = spark.read.parquet(s"$store/corpus").head()
      (r.getLong(0), r.getLong(1))
    }
    IrSql.deleteBm25DocsLazy(spark, store,
      IrSql.deletedDocIds(spark, dir))
    // stats and corpus artifacts byte-level untouched — the whole
    // point of the lazy leg
    val statsAfter = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$store/stats"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .toSeq.sorted
    assert(statsAfter == statsBefore,
      "lazy delete rewrote the stats artifact")
    val corpusAfter = {
      val r = spark.read.parquet(s"$store/corpus").head()
      (r.getLong(0), r.getLong(1))
    }
    assert(corpusAfter == corpusRaw,
      "lazy delete rewrote the corpus row")
    // the served ranking is already the rebuild-without-docs answer
    val truthDir = tmp("graft_ldel_truth")
    val corpusDir = tmp("graft_ldel_corpus")
    spark.read.parquet(s"$dir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(IrSql.DeletedDocsMod)) =!=
        lit(IrSql.DeletedDocsRem))
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    IrSql.writeBm25Stats(spark, corpusDir, truthDir)
    val truth = ranked(truthDir)
    assert(ranked(store) == truth,
      "lazy-deleted ranking != rebuild-without-docs")
    // the sidecar carries exactly the dead mass
    val (ttd, ndd) = IrSql.lazyDeadStats(spark, store).get
    val truthCorpus = spark.read.parquet(s"$truthDir/corpus").head()
    assert((corpusRaw._1 - ttd, corpusRaw._2 - ndd) ==
      ((truthCorpus.getLong(0), truthCorpus.getLong(1))),
      "sidecar (tt_dead, nd_dead) not exact")
    // idempotence: re-lazy-deleting the same ids is a no-op
    IrSql.deleteBm25DocsLazy(spark, store,
      IrSql.deletedDocIds(spark, dir))
    assert(ranked(store) == truth)
    // compaction: deferred recompute + reclaim, answers preserved
    IrSql.compactBm25Deletes(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/tombstones_lazy")), "compaction left lazy tombstones")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/tomb_corpus")), "compaction left the sidecar")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/tombstones")), "compaction left graduated tombstones")
    assert(ranked(store) == truth, "compaction changed the ranking")
    // the deferred bill was actually paid: derived artifacts now
    // equal the rebuild truth exactly
    val gotStats = spark.read.parquet(s"$store/stats")
      .orderBy("term").collect().map(_.toString).toSeq
    val wantStats = spark.read.parquet(s"$truthDir/stats")
      .orderBy("term").collect().map(_.toString).toSeq
    assert(gotStats == wantStats,
      "post-compaction stats != rebuild-without-docs stats")
    val gotCorpus = spark.read.parquet(s"$store/corpus").head()
    assert((gotCorpus.getLong(0), gotCorpus.getLong(1)) ==
      ((truthCorpus.getLong(0), truthCorpus.getLong(1))),
      "post-compaction corpus != rebuild-without-docs corpus")
  }

  test("lazy delete crash states: uncommitted staging rolls back; a " +
    "committed marker replays to the exact post-delete state; an " +
    "EAGER delete after lazy heals everything (sidecar gone, stats " +
    "exact for the union)") {
    val store = freshBm25Store()
    val pre = ranked(store)
    val del = IrSql.deletedDocIds(spark, dir)
    // A: staged lazy tombstones, NO marker → rollback
    del.write.parquet(s"$store/_graft_tomb_lazy_new")
    IrSql.recoverBm25LazyDelete(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_graft_tomb_lazy_new")))
    assert(IrSql.lazyDeadStats(spark, store).isEmpty)
    assert(ranked(store) == pre, "rollback changed the store")
    // B: committed marker with staged tombstones → replay completes
    // (tombstones land, sidecar computed from the full set)
    del.write.parquet(s"$store/_graft_tomb_lazy_new")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$store/_graft_delete_lazy_inflight"), false).close()
    IrSql.recoverBm25LazyDelete(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_graft_delete_lazy_inflight")))
    val direct = freshBm25Store()
    IrSql.deleteBm25DocsLazy(spark, direct, del)
    assert(ranked(store) == ranked(direct),
      "crash replay != direct lazy delete")
    // C: an eager delete of MORE docs over the lazy store prices the
    // whole union into the derived stats and retires the lazy state
    import spark.implicits._
    val extra = spark.read.parquet(s"$dir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(IrSql.DeletedDocsMod)) ===
        lit(7L)).select(col("doc_id"))
    IrSql.deleteBm25Docs(spark, store, extra)
    assert(IrSql.lazyDeadStats(spark, store).isEmpty,
      "eager delete left the lazy sidecar")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/tombstones_lazy")),
      "eager delete left lazy tombstones ungraduated")
    val unionTruthCorpus = tmp("graft_ldel_union_corpus")
    spark.read.parquet(s"$dir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(IrSql.DeletedDocsMod)) =!=
        lit(IrSql.DeletedDocsRem))
      .filter(pmod(col("doc_id"), lit(IrSql.DeletedDocsMod)) =!= lit(7L))
      .write.mode("overwrite")
      .parquet(s"$unionTruthCorpus/documents.parquet")
    val unionTruth = tmp("graft_ldel_union_truth")
    IrSql.writeBm25Stats(spark, unionTruthCorpus, unionTruth)
    assert(ranked(store) == ranked(unionTruth),
      "eager-after-lazy != rebuild without the union")
    val got = spark.read.parquet(s"$store/corpus").head()
    val want = spark.read.parquet(s"$unionTruth/corpus").head()
    assert((got.getLong(0), got.getLong(1)) ==
      ((want.getLong(0), want.getLong(1))),
      "corpus row not exact after eager-after-lazy")
  }

  test("a LAZY delete under a LIVE Bm25Server is detected by the " +
    "stamp and served exactly (snapshot live-counts df, corrects " +
    "(tt, nd) from the sidecar) — interactive, batch, and filtered " +
    "paths all delete-exact") {
    val store = freshBm25Store()
    val srv = new graft.query.Bm25Server(spark, store)
    val preServed = srv.search(IrSql.ExpandedQueryTerms)
    IrSql.deleteBm25DocsLazy(spark, store,
      IrSql.deletedDocIds(spark, dir))
    val postServed = srv.search(IrSql.ExpandedQueryTerms)
    assert(postServed != preServed, "fixture delete missed the top-10")
    assert(postServed == ranked(store),
      "served lazy-deleted ranking != batch pruned path")
    val dead = IrSql.deletedDocIds(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val batch = srv.searchBatch(Seq(
      1L -> IrSql.ExpandedQueryTerms, 2L -> IrSql.DefaultQueryTerms))
    assert(batch.nonEmpty)
    assert(batch.forall { case (_, _, doc, _) => !dead.contains(doc) },
      "warm batch served a lazy-deleted doc")
    assert(batch.filter(_._1 == 1L).map(r => (r._3, r._4)) ==
      postServed.map { case (d, s) => (d, s) },
      "batch qid ranking != served post-delete ranking")
  }

  // ---- positional index ------------------------------------------

  test("positional delete serves the live view through load() and a " +
    "LIVE LoadedPhraseServer; compaction reclaims and preserves") {
    val posDir = tmp("graft_del_pos")
    val corpus = graft.queries.IrEngine.corpus(spark, dir)
    PositionalIndex.write(PositionalIndex.build(spark, corpus), posDir)
    val srv = new graft.query.LoadedPhraseServer(spark, posDir)
    val phrase = graft.queries.IrEngine.PhraseQuery
    val pre = srv.phrase(phrase)
    assert(pre.nonEmpty)
    // delete exactly the top hit
    import spark.implicits._
    PositionalIndex.deleteDocs(spark, posDir,
      Seq(pre.head._1).toDF("docid"))
    // fresh load() excludes it...
    val fresh = PositionalIndex
      .phrase(PositionalIndex.load(spark, posDir), phrase)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(!fresh.map(_._1).contains(pre.head._1))
    assert(fresh == pre.tail, "live view != pre-delete minus the doc")
    // ...and the LIVE routed server detects the delete via its stamp
    val served = srv.phrase(phrase)
    assert(served == fresh, s"stale served phrase after delete: " +
      s"served=$served fresh=$fresh")
    // corpus_stats went live
    val n = spark.read.parquet(s"$posDir/corpus_stats")
      .head().getAs[Long]("n_docs")
    assert(n == corpus.count() - 1)
    // compaction: tombstones reclaimed, answers preserved, the live
    // server keeps serving (manifests refreshed, stamp rebuild)
    val rowsBefore = spark.read.parquet(s"$posDir/pos_postings").count()
    PositionalIndex.compactDeletes(spark, posDir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$posDir/tombstones")))
    assert(spark.read.parquet(s"$posDir/pos_postings").count()
      < rowsBefore)
    assert(srv.phrase(phrase) == fresh,
      "post-compaction served phrase diverged")
    assert(PositionalIndex
      .phrase(PositionalIndex.load(spark, posDir), phrase)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == fresh)
  }

  test("inverted-index delete: load() serves rebuild-without-docs " +
    "rankings; a LIVE LoadedPointServer detects it; compaction " +
    "reclaims; crash states recover") {
    val ixDir = tmp("graft_del_inv")
    val corpus = graft.queries.IrEngine.corpus(spark, dir)
    InvertedIndex.write(
      InvertedIndex.build(spark, corpus, k = 1), ixDir)
    val lps = new graft.query.LoadedPointServer(spark, ixDir)
    val pre = lps.search("merge stream")
    assert(pre.nonEmpty)
    import spark.implicits._
    val victim = pre.head._2 // top docid
    InvertedIndex.deleteDocs(spark, ixDir, Seq(victim).toDF("docid"))
    // fresh load == engine over the corpus minus the doc (df/nDocs
    // exact, docnos preserved so full-row compare works here)
    val fresh = graft.query.QueryEngine
      .serveSearch(InvertedIndex.load(spark, ixDir), "merge stream")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(!fresh.map(_._2).contains(victim))
    val rebuilt = graft.query.QueryEngine
      .search(InvertedIndex.build(spark,
        corpus.filter(col("docid") =!= victim), k = 1), "merge stream")
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(fresh.map(t => (t._2, t._3)) == rebuilt,
      "tombstoned ranking != rebuild-without-doc")
    // the LIVE routed server detects the delete via its stamp
    assert(lps.search("merge stream") == fresh,
      "stale served ranking after an inverted-index delete")
    // crash replay: stage + marker for a second victim, recover
    val victim2 = fresh.head._1
    Seq(victim2).toDF("docno").write
      .parquet(s"$ixDir/_graft_tomb_new")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$ixDir/_graft_delete_inflight"), false).close()
    InvertedIndex.store.recover(spark, ixDir)
    val afterReplay = lps.search("merge stream")
    assert(!afterReplay.map(_._1).contains(victim2),
      "crash replay did not apply the staged tombstone")
    // compaction reclaims and preserves (server keeps serving)
    val rowsBefore = spark.read.parquet(s"$ixDir/postings").count()
    InvertedIndex.compactDeletes(spark, ixDir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$ixDir/tombstones")))
    assert(spark.read.parquet(s"$ixDir/postings").count() < rowsBefore)
    assert(lps.search("merge stream") == afterReplay,
      "compaction changed the served ranking")
  }

  /** The delete crash walk over one written store: `hits` is a
    * doc-local answer (docid, tf) whose top doc is the victim, so a
    * completed delete removes exactly its row. */
  private def deleteCrashStates(store: String,
                                hits: () => Seq[(String, Long)],
                                recover: () => Unit): Unit = {
    val corpus = graft.queries.IrEngine.corpus(spark, dir)
    val pre = hits()
    val victimDocno = spark.read.parquet(s"$store/doc_map")
      .filter(col("docid") === pre.head._1)
      .head().getAs[Long]("docno")
    import spark.implicits._
    // A: staged, no marker → rollback
    Seq(victimDocno).toDF("docno").write
      .parquet(s"$store/_graft_tomb_new")
    recover()
    assert(hits() == pre)
    // B: staged + marker → replay completes (doc gone, stats live)
    Seq(victimDocno).toDF("docno").write
      .parquet(s"$store/_graft_tomb_new")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$store/_graft_delete_inflight"), false).close()
    recover()
    assert(hits() == pre.tail)
    assert(spark.read.parquet(s"$store/corpus_stats")
      .head().getAs[Long]("n_docs") == corpus.count() - 1)
  }

  test("positional delete crash states recover (rollback and replay)") {
    val posDir = tmp("graft_del_pos_crash")
    val corpus = graft.queries.IrEngine.corpus(spark, dir)
    PositionalIndex.write(PositionalIndex.build(spark, corpus), posDir)
    val phrase = graft.queries.IrEngine.PhraseQuery
    def hits() = PositionalIndex
      .phrase(PositionalIndex.load(spark, posDir), phrase)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    deleteCrashStates(posDir, () => hits(),
      () => PositionalIndex.store.recover(spark, posDir))
  }

  test("inverted delete crash states recover (rollback and replay); " +
    "the replayed term_stats equal a rebuild without the doc") {
    val ixDir = tmp("graft_del_inv_crash")
    val corpus = graft.queries.IrEngine.corpus(spark, dir)
    InvertedIndex.write(InvertedIndex.build(spark, corpus, k = 1), ixDir)
    // one kgram's postings list, tf desc: doc-local, so a deleted doc
    // drops exactly its own row
    val kgram = spark.read.parquet(s"$ixDir/term_stats")
      .orderBy(col("df").desc, col("kgram")).head().getString(0)
    def hits() = {
      val ix = InvertedIndex.load(spark, ixDir)
      ix.postings.filter(col("kgram") === kgram).join(ix.docMap, "docno")
        .orderBy(col("tf").desc, col("docid"))
        .collect().map(r => (r.getAs[String]("docid"), r.getAs[Long]("tf")))
        .toSeq
    }
    val victim = hits().head._1
    deleteCrashStates(ixDir, () => hits(),
      () => InvertedIndex.store.recover(spark, ixDir))
    val rebuilt = InvertedIndex.build(spark,
      corpus.filter(col("docid") =!= victim), k = 1)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rowsOf(spark.read.parquet(s"$ixDir/term_stats")) ==
      rowsOf(rebuilt.termStats), "replayed term_stats != rebuild")
  }

  test("surgical reclaim rewrites only the part files holding a dead " +
    "row (docno-ranged doc_map localizes the takedown; untouched " +
    "files stay byte-identical) and a crashed committed swap replays") {
    val posDir = tmp("graft_del_pos_surg")
    val corpus = graft.queries.IrEngine.corpus(spark, dir)
    // force many files so "untouched" is a real set on sf0.001
    PositionalIndex.write(PositionalIndex.build(spark, corpus), posDir,
      rowsPerFile = 100L) // 500 docs → 5 doc_map files
    val phrase = graft.queries.IrEngine.PhraseQuery
    def hits() = PositionalIndex
      .phrase(PositionalIndex.load(spark, posDir), phrase)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val pre = hits()
    import spark.implicits._
    PositionalIndex.deleteDocs(spark, posDir,
      Seq(pre.head._1).toDF("docid"))
    val post = hits()
    // which doc_map files hold the dead docno — the rest must survive
    // the reclaim byte-identical (name, size, mtime)
    // compare by file NAME (input_file_name URIs differ in scheme
    // slashes from FileSystem listings)
    def snap(table: String, touched: Set[String]) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$posDir/$table"))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .filter(f => !touched.contains(f.getPath.getName))
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
        .sortBy(_._1).toSeq
    val deadNo = spark.read.parquet(s"$posDir/tombstones")
      .collect().map(_.getLong(0)).toSet
    def touchedOf(table: String, key: String): Set[String] =
      spark.read.parquet(s"$posDir/$table")
        .filter(col(key).isInCollection(deadNo.toSeq))
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0).split("/").last).toSet
    val mapTouched = touchedOf("doc_map", "docno")
    val postTouched = touchedOf("pos_postings", "docno")
    val mapBefore = snap("doc_map", mapTouched)
    val postBefore = snap("pos_postings", postTouched)
    assert(mapBefore.nonEmpty && mapTouched.nonEmpty,
      "fixture needs both touched and untouched doc_map files")
    PositionalIndex.compactDeletes(spark, posDir)
    // every untouched file survives byte-identical; every touched
    // (dead-holding) file is gone, replaced by new parts
    val mapAfter = snap("doc_map", Set.empty)
    assert(mapBefore.forall(mapAfter.contains),
      "an untouched doc_map file was rewritten")
    assert(!mapAfter.exists(f => mapTouched.contains(f._1)),
      "a dead-holding doc_map file survived the reclaim")
    val postAfter = snap("pos_postings", Set.empty)
    assert(postBefore.forall(postAfter.contains),
      "an untouched pos_postings file was rewritten")
    assert(!postAfter.exists(f => postTouched.contains(f._1)),
      "a dead-holding pos_postings file survived the reclaim")
    assert(hits() == post, "surgical reclaim changed the answer")
    // zone-map manifests refreshed: every live file listed
    val files = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$posDir/doc_map"))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    val manifest = spark.read.parquet(s"$posDir/doc_map_ranges")
      .select("file").collect()
      .map(_.getString(0).split("/").last).toSet
    assert(manifest == files, "doc_map_ranges out of sync with files")
    // crashed COMMITTED swap: stage a replacement for one file, write
    // the marker, "crash" — recovery must finish the swap
    val victimFile = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$posDir/doc_map"))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .head.getPath
    spark.read.parquet(victimFile.toString)
      .write.parquet(s"$posDir/doc_map/_graft_rc_new")
    val mo = fs.create(new org.apache.hadoop.fs.Path(
      s"$posDir/doc_map/_graft_rc_inflight"), false)
    mo.write(victimFile.toString.getBytes("UTF-8")); mo.close()
    StoreSurgery.recover(spark, s"$posDir/doc_map")
    assert(!fs.exists(victimFile), "listed file survived the replay")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$posDir/doc_map/_graft_rc_inflight")))
    assert(hits() == post, "swap replay changed the answer")
    // uncommitted staging (no marker) rolls back
    spark.read.parquet(s"$posDir/doc_map")
      .write.parquet(s"$posDir/doc_map/_graft_rc_new")
    StoreSurgery.recover(spark, s"$posDir/doc_map")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$posDir/doc_map/_graft_rc_new")))
    assert(hits() == post, "staging rollback changed the answer")
  }

  test("a takedown under a LIVE HybridServer reaches BOTH arms with " +
    "no refresh: the fused ranking drops the doc and equals a fresh " +
    "server over the same mutated stores") {
    import graft.query.{Bm25Server, HybridServer, IvfServer}
    import graft.ops.{Similarity, Takedown, TakedownStores}
    val bm = tmp("graft_del_hyb_bm25")
    IrSql.writeBm25Stats(spark, dir, bm)
    val ivf = tmp("graft_del_hyb_ivf")
    Similarity.writeIvfLayout(spark, dir, ivf)
    val srv = new HybridServer(
      new Bm25Server(spark, bm), new IvfServer(spark, ivf))
    val qv = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    val terms = IrSql.DefaultQueryTerms
    val pre = srv.search(terms, qv)
    assert(pre.nonEmpty)
    val victim = pre.head._1 // fused top doc (doc_id == vec_id)
    import spark.implicits._
    Takedown.delete(spark,
      TakedownStores(bm25 = Some(bm), vectors = Some(ivf)),
      Seq(victim).toDF("doc_id"))
    val post = srv.search(terms, qv)
    assert(!post.exists(_._1 == victim),
      "the live hybrid server still serves the deleted doc")
    val fresh = new HybridServer(
      new Bm25Server(spark, bm), new IvfServer(spark, ivf))
      .search(terms, qv)
    assert(post == fresh,
      "live-server post-takedown fusion != fresh server")
  }

  test("a read-coherence EPOCH makes a multi-store takedown atomic " +
    "to a live HybridServer: searches issued between legs serve " +
    "ALL-OLD (never arm-mixed) and the single epoch commit flips " +
    "both arms at once; Takedown.delete(epochFile) drives it " +
    "end-to-end and cleans up") {
    import graft.query.{Bm25Server, HybridServer, IvfServer}
    import graft.ops.{Epoch, Similarity, Takedown, TakedownStores}
    val conf = spark.sparkContext.hadoopConfiguration
    val bm = tmp("graft_ep_bm25")
    IrSql.writeBm25Stats(spark, dir, bm)
    val ivf = tmp("graft_ep_ivf")
    Similarity.writeIvfLayout(spark, dir, ivf)
    val srv = new HybridServer(
      new Bm25Server(spark, bm), new IvfServer(spark, ivf))
    val qv = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    val terms = IrSql.DefaultQueryTerms
    val pre = srv.search(terms, qv) // warms BOTH arms' snapshots
    val victim = pre.head._1
    import spark.implicits._
    // hand-driven legs with the epoch open, observing BETWEEN them
    val ef = tmp("graft_ep_file") + "/epoch"
    Epoch.begin(conf, ef, Seq(bm, ivf))
    IrSql.deleteBm25Docs(spark, bm, Seq(victim).toDF("doc_id"))
    assert(srv.search(terms, qv) == pre,
      "between legs (bm25 committed, vector pending) the hybrid " +
        "serve must be ALL-OLD, not arm-mixed")
    Similarity.deleteIvfVectors(spark, ivf,
      Seq(victim).toDF("vec_id"))
    assert(srv.search(terms, qv) == pre,
      "all legs committed but epoch open: still all-old")
    Epoch.end(conf, ef, Seq(bm, ivf))
    val post = srv.search(terms, qv)
    assert(!post.exists(_._1 == victim),
      "the epoch commit did not flip the live server to all-new")
    assert(post == new HybridServer(
      new Bm25Server(spark, bm), new IvfServer(spark, ivf))
      .search(terms, qv),
      "post-epoch fusion != fresh server over the mutated stores")
    // end-to-end: the fan-out drives the same epoch itself
    val victim2 = post.head._1
    val ef2 = tmp("graft_ep_file2") + "/epoch"
    Takedown.delete(spark,
      TakedownStores(bm25 = Some(bm), vectors = Some(ivf)),
      Seq(victim2).toDF("doc_id"), epochFile = Some(ef2))
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(ef2)),
      "Takedown.delete left the epoch file")
    for (s <- Seq(bm, ivf))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s, Epoch.Marker)), s"epoch pointer left in $s")
    val post2 = srv.search(terms, qv)
    assert(!post2.exists(_._1 == victim2),
      "the epoch-driven takedown is invisible to the live server")
  }
}
