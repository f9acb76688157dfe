package graft.query

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.IrSql

/** Pins [[Bm25Server]] to the fresh pruned plan and the full
  * multi-term scorer: served == fresh == multi, bit for bit, for a
  * seeded query set; job-free warm search; the batch template's
  * exchange-free invariant; concurrency; and rebuilds that read the
  * mutated store under a live server. */
class Bm25ServerSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val store = {
    val out = java.nio.file.Files
      .createTempDirectory("graft_bm25_srv").toString
    IrSql.writeBm25Stats(spark, dir, out)
    out
  }

  private lazy val srv = new Bm25Server(spark, store)

  private val querySet: Seq[Seq[String]] = Seq(
    IrSql.ExpandedQueryTerms,
    Seq("dup", "data", "table", "scan", "row", "key", "value", "batch"),
    Seq("merge", "stream"),
    IrSql.ExpandedQueryTerms, // repeat: reused template, same answer
    Seq("spark", "query", "group", "column"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def bits(rs: Seq[(Long, Double)]): Seq[(Long, Long)] =
    rs.map { case (d, s) => (d, java.lang.Double.doubleToRawLongBits(s)) }

  private def keepSet(ids: Iterable[Long]) = {
    val s = new java.util.HashSet[java.lang.Long]()
    ids.foreach(i => s.add(i))
    s
  }

  private def keepFrame(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("doc_id")
  }

  /** 44 seeded queries over the store's vocabulary: head terms,
    * 1-term queries, 2-term queries, long queries, repeated terms,
    * unknown terms, and 1-term queries whose 10th and 11th hits hold
    * the same (tf, dl) — a score tie at the top-k cut. */
  private lazy val seededSet: Seq[Seq[String]] = {
    val rng = new scala.util.Random(808)
    val vocab = spark.read.parquet(s"$store/stats").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, df) => (-df, t) }.map(_._1)
    val head = vocab.take(20)
    def any() = vocab(rng.nextInt(vocab.length))
    def hd() = head(rng.nextInt(head.length))
    val (tt, nd) = IrSql.readCorpusStats(spark, store)
    val ties = IrSql.livePostings(spark, store)
      .join(IrSql.liveDoclen(spark, store), "doc_id")
      .select("term", "tf", "dl").collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1).flatMap { case (t, ps) =>
        val df = ps.length.toLong
        val ranked = ps.map(r => (r.getLong(1), r.getLong(2)))
          .sortBy { case (tf, dl) => -IrSql.bm25Score(tf, dl, df, tt, nd) }
        if (ranked.length > 10 && ranked(9) == ranked(10)) Some(t) else None
      }
    assert(ties.size >= 4, s"only ${ties.size} top-k tie terms")
    head.take(4).map(Seq(_)) ++
      Seq.fill(4)(Seq(any())) ++
      Seq.fill(8)(Seq(hd(), any())) ++
      Seq.fill(8)(Seq.fill(3 + rng.nextInt(6))(
        if (rng.nextBoolean()) hd() else any())) ++
      Seq.fill(4) { val t = any(); Seq(t, hd(), t) } ++
      Seq.fill(4)(Seq(any(), s"zzq${rng.nextInt(1000)}x", hd())) ++
      Seq.fill(4)(Seq(hd(), s"zzq${rng.nextInt(1000)}x")) ++
      rng.shuffle(ties).take(4).map(Seq(_)) ++
      Seq.fill(4)(Seq(ties(rng.nextInt(ties.size)), hd()))
  }

  test("served == fresh pruned == full multi across a query sequence") {
    querySet.foreach { terms =>
      val multi = IrSql.q10Bm25Multi(spark, dir, terms).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fresh = IrSql.q10Bm25PrunedAt(spark, store, terms, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = srv.search(terms)
      assert(fresh == multi, s"$terms: fresh pruned diverged from multi")
      assert(got == multi, s"$terms: served=$got multi=$multi")
    }
  }

  test("served FILTERED == fresh q10Bm25Filtered (candidates " +
    "restricted, statistics global), across keep sets") {
    val keepAll = graft.ops.Similarity.filterIds(spark, dir)
      .select(col("vec_id").as("doc_id"))
    val filterDocs = keepAll.collect().map(_.getLong(0)).toSeq
    // the metadata filter, and a narrow hand-picked set (forces the
    // keep predicate to actually bite on the top of the ranking)
    Seq(filterDocs, filterDocs.sorted.take(40)).foreach { ids =>
      val want = rows(IrSql.q10Bm25Filtered(spark, dir, keepFrame(ids)))
      val got = srv.searchFiltered(IrSql.DefaultQueryTerms, keepSet(ids))
      assert(got == want, s"filtered served=$got fresh=$want")
    }
    // empty keep set: nothing may be returned
    assert(srv.searchFiltered(IrSql.DefaultQueryTerms,
      keepSet(Seq.empty)).isEmpty)
  }

  test("unknown-term and empty queries return empty; known terms mixed " +
    "with unknown ones still rank correctly") {
    assert(srv.search(Seq("zzzqqqxx")).isEmpty)
    assert(srv.search(Nil).isEmpty)
    val want = IrSql.q10Bm25Multi(spark, dir, Seq("merge", "stream"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(srv.search(Seq("merge", "zzzqqqxx", "stream")) == want)
  }

  test("warm batch == q10Bm25Batch row for row (shared plan shape); " +
    "unknown-only qids yield no rows; repeat batch identical") {
    val want = IrSql.q10Bm25Batch(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val got = srv.searchBatch(IrSql.BatchQueries)
    assert(got == want, s"batch served=$got\nfresh=$want")
    assert(srv.searchBatch(IrSql.BatchQueries) == want,
      "repeat batch diverged (template reuse)")
    // a qid of only unknown terms contributes nothing; the rest of
    // the batch is unaffected
    val withGhost = IrSql.BatchQueries :+ (99L -> Seq("zzzqqqxx"))
    assert(srv.searchBatch(withGhost) == want)
    assert(srv.searchBatch(Seq(99L -> Seq("zzzqqqxx"))).isEmpty)
    // the batch template is exchange-free above the cached relation
    val s = srv.batchTemplatePlan.toString
    val above = s.linesIterator
      .takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
    assert(above.contains("InMemoryTableScan") &&
      !above.contains("Exchange"),
      s"batch template must stay exchange-free:\n$above")
  }

  test("both templates are exchange-free under the session conf") {
    // the templates this name pinned are gone: warm search and
    // searchFiltered score on the driver and submit no Spark job,
    // whatever the query (known, unknown-only, empty)
    val keep = keepSet(0L until 500L)
    srv.search(IrSql.ExpandedQueryTerms) // snapshot built
    val jobs = jobsDuring {
      querySet.foreach { t => srv.search(t); srv.searchFiltered(t, keep) }
      Seq(Seq("zzzqqqxx"), Nil).foreach { t =>
        assert(srv.search(t).isEmpty)
        assert(srv.searchFiltered(t, keep).isEmpty)
      }
    }
    assert(jobs == 0, s"warm search/searchFiltered submitted $jobs jobs")
  }

  test("seeded query set: search == fresh pruned == full multi and " +
    "searchFiltered == q10Bm25Filtered, scores compared as IEEE bits") {
    assert(seededSet.size >= 40)
    val all = keepSet(0L until 500L)
    val narrowIds = (0L until 500L).filter(_ % 3 == 0)
    val narrowDf = keepFrame(narrowIds)
    val narrow = keepSet(narrowIds)
    seededSet.foreach { terms =>
      val multi = bits(rows(IrSql.q10Bm25Multi(spark, dir, terms)))
      val fresh = bits(rows(IrSql.q10Bm25PrunedAt(spark, store, terms, 10)))
      assert(fresh == multi, s"$terms: fresh pruned diverged from multi")
      assert(bits(srv.search(terms)) == multi, s"$terms: search")
      // every doc kept: the filtered scorer is the unpruned one
      assert(bits(srv.searchFiltered(terms, all)) == multi,
        s"$terms: searchFiltered over every doc")
      if (terms.size <= 2) {
        val want = bits(rows(
          IrSql.q10Bm25Filtered(spark, dir, narrowDf, terms)))
        assert(bits(srv.searchFiltered(terms, narrow)) == want,
          s"$terms: searchFiltered over every third doc")
      }
    }
  }

  test("a live server reads the store's files at every rebuild: two " +
    "lazy deletes, an exact delete and a merge each serve like the " +
    "fresh paths, from one persisted relation") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25_srv_live").toString
    val full = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val cut = full.count() * 3 / 4
    full.filter(col("doc_id") < cut)
      .write.parquet(s"$root/base/documents.parquet")
    val st = s"$root/store"
    IrSql.writeBm25Stats(spark, s"$root/base", st)
    def held() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = held()
    val live = new Bm25Server(spark, st)
    var mine = held() -- before
    var corpus = full.filter(col("doc_id") < cut)
    val keepIds = (0L until 500L).filter(_ % 3 == 0)
    def check(step: String): Unit = {
      val pre = held()
      val served = querySet.map(live.search)
      val filtered = live.searchFiltered(IrSql.DefaultQueryTerms,
        keepSet(keepIds))
      val batch = live.searchBatch(IrSql.BatchQueries)
      // the rebuilt snapshot's relation; the replaced one released
      val ours = (held() -- pre) ++ (mine intersect held())
      assert(ours.size == 1, s"$step: ${ours.size} relations held")
      mine = ours
      querySet.zip(served).foreach { case (terms, got) =>
        assert(got == rows(IrSql.q10Bm25PrunedAt(spark, st, terms, 10)),
          s"$step $terms: search")
      }
      val cdir = s"$root/$step"
      corpus.write.parquet(s"$cdir/documents.parquet")
      assert(filtered == rows(IrSql.q10Bm25Filtered(spark, cdir,
        keepFrame(keepIds))), s"$step: searchFiltered")
      assert(batch == IrSql.q10Bm25BatchAt(spark, st, IrSql.BatchQueries, 10)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq,
        s"$step: searchBatch")
    }
    def dropped(rem: Int) =
      full.filter(col("doc_id") < cut && col("doc_id") % 13 === rem)
        .select("doc_id")
    check("open")
    Seq(5, 6).foreach { rem =>
      IrSql.deleteBm25DocsLazy(spark, st, dropped(rem))
      corpus = corpus.filter(col("doc_id") % 13 =!= rem)
      check(s"lazy$rem")
    }
    IrSql.deleteBm25Docs(spark, st, dropped(7))
    corpus = corpus.filter(col("doc_id") % 13 =!= 7)
    check("exact")
    IrSql.mergeBm25Stats(spark, st, full.filter(col("doc_id") >= cut))
    corpus = corpus.union(full.filter(col("doc_id") >= cut))
    check("merged")
  }

  test("8 concurrent searches each return their own correct ranking " +
    "(pooled templates, no shared-ref race)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val qs = querySet ++ querySet.take(3)
    val want = qs.map(t => t -> srv.search(t)).toMap
    (1 to 3).foreach { _ =>
      val got = Await.result(
        Future.sequence(qs.map(t => Future(t -> srv.search(t)))),
        120.seconds).toMap
      qs.foreach(t =>
        assert(got(t) == want(t), s"concurrent bm25 [$t] diverged"))
    }
  }

  test("impact bounds re-price after a store merge (frontier pairs + " +
    "current corpus stats): a merged store's server matches the " +
    "merged corpus's full scorer") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25_srv_m").toString
    val full = spark.read.parquet(s"$dir/documents.parquet")
    val half = full.count() / 2
    full.filter(col("doc_id") < half)
      .write.mode("overwrite").parquet(s"$root/base/documents.parquet")
    val st = s"$root/store"
    IrSql.writeBm25Stats(spark, s"$root/base", st)
    IrSql.mergeBm25Stats(spark, st,
      full.filter(col("doc_id") >= half).select("doc_id", "text"))
    val want = IrSql.q10Bm25Multi(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(new Bm25Server(spark, st)
      .search(IrSql.ExpandedQueryTerms) == want)
  }

  test("a store merge under a LIVE server is detected by the version " +
    "stamp: post-merge searches serve the merged corpus with no " +
    "explicit refresh; compaction is detected too; refresh() works") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25_srv_stale").toString
    val full = spark.read.parquet(s"$dir/documents.parquet")
    val n = full.count()
    full.filter(col("doc_id") < n / 2)
      .write.mode("overwrite").parquet(s"$root/base/documents.parquet")
    val st = s"$root/store"
    IrSql.writeBm25Stats(spark, s"$root/base", st)
    val live = new Bm25Server(spark, st)
    def fresh(): Seq[(Long, Double)] =
      IrSql.q10Bm25PrunedAt(spark, st, IrSql.ExpandedQueryTerms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = live.search(IrSql.ExpandedQueryTerms)
    assert(before == fresh(), "pre-merge served != fresh")
    // mutate the store the server holds open — NO refresh call
    IrSql.mergeBm25Stats(spark, st,
      full.filter(col("doc_id") >= n / 2).select("doc_id", "text"))
    val wantMerged = IrSql.q10Bm25Multi(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(before != wantMerged,
      "test corpus too small to distinguish pre/post-merge rankings")
    assert(live.search(IrSql.ExpandedQueryTerms) == wantMerged,
      "live server served a stale ranking after mergeBm25Stats")
    // compaction rewrites the artifact files: the stamp must move and
    // the rebuilt snapshot keep serving the same (content-equal) rows
    val compacted = IrSql.compactBm25Store(spark, st, maxFiles = 1)
    assert(compacted >= 1, "compaction did not trigger")
    assert(live.search(IrSql.ExpandedQueryTerms) == wantMerged,
      "live server diverged after compactBm25Store")
    live.refresh() // the explicit hammer stays available
    assert(live.search(IrSql.ExpandedQueryTerms) == wantMerged)
  }
}
