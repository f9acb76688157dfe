package graft.query

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.index.{CharKGramIndex, InvertedIndex}
import graft.queries.IrSql

/** Round-15 prepared wildcard serving: the warm template equals the
  * batch expansion ([[QueryEngine.wildcardTerms]]) pattern for
  * pattern, the retrieval arm equals [[QueryEngine.wildcardSearch]],
  * the template is exchange-free, and a chargram-store UPDATE under
  * the live server is detected by the stamp. */
class WildcardServerSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def freshCgStore(): String = {
    val o = tmp("graft_wc_cg")
    CharKGramIndex.write(
      IrSql.q08CharGrams(spark, dir)
        .groupBy(col("gram"))
        .agg(sort_array(collect_set(col("term"))).as("terms")), o)
    CharKGramIndex.writeVocabDf(spark, o,
      IrSql.tokens(spark, dir)
        .select(col("doc_id"), col("term")).distinct())
    o
  }

  private def batchTerms(store: String, pattern: String): Seq[String] =
    QueryEngine.wildcardTerms(CharKGramIndex.load(spark, store),
      pattern).collect().map(_.getString(0)).toSeq

  test("served lookup == wildcardTerms for single-*, multi-*, " +
    "gramless-fallback and no-hit patterns; repeat queries identical") {
    val store = freshCgStore()
    val srv = new WildcardServer(spark, store)
    for (pat <- Seq("st*am", "str*ea*m", "a*b", "*zzqnotfound*")) {
      val want = batchTerms(store, pat)
      assert(srv.lookup(pat) == want, s"pattern $pat diverged")
      assert(srv.lookup(pat) == want, s"pattern $pat repeat diverged")
    }
    // q09's fixture pattern must actually match something here
    assert(srv.lookup("st*am").nonEmpty)
  }

  test("the lookup template is exchange-free") {
    val srv = new WildcardServer(spark, freshCgStore())
    val plan = srv.templatePlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.isEmpty,
      s"wildcard template contains an exchange:\n$plan")
  }

  test("a chargram-store UPDATE under the LIVE server is detected by " +
    "the stamp: the update-introduced vocabulary term serves with no " +
    "refresh; a DELETE that retires a term is seen too") {
    val store = freshCgStore()
    val srv = new WildcardServer(spark, store)
    val pre = srv.lookup("st*am")
    assert(!pre.contains("stqzam"))
    val docTerms = IrSql.tokens(spark, dir)
      .select(col("doc_id"), col("term")).distinct()
    val oldTerms = docTerms
      .filter(pmod(col("doc_id"), lit(IrSql.UpdatedDocsMod)) ===
        lit(IrSql.UpdatedDocsRem))
    val newTerms = IrSql.updatedDocsNew(spark, dir)
      .select(col("doc_id"),
        explode(split(regexp_replace(lower(col("text")),
          "[^a-z0-9]+", " "), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    CharKGramIndex.updateDocs(spark, store, "wc-live-upd",
      oldTerms, newTerms)
    val post = srv.lookup("st*am")
    assert(post.contains("stqzam"),
      "live server missed the update-introduced vocabulary term")
    assert(post == batchTerms(store, "st*am"),
      "served post-update expansion != fresh batch expansion")
  }

  test("served wildcard RETRIEVAL == QueryEngine.wildcardSearch on " +
    "the same index + store (scores, order, docids)") {
    val store = freshCgStore()
    val corpus = graft.queries.IrEngine.corpus(spark, dir)
    val ix = InvertedIndex.build(spark, corpus, k = 1)
    val srv = new WildcardServer(spark, store,
      point = Some(new PointServer(ix)))
    // the chargram store above uses the SQL-subset vocabulary while
    // the index tokenizes with the full pipeline — wildcardSearch
    // re-analyzes the expansion either way, so the two paths agree
    val want = QueryEngine.wildcardSearch(ix,
        CharKGramIndex.load(spark, store), "st*am")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2))).toSeq
    val got = srv.search("st*am")
    assert(got == want, s"served=$got fresh=$want")
    assert(got.nonEmpty)
  }

  private def freshCgStoreFanned(nFiles: Int = 8): String = {
    val o = tmp("graft_wc_cgf")
    val grams = IrSql.q08CharGrams(spark, dir)
      .groupBy(col("gram"))
      .agg(sort_array(collect_set(col("term"))).as("terms"))
    // small rowsPerFile so the gram-ranged layout lands many files
    // and the routed prune is observable
    CharKGramIndex.write(grams, o,
      rowsPerFile = math.max(1L, grams.count() / nFiles))
    CharKGramIndex.writeVocabDf(spark, o,
      IrSql.tokens(spark, dir)
        .select(col("doc_id"), col("term")).distinct())
    o
  }

  test("LOADED wildcard serving == batch wildcardTerms for every " +
    "pattern shape, routes to a strict part-file subset, and a " +
    "store UPDATE under the live server is seen with no refresh") {
    val store = freshCgStoreFanned()
    val srv = new LoadedWildcardServer(spark, store)
    for (pat <- Seq("st*am", "str*ea*m", "a*b", "*zzqnotfound*")) {
      val want = batchTerms(store, pat)
      assert(srv.lookup(pat) == want, s"pattern $pat diverged")
      assert(srv.lookup(pat) == want, s"pattern $pat repeat diverged")
    }
    assert(srv.lookup("st*am").nonEmpty)
    // the routed prune: a narrow pattern's grams must not touch the
    // whole fanned store
    val all = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val routed = srv.routedFiles("st*am")
    assert(routed.nonEmpty && routed.size < all,
      s"no file-level prune: ${routed.size} of $all files routed")
    // live mutation: the stamp re-derives ranges, no refresh call
    val docTerms = IrSql.tokens(spark, dir)
      .select(col("doc_id"), col("term")).distinct()
    val oldTerms = docTerms
      .filter(pmod(col("doc_id"), lit(IrSql.UpdatedDocsMod)) ===
        lit(IrSql.UpdatedDocsRem))
    val newTerms = IrSql.updatedDocsNew(spark, dir)
      .select(col("doc_id"),
        explode(split(regexp_replace(lower(col("text")),
          "[^a-z0-9]+", " "), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    CharKGramIndex.updateDocs(spark, store, "wc-loaded-live-upd",
      oldTerms, newTerms)
    val post = srv.lookup("st*am")
    assert(post.contains("stqzam"),
      "loaded server missed the update-introduced vocabulary term")
    assert(post == batchTerms(store, "st*am"),
      "loaded post-update expansion != fresh batch expansion")
    // a live mergeIntoStore (the incremental WRITE path — file
    // surgery may split/replace the routed range files) re-derives
    // the ranges through the same stamp, no refresh call
    val delta = spark.createDataFrame(Seq(
      ("dX1", "stgridam strozam data"))).toDF("docid", "content")
    CharKGramIndex.mergeIntoStore(spark, store, delta)
    val merged = srv.lookup("st*am")
    assert(merged.contains("stgridam") && merged.contains("strozam"),
      "loaded server missed merge-introduced vocabulary")
    assert(merged == batchTerms(store, "st*am"),
      "loaded post-merge expansion != fresh batch expansion")
  }

  test("LOADED wildcard RETRIEVAL == QueryEngine.wildcardSearch on " +
    "the same index + store; the fresh-planned expanded-scoring " +
    "path (the loaded REPL mode) agrees too") {
    val store = freshCgStoreFanned()
    val corpus = graft.queries.IrEngine.corpus(spark, dir)
    val ix = InvertedIndex.build(spark, corpus, k = 1)
    val srv = new LoadedWildcardServer(spark, store,
      point = Some(new PointServer(ix)))
    val want = QueryEngine.wildcardSearch(ix,
        CharKGramIndex.load(spark, store), "st*am")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2))).toSeq
    val got = srv.search("st*am")
    assert(got == want, s"served=$got fresh=$want")
    assert(got.nonEmpty)
    // lookup + fresh-planned scoring (no PointServer arm) — the
    // loaded/pushdown REPL's wildcard path
    val expanded = QueryEngine.wildcardSearchExpanded(ix,
        srv.lookup("st*am"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2))).toSeq
    assert(expanded == want, s"expanded=$expanded fresh=$want")

    // a WRITTEN index with pending deletions of docs that hold
    // expansion terms: the expanded path's live window df must equal
    // the delete-exact term_stats that wildcardSearch joins, and both
    // must equal an index rebuilt without the docs (docnos renumber
    // on a rebuild, so that compare is on (docid, score))
    val ixDir = tmp("graft_wc_ix")
    InvertedIndex.write(ix, ixDir)
    val victims = want.take(2).map(_._2)
    import spark.implicits._
    InvertedIndex.deleteDocs(spark, ixDir, victims.toDF("docid"))
    val loaded = InvertedIndex.load(spark, ixDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2))).toSeq
    val chargrams = CharKGramIndex.load(spark, store)
    val rebuiltIx = InvertedIndex.build(spark,
      corpus.filter(!col("docid").isin(victims: _*)), k = 1)
    // "st*" expands to many kgrams: a multi-term window df
    for (pat <- Seq("st*am", "st*")) {
      val tombWant = rows(QueryEngine.wildcardSearch(loaded, chargrams,
        pat))
      val tombGot = rows(QueryEngine.wildcardSearchExpanded(loaded,
        srv.lookup(pat)))
      assert(tombGot == tombWant, s"$pat: tombstoned expanded=" +
        s"$tombGot fresh=$tombWant")
      assert(tombGot.nonEmpty &&
        !tombGot.exists(r => victims.contains(r._2)))
      val rebuilt = rows(QueryEngine.wildcardSearch(rebuiltIx,
        chargrams, pat)).map(r => (r._2, r._3))
      assert(tombGot.map(r => (r._2, r._3)) == rebuilt,
        s"$pat: tombstoned expanded ranking != rebuild-without-docs")
    }

    // an empty expansion: an empty frame of the output contract
    val none = QueryEngine.wildcardSearchExpanded(loaded, Seq.empty)
    assert(none.columns.toSeq == Seq("docno", "docid", "score"))
    assert(none.collect().isEmpty)

    // plan pin over the loaded index: no term_stats scan, and the
    // postings scan carries the expansion's kgram literals, so the
    // range-laid files prune by min/max (an inferred IsNotNull does
    // not count — it prunes nothing)
    import org.apache.spark.sql.catalyst.expressions.IsNotNull
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val scored = QueryEngine.wildcardSearchExpanded(loaded,
      srv.lookup("st*"))
    scored.collect() // finalize the adaptive plan
    val plan = scored.queryExecution.executedPlan
    val scans = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case f: FileSourceScanExec => f
    }
    def scansOf(name: String) = scans.filter(
      _.relation.location.rootPaths.exists(_.getName == name))
    assert(scansOf("term_stats").isEmpty, s"term_stats scanned:\n$plan")
    val postScans = scansOf("postings")
    assert(postScans.nonEmpty, s"no postings scan:\n$plan")
    postScans.foreach { f =>
      assert(f.dataFilters.exists(e => !e.isInstanceOf[IsNotNull] &&
          e.references.exists(_.name == "kgram")),
        s"postings scan carries no kgram literal filter:\n$plan")
    }
  }

  test("a pattern holding a supplementary character expands like " +
    "the index cut it: code-point grams on every lookup path") {
    import spark.implicits._
    val sup = new String(Character.toChars(0x20000)) + "yz"
    val docs = Seq("S1" -> s"$sup apple", "S2" -> "apple pie")
      .toDF("docid", "content")
    val store = tmp("graft_wc_sup")
    val cg = CharKGramIndex.build(spark, docs)
    CharKGramIndex.write(cg, store)
    val ws = new WildcardServer(spark, store)
    val lws = new LoadedWildcardServer(spark, store)
    // whole-segment grams, a trailing `$` gram, and a segment one code
    // point short of a gram (two UTF-16 units too many for one)
    for (p <- Seq(s"$sup*", s"*$sup", s"*${sup.take(2)}y*")) {
      assert(QueryEngine.wildcardTerms(cg, p).collect().map(_.getString(0))
        .toSeq == Seq(sup), s"wildcardTerms [$p]")
      assert(ws.lookup(p) == Seq(sup), s"WildcardServer [$p]")
      assert(lws.lookup(p) == Seq(sup), s"LoadedWildcardServer [$p]")
    }
  }

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)
}
