package graft.query

import graft.SparkSpec
import graft.corpus.TrecCorpus
import graft.index.{CharKGramIndex, InvertedIndex, PositionalIndex}
import graft.text.TextPipeline

/** The cached servers' packed driver dictionaries ([[PointServer]],
  * [[PhraseServer]], [[WildcardServer]]) against the loaded servers
  * and the fresh plans, on appended and tombstoned stores: ~30 seeded
  * queries per kind — head terms, unknown and stopword-only terms,
  * repeated terms, ties at the top-k cut — with scores compared as
  * IEEE bits, and no Spark job on any warm call. */
class PackedServerSpec extends SparkSpec {

  private lazy val corpus =
    TrecCorpus.read(spark, resourcePath("/graft/sample-trec.xml"))

  private val victims = Seq("FT911-0017", "FT911-0008")
  private val dirs = scala.collection.mutable.Buffer.empty[String]

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(tag).toString
    dirs += d
    d
  }

  override def afterAll(): Unit = {
    dirs.foreach { d =>
      val wk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try wk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally wk.close()
    }
    super.afterAll()
  }

  /** Base ≤ FT911-0010, the rest appended, 50 rows a file, `victims`
    * tombstoned: docnos follow docid order, so the docno and docid
    * tiebreaks agree. */
  private lazy val ixDir = {
    import spark.implicits._
    val dir = tmp("graft_pk_ix")
    InvertedIndex.write(InvertedIndex.build(spark,
      corpus.filter($"docid" <= "FT911-0010")), dir, rowsPerFile = 50L)
    InvertedIndex.appendToStore(spark, dir,
      corpus.filter($"docid" > "FT911-0010"), rowsPerFile = 50L)
    InvertedIndex.deleteDocs(spark, dir, victims.toDF("docid"))
    dir
  }

  private lazy val posDir = {
    import spark.implicits._
    val dir = tmp("graft_pk_pos")
    PositionalIndex.write(PositionalIndex.build(spark,
      corpus.filter($"docid" <= "FT911-0010")), dir, rowsPerFile = 50)
    PositionalIndex.appendToStore(spark, dir,
      corpus.filter($"docid" > "FT911-0010"), rowsPerFile = 50)
    PositionalIndex.deleteDocs(spark, dir, victims.toDF("docid"))
    dir
  }

  private lazy val cgDir = {
    val dir = tmp("graft_pk_cg")
    val cg = CharKGramIndex.build(spark, corpus)
    CharKGramIndex.write(cg, dir, rowsPerFile = math.max(1L, cg.count() / 8))
    dir
  }

  private lazy val ps = PointServer.overStore(spark, ixDir)
  private lazy val phs = PhraseServer.overStore(spark, posDir)
  private lazy val ws = new WildcardServer(spark, cgDir, point = Some(ps))

  /** The corpus's lowercase words outside its markup, in text order
    * per doc. */
  private lazy val docWords: Seq[Seq[String]] = corpus.select("content")
    .collect().map(_.getString(0).replaceAll("(?s)<DOCNO>.*?</DOCNO>", " ")
      .replaceAll("<[^>]*>", " ").toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z]+").toSeq.filter(_.length > 1)).toSeq

  /** Words that analyze to one index term, most frequent first. */
  private lazy val byFreq: Seq[String] = docWords.flatten
    .filter(w => TextPipeline.processContent(w).size == 1)
    .groupBy(identity).toSeq.sortBy { case (w, n) => (-n.size, w) }.map(_._1)

  private def rng = new scala.util.Random(20261020L)

  private def bits(rows: Seq[(Long, String, Double)]) =
    rows.map { case (d, id, s) => (d, id, java.lang.Double.doubleToLongBits(s)) }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    bits(df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq)

  private lazy val pointQueries: Seq[String] = {
    val r = rng
    byFreq.take(6) ++ Seq.fill(10)(byFreq(r.nextInt(byFreq.size))) ++
      Seq.fill(8)(s"${byFreq(r.nextInt(byFreq.size))} ${byFreq(r.nextInt(12))}") ++
      Seq("the", "of the", "zzqxunknown", "zzqxunknown merge", "merge merge",
        s"${byFreq.head} ${byFreq.head}")
  }

  private lazy val phrases: Seq[String] = {
    val r = rng
    // runs of 2-3 adjacent words that each analyze to one term
    val runs = docWords.flatMap(_.sliding(3)).filter(_.size == 3)
      .filter(_.forall(w => TextPipeline.processContent(w).size == 1))
    Seq.fill(18) {
      val run = runs(r.nextInt(runs.size))
      run.take(2 + r.nextInt(2)).mkString(" ")
    } ++ byFreq.take(4) ++ Seq("merge merge", "buffer buffer buffer",
      s"${byFreq(1)} ${byFreq.head}", "zzqxunknown merge", "the",
      "external merge sort reads sorted runs back", "sorted runs")
  }

  private lazy val nears: Seq[(String, String, Int, Boolean)] = {
    val r = rng
    // pairs up to 4 words apart in one doc, and head-term pairs
    val one = docWords.map(_.filter(w => TextPipeline.processContent(w).size == 1))
      .filter(_.size >= 5)
    Seq.fill(20) {
      val ws = one(r.nextInt(one.size))
      val at = r.nextInt(ws.size - 4)
      val gap = 1 + r.nextInt(4)
      (ws(at), ws(at + gap), gap + r.nextInt(3) - 1, r.nextBoolean())
    } ++ Seq.fill(4)((byFreq(r.nextInt(6)), byFreq(r.nextInt(6)),
      1 + r.nextInt(5), r.nextBoolean())) ++
      Seq(("merge", "merge", 3, false), ("buffer", "buffer", 2, true),
        ("zzqxunknown", "merge", 3, false), ("sorted", "runs", 1, true),
        ("merge", "sort", 5, false), ("stream", "merge", 4, false))
  }

  private lazy val patterns: Seq[String] = {
    val r = rng
    val vocab = byFreq.filter(_.length >= 4)
    Seq.fill(24) {
      val w = vocab(r.nextInt(vocab.size))
      r.nextInt(3) match {
        case 0 => w.take(2 + r.nextInt(2)) + "*"
        case 1 => "*" + w.takeRight(3)
        case _ => w.take(2) + "*" + w.takeRight(2)
      }
    } ++ Seq("st*", "st*am", "a*s", "*zzqnotfound*", "s*", "*e*")
  }

  test("point: cached == loaded == serveSearch, bit for bit, ties at " +
    "the top-k cut included") {
    val lx = InvertedIndex.load(spark, ixDir)
    val lps = new LoadedPointServer(spark, ixDir)
    // each query's top-100; its top-k is the prefix (a total order)
    val fresh = pointQueries.distinct
      .map(q => q -> rows(QueryEngine.serveSearch(lx, q, 100))).toMap
    pointQueries.foreach { q =>
      val want = fresh(q).take(10)
      assert(bits(ps.search(q)) == want, s"cached [$q]")
      assert(bits(lps.search(q)) == want, s"loaded [$q]")
    }
    assert(pointQueries.count(q => ps.search(q).nonEmpty) >= 15)
    assert(ps.search("the").isEmpty && ps.search("zzqxunknown").isEmpty)
    assert(!ps.search(byFreq.head).exists(r => victims.contains(r._2)))
    val ties = for {
      (q, all) <- fresh.toSeq
      k <- 1 until all.size if all(k - 1)._3 == all(k)._3
    } yield (q, k)
    assert(ties.nonEmpty, "fixture must hold a score tie")
    ties.groupBy(_._2).toSeq.sortBy(_._1).take(4).foreach { case (k, qs) =>
      val cut = PointServer.overStore(spark, ixDir, topK = k)
      qs.foreach { case (q, _) =>
        assert(bits(cut.search(q)) == fresh(q).take(k), s"cached [$q] top-$k")
      }
    }
  }

  test("phrase and near: cached == loaded == PositionalIndex.phrase / " +
    "nearTopK, ties at the top-k cut included") {
    val lpx = PositionalIndex.load(spark, posDir)
    val lph = new LoadedPhraseServer(spark, posDir)
    val fresh = phrases.distinct.map { p =>
      p -> (if (TextPipeline.processContent(p).isEmpty) Seq.empty
        else PositionalIndex.phrase(lpx, p).limit(100).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq)
    }.toMap
    phrases.foreach { p =>
      val want = fresh(p).take(10)
      assert(phs.phrase(p) == want, s"cached '$p'")
      assert(lph.phrase(p) == want, s"loaded '$p'")
    }
    assert(phrases.count(p => phs.phrase(p).nonEmpty) >= 15)
    nears.foreach { case (a, b, w, o) =>
      val want = PositionalIndex.nearTopK(lpx, a, b, w, o).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(phs.near(a, b, w, o) == want, s"cached near($a, $b, $w, $o)")
      assert(lph.near(a, b, w, o) == want, s"loaded near($a, $b, $w, $o)")
    }
    assert(nears.count { case (a, b, w, o) => phs.near(a, b, w, o).nonEmpty } >= 10)
    val ties = for {
      (p, all) <- fresh.toSeq
      k <- 1 until all.size if all(k - 1)._2 == all(k)._2
    } yield (p, k)
    assert(ties.nonEmpty, "fixture must hold a tie")
    ties.groupBy(_._2).toSeq.sortBy(_._1).take(3).foreach { case (k, qs) =>
      val cut = PhraseServer.overStore(spark, posDir, topK = k)
      qs.foreach { case (p, _) => assert(cut.phrase(p) == fresh(p).take(k), s"'$p' top-$k") }
    }
  }

  test("wildcard lookup and retrieval: cached == loaded == " +
    "wildcardTerms / wildcardSearch, bit for bit") {
    val cg = CharKGramIndex.load(spark, cgDir)
    val lx = InvertedIndex.load(spark, ixDir)
    val lps = new LoadedPointServer(spark, ixDir)
    val lws = new LoadedWildcardServer(spark, cgDir)
    patterns.foreach { p =>
      val terms = QueryEngine.wildcardTerms(cg, p).collect().map(_.getString(0)).toSeq
      assert(ws.lookup(p) == terms, s"cached lookup [$p]")
      assert(lws.lookup(p) == terms, s"loaded lookup [$p]")
      val want = rows(QueryEngine.wildcardSearch(lx, cg, p))
      assert(bits(ws.search(p)) == want, s"cached retrieval [$p]")
      assert(rows(QueryEngine.wildcardSearchExpanded(lps.index, terms)) == want,
        s"loaded retrieval [$p]")
    }
    assert(patterns.count(p => ws.search(p).nonEmpty) >= 15)
    assert(ws.lookup("*zzqnotfound*").isEmpty && ws.lookup("a*s").nonEmpty)
  }

  test("the caller-owned PointServer over an unwritten built index " +
    "equals serveSearch, bit for bit") {
    val ix = InvertedIndex.build(spark, corpus, k = 1)
    val own = new PointServer(ix)
    pointQueries.foreach { q =>
      assert(bits(own.search(q)) == rows(QueryEngine.serveSearch(ix, q)), s"[$q]")
    }
    assert(jobsDuring(pointQueries.foreach(own.search)) == 0)
    InvertedIndex.unpersist(ix)
  }

  test("warm calls of every kind submit no Spark job") {
    def all(): Unit = {
      pointQueries.foreach(ps.search)
      phrases.foreach(phs.phrase)
      nears.foreach { case (a, b, w, o) => phs.near(a, b, w, o) }
      patterns.foreach { p => ws.lookup(p); ws.search(p) }
    }
    all() // warm
    val jobs = jobsDuring(all())
    assert(jobs == 0, s"warm cached-server calls submitted $jobs Spark jobs")
  }
}
