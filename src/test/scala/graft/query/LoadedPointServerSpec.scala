package graft.query

import graft.SparkSpec
import graft.corpus.TrecCorpus
import graft.index.{CharKGramIndex, InvertedIndex, PositionalIndex}

/** Pins [[LoadedPointServer]]'s job-free driver path to
  * [[QueryEngine.serveSearch]] over the SAME loaded artifacts —
  * identical rankings and bit-identical scores for every query in a
  * sequence, on single- and multi-file layouts (terms of one query
  * living in different files), on an appended and tombstoned store
  * (one term in several files, df summed across them), at a score tie
  * on the top-k boundary, and for keys whose UTF-8 and UTF-16 orders
  * disagree. The block cache behind the driver reads
  * ([[Routing.Blocks]]) keeps every loaded answer equal to the fresh
  * plans cold, warm, under eviction and read-through, drops a replaced
  * snapshot's blocks, and decodes a row group once under concurrent
  * misses. */
class LoadedPointServerSpec extends SparkSpec {

  lazy val corpus = TrecCorpus.read(spark, resourcePath("/graft/sample-trec.xml"))
  lazy val ix = InvertedIndex.build(spark, corpus, k = 1)
  lazy val cg = CharKGramIndex.build(spark, corpus)

  private def withTmp(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lps").toString
    try f(dir)
    finally {
      val wk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try wk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally wk.close()
    }
  }

  private def withWritten(rowsPerFile: Long)(f: String => Unit): Unit =
    withTmp { dir =>
      InvertedIndex.write(ix, dir, rowsPerFile)
      f(dir)
    }

  /** serveSearch's rows, scores as their IEEE bits. */
  private def fresh(lx: InvertedIndex.Index, q: String, topK: Int = 10) =
    QueryEngine.serveSearch(lx, q, topK).collect()
      .map(r => (r.getLong(0), r.getString(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq

  private def bits(rows: Seq[(Long, String, Double)]) =
    rows.map { case (d, id, s) => (d, id, java.lang.Double.doubleToLongBits(s)) }

  /** A (docno, docid, score) frame's rows, scores as their IEEE bits. */
  private def rows(df: org.apache.spark.sql.DataFrame) = {
    assert(df.columns.toSeq == Seq("docno", "docid", "score"))
    bits(df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2))).toSeq)
  }

  /** The sample's chargram store in 8 files, so a routed read covers a
    * strict subset. */
  private def withChargrams(f: String => Unit): Unit = withTmp { cgDir =>
    CharKGramIndex.write(cg, cgDir, rowsPerFile = math.max(1L, cg.count() / 8))
    f(cgDir)
  }

  private def pinToServeSearch(dir: String): Unit = {
    val lps = new LoadedPointServer(spark, dir)
    val lx = lps.index
    // repeats exercise the snapshot's cached footer row groups; 2-word
    // queries the cross-file routing; unknown-term and stopword-only
    // the empty answers
    val queries = Seq("merge", "stream buffer", "pipeline", "merge",
      "data stream", "stream buffer")
    queries.foreach { q =>
      val want = QueryEngine.serveSearch(lx, q).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      val got = lps.search(q)
      assert(got == want, s"query [$q]: got=$got want=$want")
    }
    assert(lps.search("the").isEmpty)
    assert(lps.search("zzzqqq").isEmpty)
    assert(lps.search("merge").nonEmpty)
  }

  test("single-file layout matches serveSearch (size-aware write)") {
    withWritten(InvertedIndex.WriteRowsPerFile) { dir =>
      // the sample corpus is tiny: size-aware write must give ONE file
      val files = new java.io.File(s"$dir/postings")
        .listFiles.count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"expected 1 postings file, got $files")
      pinToServeSearch(dir)
    }
  }

  test("multi-file layout routes terms to their files and matches") {
    withWritten(rowsPerFile = 50L) { dir =>
      val files = new java.io.File(s"$dir/postings")
        .listFiles.count(_.getName.endsWith(".parquet"))
      assert(files > 2, s"expected a multi-file layout, got $files")
      pinToServeSearch(dir)
    }
  }

  test("score template is exchange-free (reuse-safety invariant)") {
    // no reused plan is left to hold an exchange: a warm search runs no
    // Spark job at all, so no cached physical plan can serve stale data
    withWritten(rowsPerFile = 50L) { dir =>
      val lps = new LoadedPointServer(spark, dir)
      assert(lps.search("data stream").nonEmpty)
      val jobs = jobsDuring {
        Seq("data stream", "merge", "stream buffer", "zzzqqq", "the")
          .foreach(q => lps.search(q))
      }
      assert(jobs == 0, s"warm loaded searches submitted $jobs Spark jobs")
    }
  }

  /** An appended (base ≤ FT911-0010, delta after, 50 rows a file) and
    * tombstoned (FT911-0017, FT911-0008) written index. */
  private def withAppendedTombstoned(f: String => Unit): Unit = {
    import spark.implicits._
    withTmp { dir =>
      // docnos follow docid order within each generation, and the
      // appended generation's come after the base's
      InvertedIndex.write(InvertedIndex.build(spark,
        corpus.filter($"docid" <= "FT911-0010")), dir, rowsPerFile = 50L)
      InvertedIndex.appendToStore(spark, dir,
        corpus.filter($"docid" > "FT911-0010"), rowsPerFile = 50L)
      InvertedIndex.deleteDocs(spark, dir,
        Seq("FT911-0017", "FT911-0008").toDF("docid"))
      f(dir)
    }
  }

  test("appended, tombstoned multi-file store: bit-identical to " +
    "serveSearch, ties at the top-k boundary included") {
    withAppendedTombstoned { dir =>
      val ranges = Routing.ranges(
        spark.read.parquet(s"$dir/postings_ranges"), Routing.Utf8Key)
      Seq("merge", "stream").foreach { w =>
        val t = org.apache.spark.unsafe.types.UTF8String
          .fromString(QueryEngine.analyze(w).head)
        assert(Routing.route(ranges, t).size >= 2,
          s"'$w' must live in several files (one per generation)")
      }
      val lx = InvertedIndex.load(spark, dir)
      val lps = new LoadedPointServer(spark, dir)
      val queries = Seq("merge", "stream buffer", "sorted runs", "merge",
        "buffer", "spill disk", "streams")
      queries.foreach { q =>
        assert(bits(lps.search(q)) == fresh(lx, q), s"query [$q]")
      }
      assert(lps.search("merge").nonEmpty)
      assert(!lps.search("merge dominance").exists(_._2 == "FT911-0017"),
        "a tombstoned doc must not serve")
      // a cut through a tie: rank k-1 and rank k score the same, so the
      // docno tiebreak decides which of them the top-k keeps
      val ties = for {
        q <- queries.distinct
        all = fresh(lx, q, 100)
        k <- 1 until all.size if all(k - 1)._3 == all(k)._3
      } yield (q, k)
      assert(ties.nonEmpty, "fixture must hold a score tie")
      ties.groupBy(_._2).foreach { case (k, qs) =>
        val cut = new LoadedPointServer(spark, dir, topK = k)
        qs.foreach { case (q, _) =>
          assert(bits(cut.search(q)) == fresh(lx, q, k), s"query [$q] top-$k")
        }
      }
    }
  }

  test("loaded wildcard request on an appended, tombstoned store: " +
    "bit-identical to the rank(serve) plan over InvertedIndex.load, " +
    "and a warm request submits no Spark job") {
    withAppendedTombstoned { dir =>
      withChargrams { cgDir =>
        val lx = InvertedIndex.load(spark, dir)
        assert(lx.scorer.isEmpty)
        val lps = new LoadedPointServer(spark, dir)
        val lws = new LoadedWildcardServer(spark, cgDir)
        // st*: a many-term expansion; a*b: every segment shorter than
        // k, so the lookup reads every row group
        val patterns = Seq("st*am", "st*", "a*b", "*zzqnotfound*")
        patterns.foreach { p =>
          val terms = lws.lookup(p)
          assert(terms == QueryEngine.wildcardTerms(cg, p).collect()
            .map(_.getString(0)).toSeq, s"pattern [$p] lookup")
          assert(rows(QueryEngine.wildcardSearchExpanded(lps.index, terms)) ==
            rows(QueryEngine.wildcardSearchExpanded(lx, terms)), s"pattern [$p]")
        }
        assert(lws.lookup("st*").size > 1)
        assert(rows(QueryEngine.wildcardSearchExpanded(lps.index,
          lws.lookup("st*am"))).nonEmpty)
        assert(rows(QueryEngine.wildcardSearchExpanded(lps.index,
          Seq.empty)).isEmpty)
        val jobs = jobsDuring {
          patterns.foreach { p =>
            QueryEngine.wildcardSearchExpanded(lps.index, lws.lookup(p)).collect()
          }
        }
        assert(jobs == 0, s"warm loaded wildcard requests submitted $jobs Spark jobs")
      }
    }
  }

  test("routing compares terms in UTF-8 order: fullwidth and " +
    "supplementary-character terms serve like the fresh plans") {
    import spark.implicits._
    // one file whose range ends at a supplementary-character term: in
    // UTF-8 (Spark's min/max) order the fullwidth term lies inside it,
    // in Java's UTF-16 String order it lies past the end
    val sup = new String(Character.toChars(0x20000)) + "y"
    val full = "\uff46oo"
    val docs = Seq("U1" -> "apple pie", "U2" -> s"$full bar",
      "U3" -> s"$sup apple").toDF("docid", "content")
    withTmp { dir =>
      InvertedIndex.write(InvertedIndex.build(spark, docs), dir)
      val lx = InvertedIndex.load(spark, dir)
      val lps = new LoadedPointServer(spark, dir)
      Seq(full, "apple", sup, s"$full apple").foreach { q =>
        assert(bits(lps.search(q)) == fresh(lx, q), s"query [$q]")
      }
      assert(lps.search(full).map(_._2) == Seq("U2"))
    }
    withTmp { dir =>
      val cg = graft.index.CharKGramIndex.build(spark, docs)
      graft.index.CharKGramIndex.write(cg, dir)
      val lws = new LoadedWildcardServer(spark, dir)
      Seq(s"*$full*", "*ppl*", s"$full*").foreach { p =>
        assert(lws.lookup(p) == QueryEngine.wildcardTerms(cg, p).collect()
          .map(_.getString(0)).toSeq, s"pattern [$p]")
      }
      assert(lws.lookup(s"*$full*") == Seq(full))
    }
  }

  test("8 concurrent routed searches return each its own results") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    withWritten(rowsPerFile = 50L) { dir =>
      val lps = new LoadedPointServer(spark, dir)
      val queries = Seq("merge", "stream buffer", "pipeline",
        "data stream", "merge engine", "sorted", "buffer", "engine")
      val want = queries.map(q => q -> lps.search(q)).toMap
      (1 to 3).foreach { _ =>
        val got = Await.result(
          Future.sequence(queries.map(q => Future(q -> lps.search(q)))),
          120.seconds).toMap
        queries.foreach { q =>
          assert(got(q) == want(q), s"concurrent loaded search [$q] diverged")
        }
      }
    }
  }

  /** [[withAppendedTombstoned]]'s store, a positional store with the
    * same generations and tombstones, and [[withChargrams]]' store. */
  private def withStores(f: (String, String, String) => Unit): Unit = {
    import spark.implicits._
    withAppendedTombstoned { dir =>
      withTmp { posDir =>
        PositionalIndex.write(PositionalIndex.build(spark,
          corpus.filter($"docid" <= "FT911-0010")), posDir, rowsPerFile = 50)
        PositionalIndex.appendToStore(spark, posDir,
          corpus.filter($"docid" > "FT911-0010"), rowsPerFile = 50)
        PositionalIndex.deleteDocs(spark, posDir,
          Seq("FT911-0017", "FT911-0008").toDF("docid"))
        withChargrams(cgDir => f(dir, posDir, cgDir))
      }
    }
  }

  private val points = Seq("merge", "stream buffer", "sorted runs",
    "spill disk", "zzzqqq")
  private val phrases = Seq("sorted runs", "merge", "external merge sort",
    "disk spill")
  private val nears = Seq(("merge", "sort", 3, false), ("sorted", "runs", 1, true))
  // a*b: every segment shorter than k, so the lookup reads every row group
  private val patterns = Seq("st*am", "st*", "a*b")

  test("block cache: loaded search, phrase, near and wildcard requests " +
    "equal the fresh plans cold, warm, after LRU eviction and read " +
    "through; held bytes stay within the budget") {
    withStores { (dir, posDir, cgDir) =>
      val lx = InvertedIndex.load(spark, dir)
      val pl = PositionalIndex.load(spark, posDir)
      val want: Seq[Any] = points.map(q => fresh(lx, q)) ++
        phrases.map(p => PositionalIndex.phrase(pl, p).limit(10).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq) ++
        nears.map { case (a, b, w, o) =>
          PositionalIndex.nearTopK(pl, a, b, w, o, 10).collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq
        } ++
        patterns.map(p => rows(QueryEngine.wildcardSearchExpanded(lx,
          QueryEngine.wildcardTerms(cg, p).collect().map(_.getString(0)).toSeq)))
      assert(want.count(_ != Seq.empty) > want.size / 2)

      def servers(b: Routing.Blocks) = (new LoadedPointServer(spark, dir, blocks = b),
        new LoadedPhraseServer(spark, posDir, blocks = b),
        new LoadedWildcardServer(spark, cgDir, blocks = b))
      def check(state: String, b: Routing.Blocks,
                s: (LoadedPointServer, LoadedPhraseServer, LoadedWildcardServer)): Unit = {
        val (lps, lph, lws) = s
        def one(a: Any): Any = {
          assert(b.held <= b.budget, s"$state: ${b.held} B held, budget ${b.budget} B")
          a
        }
        val got = points.map(q => one(bits(lps.search(q)))) ++
          phrases.map(p => one(lph.phrase(p))) ++
          nears.map { case (a, bb, w, o) => one(lph.near(a, bb, w, o)) } ++
          patterns.map(p => one(rows(QueryEngine.wildcardSearchExpanded(
            lps.index, lws.lookup(p)))))
        got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
          assert(g == w, s"$state: request $i")
        }
      }

      val ample = new Routing.Blocks(1L << 30)
      val s = servers(ample)
      check("cold", ample, s)
      val decoded = ample.decoded
      assert(decoded > 0 && ample.held > 0)
      val jobs = jobsDuring(check("warm", ample, s))
      assert(jobs == 0, s"warm requests submitted $jobs Spark jobs")
      assert(ample.decoded == decoded, "a warm request decoded a row group again")

      // a quarter of the working set: blocks are evicted and decoded again
      val tiny = new Routing.Blocks(ample.held / 4)
      val t = servers(tiny)
      check("tiny budget, cold", tiny, t)
      val once = tiny.decoded
      check("tiny budget, evicted", tiny, t)
      assert(tiny.decoded > once, "nothing was evicted under the tiny budget")
      assert(tiny.held > 0)

      // smaller than any row group: every read streams, nothing is held
      val none = new Routing.Blocks(1L)
      check("read-through", none, servers(none))
      assert(none.held == 0 && none.decoded == 0)
    }
  }

  test("block cache: after a delete and an append under a live server " +
    "search equals the fresh plan, and the replaced snapshot's blocks " +
    "leave the cache") {
    import spark.implicits._
    withAppendedTombstoned { dir =>
      val b = new Routing.Blocks(1L << 30)
      val lps = new LoadedPointServer(spark, dir, blocks = b)
      val qs = Seq("merge", "stream buffer", "sorted runs")
      def pinned(step: String): Unit = {
        val lx = InvertedIndex.load(spark, dir)
        qs.foreach(q => assert(bits(lps.search(q)) == fresh(lx, q), s"$step: [$q]"))
        // the blocks a new server over this store holds, and no more
        val nb = new Routing.Blocks(1L << 30)
        val n = new LoadedPointServer(spark, dir, blocks = nb)
        qs.foreach(n.search)
        assert(b.held == nb.held, s"$step: ${b.held} B held, a new server's ${nb.held} B")
      }
      pinned("before")
      val top = lps.search("merge").head._2
      InvertedIndex.deleteDocs(spark, dir, Seq(top).toDF("docid"))
      pinned("after a delete")
      assert(!lps.search("merge").exists(_._2 == top))
      InvertedIndex.appendToStore(spark, dir, Seq(
        "NEW-0001" -> "merge merge stream buffer",
        "NEW-0002" -> "sorted runs merge").toDF("docid", "content"),
        rowsPerFile = 50L)
      pinned("after an append")
      assert(lps.search("merge").exists(_._2 == "NEW-0001"))
    }
  }

  test("block cache: 8 threads sending the same cold queries get the " +
    "single-threaded answers, and each row group is decoded once") {
    withAppendedTombstoned { dir =>
      val qs = Seq("merge", "stream buffer", "sorted runs", "spill disk",
        "buffer", "streams")
      val one = new Routing.Blocks(1L << 30)
      val single = new LoadedPointServer(spark, dir, blocks = one)
      val want = qs.map(single.search)
      val shared = new Routing.Blocks(1L << 30)
      val server = new LoadedPointServer(spark, dir, blocks = shared)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val start = new java.util.concurrent.CountDownLatch(1)
        val answers = (1 to 8).map(_ => pool.submit(
          new java.util.concurrent.Callable[Seq[Seq[(Long, String, Double)]]] {
            def call() = { start.await(); qs.map(server.search) }
          }))
        start.countDown()
        answers.foreach(a =>
          assert(a.get(120, java.util.concurrent.TimeUnit.SECONDS) == want))
      } finally pool.shutdown()
      assert(shared.decoded == one.decoded,
        s"${shared.decoded} decodes under 8 threads, ${one.decoded} in one")
    }
  }
}
