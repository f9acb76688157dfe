package graft.query

import graft.SparkSpec
import graft.corpus.TrecCorpus
import graft.index.PositionalIndex

/** LoadedPhraseServer: job-free driver-path parity with the
  * cached-index and fresh-plan paths over pure parquet artifacts
  * (appended and tombstoned stores included), loaded == cached for
  * every positional query family, no Spark job on a warm query, and a
  * loud failure on the compressed layout. */
class LoadedPhraseServerSpec extends SparkSpec {

  private lazy val corpus =
    TrecCorpus.read(spark, resourcePath("/graft/sample-trec.xml"))
  private lazy val pix = PositionalIndex.build(spark, corpus)
  private lazy val dir = {
    val tmp = java.nio.file.Files.createTempDirectory("lps_ix").toString
    // small rowsPerFile → several files, so routing actually routes
    PositionalIndex.write(pix, tmp, rowsPerFile = 16)
    tmp
  }
  private lazy val server = new LoadedPhraseServer(spark, dir)

  private def cached(q: String): Seq[(String, Long)] =
    PositionalIndex.phrase(pix, q).limit(10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  test("routed template == cached fresh plan across a query sequence") {
    val phrases = Seq("merge engine", "sorted streams", "merge engine",
      "engine merges", "streams buffers")
    phrases.foreach { p =>
      assert(server.phrase(p) == cached(p), s"divergence on '$p'")
    }
    assert(phrases.exists(p => server.phrase(p).nonEmpty))
  }

  test("unknown and stopword-only terms answer empty without a job") {
    assert(server.phrase("zzzzunknown merge") == Seq.empty)
    assert(server.phrase("the") == Seq.empty)
  }

  test("repeated-term and other-length phrases match the cached paths") {
    assert(server.phrase("merging merges") == cached("merging merges"))
    // 3 words fold three slots; 1 word degenerates to the term's tf;
    // interleaved with 2-word queries
    assert(server.phrase("merge engine merges") ==
      cached("merge engine merges"))
    assert(server.phrase("merge") == cached("merge"))
    assert(server.phrase("merge engine") == cached("merge engine"))
    // nine words, longer than the deleted prepared plans' 8 slots: the
    // same driver path
    val long = "merge merge merge merge merge merge merge merge merge"
    assert(server.phrase(long) == cached(long))
  }

  test("routed near/nearOrdered templates match the RANKED fresh plan") {
    // the three paths of the ranked serving contract agree: fresh
    // nearTopK over the cached index == the cached PhraseServer
    // template == this loaded server's driver path
    def freshNear(a: String, b: String, w: Int, ordered: Boolean) =
      PositionalIndex.nearTopK(pix, a, b, w, ordered).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    val cachedServer = new PhraseServer(pix)
    val cases = Seq(("merge", "engine", 3, false), ("merge", "engine", 1, true),
      ("sorted", "streams", 2, false), ("merge", "engine", 3, false))
    cases.foreach { case (a, b, w, o) =>
      val want = freshNear(a, b, w, o)
      assert(server.near(a, b, w, o) == want,
        s"loaded divergence on near($a, $b, $w, ordered=$o)")
      assert(cachedServer.near(a, b, w, o) == want,
        s"cached divergence on near($a, $b, $w, ordered=$o)")
    }
    assert(cases.exists { case (a, b, w, o) => server.near(a, b, w, o).nonEmpty })
    // unknown term routes nowhere → empty without a job
    assert(server.near("zzzzunknown", "merge", 3) == Seq.empty)
  }

  test("loaded == cached for phrase, near, nearOrdered and snippet") {
    val loaded = server.index
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toList).toSeq
    assert(rows(PositionalIndex.phrase(loaded, "merge engine")) ==
      rows(PositionalIndex.phrase(pix, "merge engine")))
    assert(rows(PositionalIndex.near(loaded, "merge", "engine", 3)) ==
      rows(PositionalIndex.near(pix, "merge", "engine", 3)))
    assert(rows(PositionalIndex.nearOrdered(loaded, "merge", "engine", 3)) ==
      rows(PositionalIndex.nearOrdered(pix, "merge", "engine", 3)))
    assert(rows(PositionalIndex.snippet(loaded, "merge engine")) ==
      rows(PositionalIndex.snippet(pix, "merge engine")))
  }

  test("the routed reused plan contains no exchange node") {
    // no reused plan is left to hold an exchange: a warm phrase or near
    // query runs no Spark job at all
    assert(server.phrase("merge engine").nonEmpty)
    assert(server.near("merge", "engine", 3).nonEmpty)
    val jobs = jobsDuring {
      server.phrase("merge engine")
      server.phrase("sorted streams")
      server.phrase("merge engine merges")
      server.phrase("zzzzunknown merge")
      server.near("merge", "engine", 3)
      server.near("sorted", "streams", 2, ordered = true)
    }
    assert(jobs == 0, s"warm loaded phrase/near submitted $jobs Spark jobs")
  }

  test("appended, tombstoned multi-file store: phrase and near equal " +
    "the fresh plans row for row, ties at the top-k boundary included") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("lps_app").toString
    // docnos follow docid order within each generation, and the
    // appended generation's come after the base's, so the docno and
    // docid tiebreaks agree
    PositionalIndex.write(PositionalIndex.build(spark,
      corpus.filter($"docid" <= "FT911-0010")), store, rowsPerFile = 50)
    PositionalIndex.appendToStore(spark, store,
      corpus.filter($"docid" > "FT911-0010"), rowsPerFile = 50)
    PositionalIndex.deleteDocs(spark, store,
      Seq("FT911-0017", "FT911-0014").toDF("docid"))
    val ranges = Routing.ranges(
      spark.read.parquet(s"$store/pos_postings_ranges"), Routing.Utf8Key)
    assert(Routing.route(ranges, org.apache.spark.unsafe.types.UTF8String
      .fromString("sort")).size >= 2, "a term must live in several files")
    val loaded = PositionalIndex.load(spark, store)
    def freshPhrase(p: String, k: Int) =
      PositionalIndex.phrase(loaded, p).limit(k).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    def freshNear(a: String, b: String, w: Int, o: Boolean, k: Int) =
      PositionalIndex.nearTopK(loaded, a, b, w, o, k).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    val phrases = Seq("sorted runs", "merge", "streams buffers",
      "external merge sort", "disk spill", "stream")
    val nears = Seq(("merge", "sort", 3, false), ("sorted", "runs", 1, true),
      ("stream", "merge", 5, false), ("buffers", "streams", 2, false))
    val srv = new LoadedPhraseServer(spark, store)
    phrases.foreach(p => assert(srv.phrase(p) == freshPhrase(p, 10), s"'$p'"))
    nears.foreach { case (a, b, w, o) =>
      assert(srv.near(a, b, w, o) == freshNear(a, b, w, o, 10),
        s"near($a, $b, $w, ordered=$o)")
    }
    assert(srv.phrase("sorted runs").size >= 2)
    assert(srv.phrase("merge dominance").isEmpty,
      "a tombstoned doc must not serve")
    // cut through a tie: the count at rank k-1 equals rank k's
    val ties = for {
      p <- phrases
      all = freshPhrase(p, 100)
      k <- 1 until all.size if all(k - 1)._2 == all(k)._2
    } yield (p, k)
    assert(ties.nonEmpty, "fixture must hold a tie")
    ties.groupBy(_._2).foreach { case (k, ps) =>
      val cut = new LoadedPhraseServer(spark, store, topK = k)
      ps.foreach { case (p, _) =>
        assert(cut.phrase(p) == freshPhrase(p, k), s"'$p' top-$k")
      }
      nears.foreach { case (a, b, w, o) =>
        assert(cut.near(a, b, w, o) == freshNear(a, b, w, o, k),
          s"near($a, $b, $w, ordered=$o) top-$k")
      }
    }
  }

  test("a compressed (pos_z) store fails loudly, not with an empty answer") {
    val comp = java.nio.file.Files.createTempDirectory("lps_z").toString
    PositionalIndex.write(pix, comp, rowsPerFile = 16, compressed = true)
    val srv = new LoadedPhraseServer(spark, comp)
    val e = intercept[IllegalArgumentException](srv.phrase("merge engine"))
    assert(e.getMessage.contains("positions"))
    intercept[IllegalArgumentException](srv.near("merge", "engine", 3))
  }
}
