package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.index.{InvertedIndex, PositionalIndex}

/** Round-14 staleness discipline for the previously-unstamped servers:
  * an index MERGE (or compaction/rewrite) landing in the store
  * directory under a LIVE server must be detected by the next query —
  * post-mutation served == fresh, with NO refresh() call (the
  * [[Bm25Server]] / [[IvfServer]] stamp contract, extended to
  * [[LoadedPointServer]], [[LoadedPhraseServer]], and the
  * store-backed [[PointServer]] / [[PhraseServer]] / [[Rm3Server]]
  * forms). The delta introduces a term absent from the base corpus,
  * so a stale snapshot is DISTINGUISHABLE from a fresh one on every
  * path (empty vs non-empty), not just equal by luck. */
class ServerStalenessSpec extends SparkSpec {

  private lazy val base: DataFrame = spark.createDataFrame(Seq(
    ("A", "alpha beta gamma alpha merge"),
    ("B", "gamma delta merge stream"),
    ("C", "beta alpha beta stream pipeline"))).toDF("docid", "content")

  private lazy val delta: DataFrame = spark.createDataFrame(Seq(
    ("D", "zebra alpha beta zebra"),
    ("E", "zebra merge gamma"))).toDF("docid", "content")

  private def withDir(tag: String)(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    try f(dir)
    finally {
      val wk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try wk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally wk.close()
    }
  }

  /** Build base index, write, run `query` pre-merge; merge the delta
    * and write the merged generation into the SAME directory (from
    * the in-memory base — a self-overwrite of a lazily-loaded frame
    * would read its own deleted files); return (pre, post) results. */
  private def invertedMergeUnder[T](dir: String)(query: () => T): (T, T) = {
    val ix = InvertedIndex.build(spark, base, k = 1)
    InvertedIndex.write(ix, dir)
    val pre = query()
    val merged = InvertedIndex.merge(spark, ix, delta, k = 1)
    InvertedIndex.write(merged, dir)
    val post = query()
    (pre, post)
  }

  test("LoadedPointServer detects an index merge under a live server") {
    withDir("graft_stale_lps") { dir =>
      var lps: LoadedPointServer = null
      val (pre, post) = invertedMergeUnder(dir) { () =>
        if (lps == null) lps = new LoadedPointServer(spark, dir)
        lps.search("zebra")
      }
      assert(pre.isEmpty, "zebra must not exist pre-merge")
      assert(post.nonEmpty, "merged term must be served with NO refresh")
      val want = QueryEngine
        .serveSearch(InvertedIndex.load(spark, dir), "zebra").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(post == want, s"post-merge served=$post fresh=$want")
      // an old term's ranking also reflects the merged corpus stats
      val gotMerge = lps.search("merge")
      val wantMerge = QueryEngine
        .serveSearch(InvertedIndex.load(spark, dir), "merge").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(gotMerge == wantMerge)
      // a pure REWRITE (compaction analog: same rows, new layout) is
      // also detected and serves identical results. Pin the current
      // generation in memory first: writing a lazily-loaded frame
      // over its own source files would read what it just deleted.
      val cur = InvertedIndex.load(spark, dir)
      def pinned(df: DataFrame): DataFrame = spark.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
      InvertedIndex.write(
        InvertedIndex.Index(pinned(cur.postings), pinned(cur.termStats),
          pinned(cur.docMap), cur.nDocs),
        dir, rowsPerFile = 50L)
      assert(lps.search("zebra") == want)
    }
  }

  test("PointServer.overStore detects an index merge under a live server") {
    withDir("graft_stale_ps") { dir =>
      var ps: PointServer = null
      val (pre, post) = invertedMergeUnder(dir) { () =>
        if (ps == null) ps = PointServer.overStore(spark, dir)
        ps.search("zebra")
      }
      assert(pre.isEmpty && post.nonEmpty)
      val want = QueryEngine
        .serveSearch(InvertedIndex.load(spark, dir), "zebra").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(post == want)
      assert(ps.search("merge alpha") == QueryEngine
        .serveSearch(InvertedIndex.load(spark, dir), "merge alpha")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq)
    }
  }

  test("Rm3Server.overStore detects an index merge under a live server") {
    withDir("graft_stale_rm3") { dir =>
      var srv: Rm3Server = null
      val (pre, post) = invertedMergeUnder(dir) { () =>
        if (srv == null) srv = Rm3Server.overStore(spark, dir)
        srv.search("zebra")
      }
      assert(pre.isEmpty && post.nonEmpty)
      // fresh snapshot server over the merged artifacts == served
      val want = new Rm3Server(InvertedIndex.load(spark, dir))
        .search("zebra")
      assert(post == want, s"post-merge served=$post fresh=$want")
    }
  }

  test("LoadedPhraseServer detects a positional merge under a live server") {
    withDir("graft_stale_lph") { dir =>
      val pix = PositionalIndex.build(spark, base)
      PositionalIndex.write(pix, dir)
      val srv = new LoadedPhraseServer(spark, dir)
      assert(srv.phrase("zebra alpha").isEmpty)
      val merged = PositionalIndex.merge(spark, pix, delta)
      PositionalIndex.write(merged, dir)
      val got = srv.phrase("zebra alpha")
      val want = PositionalIndex
        .phrase(PositionalIndex.load(spark, dir), "zebra alpha")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == want && got.nonEmpty,
        s"post-merge served=$got fresh=$want")
      // proximity templates rebuild off the same snapshot
      assert(srv.near("zebra", "merge", 2) == PositionalIndex
        .nearTopK(PositionalIndex.load(spark, dir), "zebra", "merge", 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    }
  }

  test("PhraseServer.overStore detects a positional merge under a live server") {
    withDir("graft_stale_ph") { dir =>
      val pix = PositionalIndex.build(spark, base)
      PositionalIndex.write(pix, dir)
      val srv = PhraseServer.overStore(spark, dir)
      assert(srv.phrase("zebra alpha").isEmpty)
      assert(srv.phrase("alpha beta").nonEmpty) // warm the templates
      val merged = PositionalIndex.merge(spark, pix, delta)
      PositionalIndex.write(merged, dir)
      val got = srv.phrase("zebra alpha")
      val want = PositionalIndex
        .phrase(PositionalIndex.load(spark, dir), "zebra alpha")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == want && got.nonEmpty)
      // the pre-merge phrase now also sees the delta's docs
      val ab = srv.phrase("alpha beta")
      val abWant = PositionalIndex
        .phrase(PositionalIndex.load(spark, dir), "alpha beta")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(ab == abWant && ab.map(_._1).contains("D"))
    }
  }

  test("PointServer.overStore serves two appends under a live server " +
    "from the appended files, holding one snapshot's cached frames") {
    withDir("graft_stale_ps_app") { dir =>
      InvertedIndex.write(InvertedIndex.build(spark, base, k = 1), dir)
      val sc = spark.sparkContext
      def held() = sc.getPersistentRDDs.keySet.toSet
      val before = held()
      val ps = PointServer.overStore(spark, dir)
      var mine = held() -- before // postings + doc_map
      assert(mine.size == 2)
      assert(ps.search("zebra").isEmpty)
      val second = spark.createDataFrame(Seq(
        ("F", "yak zebra merge"), ("G", "yak alpha"))).toDF("docid", "content")
      Seq(delta, second).zipWithIndex.foreach { case (d, i) =>
        InvertedIndex.appendToStore(spark, dir, d, k = 1)
        val pre = held()
        val got = Seq("zebra", "yak", "merge alpha").map(ps.search)
        val post = held()
        // the rebuilt snapshot's two frames, the replaced ones released
        val ours = (post -- pre) ++ (mine intersect post)
        assert(ours.size == 2, s"append ${i + 1}: ${ours.size} frames held")
        mine = ours
        // the loaded server reads the store on the driver, no cache
        val fresh = new LoadedPointServer(spark, dir)
        assert(got == Seq("zebra", "yak", "merge alpha").map(fresh.search),
          s"append ${i + 1}")
        assert(got.head.nonEmpty)
      }
    }
  }
}
