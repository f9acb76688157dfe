package graft.query

import graft.SparkSpec
import graft.corpus.TrecCorpus
import graft.index.PositionalIndex

/** PhraseServer: driver-dictionary parity with the fresh-plan phrase
  * path across a query sequence, the index-size guard, concurrent
  * callers, and no Spark job on a warm query. */
class PhraseServerSpec extends SparkSpec {

  private lazy val corpus =
    TrecCorpus.read(spark, resourcePath("/graft/sample-trec.xml"))
  private lazy val pix = PositionalIndex.build(spark, corpus)
  private lazy val server = new PhraseServer(pix)

  private def fresh(q: String): Seq[(String, Long)] =
    PositionalIndex.phrase(pix, q).limit(10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  test("template == fresh plan across a query sequence (no stale state)") {
    val phrases = Seq("merge engine", "sorted streams", "merge engine",
      "engine merges", "streams buffers")
    phrases.foreach { p =>
      assert(server.phrase(p) == fresh(p), s"divergence on '$p'")
    }
    // at least one of the sequence must actually hit
    assert(phrases.exists(p => server.phrase(p).nonEmpty))
  }

  test("repeated-term pair counts immediate self-adjacency only") {
    // "merging merges" analyzes to (merg, merg): doc 1's token stream
    // has merg at 0,2,5 — no immediate repeat — while any doc with
    // consecutive identical stems would count
    assert(server.phrase("merging merges") == fresh("merging merges"))
  }

  test("every template length 1..MaxSlots matches the fresh plan") {
    // 1-word degenerates to the term's tf; 3 words exercise the
    // fold-intersection with a middle slot; the others interleave
    // hits and misses across lengths (stale-state check across n)
    val phrases = Seq("merge", "merge engine merges",
      "sorted streams of", "merge engine", "engine merges sorted streams")
    phrases.foreach { p =>
      assert(server.phrase(p) == fresh(p), s"divergence on '$p'")
    }
    assert(phrases.exists(p => server.phrase(p).nonEmpty))
    assert(server.phrase("the") == Seq.empty) // stopword-only
  }

  test("phrases beyond MaxSlots fall back to the fresh plan") {
    // nine words: longer than the deleted prepared plans' 8 slots; the
    // driver dictionary serves any length
    val long = "merge merge merge merge merge merge merge merge merge"
    assert(server.phrase(long) == fresh(long))
  }

  test("near/nearOrdered templates match the fresh RANKED proximity plan") {
    def freshNear(a: String, b: String, w: Int, ordered: Boolean) =
      PositionalIndex.nearTopK(pix, a, b, w, ordered).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    // interleave windows/orderings so (window, ordered) templates
    // can't serve each other's state; repeat a pair to hit the cache
    val cases = Seq(("merge", "engine", 3, false), ("merge", "engine", 1, true),
      ("sorted", "streams", 2, false), ("merge", "engine", 3, false),
      ("merge", "merge", 5, false))
    cases.foreach { case (a, b, w, o) =>
      assert(server.near(a, b, w, o) == freshNear(a, b, w, o),
        s"divergence on near($a, $b, $w, ordered=$o)")
    }
    assert(cases.exists { case (a, b, w, o) => server.near(a, b, w, o).nonEmpty })
  }

  test("index-size guard routes past-bound corpora to the fresh plans") {
    // a bound below the corpus size disables the O(index) cached
    // templates (the BroadcastDocs discipline); results are identical
    // through the fresh pruned plans
    val guarded = new PhraseServer(pix, maxTemplateDocs = 1L)
    assert(!guarded.usesDictionary)
    assert(server.usesDictionary) // default bound far above the corpus
    assert(guarded.phrase("merge engine") == server.phrase("merge engine"))
    assert(guarded.near("merge", "engine", 3) ==
      server.near("merge", "engine", 3))
    assert(guarded.phrase("merge engine").nonEmpty)
  }

  test("8 concurrent phrase/near queries return each its own correct " +
    "results (pooled templates)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // mixed shapes: 2-word and 3-word phrases (distinct pool keys) and
    // proximity queries — interleaved across 8 threads
    val phraseQs = Seq("merge engine", "sorted streams",
      "merge engine merges", "engine merges")
    val nearQs = Seq(("merge", "engine", 3, false),
      ("sorted", "streams", 2, false), ("merge", "engine", 1, true),
      ("merge", "merge", 5, false))
    val wantP = phraseQs.map(p => p -> server.phrase(p)).toMap
    val wantN = nearQs.map(c => c ->
      server.near(c._1, c._2, c._3, c._4)).toMap
    (1 to 3).foreach { _ =>
      val futs = phraseQs.map(p => Future(Left(p -> server.phrase(p)))) ++
        nearQs.map(c =>
          Future(Right(c -> server.near(c._1, c._2, c._3, c._4))))
      Await.result(Future.sequence(futs), 120.seconds).foreach {
        case Left((p, got)) =>
          assert(got == wantP(p), s"concurrent phrase [$p] diverged")
        case Right((c, got)) =>
          assert(got == wantN(c), s"concurrent near $c diverged")
      }
    }
  }

  test("the reused plans contain no exchange node (lengths 1, 2, 3)") {
    // no plan is reused any more: warm phrases of every length and
    // near queries answer from the driver dictionary with no Spark job
    def queries(): Unit = {
      Seq("merge", "merge engine", "merge engine merges").foreach(server.phrase)
      Seq((3, false), (1, true)).foreach { case (w, o) =>
        server.near("merge", "engine", w, o) }
    }
    queries() // warm
    val jobs = jobsDuring(queries())
    assert(jobs == 0, s"warm phrase/near queries submitted $jobs Spark jobs")
  }
}
