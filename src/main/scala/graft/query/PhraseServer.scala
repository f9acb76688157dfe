package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import graft.index.PositionalIndex
import graft.index.PositionalIndex.PIndex

/** Phrase and proximity serving with NO Spark job per query —
  * [[PointServer]]'s packed driver dictionary applied to the
  * positional index, the form the REPL serves.
  *
  * Each snapshot collects its live positional postings ONCE into a
  * packed dictionary ([[Packed]]): the terms in UTF-8 order in one
  * byte array, each owning a slice of a `docno[]` column and of
  * per-posting offsets into ONE `positions int[]`, plus docno → docid.
  * A query is then [[PhraseServer.Scorer]] — the driver scorer
  * [[LoadedPhraseServer]] runs over its routed parquet reads:
  *
  *  - a phrase counts, per doc holding every term, the left-fold
  *    shifted intersection of its position lists
  *    ([[PositionalIndex.phraseRuns]], [[PositionalIndex.phrase]]'s
  *    formulation: slot i shifted by −i; a single term degenerates to
  *    its tf; a repeated term ("merge merge") counts its immediate
  *    self-adjacencies); any phrase length serves this way;
  *  - a near query counts qualifying position pairs
  *    ([[PositionalIndex.nearPairs]], [[PositionalIndex.nearTopK]]'s
  *    ranked contract);
  *  - both keep the top-k by count desc then docno asc and return
  *    (docid, count) by count desc then docid asc.
  *
  * DRIVER MEMORY: ~12 bytes per live posting plus 4 per position, the
  * packed terms and the docids (SizeEstimator: 1.18 MB for perfbench
  * `serve`'s 400 docs, 53k postings, 73k positions). The snapshot holds no Spark-cached frame, so a cluster
  * driver must be sized for the positional store, as for
  * [[Bm25Server]]. The limit is GUARDED, not just documented (the
  * [[graft.index.InvertedIndex.BroadcastDocs]] discipline): past
  * `maxTemplateDocs` no dictionary is collected and every query
  * serves through the fresh-plan [[PositionalIndex]] paths — pruned,
  * parallel, same results. For a big WRITTEN index, serve through
  * [[LoadedPhraseServer]], whose zone-map routing bounds each query's
  * read to the row groups holding its terms, with no Spark job.
  *
  * STALENESS: a server handed an in-memory [[PIndex]] serves that
  * SNAPSHOT (the struct is immutable; a merge builds a new PIndex).
  * The store-backed form ([[PhraseServer.overStore]]) revalidates the
  * store's [[DirVersion]] stamp per query through the shared
  * [[Snapshot]] holder and re-collects when the directory moved — a
  * [[PositionalIndex.merge]]-then-write under a live server is
  * detected, never silently served stale. [[refresh]] is the explicit
  * hammer for listing-lagging layouts.
  *
  * Safe for concurrent callers: a snapshot is immutable and each
  * query allocates its own accumulators. */
final class PhraseServer private (
    source: Snapshot.Source[PIndex], topK: Int, maxTemplateDocs: Long) {

  /** Snapshot-serving constructor over a caller-owned index. */
  def this(pix: PIndex, topK: Int = 10,
           maxTemplateDocs: Long = PhraseServer.MaxTemplateDocs) =
    this(Snapshot.fixed(pix), topK, maxTemplateDocs)

  private final class State(val pix: PIndex) {
    /** The packed dictionary's scorer while the corpus is under the
      * guard; past it, None: the fresh plans serve. */
    val scorer: Option[PhraseServer.Scorer] =
      if (pix.nDocs <= maxTemplateDocs) Some(PhraseServer.packed(pix, topK))
      else None
  }

  private val snapshot = new Snapshot[State](source.stamp,
    () => new State(source.load()), _ => ())

  /** Drop the snapshot and re-collect the dictionary NOW. */
  def refresh(): Unit = snapshot.refresh()

  /** Whether the packed dictionary serves queries on the CURRENT
    * snapshot (corpus under the guard). Exposed for the guard spec. */
  private[graft] def usesDictionary: Boolean = snapshot.current().scorer.nonEmpty

  /** Top-k (docid, near_tf) for docs holding `termA` within `window`
    * tokens of `termB` (`ordered`: termB strictly after), near_tf =
    * qualifying-pair count, tf desc then docid asc — the
    * [[PositionalIndex.nearTopK]] RANKED serving contract. Only the
    * top-k docnos resolve, whatever the term pair's corpus frequency;
    * the full matching set stays available through the analytic
    * [[PositionalIndex.near]]. */
  def near(termA: String, termB: String, window: Int,
           ordered: Boolean = false): Seq[(String, Long)] = {
    val st = snapshot.current()
    val (a, b) = PhraseServer.nearTerms(termA, termB)
    st.scorer.fold(PositionalIndex.nearTopK(st.pix, termA, termB, window,
        ordered, topK).collect().map(r => (r.getString(0), r.getLong(1))).toSeq)(
      _.near(a, b, window, ordered))
  }

  /** Top-k (docid, phrase_tf), tf desc then docid asc — the same
    * ordering contract as [[PositionalIndex.phrase]] limited to topK. */
  def phrase(phraseText: String): Seq[(String, Long)] = {
    val st = snapshot.current()
    val terms = graft.text.TextPipeline.processContent(phraseText)
    if (terms.isEmpty) return Seq.empty
    st.scorer.fold(PhraseServer.freshPhrase(st.pix, phraseText, topK))(
      _.phrase(terms))
  }
}

object PhraseServer {
  /** Largest corpus (docs) whose positional postings the server
    * collects into its driver dictionary; past it every query routes
    * to the pruned, parallel fresh plans. Same order of magnitude as
    * [[graft.index.InvertedIndex.BroadcastDocs]] — both guard a
    * convenience that is only cheap while the corpus is. */
  val MaxTemplateDocs = 10000000L

  /** STORE-BACKED form over a written [[PositionalIndex.write]]
    * layout, with per-query [[DirVersion]] staleness revalidation — a
    * merge/rewrite of `dir` under the live server re-collects the
    * dictionary before the next query runs. No frame stays cached. */
  def overStore(spark: SparkSession, dir: String, topK: Int = 10,
                maxTemplateDocs: Long = MaxTemplateDocs): PhraseServer =
    new PhraseServer(new Snapshot.Source[PIndex](
        Snapshot.store(spark, dir, PositionalIndex.store.stampDirs(dir)),
        () => PositionalIndex.load(spark, dir), _ => ()),
      topK, maxTemplateDocs)

  /** The phrase/near driver scorer of both phrase servers, over a
    * postings source: `lists` gives the query terms' live (docno,
    * positions) rows ([[Packed.Postings]] for [[PhraseServer]],
    * [[Routing.Routed]] for [[LoadedPhraseServer]]), `resolve` the
    * top-k docnos → docids (unresolvable ones drop). */
  private[query] final class Scorer(topK: Int,
      lists: Seq[UTF8String] => Map[UTF8String, Seq[(Long, Array[Int])]],
      resolve: Seq[Long] => Map[Long, String]) {

    /** Per term of `terms`, its live docno → positions. */
    private def positions(terms: Seq[String]): Seq[Map[Long, Array[Int]]] = {
      val utf8 = terms.map(UTF8String.fromString)
      val found = lists(utf8.distinct)
      utf8.map(t => found.getOrElse(t, Nil).toMap)
    }

    /** Top-k (docid, phrase_tf) over the analyzed phrase `terms`. */
    def phrase(terms: Seq[String]): Seq[(String, Long)] = {
      val slots = positions(terms)
      if (slots.isEmpty) return Seq.empty
      top(slots.head.iterator.flatMap { case (d, p0) =>
        val rest = slots.tail.flatMap(_.get(d))
        if (rest.size < slots.size - 1) None
        else Some(d -> PositionalIndex.phraseRuns(p0 +: rest))
      })
    }

    /** Top-k (docid, near_tf) over the analyzed term pair. */
    def near(a: String, b: String, window: Int,
             ordered: Boolean): Seq[(String, Long)] = {
      val Seq(pa, pb) = positions(Seq(a, b))
      top(pa.iterator.collect { case (d, xs) if pb.contains(d) =>
        d -> PositionalIndex.nearPairs(xs, pb(d), window, ordered)
      })
    }

    /** The top-k (docno, count) hits by count desc, docno asc,
      * resolved to (docid, count) by count desc, docid asc. */
    private def top(hits: Iterator[(Long, Long)]): Seq[(String, Long)] = {
      val best = hits.filter(_._2 > 0).toSeq
        .sortBy { case (d, tf) => (-tf, d) }.take(topK)
      byDocid(best, resolve(best.map(_._1)))
    }
  }

  /** A positional index collected into its packed dictionary, with its
    * scorer. */
  private def packed(pix: PIndex, topK: Int): Scorer = {
    val (keys, rows) = Packed.collect(
      pix.postings.select("term", "docno", "positions"), "docno")
    val lists = rows.map(_.getSeq[Int](2))
    val off = lists.scanLeft(0)(_ + _.size)
    val pos = lists.flatten
    new Scorer(topK, new Packed.Postings(keys, rows.map(_.getLong(1)),
        i => java.util.Arrays.copyOfRange(pos, off(i), off(i + 1))).lists,
      Packed.docs(pix.docMap).resolve)
  }

  /** The analyzed (termA, termB) of a near query — single non-stopword
    * terms only. */
  private[query] def nearTerms(termA: String,
                               termB: String): (String, String) = {
    val ta = graft.text.TextPipeline.processContent(termA)
    val tb = graft.text.TextPipeline.processContent(termB)
    require(ta.size == 1 && tb.size == 1,
      s"near takes single non-stopword terms, got '$termA'/'$termB'")
    (ta.head, tb.head)
  }

  /** The fresh-plan phrase path past the dictionary bound. */
  private[query] def freshPhrase(pix: PIndex, phraseText: String,
                                 topK: Int): Seq[(String, Long)] =
    PositionalIndex.phrase(pix, phraseText)
      .limit(topK).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  /** (docid, tf) rows by tf desc, docid asc, unresolved docnos dropped
    * (inner-join semantics). */
  private[query] def byDocid(top: Seq[(Long, Long)],
                             ids: Map[Long, String]): Seq[(String, Long)] =
    top.flatMap { case (docno, tf) => ids.get(docno).map((_, tf)) }
      .sortBy { case (docid, tf) => (-tf, docid) }
}
