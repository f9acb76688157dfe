package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import graft.index.PositionalIndex
import graft.text.TextPipeline

/** Phrase and proximity serving over a LOADED (pure-parquet)
  * positional index with NO Spark job per query —
  * [[LoadedPointServer]]'s driver read applied to the positional
  * store.
  *
  *  - [[PositionalIndex.write]] persists per-file term-range manifests
  *    (`pos_postings_ranges`); a snapshot reads them once.
  *  - A query's terms route to their covering files, each file's
  *    footer min/max picks the row groups that can hold them, and
  *    Spark's own parquet reader decodes those on the driver
  *    ([[Routing.Table]]). Tombstoned docnos drop on the driver set.
  *  - A phrase counts, per doc holding every term, the left-fold
  *    shifted intersection of its position lists
  *    ([[PositionalIndex.phraseRuns]], [[PositionalIndex.phrase]]'s
  *    formulation: slot i shifted by −i; a single term degenerates to
  *    its tf; a repeated term counts its self-adjacencies). A near
  *    query counts qualifying position pairs
  *    ([[PositionalIndex.nearPairs]], [[PositionalIndex.nearTopK]]'s
  *    ranked contract). Both keep the top-k by count desc then docno
  *    asc, and any phrase length serves this way.
  *  - The ≤ topK docnos resolve through the `doc_map_ranges` manifest
  *    the same way; unresolved docnos drop (inner-join semantics).
  *
  * The positional store must be the plain layout: a `compressed`
  * (`pos_z`) store has no `positions` column, and the first read of
  * one of its files fails loudly instead of answering empty.
  *
  * STALENESS: the snapshot (loaded frames, manifests, footer row
  * groups, tombstones) lives in the shared [[Snapshot]] holder,
  * revalidated per public call against the store's [[DirVersion]]
  * stamp, so a [[PositionalIndex.merge]]-then-write of the same
  * directory under a live server is detected and re-read (the hazard
  * the q36_phrase_merged delta path arms). [[refresh]] stays the
  * explicit hammer for layouts where listings can lag.
  *
  * Safe for concurrent callers: a query holds no shared mutable state
  * beyond the snapshot's footer cache (a concurrent map). */
final class LoadedPhraseServer(spark: SparkSession, dir: String,
                               topK: Int = 10) {

  /** One immutable snapshot of the on-disk index: loaded frames and
    * the driver-read routing state. */
  private final class State {
    val pix: PositionalIndex.PIndex = PositionalIndex.load(spark, dir)
    val routed = new Routing.Routed(spark, dir, PositionalIndex.store,
      "positions", pix.postings.schema, pix.docMap.schema)

    /** Per term of `terms`, its live docno → positions. */
    def positions(terms: Seq[String]): Seq[Map[Long, Array[Int]]] = {
      val utf8 = terms.map(UTF8String.fromString)
      val lists = routed.lists(utf8.distinct)(_.getArray(2).toIntArray())
      utf8.map(t => lists.getOrElse(t, Nil).toMap)
    }

    /** The top-k (docno, count) hits by count desc, docno asc,
      * resolved to (docid, count) by count desc, docid asc. */
    def top(hits: Iterator[(Long, Long)]): Seq[(String, Long)] = {
      val best = hits.filter(_._2 > 0).toSeq
        .sortBy { case (d, tf) => (-tf, d) }.take(topK)
      PhraseServer.byDocid(best, routed.resolve(best.map(_._1)))
    }
  }

  private val snapshot = new Snapshot[State](
    Snapshot.store(spark, dir, PositionalIndex.store.stampDirs(dir)),
    () => new State, _ => ())

  /** Drop the snapshot and re-read the manifests NOW — the explicit
    * hammer for layouts where directory listings can lag a mutation;
    * routine staleness is already caught per query by the stamp. */
  def refresh(): Unit = snapshot.refresh()

  /** The loaded index, for callers that also want analytic plans (near/
    * nearOrdered/snippet — literal-filtered, parquet-pruned) over the
    * same artifacts. */
  def index: PositionalIndex.PIndex = snapshot.current().pix

  /** Top-k (docid, near_tf), tf desc then docid asc — the
    * [[PositionalIndex.nearTopK]] RANKED serving contract from pure
    * parquet: only the two terms' routed postings are read, and the
    * resolve reads ≤ topK docnos whatever the pair's frequency. */
  def near(termA: String, termB: String, window: Int,
           ordered: Boolean = false): Seq[(String, Long)] = {
    val st = snapshot.current()
    val (a, b) = PhraseServer.nearTerms(termA, termB)
    val ps = st.positions(Seq(a, b))
    st.top(ps(0).iterator.collect { case (d, xs) if ps(1).contains(d) =>
      d -> PositionalIndex.nearPairs(xs, ps(1)(d), window, ordered)
    })
  }

  /** Top-k (docid, phrase_tf), tf desc then docid asc — the
    * [[PhraseServer.phrase]] output contract, served from pure parquet
    * artifacts. */
  def phrase(phraseText: String): Seq[(String, Long)] = {
    val st = snapshot.current()
    val slots = st.positions(TextPipeline.processContent(phraseText))
    if (slots.isEmpty) return Seq.empty
    st.top(slots.head.iterator.flatMap { case (d, p0) =>
      val rest = slots.tail.flatMap(_.get(d))
      if (rest.size < slots.size - 1) None
      else Some(d -> PositionalIndex.phraseRuns(p0 +: rest))
    })
  }
}
