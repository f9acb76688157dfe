package graft.query

import org.apache.spark.sql.SparkSession
import graft.index.PositionalIndex
import graft.text.TextPipeline

/** Phrase and proximity serving over a LOADED (pure-parquet)
  * positional index with NO Spark job per query —
  * [[LoadedPointServer]]'s driver read applied to the positional
  * store.
  *
  *  - [[PositionalIndex.write]] persists per-file term-range manifests
  *    (`pos_postings_ranges`); a snapshot reads them once.
  *  - A query's terms route to their covering files, and each file's
  *    footer min/max picks the row groups that can hold them
  *    ([[Routing.Table]]). Spark's own parquet reader decodes a picked
  *    row group on the driver once, into a block held in the
  *    process's [[Routing.Blocks]] cache; later queries binary-search
  *    it. Tombstoned docnos drop on the driver set.
  *  - Phrase and near counts are [[PhraseServer.Scorer]], the driver
  *    scorer the cached [[PhraseServer]] runs over its packed
  *    dictionary ([[PositionalIndex.phraseRuns]] /
  *    [[PositionalIndex.nearPairs]], top-k by count desc then docno
  *    asc); any phrase length serves this way.
  *  - The ≤ topK docnos resolve through the `doc_map_ranges` manifest
  *    the same way; unresolved docnos drop (inner-join semantics).
  *
  * The positional store must be the plain layout: a `compressed`
  * (`pos_z`) store has no `positions` column, and the first read of
  * one of its files fails loudly instead of answering empty.
  *
  * STALENESS: the snapshot (loaded frames, manifests, footer row
  * groups, tombstones, and its tables' blocks, dropped when it is
  * replaced) lives in the shared [[Snapshot]] holder,
  * revalidated per public call against the store's [[DirVersion]]
  * stamp, so a [[PositionalIndex.merge]]-then-write of the same
  * directory under a live server is detected and re-read (the hazard
  * the q36_phrase_merged delta path arms). [[refresh]] stays the
  * explicit hammer for layouts where listings can lag.
  *
  * Safe for concurrent callers: a query shares no mutable state
  * beyond the snapshot's footer cache (a concurrent map) and the
  * block cache, whose concurrent misses of one row group wait for a
  * single decode. */
final class LoadedPhraseServer(spark: SparkSession, dir: String,
                               topK: Int = 10,
                               blocks: Routing.Blocks = Routing.Blocks.shared) {

  /** One immutable snapshot of the on-disk index: loaded frames and
    * the driver-read routing state, scored by the shared
    * [[PhraseServer.Scorer]]. */
  private final class State {
    val pix: PositionalIndex.PIndex = PositionalIndex.load(spark, dir)
    val routed = new Routing.Routed(spark, dir, PositionalIndex.store,
      "positions", pix.postings.schema, pix.docMap.schema, blocks)
    val scorer = new PhraseServer.Scorer(topK,
      ts => routed.lists(ts)(_.getArray(2).toIntArray()), routed.resolve)
  }

  private val snapshot = new Snapshot[State](
    Snapshot.store(spark, dir, PositionalIndex.store.stampDirs(dir)),
    () => new State, _.routed.close())

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
    st.scorer.near(a, b, window, ordered)
  }

  /** Top-k (docid, phrase_tf), tf desc then docid asc — the
    * [[PhraseServer.phrase]] output contract, served from pure parquet
    * artifacts. */
  def phrase(phraseText: String): Seq[(String, Long)] =
    snapshot.current().scorer.phrase(TextPipeline.processContent(phraseText))
}
