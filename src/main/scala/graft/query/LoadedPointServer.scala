package graft.query

import org.apache.spark.sql.SparkSession
import graft.index.InvertedIndex

/** Point-query serving over a LOADED (pure-parquet) index with NO
  * Spark job per query — the paper client's dictionary probe, seek and
  * in-memory score (SURVEY R5) over the engine's durable layout.
  *
  * [[PointServer]] holds the whole index on the driver, and
  * [[QueryEngine.serveSearch]] over a loaded index prunes but plans,
  * schedules and hands off results per query — overhead that
  * dominates a query touching a few hundred postings. Here a query
  * is driver work only:
  *
  *  - [[InvertedIndex.write]] persists zone-map manifests (per-file
  *    min/max of the range-partitioned sort key); a snapshot reads
  *    them once — O(files) driver state, no corpus scan.
  *  - A query's terms route to their covering files through the
  *    manifest, and each file's footer min/max picks the row groups
  *    that can hold them ([[Routing.Table]]); Spark's own parquet
  *    reader decodes just those on the driver. Tombstoned docnos drop
  *    on the driver set.
  *  - Scoring is [[PointServer.Scorer]], the driver scorer the cached
  *    [[PointServer]] runs over its packed dictionary: df = the
  *    term's live rows summed over every routed file, and
  *    [[PointServer.scorePlan]]'s arithmetic bit for bit.
  *  - The ≤ topK docnos resolve to docids through the doc_map
  *    manifest the same way; unresolved docnos drop (inner-join
  *    semantics, as in [[PointServer]]).
  *
  * Results are spec-pinned identical to [[QueryEngine.serveSearch]]
  * on the same loaded store, appended to and tombstoned.
  *
  * STALENESS: the snapshot (loaded frames, manifests, footer row
  * groups, tombstones) lives in the shared [[Snapshot]] holder,
  * revalidated per [[search]] against the store's [[DirVersion]]
  * stamp, so a merge-then-write of the same directory under a live
  * server is detected and re-read. [[refresh]] stays the explicit
  * hammer for layouts where listings can lag (eventually consistent
  * object stores).
  *
  * Safe for concurrent callers: a query holds no shared mutable
  * state beyond the snapshot's footer cache (a concurrent map). */
final class LoadedPointServer(spark: SparkSession, dir: String,
                              topK: Int = 10) {

  /** One immutable snapshot of the on-disk index: loaded frames, the
    * driver-read routing state, and the index handed to callers,
    * which carries this snapshot's `searchTerms` as its scorer. */
  private final class State {
    private val loaded = InvertedIndex.load(spark, dir)
    private val routed = new Routing.Routed(spark, dir, InvertedIndex.store, "tf",
      loaded.postings.schema, loaded.docMap.schema)
    val scorer = new PointServer.Scorer(loaded.nDocs,
      ts => routed.lists(ts)(_.getLong(2).toInt), routed.resolve)
    val ix: InvertedIndex.Index = loaded.copy(scorer = Some(scorer.searchTerms))
  }

  private val snapshot = new Snapshot[State](
    Snapshot.store(spark, dir, InvertedIndex.store.stampDirs(dir)),
    () => new State, _ => ())

  /** Drop the snapshot and re-read the manifests NOW — the explicit
    * hammer for layouts where directory listings can lag a mutation;
    * routine staleness is already caught per [[search]] by the
    * version stamp. */
  def refresh(): Unit = snapshot.refresh()

  /** The loaded index, for callers that also want analytic plans over
    * the same artifacts. Its `scorer` is this snapshot's job-free
    * top-k over analyzed terms, so [[QueryEngine.wildcardSearchExpanded]] over it
    * runs no Spark job. */
  def index: InvertedIndex.Index = snapshot.current().ix

  /** (docno, docid, score) rows, score desc then docno asc — the same
    * output contract as [[QueryEngine.serveSearch]] /
    * [[PointServer.search]]. */
  def search(query: String): Seq[(Long, String, Double)] =
    snapshot.current().scorer.searchTerms(QueryEngine.requireArity(query), topK)
}
