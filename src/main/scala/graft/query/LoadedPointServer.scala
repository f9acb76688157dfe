package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import graft.index.InvertedIndex

/** Point-query serving over a LOADED (pure-parquet) index with NO
  * Spark job per query — the paper client's dictionary probe, seek and
  * in-memory score (SURVEY R5) over the engine's durable layout.
  *
  * [[PointServer]]'s template is cached-only (its reference-reading
  * predicate is opaque to parquet pushdown), and
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
  *  - Scoring is [[PointServer.scorePlan]]'s arithmetic in plain
  *    Scala: df = the term's live rows summed over every routed file,
  *    Σ (1 + ln tf)·log10(N/df) per doc added in the template's term
  *    order, rounded to 4 places HALF_UP, top-k by score desc then
  *    docno asc (Spark's `Log`/`Log10` call `StrictMath`, so the
  *    scores are bit-identical).
  *  - The ≤ topK docnos resolve to docids through the doc_map
  *    manifest the same way; unresolved docnos drop (inner-join
  *    semantics, as in [[PointServer]]).
  *
  * The read does the same decode work per query as the one task the
  * template ran (it funnelled a term's routed postings through one
  * task too); only the planning, scheduling and hand-offs go away.
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
    val routed = new Routing.Routed(spark, dir, InvertedIndex.store, "tf",
      loaded.postings.schema, loaded.docMap.schema)
    val ix: InvertedIndex.Index = loaded.copy(scorer = Some(searchTerms(_, _)))

    /** Top-k (docno, docid, score) rows over already-analyzed terms
      * (any number), score desc then docno asc — the arithmetic of
      * [[QueryEngine.serveSearch]]'s plan over the same terms. */
    def searchTerms(analyzed: Seq[String], k: Int): Seq[(Long, String, Double)] = {
      val terms = analyzed.map(UTF8String.fromString).distinct
      val n = ix.nDocs.toDouble
      val sums = scala.collection.mutable.HashMap.empty[Long, Double]
      // terms in UTF-8 order: the template's kgram window fed each doc's
      // sum in that order, and double addition is order-sensitive
      routed.lists(terms)(_.getLong(2)).toSeq.sortBy(_._1).foreach {
        case (_, rows) =>
          val idf = StrictMath.log10(n / rows.size.toDouble)
          rows.foreach { case (d, tf) =>
            sums(d) = sums.getOrElse(d, 0.0) + (1.0 + StrictMath.log(tf.toDouble)) * idf
          }
      }
      val top = sums.toSeq
        .map { case (d, s) =>
          d -> BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble }
        .sortWith { case ((d1, s1), (d2, s2)) => s1 > s2 || (s1 == s2 && d1 < d2) }
        .take(k)
      // inner-join semantics: a docno the map cannot resolve is dropped
      val ids = routed.resolve(top.map(_._1))
      top.flatMap { case (d, s) => ids.get(d).map(id => (d, id, s)) }
    }
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
    snapshot.current().searchTerms(QueryEngine.requireArity(query), topK)
}
