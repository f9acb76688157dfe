package graft.query

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.LongType

/** [[RefSetContains]]' Long twin, for the docno resolve template. */
private[query] case class RefLongSetContains(
    child: Expression,
    ref: AtomicReference[java.util.HashSet[java.lang.Long]])
    extends UnaryExpression with Predicate with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("ref_long_set_contains expects bigint")

  override def prettyName: String = "graft_ref_long_set_contains"

  override def nullSafeEval(v: Any): Any =
    ref.get.contains(v.asInstanceOf[Long])

  override protected def withNewChildInternal(c: Expression): RefLongSetContains =
    copy(child = c)
}

/** Prepared-plan point-query serving over a LOADED (pure-parquet)
  * index — the durable-artifact counterpart of [[PointServer]].
  *
  * [[PointServer]]'s reusable template is documented cached-only: its
  * reference-reading predicate is opaque to parquet pushdown, so over
  * parquet artifacts it would scan the FULL postings per query —
  * O(corpus), the exact failure mode its resolve path was cured of.
  * And [[QueryEngine.serveSearch]] on a loaded index keeps pruning
  * (literal filters) but pays fresh Catalyst planning per query —
  * measured ≈40% of warm point latency.
  *
  * This class keeps BOTH properties: scans bounded by pruning AND
  * amortized planning. The trick is to do the pruning DRIVER-SIDE and
  * key the prepared plans by its result:
  *
  *  - [[graft.index.InvertedIndex.write]] persists zone-map manifests
  *    (per-file min/max of the range-partitioned sort key). Opening a
  *    server reads the two tiny manifests — O(files) driver state, no
  *    corpus scan.
  *  - A query's terms are routed to their covering files by binary
  *    search over those ranges (range partitioning keeps all postings
  *    of a term in exactly ONE file, so a 1-2 term query touches 1-2
  *    files; unknown terms route nowhere).
  *  - The prepared score plan for that FILE SET is fetched from an LRU
  *    plan cache (built on miss: a scan of just those files + the same
  *    exchange-free single-task score shape as [[PointServer]], with a
  *    driver-updated term-set predicate). The scan is file-bounded BY
  *    CONSTRUCTION — the opaque predicate no longer needs pushdown,
  *    because the pruning already happened when the plan was keyed.
  *  - Docid resolution routes the ≤topK docnos through the doc_map
  *    manifest the same way ([[RefLongSetContains]]); the tiny final
  *    join runs on the driver, unresolved docnos drop (inner-join
  *    semantics, same as [[PointServer]]).
  *
  * Planning cost therefore amortizes across all queries whose terms
  * fall in the same file set — at any scale the cache holds plans for
  * the HOT file sets, and a cold file set costs one planning pass, not
  * one per query. Results are spec-pinned identical to
  * [[QueryEngine.serveSearch]] on the same loaded index.
  *
  * STALENESS: the snapshot (zone-map manifests, nDocs, plan pools)
  * lives in the shared [[Snapshot]] holder, revalidated per [[search]]
  * against the store's [[DirVersion]] stamp — an
  * [[graft.index.InvertedIndex.merge]]-then-[[graft.index
  * .InvertedIndex.write]] of the SAME directory under a live server
  * is detected and the manifests re-read (the [[Bm25Server]]
  * discipline; previously the manifests were read once at open, so a
  * merged index was silently routed with the PRE-merge ranges).
  * [[refresh]] stays the explicit hammer for layouts where listings
  * can lag (eventually consistent object stores).
  *
  * Safe for concurrent callers: templates live in per-file-set
  * [[TemplatePool]]s — each query borrows its own instance for the
  * set-refs-then-collect window. */
final class LoadedPointServer(spark: SparkSession, dir: String,
                              topK: Int = 10) {

  /** One immutable snapshot of the on-disk index: loaded frames,
    * routing state, and the score plans keyed by their file names (a
    * rewrite changes file names, so stale plans can't be reused
    * across a snapshot swap even by accident). */
  private final class State {
    val ix: graft.index.InvertedIndex.Index =
      graft.index.InvertedIndex.load(spark, dir)
    val routed = new Routing.Routed(spark, dir, "postings_ranges",
      ix.docMap.schema, graft.index.PostingsStore.readTombs(spark, dir))
    val scorePlans = new TemplatePool[Seq[String], PointServer.ScoreTmpl](
      files => PointServer.scoreTmpl(
        routed.scan(ix.postings.schema, files), ix.nDocs, topK))

    def files(terms: Seq[String]): Seq[String] =
      terms.flatMap(t => Routing.route(routed.postRanges, t)).distinct.sorted
  }

  private val snapshot = new Snapshot[State](
    Snapshot.store(spark, dir, graft.index.InvertedIndex.store.stampDirs(dir)),
    () => new State, _ => ())

  /** Drop the snapshot and re-read the manifests NOW — the explicit
    * hammer for layouts where directory listings can lag a mutation;
    * routine staleness is already caught per [[search]] by the
    * version stamp. */
  def refresh(): Unit = snapshot.refresh()

  /** The loaded index, for callers that also want analytic plans over
    * the same artifacts. */
  def index: graft.index.InvertedIndex.Index = snapshot.current().ix

  /** The score template's executed plan for a term's file set (spec
    * hook: the exchange-free invariant that makes plan reuse safe). */
  private[graft] def templatePlan(query: String)
      : org.apache.spark.sql.execution.SparkPlan = {
    val st = snapshot.current()
    st.scorePlans.withInstance(st.files(QueryEngine.requireArity(query)))(
      _.df.queryExecution.executedPlan)
  }

  /** (docno, docid, score) rows, score desc then docno asc — the same
    * output contract as [[QueryEngine.serveSearch]] /
    * [[PointServer.search]]. */
  def search(query: String): Seq[(Long, String, Double)] = {
    val st = snapshot.current()
    val terms = QueryEngine.requireArity(query)
    if (terms.isEmpty) return Seq.empty // stopword-only: no job at all
    val files = st.files(terms)
    if (files.isEmpty) return Seq.empty // no term in any file's range
    val top = st.scorePlans.withInstance(files)(_.top(terms))
    // inner-join semantics: a docno the map cannot resolve is dropped
    val ids = st.routed.resolve(top.map(_._1))
    top.flatMap { case (d, s) => ids.get(d).map(id => (d, id, s)) }
  }
}
