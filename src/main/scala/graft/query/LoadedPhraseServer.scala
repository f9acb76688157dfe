package graft.query

import org.apache.spark.sql.SparkSession
import graft.index.PositionalIndex
import graft.text.TextPipeline

/** Routed prepared-plan phrase serving over a LOADED (pure-parquet)
  * positional index — [[LoadedPointServer]]'s zone-map pattern applied
  * to [[PhraseServer]]'s exchange-free phrase templates.
  *
  * [[PhraseServer]] is documented cached-only: its opaque
  * [[RefSetContains]] predicate defeats parquet pushdown, so over
  * written artifacts every query would scan the WHOLE positional
  * postings (and positional rows carry position arrays — heavier than
  * the ranked index's, so the O(index) per-query cost grows faster).
  * Here the pruning happens DRIVER-SIDE before the plan is chosen:
  *
  *  - [[PositionalIndex.write]] persists per-file term-range manifests
  *    (`pos_postings_ranges`); opening the server reads them once.
  *  - A phrase's terms route to their covering files by range
  *    lookup — the prepared scan is file-bounded BY CONSTRUCTION, so
  *    the opaque predicate no longer needs pushdown.
  *  - Per file set, an LRU-cached template runs the same exchange-free
  *    shape as [[PhraseServer]]: one coalesced scan, per-docno
  *    conditional slot aggregate (`first(when(term == slot ref))`),
  *    shifted-array intersection, top-k. No join, no exchange — safe
  *    to re-execute with updated refs.
  *  - Result docnos resolve through the `doc_map_ranges` manifest the
  *    same way ([[RefLongSetContains]]); unresolved docnos drop
  *    (inner-join semantics, as everywhere).
  *
  * Templates exist per (file set, phrase length) — any length up to
  * [[PhraseServer.MaxSlots]] serves through a prepared plan whose
  * per-docno aggregate holds one conditional slot per word and whose
  * phrase count is the left-fold shifted-array intersection of the
  * slots (exactly [[PositionalIndex.phrase]]'s formulation; a
  * single-term phrase degenerates to the term's tf). Longer phrases
  * fall back to the fresh-plan [[PositionalIndex.phrase]] over the
  * loaded frames — literal term filters there keep native parquet
  * pruning, so the fallback is file-bounded too, just re-planned per
  * query.
  *
  * STALENESS: the snapshot (range manifests, loaded frames, plan
  * pools) lives in the shared [[Snapshot]] holder, revalidated per
  * public call against the store's [[DirVersion]] stamp — a
  * [[PositionalIndex.merge]]-then-write of the same directory under a
  * live server is detected and the manifests re-read (previously they were read ONCE at open, so a merged index
  * was silently routed with the pre-merge ranges — exactly the hazard
  * the q36_phrase_merged delta path arms). [[refresh]] stays the
  * explicit hammer for layouts where listings can lag.
  *
  * Safe for concurrent callers: templates live in per-(file set,
  * shape) [[TemplatePool]]s — each query borrows its own instance
  * for the set-refs-then-collect window. */
final class LoadedPhraseServer(spark: SparkSession, dir: String,
                               topK: Int = 10) {
  import PhraseServer.{NearTmpl, PhraseTmpl}

  /** One immutable snapshot of the on-disk index: loaded frames,
    * routing state, plan pools (keyed by file names, which a rewrite
    * changes). */
  private final class State {
    val pix: PositionalIndex.PIndex = PositionalIndex.load(spark, dir)
    val routed = new Routing.Routed(spark, dir, "pos_postings_ranges",
      pix.docMap.schema, graft.index.PostingsStore.readTombs(spark, dir))

    private def scan(files: Seq[String]) =
      routed.scan(pix.postings.schema, files)
    val phrasePlans = new TemplatePool[(Seq[String], Int), PhraseTmpl](
      { case (files, n) => PhraseServer.phraseTmpl(scan(files), n, topK) })
    val nearPlans = new TemplatePool[(Seq[String], Int, Boolean), NearTmpl](
      { case (files, w, o) =>
        PhraseServer.nearTmpl(scan(files), w, o, topK) })

    /** The files holding every term, or None when some term is outside
      * every file's range (it has no postings, so no doc can match —
      * answer without running any job). */
    def files(terms: Seq[String]): Option[Seq[String]] = {
      val routes = terms.map(t => Routing.route(routed.postRanges, t))
      if (routes.exists(_.isEmpty)) None
      else Some(routes.flatten.distinct.sorted)
    }

    /** Route the ≤topK docnos to their map files and resolve to
      * docids — (docid, tf) by tf desc, docid asc. */
    def resolve(top: Seq[(Long, Long)]): Seq[(String, Long)] =
      PhraseServer.byDocid(top, routed.resolve(top.map(_._1)))
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
    * parquet through routed exchange-free templates. `limit(topK)` is
    * INSIDE the template: the driver collect, the docno file routing,
    * and the resolution scan are all ≤ topK rows regardless of the
    * term pair's corpus frequency. */
  def near(termA: String, termB: String, window: Int,
           ordered: Boolean = false): Seq[(String, Long)] = {
    val st = snapshot.current()
    val (a, b) = PhraseServer.nearTerms(termA, termB)
    st.files(Seq(a, b)).fold(Seq.empty[(String, Long)]) { files =>
      st.resolve(st.nearPlans.withInstance((files, window, ordered))(
        _.top(a, b)))
    }
  }

  /** Exposed for the exchange-free plan-walk assertion (see
    * [[PointServer.templatePlan]]). */
  private[graft] def templatePlan(files: Seq[String], n: Int = 2)
      : org.apache.spark.sql.execution.SparkPlan =
    snapshot.current().phrasePlans.withInstance((files, n))(
      _.df.queryExecution.executedPlan)

  /** Top-k (docid, phrase_tf), tf desc then docid asc — the
    * [[PhraseServer.phrase]] output contract, served from pure parquet
    * artifacts. */
  def phrase(phraseText: String): Seq[(String, Long)] = {
    val st = snapshot.current()
    val terms = TextPipeline.processContent(phraseText)
    if (terms.isEmpty) return Seq.empty
    if (terms.size > PhraseServer.MaxSlots)
      return PhraseServer.freshPhrase(st.pix, phraseText, topK)
    st.files(terms).fold(Seq.empty[(String, Long)]) { files =>
      st.resolve(st.phrasePlans.withInstance((files, terms.size))(
        _.top(terms)))
    }
  }
}
