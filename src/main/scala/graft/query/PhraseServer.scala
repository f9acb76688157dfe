package graft.query

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.unsafe.types.UTF8String
import graft.index.PositionalIndex
import graft.index.PositionalIndex.PIndex

/** Prepared-statement serving for phrase queries over a cached
  * positional index — [[PointServer]]'s zero-per-query-Catalyst pattern
  * applied to [[PositionalIndex.phrase]], one template per phrase
  * LENGTH (1..[[PhraseServer.MaxSlots]]; built lazily, so unused
  * lengths cost nothing).
  *
  * The fresh-plan phrase path joins one pruned postings scan per term;
  * a join needs co-location, and co-location under a reused physical
  * plan means an exchange — the stale-result trap the PointServer doc
  * describes. The template dodges the join entirely: ONE scan filtered
  * to the phrase's term set (driver-updated [[RefSetContains]]),
  * coalesced to a single partition, then a per-docno aggregate picks
  * each slot's position list CONDITIONALLY (`first(when(term == slot
  * ref, positions))`) — all n lists of a doc meet in the same aggregate
  * row without any exchange. The phrase count is the left-fold
  * shifted-array intersection of the slots (slot i's positions shifted
  * by −i, exactly [[PositionalIndex.phrase]]'s formulation); docs
  * missing any term drop on the non-null filter. A single-term
  * "phrase" degenerates to the term's tf, matching the fresh path.
  * Phrases longer than [[PhraseServer.MaxSlots]] fall back to the
  * fresh-plan [[PositionalIndex.phrase]] (same results, full
  * parallelism).
  *
  * A repeated term ("merge merge") works: both slot refs hold the same
  * term, both slots pick the same list, and the shifted intersection
  * counts exactly the immediate self-adjacencies.
  *
  * Docid resolution follows PointServer: a fresh tiny literal `isin`
  * plan per query (≤ topK rows — planning is microseconds and literals
  * keep stat pruning; an opaque templated filter here would be
  * O(corpus) per query).
  *
  * Index-size scaling limit (cached-only, like [[PointServer]]): the
  * opaque ref predicate defeats batch-stat pruning, so each query reads
  * the full CACHED positional postings single-threaded — and positional
  * rows carry whole position arrays, so this per-query O(index) term
  * grows faster with corpus size than PointServer's over the ranked
  * postings. The limit is therefore GUARDED, not just documented
  * (the [[graft.index.InvertedIndex.BroadcastDocs]] discipline): past
  * `maxTemplateDocs` the templates are disabled and every query serves
  * through the fresh-plan [[PositionalIndex]] paths, whose literal term
  * filters keep batch-stat pruning and full parallelism — same
  * results, per-query planning instead of a per-query O(index) scan.
  * For a big WRITTEN index, serve through [[LoadedPhraseServer]],
  * whose driver-side zone-map routing bounds each query's read to the
  * row groups holding its terms, with no Spark job.
  *
  * STALENESS: a server handed an in-memory [[PIndex]] serves that
  * SNAPSHOT (the struct is immutable; a merge builds a new PIndex).
  * The store-backed form ([[PhraseServer.overStore]]) revalidates the
  * store's [[DirVersion]] stamp per query through the shared
  * [[Snapshot]] holder and rebuilds when the directory moved — a
  * [[PositionalIndex.merge]]-then-write under a live server is
  * detected, never silently served stale. [[refresh]] is the explicit
  * hammer for listing-lagging layouts. */
final class PhraseServer private (
    source: Snapshot.Source[PIndex], topK: Int, maxTemplateDocs: Long) {
  import PhraseServer.{MaxSlots, NearTmpl, PhraseTmpl}

  /** Snapshot-serving constructor over a caller-owned (cached) index. */
  def this(pix: PIndex, topK: Int = 10,
           maxTemplateDocs: Long = PhraseServer.MaxTemplateDocs) =
    this(Snapshot.fixed(pix), topK, maxTemplateDocs)

  // phrase length → POOLED templates (round 9): each query borrows
  // its own instance for the set-refs-then-collect window, so
  // concurrent callers don't race on shared reference cells.
  // near/nearOrdered share the slot-aggregate shape; the window bound
  // is baked into the plan as a LITERAL (codegen-friendly, and the
  // per-doc scoring is then identical to PositionalIndex.nearTopK's),
  // so templates key on (window, ordered). Interactive use touches a
  // handful of window values; each builds once, lazily.
  private final class State(val pix: PIndex) {
    /** Whether prepared templates serve queries (corpus under the
      * guard); past the bound everything routes to the fresh plans. */
    val usesTemplates: Boolean = pix.nDocs <= maxTemplateDocs
    val templates = new TemplatePool[Int, PhraseTmpl](
      n => PhraseServer.phraseTmpl(pix.postings, n, topK))
    val nearTemplates = new TemplatePool[(Int, Boolean), NearTmpl](
      { case (w, o) => PhraseServer.nearTmpl(pix.postings, w, o, topK) })

    /** Fresh tiny literal-isin resolution (the PointServer
      * rationale), then (docid, tf) by tf desc, docid asc. */
    def resolve(top: Seq[(Long, Long)]): Seq[(String, Long)] =
      PhraseServer.byDocid(top,
        PointServer.resolveLiteral(pix.docMap, top.map(_._1)))
  }

  private val snapshot = new Snapshot[State](source.stamp,
    () => new State(source.load()), st => source.release(st.pix))

  /** Drop the snapshot and reload from the store NOW (a rebuild of
    * the templates only, for the snapshot-serving form). */
  def refresh(): Unit = snapshot.refresh()

  /** Whether prepared templates serve queries on the CURRENT snapshot
    * (corpus under the guard). Exposed for the guard spec. */
  private[graft] def usesTemplates: Boolean = snapshot.current().usesTemplates

  /** Top-k (docid, near_tf) for docs holding `termA` within `window`
    * tokens of `termB` (`ordered`: termB strictly after), near_tf =
    * qualifying-pair count, tf desc then docid asc — the
    * [[PositionalIndex.nearTopK]] RANKED serving contract through a
    * prepared exchange-free plan. The `limit(topK)` lives INSIDE the
    * template, so the driver collect and the docid resolution are both
    * ≤ topK rows whatever the term pair's corpus frequency (the
    * round-8 audit's unbounded-hit-set fix); the full matching set
    * stays available through the analytic [[PositionalIndex.near]].
    * Safe for concurrent callers (pooled templates). */
  def near(termA: String, termB: String, window: Int,
           ordered: Boolean = false): Seq[(String, Long)] = {
    val st = snapshot.current()
    val (a, b) = PhraseServer.nearTerms(termA, termB)
    if (!st.usesTemplates)
      return PositionalIndex.nearTopK(st.pix, termA, termB, window,
          ordered, topK)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    st.resolve(st.nearTemplates.withInstance((window, ordered))(_.top(a, b)))
  }

  /** Exposed for the exchange-free plan-walk assertion (see
    * [[PointServer.templatePlan]]). */
  private[graft] def templatePlan(n: Int = 2)
      : org.apache.spark.sql.execution.SparkPlan =
    snapshot.current().templates.withInstance(n)(
      _.df.queryExecution.executedPlan)

  /** The proximity template's plan, for the same assertion. */
  private[graft] def nearTemplatePlan(window: Int, ordered: Boolean)
      : org.apache.spark.sql.execution.SparkPlan =
    snapshot.current().nearTemplates.withInstance((window, ordered))(
      _.df.queryExecution.executedPlan)

  /** Top-k (docid, phrase_tf), tf desc then docid asc — the same
    * ordering contract as [[PositionalIndex.phrase]] limited to topK.
    * Safe for concurrent callers (pooled templates). */
  def phrase(phraseText: String): Seq[(String, Long)] = {
    val st = snapshot.current()
    val terms = graft.text.TextPipeline.processContent(phraseText)
    if (terms.isEmpty) return Seq.empty
    if (terms.size > MaxSlots || !st.usesTemplates)
      return PhraseServer.freshPhrase(st.pix, phraseText, topK)
    st.resolve(st.templates.withInstance(terms.size)(_.top(terms)))
  }
}

object PhraseServer {
  /** Longest phrase served through a prepared template; longer phrases
    * fall back to the fresh plan. 8 covers interactive phrase queries
    * with room to spare; templates build lazily per length actually
    * queried, so the bound costs nothing until used. */
  val MaxSlots = 8

  /** Largest corpus (docs) the cached templates serve: each templated
    * query scans the full cached positional postings single-threaded
    * (the opaque ref predicate defeats batch-stat pruning), so past
    * this bound the per-query O(index) term beats the fresh plan's
    * per-query planning cost and the server routes to the pruned,
    * parallel fresh paths instead. Same order of magnitude as
    * [[graft.index.InvertedIndex.BroadcastDocs]] — both guard a
    * convenience that is only cheap while the corpus is. */
  val MaxTemplateDocs = 10000000L

  /** STORE-BACKED form: load a written [[PositionalIndex.write]]
    * layout, cache its frames (the cached-only contract), and serve
    * with per-query [[DirVersion]] staleness revalidation — a
    * merge/rewrite of `dir` under the live server rebuilds the
    * snapshot before the next query runs. */
  def overStore(spark: SparkSession, dir: String, topK: Int = 10,
                maxTemplateDocs: Long = MaxTemplateDocs): PhraseServer =
    new PhraseServer(
      new Snapshot.Source[PIndex](
        Snapshot.store(spark, dir, PositionalIndex.store.stampDirs(dir)),
        () => {
          val pix = PositionalIndex.load(spark, dir)
          val Seq(postings, docMap) = PointServer.cache(pix.postings, pix.docMap)
          pix.copy(postings = postings, docMap = docMap)
        },
        pix => PointServer.uncache(pix.postings, pix.docMap)),
      topK, maxTemplateDocs)

  /** A prepared phrase plan of `n` slots and the term cells it reads. */
  private[query] final case class PhraseTmpl(
      both: AtomicReference[java.util.HashSet[UTF8String]],
      slots: IndexedSeq[AtomicReference[java.util.HashSet[UTF8String]]],
      df: DataFrame) {
    /** (docno, phrase_tf) top rows for the analyzed phrase `terms`. */
    def top(terms: Seq[String]): Seq[(Long, Long)] = {
      both.set(PointServer.utf8Set(terms))
      terms.indices.foreach(i => slots(i).set(PointServer.utf8Set(Seq(terms(i)))))
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
  }

  /** A prepared proximity plan and the term cells it reads. */
  private[query] final case class NearTmpl(
      both: AtomicReference[java.util.HashSet[UTF8String]],
      slotA: AtomicReference[java.util.HashSet[UTF8String]],
      slotB: AtomicReference[java.util.HashSet[UTF8String]],
      df: DataFrame) {
    /** (docno, near_tf) top rows for the analyzed term pair. */
    def top(a: String, b: String): Seq[(Long, Long)] = {
      both.set(PointServer.utf8Set(Seq(a, b)))
      slotA.set(PointServer.utf8Set(Seq(a)))
      slotB.set(PointServer.utf8Set(Seq(b)))
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
  }

  private def in(ref: AtomicReference[java.util.HashSet[UTF8String]]): Column =
    Bridge.column(RefSetContains(Bridge.expression(col("term")), ref))

  /** The exchange-free `n`-word phrase plan over the cached positional
    * postings `scan`: ONE scan filtered to
    * the phrase's term set, one conditional slot aggregate per word,
    * the left-fold shifted intersection — see the class doc. */
  private[query] def phraseTmpl(scan: DataFrame, n: Int,
                                topK: Int): PhraseTmpl = {
    val both = PointServer.termCell()
    val slots = IndexedSeq.fill(n)(PointServer.termCell())
    val slotAggs = (0 until n).map { i =>
      first(when(in(slots(i)), col("positions")), ignoreNulls = true)
        .as(s"p$i")
    }
    val allPresent = (0 until n).map(i => col(s"p$i").isNotNull)
      .reduce(_ && _)
    // left-fold shifted intersection: positions where term_0 starts a
    // full n-term run — identical to PositionalIndex.phrase's fold
    val run = (1 until n).foldLeft(col("p0")) { (acc, i) =>
      array_intersect(acc, transform(col(s"p$i"), x => x - i))
    }
    val df = scan.filter(in(both)).coalesce(1)
      .groupBy(col("docno"))
      .agg(slotAggs.head, slotAggs.tail: _*)
      .filter(allPresent)
      .select(col("docno"), size(run).cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
      .orderBy(col("phrase_tf").desc, col("docno"))
      .limit(topK)
    df.queryExecution.executedPlan // plan + codegen now, not per query
    PhraseTmpl(both, slots, df)
  }

  /** The exchange-free proximity plan (the two-slot aggregate with the
    * window baked in as a literal). */
  private[query] def nearTmpl(scan: DataFrame, window: Int,
                              ordered: Boolean, topK: Int): NearTmpl = {
    val both = PointServer.termCell()
    val slotA = PointServer.termCell()
    val slotB = PointServer.termCell()
    val df = scan.filter(in(both)).coalesce(1)
      .groupBy(col("docno"))
      .agg(
        first(when(in(slotA), col("positions")), ignoreNulls = true)
          .as("p0"),
        first(when(in(slotB), col("positions")), ignoreNulls = true)
          .as("p1"))
      .filter(col("p0").isNotNull && col("p1").isNotNull)
      .select(col("docno"),
        PositionalIndex.nearPairCount(col("p0"), col("p1"),
          window, ordered).as("near_tf"))
      .filter(col("near_tf") > 0)
      .orderBy(col("near_tf").desc, col("docno"))
      .limit(topK)
    df.queryExecution.executedPlan
    NearTmpl(both, slotA, slotB, df)
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

  /** The fresh-plan phrase path past the template bounds. */
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
