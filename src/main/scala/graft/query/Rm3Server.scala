package graft.query

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.index.InvertedIndex.Index

/** Double-valued lookup of a string column against a DRIVER-UPDATED
  * map — the [[RefSetContains]] idea extended from membership to a
  * per-key weight, for the RM3 weighted-scoring template. Missing key
  * → null (loud-null contract; unreachable when the filter and the map
  * share the same key set, which the server guarantees). */
private[query] case class RefStringDoubleLookup(
    child: Expression,
    ref: AtomicReference[java.util.HashMap[UTF8String, java.lang.Double]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "ref_string_double_lookup expects string")

  override def prettyName: String = "graft_ref_string_double_lookup"

  override def nullSafeEval(v: Any): Any =
    ref.get.get(v.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(
      c: Expression): RefStringDoubleLookup = copy(child = c)
}

/** [[RefStringDoubleLookup]]'s Long twin, for the per-feedback-doc
  * score lookup. */
private[query] case class RefLongDoubleLookup(
    child: Expression,
    ref: AtomicReference[java.util.HashMap[java.lang.Long, java.lang.Double]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "ref_long_double_lookup expects bigint")

  override def prettyName: String = "graft_ref_long_double_lookup"

  override def nullSafeEval(v: Any): Any =
    ref.get.get(v.asInstanceOf[Long])

  override protected def withNewChildInternal(
      c: Expression): RefLongDoubleLookup = copy(child = c)
}

/** Prepared-plan RM3 serving — [[QueryEngine.rm3Search]] re-plans both
  * retrieval passes AND the feedback aggregation per query; this class
  * builds the three exchange-free score plans ONCE and re-executes
  * them per query, swapping only driver-side references (the
  * [[PointServer]] discipline, applied stage-wise):
  *
  *  1. pass-1 template: postings → term-set filter ([[RefSetContains]])
  *     → coalesce(1) → window df → per-doc tf-idf score → top-fbDocs
  *     (the [[PointServer]] score plan with the feedback depth),
  *  2. feedback template: postings → feedback-docno filter
  *     ([[RefLongSetContains]]) → coalesce(1) → window doc length →
  *     per-doc score via [[RefLongDoubleLookup]] →
  *     rm(t) = Σ_d tf/len·s(d) per term → top-fbTerms,
  *  3. final template: postings → expanded-term filter → coalesce(1) →
  *     window df → weight via [[RefStringDoubleLookup]] →
  *     score(d) = Σ_t q(t)·(1+ln tf)·idf → top-k.
  *
  * The λ-blend between passes 2 and 3 is driver arithmetic over
  * fbTerms-bounded rows — [[QueryEngine.rm3Weights]], SHARED with the
  * fresh path so the two cannot drift. Docid resolution stays a fresh
  * tiny literal-isin plan per query (the [[PointServer]] resolve
  * rationale: literals keep stat pruning; ≤ topK rows). Results are
  * identical to [[QueryEngine.rm3Search]] (spec-pinned). Like
  * [[PointServer]], intended for a CACHED index — reference-reading
  * predicates are opaque to parquet pushdown.
  *
  * CONCURRENCY: all three plans + their references live in ONE pooled
  * instance, borrowed for the query's whole three-stage window
  * ([[TemplatePool]] — concurrent callers each get their own). */
final class Rm3Server private (
    source: Snapshot.Source[Index], topK: Int, fbDocs: Int, fbTerms: Int,
    lambda: Double) {

  /** Snapshot-serving constructor over a caller-owned (cached) index
    * — the struct is immutable, so there is nothing to go stale
    * against (the store-backed [[Rm3Server.overStore]] form is where
    * mutation is real and stamped). */
  def this(ix: Index, topK: Int = 10, fbDocs: Int = 5,
           fbTerms: Int = 10, lambda: Double = 0.5) =
    this(Snapshot.fixed(ix), topK, fbDocs, fbTerms, lambda)

  private final case class Tmpl(
      qRef: AtomicReference[java.util.HashSet[UTF8String]],
      pass1: DataFrame,
      fbDocRef: AtomicReference[java.util.HashSet[java.lang.Long]],
      fbScoreRef: AtomicReference[
        java.util.HashMap[java.lang.Long, java.lang.Double]],
      fb: DataFrame,
      wTermRef: AtomicReference[java.util.HashSet[UTF8String]],
      wRef: AtomicReference[
        java.util.HashMap[UTF8String, java.lang.Double]],
      fin: DataFrame)

  private def buildTmpl(ix: Index): Tmpl = {
    val qRef = PointServer.termCell()
    val pass1 = PointServer.scorePlan(ix.postings, ix.nDocs, qRef, fbDocs)
    val fbDocRef = new AtomicReference[java.util.HashSet[java.lang.Long]](
      new java.util.HashSet)
    val fbScoreRef = new AtomicReference[
      java.util.HashMap[java.lang.Long, java.lang.Double]](
      new java.util.HashMap)
    // rm(t) = Σ_d (tf(t,d)/len(d))·s(d) — same arithmetic as
    // rm3Search's relational form, over the single funneled partition
    val fb = ix.postings
      .filter(Bridge.column(RefLongSetContains(
        Bridge.expression(col("docno")), fbDocRef)))
      .coalesce(1)
      .withColumn("dlen",
        sum(col("tf")).over(Window.partitionBy(col("docno"))))
      .withColumn("s", Bridge.column(RefLongDoubleLookup(
        Bridge.expression(col("docno")), fbScoreRef)))
      .groupBy(col("kgram"))
      .agg(sum(col("tf").cast("double") / col("dlen") * col("s"))
        .as("rm0"))
      .orderBy(col("rm0").desc, col("kgram"))
      .limit(fbTerms)
    val wTermRef = PointServer.termCell()
    val wRef = new AtomicReference[
      java.util.HashMap[UTF8String, java.lang.Double]](
      new java.util.HashMap)
    val fin = PointServer.scorePlan(ix.postings, ix.nDocs, wTermRef, topK,
      Some(Bridge.column(RefStringDoubleLookup(
        Bridge.expression(col("kgram")), wRef))))
    // force planning + codegen at build, not on the first query
    pass1.queryExecution.executedPlan
    fb.queryExecution.executedPlan
    fin.queryExecution.executedPlan
    Tmpl(qRef, pass1, fbDocRef, fbScoreRef, fb, wTermRef, wRef, fin)
  }

  private final class State(val ix: Index) {
    val pool = new TemplatePool[Unit, Tmpl](_ => buildTmpl(ix),
      maxKeys = 1)
  }

  private val snapshot = new Snapshot[State](source.stamp,
    () => new State(source.load()), st => source.release(st.ix))

  snapshot.current().pool.withInstance(())(_ => ()) // plan+codegen at ctor

  /** Drop the snapshot and reload from the store NOW (a rebuild of
    * the templates only, for the snapshot-serving form). */
  def refresh(): Unit = snapshot.refresh()

  /** The three reused physical plans (spec hook: the exchange-free
    * invariant that makes re-execution safe). */
  private[graft] def templatePlans: Seq[org.apache.spark.sql.execution.SparkPlan] =
    snapshot.current().pool.withInstance(())(t => Seq(t.pass1, t.fb, t.fin)
      .map(_.queryExecution.executedPlan))

  /** (docno, docid, score) rows, (score desc, docno asc) — the same
    * output contract as [[QueryEngine.rm3Search]], from the prepared
    * plans. Safe for concurrent callers. */
  def search(query: String): Seq[(Long, String, Double)] = {
    val st = snapshot.current()
    val qTerms = QueryEngine.requireArity(query).distinct
    if (qTerms.isEmpty) return Seq.empty
    val top = st.pool.withInstance(()) { t =>
      t.qRef.set(PointServer.utf8Set(qTerms))
      val fbRows = t.pass1.collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      if (fbRows.isEmpty) Seq.empty[(Long, Double)]
      else {
        val ds = new java.util.HashSet[java.lang.Long]()
        val sm = new java.util.HashMap[java.lang.Long, java.lang.Double]()
        fbRows.foreach { case (d, s) => ds.add(d); sm.put(d, s) }
        t.fbDocRef.set(ds); t.fbScoreRef.set(sm)
        val rm = t.fb.collect()
          .map(r => (r.getString(0), r.getDouble(1))).toSeq
        val weights = QueryEngine.rm3Weights(qTerms, rm, lambda)
        val wm = new java.util.HashMap[UTF8String, java.lang.Double]()
        weights.foreach { case (k, w) =>
          wm.put(UTF8String.fromString(k), w) }
        t.wTermRef.set(PointServer.utf8Set(weights.map(_._1)))
        t.wRef.set(wm)
        t.fin.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
    }
    // fresh tiny literal-isin resolve (the PointServer rationale)
    val ids = PointServer.resolveLiteral(st.ix.docMap, top.map(_._1))
    top.flatMap { case (d, s) => ids.get(d).map(id => (d, id, s)) }
  }
}

object Rm3Server {

  /** STORE-BACKED form: load a written [[graft.index.InvertedIndex
    * .write]] layout, cache postings + doc_map (the cached-only
    * contract), and serve with per-search [[DirVersion]] staleness
    * revalidation — a merge/rewrite of `dir` under the live server
    * rebuilds the snapshot (and all three templates) before the next
    * query runs. */
  def overStore(spark: org.apache.spark.sql.SparkSession, dir: String,
                topK: Int = 10, fbDocs: Int = 5, fbTerms: Int = 10,
                lambda: Double = 0.5): Rm3Server =
    new Rm3Server(PointServer.cachedStore(spark, dir), topK, fbDocs,
      fbTerms, lambda)
}
