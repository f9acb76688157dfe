package graft.query

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.queries.IrSql

/** term → long lookup against a DRIVER-UPDATED map reference — the
  * per-term df feed of the prepared BM25 batch template (a literal
  * df column would force a fresh plan per query; a join against a df
  * table would put an exchange in the template). The map is captured
  * when a job's tasks are serialized, so each execution sees the
  * value current at submit time (the [[RefSetContains]] discipline).
  * A term absent from the map yields 0 — unreachable behind the
  * term-set filter, whose set only ever holds terms the stats
  * dictionary knows. */
private[query] case class RefMapLookup(
    child: Expression,
    ref: AtomicReference[java.util.HashMap[UTF8String, java.lang.Long]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("ref_map_lookup expects string")

  override def prettyName: String = "graft_ref_map_lookup"

  override def nullSafeEval(v: Any): Any = {
    val r = ref.get.get(v.asInstanceOf[UTF8String])
    if (r == null) 0L else r.longValue()
  }

  override protected def withNewChildInternal(c: Expression): RefMapLookup =
    copy(child = c)
}

/** term → ARRAY<BIGINT> lookup against a driver-updated map — the
  * batch-retrieval fan-out: each posting row explodes to the qids
  * whose query contains its term, so ONE postings pass scores a whole
  * (qid, terms) evaluation suite (the [[RefMapLookup]] discipline,
  * array-valued). A term absent from the map yields null (explode
  * drops it) — unreachable behind the term-set filter. */
private[query] case class RefMapQidsLookup(
    child: Expression,
    ref: AtomicReference[java.util.HashMap[UTF8String, Array[Long]]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("ref_map_qids_lookup expects string")

  override def prettyName: String = "graft_ref_map_qids_lookup"

  override def nullSafeEval(v: Any): Any = {
    val r = ref.get.get(v.asInstanceOf[UTF8String])
    if (r == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(r)
  }

  override protected def withNewChildInternal(c: Expression): RefMapQidsLookup =
    copy(child = c)
}

/** MULTI-TERM BM25 serving — the MaxScore-pruned ranked-retrieval
  * path (the most common real query shape) answered the way the
  * paper's client answers a query: a dictionary probe and an
  * in-memory score, with no Spark job (the fresh
  * [[graft.queries.IrSql.q10Bm25Pruned]] plan pays several sequential
  * driver round-trips of mostly Catalyst tax per query — measured
  * 569 ms warm at sf0.1 in round 11).
  *
  * Held once per store snapshot (construction):
  *  - the store's live postings ⨝ doclen, joined ONCE and cached —
  *    the input of the one prepared plan left, [[searchBatch]]'s
  *    exchange-free batch template;
  *  - the same relation collected ONCE to a per-term driver
  *    dictionary of primitive arrays, term → (doc_id[], tf[], dl[]):
  *    24 bytes per live posting plus ~170 per term (SizeEstimator:
  *    0.29 MB for the 500-doc sf0.001/sf0.01 corpora, 11.7k postings
  *    over 31 terms; 2.99 MB for perfbench `churn`'s 300 docs, 39.5k
  *    postings over 13.5k terms) — the postings a serving node's
  *    working set holds anyway;
  *  - the FULL stats dictionary (term → (df, frontier pairs)) —
  *    vocab-bounded, the term dictionary every real serving node
  *    holds in RAM; impact bounds are priced from the frontier pairs
  *    at lookup time ([[graft.queries.IrSql.bm25Score]]), so they are
  *    always current against the corpus stats;
  *  - the live (tt, nd) corpus stats.
  *
  * Per query, the MaxScore protocol runs on the driver over the
  * dictionary:
  *  1. θ pass: the top-impact term's exact scores; θ is the k-th best
  *     (-∞ when the term has fewer than k postings);
  *  2. essential split ([[graft.queries.IrSql.maxScoreEssential]],
  *     ε-margined);
  *  3. scoring: every known term's postings score through
  *     [[graft.queries.IrSql.bm25Score]] (the operations, order and
  *     `StrictMath.log` of the fresh plans' column), quantize to the
  *     fixed-point [[graft.queries.IrSql.Bm25Scale]] under Spark's
  *     HALF_UP `round` and sum per doc; docs holding no essential term
  *     drop, scores round to 4 places, order score desc then doc_id.
  *
  * Results are bit-IDENTICAL to [[graft.queries.IrSql.q10Bm25Pruned]] /
  * `q10Bm25Multi` (spec-pinned: served == fresh == multi). Intended
  * for a store whose postings fit the driver (a serving node's
  * working set); a parquet-backed deployment past driver RAM keeps
  * the fresh path's literal predicates and store lookups
  * ([[graft.queries.IrSql.q10Bm25Pruned]]). Concurrency: a snapshot is
  * immutable and each query allocates its own accumulators.
  *
  * STALENESS: the snapshot (cached join, driver dictionaries, (tt, nd))
  * lives in the shared [[Snapshot]] holder under the
  * store's VERSION STAMP ([[DirVersion]]: one read of the
  * [[graft.StoreGen]] generation, or the per-file fold of every
  * artifact dir when the marker is absent). Every [[search]]
  * revalidates the stamp (driver-side metadata only) and REBUILDS the
  * snapshot when the store moved under it — so
  * [[graft.queries.IrSql.mergeBm25Stats]] / `compactBm25Store` /
  * `repairBm25Stats` / the lazy and exact deletes against a live
  * server are detected, never silently served stale; each rebuild
  * reads the store's files ([[PointServer.cache]]). [[refresh]] stays
  * the explicit hammer for layouts where listings can lag (eventually
  * consistent object stores). As everywhere in the serving layer,
  * run mutations behind a quiesce for cutover-exact semantics: a
  * query IN FLIGHT during the mutation may race the file swap; the
  * stamp guarantees every query STARTED after the mutation completes
  * sees the new store. */
final class Bm25Server(spark: SparkSession, storeDir: String,
                       topK: Int = 10) {

  /** One immutable store snapshot: everything a query touches. */
  private final class State {
    // pending deletions AND superseded update generations drop at
    // SNAPSHOT build (the shared gen-aware live view — before the
    // cache; zero per-query cost); every maintenance dir rides in
    // the version stamp, so a delete/update under a live server
    // rebuilds this snapshot like any mutation
    val joined: DataFrame = PointServer.cache(
      IrSql.livePostings(spark, storeDir)
        .join(IrSql.liveDoclen(spark, storeDir), "doc_id")
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))).head

    // EXACT tombstones ([[IrSql.deleteBm25Docs]]) leave stats/corpus
    // delete-exact on disk; LAZY ones ([[IrSql.deleteBm25DocsLazy]])
    // and pending UPDATES ([[IrSql.updateBm25Docs]]) do not — the
    // sidecars correct (tt, nd) here, and the stats dictionary below
    // takes the live df from the postings dictionary
    private val pending = IrSql.hasPendingBm25State(spark, storeDir)

    val (tt, nd) = IrSql.liveCorpusStats(spark, storeDir)

    /** term → its live postings, one primitive array per column. */
    val postings: Map[String, Bm25Server.Postings] =
      joined.collect().groupBy(_.getString(0)).map { case (t, rs) =>
        t -> new Bm25Server.Postings(rs.map(_.getLong(1)),
          rs.map(_.getLong(2)), rs.map(_.getLong(3)))
      }

    /** term → (df, frontier pairs) — the in-RAM dictionary. On a
      * deferred-state store (lazy deletes / pending updates), df is
      * the length of the term's live postings (terms whose live df is
      * 0 drop out, terms a pending update INTRODUCED enter); frontier
      * pairs are the stored rows extended by the stats_upd overlay — a
      * frontier over a superset of the live postings keeps every
      * impact an upper bound, so MaxScore stays sound. */
    val stats: Map[String, (Long, Seq[(Long, Long)])] = {
      val stored = spark.read.parquet(s"$storeDir/stats").collect().map { r =>
        r.getString(0) -> (r.getLong(1),
          r.getSeq[org.apache.spark.sql.Row](2)
            .map(p => (p.getLong(0), p.getLong(1))))
      }.toMap
      val overlay = IrSql.statsUpdPairs(spark, storeDir)
      val base = (stored.keySet ++ overlay.keySet).map { t =>
        val (df0, pairs0) =
          stored.getOrElse(t, (0L, Seq.empty[(Long, Long)]))
        t -> (df0, pairs0 ++ overlay.getOrElse(t, Seq.empty))
      }.toMap
      if (!pending) base
      else base.flatMap { case (t, (_, pairs)) =>
        postings.get(t).map(p => t -> (p.doc.length.toLong, pairs))
      }
    }

    def impact(term: String): Double = {
      val (df, pairs) = stats(term)
      pairs.map(p => IrSql.bm25Score(p._1, p._2, df, tt, nd)).max
    }

    private def scores(term: String): (Bm25Server.Postings, Array[Double]) = {
      val p = postings.getOrElse(term, Bm25Server.NoPostings)
      val df = stats(term)._1
      (p, Array.tabulate(p.doc.length)(i =>
        IrSql.bm25Score(p.tf(i), p.dl(i), df, tt, nd)))
    }

    /** θ: the k-th best exact score of `term`'s postings, -∞ when it
      * has fewer than k. */
    def theta(term: String): Double = {
      val s = scores(term)._2
      if (s.length < topK) Double.NegativeInfinity
      else { java.util.Arrays.sort(s); s(s.length - topK) }
    }

    /** The top-k (doc_id, score) over `terms`' postings of the docs
      * `keep` admits that hold an `essential` term. */
    def top(terms: Seq[String], essential: Set[String],
            keep: Long => Boolean): Seq[(Long, Double)] = {
      val sums = new scala.collection.mutable.LongMap[Long]
      val hits = new scala.collection.mutable.LongMap[Unit]
      terms.foreach { t =>
        val (p, s) = scores(t)
        val ess = essential(t)
        var i = 0
        while (i < s.length) {
          val d = p.doc(i)
          if (keep(d)) {
            sums(d) = sums.getOrElse(d, 0L) +
              Bm25Server.round(s(i) * IrSql.Bm25Scale, 0).toLong
            if (ess) hits(d) = ()
          }
          i += 1
        }
      }
      hits.keys.toSeq
        .map(d => (d, Bm25Server.round(sums(d).toDouble / IrSql.Bm25Scale, 4)))
        .sortBy { case (d, sc) => (-sc, d) }
        .take(topK)
    }

    // the BATCH template builds lazily on the first searchBatch (an
    // interactive-only deployment never pays its plan)
    val batchPool = new TemplatePool[Unit, BatchTmpl](
      _ => buildBatchTmpl(this), maxKeys = 1)
  }

  private final case class BatchTmpl(
      terms: AtomicReference[java.util.HashSet[UTF8String]],
      dfMap: AtomicReference[java.util.HashMap[UTF8String, java.lang.Long]],
      qids: AtomicReference[java.util.HashMap[UTF8String, Array[Long]]],
      df: DataFrame)

  /** The shared scoring arithmetic with df read from the map ref and
    * (tt, nd) as literals — the same expression tree as the fresh
    * plan's `bm25S` column, so the doubles are identical. */
  private def sExpr(st: State, dfRef: AtomicReference[
      java.util.HashMap[UTF8String, java.lang.Long]]) = {
    val dfc = Bridge.column(
      RefMapLookup(Bridge.expression(col("term")), dfRef))
    val (k1, b) = (IrSql.Bm25K1, IrSql.Bm25B)
    log((lit(st.nd) - dfc + lit(0.5)) / (dfc + lit(0.5)) + lit(1.0)) *
      (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") /
        (lit(st.tt).cast("double") / lit(st.nd))))
  }

  /** The batch-retrieval template — [[graft.queries.IrSql
    * .q10Bm25Batch]]'s plan shape over the CACHED postings⨝doclen,
    * all inputs driver refs: one term-union-pruned pass, per-posting
    * qid fan-out ([[RefMapQidsLookup]] + explode), fixed-point
    * per-(qid, doc) sums, bounded-heap per-qid top-k. Single
    * partition throughout — no exchange, safe to re-execute. */
  private def buildBatchTmpl(st: State): BatchTmpl = {
    graft.functions.GraftFunctions.register(spark)
    val termsRef = new AtomicReference(new java.util.HashSet[UTF8String])
    val dfRef = new AtomicReference(
      new java.util.HashMap[UTF8String, java.lang.Long])
    val qidsRef = new AtomicReference(
      new java.util.HashMap[UTF8String, Array[Long]])
    val inTerms = Bridge.column(
      RefSetContains(Bridge.expression(col("term")), termsRef))
    val qids = Bridge.column(
      RefMapQidsLookup(Bridge.expression(col("term")), qidsRef))
    val df = st.joined.filter(inTerms).coalesce(1)
      .select(col("doc_id"),
        round(sExpr(st, dfRef) * IrSql.Bm25Scale).cast("long").as("s9"),
        explode(qids).as("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("s9")).cast("double") / IrSql.Bm25Scale, 4)
        .as("score"))
      .groupBy(col("qid"))
      .agg(graft.functions.GraftFunctions
        .topkBy(col("score"), col("doc_id"), topK).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy("qid", "rank")
    df.queryExecution.executedPlan // plan + codegen at build
    BatchTmpl(termsRef, dfRef, qidsRef, df)
  }

  private val snapshot = new Snapshot[State](
    Snapshot.store(spark, storeDir, IrSql.bm25StampDirs(storeDir)),
    () => new State, st => PointServer.uncache(st.joined))

  /** Drop the snapshot and rebuild from the store NOW — the explicit
    * hammer for layouts where directory listings can lag a mutation
    * (eventually consistent object stores); routine staleness after
    * [[graft.queries.IrSql.mergeBm25Stats]] / `compactBm25Store` is
    * already caught per [[search]] by the version stamp. */
  def refresh(): Unit = snapshot.refresh()

  /** (doc_id, score) rows, score desc then doc_id asc — identical to
    * [[graft.queries.IrSql.q10Bm25Pruned]] on the same store.
    * Unknown terms are ignored; a query with no known term returns
    * empty. No Spark job. */
  def search(terms: Seq[String]): Seq[(Long, Double)] = {
    val st = snapshot.current()
    val known = terms.distinct.filter(st.stats.contains)
    if (known.isEmpty) return Seq.empty
    val byImpact = known.map(t => t -> st.impact(t))
      .sortBy { case (t, imp) => (-imp, t) }
    val ess = IrSql.maxScoreEssential(byImpact, st.theta(byImpact.head._1))
    st.top(known, ess.toSet, _ => true)
  }

  /** WARM BATCH retrieval — the whole (qid, terms) evaluation suite
    * through ONE prepared job over the server's cached postings⨝doclen
    * (the TREC batch-retrieval shape [[graft.queries.IrSql
    * .q10Bm25Batch]] serves fresh-planned; here the plan, the cache,
    * and the driver dictionary are all already hot, so a 10k-query
    * eval suite costs one template execution, not one Catalyst pass +
    * store scan). Rows are (qid, rank, doc_id, score) by (qid, rank)
    * — identical to the batch entry on the same corpus (spec-pinned,
    * shared oracle): same term-union pruning, same fixed-point
    * per-(qid, doc) sums, same bounded-heap top-k. Unknown terms are
    * dropped (no postings either way); a qid with no known term
    * yields no rows. */
  def searchBatch(queries: Seq[(Long, Seq[String])])
      : Seq[(Long, Long, Long, Double)] = {
    val st = snapshot.current()
    val termQids = new java.util.HashMap[UTF8String, Array[Long]]()
    val dfm = new java.util.HashMap[UTF8String, java.lang.Long]
    val tset = new java.util.HashSet[UTF8String]
    queries.foreach { case (qid, ts) =>
      ts.distinct.filter(st.stats.contains).foreach { t =>
        val u = UTF8String.fromString(t)
        val prev = termQids.get(u)
        termQids.put(u, if (prev == null) Array(qid) else prev :+ qid)
        dfm.put(u, java.lang.Long.valueOf(st.stats(t)._1))
        tset.add(u)
        ()
      }
    }
    if (tset.isEmpty) return Seq.empty
    st.batchPool.withInstance(()) { t =>
      t.terms.set(tset)
      t.dfMap.set(dfm)
      t.qids.set(termQids)
      t.df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    }
  }

  /** The batch template's reused plan (spec hook: exchange-free). */
  private[graft] def batchTemplatePlan
      : org.apache.spark.sql.execution.SparkPlan =
    snapshot.current().batchPool.withInstance(())(
      _.df.queryExecution.executedPlan)

  /** [[search]] with the CANDIDATES restricted to `keep` — the served
    * twin of [[graft.queries.IrSql.q10Bm25Filtered]] (term statistics
    * stay collection-global; the filter narrows what may be returned,
    * not what the collection is). Every known term is scored in full
    * over the kept docs (no MaxScore θ pass — the filtered entry it
    * must equal scores all candidate postings, and a filtered
    * arity-bounded query has at most two terms to prune). No Spark
    * job. `keep` is the caller's per-query filter working set — a
    * driver-held id set, the selective-filter serving shape; a
    * corpus-dense predicate belongs on the batch path
    * ([[graft.ops.Similarity.hybridRrfFiltered]]). */
  def searchFiltered(terms: Seq[String],
                     keep: java.util.HashSet[java.lang.Long])
      : Seq[(Long, Double)] = {
    val st = snapshot.current()
    val known = terms.distinct.filter(st.stats.contains)
    st.top(known, known.toSet, d => keep.contains(d))
  }
}

private object Bm25Server {

  /** One term's live postings, column-wise. */
  final class Postings(val doc: Array[Long], val tf: Array[Long],
                       val dl: Array[Long])

  val NoPostings = new Postings(Array.empty, Array.empty, Array.empty)

  /** Spark's `round` on a double (HALF_UP over the decimal form). */
  def round(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue
}
