package graft.query

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.index.InvertedIndex
import graft.index.InvertedIndex.Index

/** Set-membership predicate against a DRIVER-UPDATED reference,
  * comparing the column's `UTF8String` directly (no per-row String
  * materialization — measured as the dominant cost of a UDF filter
  * over a ~500k-row cached postings scan). The set is captured when a
  * job's tasks are serialized, so each execution sees the value current
  * at submit time. */
private[query] case class RefSetContains(
    child: Expression,
    ref: AtomicReference[java.util.HashSet[UTF8String]])
    extends UnaryExpression with Predicate with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("ref_set_contains expects string")

  override def prettyName: String = "graft_ref_set_contains"

  override def nullSafeEval(v: Any): Any =
    ref.get.contains(v.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(c: Expression): RefSetContains =
    copy(child = c)
}

/** [[RefSetContains]]' Long twin, for docno-set templates (the RM3,
  * BM25 and IVF servers). */
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

/** Point-query serving with NO Spark job per query — the paper
  * client's in-memory dictionary probe and score (SURVEY R5) for a
  * standing serving node, the form the REPL serves.
  *
  * Each snapshot collects its live index ONCE into a packed driver
  * dictionary ([[Packed]]): the terms in UTF-8 order in one byte
  * array, each owning a slice of a `docno[]` and a `tf[]` column, and
  * docno → docid as a sorted `long[]` beside the packed docids. A
  * query is then [[PointServer.Scorer]]'s driver arithmetic — the
  * scorer [[LoadedPointServer]] runs over its routed parquet reads —
  * bit-identical to [[QueryEngine.serveSearch]] (spec-pinned, scores
  * as IEEE bits, the stopword-only → empty case included).
  * `bugCompat` scoring stays on serveSearch: a standing serving
  * endpoint wants the intended semantics.
  *
  * DRIVER MEMORY: the dictionary costs ~12 bytes per live posting plus
  * each term's bytes and 8, and ~12 bytes plus the docid per doc
  * (SizeEstimator: 0.88 MB for perfbench `serve`'s 400 docs, 53k
  * postings over 16.6k terms). The snapshot holds no Spark-cached
  * frame, so a cluster driver must be sized for the store's postings,
  * as for [[Bm25Server]]; an index past driver RAM serves through
  * [[LoadedPointServer]]'s routed reads instead.
  *
  * STALENESS: a server handed an in-memory [[Index]] serves that
  * SNAPSHOT — the struct is immutable, there is no shared store to go
  * stale against (a caller that merges builds a new Index and a new
  * server). The store-backed form ([[PointServer.overStore]]) is
  * where mutation is real: it revalidates a [[DirVersion]] stamp per
  * [[search]] and re-collects the dictionary when the directory moved
  * — so an [[InvertedIndex.merge]]-then-write under a live server is
  * detected, never silently served stale (the [[Snapshot]] holder
  * every stamped server shares). [[refresh]] is the explicit hammer
  * for layouts where listings can lag.
  *
  * Safe for concurrent callers: a snapshot is immutable and each
  * query allocates its own accumulators. */
final class PointServer private (
    source: Snapshot.Source[Index], topK: Int) {

  /** Snapshot-serving constructor over a caller-owned index. */
  def this(ix: Index, topK: Int = 10) = this(Snapshot.fixed(ix), topK)

  private val snapshot = new Snapshot[PointServer.Scorer](source.stamp,
    () => PointServer.packed(source.load()), _ => ())

  /** Drop the snapshot and re-collect the dictionary NOW. */
  def refresh(): Unit = snapshot.refresh()

  /** (docno, docid, score) rows, score desc then docno asc — the same
    * output (and arity contract) as [[QueryEngine.serveSearch]]. */
  def search(query: String): Seq[(Long, String, Double)] =
    searchTerms(QueryEngine.requireArity(query))

  /** [[search]] over an already-analyzed term set with NO arity cap —
    * the scoring tail of a WILDCARD expansion
    * ([[WildcardServer.search]]; the arity rule is the interactive
    * client's contract, not the scorer's). Same output and ordering. */
  private[query] def searchTerms(terms: Seq[String])
      : Seq[(Long, String, Double)] =
    snapshot.current().searchTerms(terms, topK)
}

object PointServer {

  /** STORE-BACKED form over a written [[InvertedIndex.write]] layout,
    * with per-search [[DirVersion]] staleness revalidation — a
    * merge/rewrite of `dir` under the live server re-collects the
    * dictionary before the next query runs. No frame stays cached. */
  def overStore(spark: SparkSession, dir: String,
                topK: Int = 10): PointServer =
    new PointServer(new Snapshot.Source[Index](
      Snapshot.store(spark, dir, InvertedIndex.store.stampDirs(dir)),
      () => InvertedIndex.load(spark, dir), _ => ()), topK)

  /** A written inverted store, loaded and CACHED per stamp (postings
    * and doc_map materialized at (re)build, not on the first query)
    * and released when the snapshot is replaced — the source behind
    * [[Rm3Server]]'s store-backed form. */
  private[query] def cachedStore(spark: SparkSession,
                                 dir: String): Snapshot.Source[Index] =
    new Snapshot.Source(
      Snapshot.store(spark, dir, InvertedIndex.store.stampDirs(dir)),
      () => {
        val ix = InvertedIndex.load(spark, dir)
        val Seq(postings, docMap) = cache(ix.postings, ix.docMap)
        ix.copy(postings = postings, docMap = docMap)
      },
      ix => uncache(ix.postings, ix.docMap))

  private val cacheTags = new java.util.concurrent.atomic.AtomicLong

  /** Persist one snapshot's frames and materialize them now; returns
    * the persisted frames, which the snapshot serves from and
    * [[uncache]]s when replaced. Each frame is cached under a plan of
    * its own — a `tag = tag` filter, always true and folded away
    * before execution. Spark's cache manager matches entries by plan
    * equality, and a file scan equals every other scan of the same
    * root path, whatever files it holds now: untagged, a snapshot
    * rebuilt after a mutation that renames its files in (a staged
    * tombstone or append, which refreshes no cache entry) would reuse
    * the replaced snapshot's entry and its old rows, and releasing
    * the replaced snapshot would then drop the entry the new one
    * reads. */
  private[query] def cache(dfs: DataFrame*): Seq[DataFrame] = {
    val own = dfs.map { df =>
      val tag = lit(cacheTags.incrementAndGet())
      df.filter(tag === tag)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    own.foreach(_.count())
    own
  }

  private[query] def uncache(dfs: DataFrame*): Unit =
    dfs.foreach(_.unpersist(blocking = false))

  /** A fresh driver-side term set for a [[RefSetContains]] cell. */
  private[query] def utf8Set(ts: Iterable[String])
      : java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    ts.foreach(t => s.add(UTF8String.fromString(t)))
    s
  }

  private[query] def termCell()
      : AtomicReference[java.util.HashSet[UTF8String]] =
    new AtomicReference(new java.util.HashSet[UTF8String])

  /** The exchange-free tf-idf score skeleton over `postings`: term-set
    * filter (`terms`) → single task → window df → per-doc
    * Σ weight·(1+ln tf)·log10(N/df) → top-`limitN`. `weight` (absent:
    * 1) is RM3's per-term blend; shared by all of [[Rm3Server]]'s
    * score passes ([[PointServer.Scorer]] computes the same arithmetic
    * on the driver). */
  private[query] def scorePlan(postings: DataFrame, nDocs: Long,
      terms: AtomicReference[java.util.HashSet[UTF8String]],
      limitN: Int, weight: Option[Column] = None): DataFrame = {
    val tf = lit(1.0) + log(col("tf"))
    postings
      .filter(Bridge.column(RefSetContains(
        Bridge.expression(col("kgram")), terms)))
      .coalesce(1)
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("kgram"))))
      .groupBy(col("docno"))
      .agg(sum(weight.fold(tf)(_ * tf) *
        log10(lit(nDocs.toDouble) / col("df").cast("double"))).as("s0"))
      .select(col("docno"), round(col("s0"), 4).as("score"))
      .orderBy(col("score").desc, col("docno"))
      .limit(limitN)
  }

  /** The driver tf-idf scorer of both point servers — [[scorePlan]]'s
    * arithmetic in plain Scala over a postings source: `lists` gives
    * the query terms' live (docno, tf) rows ([[Packed.Postings]] for
    * [[PointServer]], [[Routing.Routed]] for [[LoadedPointServer]]),
    * `resolve` docnos → docids. df = a term's live rows; Σ (1 + ln
    * tf)·log10(N/df) per doc, added in UTF-8 term order (the plan's
    * kgram window fed each doc's sum in that order, and double
    * addition is order-sensitive); rounded to 4 places HALF_UP; top-k
    * by score desc then docno asc. Spark's `Log`/`Log10` call
    * `StrictMath`, so the scores are bit-identical. */
  private[query] final class Scorer(nDocs: Long,
      lists: Seq[UTF8String] => Map[UTF8String, Seq[(Long, Int)]],
      resolve: Seq[Long] => Map[Long, String]) {

    /** Top-k (docno, docid, score) rows over already-analyzed terms
      * (any number); unresolvable docnos drop (inner-join semantics). */
    def searchTerms(analyzed: Seq[String], k: Int): Seq[(Long, String, Double)] = {
      val n = nDocs.toDouble
      val sums = scala.collection.mutable.HashMap.empty[Long, Double]
      lists(analyzed.map(UTF8String.fromString).distinct).toSeq.sortBy(_._1)
        .foreach { case (_, rows) =>
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
      val ids = resolve(top.map(_._1))
      top.flatMap { case (d, s) => ids.get(d).map(id => (d, id, s)) }
    }
  }

  /** An index collected into its packed dictionary, with its scorer. */
  private def packed(ix: Index): Scorer = {
    val (keys, rows) = Packed.collect(ix.postings.select("kgram", "docno", "tf"), "docno")
    val tf = rows.map(_.getLong(2).toInt)
    new Scorer(ix.nDocs, new Packed.Postings(keys, rows.map(_.getLong(1)), tf(_)).lists,
      Packed.docs(ix.docMap).resolve)
  }

  /** docno → docid for ≤ topK result docnos through a fresh tiny
    * literal-`isin` plan (literals keep stat/row-group pruning, where a
    * templated reference-reading filter would scan the whole doc_map
    * per query; planning ≤ topK rows is noise).
    * Unresolvable docnos are absent — inner-join semantics. */
  private[query] def resolveLiteral(docMap: DataFrame,
                                    docnos: Seq[Long]): Map[Long, String] =
    if (docnos.isEmpty) Map.empty
    else docMap
      .filter(col("docno").isin(docnos: _*))
      .select(col("docno"), col("docid"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
}
