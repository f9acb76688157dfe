package graft.query

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.index.InvertedIndex.Index
import graft.text.TextPipeline

/** tf-idf ranked search + wildcard term expansion — the reference's
  * interactive client (`IntDocVectorsForwardIndex.java:278-321`,
  * SURVEY.md §3.3) as cached-DataFrame programs.
  *
  * Plan shapes per query. Both filter postings with a literal
  * `kgram` IN-list (partition/row-group pruned parquet or cached DF —
  * no shuffle of the index) and resolve docids by broadcasting the
  * ≤topK ranked rows into the doc map.
  *  - analytic ([[search]], [[wildcardSearch]]): broadcast join of
  *    per-term df from term_stats, HashAggregate on docno,
  *    TakeOrderedAndProject for top-k. No wide exchange at any corpus
  *    size; the only shuffle is the final tiny per-doc score agg.
  *  - serving ([[serveSearch]], [[wildcardSearchExpanded]]): the
  *    filtered hits coalesce into one task that takes df as a window
  *    count over them, scores and takes the top-k — no term_stats
  *    read, no exchange before the resolve.
  *
  * Scoring modes (SURVEY §2.10 Q1-Q3 decisions):
  *  - intended (default): df = postings-list length, true division,
  *    exact double sort with docno tiebreak
  *  - bugCompat: reproduces the shipped binary — df=1 for every term
  *    (so idf degenerates to log10(N)) and integer-floored N/df
  */
object QueryEngine {

  /** Analyze a raw query with the exact indexing pipeline (same code
    * path ⇒ index/query consistency, SURVEY §2.2). */
  def analyze(query: String): Seq[String] =
    TextPipeline.processContent(query)

  /** The reference accepts only 1-2 word raw queries
    * (`IntDocVectorsForwardIndex.java:292-297`). */
  def requireArity(query: String): Seq[String] = {
    // filter the empty token: "".split gives Array("") — an all-blank
    // query must count as 0 words, not 1
    val words = query.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(words.nonEmpty && words.size <= 2,
      s"query must be 1-2 words, got ${words.size}")
    analyze(query)
  }

  /** tf-idf top-k: score(doc) = Σ_t (1+ln tf) * log10(N/df). */
  def search(ix: Index, query: String, topK: Int = 10,
             bugCompat: Boolean = false): DataFrame =
    rank(ix, requireArity(query), topK, bugCompat, serve = false)

  /** Latency-shaped serving variant of [[search]] — identical results,
    * point-query plan: the ≤2 filtered postings lists are coalesced
    * into ONE task, so score + top-k run as a single narrow stage with
    * no exchange (SinglePartition satisfies the aggregation's
    * distribution), and only the tiny docid-resolution join follows.
    * A serving node funnelling one query's postings through one task
    * is the standard trade; [[search]] keeps the fully parallel shape
    * for analytic (hot-term / batch) use. */
  def serveSearch(ix: Index, query: String, topK: Int = 10,
                  bugCompat: Boolean = false): DataFrame =
    rank(ix, requireArity(query), topK, bugCompat, serve = true)

  private def rank(ix: Index, terms: Seq[String], topK: Int,
                   bugCompat: Boolean, serve: Boolean): DataFrame = {
    if (terms.isEmpty) return ix.docMap.sparkSession.emptyDataFrame
      .select(lit(0L).as("docno"), lit("").as("docid"), lit(0.0).as("score"))
      .limit(0)
    val hits0 = ix.postings.filter(col("kgram").isin(terms: _*))
    val idf =
      if (bugCompat)
        // df stays 1 on the shipped path (SURVEY §2.10-Q1) and the
        // idf ratio N/df is int/int division (§2.10-Q2)
        log10(floor(lit(ix.nDocs.toDouble)))
      else
        log10(lit(ix.nDocs.toDouble) / col("df").cast("double"))
    val scoreInput =
      if (serve) {
        // single task: df (= postings-list length) is a window count
        // over the already-coalesced hits — no stats broadcast, no
        // extra job; the "window over one partition" is exactly the
        // point here (a serving node scoring one query's postings)
        import org.apache.spark.sql.expressions.Window
        hits0.coalesce(1)
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("kgram"))))
      } else {
        // per-term df: filter the stats down to the query's terms
        // BEFORE broadcasting — query-bounded at any corpus size
        val stats = ix.termStats.filter(col("kgram").isin(terms: _*))
        hits0.join(broadcast(stats), "kgram")
      }
    topAndResolve(ix, scoreInput, topK, idf, serve)
  }

  /** Shared tail of every ranked lookup ([[rank]] and
    * [[wildcardSearch]]): per-doc score sum, round, top-k, docid
    * resolution. docMap is CORPUS-sized: broadcast the ≤topK ranked
    * rows into it, never the map itself (the r3 plan broadcast the
    * whole docMap). */
  private def topAndResolve(ix: Index, scoreInput: DataFrame, topK: Int,
                            idf: org.apache.spark.sql.Column,
                            serve: Boolean): DataFrame = {
    val top = topOf(scoreInput, topK, idf)
    val resolved = ix.docMap.join(broadcast(top), "docno")
      .select(col("docno"), col("docid"), col("score"))
    if (serve)
      // repartition, NOT coalesce: coalesce(1) would drag the whole
      // docMap-side probe scan into the single task; the round-trip
      // shuffle of ≤topK rows keeps the scan parallel and the final
      // sort is one tiny task (r4 review)
      resolved.repartition(1)
        .sortWithinPartitions(col("score").desc, col("docno"))
    else
      resolved.orderBy(col("score").desc, col("docno"))
  }

  /** The ranked (docno, score) top-k — [[topAndResolve]]'s scoring
    * head without the docid-resolution tail. Shared with
    * [[rm3Search]]'s pass 1, which consumes it as a FRAME. */
  private def topOf(scoreInput: DataFrame, topK: Int,
                    idf: org.apache.spark.sql.Column): DataFrame =
    scoreInput
      .groupBy(col("docno"))
      .agg(sum((lit(1.0) + log(col("tf"))) * idf).as("score0"))
      .select(col("docno"), round(col("score0"), 4).as("score"))
      .orderBy(col("score").desc, col("docno"))
      .limit(topK)

  /** [[rank]]'s analytic (serve=false) scoring as a (docno, score)
    * top-k frame — no docid resolution (an inner docMap join is a
    * row-content no-op on these rows, so skipping it is free). Pass 1
    * of [[rm3Search]]. */
  private[graft] def searchTop(ix: Index, terms: Seq[String],
                               topK: Int): DataFrame = {
    val stats = ix.termStats.filter(col("kgram").isin(terms: _*))
    val hits = ix.postings.filter(col("kgram").isin(terms: _*))
      .join(broadcast(stats), "kgram")
    topOf(hits, topK,
      log10(lit(ix.nDocs.toDouble) / col("df").cast("double")))
  }

  /** RM3 PSEUDO-RELEVANCE FEEDBACK — the classic query-expansion
    * retrieval of the reference's Galago lineage, as a deterministic
    * two-pass DataFrame program:
    *
    *  1. initial retrieval: the engine's tf-idf top-`fbDocs`
    *     (scores already rounded 4 dp — the feedback inputs are
    *     conf-stable),
    *  2. relevance model over the feedback docs:
    *     rm(t) = Σ_d (tf(t,d)/len(d))·s(d); keep the top `fbTerms`
    *     by (rm desc, term asc), normalize to sum 1, round 6 dp
    *     (driver-side — `fbTerms` values, bounded),
    *  3. expanded weighted query: q(t) = λ·1/|Q| for original terms
    *     plus (1−λ)·rm̃(t) for expansion terms (summed where both),
    *  4. final ranking: score(d) = Σ_t q(t)·(1+ln tf)·log10(N/df) —
    *     the engine's intended per-term contribution, weighted —
    *     top-`topK`, (score desc, docno asc), same output contract
    *     as [[search]].
    *
    * Scale shape: pass 1 is [[search]]; the feedback-doc postings
    * filter is `docno isin(fbDocs literals)` — over THIS index layout
    * (term-sorted) that is a scan-shaped filter, and a deployment
    * serving RM3 hot would keep the docno-keyed forward projection
    * (the same artifact [[graft.index.PositionalIndex.snippet]]
    * reconstructs on the fly); everything after is bounded by
    * fbDocs·vocab-per-doc and fbTerms. Driver hops: the fbDocs score
    * rows and the fbTerms weight rows — both k-bounded. */
  def rm3Search(ix: Index, query: String, topK: Int = 10,
                fbDocs: Int = 5, fbTerms: Int = 10,
                lambda: Double = 0.5): DataFrame = {
    val spark = ix.docMap.sparkSession
    import spark.implicits._
    val qTerms = requireArity(query).distinct
    if (qTerms.isEmpty) return search(ix, query, topK)
    // PASS 1 + PASS 2 fused into ONE action (r17; previously two
    // sequential collects): the feedback top-fbDocs ride into the
    // relevance model as a broadcast FRAME instead of a driver round
    // trip + isin literals. Same rows (pass 1's docMap resolve was an
    // inner join on docno — a row-content no-op), same arithmetic
    // (rm3Model delegates to the same rm3ModelOver); one job and one
    // driver hop where there were two.
    val rm = rm3ModelOver(ix, searchTop(ix, qTerms, fbDocs), fbTerms)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    // empty relevance model ⟺ empty feedback set (every feedback doc
    // carries ≥ 1 posting row), so this IS the old fb.isEmpty fallback
    if (rm.isEmpty) return search(ix, query, topK)
    val weights = rm3Weights(qTerms, rm.toSeq, lambda)
    val wDf = weights.toDF("kgram", "w")
    val terms = weights.map(_._1)
    val hits = ix.postings.filter(col("kgram").isin(terms: _*))
      .join(broadcast(ix.termStats.filter(col("kgram").isin(terms: _*))),
        "kgram")
      .join(broadcast(wDf), "kgram")
    val idf = log10(lit(ix.nDocs.toDouble) / col("df").cast("double"))
    val top = hits.groupBy(col("docno"))
      .agg(sum(col("w") * (lit(1.0) + log(col("tf"))) * idf).as("score0"))
      .select(col("docno"), round(col("score0"), 4).as("score"))
      .orderBy(col("score").desc, col("docno"))
      .limit(topK)
    ix.docMap.join(broadcast(top), "docno")
      .select(col("docno"), col("docid"), col("score"))
      .orderBy(col("score").desc, col("docno"))
  }

  /** Pass 2 of [[rm3Search]] — the relevance-model frame
    * rm(t) = Σ_d tf(t,d)/len(d)·s(d) over the feedback rows, top
    * `fbTerms` by (rm desc, term asc). Split out so the plan is
    * independently dumpable (plans/r16 evidence). dlen rides a window
    * over the already-filtered postings: the previous
    * groupBy+broadcast-join shape evaluated the fbPost subtree twice
    * (two postings scans for a fbDocs-bounded aggregate — guide §2.4);
    * the window computes the identical per-doc sum in ONE pass,
    * shuffling only the fbDocs-bounded rows (the [[Rm3Server]]
    * feedback template's shape, minus the single-task coalesce the
    * analytic form doesn't want). */
  private[graft] def rm3Model(ix: Index, fb: Seq[(Long, Double)],
                              fbTerms: Int): DataFrame = {
    val spark = ix.docMap.sparkSession
    import spark.implicits._
    rm3ModelOver(ix, fb.toDF("docno", "s"), fbTerms)
  }

  /** [[rm3Model]] over a (docno, score) FRAME: the broadcast inner
    * join both selects the feedback docs' postings (the literal-isin
    * filter's job — fb docnos are distinct, so row sets are identical)
    * and attaches their scores, letting [[rm3Search]] run pass 1 and
    * pass 2 as one job. The per-doc dlen window moves after the join —
    * the join neither adds nor drops rows per docno, so the window
    * sums are unchanged (QueryEngineSpec pins the arithmetic against
    * the pre-r16 groupBy recompute). */
  private[graft] def rm3ModelOver(ix: Index, fb: DataFrame,
                                  fbTerms: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ix.postings
      .join(broadcast(fb.toDF("docno", "s")), "docno")
      .withColumn("dlen",
        sum(col("tf")).over(Window.partitionBy(col("docno"))))
      .groupBy(col("kgram"))
      .agg(sum(col("tf").cast("double") / col("dlen") * col("s"))
        .as("rm0"))
      .orderBy(col("rm0").desc, col("kgram"))
      .limit(fbTerms)
  }

  /** RM3 driver-side weight merge (normalize the relevance model to
    * sum 1, round 6 dp, blend λ·1/|Q| original + (1−λ)·rm̃) — shared
    * by [[rm3Search]] and [[Rm3Server]] so the two paths cannot drift.
    * Zero-weight terms are dropped: they contribute nothing to any
    * score by definition, but would otherwise ADMIT their documents
    * with score 0 (visible at λ=1, where rm3 must reduce to the plain
    * ranking — spec-pinned). */
  private[query] def rm3Weights(qTerms: Seq[String],
                                rm: Seq[(String, Double)],
                                lambda: Double): Seq[(String, Double)] = {
    val rmSum = rm.map(_._2).sum
    val rmW =
      if (rmSum <= 0) Map.empty[String, Double]
      else rm.map { case (t, v) =>
        t -> math.rint(v / rmSum * 1e6) / 1e6 }.toMap
    val origW = qTerms.map(t => t -> lambda / qTerms.size).toMap
    (origW.keySet ++ rmW.keySet).toSeq.sorted.map { t =>
      (t, origW.getOrElse(t, 0.0) + (1 - lambda) * rmW.getOrElse(t, 0.0))
    }.filter(_._2 > 0)
  }

  /** Expand a wildcard pattern with ANY number of `*`s (e.g. `re*ve`,
    * `a*b*c`) to matching vocabulary terms via the char-k-gram index:
    * grams of every $-anchored pattern segment → candidate must contain
    * them all → verify with LIKE. This is the lookup path R4 was built
    * for (SURVEY §7.1 step 5); segments shorter than k simply
    * contribute no grams and are enforced by the LIKE verify alone. */
  /** Anchored regex source for a `*`-wildcard pattern over the
    * (lowercase) vocabulary — quoted literal segments joined by `.*`.
    * Shared by [[wildcardTerms]]' verify and the
    * `graft_matches_term_like` predicate so the two paths can never
    * drift. Expects an already-lowercased pattern. */
  private[graft] def wildcardRegex(pat: String): String =
    "^" + pat.split("\\*", -1)
      .map(seg => if (seg.isEmpty) "" else java.util.regex.Pattern.quote(seg))
      .mkString(".*") + "$"

  /** The distinct length-`k` grams of a (lowercased) pattern's
    * `$`-padded literal segments, cut in CODE POINTS — the windows
    * [[graft.index.CharKGramIndex.grams]] cuts with Spark's `substr`
    * (UTF-16 windows would split a supplementary character's
    * surrogate pair off its neighbours and match nothing). Shared by
    * [[wildcardTerms]] and both wildcard servers. */
  private[graft] def wildcardGrams(pat: String, k: Int): Seq[String] =
    s"$$$pat$$".split("\\*", -1).toSeq
      .flatMap { seg =>
        val cps = seg.codePoints().toArray
        (0 to cps.length - k).map(new String(cps, _, k))
      }
      .distinct

  def wildcardTerms(chargrams: DataFrame, pattern: String,
                    k: Int = 3): DataFrame = {
    require(pattern.contains("*"), "pattern needs at least one *")
    // normalize like every other query path: the vocabulary is
    // lowercased by the pipeline, so 'St*am' must behave as 'st*am'
    // (the raw pattern used to silently match nothing — r4 review)
    val pat = pattern.toLowerCase(java.util.Locale.ROOT)
    val segGrams = wildcardGrams(pat, k)
    // regex verify with quoted segments: LIKE's `_`/`%` metacharacters
    // in a pattern would silently over-match (vocab terms are
    // alnum-only, so a literal `_` must match nothing)
    val verify = col("term").rlike(wildcardRegex(pat))
    if (segGrams.isEmpty) {
      // pattern shorter than k on both sides: scan the vocabulary
      chargrams.select(explode(col("terms")).as("term"))
        .distinct().filter(verify).orderBy("term")
    } else {
      chargrams
        .filter(col("gram").isin(segGrams: _*))
        .select(col("gram"), explode(col("terms")).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("ng"))
        // candidate must contain every pattern gram
        .filter(col("ng") === segGrams.size)
        .filter(verify)
        .select(col("term"))
        .orderBy("term")
    }
  }

  /** Wildcard search: expand the pattern, then disjunctive tf-idf over
    * the expansion — fully DISTRIBUTED: the expansion never touches the
    * driver (the r3 form collected it). The expansion is re-analyzed
    * with the indexing pipeline (char-gram index holds raw surface
    * forms; postings are stemmed) via the registered `graft_tokenize`.
    * The expansion-bounded stats (vocabulary subset) then restrict the
    * corpus-sized postings in ONE broadcast probe — a separate
    * postings⋈expansion join would re-probe the same scan for rows the
    * stats join already bounds (r4 review). Top-k/resolve as the
    * non-wildcard path — one place for the tf-idf formula, tiebreak
    * and rounding. */
  def wildcardSearch(ix: Index, chargrams: DataFrame, pattern: String,
                     topK: Int = 10, k: Int = 3): DataFrame = {
    TextPipeline.register(ix.docMap.sparkSession)
    // k must match the chargram index's gram length — mismatched
    // lengths would silently expand to nothing
    val expanded = wildcardTerms(chargrams, pattern, k)
      .select(explode(expr("graft_tokenize(term)")).as("kgram"))
      .distinct()
    val stats = ix.termStats.join(broadcast(expanded), "kgram")
    topAndResolve(ix, ix.postings.join(broadcast(stats), "kgram"), topK,
      log10(lit(ix.nDocs.toDouble) / col("df").cast("double")),
      serve = false)
  }

  /** [[wildcardSearch]] with the expansion already resolved (a
    * [[LoadedWildcardServer.lookup]] on a serving node that can't
    * hold the vocabulary), scored as a point query over the analyzed
    * expansion: [[serveSearch]]'s arithmetic, not [[wildcardSearch]]'s
    * plan. The expansion is analyzed on the driver with the indexing
    * pipeline (`graft_tokenize` wraps the same
    * [[TextPipeline.processContent]]).
    *
    * On an index with a `scorer` ([[LoadedPointServer.index]]) the
    * analyzed terms score on the driver with NO Spark job, and the
    * top-k comes back as a local relation of (docno, docid, score).
    *
    * Otherwise, plan shape: the postings filter is a LITERAL `kgram`
    * IN-list. Catalyst pushes it through the live view's tombstone
    * anti-join into the parquet scan, where the range-laid postings
    * prune by file and row-group min/max — the scan reads the
    * expansion's term ranges, not the whole store. The filtered hits
    * coalesce into ONE task that computes df as a window count, sums,
    * and takes the top-k; the tiny docid resolve follows. No
    * term_stats scan, no stats broadcast, no distinct shuffle.
    *
    * Same rows as [[wildcardSearch]] either way (spec-pinned,
    * tombstoned stores included): the df is the live postings-list
    * length of each expansion term, and term_stats is delete-exact on
    * disk ([[graft.index.InvertedIndex.deleteDocs]] re-derives the
    * touched kgrams from the live postings), so the two df sources
    * agree after a delete as before it. The prepared
    * [[WildcardServer.search]] scores the same way. */
  def wildcardSearchExpanded(ix: Index, terms: Seq[String],
                             topK: Int = 10): DataFrame = {
    val analyzed = terms.flatMap(analyze).distinct
    ix.scorer match {
      case Some(score) =>
        // a Row list with a fixed schema: no per-call encoder derivation
        val rows = score(analyzed, topK).map { case (d, id, s) => Row(d, id, s) }
        ix.docMap.sparkSession.createDataFrame(rows.asJava, ServedSchema)
      case None => rank(ix, analyzed, topK, bugCompat = false, serve = true)
    }
  }

  /** The (docno, docid, score) output contract of every ranked path. */
  private val ServedSchema =
    StructType.fromDDL("docno BIGINT, docid STRING, score DOUBLE")
}
