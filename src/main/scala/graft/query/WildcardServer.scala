package graft.query

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.index.CharKGramIndex

/** PREPARED WILDCARD serving — the last query family to get a warm
  * template (point/phrase/near/ANN/BM25/RM3/hybrid/batch all have
  * one): [[graft.queries.IrSql.q09Wildcard]]'s gram-intersection
  * lookup re-planned per call costs a full Catalyst pass over the
  * chargram store — here the store's (gram, term) pairs are cached
  * ONCE and a single pooled template serves every pattern.
  *
  * Held per snapshot:
  *  - the exploded (gram, term) relation, cached (the chargram store
  *    R4 exists for — at 100 TB this is the vocabulary-sized working
  *    set a serving node holds, not the corpus);
  *  - the store's gram length k, derived from the data (a mismatched
  *    k would silently expand to nothing);
  *  - lazily, the distinct vocabulary as a driver array — only the
  *    all-short-segment fallback patterns pay for it (the
  *    [[Bm25Server]] full-dictionary discipline).
  *
  * Per query, ONE template execution: the pattern's `$`-anchored
  * segment grams land in a driver-updated [[RefSetContains]] set, the
  * cached scan counts matched grams per candidate term
  * (exchange-free: single coalesced partition), and the driver keeps
  * candidates holding EVERY gram that also pass the anchored-regex
  * verify — output-identical to
  * [[QueryEngine.wildcardTerms]] (spec-pinned, same q09 oracle
  * semantics). [[search]] feeds the expansion through the existing
  * [[PointServer]] scoring tail — served wildcard RETRIEVAL, equal to
  * [[QueryEngine.wildcardSearch]].
  *
  * STALENESS: the chargram store now mutates in place
  * ([[CharKGramIndex.mergeIntoStore]]/`deleteDocs`/`updateDocs`), so
  * the snapshot lives in the shared [[Snapshot]] holder under the
  * store's [[DirVersion]] stamp — O(1) via the [[graft.StoreGen]]
  * generation its commit protocol bumps — and every call revalidates
  * it: a vocabulary update under a live server is served exactly,
  * never stale. Run mutations behind the quiesce for cutover-exact
  * semantics, as everywhere in the serving layer. */
final class WildcardServer(spark: SparkSession, cgDir: String,
                           point: Option[PointServer] = None) {
  import WildcardServer.Tmpl

  private final class State {
    val pairs = PointServer.cache(CharKGramIndex.load(spark, cgDir)
      .select(col("gram"), explode(col("terms")).as("term"))).head

    /** The store's gram length, from the data (empty store → the
      * default; every lookup is then empty anyway). */
    val k: Int = pairs.select(length(col("gram")))
      .limit(1).collect().headOption.map(_.getInt(0))
      .getOrElse(WildcardServer.DefaultK)

    /** Driver vocabulary for the all-short-segment fallback — built
      * on first need only. */
    lazy val vocab: Array[String] = pairs.select(col("term"))
      .distinct().collect().map(_.getString(0)).sorted

    val pool = new TemplatePool[Unit, Tmpl](
      _ => WildcardServer.tmpl(pairs), maxKeys = 1)
  }

  private val snapshot = new Snapshot[State](
    Snapshot.store(spark, cgDir, CharKGramIndex.stampDirs(cgDir)),
    () => new State, st => PointServer.uncache(st.pairs))

  snapshot.current().pool.withInstance(())(_ => ()) // plan+codegen at ctor

  /** Drop the snapshot and rebuild NOW (the explicit hammer for
    * eventually consistent listings; routine staleness is caught per
    * call by the version stamp). */
  def refresh(): Unit = snapshot.refresh()

  /** The reused physical plan (spec hook: exchange-free). */
  private[graft] def templatePlan
      : org.apache.spark.sql.execution.SparkPlan =
    snapshot.current().pool.withInstance(())(_.df.queryExecution.executedPlan)

  /** The pattern's matching vocabulary terms, ascending — identical
    * to [[QueryEngine.wildcardTerms]] over the same store. */
  def lookup(pattern: String): Seq[String] = {
    require(pattern.contains("*"), "pattern needs at least one *")
    val st = snapshot.current()
    val p = new WildcardServer.Pattern(pattern, st.k)
    if (p.grams.isEmpty)
      // all segments shorter than k: no gram narrows — the driver
      // dictionary verifies alone (zero jobs)
      st.vocab.filter(p.matches).toSeq
    else st.pool.withInstance(())(_.lookup(p))
  }

  /** Served wildcard RETRIEVAL: expand, re-analyze with the indexing
    * pipeline, score through the held [[PointServer]]'s pooled
    * template — (docno, docid, score) rows equal to
    * [[QueryEngine.wildcardSearch]] on the same index + store. */
  def search(pattern: String): Seq[(Long, String, Double)] =
    WildcardServer.retrieve(point, lookup(pattern))
}

object WildcardServer {

  /** Gram length of an EMPTY store, whose every lookup is empty. */
  private[query] val DefaultK = 3

  /** A lowercased pattern's anchored verify regex and the distinct
    * length-`k` grams of its `$`-padded literal segments
    * ([[QueryEngine.wildcardGrams]]). */
  private[query] final class Pattern(pattern: String, k: Int) {
    private val pat = pattern.toLowerCase(java.util.Locale.ROOT)
    private val re = java.util.regex.Pattern
      .compile(QueryEngine.wildcardRegex(pat))
    val grams: Seq[String] = QueryEngine.wildcardGrams(pat, k)

    def matches(term: String): Boolean = re.matcher(term).matches()
  }

  /** A prepared gram-count plan — (term, matched grams) over the
    * driver-updated gram set, exchange-free — and its gram cell. */
  private[query] final case class Tmpl(
      ref: AtomicReference[java.util.HashSet[UTF8String]], df: DataFrame) {
    /** Candidates holding EVERY gram of `p` that pass its verify. */
    def lookup(p: Pattern): Seq[String] = {
      ref.set(PointServer.utf8Set(p.grams))
      df.collect()
        .filter(r => r.getLong(1) == p.grams.size && p.matches(r.getString(0)))
        .map(_.getString(0)).sorted.toSeq
    }
  }

  /** Count matched grams per term over the (gram, term) `pairs` the
    * driver-updated gram set keeps. */
  private def tmpl(pairs: DataFrame): Tmpl = {
    val ref = PointServer.termCell()
    val df = pairs.filter(Bridge.column(
        RefSetContains(Bridge.expression(col("gram")), ref)))
      .coalesce(1)
      .groupBy(col("term")).agg(count(lit(1)).as("ng"))
    df.queryExecution.executedPlan // plan + codegen at build
    Tmpl(ref, df)
  }

  /** The retrieval tail shared by both wildcard servers: re-analyze
    * the expansion with the indexing pipeline and score it through
    * the held [[PointServer]]'s pooled template. */
  private[query] def retrieve(point: Option[PointServer],
                              expansion: => Seq[String])
      : Seq[(Long, String, Double)] = {
    val ps = point.getOrElse(throw new IllegalStateException(
      "wildcard retrieval needs the PointServer scoring arm — " +
        "construct with point = Some(...)"))
    ps.searchTerms(
      expansion.flatMap(graft.text.TextPipeline.processContent).distinct)
  }
}

/** LOADED wildcard serving — [[WildcardServer]] for nodes that can't
  * hold the vocabulary: nothing vocabulary-sized is cached, and a
  * lookup runs NO Spark job. Held per snapshot, O(part files) driver
  * state only:
  *  - the store's per-file gram RANGES, derived by ONE narrow
  *    gram-column scan per store generation (derived rather than
  *    manifest-read because the chargram table IS its store root and
  *    file surgery maintains it in place — the same on-the-fly
  *    routing [[CharKGramIndex.mergeIntoStore]] uses), held in a
  *    [[Routing.Table]] with its per-file footer row groups.
  *
  * Per query: route the pattern's segment grams to their covering
  * part files (driver arithmetic), read on the driver ONLY those
  * files' row groups whose gram min/max covers a gram, count the
  * matched grams per term, and keep the candidates holding every
  * gram that pass the anchored-regex verify, in UTF-8 order —
  * output-identical to [[QueryEngine.wildcardTerms]] /
  * [[WildcardServer.lookup]] (spec-pinned; q09's oracle semantics).
  * All-short-segment patterns (no gram to narrow by) read every row
  * group PER CALL — the deliberate price of not holding the
  * dictionary. The expansion scores job-free too when it goes to
  * [[QueryEngine.wildcardSearchExpanded]] with a
  * [[LoadedPointServer.index]].
  *
  * STALENESS: the same [[Snapshot]] holder and
  * [[DirVersion]]/[[graft.StoreGen]] stamp as every loaded server,
  * revalidated per call — a
  * `mergeIntoStore`/`deleteDocs`/`updateDocs` under a live server
  * re-derives the ranges and re-routes on the very next lookup. */
final class LoadedWildcardServer(spark: SparkSession, cgDir: String,
                                 point: Option[PointServer] = None) {

  private final class State {
    private val cg = CharKGramIndex.load(spark, cgDir)
    /** Sorted (lo, hi, file) gram ranges — O(files) driver state. */
    private val ranges = Routing.ranges(
      cg.select(col("gram"), input_file_name().as("file"))
        .groupBy(col("file"))
        .agg(min(col("gram")).as("lo"), max(col("gram")).as("hi")),
      Routing.Utf8Key)
    val grams = new Routing.Table(spark, ranges,
      StructType(Seq(cg.schema("gram"), cg.schema("terms"))), Routing.Utf8Key)

    /** Gram length from the range endpoints (grams are fixed-width
      * `$`-padded code-point windows); empty store → the default. */
    val k: Int = ranges.headOption.map(_._1.numChars())
      .getOrElse(WildcardServer.DefaultK)
  }

  private val snapshot = new Snapshot[State](
    Snapshot.store(spark, cgDir, CharKGramIndex.stampDirs(cgDir)),
    () => new State, _ => ())

  /** Drop the snapshot and re-derive the ranges NOW (the explicit
    * hammer for eventually consistent listings). */
  def refresh(): Unit = snapshot.refresh()

  /** The part files the pattern's lookup would read (spec hook for
    * the routed-prune claim). */
  private[graft] def routedFiles(pattern: String): Seq[String] = {
    val st = snapshot.current()
    st.grams.files(new WildcardServer.Pattern(pattern, st.k).grams
      .map(UTF8String.fromString))
  }

  /** The pattern's matching vocabulary terms, ascending — identical
    * to [[QueryEngine.wildcardTerms]] / [[WildcardServer.lookup]]
    * over the same store. */
  def lookup(pattern: String): Seq[String] = {
    require(pattern.contains("*"), "pattern needs at least one *")
    val st = snapshot.current()
    val p = new WildcardServer.Pattern(pattern, st.k)
    val grams = p.grams.map(UTF8String.fromString)
    val want = grams.toSet
    // term → matched grams; terms are copied out of the reused row
    val ng = scala.collection.mutable.HashMap.empty[UTF8String, Int]
    def count(r: InternalRow): Unit = if (!r.isNullAt(1)) {
      val terms = r.getArray(1)
      (0 until terms.numElements()).foreach { i =>
        val t = terms.getUTF8String(i).clone()
        ng(t) = ng.getOrElse(t, 0) + 1
      }
    }
    if (grams.isEmpty) st.grams.foreachAll(count) // nothing narrows
    else st.grams.foreach(grams)(r => if (want(r.getUTF8String(0))) count(r))
    ng.iterator.collect { case (t, n) if n == grams.size || grams.isEmpty => t }
      .filter(t => p.matches(t.toString)).toSeq.sorted.map(_.toString)
  }

  /** Served wildcard RETRIEVAL over the routed lookup — same scoring
    * tail as [[WildcardServer.search]]. */
  def search(pattern: String): Seq[(Long, String, Double)] =
    WildcardServer.retrieve(point, lookup(pattern))
}
