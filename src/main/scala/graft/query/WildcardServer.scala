package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.index.CharKGramIndex

/** Wildcard serving with NO Spark job per lookup — the chargram
  * store R4 exists for, held the way the paper client holds its
  * dictionary: in memory. Each snapshot collects the store's
  * (gram, term) pairs ONCE into a packed driver dictionary
  * ([[Packed]]): the grams in UTF-8 order in one byte array, each
  * owning a slice of an `int[]` of term ids into ONE packed vocabulary
  * (the distinct terms in UTF-8 order, which also serves the
  * all-short-segment fallback); the store's gram length k comes from
  * the data (a mismatched k would silently expand to nothing).
  *
  * Per lookup: the pattern's `$`-anchored segment grams probe the
  * dictionary, and [[WildcardServer.matching]] — the gram count
  * [[LoadedWildcardServer]] runs over its routed row groups — keeps
  * the terms holding EVERY gram that pass the anchored-regex verify,
  * in UTF-8 order: output-identical to [[QueryEngine.wildcardTerms]]
  * (spec-pinned, q09's oracle semantics). [[search]] feeds the
  * expansion through the held [[PointServer]]'s scorer — served
  * wildcard RETRIEVAL, equal to [[QueryEngine.wildcardSearch]].
  *
  * DRIVER MEMORY: 4 bytes per (gram, term) pair plus the packed grams
  * and vocabulary (SizeEstimator: 0.64 MB for perfbench `serve`'s
  * 109k pairs over 2.5k grams and 16.6k terms). The snapshot holds no Spark-cached frame, so a cluster
  * driver must be sized for the vocabulary's grams, as for
  * [[Bm25Server]]; a node that cannot hold them serves through
  * [[LoadedWildcardServer]].
  *
  * STALENESS: the chargram store mutates in place
  * ([[CharKGramIndex.mergeIntoStore]]/`deleteDocs`/`updateDocs`), so
  * the snapshot lives in the shared [[Snapshot]] holder under the
  * store's [[DirVersion]] stamp — O(1) via the [[graft.StoreGen]]
  * generation its commit protocol bumps — and every call revalidates
  * it: a vocabulary update under a live server is served exactly,
  * never stale. Run mutations behind the quiesce for cutover-exact
  * semantics, as everywhere in the serving layer. */
final class WildcardServer(spark: SparkSession, cgDir: String,
                           point: Option[PointServer] = None) {

  /** One snapshot's packed (gram → term ids) dictionary. */
  private final class State {
    private val (grams, ids, vocab) = {
      val (keys, rows) = Packed.collect(CharKGramIndex.load(spark, cgDir)
        .select(col("gram"), explode(col("terms")).as("term")), "term")
      val terms = rows.map(r => UTF8String.fromString(r.getString(1)))
      val vocab = Packed.utf8s(terms.distinct.sorted.toSeq)
      (keys, terms.map(vocab.find), vocab)
    }

    /** The store's gram length, from the data (empty store → the
      * default; every lookup is then empty anyway). */
    val k: Int = if (grams.keys.size == 0) WildcardServer.DefaultK
      else grams.keys(0).numChars()

    def lookup(p: WildcardServer.Pattern): Seq[String] =
      WildcardServer.matching(p) { f =>
        if (p.grams.isEmpty) (0 until vocab.size).foreach(i => f(vocab(i)))
        else p.grams.foreach(g =>
          grams.rows(UTF8String.fromString(g)).foreach(i => f(vocab(ids(i)))))
      }
  }

  private val snapshot = new Snapshot[State](
    Snapshot.store(spark, cgDir, CharKGramIndex.stampDirs(cgDir)),
    () => new State, _ => ())

  /** Drop the snapshot and re-collect NOW (the explicit hammer for
    * eventually consistent listings; routine staleness is caught per
    * call by the version stamp). */
  def refresh(): Unit = snapshot.refresh()

  /** The pattern's matching vocabulary terms, ascending — identical
    * to [[QueryEngine.wildcardTerms]] over the same store. */
  def lookup(pattern: String): Seq[String] = {
    require(pattern.contains("*"), "pattern needs at least one *")
    val st = snapshot.current()
    st.lookup(new WildcardServer.Pattern(pattern, st.k))
  }

  /** Served wildcard RETRIEVAL: expand, re-analyze with the indexing
    * pipeline, score through the held [[PointServer]] — (docno,
    * docid, score) rows equal to [[QueryEngine.wildcardSearch]] on the
    * same index + store. */
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

  /** The gram count of both wildcard servers: `each(f)` calls `f` once
    * per (matched gram row, term) pair — every vocabulary term when
    * `p` has no gram — and the terms holding every gram of `p` that
    * pass its verify come back in UTF-8 order. */
  private[query] def matching(p: Pattern)
      (each: (UTF8String => Unit) => Unit): Seq[String] = {
    val ng = scala.collection.mutable.HashMap.empty[UTF8String, Int]
    each(t => ng(t) = ng.getOrElse(t, 0) + 1)
    ng.iterator.collect { case (t, n) if n == p.grams.size || p.grams.isEmpty => t }
      .filter(t => p.matches(t.toString)).toSeq.sorted.map(_.toString)
  }

  /** The retrieval tail shared by both wildcard servers: re-analyze
    * the expansion with the indexing pipeline and score it through
    * the held [[PointServer]]. */
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
  * hold the vocabulary: no vocabulary dictionary is built, and a
  * lookup runs NO Spark job. Held per snapshot, O(part files) driver
  * state:
  *  - the store's per-file gram RANGES, derived by ONE narrow
  *    gram-column scan per store generation (derived rather than
  *    manifest-read because the chargram table IS its store root and
  *    file surgery maintains it in place — the same on-the-fly
  *    routing [[CharKGramIndex.mergeIntoStore]] uses), held in a
  *    [[Routing.Table]] with its per-file footer row groups.
  * The row groups lookups touch are decoded once and held in the
  * process's [[Routing.Blocks]] cache under its byte budget (a row
  * group over the whole budget streams per read instead); the
  * replaced snapshot's blocks are dropped.
  *
  * Per query: route the pattern's segment grams to their covering
  * part files (driver arithmetic), read on the driver ONLY those
  * files' row groups whose gram min/max covers a gram, and run
  * [[WildcardServer.matching]] (the cached server's gram count) over
  * their rows of those grams —
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
                                 point: Option[PointServer] = None,
                                 blocks: Routing.Blocks = Routing.Blocks.shared) {

  private final class State {
    private val cg = CharKGramIndex.load(spark, cgDir)
    /** Sorted (lo, hi, file) gram ranges — O(files) driver state. */
    private val ranges = Routing.ranges(
      cg.select(col("gram"), input_file_name().as("file"))
        .groupBy(col("file"))
        .agg(min(col("gram")).as("lo"), max(col("gram")).as("hi")),
      Routing.Utf8Key)
    val grams = new Routing.Table(spark, ranges,
      StructType(Seq(cg.schema("gram"), cg.schema("terms"))), Routing.Utf8Key,
      blocks)

    /** Gram length from the range endpoints (grams are fixed-width
      * `$`-padded code-point windows); empty store → the default. */
    val k: Int = ranges.headOption.map(_._1.numChars())
      .getOrElse(WildcardServer.DefaultK)
  }

  private val snapshot = new Snapshot[State](
    Snapshot.store(spark, cgDir, CharKGramIndex.stampDirs(cgDir)),
    () => new State, st => blocks.drop(st.grams))

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
    WildcardServer.matching(p) { f =>
      // terms are copied out of the reused row
      def each(r: InternalRow): Unit = if (!r.isNullAt(1)) {
        val terms = r.getArray(1)
        (0 until terms.numElements()).foreach(i => f(terms.getUTF8String(i).clone()))
      }
      if (grams.isEmpty) st.grams.foreachAll(each) // nothing narrows
      else st.grams.foreach(grams)(each)
    }
  }

  /** Served wildcard RETRIEVAL over the routed lookup — same scoring
    * tail as [[WildcardServer.search]]. */
  def search(pattern: String): Seq[(Long, String, Double)] =
    WildcardServer.retrieve(point, lookup(pattern))
}
