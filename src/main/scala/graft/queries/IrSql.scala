package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Stage.StageOps
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** SQL-subset IR pipeline (SURVEY.md §2.9 Q2–Q10): the reference's
  * index/query dataflow re-expressed relationally over the `documents`
  * table, oracle-checkable in DuckDB.
  *
  * The relational tokenizer here is the declared SQL approximation
  * (lower + collapse non-alnum + split — SURVEY §2.2 "Tag-aware
  * tokenizer" row); the faithful TagTokenizer/stemmer path lives in
  * [[graft.text]] and is exercised by the non-oracle queries and specs.
  *
  * Scale posture: tokens/postings stay NORMALIZED (term, doc_id, tf) —
  * never a giant per-term array except at final presentation — so the
  * groupBys shuffle-partition by term and AQE can split skewed terms
  * (SURVEY §7.1 step 7).
  */
object IrSql {

  /** doc_id < bound subset used by the quadratic-ish demos (bigrams,
    * positional self-join) to keep verify fast; full table elsewhere. */
  private val SubsetBound = 100L

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Relational tokenize: (doc_id, pos, term), pos 1-based over the raw
    * split (empty edge tokens filtered after positioning, matching
    * generate_subscripts semantics in the oracle). */
  def tokens(spark: SparkSession, dir: String,
             bound: Option[Long] = None): DataFrame = {
    val base = docs(spark, dir)
    val lim = bound.fold(base)(b => base.filter(col("doc_id") < b))
    tokensOf(lim)
  }

  /** [[tokens]] over an arbitrary (doc_id, text) frame — the shared
    * tokenize expression, factored so the BM25 store's incremental
    * merge tokenizes a DELTA corpus with byte-identical semantics. */
  private[graft] def tokensOf(df: DataFrame): DataFrame =
    df
      .select(col("doc_id"),
        posexplode(split(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "),
          " ")).as(Seq("pos0", "term")))
      .filter(col("term") =!= "")
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("term"))

  /** Q2: TREC docid extraction semantics (SURVEY §2.1 "TREC record
    * decode") over a corpus synthesized from documents. */
  def q02DocidExtract(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(concat(lit("<DOC> <DOCNO> FT-"), col("doc_id"),
        lit(" </DOCNO> <TEXT> "), col("text"),
        lit(" </TEXT> </DOC>")).as("content"))
      .select(trim(regexp_extract(col("content"), "<DOCNO>(.*?)</DOCNO>", 1))
        .as("docid"))
      .orderBy("docid")

  /** Q3: dense docno assignment (SURVEY §2.4 "sequential numbering").
    * Two-phase scalable numbering (range-partition by key, count per
    * partition, offset by running total — the same pattern as
    * [[graft.corpus.TrecCorpus.docnoMappingScalable]]): output is
    * identical to `row_number() OVER (ORDER BY doc_id)` (the oracle
    * checks that) with NO single-partition window — the reference's
    * single-reducer serial point removed rather than reproduced. Only
    * one long per partition touches the driver. */
  def q03DocnoAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    val sorted = docs(spark, dir).select(col("doc_id")).as[Long]
      .repartitionByRange(p, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // manual Long count: Iterator.size returns Int and would silently
    // wrap past 2^31 rows per partition
    val counts = sorted.mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single(n)
    }.collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val bc = sorted.sparkSession.sparkContext.broadcast(offsets)
    // RDD partition index, not TaskContext.getPartitionId — the task id
    // is rewritten by any downstream coalesce (see docnoMappingScalable)
    val out = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = bc.value(pid)
      it.map { d => n += 1; (d, n) }
    }.toDF("doc_id", "docno")
      // eager checkpoint → the staging cache releases now instead of
      // leaking one copy per invocation (see docnoMappingScalable)
      .stageEager()
    sorted.unpersist()
    out.orderBy("doc_id")
  }

  /** Q4: relational tokenization with positions. */
  def q04Tokenize(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir, Some(SubsetBound)).orderBy("doc_id", "pos")

  /** (term, doc_id, tf) counts — the shared input of every postings /
    * scoring query (q05/q06/q06s/q10/q10b); Catalyst gives the
    * map-side partial agg the reference hand-wired as a combiner. */
  private def termTf(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** One posting as a sortable struct: the negated tf then doc_id key
    * IS the PostingWritable ordering (desc-tf, asc-docno — SURVEY
    * §1.2); `p` carries the rendered `doc:tf` cell. Defined ONCE so
    * the oracle-critical ordering cannot drift between the index
    * variants. */
  private val postingStruct =
    struct((-col("tf")).as("negtf"), col("doc_id").as("d"),
      concat_ws(":", col("doc_id"), col("tf")).as("p"))

  /** Render a collected array of [[postingStruct]]s: sort by the
    * (negtf, d) prefix, join the `p` cells. */
  private def postingsJoin(collected: org.apache.spark.sql.Column) =
    array_join(transform(array_sort(collected), x => x.getField("p")), " ")

  /** Q5: term frequency. */
  def q05TermTf(spark: SparkSession, dir: String): DataFrame =
    termTf(spark, dir).orderBy("term", "doc_id")

  /** Q6: inverted index — df + postings sorted desc-tf, asc-docno
    * (PostingWritable ordering, SURVEY §1.2), presented as a string so
    * the oracle hash-compare is array-free. */
  def q06InvertedIndex(spark: SparkSession, dir: String): DataFrame =
    termTf(spark, dir)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        postingsJoin(collect_list(postingStruct)).as("postings"))
      .orderBy("term")

  /** Q6s: salted two-phase variant of [[q06InvertedIndex]] — postings
    * gathered per (term, doc_id % salt) partial lists, then flattened
    * and sorted per term. IDENTICAL output (the driver runs it against
    * the same oracle SQL as q06), but no pathologically hot term ever
    * funnels its whole postings list through a single aggregation
    * buffer — the skew-safe shape for stop-worded terms at 100 TB
    * (faithful-path twin: `InvertedIndex.nested(salt)`). */
  def q06InvertedIndexSalted(spark: SparkSession, dir: String,
                             salt: Int = 4): DataFrame =
    termTf(spark, dir)
      .groupBy(col("term"), pmod(col("doc_id"), lit(salt)).as("s"))
      .agg(count(lit(1)).as("c"), collect_list(postingStruct).as("ps"))
      .groupBy(col("term"))
      .agg(sum(col("c")).as("df"),
        postingsJoin(flatten(collect_list(col("ps")))).as("postings"))
      .orderBy("term")

  /** Q6b: k=2 word-k-gram inverted index — the reference's headline
    * `TermKGramDocIndexer` capability at k=2 (bigram postings with df
    * and the desc-tf/asc-doc `PostingWritable` ordering), over the
    * SQL-subset tokens bounded like q07. The faithful-pipeline k=2
    * build lives in `InvertedIndex.build(k = 2)` (spec-covered); this
    * is its oracle-checkable relational twin. */
  def q06BigramIndex(spark: SparkSession, dir: String): DataFrame = {
    val tok = tokens(spark, dir, Some(SubsetBound))
    val tf = tok.as("a").join(tok.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.pos") === col("a.pos") + 1)
      .select(col("a.doc_id").as("doc_id"),
        concat_ws(" ", col("a.term"), col("b.term")).as("bigram"))
      .groupBy(col("bigram"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("bigram"))
      .agg(count(lit(1)).as("df"),
        postingsJoin(collect_list(postingStruct)).as("postings"))
      .orderBy("bigram")
  }

  /** Q7: word bigrams via positional self-join (SURVEY §2.2 "word k-gram
    * windows", k=2 expressed relationally; the array-slice form lives in
    * [[graft.index.InvertedIndexBuilder]]). */
  def q07Bigrams(spark: SparkSession, dir: String): DataFrame = {
    val tok = tokens(spark, dir, Some(SubsetBound))
    val a = tok.as("a")
    val b = tok.as("b")
    a.join(b, col("a.doc_id") === col("b.doc_id") &&
        col("b.pos") === col("a.pos") + 1)
      .select(concat_ws(" ", col("a.term"), col("b.term")).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bigram")
  }

  /** Q8: char 3-grams with `$` boundary markers over the distinct
    * vocabulary (CharKGramTermIndexer semantics, SURVEY §2.2). */
  def q08CharGrams(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir)
      .select(col("term")).distinct()
      .withColumn("g", concat(lit("$"), col("term"), lit("$")))
      .select(col("term"),
        explode(transform(sequence(lit(1), length(col("term"))),
          i => col("g").substr(i, lit(3)))).as("gram"))
      .select(col("gram"), col("term")).distinct()
      .orderBy("gram", "term")

  /** Q9: char-gram → sorted distinct term list (canonical semantics per
    * SURVEY §2.10-Q6 decision), string-joined for the oracle. */
  def q09CharGramTerms(spark: SparkSession, dir: String): DataFrame =
    q08CharGrams(spark, dir)
      .groupBy(col("gram"))
      .agg(array_join(array_sort(collect_set(col("term"))), " ").as("terms"))
      .orderBy("gram")

  /** Q2b: TREC-text section parser (SURVEY §2.1 "TREC-text field
    * parser"): keep only the whitelisted sections' content from a
    * synthesized TREC doc. */
  def q02TrecTextFields(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        concat(lit("<DOC> <DOCNO>D"), col("doc_id"),
          lit("</DOCNO> <HEADLINE>h "), col("doc_id"),
          lit("</HEADLINE> <TEXT>"), col("text"),
          lit("</TEXT> <IGNORED>zzz</IGNORED> </DOC>")).as("content"))
      .select(col("doc_id"),
        concat_ws(" ",
          trim(regexp_extract(col("content"), "<HEADLINE>(.*?)</HEADLINE>", 1)),
          trim(regexp_extract(col("content"), "<TEXT>(.*?)</TEXT>", 1)))
          .as("kept"))
      .orderBy("doc_id")

  /** Q2c: TREC-web URL scrub (SURVEY §2.1/2.2 `TrecWebParser.java:37-53`):
    * lowercase, strip `:80` port, trailing `/`, and `#fragment`. */
  def q02UrlScrub(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        concat(lit("HTTP://Example"), col("doc_id"),
          lit(".COM:80/Path/To/"), col("source"),
          lit("/#Frag")).as("url"))
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(col("url")), "#.*$", ""),
            ":80/", "/"),
          "/+$", "").as("scrubbed"))
      .orderBy("doc_id")

  /** Q2e: FULL multi-section TREC-text parse
    * (`TrecTextParser.java:49-94`): synthesize real multi-section docs
    * (headline + ignored section + text with a nested tag line) and run
    * the faithful line-oriented parser — whole kept lines including tag
    * lines, unlisted sections dropped, nested tags surviving. The
    * oracle reconstructs the kept buffer relationally. */
  def q02TrecTextFull(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        graft.corpus.TrecCorpus.parseTrecTextUdf(concat(
          lit("<DOC>\n<DOCNO> TT-"), col("doc_id"),
          lit(" </DOCNO>\n<HEADLINE>\nh "), col("doc_id"),
          lit("\n</HEADLINE>\n<IGNORED>\nzzz\n</IGNORED>\n<TEXT>\n"),
          col("text"),
          lit("\n<INNER>kept</INNER>\n</TEXT>\n</DOC>\n"))).as("p"))
      .select(col("doc_id"), col("p._1").as("docid"),
        col("p._2").as("kept"))
      .orderBy("doc_id")

  /** Q2d: TREC-web metadata map (`TrecWebParser.java:65-96`):
    * synthesize raw trec-web blocks (DOCHDR with a messy URL line —
    * uppercase, `:80` port, trailing `/#`, junk after a space), parse
    * with [[graft.corpus.TrecCorpus.webFields]], and surface the
    * metadata MAP entries plus the body length as scalars the oracle
    * can reconstruct relationally. */
  def q02TrecWebMeta(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        concat(lit("<DOC>\n<DOCNO> WEB-"), col("doc_id"),
          lit(" </DOCNO>\n<DOCHDR>\nHTTP://Example"), col("doc_id"),
          lit(".COM:80/p/"), col("source"),
          lit("/# trailing junk\n</DOCHDR>\nbody "), col("text"),
          lit("\n")).as("value"))
      .select(col("doc_id"),
        graft.corpus.TrecCorpus.webFields(col("value")).as("w"))
      .select(col("doc_id"),
        element_at(col("w.metadata"), "identifier").as("web_docid"),
        element_at(col("w.metadata"), "url").as("url"),
        length(col("w.content")).cast("long").as("n_body"))
      .orderBy("doc_id")

  /** Q9b: relational wildcard lookup — the capability the char-gram
    * index (R4) exists for: grams of the anchored pattern segments →
    * candidate terms containing every gram → LIKE verify. Pattern
    * `st*am` over the SQL-subset vocabulary. */
  def q09Wildcard(spark: SparkSession, dir: String,
                  pattern: String = "st*am"): DataFrame = {
    val k = 3
    val segGrams = s"$$$pattern$$".split("\\*", -1).toSeq
      .flatMap(s => (0 to s.length - k).map(i => s.substring(i, i + k)))
      .distinct
    // a pattern whose anchored segments are ALL shorter than k (e.g.
    // `a*b`) contributes no grams: the candidate set is then the whole
    // vocabulary and the LIKE verify does the filtering alone — an
    // empty gram-intersection would (wrongly) return nothing
    val candidates =
      if (segGrams.isEmpty)
        q08CharGrams(spark, dir).select(col("term")).distinct()
      else
        q08CharGrams(spark, dir)
          .filter(col("gram").isin(segGrams: _*))
          .groupBy(col("term"))
          .agg(count(lit(1)).as("ng"))
          .filter(col("ng") === segGrams.size)
          .select(col("term"))
    candidates
      .filter(col("term").like(pattern.replace("*", "%")))
      .orderBy("term")
  }

  /** Q9c: MULTI-`*` wildcard lookup (`str*ea*m`) — three anchored
    * segments; segments shorter than k contribute no grams and are
    * enforced by the LIKE verify alone. Same gram-intersection plan as
    * [[q09Wildcard]]. */
  def q09WildcardMulti(spark: SparkSession, dir: String): DataFrame =
    q09Wildcard(spark, dir, pattern = "str*ea*m")

  private val cgDeletedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A per-corpus chargram STORE (SQL-subset vocabulary, so the
    * oracle stays pure SQL) with its df sidecar, after the fixed
    * takedown set's docs were DELETED through
    * [[graft.index.CharKGramIndex.deleteDocs]] — the incremental
    * vocabulary recount. */
  private[graft] def cgDeletedStore(spark: SparkSession,
                                    dir: String): String =
    cgDeletedCache.computeIfAbsent(s"${bm25StoreKey(dir)}|cgdel", _ => {
      val o = graft.TempDirs.scratch("graft_cg_del")
      graft.index.CharKGramIndex.write(
        q08CharGrams(spark, dir)
          .groupBy(col("gram"))
          .agg(sort_array(collect_set(col("term"))).as("terms")), o)
      val docTerms = tokens(spark, dir)
        .select(col("doc_id"), col("term")).distinct()
      graft.index.CharKGramIndex.writeVocabDf(spark, o, docTerms)
      graft.index.CharKGramIndex.deleteDocs(spark, o,
        docTerms.filter(pmod(col("doc_id"), lit(DeletedDocsMod)) ===
          lit(DeletedDocsRem)))
      o
    })

  /** Q9d: the wildcard lookup over the surgically-deleted chargram
    * store — oracle-checked against the vocabulary REBUILT from the
    * corpus minus the takedown set (the recount ground truth: a term
    * leaves the lists exactly when its last doc leaves), so the
    * driver gate itself proves incremental delete == recount. */
  def q09WildcardDeleted(spark: SparkSession, dir: String): DataFrame =
    graft.query.QueryEngine.wildcardTerms(
      graft.index.CharKGramIndex.load(spark,
        cgDeletedStore(spark, dir)), "st*am")

  private val cgUpdatedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A per-corpus chargram STORE (SQL-subset vocabulary) with the
    * fixed re-crawl set UPDATED through
    * [[graft.index.CharKGramIndex.updateDocs]] — the one-transaction
    * incremental recount (df −old +new, dead terms leave, born terms
    * enter, op-ledger replay guard). */
  private[graft] def cgUpdatedStore(spark: SparkSession,
                                    dir: String): String =
    cgUpdatedCache.computeIfAbsent(s"${bm25StoreKey(dir)}|cgupd", _ => {
      val o = graft.TempDirs.scratch("graft_cg_upd")
      graft.index.CharKGramIndex.write(
        q08CharGrams(spark, dir)
          .groupBy(col("gram"))
          .agg(sort_array(collect_set(col("term"))).as("terms")), o)
      val docTerms = tokens(spark, dir)
        .select(col("doc_id"), col("term")).distinct()
      graft.index.CharKGramIndex.writeVocabDf(spark, o, docTerms)
      val oldTerms = docTerms
        .filter(pmod(col("doc_id"), lit(UpdatedDocsMod)) ===
          lit(UpdatedDocsRem))
      val newTerms = tokensOf(updatedDocsNew(spark, dir))
        .select(col("doc_id"), col("term")).distinct()
      graft.index.CharKGramIndex.updateDocs(spark, o,
        "q09-upd-fixture", oldTerms, newTerms)
      o
    })

  /** Q9e: the wildcard lookup over the UPDATED chargram store —
    * oracle-checked against the vocabulary rebuilt from the corpus
    * with the re-crawl set's text replaced. The update suffix's
    * `stqzam` matches the pattern and exists ONLY in updated docs, so
    * the gate proves the incremental update ADDS vocabulary (and
    * keeps everything else recount-exact). */
  def q09WildcardUpdated(spark: SparkSession, dir: String): DataFrame =
    graft.query.QueryEngine.wildcardTerms(
      graft.index.CharKGramIndex.load(spark,
        cgUpdatedStore(spark, dir)), "st*am")

  /** Default demo query terms — present in the synthetic vocabulary. */
  val DefaultQueryTerms: Seq[String] = Seq("merge", "stream")

  /** Q10: tf-idf top-10 disjunctive 1–2 term query with INTENDED-df
    * semantics (df = postings length, true division — SURVEY §2.10
    * Q1/Q2 primary mode). N rides the plan as a broadcast scalar, not a
    * driver-side collect. */
  def q10TfIdf(spark: SparkSession, dir: String,
               terms: Seq[String] = DefaultQueryTerms): DataFrame = {
    require(terms.nonEmpty && terms.size <= 2,
      "reference accepts 1-2 word queries (SURVEY §2.2 arity predicate)")
    val tf = termTf(spark, dir).filter(col("term").isin(terms: _*))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))))
    val n = docs(spark, dir).agg(count(lit(1)).as("n"))
    withDf.join(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(round(sum(
        (lit(1.0) + log(col("tf"))) *
          log10(col("n").cast("double") / col("df").cast("double"))), 4)
        .as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** Evaluation query set + binary-relevance rule (tf ≥ [[EvalRelMinTf]])
    * for [[q39IrEval]] — shared with the generated oracle SQL. */
  val EvalQueryTerms: Seq[String] =
    Seq("filter", "hash", "merge", "stream", "table")
  val EvalRelMinTf = 2L

  /** Q39: IR EVALUATION battery — the measurement half an engine user
    * runs beside retrieval: for each evaluation query, rank the corpus
    * by the engine's intended tf-idf and score the top-10 against a
    * deterministic binary qrels set (docs with tf ≥ [[EvalRelMinTf]]
    * for the term), emitting recall@10, MRR and nDCG@10 per query.
    *
    * Shapes: scoring is the [[q10TfIdf]] dataflow generalized to the
    * query SET (one pruned scan, window df, broadcast N); per-query
    * top-10 rides the bounded-heap `graft_topk` aggregate (O(k) state,
    * no window shuffle-and-sort — the oracle's row_number window
    * re-proves the heap a third time); metrics are per-query ≤10-row
    * aggregates; IDCG folds a ≤10-element generated sequence per query
    * row. Everything is query-set-bounded after the one postings scan —
    * the corpus-size-independent serving shape. Scores round 4 dp
    * BEFORE ranking (cross-engine tie stability, the q10 discipline);
    * binary relevance keeps DCG gains exact. */
  def q39IrEval(spark: SparkSession, dir: String,
                k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val tf = termTf(spark, dir)
      .filter(col("term").isin(EvalQueryTerms: _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))))
    val n = docs(spark, dir).agg(count(lit(1)).as("n"))
    val scored = withDf.join(broadcast(n))
      .select(col("term"), col("doc_id"),
        round((lit(1.0) + log(col("tf"))) *
          log10(col("n").cast("double") / col("df").cast("double")), 4)
          .as("score"))
    val top = scored.groupBy(col("term"))
      .agg(graft.functions.GraftFunctions
        .topkBy(col("score"), col("doc_id"), k).as("top"))
      .select(col("term"), posexplode(col("top")))
      .select(col("term"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"))
    val rel = tf.filter(col("tf") >= EvalRelMinTf)
      .select(col("term"), col("doc_id"), lit(1L).as("is_rel"))
    val nrel = rel.groupBy(col("term")).agg(count(lit(1)).as("n_rel"))
    val h = top.join(rel, Seq("term", "doc_id"), "left")
      .na.fill(0L, Seq("is_rel"))
    val perQuery = h.groupBy(col("term"))
      .agg(sum(col("is_rel")).cast("double").as("hits"),
        max(when(col("is_rel") === 1L,
          lit(1.0) / col("rank")).otherwise(lit(0.0))).as("mrr0"),
        sum(col("is_rel").cast("double") /
          log2(col("rank").cast("double") + lit(1.0))).as("dcg"))
    val idcg = aggregate(
      transform(sequence(lit(1L), least(lit(k.toLong), col("n_rel"))),
        i => lit(1.0) / log2(i.cast("double") + lit(1.0))),
      lit(0.0), (a, b) => a + b)
    perQuery.join(nrel, "term")
      .select(col("term"), col("n_rel"),
        round(col("hits") / col("n_rel"), 4).as("recall10"),
        round(col("mrr0"), 4).as("mrr"),
        round(col("dcg") / idcg, 4).as("ndcg10"))
      .orderBy("term")
  }

  /** BM25 constants — referenced by BOTH the Spark plan and the
    * generated oracle SQL so the two cannot drift. */
  val Bm25K1: Double = 1.2
  val Bm25B: Double = 0.75

  /** Q10b: BM25 top-10 for the same 1–2 term disjunctive query — the
    * probabilistic scorer the reference's tf-idf predates (Robertson
    * k1/b form with the Lucene `+1` inside the idf log so scores stay
    * positive). Same normalized dataflow as [[q10TfIdf]]: per-term
    * postings, window df, broadcast corpus stats; per-doc length joins
    * in on doc_id. All constants are interpolated into BOTH engines
    * from the same Scala doubles, and the ≤2-term score sum is a
    * single commutative add — deterministic cross-engine. */
  def q10Bm25(spark: SparkSession, dir: String,
              terms: Seq[String] = DefaultQueryTerms,
              k1: Double = Bm25K1, b: Double = Bm25B): DataFrame = {
    require(terms.nonEmpty && terms.size <= 2,
      "reference accepts 1-2 word queries (SURVEY §2.2 arity predicate)")
    // len feeds the stats aggregate AND the per-doc join; materialize
    // the small per-doc aggregate once instead of tokenizing the
    // corpus a second time for it
    val len = tokens(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = len.agg(sum(col("dl")).as("tt"), count(lit(1)).as("nd"))
    val tf = termTf(spark, dir).filter(col("term").isin(terms: _*))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))))
    withDf.join(len, "doc_id").join(broadcast(stats))
      .select(col("doc_id"),
        (log((col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") /
            (col("tt").cast("double") / col("nd"))))).as("s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** [[q10Bm25]] with the result set RESTRICTED to a survivor id
    * frame (column `doc_id`) BEFORE the top-k — the lexical arm of
    * filtered hybrid retrieval ([[graft.ops.Similarity
    * .hybridRrfFiltered]]). The restriction is a left-semi join at
    * the candidate stage so the top-k can never under-fill; corpus
    * statistics (dl, df, tt, nd) stay GLOBAL — a filter narrows what
    * may be returned, not what the collection is (the standard
    * filtered-retrieval semantics, mirrored in the oracle). */
  private[graft] def q10Bm25Filtered(spark: SparkSession, dir: String,
                                     keep: DataFrame,
                                     terms: Seq[String] =
                                       DefaultQueryTerms,
                                     k1: Double = Bm25K1,
                                     b: Double = Bm25B): DataFrame = {
    require(terms.nonEmpty && terms.size <= 2,
      "reference accepts 1-2 word queries (SURVEY §2.2 arity predicate)")
    val len = tokens(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = len.agg(sum(col("dl")).as("tt"), count(lit(1)).as("nd"))
    val tf = termTf(spark, dir).filter(col("term").isin(terms: _*))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))))
    // restrict AFTER df: the window above must see every posting so
    // term statistics stay collection-global
    withDf.join(keep.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(len, "doc_id").join(broadcast(stats))
      .select(col("doc_id"),
        (log((col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") /
            (col("tt").cast("double") / col("nd"))))).as("s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** Expanded multi-term query for the MaxScore family — the
    * RM3-expanded shape (one discriminative term + a tail of common
    * terms) where bound pruning has real work to do; the 2-term
    * [[q10Bm25]] arity is the reference's interactive client, not the
    * expanded-retrieval batch shape. */
  val ExpandedQueryTerms: Seq[String] =
    Seq("dup", "merge", "stream", "join", "filter", "sort", "window",
      "hash")

  /** Fixed-point scale for the multi-term score sum: per-posting
    * contributions round to 1e-9 before an integer sum, so an 8-term
    * per-doc total is independent of aggregation order on both engines
    * AND between the pruned/unpruned plans (the
    * [[graft.ops.TextAnalysis.DriftScale]] discipline; the 2-term
    * [[q10Bm25]] predates it and keeps its pinned double sum). */
  val Bm25Scale: Double = 1e9

  /** The exact BM25 posting score, from (tf, df, dl, tt, nd) columns —
    * ONE definition shared by the full scorer, the impact-bound
    * builder, and the θ pass, so the pruning-safety arithmetic can
    * never fork from the scoring arithmetic. */
  /** [[bm25S]] at the default constants, exposed for the
    * driver-vs-column arithmetic parity spec. */
  private[graft] def bm25SForSpec: org.apache.spark.sql.Column =
    bm25S(Bm25K1, Bm25B)

  private def bm25S(k1: Double, b: Double): org.apache.spark.sql.Column =
    log((col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
      + lit(1.0)) *
      (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") /
        (col("tt").cast("double") / col("nd"))))

  /** Fixed-point per-doc score aggregation + top-k tail shared by
    * [[q10Bm25Multi]] and [[q10Bm25Pruned]] — identical expression
    * tree ⇒ identical doubles ⇒ the pruned/unpruned parity is exact,
    * not approximate. */
  private def bm25Top(scored: DataFrame, k: Int): DataFrame =
    scored
      .select(col("doc_id"),
        round(bm25S(Bm25K1, Bm25B) * Bm25Scale).cast("long").as("s9"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s9")).cast("double") / Bm25Scale, 4)
        .as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Q10c: FULL multi-term BM25 top-k (no arity cap) — the
    * RM3-expanded batch-retrieval shape and [[q10Bm25Pruned]]'s parity
    * baseline. Scores every posting of every query term: per-term df
    * is a query-bounded aggregate broadcast back in, corpus stats one
    * broadcast row — the only wide shuffle is the per-doc score agg. */
  def q10Bm25Multi(spark: SparkSession, dir: String,
                   terms: Seq[String] = ExpandedQueryTerms,
                   k: Int = 10): DataFrame = {
    val len = tokens(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = len.agg(sum(col("dl")).as("tt"), count(lit(1)).as("nd"))
    val tf = termTf(spark, dir).filter(col("term").isin(terms: _*))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Top(
      tf.join(broadcast(dfs), "term").join(len, "doc_id")
        .join(broadcast(stats)), k)
  }

  /** The fixed query batch for [[q10Bm25Batch]] — an eval-suite
    * shape (qid, terms), shared verbatim with the oracle's VALUES
    * table so the two engines score the same queries. */
  val BatchQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> DefaultQueryTerms,
    2L -> Seq("dup", "data", "table", "scan"),
    3L -> Seq("spark", "query", "group", "column"),
    4L -> ExpandedQueryTerms)

  /** BATCH multi-term BM25 retrieval — the run-the-whole-eval-suite
    * shape (TREC batch retrieval: a topics FILE in, one ranking per
    * topic out) the per-query forms don't cover: score a SET of
    * multi-term queries in ONE pass over the postings. Plan: the
    * (qid, term) table broadcasts into the union-of-terms-pruned
    * postings scan (ONE scan for the whole batch — at 100 TB this is
    * what makes 10k eval queries one job instead of 10k), per-term df
    * and the one-row corpus stats broadcast in as in [[q10Bm25Multi]],
    * per-(qid, doc) sums ride the same 1e-9 fixed-point discipline
    * (aggregation-order-exact across engines), and per-qid top-k is
    * the bounded-heap `graft_topk` (O(k) state per query — no window
    * shuffle-and-sort over the batch's scored space). Scores round
    * BEFORE ranking (the q39 tie-stability discipline). Per query the
    * rankings equal the standalone scorer (qid 4 IS
    * [[ExpandedQueryTerms]] — spec-pinned == q10Bm25Multi). */
  def q10Bm25Batch(spark: SparkSession, dir: String,
                   queries: Seq[(Long, Seq[String])] = BatchQueries,
                   k: Int = 10): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val q = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("qid", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val len = tokens(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .stage()
    val stats = len.agg(sum(col("dl")).as("tt"), count(lit(1)).as("nd"))
    val tf = termTf(spark, dir).filter(col("term").isin(allTerms: _*))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfs), "term").join(len, "doc_id")
      .join(broadcast(stats))
      .join(broadcast(q), "term")
      .select(col("qid"), col("doc_id"),
        round(bm25S(Bm25K1, Bm25B) * Bm25Scale).cast("long").as("s9"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("s9")).cast("double") / Bm25Scale, 4)
        .as("score"))
      .groupBy(col("qid"))
      .agg(graft.functions.GraftFunctions
        .topkBy(col("score"), col("doc_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy("qid", "rank")
  }

  /** [[q10Bm25Batch]] answered from the DURABLE [[writeBm25Stats]]
    * store — the serving twin (never a corpus rescan): postings come
    * from the range-laid store scan (zone maps prune to the batch's
    * term union), doc lengths from `doclen/`, per-term df from the
    * vocab-bounded `stats/` rows, (tt, nd) from the one-row corpus
    * artifact. Output-identical to the corpus form (same arithmetic,
    * same fixed-point sums, same heap — checked against the SAME
    * oracle). */
  def q10Bm25BatchStored(spark: SparkSession, dir: String,
                         queries: Seq[(Long, Seq[String])] = BatchQueries,
                         k: Int = 10): DataFrame =
    q10Bm25BatchAt(spark, bm25StatsStore(spark, dir), queries, k)

  private[graft] def q10Bm25BatchAt(spark: SparkSession, store: String,
                                    queries: Seq[(Long, Seq[String])],
                                    k: Int): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val q = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("qid", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val (tt, nd) = liveCorpusStats(spark, store)
    val tf = livePostings(spark, store)
      .filter(col("term").isin(allTerms: _*))
    // deferred-state stores (lazy deletes / pending updates) carry
    // stale per-term df rows: live-count off the term-pruned scan the
    // batch reads anyway
    val dfs =
      if (!hasPendingBm25State(spark, store))
        spark.read.parquet(s"$store/stats")
          .filter(col("term").isin(allTerms: _*))
          .select(col("term"), col("df"))
      else tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfs), "term")
      .join(liveDoclen(spark, store), "doc_id")
      .withColumn("tt", lit(tt)).withColumn("nd", lit(nd))
      .join(broadcast(q), "term")
      .select(col("qid"), col("doc_id"),
        round(bm25S(Bm25K1, Bm25B) * Bm25Scale).cast("long").as("s9"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("s9")).cast("double") / Bm25Scale, 4)
        .as("score"))
      .groupBy(col("qid"))
      .agg(graft.functions.GraftFunctions
        .topkBy(col("score"), col("doc_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy("qid", "rank")
  }

  /** Every artifact and maintenance-sidecar dir of a
    * [[writeBm25Stats]] store that its serving snapshot reads (the
    * [[graft.index.PostingsStore.stampDirs]] contract). */
  private[graft] def bm25StampDirs(storeDir: String): Seq[String] =
    Seq("postings", "doclen", "stats", "corpus", TombstonesDir,
      LazyTombstonesDir, TombCorpusDir, DocGenDir, SupCorpusDir,
      StatsUpdDir)
      .map(n => s"$storeDir/$n")

  /** INDEX-TIME artifacts for MaxScore retrieval, written as a durable
    * store (the side files a real index carries so query time never
    * rescans the corpus):
    *  - `postings/` (term, doc_id, tf) RANGE-LAID by term (repartition
    *    by range + sorted within partitions ⇒ parquet min/max zone
    *    maps prune non-query terms' row groups — the
    *    [[graft.index.InvertedIndex]] layout discipline),
    *  - `doclen/` (doc_id, dl),
    *  - `corpus/` ONE row (tt, nd) — the only artifact whose values
    *    shift globally on every ingest, so it lives alone,
    *  - `stats/` (term, df, pairs ARRAY<STRUCT<tf, dl>>): pairs = the
    *    PARETO FRONTIER of the term's (tf, dl) postings (keep a pair
    *    iff no other posting has tf' ≥ tf AND dl' ≤ dl). The BM25
    *    posting score is monotone ↑tf ↓dl, so max-over-frontier ==
    *    max-over-all-postings EXACTLY, for ANY (df, tt, nd) — the
    *    per-term impact bound is computed at QUERY time from the
    *    frontier with the corpus stats current then (Lucene's
    *    (freq, norm) impact-pair discipline). That avgdl/N
    *    independence is what makes [[mergeBm25Stats]] sound: a global
    *    stat shift re-prices every bound for free, while untouched
    *    terms' stored rows stay byte-identical.
    * Vocab-bounded stats, corpus-bounded narrow doclen; built once per
    * corpus (session-memoized in [[q10Bm25Pruned]]). Frontier size per
    * term is bounded by the term's distinct tf values (zipf-small in
    * practice); a corpus with adversarial tf spread would quantize dl
    * to a byte first, exactly as Lucene norms do. */
  def writeBm25Stats(spark: SparkSession, dir: String,
                     outDir: String): Unit = {
    val len = tokens(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .stage()
    val tf = termTf(spark, dir).stage()
    // every row carries a doc GENERATION (0 at build): an in-place
    // UPDATE appends the new version at gen+1 and the read view keeps
    // each doc's live gen only ([[updateBm25Docs]]) — constant columns
    // RLE away to nothing in parquet
    tf.withColumn("gen", lit(0L))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$outDir/postings")
    len.withColumn("gen", lit(0L))
      .write.mode("overwrite").parquet(s"$outDir/doclen")
    len.agg(sum(col("dl")).as("tt"), count(lit(1)).as("nd"))
      .write.mode("overwrite").parquet(s"$outDir/corpus")
    val tfl = tf.join(len, "doc_id")
      .select(col("term"), col("tf"), col("dl"))
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .join(paretoPairs(tfl), "term")
      .write.mode("overwrite").parquet(s"$outDir/stats")
    // start (or advance) the O(1) staleness generation (the
    // InvertedIndex.write rationale: rebuilds at a mutated dir)
    graft.StoreGen.bump(new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(outDir))
  }

  /** The per-term (tf, dl) pareto frontier over a (term, tf, dl)
    * posting frame, in CANONICAL form (sorted tf asc — dl is then
    * strictly ascending too, by the dominance rule), so a rebuilt and
    * a merged store produce identical arrays. One window pass per
    * term: sort (tf desc, dl asc), keep a row iff its dl is strictly
    * below every previously seen dl (rows before it are exactly the
    * higher-tf ones plus lower-dl ties, i.e. its potential
    * dominators). Term-partitioned shuffle — the same class as the
    * df aggregate it rides beside. */
  private def paretoPairs(tfl: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("term"))
      .orderBy(col("tf").desc, col("dl").asc)
    tfl
      .withColumn("minPrev", min(col("dl"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("minPrev").isNull || col("dl") < col("minPrev"))
      .groupBy(col("term"))
      .agg(sort_array(collect_list(struct(col("tf"), col("dl"))))
        .as("pairs"))
  }

  /** The exact BM25 posting score as DRIVER arithmetic — the same
    * operations in the same order as the [[bm25S]] column expression,
    * and the same `StrictMath.log` Spark's `log` calls, so the doubles
    * are bit-identical. It prices a stats row's frontier pairs into
    * the per-term impact bound at query time and scores every posting
    * [[graft.query.Bm25Server]] serves. */
  private[graft] def bm25Score(tf: Long, dl: Long, df: Long,
                               tt: Long, nd: Long,
                               k1: Double = Bm25K1,
                               b: Double = Bm25B): Double =
    StrictMath.log((nd - df + 0.5) / (df + 0.5) + 1.0) *
      (tf * (k1 + 1)) /
      (tf + k1 * ((1 - b) + b * dl / (tt.toDouble / nd)))

  /** A store's (tt, nd) corpus row. */
  private[graft] def readCorpusStats(spark: SparkSession,
                                     storeDir: String): (Long, Long) = {
    val r = spark.read.parquet(s"$storeDir/corpus").head()
    (r.getLong(0), r.getLong(1))
  }

  /** One collected stats row: term, df, and the impact bound priced
    * from its frontier pairs under the CURRENT corpus stats. With
    * `dfOverride` (a lazy-deleted store's live counts), the stored df
    * is replaced per term — a term whose live df is 0 drops out — and
    * impacts price the STALE frontier with the LIVE df: the frontier
    * covers a superset of the live postings, so the bound stays an
    * upper bound (MaxScore stays sound, merely less tight). */
  private[graft] def statsRowsFor(spark: SparkSession, storeDir: String,
                                  terms: Seq[String], tt: Long, nd: Long,
                                  dfOverride: Option[Map[String, Long]] =
                                    None): Array[(String, Long, Double)] = {
    val base: Map[String, (Long, Seq[(Long, Long)])] =
      spark.read.parquet(s"$storeDir/stats")
        .filter(col("term").isin(terms: _*))
        .collect().map { r =>
          r.getString(0) -> (r.getLong(1),
            r.getSeq[org.apache.spark.sql.Row](2)
              .map(p => (p.getLong(0), p.getLong(1))))
        }.toMap
    // pending updates: the appended generations' pairs ride in the
    // stats_upd overlay (and a term INTRODUCED by an update has no
    // base row at all — its df comes from the live count the caller
    // passes as dfOverride, which is always set when updates pend)
    val extra = statsUpdPairs(spark, storeDir, Some(terms))
    (base.keySet ++ extra.keySet).toArray.flatMap { term =>
      val (df0, pairs0) =
        base.getOrElse(term, (0L, Seq.empty[(Long, Long)]))
      val df = dfOverride.fold(df0)(_.getOrElse(term, 0L))
      val pairs = pairs0 ++ extra.getOrElse(term, Seq.empty)
      if (df == 0L || pairs.isEmpty) None
      else {
        val impact =
          pairs.map(p => bm25Score(p._1, p._2, df, tt, nd)).max
        Some((term, df, impact))
      }
    }
  }

  /** The stats_upd overlay's per-term frontier pairs (optionally
    * restricted to `terms`), empty when no updates pend. Frontiers
    * over ALL gen>0 postings — a superset of the live appended rows,
    * so `stored pairs ∪ overlay pairs` upper-bounds every live
    * posting of the term (MaxScore stays sound at any pending
    * state). */
  private[graft] def statsUpdPairs(spark: SparkSession, storeDir: String,
                                   terms: Option[Seq[String]] = None)
      : Map[String, Seq[(Long, Long)]] =
    if (!artifactNonEmpty(spark, storeDir, StatsUpdDir)) Map.empty
    else {
      val all = spark.read.parquet(s"$storeDir/$StatsUpdDir")
      terms.fold(all)(ts => all.filter(col("term").isin(ts: _*)))
        .collect().map { r =>
          r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(p => (p.getLong(0), p.getLong(1))).toSeq
        }.toMap
    }

  /** INCREMENTAL MERGE of a delta corpus into a [[writeBm25Stats]]
    * store — the maintenance path an ingest-heavy corpus runs instead
    * of a full rebuild (mirrors [[graft.index.InvertedIndex.merge]]
    * for the postings/doclen/stats/corpus quadruple): tokenize ONLY
    * the delta (the term that dominates a rebuild at corpus scale),
    * APPEND its postings (range-laid and sorted within the new files,
    * so zone maps keep pruning) and doc lengths, bump the one-row
    * corpus stats, and rewrite stats rows for TOUCHED terms only —
    * df adds (delta doc_ids are new, enforced), and the frontier of
    * (old frontier ∪ delta postings) equals the frontier of the full
    * union (dominance is transitive), so merge == rebuild
    * content-identically (spec-pinned). Untouched terms' rows are
    * carried over byte-identical; bounds involving avgdl/N need no
    * recompute because impacts are priced at query time from the
    * frontier ([[writeBm25Stats]]).
    *
    * Crash safety: the two authoritative appends (postings, doclen)
    * COMMIT ATOMICALLY. Both deltas are first STAGED into hidden
    * `_graft_delta_*` dirs (the store proper untouched); only after
    * both staged writes complete is the `_graft_merge_inflight`
    * marker created — the commit point — and the staged part files
    * renamed in. [[recoverBm25Merge]] (run at every
    * merge/compact/repair entry) rolls an uncommitted attempt back
    * (marker absent → delete staged dirs) or completes a committed
    * one (marker present → move any remaining staged files in,
    * rebuild the derived stats/corpus from the authoritative pair,
    * clear the marker). So a crash can never leave postings without
    * their doc lengths (or vice versa), and RETRYING a crashed merge
    * is safe: rollback restores the exact pre-merge store, and the
    * doclen-based disjointness guard below stays sound because
    * postings and doclen only ever land together. Like every store
    * maintenance op, run it behind the serving path's quiesce
    * (a live [[graft.query.Bm25Server]] detects the mutation via its
    * store stamp and refreshes). */
  def mergeBm25Stats(spark: SparkSession, storeDir: String,
                     delta: DataFrame): Unit = {
    recoverBm25Store(spark, storeDir) // finish any crashed swap/merge
    val dTok = tokensOf(delta)
    val dLen = dTok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .stage()
    val dTf = dTok.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf")).stage()
    val oldLen = spark.read.parquet(s"$storeDir/doclen")
    require(dLen.join(oldLen, Seq("doc_id"), "left_semi")
        .limit(1).count() == 0,
      "delta doc_ids must be disjoint from the store's (df would " +
        "double-count a re-ingested doc — dedup upstream)")
    val (dtt, dnd) = {
      val r = dLen.agg(sum(col("dl")), count(lit(1))).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
    }
    if (dnd == 0L) return
    val (tt0, nd0) = readCorpusStats(spark, storeDir)
    // stage BOTH delta appends outside the store proper, then commit
    // atomically: marker, rename the parts in, derive, clear marker
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dpDir = new Path(root, DeltaPostingsDir)
    val dlDir = new Path(root, DeltaDoclenDir)
    dTf.withColumn("gen", lit(0L))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(dpDir.toString)
    dLen.withColumn("gen", lit(0L))
      .write.mode("overwrite").parquet(dlDir.toString)
    fs.create(new Path(root, MergeMarker), false).close() // COMMIT
    moveParts(fs, dpDir, new Path(root, "postings"))
    moveParts(fs, dlDir, new Path(root, "doclen"))
    fs.delete(dpDir, true)
    fs.delete(dlDir, true)
    // touched stats rows: old df + delta df; frontier of the union of
    // the OLD FRONTIER and the delta's postings (== full-union frontier)
    val oldStats = spark.read.parquet(s"$storeDir/stats")
    val deltaDf = dTf.groupBy(col("term")).agg(count(lit(1)).as("df_d"))
    val dTfl = dTf.join(dLen, "doc_id")
      .select(col("term"), col("tf"), col("dl"))
    val oldTouchedPairs = oldStats
      .join(deltaDf.select(col("term")), Seq("term"), "left_semi")
      .select(col("term"), explode(col("pairs")).as("p"))
      .select(col("term"), col("p.tf").as("tf"), col("p.dl").as("dl"))
    val touched = paretoPairs(oldTouchedPairs.unionByName(dTfl))
      .join(deltaDf, "term")
      .join(oldStats.select(col("term"), col("df").as("df_old")),
        Seq("term"), "left")
      .select(col("term"),
        (coalesce(col("df_old"), lit(0L)) + col("df_d")).as("df"),
        col("pairs"))
    val untouched = oldStats
      .join(deltaDf.select(col("term")), Seq("term"), "left_anti")
    swapIn(spark, s"$storeDir/stats",
      untouched.unionByName(
        touched.select(untouched.columns.toIndexedSeq.map(col): _*)))
    swapIn(spark, s"$storeDir/corpus", {
      import spark.implicits._
      Seq((tt0 + dtt, nd0 + dnd)).toDF("tt", "nd")
    })
    fs.delete(new Path(root, MergeMarker), false)
    ()
  }

  /** [[mergeBm25Stats]] staging/commit names (see its crash-safety
    * contract). */
  private val DeltaPostingsDir = "_graft_delta_postings"
  private val DeltaDoclenDir = "_graft_delta_doclen"
  private val MergeMarker = "_graft_merge_inflight"

  /** [[deleteBm25Docs]] artifact/staging/commit names. */
  private val TombstonesDir = "tombstones"
  private val DeleteStaging = "_graft_tomb_new"
  private val DeleteMarker = "_graft_delete_inflight"

  /** [[deleteBm25DocsLazy]] artifact/staging/commit names. The LAZY
    * tombstone set lives in its own dir because its invariant differs
    * from [[TombstonesDir]]'s: exact tombstones are already priced
    * into stats/corpus, lazy ones are NOT — the `tomb_corpus` sidecar
    * (one row: tt_dead, nd_dead over exactly the lazy set) carries
    * the only correction computed at delete time. */
  private val LazyTombstonesDir = "tombstones_lazy"
  private val TombCorpusDir = "tomb_corpus"
  private val LazyDeleteStaging = "_graft_tomb_lazy_new"
  private val LazyDeleteMarker = "_graft_delete_lazy_inflight"

  /** [[updateBm25Docs]] artifact/staging/commit names. `doc_gen` maps
    * each UPDATED doc_id to its live generation (docs never updated
    * stay implicit at gen 0); `sup_corpus` is the one-row (tt, nd)
    * mass of the SUPERSEDED rows (gen < live, not tombstoned) still
    * physical in postings/doclen; `stats_upd` carries the pareto
    * pairs of all gen>0 postings so MaxScore bounds stay sound while
    * per-term stats rows are stale (frontier of a superset). */
  private val DocGenDir = "doc_gen"
  private val SupCorpusDir = "sup_corpus"
  private val StatsUpdDir = "stats_upd"
  private val UpdStageDir = "_graft_upd_stage"
  private val UpdateMarker = "_graft_update_inflight"
  private val CompactMarker = "_graft_compact_inflight"
  // staged DROP sentinels for the revive half of an update: "this
  // artifact's replacement is ITS ABSENCE" (an empty parquet dir
  // cannot say that — the readers treat any parquet file as presence)
  private val DropTombstones = "_drop_tombstones"
  private val DropLazyTombstones = "_drop_tombstones_lazy"
  private val DropTombCorpus = "_drop_tomb_corpus"

  private def artifactNonEmpty(spark: SparkSession, storeDir: String,
                               name: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$storeDir/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p)
      .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  /** The store's (doc_id, gen) live-generation map — present iff
    * UPDATES are pending compaction. Pending-update-sized (only
    * updated docs have rows), so it broadcasts into the read view. */
  private[graft] def readDocGen(spark: SparkSession,
                                storeDir: String): Option[DataFrame] =
    if (artifactNonEmpty(spark, storeDir, DocGenDir))
      Some(spark.read.parquet(s"$storeDir/$DocGenDir")
        .select(col("doc_id"), col("gen")))
    else None

  /** Whether the store has ANY deferred-stats state a read path must
    * correct for: lazy-delete sidecar or pending updates. */
  private[graft] def hasPendingBm25State(spark: SparkSession,
                                         storeDir: String): Boolean =
    artifactNonEmpty(spark, storeDir, TombCorpusDir) ||
      artifactNonEmpty(spark, storeDir, DocGenDir)

  private def readTombsAt(spark: SparkSession, storeDir: String,
                          name: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$storeDir/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p)
        .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
      Some(spark.read.parquet(p.toString).select(col("doc_id")))
    else None
  }

  /** The store's EXACT tombstone set (doc_id rows priced into the
    * derived stats at delete time), if any are pending compaction. */
  private[graft] def readTombs(spark: SparkSession,
                               storeDir: String): Option[DataFrame] =
    readTombsAt(spark, storeDir, TombstonesDir)

  /** The store's LAZY tombstone set ([[deleteBm25DocsLazy]] — derived
    * stats still count these docs; only the sidecar corrects). */
  private[graft] def readLazyTombs(spark: SparkSession,
                                   storeDir: String): Option[DataFrame] =
    readTombsAt(spark, storeDir, LazyTombstonesDir)

  /** Union of both tombstone sets — everything the read view drops. */
  private[graft] def readAllTombs(spark: SparkSession,
                                  storeDir: String): Option[DataFrame] =
    (readTombs(spark, storeDir), readLazyTombs(spark, storeDir)) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b)             => a.orElse(b)
    }

  /** The lazy sidecar's (tt_dead, nd_dead), present iff the store has
    * LAZY deletions pending — the signal that per-term df and the
    * corpus row are STALE and a query path must correct them
    * ([[q10Bm25PrunedAt]] live-counts its query terms' df;
    * [[graft.query.Bm25Server]] live-counts the vocabulary once per
    * snapshot). */
  private[graft] def lazyDeadStats(spark: SparkSession,
                                   storeDir: String): Option[(Long, Long)] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$storeDir/$TombCorpusDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p)
        .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet"))) {
      val r = spark.read.parquet(p.toString).head()
      Some((r.getLong(0), r.getLong(1)))
    } else None
  }

  /** `df` minus tombstoned docs (BOTH sets), keeping only each doc's
    * LIVE generation — the query-time read view of a store with
    * pending deletions/updates. Both correction frames broadcast: a
    * takedown/re-crawl set is request-sized, not corpus-sized
    * (compaction reclaims them; a corpus-scale purge is a rebuild,
    * not a delete). `df` must carry the row-store `gen` column. */
  private[graft] def liveView(spark: SparkSession, storeDir: String,
                              df: DataFrame): DataFrame = {
    val t = readAllTombs(spark, storeDir).fold(df)(tb =>
      df.join(broadcast(tb), Seq("doc_id"), "left_anti"))
    readDocGen(spark, storeDir).fold(t) { dg =>
      t.join(broadcast(dg.select(col("doc_id"),
          col("gen").as("__live_gen"))), Seq("doc_id"), "left")
        .filter(coalesce(col("__live_gen"), lit(0L)) === col("gen"))
        .drop("__live_gen")
    }
  }

  /** `df` minus tombstoned docs only (no generation filter) — the
    * view the CORPUS-row invariant is defined over: `corpus/` counts
    * every physical row except exact-tombstoned ones, superseded
    * generations included (their mass is carried by `sup_corpus`). */
  private def tombFreeView(spark: SparkSession, storeDir: String,
                           df: DataFrame): DataFrame =
    readAllTombs(spark, storeDir).fold(df)(t =>
      df.join(broadcast(t), Seq("doc_id"), "left_anti"))

  /** The store's live postings/doclen with the maintenance `gen`
    * column dropped — what every QUERY path reads. */
  private[graft] def livePostings(spark: SparkSession,
                                  storeDir: String): DataFrame =
    liveView(spark, storeDir,
      spark.read.parquet(s"$storeDir/postings")).drop("gen")

  private[graft] def liveDoclen(spark: SparkSession,
                                storeDir: String): DataFrame =
    liveView(spark, storeDir,
      spark.read.parquet(s"$storeDir/doclen")).drop("gen")

  /** The sup_corpus sidecar's (tt_sup, nd_sup) — the superseded-row
    * mass still physical after updates, present iff updates pend. */
  private[graft] def supCorpusStats(spark: SparkSession,
                                    storeDir: String): Option[(Long, Long)] =
    if (!artifactNonEmpty(spark, storeDir, SupCorpusDir)) None
    else {
      val r = spark.read.parquet(s"$storeDir/$SupCorpusDir").head()
      Some((r.getLong(0), r.getLong(1)))
    }

  /** The LIVE (tt, nd): the stored corpus row corrected by both
    * deferred-state sidecars (lazy-dead mass, superseded-row mass).
    * Exact at every maintenance state — the one (tt, nd) a query may
    * price scores with. */
  private[graft] def liveCorpusStats(spark: SparkSession,
                                     storeDir: String): (Long, Long) = {
    val (tt0, nd0) = readCorpusStats(spark, storeDir)
    val (tt1, nd1) = lazyDeadStats(spark, storeDir)
      .fold((tt0, nd0)) { case (td, ndd) => (tt0 - td, nd0 - ndd) }
    supCorpusStats(spark, storeDir)
      .fold((tt1, nd1)) { case (ts, ns) => (tt1 - ts, nd1 - ns) }
  }

  /** TAKEDOWN-SHAPED DELETION from a [[writeBm25Stats]] store — the
    * inverse of [[mergeBm25Stats]], without a rebuild: doc_ids are
    * TOMBSTONED (postings/doclen rows stay on disk until
    * [[compactBm25Deletes]] reclaims them; every query path reads the
    * store through a tombstone anti-join), while the DERIVED
    * statistics are made EXACT immediately — per-term df and frontier
    * pairs are recomputed for the TOUCHED terms only (the terms the
    * tombstoned docs contain — delta-proportional, the merge
    * discipline inverted), and the one-row corpus stats recomputed
    * from the live doc lengths. Post-delete, every ranking equals a
    * store rebuilt without the docs (spec-pinned + oracle-checked by
    * q10_bm25_deleted): same tf/dl rows, same df, same (tt, nd);
    * frontier pairs of UNtouched terms are unchanged and remain exact
    * (no tombstoned doc contains those terms).
    *
    * Crash safety (the [[mergeBm25Stats]] marker protocol): the new
    * tombstones are staged, the marker is the commit point, and the
    * derived recompute runs from the FULL tombstone set — so replay
    * after a crash is idempotent (no double-subtraction; recovery at
    * every maintenance entry completes a committed delete or rolls an
    * uncommitted one back). Run behind the serving quiesce, as all
    * store maintenance; a live [[graft.query.Bm25Server]] detects the
    * mutation via its store stamp. */
  def deleteBm25Docs(spark: SparkSession, storeDir: String,
                     docs: DataFrame): Unit = {
    recoverBm25Store(spark, storeDir)
    import org.apache.hadoop.fs.Path
    import graft.ops.Stage.StageOps
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val doclen = spark.read.parquet(s"$storeDir/doclen")
    val del0 = docs.select(col("doc_id")).distinct()
      .join(doclen, Seq("doc_id"), "left_semi")
    val del = readAllTombs(spark, storeDir)
      .fold(del0)(t => del0.join(t, Seq("doc_id"), "left_anti"))
      .stage()
    if (del.limit(1).count() == 0 &&
        readLazyTombs(spark, storeDir).isEmpty) return
    if (del.limit(1).count() > 0) {
      del.write.mode("overwrite")
        .parquet(new Path(root, DeleteStaging).toString)
      fs.create(new Path(root, DeleteMarker), false).close() // COMMIT
      moveParts(fs, new Path(root, DeleteStaging),
        new Path(root, TombstonesDir))
      fs.delete(new Path(root, DeleteStaging), true)
    } else {
      // nothing new, but pending LAZY tombstones exist: an eager
      // delete call is a request for exact derived stats — pay the
      // deferred bill now (marker guards the replay)
      fs.create(new Path(root, DeleteMarker), false).close()
    }
    finishBm25Delete(spark, storeDir)
  }

  /** LAZY-STATS TAKEDOWN from a [[writeBm25Stats]] store — the FLAT
    * delete leg: doc_ids are tombstoned into [[LazyTombstonesDir]]
    * and the ONLY derived work at delete time is the one-row
    * `tomb_corpus` sidecar ((tt_dead, nd_dead) over the full lazy
    * set — a broadcast semi-join aggregate over the request-sized
    * tombstones, independent of how many TERMS the dead docs touch).
    * [[deleteBm25Docs]] instead recomputes the touched terms' stats
    * rows at delete time, which on a shared-vocabulary corpus means
    * ~the whole stats table per takedown (the r14 DeleteProf 4.3 s
    * leg); lazy defers exactly that bill to [[compactBm25Deletes]]
    * (or to the next eager delete), where it amortizes across every
    * takedown since the last reclaim.
    *
    * While the sidecar is present, per-term `df` in `stats/` and the
    * `corpus/` row still COUNT the lazy-dead docs. Query paths stay
    * EXACT by correcting at read time: [[q10Bm25PrunedAt]] live-counts
    * df for its query terms off the partition-pruned postings scan it
    * performs anyway, and prices (tt, nd) as corpus − sidecar;
    * [[graft.query.Bm25Server]] live-counts the vocabulary once per
    * snapshot from its cached live relation. MaxScore pruning stays
    * SOUND: stale frontier pairs are a frontier over a SUPERSET of
    * the live postings, so impacts priced from them with the LIVE
    * (df, tt, nd) upper-bound the live maximum.
    *
    * Crash safety mirrors [[deleteBm25Docs]]: staged tombstones, a
    * marker as the commit point, and the sidecar recomputed from the
    * FULL lazy set — replay after a crash is idempotent. Run behind
    * the serving quiesce; a live server detects the mutation via its
    * store stamp (the lazy dirs ride in it). */
  def deleteBm25DocsLazy(spark: SparkSession, storeDir: String,
                         docs: DataFrame): Unit = {
    recoverBm25Store(spark, storeDir)
    import org.apache.hadoop.fs.Path
    import graft.ops.Stage.StageOps
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val doclen = spark.read.parquet(s"$storeDir/doclen")
    val del = readAllTombs(spark, storeDir)
      .foldLeft(docs.select(col("doc_id")).distinct()
        .join(doclen, Seq("doc_id"), "left_semi"))((d, t) =>
        d.join(t, Seq("doc_id"), "left_anti"))
      .stage()
    if (del.limit(1).count() == 0) return
    del.write.mode("overwrite")
      .parquet(new Path(root, LazyDeleteStaging).toString)
    fs.create(new Path(root, LazyDeleteMarker), false).close() // COMMIT
    moveParts(fs, new Path(root, LazyDeleteStaging),
      new Path(root, LazyTombstonesDir))
    fs.delete(new Path(root, LazyDeleteStaging), true)
    finishBm25LazyDelete(spark, storeDir)
  }

  /** Recompute the `tomb_corpus` sidecar from the FULL lazy tombstone
    * set (idempotent — the crash-replay property), then clear the
    * lazy delete marker. */
  private def finishBm25LazyDelete(spark: SparkSession,
                                   storeDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readLazyTombs(spark, storeDir) match {
      case None =>
        fs.delete(new Path(root, LazyDeleteMarker), false)
        ()
      case Some(lt) =>
        // literal ids where takedown-sized: the doc-keyed doclen scan
        // row-group-prunes instead of reading the table through the
        // broadcast join
        val dead = semiByKey(spark.read.parquet(s"$storeDir/doclen"),
            "doc_id", lt)
          .agg(coalesce(sum(col("dl")), lit(0L)).as("tt_dead"),
            count(lit(1)).as("nd_dead"))
        swapIn(spark, s"$storeDir/$TombCorpusDir", dead)
        // a lazy-deleted doc with pending updates leaves the
        // superseded set (its WHOLE multi-gen mass now rides the
        // sidecar above — double-subtraction otherwise)
        recomputeSupCorpus(spark, storeDir)
        fs.delete(new Path(root, LazyDeleteMarker), false)
        ()
    }
  }

  /** Crash recovery for [[deleteBm25DocsLazy]]: marker ABSENT →
    * staged lazy tombstones are an uncommitted attempt, delete them;
    * marker PRESENT → finish (move remaining staged tombstones in,
    * recompute the sidecar from the full lazy set, clear). */
  private[graft] def recoverBm25LazyDelete(spark: SparkSession,
                                           storeDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(root, LazyDeleteMarker))) {
      fs.delete(new Path(root, LazyDeleteStaging), true)
      ()
    } else {
      moveParts(fs, new Path(root, LazyDeleteStaging),
        new Path(root, LazyTombstonesDir))
      fs.delete(new Path(root, LazyDeleteStaging), true)
      finishBm25LazyDelete(spark, storeDir)
    }
  }

  /** Recompute the derived artifacts' TOUCHED region from the full
    * tombstone set — BOTH dirs (idempotent — the crash-replay
    * property), absorb any lazy tombstones into the exact set (their
    * stats are exact once this runs) and drop the sidecar, then clear
    * the delete marker. */
  private def finishBm25Delete(spark: SparkSession,
                               storeDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.ops.Stage.StageOps
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombs = readAllTombs(spark, storeDir).getOrElse {
      fs.delete(new Path(root, DeleteMarker), false); return
    }
    val postings = spark.read.parquet(s"$storeDir/postings")
    val touchedTerms = semiByKey(postings, "doc_id", tombs)
      .select(col("term")).distinct().stage()
    // stats recompute from the FULL live view (tombstones out, live
    // generation only) — exact df/frontier for the touched terms at
    // any pending-update state. The term restriction goes FIRST and
    // as literals where takedown-sized: the postings table is
    // term-ranged, so the scan zone-map-prunes to the touched terms'
    // files instead of reading the table through the join
    val liveLen = liveView(spark, storeDir,
      spark.read.parquet(s"$storeDir/doclen")).stage()
    val livePost = liveView(spark, storeDir,
      semiByKey(postings, "term", touchedTerms))
    val tfl = livePost.join(liveLen, "doc_id")
      .select(col("term"), col("tf"), col("dl"))
    val newTouched = livePost.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .join(paretoPairs(tfl), "term")
    val oldStats = spark.read.parquet(s"$storeDir/stats")
    val untouched = oldStats
      .join(touchedTerms, Seq("term"), "left_anti")
    swapIn(spark, s"$storeDir/stats",
      untouched.unionByName(
        newTouched.select(untouched.columns.toIndexedSeq.map(col): _*)))
    // the corpus row's invariant is TOMBSTONE-free, not gen-live:
    // superseded generations stay counted here (sup_corpus carries
    // their mass until compaction reclaims them)
    swapIn(spark, s"$storeDir/corpus",
      tombFreeView(spark, storeDir,
        spark.read.parquet(s"$storeDir/doclen"))
        .agg(coalesce(sum(col("dl")), lit(0L)).as("tt"),
          count(lit(1)).as("nd")))
    // every tombstone is now priced into the derived stats: lazy
    // tombstones graduate to the exact dir and the sidecar goes (a
    // crash in this tail replays the recompute — still exact)
    moveParts(fs, new Path(root, LazyTombstonesDir),
      new Path(root, TombstonesDir))
    fs.delete(new Path(root, LazyTombstonesDir), true)
    fs.delete(new Path(root, TombCorpusDir), true)
    // newly tombstoned docs leave the superseded set (their whole
    // mass is now priced by the exact corpus recompute above)
    recomputeSupCorpus(spark, storeDir)
    fs.delete(new Path(root, DeleteMarker), false)
    ()
  }

  /** Recompute the `sup_corpus` sidecar from the CURRENT physical
    * doclen + doc_gen + tombstone state (idempotent): the (dl, row)
    * mass of superseded generations of non-tombstoned docs. Dropped
    * when no updates pend. */
  private def recomputeSupCorpus(spark: SparkSession,
                                 storeDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readDocGen(spark, storeDir) match {
      case None =>
        fs.delete(new Path(root, SupCorpusDir), true)
        ()
      case Some(dg) =>
        // only updated docs can hold superseded rows: restrict the
        // scan to their ids first (literal isin under the cap — the
        // doc-keyed doclen layout prunes), then the gen comparison
        val sup = semiByKey(spark.read.parquet(s"$storeDir/doclen"),
            "doc_id", dg.select(col("doc_id")))
          .join(broadcast(dg.select(col("doc_id"),
            col("gen").as("__live_gen"))), Seq("doc_id"))
          .filter(col("gen") < col("__live_gen"))
        val supLive = readAllTombs(spark, storeDir).fold(sup)(t =>
          sup.join(broadcast(t), Seq("doc_id"), "left_anti"))
        swapIn(spark, s"$storeDir/$SupCorpusDir",
          supLive.agg(coalesce(sum(col("dl")), lit(0L)).as("tt_sup"),
            count(lit(1)).as("nd_sup")))
    }
  }

  // NOTE: the stats_upd overlay needs no standalone recompute: the
  // update path maintains it incrementally (staged ABSOLUTE
  // replacement), compaction drops it wholesale, and deletions only
  // shrink true frontiers — the overlay stays an upper-bound-sound
  // superset for MaxScore in between.

  /** Crash recovery for [[deleteBm25Docs]]: marker ABSENT → staged
    * tombstones are an uncommitted attempt, delete them; marker
    * PRESENT → finish the delete (move remaining staged tombstones
    * in, recompute the touched derived region from the full set,
    * clear). */
  private[graft] def recoverBm25Delete(spark: SparkSession,
                                       storeDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(root, DeleteMarker))) {
      fs.delete(new Path(root, DeleteStaging), true)
      ()
    } else {
      moveParts(fs, new Path(root, DeleteStaging),
        new Path(root, TombstonesDir))
      fs.delete(new Path(root, DeleteStaging), true)
      finishBm25Delete(spark, storeDir)
    }
  }

  /** Physically reclaim every pending tombstone AND pending update:
    * SURGICALLY rewrite only the part files holding a dead or
    * superseded row ([[graft.index.StoreSurgery]] — every other part
    * file stays byte-identical, so the reclaim cost follows the
    * takedown/re-crawl FILE footprint, not the table; the r14
    * full-table [[swapIn]] rewrite this replaces cost 0.85× a rebuild
    * at 26×, the file-bounded discipline prices like the
    * positional/inverted stores' 0.35–0.5), pay the deferred stats
    * bills (lazy-delete touched terms via [[finishBm25Delete]];
    * update-touched terms here), fold the appended generations into
    * the base (rewritten rows reset to gen 0), and drop every
    * maintenance sidecar. After this, the plain stored read path is
    * exact with NO query-time correction.
    *
    * Crash safety: a [[CompactMarker]] brackets the pass and
    * [[replayCompact]] re-runs it at the next maintenance entry; each
    * step recomputes from CURRENT physical state (live generations
    * derive from max physical gen, not the droppable doc_gen
    * artifact), so replay from any crash point converges. Run behind
    * the serving quiesce like all store maintenance. */
  def compactBm25Deletes(spark: SparkSession, storeDir: String): Unit = {
    recoverBm25Store(spark, storeDir)
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (readLazyTombs(spark, storeDir).nonEmpty) {
      // the deferred lazy-stats bill comes due HERE: recompute the
      // touched derived region exactly, graduate the lazy tombstones,
      // drop the sidecar (the eager finish does all three; its marker
      // guards the replay)
      fs.create(new Path(root, DeleteMarker), false).close()
      finishBm25Delete(spark, storeDir)
    }
    if (readTombs(spark, storeDir).isEmpty &&
        readDocGen(spark, storeDir).isEmpty) return
    // consume any PREVIOUS pass's committed-reclaim witnesses before
    // this pass's marker exists — a stale sentinel read by this
    // pass's crash replay would skip a reclaim that never ran
    Seq("postings", "doclen").foreach(t => fs.delete(new Path(root,
      s"$t/${graft.index.StoreSurgery.DoneSentinel}"), false))
    fs.create(new Path(root, CompactMarker), false).close()
    // the doc_gen artifact is authoritative here (recovery already
    // ran, no compact was in flight) — only a crash REPLAY needs the
    // physical gen scan
    replayCompact(spark, storeDir, physicalGenScan = false)
  }

  /** Semi-restrict `df` to rows whose `key` is in `keys` — literal
    * `isin` when the key set is takedown-sized (a codegen'd predicate
    * the scan can push), broadcast semi-join otherwise (the
    * [[graft.index.InvertedIndex]] litCap discipline; shared with
    * [[graft.index.StoreSurgery.reclaimWith]]'s probe). */
  private[graft] def semiByKey(df: DataFrame, key: String,
                               keys: DataFrame): DataFrame = {
    val litCap = 10000
    val lits = keys.limit(litCap + 1).collect().map(_.get(0))
    if (lits.length <= litCap)
      df.filter(col(key).isin(lits.toIndexedSeq: _*))
    else df.join(broadcast(keys), Seq(key), "left_semi")
  }

  /** Keep each doc's max-generation row only — PHYSICAL-state
    * liveness, blind to zero-row generations. Legacy fallback ONLY:
    * a pre-r16 crashed compact whose doc_gen artifact is already
    * gone (r16 replays consult doc_gen — a re-crawl to EMPTY text
    * flips the live generation without appending a single physical
    * row, so physical max-gen would resurrect its old content). */
  private def maxGenLive(df: DataFrame): DataFrame = {
    val mx = df.groupBy(col("doc_id")).agg(max(col("gen")).as("__mx"))
    df.join(mx, "doc_id").filter(col("gen") === col("__mx"))
      .drop("__mx")
  }

  /** The per-row liveness rule of one compact pass, branched on
    * where the live-generation truth can live at that point:
    * identity for a table whose surgical reclaim already COMMITTED
    * this pass (rows rewritten to gen 0 — the caller's witness is
    * [[graft.index.StoreSurgery.DoneSentinel]]); else the broadcast
    * `doc_gen` rule (the [[liveView]] discipline — no whole-table
    * aggregation, and exact for zero-row generations); else (no
    * doc_gen left — only a pre-r16 crash can land here) the physical
    * max-gen fold. */
  private def compactGenLive(docGen: Option[DataFrame],
                             tableReclaimed: Boolean)
      (df: DataFrame): DataFrame =
    if (tableReclaimed) df
    else docGen match {
      case Some(dg) =>
        df.join(broadcast(dg.select(col("doc_id"),
            col("gen").as("__live_gen"))), Seq("doc_id"), "left")
          .filter(coalesce(col("__live_gen"), lit(0L)) === col("gen"))
          .drop("__live_gen")
      case None => maxGenLive(df)
    }

  /** One table's surgical-reclaim leg of [[replayCompact]] (factored
    * so the mid-crash spec can land the real "one table reclaimed,
    * the other not" intermediate state): rewrite any file holding a
    * row of `deadIds` to its live remainder — tombstone anti-join,
    * the pass's generation-liveness rule, gen reset to 0 so the
    * doc_gen map can drop. */
  private def compactReclaimLeg(spark: SparkSession, storeDir: String,
                                table: String, deadIds: DataFrame,
                                hasUpd: Boolean,
                                docGen: Option[DataFrame],
                                tombs: Option[DataFrame]): Unit = {
    def liveRows(rows: DataFrame): DataFrame = {
      val kept = tombs.fold(rows)(t =>
        rows.join(broadcast(t), Seq("doc_id"), "left_anti"))
      // delete-only reclaim: every row is already gen 0 — the gen
      // filter would broadcast-join the touched set for nothing
      if (!hasUpd) kept
      else compactGenLive(docGen, tableReclaimed = false)(kept)
        .withColumn("gen", lit(0L))
    }
    val (layoutKey, sortCols) =
      if (table == "postings") ("term", Seq("term", "doc_id"))
      else ("doc_id", Seq("doc_id"))
    graft.index.StoreSurgery.reclaimWith(spark, s"$storeDir/$table",
      "doc_id", deadIds, layoutKey, liveRows, sortCols)
    ()
  }

  /** The [[compactBm25Deletes]] body, idempotent under the
    * [[CompactMarker]]: (1) update-touched stats recompute from the
    * generation-live view, (2) surgical reclaim of dead + superseded
    * rows with gen reset — per table, each replayed by its own
    * committed state, (3) corpus recompute, (4) sidecar drops,
    * marker cleared last.
    *
    * Liveness NEVER runs a whole-table aggregation on the normal
    * path: the broadcast `doc_gen` rule ([[compactGenLive]]) is a
    * broadcast join + filter, and the stats leg semi-restricts
    * postings to the touched terms BEFORE any liveness work (the
    * [[semiByKey]] literal probe row-group-prunes the term-ranged
    * layout). The physical max-gen fold survives only as the legacy
    * replay fallback for a pre-r16 crash with no doc_gen artifact. */
  private[graft] def replayCompact(spark: SparkSession,
                                   storeDir: String,
                                   physicalGenScan: Boolean = true,
                                   crashAfter: Option[String] = None)
      : Unit = {
    import org.apache.hadoop.fs.Path
    import graft.ops.Stage.StageOps
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val post = spark.read.parquet(s"$storeDir/postings")
    val dlen = spark.read.parquet(s"$storeDir/doclen")
    val docGen = readDocGen(spark, storeDir)
    val genIds = docGen.fold {
      import spark.implicits._
      Seq.empty[Long].toDF("doc_id")
    }(_.select(col("doc_id")))
    // the crash replay unions the doc_gen ids into the physical
    // gen>0 scan: a re-crawl to EMPTY text flips doc_gen without
    // appending any physical row, so the physical scan alone would
    // never visit such a doc and its old content would resurrect
    // (doc_gen is only dropped in step 4, after both reclaims)
    val updIds = (if (physicalGenScan)
        post.filter(col("gen") > 0).select(col("doc_id"))
          .unionByName(dlen.filter(col("gen") > 0)
            .select(col("doc_id")))
          .unionByName(genIds)
          .distinct()
      else genIds).stage()
    val tombs = readTombs(spark, storeDir)
    def reclaimed(table: String): Boolean = fs.exists(new Path(root,
      s"$table/${graft.index.StoreSurgery.DoneSentinel}"))
    def tombFree(df: DataFrame): DataFrame =
      tombs.fold(df)(t =>
        df.join(broadcast(t), Seq("doc_id"), "left_anti"))
    val hasUpd = updIds.limit(1).count() > 0
    // 1. the deferred UPDATE stats bill (delete-touched terms were
    //    priced at delete time): exact df + frontier for every term
    //    any pending generation touches — postings restricted to the
    //    touched terms FIRST, then the generation-live view. A
    //    committed reclaim witness on EITHER table proves this step
    //    already committed in the crashed pass (the legs run in
    //    order, stats first) — and its touched-term derivation is
    //    only valid over PRE-reclaim postings, so the replay must
    //    skip it, not re-run it.
    if (hasUpd && !reclaimed("postings") && !reclaimed("doclen")) {
      val touchedTerms = semiByKey(post, "doc_id", updIds)
        .select(col("term")).distinct().stage()
      val livePost = tombFree(compactGenLive(docGen,
        tableReclaimed = false)(semiByKey(post, "term", touchedTerms)))
      val liveLen = tombFree(compactGenLive(docGen,
        tableReclaimed = false)(dlen))
      val tfl = livePost.join(liveLen.select(col("doc_id"), col("dl")),
        "doc_id").select(col("term"), col("tf"), col("dl"))
      val newTouched = livePost.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
        .join(paretoPairs(tfl), "term")
      val oldStats = spark.read.parquet(s"$storeDir/stats")
      val untouched = oldStats
        .join(touchedTerms, Seq("term"), "left_anti")
      swapIn(spark, s"$storeDir/stats",
        untouched.unionByName(newTouched
          .select(untouched.columns.toIndexedSeq.map(col): _*)))
    }
    if (crashAfter.contains("stats")) return // TEST crash simulation
    // 2. surgical reclaim per table, each leg skipped when its
    //    committed-state witness shows this pass already ran it
    val deadIds = tombs.fold(updIds)(t =>
      updIds.unionByName(t.select(col("doc_id"))).distinct()).stage()
    if (deadIds.limit(1).count() > 0)
      Seq("postings", "doclen").foreach { t =>
        if (!reclaimed(t))
          compactReclaimLeg(spark, storeDir, t, deadIds, hasUpd,
            docGen, tombs)
        if (crashAfter.contains(t)) return // TEST crash simulation
      }
    // 3. post-reclaim the physical store IS the live store: the
    //    corpus row recomputes from it (idempotent on replay)
    swapIn(spark, s"$storeDir/corpus",
      spark.read.parquet(s"$storeDir/doclen")
        .agg(coalesce(sum(col("dl")), lit(0L)).as("tt"),
          count(lit(1)).as("nd")))
    // 4. every deferred-state artifact is now folded in; the
    //    reclaim witnesses clear AFTER the marker (a crash in
    //    between is healed by the next compact's pre-marker sweep)
    Seq(TombstonesDir, LazyTombstonesDir, TombCorpusDir, DocGenDir,
      SupCorpusDir, StatsUpdDir)
      .foreach(n => fs.delete(new Path(root, n), true))
    fs.delete(new Path(root, CompactMarker), false)
    Seq("postings", "doclen").foreach(t => fs.delete(new Path(root,
      s"$t/${graft.index.StoreSurgery.DoneSentinel}"), false))
    ()
  }

  /** Move every parquet part file of `from` into `to` — each rename
    * is atomic and part names embed a per-job UUID, so replaying the
    * loop after a crash moves exactly the files the first attempt
    * didn't (a file lives in precisely one of the two dirs). */
  private[graft] def moveParts(fs: org.apache.hadoop.fs.FileSystem,
                        from: org.apache.hadoop.fs.Path,
                        to: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(from)) {
      val parts = fs.listStatus(from)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      parts.foreach { f =>
        renameOrThrow(fs, f.getPath,
          new org.apache.hadoop.fs.Path(to, f.getPath.getName))
      }
      // the store moved: bump the O(1) staleness generation (no-op
      // replays with nothing to move don't — idle recovery passes
      // must not churn live servers' snapshots)
      if (parts.nonEmpty) graft.StoreGen.bump(fs, to.getParent)
    }

  /** Crash recovery for [[mergeBm25Stats]]'s staged-append commit:
    * marker ABSENT → any staged delta dirs are an uncommitted attempt,
    * roll back by deleting them (the store proper was never touched);
    * marker PRESENT → both staged writes completed before the crash,
    * so finish the merge — move remaining staged parts in, rebuild
    * the derived stats/corpus from the authoritative postings+doclen
    * (the crash may have landed anywhere between commit and the final
    * swap), and clear the marker. Safe to call when no merge was in
    * flight. */
  private[graft] def recoverBm25Merge(spark: SparkSession,
                                      storeDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dpDir = new Path(root, DeltaPostingsDir)
    val dlDir = new Path(root, DeltaDoclenDir)
    if (!fs.exists(new Path(root, MergeMarker))) {
      fs.delete(dpDir, true)
      fs.delete(dlDir, true)
      ()
    } else {
      moveParts(fs, dpDir, new Path(root, "postings"))
      moveParts(fs, dlDir, new Path(root, "doclen"))
      fs.delete(dpDir, true)
      fs.delete(dlDir, true)
      rebuildDerived(spark, storeDir)
      fs.delete(new Path(root, MergeMarker), false)
      ()
    }
  }

  /** Rebuild the DERIVED store artifacts (stats/, corpus/) from the
    * authoritative postings/ + doclen/ — the recovery path for a crash
    * between [[mergeBm25Stats]]'s swaps. */
  def repairBm25Stats(spark: SparkSession, storeDir: String): Unit = {
    recoverBm25Store(spark, storeDir) // finish any crashed swap/merge
    rebuildDerived(spark, storeDir)
  }

  private def rebuildDerived(spark: SparkSession,
                             storeDir: String): Unit = {
    // corpus invariant: minus EXACT tombstones only; stats rebuild
    // from the full live view (delete-exact df, live generations).
    // The deferred-state sidecars need no recompute here: a crashed
    // MERGE only appended gen-0 rows, so doc_gen/sup_corpus/stats_upd
    // membership is unchanged
    val rawLen = spark.read.parquet(s"$storeDir/doclen")
    swapIn(spark, s"$storeDir/corpus",
      readTombs(spark, storeDir).fold(rawLen)(et =>
        rawLen.join(broadcast(et), Seq("doc_id"), "left_anti"))
        .agg(coalesce(sum(col("dl")), lit(0L)).as("tt"),
          count(lit(1)).as("nd")))
    val len = liveView(spark, storeDir,
      spark.read.parquet(s"$storeDir/doclen")).stage()
    val tf = liveView(spark, storeDir,
      spark.read.parquet(s"$storeDir/postings")).stage()
    swapIn(spark, s"$storeDir/stats",
      tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .join(paretoPairs(tf.join(len.select(col("doc_id"), col("dl")),
          "doc_id")
          .select(col("term"), col("tf"), col("dl"))), "term"))
  }

  /** Replace a store artifact dir with a freshly-written frame,
    * CRASH-SAFELY (renames only — at every instant the rows live in
    * exactly one complete location):
    *  1. write the replacement into `_graft_new_<name>` (Spark leaves
    *     a `_SUCCESS` marker) — the frame may READ the target, the
    *     write materializes it first,
    *  2. rename `<name>` → `_graft_old_<name>`,
    *  3. rename the replacement in as `<name>`,
    *  4. delete the old dir.
    * [[recoverArtifact]] (run at every merge/compact/repair entry)
    * finishes or rolls back from the markers: renames are atomic, so
    * target and old can only BOTH exist after step 3 (→ finish 4);
    * target absent + complete new → redo 3; target absent +
    * incomplete new → roll the old dir back. */
  private[graft] def swapIn(spark: SparkSession, target: String,
                     df: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val t = new Path(target)
    val fs = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val neu = new Path(t.getParent, s"_graft_new_${t.getName}")
    val old = new Path(t.getParent, s"_graft_old_${t.getName}")
    df.write.mode("overwrite").parquet(neu.toString)
    // a missing target (repairing a wiped artifact) skips step 2 —
    // local-fs rename throws on a missing source instead of no-op'ing
    if (fs.exists(t)) renameOrThrow(fs, t, old)
    renameOrThrow(fs, neu, t)
    fs.delete(old, true)
    graft.StoreGen.bump(fs, t.getParent)
  }

  /** `fs.rename`, failing loudly: some filesystems return false
    * instead of throwing, and a silent false mid-swap lets the next
    * step nest the replacement inside the live artifact, delete the
    * only good copy, or strand committed rows in a staging dir. */
  private[graft] def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem,
                                   from: org.apache.hadoop.fs.Path,
                                   to: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename $from -> $to failed")

  /** Crash recovery for [[swapIn]] on one artifact name (see its
    * protocol). Safe to call when no swap was in flight. */
  private[graft] def recoverArtifact(spark: SparkSession,
                                     storeDir: String,
                                     name: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t = new Path(root, name)
    val neu = new Path(root, s"_graft_new_$name")
    val old = new Path(root, s"_graft_old_$name")
    if (fs.exists(t)) {
      // target present: any leftover old/new dirs are completed or
      // abandoned attempts — the target is authoritative
      fs.delete(old, true)
      fs.delete(neu, true)
      ()
    } else if (fs.exists(old)) {
      if (fs.exists(new Path(neu, "_SUCCESS"))) {
        // crash between steps 2 and 3 with a complete replacement
        renameOrThrow(fs, neu, t)
        fs.delete(old, true)
        // the completed swap is a mutation the O(1) stamp must see
        graft.StoreGen.bump(fs, root)
        ()
      } else {
        // no usable replacement — roll the old artifact back
        fs.delete(neu, true)
        renameOrThrow(fs, old, t)
      }
    }
  }

  /** All swap-managed artifact names of a [[writeBm25Stats]] store
    * (the deferred-state sidecars and the revive-rewritten tombstone
    * sets go through [[swapIn]] too). */
  private val Bm25Artifacts =
    Seq("postings", "doclen", "stats", "corpus", TombCorpusDir,
      TombstonesDir, LazyTombstonesDir, DocGenDir, SupCorpusDir,
      StatsUpdDir)

  /** Crash recovery for [[updateBm25Docs]]'s staged commit: marker
    * ABSENT → the staged payload is an uncommitted attempt, roll back
    * (the store proper was never touched); marker PRESENT → finish
    * consuming the staged payload (absolute values — replay from any
    * point converges). */
  private[graft] def recoverBm25Update(spark: SparkSession,
                                       storeDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(root, UpdateMarker))) {
      fs.delete(new Path(root, UpdStageDir), true)
      ()
    } else finishBm25UpdateStage(spark, storeDir)
  }

  /** Crash recovery for [[compactBm25Deletes]]: marker present →
    * replay the whole idempotent pass. */
  private[graft] def recoverBm25Compact(spark: SparkSession,
                                        storeDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(root, CompactMarker)))
      replayCompact(spark, storeDir)
  }

  /** One-time migration for stores written before rows carried a
    * generation column (pre-r15): stamp gen 0 onto both row tables
    * through crash-safe swaps. Without this, the first update's
    * delta append would create MIXED-schema dirs whose reads either
    * fail to resolve `gen` or silently null-filter every base row.
    * Queries never need it (the gen filter only engages once a
    * doc_gen map exists, which implies migrated tables) — only
    * maintenance entries pay the schema check. */
  private def ensureGenColumns(spark: SparkSession,
                               storeDir: String): Unit = {
    val post = spark.read.parquet(s"$storeDir/postings")
    if (!post.columns.contains("gen"))
      swapIn(spark, s"$storeDir/postings",
        post.withColumn("gen", lit(0L)))
    val dlen = spark.read.parquet(s"$storeDir/doclen")
    if (!dlen.columns.contains("gen"))
      swapIn(spark, s"$storeDir/doclen",
        dlen.withColumn("gen", lit(0L)))
  }

  private def recoverBm25Store(spark: SparkSession,
                               storeDir: String): Unit = {
    Bm25Artifacts.foreach(recoverArtifact(spark, storeDir, _))
    graft.index.StoreSurgery.recover(spark, s"$storeDir/postings")
    graft.index.StoreSurgery.recover(spark, s"$storeDir/doclen")
    ensureGenColumns(spark, storeDir)
    recoverBm25Merge(spark, storeDir)
    recoverBm25Update(spark, storeDir)
    // lazy first, so an in-flight eager delete's replay prices every
    // committed lazy tombstone as well
    recoverBm25LazyDelete(spark, storeDir)
    recoverBm25Delete(spark, storeDir)
    recoverBm25Compact(spark, storeDir)
  }

  /** COMPACT a [[mergeBm25Stats]]-maintained store: every merge
    * appends its delta as new files whose term ranges OVERLAP the
    * base's (each delta is range-laid within itself, not against the
    * base), so after many merges a query-term row-group prune touches
    * every generation's files. When `postings/` exceeds
    * `maxFiles` parquet parts, rewrite it as ONE global
    * range-partitioned sorted layout (the [[writeBm25Stats]] shape —
    * zone maps prune to one file per term again); `doclen/` likewise
    * re-ranges on doc_id past the bound. Row content is untouched
    * (spec: pruned ranking identical pre/post, merge == rebuild
    * equality preserved), and both rewrites go through the
    * crash-safe [[swapIn]] protocol — like every store maintenance
    * op, run it behind the serving path's quiesce; a crash at any
    * point is repaired by the recovery pass at the next
    * merge/compact/repair entry. Returns the number of artifacts
    * rewritten. */
  def compactBm25Store(spark: SparkSession, storeDir: String,
                       maxFiles: Int = 8): Int = {
    import org.apache.hadoop.fs.Path
    recoverBm25Store(spark, storeDir)
    val fs = new Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(name: String): Int =
      fs.listStatus(new Path(storeDir, name))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    var rewritten = 0
    if (parts("postings") > maxFiles) {
      swapIn(spark, s"$storeDir/postings",
        spark.read.parquet(s"$storeDir/postings")
          .repartitionByRange(col("term"))
          .sortWithinPartitions(col("term"), col("doc_id")))
      rewritten += 1
    }
    if (parts("doclen") > maxFiles) {
      swapIn(spark, s"$storeDir/doclen",
        spark.read.parquet(s"$storeDir/doclen")
          .repartitionByRange(col("doc_id")))
      rewritten += 1
    }
    rewritten
  }

  private val bm25StatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Cache key for the per-corpus stats store: the documents table's
    * content stamp ([[graft.StoreStamp]] — file names + sizes +
    * mtimes + footer-tail CRC) rides along with the path, so a
    * corpus rewritten at the same dir builds a FRESH store instead of
    * serving stale index-time statistics (the storeSeedCache lesson —
    * 'built once per corpus' must mean corpus CONTENT, not path). */
  private def bm25StoreKey(dir: String): String =
    s"$dir|${graft.StoreStamp.of(dir, "documents")}"

  /** Safety margin subtracted from θ before the essential split —
    * closes the QUANTIZATION-TIE hole in the exact-parity claim (r11
    * ADVICE): θ and the impacts are unrounded doubles, but published
    * scores quantize per-posting to 1e-9 ([[Bm25Scale]]) and round to
    * 4 decimals, so a doc whose unrounded score sits just under θ can
    * still TIE the k-th kept doc at the 4-decimal level and win the
    * doc_id tiebreak in the unpruned ranking. The margin must exceed
    * the worst rounding gap: 4-dp rounding moves a value by ≤ 5e-5,
    * per-posting quantization by ≤ |terms|·5e-10 — 2e-4 covers both
    * with ~2× headroom, at the cost of (rarely) one extra essential
    * term. With it, every pruned doc's unrounded score is < θ − 2e-4,
    * so its ROUNDED score is strictly below the kept k-th's rounded
    * score — no tie can form. */
  val ThetaEps: Double = 2e-4

  /** The MaxScore essential/non-essential split, as a pure function
    * spec-testable in isolation: given (term, impact) DESCENDING by
    * impact and a score threshold θ, return the ESSENTIAL prefix —
    * the non-essential suffix is the maximal tail whose summed bounds
    * stay strictly below θ − [[ThetaEps]] (a doc containing only those
    * terms scores < θ − ε, so after quantization it can never tie or
    * displace the top-k). θ = -∞ (under-filled θ pass) keeps every
    * term essential — pruning degrades to the full scan, never to a
    * wrong answer. */
  private[graft] def maxScoreEssential(byImpactDesc: Seq[(String, Double)],
                                       theta: Double): Seq[String] = {
    var tailSum = 0.0
    var cut = byImpactDesc.length
    while (cut > 1 && tailSum + byImpactDesc(cut - 1)._2 < theta - ThetaEps) {
      tailSum += byImpactDesc(cut - 1)._2
      cut -= 1
    }
    byImpactDesc.take(cut).map(_._1)
  }

  /** Q10d: MaxScore-PRUNED multi-term BM25 — identical results to
    * [[q10Bm25Multi]] (spec-pinned, same oracle), touching only the
    * postings the bounds cannot exclude. Query time against the
    * [[writeBm25Stats]] store:
    *  1. stats lookup for the query's terms (pushed-down vocab-table
    *     point reads, ≤|terms| rows collected),
    *  2. θ pass: exact single-term scores over the TOP-impact term's
    *     postings only — each is a LOWER bound of that doc's full
    *     score, so the k-th best is a valid threshold,
    *  3. driver-side [[maxScoreEssential]] split (≤|terms| numbers),
    *  4. candidates = docs holding ≥1 essential term; final scoring
    *     re-reads only candidate docs' postings (left-semi) with df
    *     from the stats store — never a corpus rescan.
    * SAFETY: a doc with no essential term scores ≤ Σ(non-essential
    * impacts) < θ ≤ true k-th best, so it cannot displace the top-k;
    * every pruned plan returns the EXACT unpruned ranking. At 100 TB
    * the high-df low-idf terms (the expensive postings lists) are
    * precisely the low-impact ones the split drops. */
  def q10Bm25Pruned(spark: SparkSession, dir: String,
                    terms: Seq[String] = ExpandedQueryTerms,
                    k: Int = 10): DataFrame =
    q10Bm25PrunedAt(spark, bm25StatsStore(spark, dir), terms, k)

  /** [[q10Bm25Pruned]] against an EXPLICIT store dir — the spec hook
    * that proves a [[mergeBm25Stats]]-maintained store serves the
    * exact unpruned ranking. */
  private[graft] def q10Bm25PrunedAt(spark: SparkSession, store: String,
                                     terms: Seq[String],
                                     k: Int): DataFrame = {
    // a LAZY-deleted or pending-UPDATE store's stats/corpus still
    // count dead/superseded rows: correct (tt, nd) from the sidecars
    // and df by live-counting the query terms' postings — the same
    // partition-pruned scan the final scoring re-reads, one tiny
    // extra job only when deferred state is present
    val pending = hasPendingBm25State(spark, store)
    val (tt, nd) = liveCorpusStats(spark, store)
    val dfOverride =
      if (!pending) None
      else Some(livePostings(spark, store)
        .filter(col("term").isin(terms: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val rows = statsRowsFor(spark, store, terms, tt, nd, dfOverride)
      .sortBy { case (t, _, imp) => (-imp, t) }
    if (rows.isEmpty)
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0.0).as("score")).limit(0)
    // pending deletions/updates read through the live view (stats
    // and corpus rows are already exact for EAGER deletes —
    // deleteBm25Docs maintains them at delete time)
    val postings = livePostings(spark, store)
    val doclen = liveDoclen(spark, store)
    val topTerm = rows.head._1
    val thetaRows = postings.filter(col("term") === topTerm)
      .join(doclen, "doc_id")
      .withColumn("df", lit(rows.head._2))
      .withColumn("tt", lit(tt)).withColumn("nd", lit(nd))
      .select(bm25S(Bm25K1, Bm25B).as("s"), col("doc_id"))
      .orderBy(col("s").desc, col("doc_id"))
      .limit(k).collect()
    val theta =
      if (thetaRows.length < k) Double.NegativeInfinity
      else thetaRows.last.getDouble(0)
    val ess =
      maxScoreEssential(rows.map(r => (r._1, r._3)).toSeq, theta)
    val hits = postings.filter(col("term").isin(terms: _*))
    val pruned =
      if (ess.length == terms.length) hits
      else hits.join(
        postings.filter(col("term").isin(ess: _*))
          .select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
    val dfCols = {
      import spark.implicits._
      rows.toSeq.map(r => (r._1, r._2)).toDF("term", "df")
    }
    bm25Top(
      pruned.join(broadcast(dfCols), "term").join(doclen, "doc_id")
        .withColumn("tt", lit(tt)).withColumn("nd", lit(nd)), k)
  }

  /** The session-memoized per-corpus stats store ([[writeBm25Stats]]),
    * keyed on corpus CONTENT ([[bm25StoreKey]]); exposed so a serving
    * node ([[graft.query.Bm25Server]]) holds the same artifact the
    * batch path checks. */
  private[graft] def bm25StatsStore(spark: SparkSession,
                                    dir: String): String =
    bm25StatsCache.computeIfAbsent(bm25StoreKey(dir), _ => {
      val o = graft.TempDirs.scratch("graft_bm25_stats")
      writeBm25Stats(spark, dir, o)
      o
    })

  /** The fixed takedown set of the deletion entries — shared with the
    * oracles (DuckDB `doc_id % mod = rem`) so the two engines delete
    * the same docs. */
  val DeletedDocsMod: Long = 13L
  val DeletedDocsRem: Long = 5L

  /** The deletion entries' doc_id frame over a corpus dir. */
  private[graft] def deletedDocIds(spark: SparkSession,
                                   dir: String): DataFrame =
    docs(spark, dir)
      .filter(pmod(col("doc_id"), lit(DeletedDocsMod)) ===
        lit(DeletedDocsRem))
      .select(col("doc_id"))

  private val bm25DeletedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A per-corpus scratch store with the fixed takedown set DELETED
    * (tombstones pending — NOT compacted, so the entry exercises the
    * query-time anti-join and the delete-exact derived stats). */
  private[graft] def bm25DeletedStore(spark: SparkSession,
                                      dir: String): String =
    bm25DeletedCache.computeIfAbsent(s"${bm25StoreKey(dir)}|del", _ => {
      val o = graft.TempDirs.scratch("graft_bm25_del")
      writeBm25Stats(spark, dir, o)
      deleteBm25Docs(spark, o, deletedDocIds(spark, dir))
      o
    })

  /** Q10g: the MaxScore-pruned ranking over a store with PENDING
    * DELETIONS — oracle-checked against full BM25 recomputed over the
    * corpus WITHOUT the deleted docs, so the driver gate proves
    * tombstoned retrieval == rebuild-without-docs (df, tt, nd, and
    * the candidate set all delete-exact). */
  def q10Bm25Deleted(spark: SparkSession, dir: String,
                     terms: Seq[String] = ExpandedQueryTerms,
                     k: Int = 10): DataFrame =
    q10Bm25PrunedAt(spark, bm25DeletedStore(spark, dir), terms, k)

  /** A per-corpus scratch store with the fixed takedown set deleted
    * LAZILY ([[deleteBm25DocsLazy]] — sidecar present, stats/corpus
    * stale on disk, so the entry exercises the query-time df/corpus
    * correction). */
  private[graft] def bm25LazyDeletedStore(spark: SparkSession,
                                          dir: String): String =
    bm25DeletedCache.computeIfAbsent(s"${bm25StoreKey(dir)}|lazy", _ => {
      val o = graft.TempDirs.scratch("graft_bm25_ldel")
      writeBm25Stats(spark, dir, o)
      deleteBm25DocsLazy(spark, o, deletedDocIds(spark, dir))
      o
    })

  /** Q10h: the MaxScore-pruned ranking over a LAZY-deleted store —
    * same reduced-corpus oracle as [[q10Bm25Deleted]], so the driver
    * gate proves the deferred-stats read path (live df for the query
    * terms, sidecar-corrected (tt, nd), superset frontiers) equals
    * rebuild-without-docs exactly. */
  def q10Bm25DeletedLazy(spark: SparkSession, dir: String,
                         terms: Seq[String] = ExpandedQueryTerms,
                         k: Int = 10): DataFrame =
    q10Bm25PrunedAt(spark, bm25LazyDeletedStore(spark, dir), terms, k)

  /** Q10i: lazy-deleted then COMPACTED — [[compactBm25Deletes]] pays
    * the deferred stats bill (touched-term recompute, sidecar drop,
    * physical reclaim), after which the plain stored read path must
    * already be exact with NO query-time correction. Same oracle. */
  def q10Bm25DeletedLazyCompacted(spark: SparkSession, dir: String,
                                  terms: Seq[String] = ExpandedQueryTerms,
                                  k: Int = 10): DataFrame = {
    val store = bm25DeletedCache.computeIfAbsent(
      s"${bm25StoreKey(dir)}|lazyc", _ => {
        val o = graft.TempDirs.scratch("graft_bm25_ldelc")
        writeBm25Stats(spark, dir, o)
        deleteBm25DocsLazy(spark, o, deletedDocIds(spark, dir))
        compactBm25Deletes(spark, o)
        o
      })
    q10Bm25PrunedAt(spark, store, terms, k)
  }

  /** Q10j: RE-CRAWL TO EMPTY — every doc of the fixed takedown set
    * is UPDATED with text that tokenizes to ZERO tokens (the
    * blank-page re-crawl: `doc_gen` flips with no physical row
    * appended — the one update shape where liveness cannot be read
    * off physical generations) and the store then COMPACTS. For BM25
    * an empty doc is indistinguishable from an absent one, so the
    * oracle is q10_bm25_deleted's reduced-corpus recompute: the
    * driver gate pins that neither the pending-read path nor the
    * compaction resurrects the old content (the zero-row-generation
    * bug class Bm25GenUpdateSpec covers at the protocol level). */
  def q10Bm25Emptied(spark: SparkSession, dir: String,
                     terms: Seq[String] = ExpandedQueryTerms,
                     k: Int = 10): DataFrame = {
    val store = bm25DeletedCache.computeIfAbsent(
      s"${bm25StoreKey(dir)}|emptied", _ => {
        val o = graft.TempDirs.scratch("graft_bm25_empt")
        writeBm25Stats(spark, dir, o)
        updateBm25Docs(spark, o,
          deletedDocIds(spark, dir)
            .select(col("doc_id"), lit("... !!!").as("text")))
        compactBm25Deletes(spark, o)
        o
      })
    q10Bm25PrunedAt(spark, store, terms, k)
  }

  // ---- UPDATE (re-ingest / re-crawl) -----------------------------

  /** The fixed RE-CRAWL set of the update entries — shared with the
    * oracles (DuckDB `doc_id % mod = rem`) so both engines update the
    * same docs. Chosen co-prime with [[DeletedDocsMod]]: the two
    * fixture sets overlap on some docs without being nested. */
  val UpdatedDocsMod: Long = 17L
  val UpdatedDocsRem: Long = 3L

  /** What a re-crawled doc gains: one more occurrence of the q36
    * phrase (positional answers must move), a vocabulary term
    * matching the q09 `st*am` wildcard that exists ONLY in updated
    * docs (the chargram recount must ADD vocabulary), and two
    * [[ExpandedQueryTerms]] members (per-term df/tf shift, so the
    * BM25 oracle exercises the stats maintenance, not just doclen). */
  val UpdateSuffix: String = " agg hash window stqzam"

  /** The update set's NEW versions, (doc_id, text). */
  private[graft] def updatedDocsNew(spark: SparkSession,
                                    dir: String): DataFrame =
    docs(spark, dir)
      .filter(pmod(col("doc_id"), lit(UpdatedDocsMod)) ===
        lit(UpdatedDocsRem))
      .select(col("doc_id"),
        concat(col("text"), lit(UpdateSuffix)).as("text"))

  /** UPDATE a [[writeBm25Stats]] store in place: replace each of
    * `newDocs`' doc_ids with its new text — the re-crawl write path,
    * GENERATION-VERSIONED (r15; the r14 form was delete → full-table
    * reclaim → merge, which rewrote the whole store per call — the
    * one maintenance path that priced at-or-above a rebuild at 26×):
    * the new versions APPEND as (doc_id, gen+1) rows beside the old
    * ones, the `doc_gen` map flips each doc's live generation, and
    * every read path keeps only live-gen rows ([[liveView]]) with
    * (tt, nd) corrected from `sup_corpus` ([[liveCorpusStats]]),
    * per-term df live-counted ([[q10Bm25PrunedAt]],
    * [[graft.query.Bm25Server]]) and MaxScore frontiers extended by
    * the `stats_upd` overlay ([[statsRowsFor]]) — so an uncompacted
    * updated store already serves EXACTLY the
    * rebuild-over-updated-corpus answers (oracle q10_bm25_updated).
    * [[compactBm25Deletes]] later folds the generations back to a
    * plain store (surgical touched-file rewrite, stats bill paid
    * once, amortized over every update since the last pass) — the
    * IVF store's tombstone→append→compact shape.
    *
    * Per-call cost: tokenize the delta, append two takedown-sized
    * file sets, and swap in four derived replacements computed from
    * BATCH-sized inputs only (the previous generation's rows read
    * through a literal-pruned doclen scan; everything else from the
    * request and the old one-row/overlay artifacts) — no store
    * rewrite, no touched-term recompute, no stats-table rewrite, no
    * full-table scan of any kind: at 100 TB even a "narrow doclen
    * scan" is corpus-sized, so the derive step must follow the batch.
    *
    * Docs ABSENT from the store insert (upsert: gen 1 with no prior
    * rows). Docs currently TOMBSTONED revive (an update of a deleted
    * doc is the re-add path): they leave the tombstone sets and only
    * their new generation serves.
    *
    * Crash safety: the WHOLE payload — both deltas AND the four
    * derived replacements as ABSOLUTE values — stages under
    * [[UpdStageDir]] before the [[UpdateMarker]] commit point;
    * [[finishBm25UpdateStage]] then moves the deltas in and swaps the
    * replacements wholesale. Because the staged derived values are
    * absolute (not increments), replaying the finish from any crash
    * point converges — consumed pieces are simply absent. Re-driving
    * the SAME request appends another identical generation: rankings
    * unchanged, compaction folds to the identical store
    * (spec-pinned). Run behind the serving quiesce; live servers
    * detect the mutation via their stamps. */
  def updateBm25Docs(spark: SparkSession, storeDir: String,
                     newDocs: DataFrame): Unit = {
    recoverBm25Store(spark, storeDir)
    import org.apache.hadoop.fs.Path
    import graft.ops.Stage.StageOps
    import spark.implicits._
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val neu = newDocs
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .stage()
    if (neu.limit(1).count() == 0) return
    val dTok = tokensOf(neu)
    val dTf = dTok.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf")).stage()
    // doc length FROM the tf table (dl = Σ tf — the same token count
    // by definition): one tokenize pass feeds both deltas instead of
    // two independent aggregations over dTok (guide §1.2; r17 — the
    // per-trigger job count is what the update STREAM pays for)
    val dLen = dTf.groupBy(col("doc_id"))
      .agg(coalesce(sum(col("tf")), lit(0L)).as("dl")).stage()
    // next generation per doc = live gen + 1 (absent → 0 → insert
    // lands at gen 1); the map is pending-update-sized → broadcast.
    // baseGen / reqIds are deliberately UN-staged (r17): both are
    // tiny (pending-map / request-sized) and re-derive from a footer
    // read or the neu checkpoint per consumer — a localCheckpoint
    // would cost a planning pass + a materialization job each, more
    // than the re-reads it saves.
    val baseGen = readDocGen(spark, storeDir).getOrElse(
      Seq.empty[(Long, Long)].toDF("doc_id", "gen"))
    val gens = neu.select(col("doc_id")).distinct()
      .join(baseGen.select(col("doc_id"), col("gen").as("__g")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("__g"), lit(0L)) + lit(1L)).as("gen"))
      .stage()
    val stage = new Path(root, UpdStageDir)
    fs.delete(stage, true)
    val reqIds = neu.select(col("doc_id")).distinct()
    val dlenTable = spark.read.parquet(s"$storeDir/doclen")
    def massOf(ids: DataFrame): (Long, Long) = {
      val r = semiByKey(dlenTable, "doc_id", ids)
        .agg(coalesce(sum(col("dl")), lit(0L)), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    // ---- the REVIVE half, computed pre-commit without mutating:
    // batch docs currently TOMBSTONED re-add — the new tombstone
    // sets, the lazy sidecar and the corpus/sup corrections all
    // stage as ABSOLUTE values and land only under the marker (a
    // pre-marker revive would resurrect a taken-down doc's OLD
    // content if the update crashed before committing)
    val exactT = readTombs(spark, storeDir)
    val lazyT = readLazyTombs(spark, storeDir)
    def revivedOf(t: Option[DataFrame]): Option[DataFrame] =
      t.map(_.join(broadcast(reqIds), Seq("doc_id"), "left_semi")
        .stage())
        .filter(_.limit(1).count() > 0)
    val revivedExact = revivedOf(exactT)
    val revivedLazy = revivedOf(lazyT)
    def stageRest(t: DataFrame, name: String,
                  dropMarker: String): Unit = {
      val rest = t.join(broadcast(reqIds), Seq("doc_id"), "left_anti")
        .stage()
      if (rest.limit(1).count() == 0)
        fs.create(new Path(stage, dropMarker), false).close()
      else rest.coalesce(1).write
        .parquet(new Path(stage, name).toString)
    }
    revivedExact.foreach(_ =>
      stageRest(exactT.get, TombstonesDir, DropTombstones))
    revivedLazy.foreach { _ =>
      stageRest(lazyT.get, LazyTombstonesDir, DropLazyTombstones)
      val rest = lazyT.get
        .join(broadcast(reqIds), Seq("doc_id"), "left_anti")
      val (rt, rn) = massOf(rest)
      if (rn == 0L)
        fs.create(new Path(stage, DropTombCorpus), false).close()
      else Seq((rt, rn)).toDF("tt_dead", "nd_dead")
        .coalesce(1).write
        .parquet(new Path(stage, TombCorpusDir).toString)
    }
    // ---- the stage build's INDEPENDENT actions overlap (guide §2.6
    // — actions are only sequential because driver code calls them
    // sequentially): the two delta writes, the doc_gen replacement,
    // the overlay rewrite and the fused mass aggregate share no data
    // dependency, so they run as concurrent jobs and the trigger pays
    // max(job) instead of Σ(job); only the two one-row sidecar writes
    // wait on the mass values. Each job's rows are byte-identical to
    // the sequential form — this reorders ACTIONS, not data. The
    // first concurrent reader of a shared staged frame materializes
    // it; the rest block on the block locks (Spark cache semantics).
    val (ret, ren) = revivedExact.fold((0L, 0L))(massOf)
    // sup_corpus: the NON-revived batch docs' current live rows
    // become superseded when the generation flips; a REVIVED doc
    // contributes its WHOLE physical mass (every gen it has is below
    // the incoming one, and nothing tombstones it anymore)
    val revivedIds = (revivedExact, revivedLazy) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b)             => a.orElse(b)
    }
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    val group = s"graft-bm25-stage-${java.util.UUID.randomUUID()}"
    def job(body: => Unit): () => Unit = () => {
      sc.setJobGroup(group, "bm25 update staging")
      try body finally sc.clearJobGroup()
    }
    // the two authoritative deltas
    val fPostings = job {
      dTf.join(broadcast(gens), "doc_id")
        .select(col("term"), col("doc_id"), col("tf"), col("gen"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.parquet(new Path(stage, "postings").toString)
    }
    val fDoclen = job {
      dLen.join(broadcast(gens), "doc_id")
        .select(col("doc_id"), col("dl"), col("gen"))
        .write.parquet(new Path(stage, "doclen").toString)
    }
    // doc_gen: carried map with the batch's rows flipped to the new
    // generation
    val fDocGen = job {
      baseGen.join(gens.select(col("doc_id")), Seq("doc_id"),
          "left_anti")
        .unionByName(gens)
        .coalesce(1).write.parquet(new Path(stage, DocGenDir).toString)
    }
    // stats_upd: the delta terms' frontiers merge the old overlay
    // pairs with the new rows' (tf, dl); untouched overlay rows carry
    val fOverlay = job {
      val deltaTfl = dTf.join(dLen, "doc_id")
        .select(col("term"), col("tf"), col("dl"))
      val newOverlay =
        if (!artifactNonEmpty(spark, storeDir, StatsUpdDir))
          paretoPairs(deltaTfl)
        else {
          val oldUpd = spark.read.parquet(s"$storeDir/$StatsUpdDir")
          val touched = dTf.select(col("term")).distinct()
          val oldTouched = oldUpd
            .join(touched, Seq("term"), "left_semi")
            .select(col("term"), explode(col("pairs")).as("p"))
            .select(col("term"), col("p.tf").as("tf"),
              col("p.dl").as("dl"))
          val untouched = oldUpd.join(touched, Seq("term"), "left_anti")
          untouched.unionByName(
            paretoPairs(oldTouched.unionByName(deltaTfl))
              .select(untouched.columns.toIndexedSeq.map(col): _*))
        }
      newOverlay.write.parquet(new Path(stage, StatsUpdDir).toString)
    }
    // the delta mass (corpus replacement) and the superseded batch
    // mass (sup_corpus replacement) are two one-row aggregates over
    // independent inputs, fused into ONE job via a cross join of the
    // two one-row frames (r16 shape had one head() each); the two
    // one-row sidecar writes chain off it
    val fSidecars = job {
      val dAgg = dLen.agg(
        coalesce(sum(col("dl")), lit(0L)).as("dtt"),
        count(lit(1)).as("dnd"))
      val batchRows = semiByKey(dlenTable, "doc_id", reqIds)
        .join(broadcast(baseGen.select(col("doc_id"),
          col("gen").as("__lg"))), Seq("doc_id"), "left")
      val keep = revivedIds.fold(
          batchRows.filter(coalesce(col("__lg"), lit(0L)) ===
            col("gen")))(rv =>
          batchRows.join(broadcast(rv), Seq("doc_id"), "left_anti")
            .filter(coalesce(col("__lg"), lit(0L)) === col("gen"))
            .unionByName(batchRows.join(broadcast(rv), Seq("doc_id"),
              "left_semi")))
      val bAgg = keep.agg(coalesce(sum(col("dl")), lit(0L)).as("bt"),
        count(lit(1)).as("bn"))
      val r = dAgg.crossJoin(bAgg).head()
      val (dtt, dnd, bt, bn) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      // corpus (physical minus EXACT tombs): grows by the appended
      // rows plus the full physical mass of exact-revived docs (their
      // rows re-enter the moment the tombstone set swaps)
      val (tt0, nd0) = readCorpusStats(spark, storeDir)
      Seq((tt0 + ret + dtt, nd0 + ren + dnd)).toDF("tt", "nd")
        .coalesce(1).write.parquet(new Path(stage, "corpus").toString)
      val (st0, sn0) = supCorpusStats(spark, storeDir).getOrElse((0L, 0L))
      Seq((st0 + bt, sn0 + bn)).toDF("tt_sup", "nd_sup")
        .coalesce(1).write
        .parquet(new Path(stage, SupCorpusDir).toString)
    }
    awaitSettled(Seq(fPostings, fDoclen, fDocGen, fOverlay, fSidecars),
      1800.seconds, () => sc.cancelJobGroup(group))(stageEc)
    fs.create(new Path(root, UpdateMarker), false).close() // COMMIT
    finishBm25UpdateStage(spark, storeDir)
  }

  /** Run independent thunks concurrently and wait for all of them.
    * When one fails or `timeout` passes, `cancel` runs (the caller's
    * job-group cancel) and EVERY thunk is awaited until it has settled
    * before the first failure is rethrown — so no staging writer is
    * still running when the caller's recovery or retry touches its
    * output. */
  private[graft] def awaitSettled(thunks: Seq[() => Unit],
                                  timeout: scala.concurrent.duration.Duration,
                                  cancel: () => Unit)(
      implicit ec: scala.concurrent.ExecutionContext): Unit = {
    import scala.concurrent.{Await, Future}
    val fs = thunks.map(t => Future(t()))
    try { Await.result(Future.sequence(fs), timeout); () }
    catch {
      case e: Throwable =>
        cancel()
        fs.foreach(f => Await.ready(f,
          scala.concurrent.duration.Duration.Inf))
        throw e
    }
  }

  /** Small daemon pool for overlapping a store mutation's independent
    * per-call actions (guide §2.6): jobs submitted concurrently
    * back-fill the FIFO scheduler instead of paying each tiny job's
    * fixed latency in sequence. */
  private lazy val stageEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(5,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-stage-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        }))

  /** Consume the staged update payload (idempotent — the
    * [[UpdateMarker]] replay path): move the two deltas' parts into
    * the authoritative tables, swap each staged derived replacement
    * in WHOLESALE (absent staged dir = already consumed by an earlier
    * attempt), bump the staleness generation, clear the marker. */
  private def finishBm25UpdateStage(spark: SparkSession,
                                    storeDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(root, UpdStageDir)
    // the revive half first: tombstone-set replacements or drops (a
    // drop sentinel in the stage means "the replacement is absence")
    def swapOrDrop(name: String, dropMarker: String): Unit = {
      if (fs.exists(new Path(stage, dropMarker))) {
        fs.delete(new Path(root, name), true)
        ()
      } else {
        val s = new Path(stage, name)
        if (fs.exists(s)) {
          fs.delete(new Path(root, name), true)
          require(fs.rename(s, new Path(root, name)),
            s"rename $s -> $root/$name failed mid-update-finish")
        }
      }
    }
    swapOrDrop(TombstonesDir, DropTombstones)
    swapOrDrop(LazyTombstonesDir, DropLazyTombstones)
    swapOrDrop(TombCorpusDir, DropTombCorpus)
    moveParts(fs, new Path(stage, "postings"),
      new Path(root, "postings"))
    moveParts(fs, new Path(stage, "doclen"), new Path(root, "doclen"))
    Seq(DocGenDir, "corpus", SupCorpusDir, StatsUpdDir).foreach { n =>
      val s = new Path(stage, n)
      if (fs.exists(s)) {
        fs.delete(new Path(root, n), true)
        require(fs.rename(s, new Path(root, n)),
          s"rename $s -> $root/$n failed mid-update-finish")
      }
    }
    fs.delete(stage, true)
    graft.StoreGen.bump(fs, root)
    fs.delete(new Path(root, UpdateMarker), false)
    ()
  }

  private val bm25UpdatedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A per-corpus scratch store with the fixed re-crawl set UPDATED
    * in place through [[updateBm25Docs]]. */
  private[graft] def bm25UpdatedStore(spark: SparkSession,
                                      dir: String): String =
    bm25UpdatedCache.computeIfAbsent(s"${bm25StoreKey(dir)}|upd", _ => {
      val o = graft.TempDirs.scratch("graft_bm25_upd")
      writeBm25Stats(spark, dir, o)
      updateBm25Docs(spark, o, updatedDocsNew(spark, dir))
      o
    })

  /** Q10j: the MaxScore-pruned ranking over an UPDATED store — the
    * oracle recomputes BM25 over the corpus with the re-crawl set's
    * text replaced, so the driver gate proves update-in-place ==
    * rebuild-over-updated-corpus. The store is UNCOMPACTED (pending
    * generations on disk), so this entry exercises the whole
    * deferred-read machinery: gen-filtered live view, sidecar (tt,
    * nd), live df, overlay frontiers. */
  def q10Bm25Updated(spark: SparkSession, dir: String,
                     terms: Seq[String] = ExpandedQueryTerms,
                     k: Int = 10): DataFrame =
    q10Bm25PrunedAt(spark, bm25UpdatedStore(spark, dir), terms, k)

  /** Q10k: updated then COMPACTED — [[compactBm25Deletes]] folds the
    * pending generations (surgical reclaim, deferred stats bill,
    * sidecars dropped), after which the PLAIN stored read path must
    * already be exact with no query-time correction. Same oracle. */
  def q10Bm25UpdatedCompacted(spark: SparkSession, dir: String,
                              terms: Seq[String] = ExpandedQueryTerms,
                              k: Int = 10): DataFrame = {
    val store = bm25UpdatedCache.computeIfAbsent(
      s"${bm25StoreKey(dir)}|updc", _ => {
        val o = graft.TempDirs.scratch("graft_bm25_updc")
        writeBm25Stats(spark, dir, o)
        updateBm25Docs(spark, o, updatedDocsNew(spark, dir))
        compactBm25Deletes(spark, o)
        o
      })
    q10Bm25PrunedAt(spark, store, terms, k)
  }
}
