package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextPipeline

/** POSITIONAL inverted index: postings carry the token offsets of every
  * occurrence, so phrase and proximity queries of ANY length are
  * answered by position arithmetic on (at most) one postings list per
  * query term — the standard IR structure the reference approximates by
  * pre-building a separate word-k-gram index per k
  * (`TermKGramDocIndexer`, SURVEY §2.1 R3: each k needs its own MR
  * build; a 5-word phrase needs a k=5 index that was never built). One
  * positional index answers all of them.
  *
  * Positions are offsets into the PIPELINE token sequence (tag-tokenize
  * → Terrier stop → Porter2, the same `graft_tokenize` the ranking
  * index uses), so query analysis and the index can never disagree on
  * what "adjacent" means.
  *
  * Scale shape: build is the ranking index's shape plus one posexplode
  * — a single partial-agg shuffle on (term, docno); per-row state is
  * one doc's occurrence list of one term (bounded by doc length, never
  * corpus-sized). Queries filter postings by literal term sets (cached
  * batch stats / parquet row-group pruning apply), join the ≤m lists on
  * docno, and intersect shifted position arrays per doc — per-doc cost,
  * no corpus-wide stage after the pruned scans.
  */
object PositionalIndex {

  /** postings: (term, docno, positions ARRAY<INT> sorted asc, tf). */
  case class PIndex(postings: DataFrame, docMap: DataFrame, nDocs: Long)

  /** Build from a raw (docid, content) corpus. Same skeleton as
    * [[InvertedIndex.build]]: scalable two-phase numbering, size-guarded
    * docMap broadcast, term-sorted cached batches for literal-filter
    * pruning. */
  def build(spark: SparkSession, corpus: DataFrame): PIndex = {
    TextPipeline.register(spark)
    val (docMap, nDocs) = PostingsStore.numbered(spark, corpus)
    val joined = InvertedIndex.corpusDocJoin(corpus, docMap, nDocs)
    // a doc's occurrence lists are complete within its own row, so the
    // (term → sorted positions) grouping happens entirely MAP-SIDE in
    // one scan — the build has NO exchange at all (a posexplode +
    // groupBy(term, docno) formulation was measured 3.6× slower at
    // sf1: it shuffles one row per token occurrence). Term clustering
    // for literal-filter pruning comes from sortWithinPartitions on
    // the cached batches here and from the real range partition in
    // [[write]].
    val postings = joined
      .select(col("docno"),
        explode(docTermPositions(expr("graft_tokenize(content)")))
          .as("tp"))
      .select(col("tp._1").as("term"), col("docno"),
        col("tp._2").as("positions"),
        size(col("tp._2")).cast("long").as("tf"))
      .sortWithinPartitions("term")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    PIndex(postings, docMap, nDocs)
  }

  /** One-scan per-doc positional grouping: token sequence → (term,
    * ascending occurrence offsets) pairs. Insertion order keeps the
    * builder allocation-lean; downstream never depends on pair order. */
  private val docTermPositions = udf((toks: Seq[String]) => {
    val m = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Int]]
    var i = 0
    toks.foreach { t =>
      m.getOrElseUpdate(t,
        new scala.collection.mutable.ArrayBuffer[Int]) += i
      i += 1
    }
    m.view.map { case (t, ps) => (t, ps.toSeq) }.toSeq
  })

  /** Incremental maintenance, mirroring [[InvertedIndex.merge]]: only
    * the delta corpus is tokenized; its docnos continue densely after
    * the base's max, postings are a pure union (docno sets disjoint,
    * and positions are per-doc offsets, so no per-term reconciliation
    * exists to do). Contract: delta docids are disjoint from the
    * indexed corpus. */
  def merge(spark: SparkSession, ix: PIndex, delta: DataFrame): PIndex = {
    val base = PostingsStore.maxDocno(ix.docMap)
    val deltaIx = build(spark, delta)
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    PIndex(
      ix.postings.unionByName(PostingsStore.shift(deltaIx.postings, base))
        .persist(MEMORY_AND_DISK),
      ix.docMap.unionByName(PostingsStore.shift(deltaIx.docMap, base))
        .persist(MEMORY_AND_DISK),
      ix.nDocs + deltaIx.nDocs)
  }

  /** The positional store's lifecycle ([[PostingsStore]]): postings
    * keyed on term, nothing derived (df is a postings-list length). */
  private[graft] val store =
    PostingsStore("pos_postings", "term", Nil, (_, _, _) => ())

  /** Incremental maintenance, STORE level: append a DELTA corpus
    * directly to a [[write]]-layout store — the delta-proportional
    * write path the frame-level [[merge]] cannot offer
    * ([[PostingsStore.append]]). Only the delta is tokenized; its
    * docnos continue densely after the store's RAW max (tombstoned
    * docnos are never reused); its part files land beside the
    * existing ones, range-laid WITHIN the delta (a term lookup touches
    * ≤1 file per append generation — the LSM read-amplification shape
    * the BM25 store documents, with the same remedy: a rebuild-style
    * re-range when generations accumulate); the manifests extend by
    * exactly the added files; corpus_stats goes to the live count. A
    * compressed store ([[write]]'s `pos_z`) gets its delta rows
    * encoded the same way.
    *
    * Contract: delta docids are disjoint from the store's LIVE docids
    * (enforced). A RE-INGEST (takedown-then-replace, the re-crawl
    * shape) is [[deleteDocs]] of the old version followed by this
    * append of the new: the pending tombstone hides the old row while
    * the new version serves at a fresh docno — no reclaim required
    * between the two ([[compactDeletes]] collects the dead rows
    * whenever maintenance next runs). */
  def appendToStore(spark: SparkSession, dir: String, delta: DataFrame,
                    rowsPerFile: Long = InvertedIndex.WriteRowsPerFile)
      : Unit =
    store.append(spark, dir, delta, rowsPerFile) { d =>
      // the store's footer schema decides the postings layout (the
      // load() branch)
      val compressed = spark.read.parquet(s"$dir/pos_postings")
        .columns.contains("pos_z")
      val ix = build(spark, d)
      PostingsStore.Delta(encoded(ix.postings, compressed), ix.docMap,
        ix.nDocs, () => { ix.postings.unpersist(); ix.docMap.unpersist(); () })
    }

  /** Postings in the on-disk row shape: `compressed` stores position
    * lists as varint gap bytes (`pos_z`, [[posEnc]]). */
  private def encoded(postings: DataFrame, compressed: Boolean): DataFrame =
    if (compressed)
      postings.select(col("term"), col("docno"),
        posEnc(col("positions")).as("pos_z"), col("tf"))
    else postings

  /** Varint delta-encode a SORTED ascending position array: first
    * value absolute, then gaps — all non-negative, so each fits 1–2
    * bytes for typical in-doc offsets (the classic gap + vbyte
    * postings codec).
    *
    * MEASURED, and NOT the default ([[graft.PosSizeProf]]): on this
    * corpus the varint layout is 1.34× LARGER than the plain
    * `ARRAY<INT>` layout at sf0.1 — parquet's own encodings
    * (RLE'd repetition levels + dictionary + snappy) win on the short
    * position lists this corpus produces, and the opaque BINARY blob
    * defeats them. Gap-vbyte pays off only for long per-doc occurrence
    * lists (dense boilerplate terms) or row-oriented export targets
    * that can't columnar-decode; measure with PosSizeProf per corpus
    * before flipping the flag. */
  private[index] val posEnc =
    udf((ps: Seq[Int]) => {
      val out = new java.io.ByteArrayOutputStream(ps.length * 2)
      var prev = 0
      ps.foreach { p =>
        var v = p - prev
        prev = p
        while ((v & ~0x7f) != 0) { out.write((v & 0x7f) | 0x80); v >>>= 7 }
        out.write(v)
      }
      out.toByteArray
    })

  /** Inverse of [[posEnc]]. */
  private[index] val posDec =
    udf((bs: Array[Byte]) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      var prev = 0
      while (i < bs.length) {
        var v = 0
        var shift = 0
        var b = 0
        do {
          b = bs(i); i += 1
          v |= (b & 0x7f) << shift; shift += 7
        } while ((b & 0x80) != 0)
        prev += v
        out += prev
      }
      out.toSeq
    })

  /** Durable layout, the [[PostingsStore]] one [[InvertedIndex.write]]
    * uses: postings range-partitioned + sorted on term (a phrase
    * query's per-term literal filters prune to one file / row group
    * each), doc_map range-partitioned on docno, scalar corpus stats,
    * zone-map manifests a serving node
    * ([[graft.query.LoadedPhraseServer]]) routes by.
    *
    * `compressed = true` stores position lists as varint gap bytes
    * (`pos_z` BINARY) instead of `positions ARRAY<INT>` — [[load]]
    * branches on the stored schema (the [[graft.Tables]] footer-schema
    * convention) and surfaces the identical PIndex either way. The
    * compressed layout is the batch/storage form; the job-free loaded
    * serving path ([[graft.query.LoadedPhraseServer]]) reads the plain
    * layout (its driver read decodes the `positions` column directly —
    * a file without it fails loudly, never answers empty). */
  def write(ix: PIndex, dir: String,
            rowsPerFile: Long = InvertedIndex.WriteRowsPerFile,
            compressed: Boolean = false): Unit =
    store.write(dir, encoded(ix.postings, compressed), ix.docMap, ix.nDocs,
      rowsPerFile)

  /** Load a [[write]]-layout index; scans stay parquet-pruned (no
    * caching here — the caller decides what to pin). A store with
    * PENDING DELETIONS ([[deleteDocs]]) loads as its LIVE view: both
    * frames anti-join the tombstoned docnos (broadcast — a takedown
    * set is request-sized; [[compactDeletes]] reclaims it), and
    * corpus_stats is already live (deleteDocs maintains it), so every
    * query path over the loaded index honors deletions without
    * knowing they exist. */
  def load(spark: SparkSession, dir: String): PIndex = {
    val n = spark.read.parquet(s"$dir/corpus_stats")
      .head().getAs[Long]("n_docs")
    val raw = spark.read.parquet(s"$dir/pos_postings")
    // footer schema decides the layout (see [[write]]): varint-gap
    // postings decode in one narrow projection
    val post =
      if (raw.columns.contains("pos_z"))
        raw.select(col("term"), col("docno"),
          posDec(col("pos_z")).as("positions"), col("tf"))
      else raw
    val live = PostingsStore.live(spark, dir)
    PIndex(live(post), live(spark.read.parquet(s"$dir/doc_map")), n)
  }

  /** TAKEDOWN-SHAPED DELETION from a written positional index
    * ([[PostingsStore.delete]]): the docids' docnos are TOMBSTONED
    * (rows stay on disk until [[compactDeletes]] reclaims them;
    * [[load]] serves the live view through an anti-join) and
    * corpus_stats is recomputed to the live doc count. */
  def deleteDocs(spark: SparkSession, dir: String,
                 docids: DataFrame): Unit =
    store.delete(spark, dir, docids)

  /** Physically reclaim tombstoned rows ([[PostingsStore.compact]]):
    * only the part files holding a dead row rewrite, from the RAW
    * files, so a compressed store stays compressed. */
  def compactDeletes(spark: SparkSession, dir: String): Unit =
    store.compact(spark, dir)

  /** Exact phrase search: documents containing the query terms at
    * CONSECUTIVE pipeline-token positions, with the phrase occurrence
    * count. Output (docid, phrase_tf) ordered by tf desc, docid asc.
    *
    * Plan: one pruned postings scan per distinct term, (m-1) equi-joins
    * on docno (each side query-bounded), then ONE array intersection of
    * the i-th list shifted left by i — a position p survives iff every
    * term appears at p+i, i.e. iff a phrase starts at p. The docid
    * resolution broadcasts the RESULT side into the corpus-sized
    * docMap, never the reverse ([[graft.query.QueryEngine]]'s rule). */
  def phrase(ix: PIndex, phraseText: String): DataFrame = {
    val terms = TextPipeline.processContent(phraseText)
    require(terms.nonEmpty, s"phrase analyzed to no terms: '$phraseText'")
    val spark = ix.postings.sparkSession
    val lists = terms.zipWithIndex.map { case (t, i) =>
      ix.postings.filter(col("term") === t)
        .select(col("docno"), col("positions").as(s"p$i"))
    }
    val joinedAll = lists.reduce((a, b) => a.join(b, "docno"))
    // a repeated query term produces two identical column names from
    // one list each — zipWithIndex aliases keep them distinct
    val phrasePos = (1 until terms.size).foldLeft[Column](col("p0")) {
      case (acc, i) =>
        array_intersect(acc, transform(col(s"p$i"), x => x - i))
    }
    val hits = joinedAll
      .select(col("docno"), size(phrasePos).cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
    resolve(ix, hits).select(col("docid"), col("phrase_tf"))
      .orderBy(col("phrase_tf").desc, col("docid"))
  }

  /** WILDCARD phrase search: any word of the phrase may be a
    * `*`-wildcard pattern (`"info* retrieval"`), expanded through the
    * char-k-gram index ([[graft.query.QueryEngine.wildcardTerms]] —
    * grams of the anchored segments → candidate raw vocabulary terms →
    * regex verify), re-analyzed to stemmed index terms (the
    * wildcardSearch discipline: the R4 index holds raw surface forms,
    * postings are stemmed), then matched positionally: a phrase starts
    * at p iff for every slot i SOME of its terms occurs at p+i.
    *
    * Plan: a literal slot is a pruned postings point-scan (as in
    * [[phrase]]); a wildcard slot joins postings against its
    * vocabulary-bounded broadcast expansion and unions the matching
    * occurrence lists per doc (position lists of distinct terms are
    * disjoint — one term per offset — so `flatten` + sort IS the
    * union). The slot frames then follow [[phrase]]'s docno-join +
    * shifted-array-intersection tail unchanged. Stopword words drop,
    * preserving [[phrase]]'s adjacency-after-the-pipeline semantics. */
  def phraseWildcard(ix: PIndex, chargrams: DataFrame, phraseText: String,
                     k: Int = 3): DataFrame = {
    val spark = ix.postings.sparkSession
    TextPipeline.register(spark)
    val words = phraseText.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(words.nonEmpty, s"phrase has no words: '$phraseText'")
    val slots: Seq[Either[String, DataFrame]] = words.flatMap { w =>
      if (w.contains("*"))
        Seq(Right(
          graft.query.QueryEngine.wildcardTerms(chargrams, w, k)
            .select(explode(expr("graft_tokenize(term)")).as("term"))
            .distinct()))
      else TextPipeline.processContent(w).map(Left(_))
    }
    require(slots.nonEmpty, s"phrase analyzed to no terms: '$phraseText'")
    val lists = slots.zipWithIndex.map {
      case (Left(t), i) =>
        ix.postings.filter(col("term") === t)
          .select(col("docno"), col("positions").as(s"p$i"))
      case (Right(exp), i) =>
        ix.postings.join(broadcast(exp), "term")
          .groupBy(col("docno"))
          .agg(array_sort(flatten(collect_list(col("positions"))))
            .as(s"p$i"))
    }
    val joinedAll = lists.reduce((a, b) => a.join(b, "docno"))
    val phrasePos = (1 until slots.size).foldLeft[Column](col("p0")) {
      case (acc, i) =>
        array_intersect(acc, transform(col(s"p$i"), x => x - i))
    }
    val hits = joinedAll
      .select(col("docno"), size(phrasePos).cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
    resolve(ix, hits).select(col("docid"), col("phrase_tf"))
      .orderBy(col("phrase_tf").desc, col("docid"))
  }

  /** KWIC SNIPPET extraction — `context` pipeline tokens around the
    * FIRST phrase occurrence of each matching document, served entirely
    * from the index: the positional postings invert back into the
    * ordered token stream (explode positions → sort), so no corpus
    * access and no stored forward index is needed — the structure the
    * reference keeps a separate byte-offset forward index for (R5,
    * SURVEY §1.1) falls out of the positional layout.
    *
    * Output (docid, first_pos, snippet), snippet = tokens
    * [first_pos - context, first_pos + m - 1 + context] joined by
    * single spaces (clamped at the doc edges). Plan: the phrase-hit
    * set (query-bounded) broadcasts into a postings scan restricted to
    * the hit docnos; per-doc window reconstruction explodes only the
    * in-range positions. */
  def snippet(ix: PIndex, phraseText: String,
              context: Int = 3): DataFrame = {
    val terms = TextPipeline.processContent(phraseText)
    require(terms.nonEmpty, s"phrase analyzed to no terms: '$phraseText'")
    val m = terms.size
    val lists = terms.zipWithIndex.map { case (t, i) =>
      ix.postings.filter(col("term") === t)
        .select(col("docno"), col("positions").as(s"p$i"))
    }
    val joinedAll = lists.reduce((a, b) => a.join(b, "docno"))
    val phrasePos = (1 until m).foldLeft[Column](col("p0")) {
      case (acc, i) =>
        array_intersect(acc, transform(col(s"p$i"), x => x - i))
    }
    val hits = joinedAll
      .select(col("docno"), array_min(phrasePos).as("first_pos"))
      .filter(col("first_pos").isNotNull)
    val inRange = ix.postings
      .join(broadcast(hits), "docno")
      .select(col("docno"), col("first_pos"),
        explode(filter(col("positions"), p =>
          p >= col("first_pos") - context &&
            p <= col("first_pos") + (m - 1) + context)).as("pos"),
        col("term"))
    val snip = inRange.groupBy(col("docno"), col("first_pos"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("term")))),
        s => s.getField("term")), " ").as("snippet"))
    resolve(ix, snip)
      .select(col("docid"), col("first_pos").cast("long").as("first_pos"),
        col("snippet"))
      .orderBy("docid")
  }

  /** Docid resolution with the engine's broadcast discipline: the hit
    * set is query-bounded (≤ df of the rarest term) but NOT k-bounded —
    * a one-term "phrase" of a hot term can approach corpus scale, so
    * the broadcast is size-guarded exactly like the build-side docMap
    * join; past the bound the planner's shuffle join is the right
    * plan. */
  private def resolve(ix: PIndex, hits: DataFrame): DataFrame =
    if (ix.nDocs <= InvertedIndex.BroadcastDocs)
      ix.docMap.join(broadcast(hits), "docno")
    else ix.docMap.join(hits, "docno")

  /** Proximity search: documents where `termA` and `termB` (pipeline-
    * analyzed single words) occur within `window` pipeline tokens of
    * each other, in either order. Output (docid) ordered.
    *
    * The per-doc predicate is an existential over the two (sorted,
    * doc-length-bounded) occurrence lists — per-row compute after the
    * same pruned-scan + docno-join shape as [[phrase]]. */
  def near(ix: PIndex, termA: String, termB: String,
           window: Int): DataFrame = {
    val ta = TextPipeline.processContent(termA)
    val tb = TextPipeline.processContent(termB)
    require(ta.size == 1 && tb.size == 1,
      s"near() takes single non-stopword terms, got '$termA'/'$termB'")
    val (a, b) = (ta.head, tb.head)
    val pa = ix.postings.filter(col("term") === a)
      .select(col("docno"), col("positions").as("pa"))
    val pb = ix.postings.filter(col("term") === b)
      .select(col("docno"), col("positions").as("pb"))
    val hits = pa.join(pb, "docno")
      .filter(exists(col("pa"), x =>
        exists(col("pb"), y => abs(x - y) <= window)))
      .select(col("docno"))
    resolve(ix, hits).select(col("docid")).orderBy("docid")
  }

  /** RANKED top-k proximity — the SERVING contract for NEAR queries
    * (the phrase contract applied to proximity): each qualifying doc
    * scores `near_tf` = the number of qualifying position PAIRS
    * (x ∈ positions(termA), y ∈ positions(termB), |x−y| ≤ window; the
    * ordered form keeps only y > x ∧ y − x ≤ window), output
    * (docid, near_tf) ordered tf desc then docid asc, LIMITED to topK.
    *
    * [[near]] is the analytic filter form (every matching doc — fine
    * as a batch operator feeding a downstream join); this is what a
    * serving path must run instead: a hot term pair's hit set grows
    * with the corpus, and an unbounded driver collect of it is the
    * scale-killer the round-8 audit flagged. The pair count is one
    * `aggregate` fold over the two per-doc (doc-length-bounded)
    * occurrence lists — per-row compute, and the TakeOrdered keeps
    * everything after it k-bounded. */
  def nearTopK(ix: PIndex, termA: String, termB: String, window: Int,
               ordered: Boolean = false, topK: Int = 10): DataFrame = {
    val ta = TextPipeline.processContent(termA)
    val tb = TextPipeline.processContent(termB)
    require(ta.size == 1 && tb.size == 1,
      s"nearTopK() takes single non-stopword terms, got '$termA'/'$termB'")
    val pa = ix.postings.filter(col("term") === ta.head)
      .select(col("docno"), col("positions").as("pa"))
    val pb = ix.postings.filter(col("term") === tb.head)
      .select(col("docno"), col("positions").as("pb"))
    val hits = pa.join(pb, "docno")
      .select(col("docno"),
        nearPairCount(col("pa"), col("pb"), window, ordered).as("near_tf"))
      .filter(col("near_tf") > 0)
      .orderBy(col("near_tf").desc, col("docno"))
      .limit(topK)
    resolve(ix, hits).select(col("docid"), col("near_tf"))
      .orderBy(col("near_tf").desc, col("docid"))
  }

  /** The one qualifying-pair-count formulation, shared by [[nearTopK]]
    * and the cached serving template ([[graft.query.PhraseServer]]),
    * with its driver twin [[nearPairs]] beside it, so the ranked
    * contract cannot drift between fresh, cached, and loaded paths. */
  private[graft] def nearPairCount(pa: Column, pb: Column, window: Int,
                                   ordered: Boolean): Column = {
    val perX: Column => Column =
      if (ordered) x => size(filter(pb, y => y > x && y - x <= lit(window)))
      else x => size(filter(pb, y => abs(x - y) <= lit(window)))
    aggregate(pa, lit(0L), (acc, x) => acc + perX(x))
  }

  /** [[nearPairCount]] over driver-held position lists, for
    * [[graft.query.LoadedPhraseServer]]'s job-free path. */
  private[graft] def nearPairs(pa: Array[Int], pb: Array[Int], window: Int,
                               ordered: Boolean): Long =
    pa.iterator.map { x =>
      pb.count(y => if (ordered) y > x && y - x <= window
                    else math.abs(x - y) <= window).toLong
    }.sum

  /** [[phrase]]'s count over driver-held slot position lists: the
    * left-fold `array_intersect` (distinct, in slot-0 order) of slot i
    * shifted by −i; one slot is its list's size. */
  private[graft] def phraseRuns(slots: Seq[Array[Int]]): Long =
    (1 until slots.size).foldLeft(slots.head.toSeq) { (acc, i) =>
      val shifted = slots(i).iterator.map(_ - i).toSet
      acc.distinct.filter(shifted)
    }.size.toLong

  /** ORDERED proximity: `termA` strictly before `termB`, at most
    * `window` pipeline tokens later — the directional variant of
    * [[near]] (same pruned-scan + docno-join shape, the existential
    * keeps only forward gaps in (0, window]). */
  def nearOrdered(ix: PIndex, termA: String, termB: String,
                  window: Int): DataFrame = {
    val ta = TextPipeline.processContent(termA)
    val tb = TextPipeline.processContent(termB)
    require(ta.size == 1 && tb.size == 1,
      s"nearOrdered() takes single non-stopword terms, got '$termA'/'$termB'")
    val pa = ix.postings.filter(col("term") === ta.head)
      .select(col("docno"), col("positions").as("pa"))
    val pb = ix.postings.filter(col("term") === tb.head)
      .select(col("docno"), col("positions").as("pb"))
    val hits = pa.join(pb, "docno")
      .filter(exists(col("pa"), x =>
        exists(col("pb"), y => y > x && y - x <= window)))
      .select(col("docno"))
    resolve(ix, hits).select(col("docid")).orderBy("docid")
  }
}
