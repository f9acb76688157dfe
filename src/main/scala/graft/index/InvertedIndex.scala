package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.TrecCorpus
import graft.text.TextPipeline

/** Word-k-gram inverted index builder (SURVEY.md §2.1 R3, §7.1 step 4)
  * — the reference's `TermKGramDocIndexer` dataflow as one declarative
  * Spark job (the reference needed three chained MR jobs + a magic row).
  *
  * Layout is NORMALIZED postings `(kgram, docno, tf)` + `(kgram, df)`
  * stats — never giant per-term arrays (SURVEY §7.1 step 7), so hot
  * terms can't blow an executor; AQE splits skewed shuffle partitions.
  * df is the postings-list length (intended semantics, SURVEY §2.10-Q1;
  * the shipped reference leaves df=1 — reproduced only by
  * [[graft.query.QueryEngine]]'s bugCompat flag). N is a real scalar,
  * not an in-band `" "` row (§2.10-Q5).
  */
object InvertedIndex {

  /** All index artifacts; `nDocs` is the corpus count the reference
    * smuggled through the magic `" "` row. */
  case class Index(postings: DataFrame, termStats: DataFrame,
                   docMap: DataFrame, nDocs: Long)

  private val buildSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Sliding k-windows over a token array, each joined with spaces
    * (docs with < k tokens produce nothing —
    * `TermKGramDocIndexer.java:143`). */
  def kgramWindows(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ",
          (0 until k).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** docMap broadcast bound for [[build]]: up to this many docs the
    * (docid, docno) map is a few hundred MB and broadcasting removes
    * the corpus-side shuffle; above it, forcing the hint would ship a
    * corpus-sized table to every executor (or die at Spark's broadcast
    * limit) — the planner's shuffle join is the right plan there. */
  val BroadcastDocs: Long = 10000000L

  /** The corpus↔docMap equi-join with the [[BroadcastDocs]] guard
    * applied — factored so BOTH branches are plan-testable (PlanSpec
    * pins that the >bound branch carries no broadcast, without
    * building 10M docs): up to the bound the broadcast hint removes
    * the corpus-side shuffle; past it the hint would ship a
    * corpus-sized table to every executor, so the planner's shuffle
    * join is the right plan. */
  private[graft] def corpusDocJoin(corpus: DataFrame, docMap: DataFrame,
                                   nDocs: Long): DataFrame =
    if (nDocs <= BroadcastDocs) corpus.join(broadcast(docMap), "docid")
    else corpus.join(docMap, "docid")

  /** Build the full index from a raw corpus (docid, content): one
    * tokenize projection, one shuffle per aggregation — no intermediate
    * materialization (the reference needed three chained MR jobs). */
  def build(spark: SparkSession, corpus: DataFrame, k: Int = 1): Index = {
    TextPipeline.register(spark)
    // numbering first; its checkpoint makes the count a cheap cached
    // action instead of a second full corpus parse (r4 review)
    val dm = TrecCorpus.docnoMappingScalable(spark, corpus)
    val nDocs = dm.count()
    // every index artifact is a serving artifact: un-persisted, each
    // search would re-run the corpus scan + numbering (docMap) and the
    // stats aggregation (termStats) — ~400ms of recompute per lookup.
    // Numbering is the SCALABLE two-phase range-partition form: at
    // 100 TB the doc_map is corpus-sized, and the single-partition
    // window form (docnoMapping, kept as the documented reference)
    // would funnel it through one task (r3 bench logs were full of
    // "WindowExec: No Partition Defined" from exactly this).
    // Cache partitioning is sized to the corpus (~1M entries per
    // partition, capped at the session default): a small corpus serves
    // docid lookups from one task instead of a fan of empty ones,
    // while a 100 TB doc_map stays wide.
    val mapParts = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      nDocs / 1000000L + 1)).toInt
    val docMap = dm
      .coalesce(mapParts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // docMap is CORPUS-sized: broadcast it only while it provably fits
    // ([[corpusDocJoin]]); forcing the hint at any size is exactly the
    // failure mode the serving path documents for its own joins
    val joined = corpusDocJoin(corpus, docMap, nDocs)
    val toks = joined
      .select(col("docno"), expr("graft_tokenize(content)").as("toks"))
    val postings = toks
      // observe(): the Spark-native analog of the reference's Hadoop
      // counters (Count.DOCS etc., SURVEY §1.3) — named metrics ride
      // the plan and surface via QueryExecutionListener. Name is
      // unique per build so plans of two builds can be unioned
      // (incremental merge) without DUPLICATED_METRICS_NAME.
      .observe(s"graft_index_build_${InvertedIndex.buildSeq.incrementAndGet()}",
        count(lit(1)).as("docs_tokenized"),
        sum(size(col("toks"))).as("terms_total"))
      .select(col("docno"), explode(kgramWindows(col("toks"), k)).as("kgram"))
      .groupBy(col("kgram"), col("docno"))
      .agg(count(lit(1)).as("tf"))
      // TERM-SORTED cache layout: the cached columnar batches carry
      // min/max stats per column, and a point query's literal kgram
      // filter prunes whole batches against them — but only if each
      // batch covers a narrow term range. Sorting WITHIN the agg's
      // existing partitions costs no extra shuffle and no sampling
      // pass (repartitionByRange would recompute the whole tokenize
      // subtree to sample it); a point lookup then decompresses ~one
      // batch per partition instead of every batch, a win that GROWS
      // with corpus size (batches/partition scale with data, pruned
      // batches stay ~constant). The written layout gets the stronger
      // range version in [[write]], where the extra pass is one-off.
      .sortWithinPartitions("kgram")
      // the index is the serving artifact: cache it so queries (and the
      // df stats below) don't re-run the tokenize pipeline
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val termStats = postings.groupBy(col("kgram"))
      .agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Index(postings, termStats, docMap, nDocs)
  }

  /** Nested presentation form matching the reference's R3 record shape:
    * (kgram, df, postings sorted desc-tf then asc-docno)
    * (`PostingWritable.compareTo` ordering, SURVEY §1.2).
    *
    * `salt > 1` enables the two-phase salted collect (SURVEY §7.1 step
    * 7): partial lists are gathered per (kgram, docno % salt) so one
    * pathologically hot term never funnels its whole postings list
    * through a single aggregation task, then flattened and sorted per
    * term. Identical output; use at SFs where a stop-worded hot term
    * could still exceed a task's memory. */
  def nested(ix: Index, salt: Int = 1): DataFrame = {
    val sorted: Column => Column = ps =>
      transform(array_sort(ps),
        x => struct(x.getField("docno").as("docno"),
          x.getField("tf").as("tf")))
    val keyed = struct((-col("tf")).as("ntf"),
      col("docno").as("docno"), col("tf").as("tf"))
    if (salt <= 1)
      ix.postings.groupBy(col("kgram"))
        .agg(count(lit(1)).as("df"),
          sorted(collect_list(keyed)).as("postings"))
    else
      ix.postings
        .groupBy(col("kgram"), pmod(col("docno"), lit(salt)).as("s"))
        .agg(count(lit(1)).as("c"), collect_list(keyed).as("ps"))
        .groupBy(col("kgram"))
        .agg(sum(col("c")).as("df"),
          sorted(flatten(collect_list(col("ps")))).as("postings"))
  }

  /** Incremental maintenance: merge a DELTA corpus into an existing
    * index without re-tokenizing the old collection — the operation a
    * continuously-crawling pipeline needs (the reference can only
    * rebuild all three MR jobs from scratch).
    *
    * New docs get docnos continuing after the current max (dense
    * continuation; existing docnos never change, so downstream
    * artifacts stay valid). Only the delta is tokenized; postings are
    * a pure union (docno sets are disjoint), and term stats re-sum
    * per-term df from both sides — one narrow aggregation over the
    * (small) stats tables, never a postings re-scan.
    *
    * Contract: delta docids are disjoint from the indexed corpus. */
  def merge(spark: SparkSession, ix: Index, delta: DataFrame,
            k: Int = 1, eager: Boolean = false): Index = {
    // empty base (bootstrap of an incremental crawl): max() is null
    val base = {
      val r = ix.docMap.agg(max(col("docno"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val deltaIx = build(spark,
      delta, k) // its own dense 1..M numbering…
    val shifted = deltaIx.docMap
      .withColumn("docno", col("docno") + base) // …continued after base
    val shiftedPostings = deltaIx.postings
      .withColumn("docno", col("docno") + base)
    // every merged artifact is a serving artifact like build()'s:
    // un-persisted termStats would re-run the stats aggregation per
    // lookup, an un-persisted docMap the numbering union per resolve
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val postings = ix.postings.unionByName(shiftedPostings)
      .persist(MEMORY_AND_DISK)
    val termStats = ix.termStats.unionByName(deltaIx.termStats)
      .groupBy(col("kgram")).agg(sum(col("df")).as("df"))
      .persist(MEMORY_AND_DISK)
    val merged = Index(postings, termStats,
      ix.docMap.unionByName(shifted).persist(MEMORY_AND_DISK),
      ix.nDocs + deltaIx.nDocs)
    // eager = the STANDING-INGEST mode (q26_ir_stream): materialize
    // the merged generation now and drop the delta build's internal
    // caches — a merge-per-batch loop otherwise pins one delta index
    // per batch forever. One-shot merges stay lazy (their first action
    // materializes everything once; the extra eager actions are pure
    // cost there). The BASE's caches stay with the caller either way
    // (release a superseded generation via [[unpersist]]).
    if (eager) { materialize(merged); unpersist(deltaIx) }
    merged
  }

  /** Release an index generation's cached artifacts — the standing
    * merge loop (see `IrEngine.q26StreamedIndex`) otherwise pins every
    * superseded cumulative postings copy for the session's lifetime.
    * Safe only AFTER the successor's artifacts are materialized (the
    * successor's plans read these caches). */
  def unpersist(ix: Index): Unit = {
    ix.postings.unpersist(); ix.termStats.unpersist()
    ix.docMap.unpersist(); ()
  }

  /** Force an index's cached artifacts to materialize (one action per
    * artifact) — the barrier a merge loop runs before releasing the
    * previous generation. */
  def materialize(ix: Index): Unit = {
    ix.postings.count(); ix.termStats.count(); ix.docMap.count(); ()
  }

  // ---- store-level delta APPEND (the re-crawl / update write path) --

  private val AppendPostingsDir = "_graft_delta_postings"
  private val AppendDocMapDir = "_graft_delta_doc_map"
  private val AppendMarker = "_graft_append_inflight"

  /** Incremental maintenance, STORE level: append a DELTA corpus
    * directly to a [[write]]-layout store — [[merge]]'s semantics
    * with a delta-proportional WRITE (persisting a merged frame
    * rewrites the whole store; this lands only the delta's part
    * files). Docnos continue after the store's RAW max (tombstoned
    * docnos never reused), the delta's postings/doc_map files are
    * range-laid within themselves (zone maps prune per generation —
    * the documented LSM shape, bounded by the same compaction
    * discipline as the BM25 store), manifests extend by exactly the
    * added files ([[StoreSurgery.extendRanges]]), per-kgram df
    * re-derives for the DELTA's kgrams only (from the live postings —
    * idempotent, the [[deleteDocs]] touched-term discipline in
    * reverse), and corpus_stats goes to the live count.
    *
    * Contract: delta docids disjoint from the store's LIVE docids
    * (enforced). A RE-INGEST is [[deleteDocs]] then this append — the
    * pending tombstone hides the old version while the new serves.
    *
    * Crash safety: staged delta dirs + a marker recording the added
    * file names; [[recoverAppend]] at every maintenance entry rolls
    * back or completes. Run behind the serving quiesce; the stamped
    * servers detect the mutation. */
  def appendToStore(spark: SparkSession, dir: String, delta: DataFrame,
                    k: Int = 1,
                    rowsPerFile: Long = WriteRowsPerFile): Unit = {
    recoverAppend(spark, dir)
    recoverDelete(spark, dir)
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rawMap = spark.read.parquet(s"$dir/doc_map")
    val liveMap = readTombs(spark, dir)
      .fold(rawMap)(t =>
        rawMap.join(broadcast(t), Seq("docno"), "left_anti"))
    // stage the delta ONCE: the disjointness pass below fully
    // evaluates it, and build() re-reads it — an expensive delta
    // frame must not pay its lineage twice
    val d = { import graft.ops.Stage.StageOps; delta.stage() }
    require(d.join(liveMap, Seq("docid"), "left_semi")
        .limit(1).count() == 0,
      "delta docids must be disjoint from the store's LIVE docids — " +
        "a re-ingest deletes the old version first (deleteDocs)")
    val base = {
      val r = rawMap.agg(max(col("docno"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val dIx = build(spark, d, k)
    try {
      if (dIx.nDocs == 0) return
      val nPost = math.max(1L,
        (dIx.postings.count() + rowsPerFile - 1) / rowsPerFile).toInt
      dIx.postings.withColumn("docno", col("docno") + base)
        .repartitionByRange(nPost, col("kgram"))
        .sortWithinPartitions("kgram")
        .write.mode("overwrite")
        .parquet(new Path(root, AppendPostingsDir).toString)
      val nDoc = math.max(1L,
        (dIx.nDocs + rowsPerFile - 1) / rowsPerFile).toInt
      dIx.docMap.withColumn("docno", col("docno") + base)
        .repartitionByRange(nDoc, col("docno"))
        .sortWithinPartitions("docno")
        .write.mode("overwrite")
        .parquet(new Path(root, AppendDocMapDir).toString)
      val added = StoreSurgery.stagedAppendNames(fs, root,
        Seq(AppendPostingsDir -> "postings",
          AppendDocMapDir -> "doc_map"))
      StoreSurgery.commitAppendMarker(fs, root, AppendMarker, added)
      finishAppend(spark, dir, added)
    } finally {
      unpersist(dIx)
    }
  }

  /** The word-k this store was built at, derived from an existing
    * kgram (a k-window is k tokens space-joined — the
    * [[CharKGramIndex]] storeK discipline), so maintenance callers
    * that only hold the store dir ([[graft.ops.Takedown.update]])
    * cannot silently append at the wrong granularity. */
  private[graft] def storeK(spark: SparkSession, dir: String): Int =
    spark.read.parquet(s"$dir/postings")
      .select(col("kgram")).limit(1).collect().headOption
      .map(_.getString(0).split(" ", -1).length)
      .getOrElse(throw new IllegalStateException(
        s"$dir/postings has no rows — the store's word-k cannot be " +
          "derived from an emptied (fully deleted + compacted) " +
          "index; pass k explicitly to append/rebuild"))

  /** Move the staged parts in, extend the manifests, re-derive df for
    * the kgrams the added files carry (from the live postings — kgrams
    * new to the store INSERT, existing ones re-sum; idempotent), set
    * corpus_stats to the live count, clear the marker. */
  private def finishAppend(spark: SparkSession, dir: String,
                           added: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.ops.Stage.StageOps
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.queries.IrSql.moveParts(fs, new Path(root, AppendPostingsDir),
      new Path(root, "postings"))
    graft.queries.IrSql.moveParts(fs, new Path(root, AppendDocMapDir),
      new Path(root, "doc_map"))
    fs.delete(new Path(root, AppendPostingsDir), true)
    fs.delete(new Path(root, AppendDocMapDir), true)
    val addedPost = added.collect {
      case n if n.startsWith("postings/") => n.stripPrefix("postings/")
    }
    StoreSurgery.extendRanges(spark, dir, "postings",
      "postings_ranges", "kgram", addedPost)
    StoreSurgery.extendRanges(spark, dir, "doc_map",
      "doc_map_ranges", "docno",
      added.collect { case n if n.startsWith("doc_map/") =>
        n.stripPrefix("doc_map/") })
    if (addedPost.nonEmpty) {
      // touched = the delta's kgrams, read back from exactly the
      // added files (delta-bounded); df re-derives from the full live
      // postings for those kgrams, so a replay lands the same rows.
      // A takedown-sized delta vocabulary collects to LITERALS so the
      // postings scan row-group-prunes on the kgram-sorted layout (a
      // join side gets no min/max pruning); past the cap the
      // vocabulary is corpus-delta-scale and the semi-join is the
      // right plan anyway
      val touched = spark.read
        .parquet(addedPost.map(n => s"$dir/postings/$n"): _*)
        .select(col("kgram")).distinct().stage()
      val post = spark.read.parquet(s"$dir/postings")
      val livePost = readTombs(spark, dir)
        .fold(post)(t => post.join(broadcast(t), Seq("docno"),
          "left_anti"))
      val litCap = 10000
      val touchedLits = touched.limit(litCap + 1).collect()
        .map(_.getString(0))
      val touchedPost =
        if (touchedLits.length <= litCap)
          livePost.filter(col("kgram").isin(
            touchedLits.toIndexedSeq: _*))
        else livePost.join(touched, Seq("kgram"), "left_semi")
      val touchedDf = touchedPost
        .groupBy(col("kgram")).agg(count(lit(1)).as("df"))
      val oldStats = spark.read.parquet(s"$dir/term_stats")
      val untouched = oldStats.join(touched, Seq("kgram"), "left_anti")
      graft.queries.IrSql.swapIn(spark, s"$dir/term_stats",
        untouched.unionByName(touchedDf
          .select(untouched.columns.toIndexedSeq.map(col): _*)))
    }
    val dm = spark.read.parquet(s"$dir/doc_map")
    val live = readTombs(spark, dir)
      .fold(dm)(t => dm.join(broadcast(t), Seq("docno"), "left_anti"))
    graft.queries.IrSql.swapIn(spark, s"$dir/corpus_stats",
      live.agg(count(lit(1)).as("n_docs")))
    fs.delete(new Path(root, AppendMarker), false)
    ()
  }

  /** Crash recovery for [[appendToStore]] — the shared
    * [[StoreSurgery.recoverAppend]] branching over this store's
    * artifacts. Safe when no append was in flight. */
  private[graft] def recoverAppend(spark: SparkSession,
                                   dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("postings_ranges", "doc_map_ranges", "term_stats",
        "corpus_stats")
      .foreach(graft.queries.IrSql.recoverArtifact(spark, dir, _))
    StoreSurgery.recoverAppend(fs, root, AppendMarker,
      Seq(AppendPostingsDir, AppendDocMapDir),
      added => finishAppend(spark, dir, added))
  }

  /** Persist as parquet, postings repartitioned+sorted by kgram so each
    * file covers a term range (row-group min/max pruning serves point
    * lookups — replaces the reference's byte-offset forward index R5,
    * SURVEY §1.3). */
  /** Rows per output file for [[write]] — sized so a file lands in the
    * tens-of-MB class (parquet-friendly, one task reads it fast). The
    * partition COUNT derives from the data size, not from
    * `spark.sql.shuffle.partitions`: a small index becomes ONE file
    * (point queries then cost one task dispatch, not 32 — measured
    * 189→142 ms per query at sf0.1), a 100 TB index becomes
    * proportionally many files, each still one contiguous term range
    * for min/max pruning. */
  val WriteRowsPerFile: Long = 4L << 20

  /** Every artifact dir a [[write]]-layout store serves from — the
    * set a serving snapshot's [[graft.query.DirVersion]] stamp folds
    * when the store carries no [[graft.StoreGen]] marker. */
  private[graft] def stampDirs(dir: String): Seq[String] =
    Seq("postings", "term_stats", "doc_map", "corpus_stats",
      "postings_ranges", "doc_map_ranges", TombstonesDir)
      .map(n => s"$dir/$n")

  def write(ix: Index, dir: String,
            rowsPerFile: Long = WriteRowsPerFile): Unit = {
    val spark = ix.docMap.sparkSession
    // RANGE partition (not hash): each output file then covers one
    // contiguous term range, so a point lookup prunes to a single file
    // via parquet min/max — hash repartition scattered every term
    // range across all files, defeating the documented pruning (r4
    // review)
    val nPost = math.max(1L,
      (ix.postings.count() + rowsPerFile - 1) / rowsPerFile).toInt
    ix.postings.repartitionByRange(nPost, col("kgram"))
      .sortWithinPartitions("kgram")
      .write.mode("overwrite").parquet(s"$dir/postings")
    ix.termStats.write.mode("overwrite").parquet(s"$dir/term_stats")
    // doc_map gets the same range layout on docno: a point query's
    // docid resolution probes ≤topK docnos, and min/max pruning serves
    // it from one file/row-group instead of a full map scan
    val nDoc = math.max(1L,
      (ix.docMap.count() + rowsPerFile - 1) / rowsPerFile).toInt
    ix.docMap.repartitionByRange(nDoc, col("docno"))
      .sortWithinPartitions("docno")
      .write.mode("overwrite").parquet(s"$dir/doc_map")
    spark.range(1)
      .select(lit(ix.nDocs).as("n_docs"))
      .write.mode("overwrite").parquet(s"$dir/corpus_stats")
    // zone-map manifests: per-file key ranges of the two range-
    // partitioned artifacts, written as tiny single-file tables. A
    // serving node ([[graft.query.LoadedPointServer]]) routes a point
    // query to its 1-2 files by a driver-side binary search instead of
    // scanning anything at open time — the same O(files) metadata a
    // lakehouse table format keeps. Computed by re-scanning only the
    // key column of the files just written (narrow, write-time cost).
    spark.read.parquet(s"$dir/postings")
      .groupBy(input_file_name().as("file"))
      .agg(min(col("kgram")).as("lo"), max(col("kgram")).as("hi"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/postings_ranges")
    spark.read.parquet(s"$dir/doc_map")
      .groupBy(input_file_name().as("file"))
      .agg(min(col("docno")).as("lo"), max(col("docno")).as("hi"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/doc_map_ranges")
    // start (or advance) the O(1) staleness generation: a REBUILD at
    // a previously-mutated dir must move the stamp even though the
    // artifact overwrites bypass the bumping commit helpers
    graft.StoreGen.bump(new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(dir))
  }

  /** Catalog-table persistence with BUCKETING on the term key: joins
    * and aggregations on `kgram` between co-bucketed tables read
    * pre-partitioned data — no exchange on either side (SURVEY §7.1
    * step 7 "bucketed writes"; the 100 TB posture for repeated
    * index-to-index joins). Requires a warehouse-backed session. */
  def writeBucketed(ix: Index, table: String, buckets: Int = 32): Unit = {
    ix.postings.write.mode("overwrite")
      .bucketBy(buckets, "kgram").sortBy("kgram")
      .format("parquet").saveAsTable(s"${table}_postings")
    ix.termStats.write.mode("overwrite")
      .bucketBy(buckets, "kgram").sortBy("kgram")
      .format("parquet").saveAsTable(s"${table}_term_stats")
  }

  /** Load a [[write]]-layout index. A store with PENDING DELETIONS
    * ([[deleteDocs]]) loads as its LIVE view: postings and doc_map
    * anti-join the tombstoned docnos (broadcast — takedown-sized;
    * [[compactDeletes]] reclaims), while term_stats and corpus_stats
    * are already delete-exact on disk (deleteDocs maintains them), so
    * every ranked/wildcard/RM3 path over the loaded index honors
    * deletions without knowing they exist. */
  def load(spark: SparkSession, dir: String): Index = {
    val n = spark.read.parquet(s"$dir/corpus_stats")
      .head().getLong(0)
    val post = spark.read.parquet(s"$dir/postings")
    val dm = spark.read.parquet(s"$dir/doc_map")
    readTombs(spark, dir) match {
      case Some(t) =>
        Index(post.join(broadcast(t), Seq("docno"), "left_anti"),
          spark.read.parquet(s"$dir/term_stats"),
          dm.join(broadcast(t), Seq("docno"), "left_anti"), n)
      case None =>
        Index(post, spark.read.parquet(s"$dir/term_stats"), dm, n)
    }
  }

  private val TombstonesDir = "tombstones"
  private val DeleteStaging = "_graft_tomb_new"
  private val DeleteMarker = "_graft_delete_inflight"

  /** The store's tombstoned docnos, if any deletions are pending. */
  private[graft] def readTombs(spark: SparkSession,
                               dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$TombstonesDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p)
        .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
      Some(spark.read.parquet(p.toString).select(col("docno")))
    else None
  }

  /** TAKEDOWN-SHAPED DELETION from a written ranked index — the
    * [[graft.queries.IrSql.deleteBm25Docs]] discipline for the
    * tf-idf quadruple: docids' docnos are TOMBSTONED (rows reclaimed
    * by [[compactDeletes]]; [[load]] serves the live view), and the
    * DERIVED statistics go exact at delete time — per-kgram df
    * recomputed for the TOUCHED kgrams only from the live postings
    * (kgrams with no surviving posting DROP from the stats, exactly
    * as a rebuild would), corpus_stats recomputed to the live count.
    * Post-delete, every ranking equals an index rebuilt without the
    * docs (scores read df from term_stats or a live postings window —
    * both delete-exact — and nDocs from corpus_stats). Staged
    * tombstones + marker commit; [[recoverDelete]] replays or rolls
    * back. (The chargram artifact stays rebuild-only: its term lists
    * are VOCABULARY-level, so doc-granular deletion is a vocabulary
    * recount — the reference's own semantics.) */
  def deleteDocs(spark: SparkSession, dir: String,
                 docids: DataFrame): Unit = {
    recoverAppend(spark, dir)
    recoverDelete(spark, dir)
    import org.apache.hadoop.fs.Path
    import graft.ops.Stage.StageOps
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val del0 = spark.read.parquet(s"$dir/doc_map")
      .join(docids.select(col("docid")).distinct(), Seq("docid"),
        "left_semi")
      .select(col("docno"))
    val del = readTombs(spark, dir)
      .fold(del0)(t => del0.join(t, Seq("docno"), "left_anti"))
      .stage()
    if (del.limit(1).count() == 0) return
    del.write.mode("overwrite")
      .parquet(new Path(root, DeleteStaging).toString)
    fs.create(new Path(root, DeleteMarker), false).close() // COMMIT
    graft.queries.IrSql.moveParts(fs, new Path(root, DeleteStaging),
      new Path(root, TombstonesDir))
    fs.delete(new Path(root, DeleteStaging), true)
    finishDelete(spark, dir)
  }

  /** Recompute the derived artifacts' touched region from the FULL
    * tombstone set (idempotent), then clear the marker. */
  private def finishDelete(spark: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.ops.Stage.StageOps
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readTombs(spark, dir).foreach { t =>
      val post = spark.read.parquet(s"$dir/postings")
      val touched = post.join(broadcast(t), Seq("docno"), "left_semi")
        .select(col("kgram")).distinct().stage()
      val liveTouched = post
        .join(broadcast(t), Seq("docno"), "left_anti")
        .join(touched, Seq("kgram"), "left_semi")
        .groupBy(col("kgram")).agg(count(lit(1)).as("df"))
      val oldStats = spark.read.parquet(s"$dir/term_stats")
      val untouched = oldStats
        .join(touched, Seq("kgram"), "left_anti")
      graft.queries.IrSql.swapIn(spark, s"$dir/term_stats",
        untouched.unionByName(liveTouched
          .select(untouched.columns.toIndexedSeq.map(col): _*)))
      graft.queries.IrSql.swapIn(spark, s"$dir/corpus_stats",
        spark.read.parquet(s"$dir/doc_map")
          .join(broadcast(t), Seq("docno"), "left_anti")
          .agg(count(lit(1)).as("n_docs")))
    }
    fs.delete(new Path(root, DeleteMarker), false)
    ()
  }

  /** Crash recovery for [[deleteDocs]] (the marker protocol). */
  private[graft] def recoverDelete(spark: SparkSession,
                                   dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.queries.IrSql.recoverArtifact(spark, dir, "term_stats")
    graft.queries.IrSql.recoverArtifact(spark, dir, "corpus_stats")
    StoreSurgery.recover(spark, s"$dir/postings")
    StoreSurgery.recover(spark, s"$dir/doc_map")
    if (!fs.exists(new Path(root, DeleteMarker))) {
      fs.delete(new Path(root, DeleteStaging), true)
      ()
    } else {
      graft.queries.IrSql.moveParts(fs, new Path(root, DeleteStaging),
        new Path(root, TombstonesDir))
      fs.delete(new Path(root, DeleteStaging), true)
      finishDelete(spark, dir)
    }
  }

  /** Physically reclaim tombstoned rows (crash-safe swaps, range
    * layouts + zone-map manifests refreshed), then drop the
    * tombstones — the read view is identical at every instant, and a
    * replay completes an interrupted pass (tombstones drop LAST). */
  def compactDeletes(spark: SparkSession, dir: String): Unit = {
    recoverAppend(spark, dir)
    recoverDelete(spark, dir)
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombOpt = readTombs(spark, dir)
    if (tombOpt.isEmpty) return
    val tomb = tombOpt.get
    // surgical per-file reclaim — see [[StoreSurgery]] and the
    // positional twin's rationale
    StoreSurgery.reclaim(spark, s"$dir/postings", "docno", tomb,
      layoutKey = "kgram")
    StoreSurgery.reclaim(spark, s"$dir/doc_map", "docno", tomb,
      layoutKey = "docno")
    graft.queries.IrSql.swapIn(spark, s"$dir/postings_ranges",
      spark.read.parquet(s"$dir/postings")
        .groupBy(input_file_name().as("file"))
        .agg(min(col("kgram")).as("lo"), max(col("kgram")).as("hi"))
        .coalesce(1))
    graft.queries.IrSql.swapIn(spark, s"$dir/doc_map_ranges",
      spark.read.parquet(s"$dir/doc_map")
        .groupBy(input_file_name().as("file"))
        .agg(min(col("docno")).as("lo"), max(col("docno")).as("hi"))
        .coalesce(1))
    fs.delete(new Path(root, TombstonesDir), true)
    ()
  }
}
