package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextPipeline

/** Char-k-gram → term index (SURVEY.md §2.1 R4): per distinct raw
  * token, wrap as `$token$` and emit every k-char substring; group to a
  * sorted distinct term list (`CharKGramTermIndexer.java:98-110`;
  * canonical sorted/distinct semantics per SURVEY §2.10-Q6 decision).
  *
  * The capability R4 exists for is wildcard queries: grams of a pattern
  * like `re*ve` → intersect the gram term lists → candidate terms (used
  * by [[graft.query.QueryEngine.wildcardTerms]]).
  */
object CharKGramIndex {

  /** (gram, terms ARRAY<STRING> sorted distinct) from a raw corpus. */
  def build(spark: SparkSession, corpus: DataFrame, k: Int = 3): DataFrame = {
    TextPipeline.register(spark)
    val vocab = corpus
      .select(explode(expr("graft_tokenize_raw(content)")).as("term"))
      .distinct()
    grams(vocab, k)
      .groupBy(col("gram"))
      .agg(sort_array(collect_set(col("term"))).as("terms"))
  }

  /** The delta corpus's gram → new-term lists (the merge input both
    * the frame-level and the store-level merge consume). */
  private def deltaLists(spark: SparkSession, delta: DataFrame,
                         k: Int): DataFrame = {
    TextPipeline.register(spark)
    val vocabD = delta
      .select(explode(expr("graft_tokenize_raw(content)")).as("term"))
      .distinct()
    grams(vocabD, k)
      .groupBy(col("gram"))
      .agg(collect_set(col("term")).as("new_terms"))
  }

  /** The ONE merge rule, shared by [[merge]] and [[mergeIntoStore]]:
    * grams the delta doesn't touch carry through unchanged
    * (left-anti); touched grams union the new terms into the sorted
    * distinct list. Term lists are VOCABULARY-level (no counts), so
    * the result is content-identical to a full rebuild. */
  private def mergeLists(base: DataFrame, dLists: DataFrame): DataFrame = {
    val untouched = base
      .join(dLists.select(col("gram")), Seq("gram"), "left_anti")
    val touched = dLists
      .join(base, Seq("gram"), "left")
      .select(col("gram"),
        sort_array(array_distinct(concat(
          coalesce(col("terms"),
            array().cast("array<string>")),
          col("new_terms")))).as("terms"))
    untouched.unionByName(touched)
  }

  /** Incremental maintenance, FRAME level: merge a DELTA corpus's
    * vocabulary into an existing chargram frame without re-tokenizing
    * the old collection — the delta path the other three index
    * artifacts already have ([[InvertedIndex.merge]],
    * [[PositionalIndex.merge]], [[graft.queries.IrSql
    * .mergeBm25Stats]]); without it, terms new to a merged corpus
    * were wildcard-UNREACHABLE until a full rebuild. Only the delta
    * is tokenized. NOTE the cost scope: the RETURNED FRAME unions
    * untouched + touched rows, so materializing it (a full `write`)
    * rewrites the whole table — the delta-proportional WRITE path is
    * [[mergeIntoStore]], which rewrites only the part files whose
    * gram ranges the delta intersects. Deleting terms is out of
    * scope, exactly as for the reference's rebuild-only indexer
    * (SURVEY §2.1 R4). */
  def merge(spark: SparkSession, base: DataFrame, delta: DataFrame,
            k: Int = 3): DataFrame =
    mergeLists(base, deltaLists(spark, delta, k))

  /** Persist the chargram table: RANGE-partitioned on gram (each file
    * covers one contiguous gram range, so a wildcard pattern's gram
    * lookups prune to single files via parquet min/max — and
    * [[mergeIntoStore]]'s file surgery has disjoint ranges to route
    * against; the previous hash layout scattered every range across
    * all files, defeating both).
    *
    * Overwrite semantics double as sidecar hygiene: Spark's overwrite
    * deletes the WHOLE target dir first, so a full rewrite over an
    * existing store also removes any `_graft_*` sidecars — a gram
    * table written from a frame carries no df information, so a
    * surviving df sidecar would be silently stale. Spec-pinned: after
    * a frame-level rewrite, [[deleteDocs]] fails loudly until
    * [[writeVocabDf]] is re-run. */
  def write(chargrams: DataFrame, dir: String,
            rowsPerFile: Long = InvertedIndex.WriteRowsPerFile): Unit = {
    // explicit file count (the InvertedIndex.write discipline): an
    // unsized repartitionByRange lets AQE coalesce the whole table
    // into one file, defeating both pruning and file surgery
    val n = math.max(1L,
      (chargrams.count() + rowsPerFile - 1) / rowsPerFile).toInt
    chargrams.repartitionByRange(n, col("gram"))
      .sortWithinPartitions("gram")
      .write.mode("overwrite").parquet(dir)
    // the overwrite wiped any prior generation marker with the dir:
    // start the O(1) staleness generation fresh
    graft.StoreGen.bump(new Path(dir).getFileSystem(
      chargrams.sparkSession.sparkContext.hadoopConfiguration),
      new Path(dir))
  }

  def load(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Every dir a chargram store serves from — the gram table (the
    * store root itself) and its maintenance sidecars (the
    * [[PostingsStore.stampDirs]] contract). */
  private[graft] def stampDirs(dir: String): Seq[String] =
    dir +: Seq(VocabDfDir, DeletedDocsDir, AppliedOpsDir)
      .map(n => s"$dir/$n")

  private val StagedDir = "_graft_cg_new"
  private val Marker = "_graft_cg_inflight"

  /** Incremental maintenance, STORE level — the delta-proportional
    * WRITE path: merge a delta corpus's vocabulary directly into a
    * WRITTEN chargram store, rewriting ONLY the part files whose gram
    * ranges the delta touches (plus one new range for grams no file
    * covers). Untouched part files are left byte-identical
    * (spec-pinned), so at store scale the write cost is proportional
    * to the delta's gram footprint, not the corpus vocabulary — the
    * claim the frame-level [[merge]] cannot make.
    *
    * Protocol (the [[graft.queries.IrSql.mergeBm25Stats]] staged
    * commit, extended with a touched-file list because surgery
    * REPLACES files rather than appending):
    *  1. route the delta's grams against the store's per-file ranges
    *     (one narrow gram-column scan — O(files) driver state);
    *  2. build replacement rows = [[mergeLists]] over ONLY the
    *     touched files' rows (+ delta grams no file covers) and stage
    *     them, range-laid, into a hidden dir inside the store;
    *  3. COMMIT: write the marker file listing the touched part
    *     files, then delete those files, rename the staged parts in,
    *     clear the marker.
    * [[recoverCgMerge]] (run at every entry) rolls an uncommitted
    * attempt back (marker absent → delete staging) or completes a
    * committed one (marker present → staging is complete by
    * construction: delete any listed file still present, move staged
    * parts in, clear). Run behind the serving path's quiesce, as all
    * store maintenance. */
  def mergeIntoStore(spark: SparkSession, dir: String, delta: DataFrame,
                     k: Int = 3,
                     rowsPerFile: Long = InvertedIndex.WriteRowsPerFile)
      : Unit = {
    recoverCgMerge(spark, dir)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import graft.ops.Stage.StageOps
    val dLists = deltaLists(spark, delta, k).stage()
    // per-file gram ranges: a narrow scan of the gram column only
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("gram")).as("lo"), max(col("gram")).as("hi"))
    val routed = dLists.select(col("gram"))
      .join(broadcast(ranges),
        col("gram") >= col("lo") && col("gram") <= col("hi"),
        "left")
      .select(col("gram"), col("file"))
      .stage()
    val touchedFiles = routed.filter(col("file").isNotNull)
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    // delta grams covered by NO file open a new range; covered grams
    // rewrite their covering file — either way they are "relevant"
    // to the replacement region, and nothing else is
    val baseTouched =
      if (touchedFiles.isEmpty)
        spark.read.parquet(dir).limit(0)
      else spark.read.parquet(touchedFiles: _*)
    val replacement = mergeLists(baseTouched, dLists).stage()
    val staged = new Path(root, StagedDir)
    val nRep = math.max(1L,
      (replacement.count() + rowsPerFile - 1) / rowsPerFile).toInt
    replacement.repartitionByRange(nRep, col("gram"))
      .sortWithinPartitions("gram")
      .write.mode("overwrite").parquet(staged.toString)
    // a df sidecar stays exact across merges: the delta docs (new
    // ids, the merge contract) add their per-term doc counts —
    // staged under the SAME commit as the gram surgery. DELTA-
    // bounded: the old full-outer join shuffled the whole
    // vocabulary per merge; now the sidecar is probed for only the
    // delta's terms (literal-pruned batch-sized hit set), those rows
    // adjust, born terms append, and the untouched rows carry
    // through one broadcast-anti pass — no vocabulary-scale shuffle
    readVocabDf(spark, dir, fs).foreach { base =>
      import graft.ops.Stage.StageOps
      val inc = docTermsOf(spark, delta)
        .groupBy(col("term")).agg(count(lit(1)).as("inc")).stage()
      val incTerms = inc.select(col("term"))
      val hit = graft.queries.IrSql.semiByKey(base, "term", incTerms)
        .stage()
      val adjusted = hit.join(broadcast(inc), Seq("term"))
        .select(col("term"), (col("df") + col("inc")).as("df"))
      val born = inc
        .join(broadcast(hit.select(col("term"))), Seq("term"),
          "left_anti")
        .select(col("term"), col("inc").as("df"))
      base.join(broadcast(incTerms), Seq("term"), "left_anti")
        .unionByName(adjusted).unionByName(born)
        .coalesce(1).sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(new Path(staged, "_df").toString)
    }
    // COMMIT POINT: the marker records which files the swap replaces
    val out = fs.create(new Path(root, Marker), false)
    try out.write(touchedFiles.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    finishCgSwap(fs, root, touchedFiles)
  }

  /** Delete the replaced files, move the staged parts in, commit any
    * staged sidecars (`_df` replaces the vocab-df table; `_deleted`
    * appends a replay-guard batch; `_deleted_new` REPLACES the
    * deleted-docs ledger — an update re-admits ids; `_ops_new`
    * REPLACES the applied-operations ledger), clear the marker — each
    * step idempotent, so a crash anywhere replays. */
  private def finishCgSwap(fs: org.apache.hadoop.fs.FileSystem,
                           root: Path, touched: Seq[String]): Unit = {
    touched.foreach { f => fs.delete(new Path(f), false); () }
    val staged = new Path(root, StagedDir)
    if (fs.exists(staged)) {
      fs.listStatus(staged)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .foreach { f =>
          require(fs.rename(f.getPath,
              new Path(root, f.getPath.getName)),
            s"rename ${f.getPath} -> $root failed mid-cg-swap")
        }
      val stDf = new Path(staged, "_df")
      if (fs.exists(stDf)) {
        val cur = new Path(root, VocabDfDir)
        fs.delete(cur, true)
        require(fs.rename(stDf, cur),
          s"rename $stDf -> $cur failed mid-cg-swap")
      }
      val stDel = new Path(staged, "_deleted")
      if (fs.exists(stDel)) {
        val dst = new Path(root, DeletedDocsDir)
        fs.mkdirs(dst)
        fs.listStatus(stDel)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .foreach { f =>
            require(fs.rename(f.getPath,
                new Path(dst, f.getPath.getName)),
              s"rename ${f.getPath} -> $dst failed mid-cg-swap")
          }
      }
      val stDelNew = new Path(staged, "_deleted_new")
      if (fs.exists(stDelNew)) {
        val cur = new Path(root, DeletedDocsDir)
        fs.delete(cur, true)
        require(fs.rename(stDelNew, cur),
          s"rename $stDelNew -> $cur failed mid-cg-swap")
      }
      val stOps = new Path(staged, "_ops_new")
      if (fs.exists(stOps)) {
        // the ledger REPLACES (old ops ∪ new op, staged as one file) —
        // an append-per-op ledger would accumulate one tiny parquet
        // file per update forever with no compaction path
        val cur = new Path(root, AppliedOpsDir)
        fs.delete(cur, true)
        require(fs.rename(stOps, cur),
          s"rename $stOps -> $cur failed mid-cg-swap")
      }
    }
    fs.delete(staged, true)
    // the chargram STORE ROOT is the gram table itself: its O(1)
    // staleness generation lives inside it (`_`-prefixed — invisible
    // to the parquet reader). Bumped BEFORE the marker clears, so a
    // crash in between replays the finish and re-bumps.
    graft.StoreGen.bump(fs, root)
    fs.delete(new Path(root, Marker), false)
    ()
  }

  /** Crash recovery for [[mergeIntoStore]]: marker ABSENT → any
    * staging dir is an uncommitted attempt, roll back by deleting it
    * (the store proper was never touched); marker PRESENT → the
    * staged replacement completed before the commit, so finish the
    * swap from the marker's touched-file list. Safe when no merge was
    * in flight. */
  def recoverCgMerge(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, Marker)
    if (!fs.exists(marker)) {
      fs.delete(new Path(root, StagedDir), true)
      ()
    } else {
      val in = fs.open(marker)
      val touched =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").toSeq.filter(_.nonEmpty)
        finally in.close()
      finishCgSwap(fs, root, touched)
    }
  }

  /** (gram, term) pairs for a vocabulary DF with column `term`. Terms
    * whose wrapped form is shorter than k produce NOTHING: without the
    * filter, `sequence(1, n)` with n < 1 counts DOWN by default and
    * the negative positions emit wrong-length garbage grams (relevant
    * only for k > 3; the k=3 floor is a 1-char term, wrapped to 3). */
  def grams(vocab: DataFrame, k: Int): DataFrame =
    vocab
      .filter(length(col("term")) + 2 >= k)
      .withColumn("wrapped", concat(lit("$"), col("term"), lit("$")))
      .select(col("term"),
        explode(transform(sequence(lit(1), length(col("term")) + 2 - (k - 1)),
          i => col("wrapped").substr(i, lit(k)))).as("gram"))
      .distinct()

  // ---- takedown deletion: the vocabulary recount, incremental -----
  //
  // The chargram artifact is VOCABULARY-level (gram → term lists, no
  // doc attribution), so deleting a DOC is defined as the vocabulary
  // recount: a term leaves the lists exactly when its last containing
  // doc leaves the corpus. The reference rebuilds for this; the
  // incremental path keeps one underscore-hidden sidecar per store —
  // a raw-vocabulary document-frequency table — so the recount is
  // takedown-bounded arithmetic instead of a corpus re-tokenization.

  /** Sidecar: (term, df) at the store's own tokenizer level —
    * underscore-prefixed so the store's root read never sees it. */
  private[graft] val VocabDfDir = "_graft_vocab_df"

  /** Sidecar: ids of docs already deleted (replay guard). */
  private[graft] val DeletedDocsDir = "_graft_deleted_docs"

  /** Per-doc DISTINCT raw tokens of a corpus frame — the (doc_id,
    * term) shape [[writeVocabDf]] and [[deleteDocs]] consume, under
    * THIS store family's tokenizer ([[TextPipeline.tokenizeOnly]]).
    * Stores built from a different vocabulary generator (e.g. the
    * SQL-subset q09 family) must supply their own doc-terms frame —
    * the df sidecar is only exact under the tokenizer that built the
    * store. */
  def docTermsOf(spark: SparkSession, corpus: DataFrame): DataFrame = {
    TextPipeline.register(spark)
    corpus.select(col("docid").as("doc_id"),
        explode(expr("graft_tokenize_raw(content)")).as("term"))
      .distinct()
  }

  /** Write the df sidecar for a store whose vocabulary came from
    * `docTerms` ((doc_id, term), distinct per doc). Call once at
    * store creation; [[mergeIntoStore]] and [[deleteDocs]] keep it
    * exact from then on. */
  def writeVocabDf(spark: SparkSession, dir: String,
                   docTerms: DataFrame): Unit = {
    // term-sorted so the maintenance paths' literal-pruned batch
    // probes (semiByKey) row-group-prune instead of scanning the
    // whole vocabulary
    docTerms.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .repartitionByRange(col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/$VocabDfDir")
    graft.StoreGen.bump(new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration), new Path(dir))
  }

  private def readVocabDf(spark: SparkSession, dir: String,
                          fs: org.apache.hadoop.fs.FileSystem)
      : Option[DataFrame] = {
    val p = new Path(dir, VocabDfDir)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** TAKEDOWN-shaped doc deletion — the vocabulary recount done
    * incrementally: `docTerms` is the dead docs' (doc_id, term) frame
    * under the store's own tokenizer (takedown-bounded). The df
    * sidecar decrements; terms whose df reaches zero leave the gram
    * lists SURGICALLY (only part files whose ranges cover a dead
    * term's grams rewrite — the [[mergeIntoStore]] staged-commit
    * protocol; grams whose whole list dies drop their row, exactly as
    * a rebuild of the reduced vocabulary would). Replays are no-ops
    * (a deleted-docs sidecar filters ids already taken down), and the
    * new df table + deleted-ids batch commit under the SAME marker as
    * the gram surgery, so a crash anywhere replays or rolls back the
    * whole delete. Requires the df sidecar ([[writeVocabDf]]) —
    * without it the recount needs the corpus, i.e. a rebuild. */
  def deleteDocs(spark: SparkSession, dir: String,
                 docTerms: DataFrame): Unit = {
    recoverCgMerge(spark, dir)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vocabDf = readVocabDf(spark, dir, fs).getOrElse(
      throw new IllegalStateException(
        s"$dir has no $VocabDfDir sidecar — write it at store " +
          "creation (writeVocabDf); without df the vocabulary " +
          "recount requires a rebuild"))
    import graft.ops.Stage.StageOps
    // replay guard: drop docs already deleted
    val deletedDir = new Path(root, DeletedDocsDir)
    val already =
      if (fs.exists(deletedDir) && fs.listStatus(deletedDir).exists(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet")))
        Some(spark.read.parquet(deletedDir.toString))
      else None
    val fresh0 = docTerms.select(
      col("doc_id").cast("string").as("doc_id"), col("term"))
    val fresh = already.fold(fresh0)(d =>
      fresh0.join(d.select(col("doc_id").cast("string").as("doc_id")),
        Seq("doc_id"), "left_anti")).stage()
    if (fresh.limit(1).count() == 0) return
    // the recount: df decrements; <=0 → the term leaves the lists.
    // DELTA-bounded: probe the sidecar for the batch's terms only
    // (literal-pruned, batch-sized hit set) — the old anti-join of
    // the vocabulary against its own adjusted twin shuffled two
    // vocabulary-scale tables to find a batch-sized dead set
    val dec = fresh.groupBy(col("term")).agg(count(lit(1)).as("dec"))
      .stage()
    val decTerms = dec.select(col("term"))
    val hit = graft.queries.IrSql.semiByKey(vocabDf, "term", decTerms)
      .stage()
    val adjusted = hit.join(broadcast(dec), Seq("term"))
      .select(col("term"), (col("df") - col("dec")).as("df"))
      .stage()
    val deadTerms = adjusted.filter(col("df") <= 0)
      .select(col("term")).stage()
    // untouched rows carry through one broadcast-anti pass (no
    // shuffle), evaluated once by the staged `_df` write below
    val newDf = vocabDf.join(broadcast(decTerms), Seq("term"),
        "left_anti")
      .unionByName(adjusted.filter(col("df") > 0))
    // surgical gram-list removal for the dead terms (may be empty —
    // then only the sidecars change)
    val deadGrams = grams(deadTerms, storeK(spark, dir))
      .select(col("gram")).distinct()
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("gram")).as("lo"), max(col("gram")).as("hi"))
    val touchedFiles = deadGrams
      .join(broadcast(ranges),
        col("gram") >= col("lo") && col("gram") <= col("hi"))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val staged = new Path(root, StagedDir)
    if (touchedFiles.nonEmpty) {
      val replacement = spark.read.parquet(touchedFiles: _*)
        .select(col("gram"), explode(col("terms")).as("term"))
        .join(broadcast(deadTerms), Seq("term"), "left_anti")
        .groupBy(col("gram"))
        .agg(sort_array(collect_set(col("term"))).as("terms"))
      replacement.repartitionByRange(
          math.max(1, touchedFiles.length), col("gram"))
        .sortWithinPartitions("gram")
        .write.mode("overwrite").parquet(staged.toString)
    } else fs.mkdirs(staged)
    // stage the sidecars under the same commit (the df replacement
    // term-sorted so future batch probes row-group-prune)
    newDf.coalesce(1).sortWithinPartitions("term")
      .write.mode("overwrite")
      .parquet(new Path(staged, "_df").toString)
    fresh.select(col("doc_id")).distinct().coalesce(1)
      .write.mode("overwrite")
      .parquet(new Path(staged, "_deleted").toString)
    // COMMIT POINT (the mergeIntoStore marker)
    val out = fs.create(new Path(root, Marker), false)
    try out.write(touchedFiles.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    finishCgSwap(fs, root, touchedFiles)
  }

  /** The k this store was built at, from an existing gram's length
    * (every row's gram is exactly k chars). */
  private def storeK(spark: SparkSession, dir: String): Int =
    spark.read.parquet(dir).select(length(col("gram")))
      .limit(1).collect().headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalStateException(
        s"$dir has no gram rows — the store's k cannot be derived " +
          "from an emptied vocabulary; rebuild it from the corpus"))

  // ---- takedown UPDATE: the vocabulary re-count for a re-crawl ----

  /** Sidecar: applied update operation ids — the replay guard for
    * [[updateDocs]]. The chargram artifact has NO doc membership to
    * derive "already applied" from (unlike the four row stores, where
    * replaying delete+append converges by construction), and its
    * delete/merge arithmetic is caller-supplied — replaying it blind
    * would double-count df. So an update is keyed by an explicit
    * caller-chosen operation id, recorded under the SAME marker
    * commit as the surgery; a replay sees the id and no-ops. */
  private[graft] val AppliedOpsDir = "_graft_applied_ops"

  /** Ledger hash value meaning "applied before content binding
    * existed" — replays of such ops are accepted unverified (the
    * pre-r15 contract), never failed. */
  private val LegacyHash = 0L

  private def appliedOps(spark: SparkSession, dir: String,
                         fs: org.apache.hadoop.fs.FileSystem)
      : Map[String, Long] = {
    val p = new Path(dir, AppliedOpsDir)
    if (fs.exists(p) && fs.listStatus(p).exists(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet")))
      readOpsLedger(spark, p)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    else Map.empty
  }

  /** The ops ledger with the content-hash column backfilled for
    * stores written before it existed (their ops read as
    * [[LegacyHash]] — accepted on replay, migrated on next write). */
  private def readOpsLedger(spark: SparkSession,
                            p: Path): DataFrame = {
    val raw = spark.read.parquet(p.toString)
    if (raw.columns.contains("content_hash")) raw
    else raw.withColumn("content_hash", lit(LegacyHash))
  }

  /** Order-independent content fingerprint of an update request (the
    * old/new doc-term frames), bound into the ops ledger so the
    * 'same opId, same content' replay contract is ENFORCED: a reused
    * opId with different content fails loudly instead of silently
    * no-op'ing this leg while the other stores apply the new content
    * (cross-store vocabulary drift). XOR-folded per-row xxhash64
    * (paired with the row count) — frame order and partitioning
    * cannot move it, and the fold cannot overflow under ANSI. */
  private def requestHash(oldDocTerms: DataFrame,
                          newDocTerms: DataFrame): Long = {
    def h(df: DataFrame, tag: Int): Long = {
      val r = df.agg(
        coalesce(bit_xor(xxhash64(col("doc_id").cast("string"),
          col("term"), lit(tag))), lit(0L)),
        count(lit(1))).head()
      r.getLong(0) ^ (r.getLong(1) * 0x9e3779b97f4a7c15L)
    }
    h(oldDocTerms, 0) ^ java.lang.Long.rotateLeft(h(newDocTerms, 1), 17)
  }

  /** UPDATE docs in place — the re-crawl shape for the vocabulary
    * artifact, ONE staged-marker transaction: df adjusts by
    * (−oldTerms +newTerms) per raw term; terms whose df reaches zero
    * leave the gram lists and terms NEW to the vocabulary enter them,
    * in a single file surgery over exactly the part files their grams
    * touch; the new df table, the applied-ops replay batch and the
    * deleted-docs ledger (minus the re-admitted ids — an updated doc
    * is deletable again) all commit under the SAME marker, so a crash
    * anywhere replays or rolls back the WHOLE update.
    *
    * `oldDocTerms` / `newDocTerms` are the updated docs' (doc_id,
    * term) frames under the store's own tokenizer (takedown-bounded —
    * only the updated docs tokenize). Docs currently in the DELETED
    * ledger contribute no decrement (their terms already left the df
    * at delete time) and re-enter as pure inserts — update doubles as
    * the un-delete path. Replays of `opId` are no-ops. Requires the
    * df sidecar ([[writeVocabDf]]). */
  def updateDocs(spark: SparkSession, dir: String, opId: String,
                 oldDocTerms: DataFrame,
                 newDocTerms: DataFrame): Unit = {
    recoverCgMerge(spark, dir)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import graft.ops.Stage.StageOps
    // staged ONCE: the content-hash guard, the df decrement and the
    // gram surgery all re-read these batch-sized frames
    val old0 = oldDocTerms.select(
      col("doc_id").cast("string").as("doc_id"), col("term")).stage()
    val neu = newDocTerms.select(
      col("doc_id").cast("string").as("doc_id"), col("term")).stage()
    val reqHash = requestHash(old0, neu)
    appliedOps(spark, dir, fs).get(opId) match {
      case Some(h) if h == reqHash => return // true replay: no-op
      case Some(LegacyHash) => return // pre-binding op: accept replay
      case Some(h) => throw new IllegalStateException(
        s"update op '$opId' was already applied with DIFFERENT " +
          s"content (ledger hash $h, request hash $reqHash) — an " +
          "opId reuse would silently skip this store while the " +
          "other stores apply the new content; choose a fresh opId")
      case None => ()
    }
    val vocabDf = readVocabDf(spark, dir, fs).getOrElse(
      throw new IllegalStateException(
        s"$dir has no $VocabDfDir sidecar — write it at store " +
          "creation (writeVocabDf); without df the vocabulary " +
          "recount requires a rebuild"))
    val deletedDir = new Path(root, DeletedDocsDir)
    val ledger =
      if (fs.exists(deletedDir) && fs.listStatus(deletedDir).exists(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet")))
        Some(spark.read.parquet(deletedDir.toString)
          .select(col("doc_id").cast("string").as("doc_id")))
      else None
    val old1 = ledger.fold(old0)(d =>
      old0.join(d, Seq("doc_id"), "left_anti"))
    val dec = old1.groupBy(col("term")).agg(count(lit(1)).as("dec"))
    val inc = neu.groupBy(col("term")).agg(count(lit(1)).as("inc"))
    val delta = dec.join(inc, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("inc"), lit(0L)) -
          coalesce(col("dec"), lit(0L))).as("d"))
      .filter(col("d") =!= 0L)
    // DELTA-bounded recount: the old shape shuffled the vocabulary
    // FOUR times per update (a full-outer adjust, its staged
    // materialization, and two vocabulary-vs-vocabulary anti-joins
    // for the dead/born sets) — at 104× that priced the 100-doc
    // update ABOVE a rebuild (1.42×). Probe the sidecar for the
    // delta's terms only (literal-pruned, batch-sized hit set);
    // dead = had a df row, none survives; born = new to the
    // vocabulary — all derived from the batch
    val deltaTerms = delta.select(col("term"))
    val hit = graft.queries.IrSql.semiByKey(vocabDf, "term",
      deltaTerms).stage()
    val adj = delta.join(broadcast(hit), Seq("term"), "left")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) + col("d")).as("df"),
        col("df").isNotNull.as("had"))
      .stage()
    val deadTerms = adj.filter(col("had") && col("df") <= 0)
      .select(col("term")).stage()
    val bornTerms = adj.filter(!col("had") && col("df") > 0)
      .select(col("term")).stage()
    // untouched rows carry through one broadcast-anti pass (no
    // shuffle), evaluated once by the staged `_df` write below
    val newDf = vocabDf.join(broadcast(deltaTerms), Seq("term"),
        "left_anti")
      .unionByName(adj.filter(col("df") > 0)
        .select(col("term"), col("df")))
    val k = storeK(spark, dir)
    val bornPairs = grams(bornTerms, k).stage() // (term, gram)
    val touchGrams = grams(deadTerms, k).select(col("gram"))
      .unionByName(bornPairs.select(col("gram"))).distinct()
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("gram")).as("lo"), max(col("gram")).as("hi"))
    val touchedFiles = touchGrams
      .join(broadcast(ranges),
        col("gram") >= col("lo") && col("gram") <= col("hi"))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val staged = new Path(root, StagedDir)
    val anyBorn = bornPairs.limit(1).count() > 0
    if (touchedFiles.nonEmpty || anyBorn) {
      val baseTouched =
        if (touchedFiles.isEmpty)
          spark.read.parquet(dir).limit(0)
        else spark.read.parquet(touchedFiles: _*)
      val replacement = baseTouched
        .select(col("gram"), explode(col("terms")).as("term"))
        .join(broadcast(deadTerms), Seq("term"), "left_anti")
        .unionByName(bornPairs.select(col("gram"), col("term")))
        .groupBy(col("gram"))
        .agg(sort_array(collect_set(col("term"))).as("terms"))
      replacement.repartitionByRange(
          math.max(1, touchedFiles.length), col("gram"))
        .sortWithinPartitions("gram")
        .write.mode("overwrite").parquet(staged.toString)
    } else fs.mkdirs(staged)
    // sidecars, all under the one commit. The ops ledger stages as
    // its FULL replacement (old ops ∪ this op, one file) so the store
    // never accumulates one parquet part per update
    newDf.coalesce(1).sortWithinPartitions("term")
      .write.mode("overwrite")
      .parquet(new Path(staged, "_df").toString)
    val opsDir = new Path(root, AppliedOpsDir)
    val oldOps =
      if (fs.exists(opsDir) && fs.listStatus(opsDir).exists(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet")))
        readOpsLedger(spark, opsDir) // legacy rows migrate on rewrite
      else spark.range(0)
        .select(lit("").as("op_id"), lit(0L).as("content_hash"))
        .limit(0)
    oldOps.unionByName(
        spark.range(1).select(lit(opId).as("op_id"),
          lit(reqHash).as("content_hash")))
      .coalesce(1).write.mode("overwrite")
      .parquet(new Path(staged, "_ops_new").toString)
    ledger.foreach { d =>
      d.join(neu.select(col("doc_id")).distinct(), Seq("doc_id"),
          "left_anti")
        .coalesce(1).write.mode("overwrite")
        .parquet(new Path(staged, "_deleted_new").toString)
    }
    // COMMIT POINT (the mergeIntoStore marker)
    val out = fs.create(new Path(root, Marker), false)
    try out.write(touchedFiles.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    finishCgSwap(fs, root, touchedFiles)
  }
}
