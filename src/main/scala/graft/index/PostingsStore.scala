package graft.index

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Stage.StageOps
import graft.queries.IrSql

/** The durable lifecycle of a docno-keyed postings store — shared by
  * the inverted store ([[InvertedIndex]]: `postings` keyed on
  * `kgram`) and the positional store ([[PositionalIndex]]:
  * `pos_postings` keyed on `term`), which differ only in the data this
  * descriptor carries.
  *
  * Layout under a store dir:
  *  - `<postings>/`: range-partitioned + sorted on `key`, so a point
  *    lookup prunes to one file / row group by parquet min/max;
  *  - `doc_map/` (docid, docno): range-laid on docno;
  *  - `corpus_stats/` (n_docs): the LIVE doc count;
  *  - `<postings>_ranges/`, `doc_map_ranges/` (file, lo, hi): zone-map
  *    manifests a serving node routes by without scanning;
  *  - `tombstones/` (docno): pending deletions, hidden by [[live]];
  *  - the store's `derived` artifacts (the inverted store's
  *    `term_stats`), kept append- and delete-exact by `derive`.
  *
  * Maintenance ([[append]], [[delete]], [[compact]]) starts with
  * [[recover]], stages its writes inside the store, commits by a
  * marker file and finishes idempotently from the marker, so a crash
  * anywhere rolls back (no marker) or replays (marker). Run behind
  * the serving quiesce; the stamped servers detect the mutation.
  *
  * `derive(spark, dir, touched)` re-derives the derived artifacts for
  * the `key` values `touched` yields (a lazy one-column frame: the
  * added files' keys on append, the tombstoned docs' keys on delete)
  * from the live postings; it must be idempotent. */
private[graft] final case class PostingsStore(
    postings: String, key: String, derived: Seq[String],
    derive: (SparkSession, String, () => DataFrame) => Unit) {
  import PostingsStore._

  private val manifest = s"${postings}_ranges"

  /** Every artifact dir the store serves from — the set a serving
    * snapshot's [[graft.query.DirVersion]] stamp folds when the store
    * carries no [[graft.StoreGen]] marker. */
  def stampDirs(dir: String): Seq[String] =
    ((postings +: derived) ++ Seq("doc_map", "corpus_stats", manifest,
      "doc_map_ranges", TombstonesDir)).map(n => s"$dir/$n")

  /** Persist a built store: `rows` (postings in their on-disk shape)
    * and `docMap` range-laid, corpus_stats, both manifests, then the
    * [[graft.StoreGen]] bump — a rebuild at a previously-mutated dir
    * must move the stamp even though its overwrites bypass the bumping
    * commit helpers. */
  def write(dir: String, rows: DataFrame, docMap: DataFrame, nDocs: Long,
            rowsPerFile: Long): Unit = {
    val spark = docMap.sparkSession
    laid(rows, rows.count(), key, rowsPerFile, s"$dir/$postings")
    laid(docMap, docMap.count(), "docno", rowsPerFile, s"$dir/doc_map")
    spark.range(1).select(lit(nDocs).as("n_docs"))
      .write.mode("overwrite").parquet(s"$dir/corpus_stats")
    ranges(spark, key, s"$dir/$postings")
      .write.mode("overwrite").parquet(s"$dir/$manifest")
    ranges(spark, "docno", s"$dir/doc_map")
      .write.mode("overwrite").parquet(s"$dir/doc_map_ranges")
    graft.StoreGen.bump(fsOf(spark, dir), new Path(dir))
  }

  /** Append a delta corpus — the delta-proportional write a re-crawl
    * needs (persisting a merged frame rewrites the whole store).
    * `build` numbers the staged delta densely from 1 and returns its
    * postings in the store's on-disk shape; docnos then continue after
    * the store's RAW max (a reused tombstoned docno would inherit its
    * tombstone and vanish). The delta's files land range-laid within
    * themselves beside the existing ones — one file per lookup per
    * append generation, the LSM shape a rebuild re-ranges — and the
    * manifests extend by exactly the added files.
    *
    * Contract: delta docids disjoint from the store's LIVE docids
    * (enforced). A re-ingest is [[delete]] then this append: the
    * pending tombstone hides the old version while the new serves. */
  def append(spark: SparkSession, dir: String, delta: DataFrame,
             rowsPerFile: Long)(build: DataFrame => Delta): Unit = {
    recover(spark, dir)
    val root = new Path(dir)
    val rawMap = spark.read.parquet(s"$dir/doc_map")
    // stage the delta ONCE: the disjointness pass below fully
    // evaluates it, and build() re-reads it — an expensive delta
    // frame must not pay its lineage twice
    val d = delta.stage()
    require(d.join(live(spark, dir)(rawMap), Seq("docid"), "left_semi")
        .limit(1).count() == 0,
      "delta docids must be disjoint from the store's LIVE docids — " +
        "a re-ingest deletes the old version first (deleteDocs)")
    val base = maxDocno(rawMap)
    val dx = build(d)
    try {
      if (dx.nDocs == 0) return
      laid(shift(dx.postings, base), dx.postings.count(), key,
        rowsPerFile, new Path(root, AppendPostingsDir).toString)
      laid(shift(dx.docMap, base), dx.nDocs, "docno", rowsPerFile,
        new Path(root, AppendDocMapDir).toString)
      val fs = fsOf(spark, dir)
      // target-relative names (`table/part-…`): the derive replays
      // exactly from the marker
      val added = appendTargets.flatMap { case (staged, table) =>
        fs.listStatus(new Path(root, staged)).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => s"$table/${f.getPath.getName}")
      }
      StoreSurgery.writeLines(fs, new Path(root, AppendMarker), added)
      finishAppend(spark, dir, added) // ^ COMMIT POINT
    } finally dx.release()
  }

  private def appendTargets =
    Seq(AppendPostingsDir -> postings, AppendDocMapDir -> "doc_map")

  /** Move the staged parts in, extend the manifests by the added files,
    * derive for the added files' keys, set corpus_stats to the live
    * count, clear the marker — each step idempotent from the marker's
    * file list plus the store state, so a crash anywhere replays. */
  private def finishAppend(spark: SparkSession, dir: String,
                           added: Seq[String]): Unit = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    appendTargets.foreach { case (staged, table) =>
      IrSql.moveParts(fs, new Path(root, staged), new Path(root, table))
      fs.delete(new Path(root, staged), true)
    }
    def addedTo(table: String) = added.collect {
      case n if n.startsWith(s"$table/") => n.stripPrefix(s"$table/")
    }
    val addedPost = addedTo(postings)
    extendRanges(spark, dir, postings, manifest, key, addedPost)
    extendRanges(spark, dir, "doc_map", "doc_map_ranges", "docno",
      addedTo("doc_map"))
    if (addedPost.nonEmpty)
      derive(spark, dir, () => spark.read
        .parquet(addedPost.map(n => s"$dir/$postings/$n"): _*)
        .select(col(key)).distinct())
    IrSql.swapIn(spark, s"$dir/corpus_stats", liveCount(spark, dir))
    fs.delete(new Path(root, AppendMarker), false)
    ()
  }

  /** Extend a zone-map manifest by exactly the ADDED files' ranges —
    * no store-wide key rescan. IDEMPOTENT: rows are keyed by file
    * basename (part names are job-unique), so a replay replaces the
    * added rows instead of duplicating them. */
  private def extendRanges(spark: SparkSession, dir: String,
                           table: String, manifest: String, key: String,
                           addedNames: Seq[String]): Unit = {
    if (addedNames.isEmpty) return
    val fs = fsOf(spark, dir)
    val paths = addedNames.map(n => s"$dir/$table/$n")
      .filter(p => fs.exists(new Path(p)))
    require(paths.size == addedNames.size,
      s"append derive: ${addedNames.size - paths.size} added part " +
        s"file(s) missing under $dir/$table — the commit moved " +
        "them in before the marker cleared, so this is store damage, " +
        "not a crash state")
    val carried = spark.read.parquet(s"$dir/$manifest")
      .filter(!element_at(split(col("file"), "/"), -1)
        .isin(addedNames: _*))
    IrSql.swapIn(spark, s"$dir/$manifest",
      carried.unionByName(ranges(spark, key, paths: _*)).coalesce(1))
  }

  /** TAKEDOWN-SHAPED deletion: the docids' docnos are TOMBSTONED (rows
    * stay on disk until [[compact]]; loads serve the [[live]] view),
    * while corpus_stats and the derived artifacts go exact now, so
    * every ranking equals a store rebuilt without the docs. */
  def delete(spark: SparkSession, dir: String, docids: DataFrame): Unit = {
    recover(spark, dir)
    val root = new Path(dir)
    val del = live(spark, dir)(spark.read.parquet(s"$dir/doc_map")
        .join(docids.select(col("docid")).distinct(), Seq("docid"),
          "left_semi")
        .select(col("docno")))
      .stage()
    if (del.limit(1).count() == 0) return
    del.write.mode("overwrite")
      .parquet(new Path(root, DeleteStaging).toString)
    fsOf(spark, dir).create(new Path(root, DeleteMarker), false).close()
    finishDelete(spark, dir) // ^ COMMIT POINT
  }

  /** Move the staged tombstones in, re-derive for the keys of EVERY
    * tombstoned doc and recount corpus_stats (both idempotent from
    * the full tombstone set), then clear the marker. */
  private def finishDelete(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    IrSql.moveParts(fs, new Path(root, DeleteStaging),
      new Path(root, TombstonesDir))
    fs.delete(new Path(root, DeleteStaging), true)
    readTombs(spark, dir).foreach { t =>
      derive(spark, dir, () => spark.read.parquet(s"$dir/$postings")
        .join(broadcast(t), Seq("docno"), "left_semi")
        .select(col(key)).distinct())
      IrSql.swapIn(spark, s"$dir/corpus_stats", liveCount(spark, dir))
    }
    fs.delete(new Path(root, DeleteMarker), false)
    ()
  }

  /** Physically reclaim tombstoned rows: [[StoreSurgery.reclaim]]
    * rewrites only the part files that hold a dead row (the r13
    * full-table repartition measured MORE expensive than a rebuild at
    * 26×), reading the RAW files so a compressed store stays
    * compressed; then the manifests refresh and the tombstones drop
    * LAST, so a crash mid-way replays (the surgeries become no-ops).
    * The read view is the same at every instant. */
  def compact(spark: SparkSession, dir: String): Unit = {
    recover(spark, dir)
    readTombs(spark, dir).foreach { tomb =>
      StoreSurgery.reclaim(spark, s"$dir/$postings", "docno", tomb,
        layoutKey = key)
      StoreSurgery.reclaim(spark, s"$dir/doc_map", "docno", tomb,
        layoutKey = "docno")
      IrSql.swapIn(spark, s"$dir/$manifest",
        ranges(spark, key, s"$dir/$postings"))
      IrSql.swapIn(spark, s"$dir/doc_map_ranges",
        ranges(spark, "docno", s"$dir/doc_map"))
      fsOf(spark, dir).delete(new Path(dir, TombstonesDir), true)
    }
  }

  /** Crash recovery for every maintenance op, run at each entry: the
    * swap-managed artifacts first, then the append marker (replay) or
    * its staging (roll back), then the reclaim surgeries, then the
    * delete marker (replay) or its staging (roll back). Safe when
    * nothing was in flight. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    ((manifest +: "doc_map_ranges" +: derived) :+ "corpus_stats")
      .foreach(IrSql.recoverArtifact(spark, dir, _))
    val appendMarker = new Path(root, AppendMarker)
    if (fs.exists(appendMarker))
      finishAppend(spark, dir, StoreSurgery.readLines(fs, appendMarker))
    else appendTargets.foreach { case (staged, _) =>
      fs.delete(new Path(root, staged), true)
    }
    StoreSurgery.recover(spark, s"$dir/$postings")
    StoreSurgery.recover(spark, s"$dir/doc_map")
    if (fs.exists(new Path(root, DeleteMarker))) finishDelete(spark, dir)
    else { fs.delete(new Path(root, DeleteStaging), true); () }
  }
}

private[graft] object PostingsStore {

  private val TombstonesDir = "tombstones"
  private val DeleteStaging = "_graft_tomb_new"
  private val DeleteMarker = "_graft_delete_inflight"
  private val AppendPostingsDir = "_graft_delta_postings"
  private val AppendDocMapDir = "_graft_delta_doc_map"
  private val AppendMarker = "_graft_append_inflight"

  /** A delta corpus built with its own dense 1..nDocs numbering:
    * postings in the store's on-disk row shape, its doc map, and the
    * release of the build's caches. */
  final case class Delta(postings: DataFrame, docMap: DataFrame,
                         nDocs: Long, release: () => Unit)

  /** Dense docno numbering of a raw (docid, content) corpus — the
    * build prelude of both stores. The SCALABLE two-phase range-
    * partition form: at 100 TB the doc_map is corpus-sized, and the
    * single-partition window form ([[graft.corpus.TrecCorpus
    * .docnoMapping]], kept as the documented reference) would funnel
    * it through one task. The docMap is a serving artifact, so it is
    * cached (un-persisted, each search would re-run the corpus scan
    * and numbering); its partitioning is sized to the corpus (~1M
    * entries per partition, capped at the session default), so a small
    * corpus serves docid lookups from one task instead of a fan of
    * empty ones. Counting first makes the count a cheap cached action
    * instead of a second full corpus parse. */
  def numbered(spark: SparkSession, corpus: DataFrame): (DataFrame, Long) = {
    val dm = graft.corpus.TrecCorpus.docnoMappingScalable(spark, corpus)
    val nDocs = dm.count()
    val mapParts = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      nDocs / 1000000L + 1)).toInt
    (dm.coalesce(mapParts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      nDocs)
  }

  /** The highest docno of a doc map; 0 when empty (the bootstrap of an
    * incremental crawl). */
  def maxDocno(docMap: DataFrame): Long = {
    val r = docMap.agg(max(col("docno"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Continue a delta's 1..n docnos after `base`. */
  def shift(df: DataFrame, base: Long): DataFrame =
    df.withColumn("docno", col("docno") + base)

  /** The store's tombstoned docnos, if any deletions are pending. */
  def readTombs(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(s"$dir/$TombstonesDir")
    val fs = fsOf(spark, dir)
    if (fs.exists(p) && fs.listStatus(p)
        .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
      Some(spark.read.parquet(p.toString).select(col("docno")))
    else None
  }

  /** The LIVE view of a docno-keyed frame: an anti-join on the pending
    * tombstones (broadcast — a takedown set is request-sized), the
    * identity when there are none. */
  def live(spark: SparkSession, dir: String): DataFrame => DataFrame =
    readTombs(spark, dir) match {
      case Some(t) => _.join(broadcast(t), Seq("docno"), "left_anti")
      case None    => identity
    }

  private def liveCount(spark: SparkSession, dir: String): DataFrame =
    live(spark, dir)(spark.read.parquet(s"$dir/doc_map"))
      .agg(count(lit(1)).as("n_docs"))

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** RANGE partition (not hash) on `key`, sorted within files: each
    * output file covers one contiguous key range, so a point lookup
    * prunes to a single file via parquet min/max. The file count
    * derives from the row count (`rows` / `rowsPerFile`), not from
    * `spark.sql.shuffle.partitions`: a small store is ONE file. */
  private def laid(df: DataFrame, rows: Long, key: String,
                   rowsPerFile: Long, path: String): Unit = {
    val n = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
    df.repartitionByRange(n, col(key)).sortWithinPartitions(key)
      .write.mode("overwrite").parquet(path)
  }

  /** Zone-map manifest rows (file, lo, hi) of `key` over `paths` —
    * a narrow scan of the key column only, as one tiny file. */
  private def ranges(spark: SparkSession, key: String,
                     paths: String*): DataFrame =
    spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(key)).as("lo"), max(col(key)).as("hi"))
      .coalesce(1)
}
