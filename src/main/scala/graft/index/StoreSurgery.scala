package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-surgical tombstone reclaim for range-laid parquet tables —
  * the [[CharKGramIndex.mergeIntoStore]] staged-commit protocol
  * applied to DELETION: rewrite ONLY the part files that hold a dead
  * row, leave every other file byte-identical, so the reclaim cost
  * follows the takedown's FILE footprint, not the table.
  *
  * Which files a takedown touches is a property of the table's
  * layout key: a docno-ranged table (doc_map) localizes a dead docno
  * to one file; a term-ranged postings table scatters it across the
  * files covering the dead doc's terms — still a subset proportional
  * to the takedown's VOCABULARY at corpus scale (the full-rewrite
  * path this replaces scaled with the table instead, measured at 26×
  * costing MORE than a rebuild for the positional store).
  *
  * Protocol per table dir (all state lives inside it):
  *  1. probe: one key-column-pruned scan finds the files holding dead
  *     rows (`input_file_name` ⨝ dead — the broadcast is
  *     takedown-sized);
  *  2. stage: the touched files' live remainder, re-range-laid over
  *     the touched row span only, lands in a hidden dir;
  *  3. COMMIT: a marker file lists the replaced part files; then
  *     delete listed, rename staged in, clear marker.
  * [[recover]] (run at every maintenance entry) rolls an uncommitted
  * attempt back or completes a committed one. Run behind the serving
  * quiesce like all store maintenance; the stamped servers detect
  * the rewrite. Callers: [[PostingsStore.compact]] (the inverted and
  * positional stores) and the BM25 store's compaction
  * ([[graft.queries.IrSql.replayCompact]]). */
private[graft] object StoreSurgery {

  private val StagedDir = "_graft_rc_new"
  private val Marker = "_graft_rc_inflight"

  /** Committed-reclaim witness: written inside the table dir
    * (`_`-prefixed, invisible to parquet readers) by the swap finish
    * BEFORE the marker clears, and consumed at the next
    * [[reclaimWith]] entry — so its presence means "the most recent
    * reclaim pass on this table committed, and no newer one
    * started". A multi-table maintenance pass
    * ([[graft.queries.IrSql.replayCompact]]) replays each table by
    * its own committed state through it: a crash between two
    * tables' reclaims must not re-apply a liveness rule to rows the
    * committed leg already rewrote (generation labels reset). */
  val DoneSentinel = "_graft_rc_done"

  /** Rewrite `tableDir`'s dead-holding part files to their live
    * remainder (anti-join on `key` against `dead`, which must be a
    * one-column takedown-sized frame of that key), preserving the
    * `layoutKey` range layout at the existing file granularity.
    * Returns the number of part files replaced. */
  def reclaim(spark: SparkSession, tableDir: String, key: String,
              dead: DataFrame, layoutKey: String): Int = {
    val deadKeys = dead.select(col(key)).distinct()
    reclaimWith(spark, tableDir, key, deadKeys, layoutKey,
      rows => rows.join(broadcast(deadKeys), Seq(key), "left_anti"),
      Seq(layoutKey))
  }

  /** The generalized surgery: `touchKeys` (a one-column `key` frame,
    * takedown-sized) selects the part files to rewrite — any file
    * holding a row of those keys — and `live` maps the touched files'
    * rows to their replacement (the caller's full liveness rule: an
    * anti-join, a generation filter, a column rewrite). The caller
    * must guarantee every row `live` would CHANGE or DROP belongs to
    * a `touchKeys` key (rows in untouched files pass through
    * verbatim). Same staged-marker protocol and crash story as
    * [[reclaim]]. */
  def reclaimWith(spark: SparkSession, tableDir: String, key: String,
                  touchKeys: DataFrame, layoutKey: String,
                  live: DataFrame => DataFrame,
                  sortCols: Seq[String]): Int = {
    recover(spark, tableDir)
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a new pass consumes the previous pass's committed witness — if
    // THIS pass crashes pre-commit, the table replays as untouched
    // (re-probing a committed prior pass is idempotent)
    fs.delete(new Path(root, DoneSentinel), false)
    // a takedown-sized key set collects to LITERALS so the probe scan
    // row-group-prunes on the key's min/max instead of reading the
    // whole column through a join (graft.queries.IrSql.semiByKey —
    // the shared litCap discipline); a corpus-scale purge keeps the
    // join probe
    val touched = graft.queries.IrSql.semiByKey(
        spark.read.parquet(tableDir)
          .select(col(key), input_file_name().as("__file")),
        key, touchKeys)
      .select(col("__file")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (touched.isEmpty) return 0
    val replacement = live(spark.read.parquet(touched: _*))
    val staged = new Path(root, StagedDir)
    replacement.repartitionByRange(touched.length, col(layoutKey))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(staged.toString)
    // COMMIT POINT
    writeLines(fs, new Path(root, Marker), touched)
    finishSwap(fs, root, touched)
    touched.length
  }

  /** Delete the replaced files, move the staged parts in, clear the
    * marker — each step idempotent, so a crash anywhere replays. */
  private def finishSwap(fs: org.apache.hadoop.fs.FileSystem,
                         root: Path, touched: Seq[String]): Unit = {
    touched.foreach { f => fs.delete(new Path(f), false); () }
    val staged = new Path(root, StagedDir)
    if (fs.exists(staged))
      fs.listStatus(staged)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .foreach { f =>
          require(fs.rename(f.getPath,
              new Path(root, f.getPath.getName)),
            s"rename ${f.getPath} -> $root failed mid-reclaim-swap")
        }
    fs.delete(staged, true)
    // the committed witness lands BEFORE the marker clears (a crash
    // in between replays the finish and re-writes it), so whenever
    // the marker is gone and a reclaim committed, the sentinel is
    // there — the invariant replayCompact's per-table branch needs
    fs.create(new Path(root, DoneSentinel), true).close()
    // table files were replaced: bump the store's O(1) staleness
    // generation (tables live one level under the store root) —
    // BEFORE the marker clears, so a crash in between replays the
    // finish and re-bumps instead of leaving a stale generation
    graft.StoreGen.bump(fs, root.getParent)
    fs.delete(new Path(root, Marker), false)
    ()
  }

  /** Marker ABSENT → any staging dir is an uncommitted attempt, roll
    * back by deleting it (the table was never touched); marker
    * PRESENT → the staged replacement completed before the commit,
    * finish the swap from the marker's file list. Safe when no
    * reclaim was in flight. */
  def recover(spark: SparkSession, tableDir: String): Unit = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, Marker)
    if (fs.exists(marker)) finishSwap(fs, root, readLines(fs, marker))
    else { fs.delete(new Path(root, StagedDir), true); () }
  }

  /** Write a marker file holding one name per line. */
  def writeLines(fs: org.apache.hadoop.fs.FileSystem, marker: Path,
                 lines: Seq[String]): Unit = {
    val out = fs.create(marker, false)
    try out.write(lines.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The names a [[writeLines]] marker holds. */
  def readLines(fs: org.apache.hadoop.fs.FileSystem,
                marker: Path): Seq[String] = {
    val in = fs.open(marker)
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
    finally in.close()
  }
}
