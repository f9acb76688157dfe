package graft.query

import org.apache.hadoop.fs.{FileSystem, Path}

/** Directory-set VERSION STAMP for durable serving stores — the one
  * definition of "the store moved" shared by every stamped server
  * through the [[Snapshot]] holder ([[Bm25Server]],
  * [[PointServer]]/[[PhraseServer]]/[[Rm3Server]] store-backed forms,
  * [[LoadedPointServer]], [[LoadedPhraseServer]], [[WildcardServer]],
  * [[LoadedWildcardServer]]; each store defines its dir list once,
  * next to its writer — `stampDirs`; the cell-granular vector stores
  * keep [[CellVersion]], same family).
  *
  * Per directory, folds each parquet part file's NAME, SIZE, MTIME,
  * and a CRC32 of its LAST 64 bytes. The tail of a parquet file is
  * its footer (column-chunk offsets, row-group stats, the
  * footer-length word), which moves on virtually any content change —
  * so an artifact rewritten IN PLACE within one mtime tick with
  * unchanged file names and sizes still changes the stamp (the
  * [[graft.StoreStamp]] rationale, applied to the serving layer's
  * Hadoop-FS paths). A missing directory folds as -1: a deleted
  * artifact is a mutation too.
  *
  * Cost: one listing plus one ≤64-byte positioned read per part file,
  * driver-side metadata only — no Spark job. On an eventually
  * consistent object store listings can lag a mutation; servers keep
  * an explicit `refresh()` hammer for that case. */
private[query] object DirVersion {

  def of(hfs: FileSystem, dirs: Seq[String]): Long =
    dirs.foldLeft(17L)((acc, d) => acc * 1000003 + dirHash(hfs, d))

  /** [[of]] with an O(1) fast path: when `storeRoot` carries a
    * [[graft.StoreGen]] generation marker (bumped by every shared
    * maintenance commit helper), the stamp is ONE tiny read — flat in
    * part-file count, the 100 TB object-store posture. Marker absent
    * or unparsable (fresh never-mutated store; an out-of-band rewrite
    * that removed it) → the per-file fold with its tail-CRC defense.
    * The two regimes can never alias a mutation away: a transition
    * between them changes which branch computes, and within each
    * branch mutations move the value (the gen is strictly
    * increasing; the fold sees the files). */
  def of(hfs: FileSystem, storeRoot: String,
         dirs: Seq[String]): Long =
    graft.StoreGen.read(hfs,
        new org.apache.hadoop.fs.Path(storeRoot)) match {
      case Some(g) => 0x5bd1e995L * 1000003L + g
      case None    => of(hfs, dirs)
    }

  private def dirHash(hfs: FileSystem, dir: String): Long =
    try {
      val fsx = hfs.listStatus(new Path(dir))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
      fsx.foldLeft(fsx.length.toLong) { (a, f) =>
        (((a * 31 + f.getPath.getName.hashCode) * 31 +
          f.getModificationTime) * 31 + f.getLen) * 31 +
          graft.StoreStamp.tailCrc(hfs, f.getPath, f.getLen)
      }
    } catch { case _: java.io.FileNotFoundException => -1L }
}
