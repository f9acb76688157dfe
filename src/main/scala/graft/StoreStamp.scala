package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** CONTENT stamp of a parquet table (a `<table>.parquet` file or
  * part-file directory) — the cache key the session-scoped store
  * caches ([[graft.queries.IrSql]] bm25 stats store,
  * [[graft.ops.Similarity]] / [[graft.ops.Pq]] loaded ANN stores) use
  * so "built once per corpus" means corpus CONTENT, not path.
  *
  * Folds, per part file: name, size, mtime, and a CRC32 of the LAST
  * 64 bytes. The tail of a parquet file is its footer (column-chunk
  * offsets, row-group stats, the footer-length word), which moves on
  * virtually any content change — so a corpus rewritten IN PLACE
  * within one mtime tick with identical file names and sizes still
  * changes the stamp (r12 ADVICE: the same-millisecond rewrite window
  * name+size+mtime alone leaves open). Cost: one ≤64-byte pread per
  * part file, driver-side, once per cache-key computation. */
object StoreStamp {

  def of(dir: String, table: String): String = {
    val p = new Path(dir, s"$table.parquet")
    val st = localFs.getFileStatus(p)
    if (st.isDirectory)
      localFs.listStatus(p)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .map(f => s"${f.getPath.getName}:${f.getLen}:" +
          s"${f.getModificationTime}:${tailCrc(localFs, f.getPath, f.getLen)}")
        .mkString(",")
    else s"${st.getLen}:${st.getModificationTime}:" +
      s"${tailCrc(localFs, p, st.getLen)}"
  }

  /** The raw (checksum-free) local filesystem: a table rewritten in
    * place by a tool that leaves its `.crc` sidecars stale must still
    * stamp, not fail a checksum. */
  private lazy val localFs: FileSystem =
    FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
      .getRawFileSystem

  /** CRC32 of the last ≤64 bytes of a file (its parquet footer tail) —
    * also folded by [[graft.query.DirVersion]]. */
  private[graft] def tailCrc(hfs: FileSystem, p: Path, len: Long): Long = {
    val n = math.min(64L, len).toInt
    if (n == 0) return 0L
    val buf = new Array[Byte](n)
    val in = hfs.open(p)
    try in.readFully(len - n, buf, 0, n) finally in.close()
    val crc = new java.util.zip.CRC32
    crc.update(buf, 0, n)
    crc.getValue
  }
}
