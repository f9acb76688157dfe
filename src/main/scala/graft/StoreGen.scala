package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** Monotonic STORE GENERATION marker — the O(1) staleness stamp for
  * durable serving stores. Every maintenance commit already ends in
  * a staged-marker rename; the shared low-level commit helpers
  * ([[graft.queries.IrSql.swapIn]]/`moveParts`,
  * [[graft.index.StoreSurgery]]'s swap,
  * [[graft.index.CharKGramIndex]]'s transaction finish, and the
  * [[graft.index.PostingsStore]] layout write) additionally
  * bump `<storeRoot>/_graft_store_gen` — so a server's
  * [[graft.query.DirVersion]] check becomes ONE ≤32-byte read
  * instead of a listing plus a positioned footer read PER PART FILE
  * per artifact dir per query (on an object store at 100 TB that
  * per-file fold is thousands of GET-priced reads per search).
  *
  * The marker is an optimization, not the source of truth: absent or
  * unparsable → [[graft.query.DirVersion]] falls back to the
  * file-fold (fresh stores that never mutated; out-of-band rewrites
  * by tools that don't know the marker keep the tail-CRC defense the
  * moment the file is removed). Bumps happen under the store's
  * maintenance quiesce, so the read-modify-write needs no lock; a
  * crash mid-bump leaves a partial file that parses as "changed"
  * (fallback), never as a stale success. */
private[graft] object StoreGen {

  val GenFile = "_graft_store_gen"

  /** Bump the store's generation. Called by the shared commit
    * helpers — possibly several times per logical maintenance op,
    * which is fine: any strictly-increasing sequence of writes
    * changes the stamp. The value is max(previous + 1, now-millis),
    * NOT a counter from 1: a rebuild that wipes the store dir (and
    * the marker with it) or a corrupted marker would restart a plain
    * counter and could climb back to a generation a live server
    * already cached — the wall-clock floor makes post-wipe values
    * land above every pre-wipe value, so the fast path cannot alias
    * a rebuild away. */
  def bump(fs: FileSystem, storeRoot: Path): Unit = {
    val p = new Path(storeRoot, GenFile)
    val next = math.max(read(fs, storeRoot).getOrElse(0L) + 1L,
      System.currentTimeMillis())
    // write-to-temp + rename (the repo-wide commit discipline), NOT
    // truncate-in-place: a server stamping concurrently with an
    // in-place rewrite observes an empty/partial file, parses None,
    // and pays the per-file fold the marker exists to avoid — on
    // object stores without atomic create that window is every bump.
    // The delete→rename gap can only read as ABSENT (fallback fold),
    // never as a stale or torn value.
    val tmp = new Path(storeRoot, s"$GenFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(p, false)
    require(fs.rename(tmp, p),
      s"rename $tmp -> $p failed mid-generation-bump")
    ()
  }

  /** The store's current generation, None when absent/unparsable
    * (callers fall back to the per-file fold). */
  def read(fs: FileSystem, storeRoot: Path): Option[Long] = {
    val p = new Path(storeRoot, GenFile)
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s =
          try new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
        Some(s.toLong)
      }
    } catch { case _: Exception => None }
  }
}
