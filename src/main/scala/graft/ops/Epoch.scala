package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Cross-store READ-COHERENCE epoch for multi-store fan-outs.
  *
  * A [[Takedown.delete]]/[[Takedown.update]] request mutates several
  * stores in sequence; each store's own protocol keeps it
  * independently consistent, but a multi-store consumer (a live
  * [[graft.query.HybridServer]] fusing a BM25 arm with a vector arm)
  * issued BETWEEN two legs sees one arm post-request and the other
  * pre-request — transient and self-healing, but arm-MIXED. An epoch
  * makes mid-request serving all-old and the request's visibility
  * atomic across every arm:
  *
  *  - [[begin]] creates ONE shared epoch file, then drops a pointer
  *    marker (`_graft_epoch_pending`, naming that file) into every
  *    targeted store root;
  *  - stamped servers consult [[pending]] ONLY when their version
  *    stamp moved (the warm no-mutation path pays nothing) and HOLD
  *    their current snapshot while the epoch lives — so every arm
  *    keeps serving the pre-request state no matter how many legs
  *    have landed. The holders: every server on the shared
  *    [[graft.query.Snapshot]] ([[graft.query.Bm25Server]], the
  *    point/phrase/RM3/wildcard servers and their `Loaded*` twins)
  *    plus [[graft.query.IvfServer]];
  *  - [[end]] deletes the shared file — ONE atomic delete is the
  *    whole commit: every [[pending]] check across every store flips
  *    in the same instant, all arms rebuild to post-request state on
  *    their next search. (Per-store pointer markers are cleaned
  *    best-effort afterward; a dead pointer is ignored and lazily
  *    removed by [[pending]] itself.)
  *
  * Crash mid-fan-out: the shared file survives, so servers keep the
  * pre-request view — replaying the request (the [[Takedown]]
  * recovery story) converges the stores and ends the epoch. The
  * trade documented for takedowns: inside an epoch a removed doc
  * keeps serving until the commit, in exchange for the removal
  * landing atomically across arms; fan-outs that prefer instant
  * per-leg visibility simply run without an epoch (the default).
  *
  * A server holds its SNAPSHOT — a fresh server built mid-epoch has
  * no pre-request state to hold and serves current best-effort, so
  * coherence guarantees apply to warmed serving nodes (the case the
  * epoch exists for). A held snapshot that reads part files by name
  * (the loaded servers' routed driver reads) cannot outlive a leg
  * that REPLACES those files (the chargram delete's file surgery
  * under [[graft.query.LoadedWildcardServer]]) — the same limit as
  * any read beside a commit; the tombstoning legs leave every held
  * file in place. */
object Epoch {

  /** Per-store pointer marker (`_`-prefixed: invisible to parquet
    * readers and to every part-file stamp fold). */
  val Marker = "_graft_epoch_pending"

  /** Open an epoch over `storeRoots`: create the shared `epochFile`,
    * then point every store at it. Call BEFORE the first leg
    * mutates. */
  def begin(conf: Configuration, epochFile: String,
            storeRoots: Seq[String]): Unit = {
    val ep = new Path(epochFile)
    val efs = ep.getFileSystem(conf)
    if (ep.getParent != null) efs.mkdirs(ep.getParent)
    efs.create(ep, true).close()
    storeRoots.foreach { s =>
      val m = new Path(s, Marker)
      val fs = m.getFileSystem(conf)
      val tmp = new Path(s, s"$Marker.tmp")
      val out = fs.create(tmp, true)
      try out.write(epochFile.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      fs.delete(m, false)
      require(fs.rename(tmp, m),
        s"rename $tmp -> $m failed opening epoch")
    }
  }

  /** Commit the epoch: ONE atomic delete of the shared file (the
    * cross-store visibility switch), then best-effort pointer
    * cleanup. Call AFTER the last leg committed. */
  def end(conf: Configuration, epochFile: String,
          storeRoots: Seq[String]): Unit = {
    val ep = new Path(epochFile)
    ep.getFileSystem(conf).delete(ep, false)
    storeRoots.foreach { s =>
      val m = new Path(s, Marker)
      try { m.getFileSystem(conf).delete(m, false); () }
      catch { case _: java.io.IOException => }
    }
  }

  /** Is `storeRoot` inside a LIVE epoch? True iff its pointer marker
    * exists AND the shared epoch file it names still does; a dead
    * pointer (epoch already committed) is lazily removed and reads
    * false. Servers call this only on the stamp-moved path. */
  def pending(fs: FileSystem, storeRoot: String): Boolean = {
    val m = new Path(storeRoot, Marker)
    try {
      if (!fs.exists(m)) false
      else {
        val in = fs.open(m)
        val target =
          try new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
        if (target.isEmpty) false
        else {
          val ep = new Path(target)
          val alive = ep.getFileSystem(fs.getConf).exists(ep)
          if (!alive) { try fs.delete(m, false) catch {
            case _: java.io.IOException => }; () }
          alive
        }
      }
    } catch { case _: java.io.FileNotFoundException => false }
  }
}
