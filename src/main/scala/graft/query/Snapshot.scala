package graft.query

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

/** The SNAPSHOT LIFECYCLE of a serving node — the one copy of
  * stamp → validate → rebuild → `refresh()` that every stamped server
  * shares: the cached servers ([[PointServer]], [[PhraseServer]],
  * [[WildcardServer]], [[Bm25Server]], whose snapshot is a packed
  * driver dictionary ([[Packed]]), and [[Rm3Server]]'s prepared plans)
  * and the loaded ones ([[LoadedPointServer]], [[LoadedPhraseServer]],
  * [[LoadedWildcardServer]]), whose snapshot is their manifests,
  * footer row groups and tombstones; the cell-granular vector servers
  * keep their own [[CellVersion]] stamps.
  *
  *  - [[current]] is a lock-free read of the held snapshot while its
  *    stamp still matches the store's; when the stamp MOVED it
  *    rebuilds once (double-checked under the holder's lock) and
  *    retires the replaced snapshot — EXCEPT inside a read-coherence
  *    epoch ([[graft.ops.Epoch]], consulted on this moved path only,
  *    so the warm path pays nothing): a multi-store fan-out is
  *    mid-flight, so the pre-request snapshot keeps serving until the
  *    epoch's single commit point.
  *  - [[refresh]] rebuilds NOW — the explicit hammer for layouts whose
  *    listings can lag a mutation (eventually consistent object
  *    stores).
  *  - `retire` runs exactly once per replaced snapshot ([[Rm3Server]]
  *    and [[Bm25Server]] unpersist their frames, each build's own cache
  *    entries ([[PointServer.cache]]); the others hold nothing to
  *    release). A query that read the old snapshot just before the
  *    swap may still be running on it — run mutations behind the
  *    serving quiesce, as everywhere in the serving layer.
  *
  * The stamp is read BEFORE the load, so a mutation landing during a
  * rebuild moves the next check instead of hiding behind it. */
private[query] final class Snapshot[S](
    stamp: Snapshot.Stamp, load: () => S, retire: S => Unit) {

  private final class Cell(val version: Long, val snap: S)

  private def fresh(version: Long): Cell = new Cell(version, load())

  private val cell = new AtomicReference[Cell](fresh(stamp.read()))

  /** The snapshot current against the store's stamp. */
  def current(): S = {
    val c = cell.get
    if (c.version == stamp.read() || stamp.held()) c.snap
    else synchronized {
      val held = cell.get
      val v = stamp.read()
      if (held.version == v) held.snap else swap(fresh(v)).snap
    }
  }

  /** Drop the snapshot and rebuild from the store NOW. */
  def refresh(): Unit = synchronized { swap(fresh(stamp.read())); () }

  private def swap(next: Cell): Cell = {
    retire(cell.getAndSet(next).snap)
    next
  }
}

private[query] object Snapshot {

  /** How a snapshot's source is versioned: `read` is its stamp,
    * `held` whether a moved stamp must wait (an open epoch). */
  final class Stamp(val read: () => Long, val held: () => Boolean)

  /** A written store at `root`: [[DirVersion]] over `dirs` (one read
    * of the [[graft.StoreGen]] generation when the store carries
    * one), held while an [[graft.ops.Epoch]] is open over `root`. */
  def store(spark: SparkSession, root: String, dirs: Seq[String]): Stamp = {
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    new Stamp(() => DirVersion.of(hfs, root, dirs),
      () => graft.ops.Epoch.pending(hfs, root))
  }

  /** Where a CACHED server's index comes from: a caller-owned value
    * (never reloaded, never released) or a written store loaded and
    * cached per stamp, its frames released when replaced. */
  final class Source[I](val stamp: Stamp, val load: () => I,
                        val release: I => Unit)

  /** A caller-owned value: nothing on disk to go stale against. */
  def fixed[I](i: I): Source[I] =
    new Source(new Stamp(() => 0L, () => false), () => i, _ => ())
}
