package graft.query

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** PACKED DRIVER DICTIONARIES — how a cached server ([[PointServer]],
  * [[PhraseServer]], [[WildcardServer]], [[Bm25Server]]) holds its
  * snapshot's store on the driver, so that a query runs no Spark job.
  * The layout is the flat per-key columnar one of *Columnar Formatted
  * Inverted Index for Highly-Paralleled, Vectorized Query Processing*
  * (ICDE 2025):
  *
  *  - the distinct keys (terms or grams), in UTF-8 order, packed into
  *    ONE byte array with an `int[]` of offsets ([[Utf8s]]);
  *  - key i owns the row slice [starts(i), starts(i+1)) of the
  *    server's primitive columns (docno[], tf[], positions…), which
  *    hold the collected rows in (key, docno) order ([[Keys]]);
  *  - docno → docid as a sorted `long[]` beside the packed docids
  *    ([[Docs]]).
  *
  * A key costs its bytes plus 8; a row only its primitive columns. No
  * per-key object, array header or map entry: `Map`s of the same
  * postings held 3.6–9× more on the driver (`SizeEstimator`, perfbench
  * sizes). */
private[query] object Packed {

  /** UTF-8 strings packed into one byte array: string i is the bytes
    * [offs(i), offs(i+1)). */
  final class Utf8s(bytes: Array[Byte], offs: Array[Int]) {
    def size: Int = offs.length - 1

    /** String i, a view over the packed bytes. */
    def apply(i: Int): UTF8String =
      UTF8String.fromBytes(bytes, offs(i), offs(i + 1) - offs(i))

    /** The index of `s` among these strings, which are in UTF-8
      * order; -1 when absent. */
    def find(s: UTF8String): Int = {
      var lo = 0
      var hi = size - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = apply(mid).compareTo(s)
        if (c == 0) return mid
        if (c < 0) lo = mid + 1 else hi = mid - 1
      }
      -1
    }
  }

  def utf8s(ss: Seq[UTF8String]): Utf8s = {
    val offs = ss.scanLeft(0)(_ + _.numBytes).toArray
    val bytes = new Array[Byte](offs.last)
    ss.iterator.zip(offs.iterator).foreach { case (s, o) =>
      System.arraycopy(s.getBytes, 0, bytes, o, s.numBytes)
    }
    new Utf8s(bytes, offs)
  }

  /** Distinct keys in UTF-8 order, key i owning the rows
    * [starts(i), starts(i+1)). */
  final class Keys(val keys: Utf8s, starts: Array[Int]) {
    /** The rows of `k`; empty when it is absent. */
    def rows(k: UTF8String): Range = {
      val i = keys.find(k)
      if (i < 0) Range(0, 0) else Range(starts(i), starts(i + 1))
    }
  }

  /** `df`'s rows ordered by its first (string) column, then by `next`,
    * sorted in one task (Spark orders strings as UTF-8 bytes), with
    * that column packed as the [[Keys]]. */
  def collect(df: DataFrame, next: String*): (Keys, Array[Row]) = {
    val rows = df.coalesce(1)
      .sortWithinPartitions((df.columns.head +: next).map(col): _*).collect()
    val ks = rows.map(r => UTF8String.fromString(r.getString(0)))
    val starts = ks.indices.filter(i => i == 0 || ks(i) != ks(i - 1))
    (new Keys(utf8s(starts.map(ks)), (starts :+ ks.length).toArray), rows)
  }

  /** A store's postings as the driver scorers read them: term → its
    * (docno, `value` of the row) rows, in docno order. */
  final class Postings[V](keys: Keys, docno: Array[Long], value: Int => V) {
    /** The query terms' postings; terms without one are absent. */
    def lists(terms: Seq[UTF8String]): Map[UTF8String, Seq[(Long, V)]] =
      terms.iterator.map(t => t -> keys.rows(t))
        .collect { case (t, r) if r.nonEmpty => t -> r.map(i => docno(i) -> value(i)) }
        .toMap
  }

  /** docno → docid: the docnos ascending, their docids packed in the
    * same order. */
  final class Docs(docnos: Array[Long], ids: Utf8s) {
    /** docno → docid for ≤ topK docnos; unresolvable ones are absent
      * (inner-join semantics). */
    def resolve(ds: Seq[Long]): Map[Long, String] = ds.flatMap { d =>
      val i = java.util.Arrays.binarySearch(docnos, d)
      if (i < 0) None else Some(d -> ids(i).toString)
    }.toMap
  }

  def docs(docMap: DataFrame): Docs = {
    val rows = docMap.select("docno", "docid").coalesce(1)
      .sortWithinPartitions("docno").collect()
    new Docs(rows.map(_.getLong(0)),
      utf8s(rows.toSeq.map(r => UTF8String.fromString(r.getString(1)))))
  }
}
