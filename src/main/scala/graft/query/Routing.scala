package graft.query

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** Driver-side zone-map routing shared by the loaded-artifact servers
  * ([[LoadedPointServer]], [[LoadedPhraseServer]],
  * [[LoadedWildcardServer]]): read a write-time
  * range manifest once (O(files) driver state), then map a point key to
  * its covering file(s) — normally exactly one, since range
  * partitioning gives disjoint ranges. Linear scans over the manifest
  * are fine at any realistic file count (a 100 TB index at 4M rows/file
  * is ~10⁵ entries; swap in a binary search then). */
private[query] object Routing {

  /** Sorted (lo, hi, file) ranges of a STRING-keyed artifact. */
  def stringRanges(spark: SparkSession,
                   path: String): Array[(String, String, String)] =
    spark.read.parquet(path)
      .select(col("lo").cast("string"), col("hi").cast("string"), col("file"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)

  /** Sorted (lo, hi, file) ranges of a LONG-keyed artifact. */
  def longRanges(spark: SparkSession,
                 path: String): Array[(Long, Long, String)] =
    spark.read.parquet(path)
      .collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi"),
        r.getAs[String]("file")))
      .sortBy(_._1)

  def route(ranges: Array[(String, String, String)], key: String): Seq[String] =
    ranges.iterator.filter(r => r._1 <= key && key <= r._2).map(_._3).toSeq

  def route(ranges: Array[(Long, Long, String)], key: Long): Seq[String] =
    ranges.iterator.filter(r => r._1 <= key && key <= r._2).map(_._3).toSeq

  private final case class ResolveTmpl(
      ref: AtomicReference[java.util.HashSet[java.lang.Long]],
      df: DataFrame)

  /** The driver-side routing state of ONE loaded-store snapshot,
    * shared by [[LoadedPointServer]] and [[LoadedPhraseServer]]: the
    * postings zone map (`postingsRanges` under `dir`), the doc_map
    * zone map with its pooled per-file-set resolve plans, and the
    * store's pending deletions as a driver set. */
  final class Routed(spark: SparkSession, dir: String,
                     postingsRanges: String, docMapSchema: StructType,
                     tombstones: Option[DataFrame]) {

    val postRanges: Array[(String, String, String)] =
      stringRanges(spark, s"$dir/$postingsRanges")
    private val docRanges: Array[(Long, Long, String)] =
      longRanges(spark, s"$dir/doc_map_ranges")

    /** PENDING DELETIONS: the templates scan part files directly
      * (bypassing load()'s anti-join), so the tombstoned docnos load
      * into a driver set and every [[scan]] of this snapshot filters
      * them out (the store's delete keeps the set request-sized; the
      * tombstones dir rides in the stamp, so a delete under a live
      * server rebuilds the snapshot). */
    private val tombs: java.util.HashSet[java.lang.Long] = {
      val s = new java.util.HashSet[java.lang.Long]()
      tombstones.foreach(_.collect().foreach(r => s.add(r.getLong(0))))
      s
    }

    private val resolvePlans = new TemplatePool[Seq[String], ResolveTmpl](
      { files =>
        val ref = new AtomicReference(new java.util.HashSet[java.lang.Long])
        val df = spark.read.schema(docMapSchema).parquet(files: _*)
          .filter(Bridge.column(RefLongSetContains(
            Bridge.expression(col("docno")), ref)))
          .coalesce(1)
          .select(col("docno"), col("docid"))
        df.queryExecution.executedPlan
        ResolveTmpl(ref, df)
      })

    /** A postings part-file scan (explicit schema: no inference job
      * when a plan is first built) minus the tombstoned docnos — the
      * filter is added only when deletions are pending, so the common
      * tombstone-free plan is unchanged. */
    def scan(schema: StructType, files: Seq[String]): DataFrame = {
      val raw = spark.read.schema(schema).parquet(files: _*)
      if (tombs.isEmpty) raw
      else raw.filter(!Bridge.column(RefLongSetContains(
        Bridge.expression(col("docno")), new AtomicReference(tombs))))
    }

    /** docno → docid for ≤ topK result docnos: route them through the
      * doc_map zone map and run the pooled resolve plan of that file
      * set. Unresolvable docnos are absent — inner-join semantics. */
    def resolve(docnos: Seq[Long]): Map[Long, String] = {
      val files = docnos.flatMap(d => route(docRanges, d)).distinct.sorted
      if (files.isEmpty) Map.empty
      else {
        val set = new java.util.HashSet[java.lang.Long]()
        docnos.foreach(d => set.add(d))
        resolvePlans.withInstance(files) { rt =>
          rt.ref.set(set)
          rt.df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        }
      }
    }
  }
}
