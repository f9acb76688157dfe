package graft.query

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.index.PostingsStore

/** Driver-side zone-map routing and reads for the loaded-artifact
  * servers ([[LoadedPointServer]], [[LoadedPhraseServer]],
  * [[LoadedWildcardServer]]) — the modern form of the paper client's
  * term → file/offset dictionary. A (lo, hi, file) range array, held
  * once per snapshot (O(files) driver state) — read from a write-time
  * manifest, or derived from the store by its server — maps a key to
  * the file(s) covering it, and each file's footer row-group min/max
  * narrows it to the row groups that can hold the key.
  *
  * Keys compare in SPARK's order — strings as UTF-8 bytes
  * ([[UTF8String]]), the order the manifests' and footers' min/max
  * were computed in. Java's UTF-16 `String` order disagrees on
  * supplementary characters, which the tokenizer keeps. The manifest
  * is scanned linearly: ranges overlap on an appended store (one file
  * per key range per append generation), and O(files) per key is
  * nothing at any realistic file count. */
private[query] object Routing {

  /** How a manifest key type decodes: from a collected manifest value
    * and from a parquet footer statistic. */
  final class Key[K](val ofValue: Any => K, val ofStat: Any => K)

  val Utf8Key: Key[UTF8String] = new Key(v => UTF8String.fromString(v.toString),
    v => UTF8String.fromBytes(v.asInstanceOf[Binary].getBytes))
  val LongKey: Key[Long] = new Key(_.asInstanceOf[Long],
    _.asInstanceOf[java.lang.Long].longValue)

  /** Sorted (lo, hi, file) ranges of a range frame (columns `lo`,
    * `hi`, `file`). */
  def ranges[K: Ordering](manifest: DataFrame,
                          key: Key[K]): Array[(K, K, String)] =
    manifest.select("lo", "hi", "file").collect()
      .map(r => (key.ofValue(r.get(0)), key.ofValue(r.get(1)), r.getString(2)))
      .sortBy(_._1)

  /** The files whose range covers `key`. */
  def route[K](ranges: Array[(K, K, String)], key: K)
              (implicit o: Ordering[K]): Seq[String] =
    ranges.iterator.filter(r => o.lteq(r._1, key) && o.lteq(key, r._2))
      .map(_._3).toSeq

  /** The ranges of a store table's write-time zone-map manifest,
    * `dir/name_ranges`. */
  def manifest[K: Ordering](spark: SparkSession, dir: String, name: String,
                            key: Key[K]): Array[(K, K, String)] =
    ranges(spark.read.parquet(s"$dir/${name}_ranges"), key)

  /** One range-laid parquet table of a store, routed by `ranges` on
    * the first column of `schema`, and read on the DRIVER without a
    * Spark job. Spark's own parquet reader function, built once, is
    * applied to one [[PartitionedFile]] split per picked row group, so
    * types and decoding are exactly the scan's. A file's row groups are read from its footer once and
    * kept (a snapshot's files never change: a rewrite moves the
    * stamp); a file missing one of `schema`'s columns fails loudly
    * rather than decoding as nulls. */
  final class Table[K: Ordering](spark: SparkSession,
                                 ranges: Array[(K, K, String)],
                                 schema: StructType, key: Key[K]) {
    private val conf = spark.sparkContext.hadoopConfiguration
    private val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), new Configuration(conf))
    // file → each row group's key (min, max) (None: no statistic) and split
    private val groups = new java.util.concurrent.ConcurrentHashMap[
      String, Seq[(Option[(K, K)], PartitionedFile)]]()

    private def groupsOf(file: String) = groups.computeIfAbsent(file, _ => {
      val path = SparkPath.fromUrlString(file)
      val status = path.toPath.getFileSystem(conf).getFileStatus(path.toPath)
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
      try {
        val footer = r.getFooter
        val fileSchema = footer.getFileMetaData.getSchema
        schema.fieldNames.foreach(c => require(fileSchema.containsField(c),
          s"$file has no `$c` column (${fileSchema.getFields.asScala
            .map(_.getName).mkString(", ")}); the loaded servers read the " +
            s"plain layout"))
        footer.getBlocks.asScala.toSeq.map { b =>
          val stats = b.getColumns.asScala
            .find(_.getPath.toDotString == schema.head.name)
            .map(_.getStatistics).filter(s => s != null && s.hasNonNullValue)
          (stats.map(s => (key.ofStat(s.genericGetMin), key.ofStat(s.genericGetMax))),
            PartitionedFile(InternalRow.empty, path, b.getStartingPos,
              b.getCompressedSize, Array.empty, status.getModificationTime,
              status.getLen))
        }
      } finally r.close()
    })

    /** The files whose range covers one of `keys`. */
    def files(keys: Seq[K]): Seq[String] =
      keys.flatMap(route(ranges, _)).distinct

    /** Run `f` over every row of the routed files' row groups whose
      * min/max covers one of `keys`. Rows are the reader's reused
      * buffers: `f` copies what it keeps. */
    def foreach(keys: Seq[K])(f: InternalRow => Unit): Unit = {
      val o = implicitly[Ordering[K]]
      def covers(b: (K, K)) = keys.exists(k => o.lteq(b._1, k) && o.lteq(k, b._2))
      scan(files(keys), _.forall(covers))(f)
    }

    /** Run `f` over every row of every file. */
    def foreachAll(f: InternalRow => Unit): Unit =
      scan(ranges.map(_._3).distinct.toSeq, _ => true)(f)

    private def scan(files: Seq[String], pick: Option[(K, K)] => Boolean)
                    (f: InternalRow => Unit): Unit =
      files.foreach { file =>
        groupsOf(file).foreach { case (bounds, split) =>
          if (pick(bounds)) {
            val rows = read(split)
            try rows.foreach(f)
            finally rows match {
              case c: java.io.Closeable => c.close()
              case _ =>
            }
          }
        }
      }
  }

  /** The driver-read state of ONE loaded postings-store snapshot,
    * shared by [[LoadedPointServer]] and [[LoadedPhraseServer]]: the
    * postings table as (key, docno, `payload`), the doc_map table,
    * and the store's pending deletions as a driver set (the raw files
    * still hold tombstoned rows; the tombstones dir rides in the
    * stamp, so a delete under a live server rebuilds the snapshot).
    * The column types come from the loaded frames' schemas. */
  final class Routed(spark: SparkSession, dir: String, store: PostingsStore,
                     payload: String, postingsSchema: StructType,
                     docMapSchema: StructType) {

    private def cols(s: StructType, names: String*) = StructType(names.map(s(_)))

    private val postings = new Table(spark,
      manifest(spark, dir, store.postings, Utf8Key),
      cols(postingsSchema, store.key, "docno", payload), Utf8Key)
    private val docMap = new Table(spark, manifest(spark, dir, "doc_map", LongKey),
      cols(docMapSchema, "docno", "docid"), LongKey)
    private val tombs: Set[Long] = PostingsStore.readTombs(spark, dir)
      .fold(Set.empty[Long])(_.collect().map(_.getLong(0)).toSet)

    /** term → its LIVE postings (docno, `value` of the row), over every
      * routed file: an appended store holds one file per term per
      * append generation, and all of them count. Terms without a live
      * posting are absent. */
    def lists[V](terms: Seq[UTF8String])(value: InternalRow => V)
        : Map[UTF8String, Seq[(Long, V)]] = {
      // keyed by the query's own term: the row's bytes are a reused buffer
      val own = terms.map(t => t -> t).toMap
      val rows = Seq.newBuilder[(UTF8String, (Long, V))]
      postings.foreach(terms) { r =>
        val d = r.getLong(1)
        for (t <- own.get(r.getUTF8String(0)) if !tombs(d))
          rows += t -> (d -> value(r))
      }
      rows.result().groupMap(_._1)(_._2)
    }

    /** docno → docid for ≤ topK result docnos, routed through the
      * doc_map zone map. Unresolvable docnos are absent — inner-join
      * semantics. */
    def resolve(docnos: Seq[Long]): Map[Long, String] = {
      val want = docnos.toSet
      val out = Map.newBuilder[Long, String]
      docMap.foreach(want.toSeq) { r =>
        val d = r.getLong(0)
        if (want(d)) out += d -> r.getUTF8String(1).toString
      }
      out.result()
    }
  }
}
