package graft.query

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.index.PostingsStore

/** Driver-side zone-map routing and reads for the loaded-artifact
  * servers ([[LoadedPointServer]], [[LoadedPhraseServer]],
  * [[LoadedWildcardServer]]) — the modern form of the paper client's
  * term → file/offset dictionary. A (lo, hi, file) range array, held
  * once per snapshot (O(files) driver state) — read from a write-time
  * manifest, or derived from the store by its server — maps a key to
  * the file(s) covering it, and each file's footer row-group min/max
  * narrows it to the row groups that can hold the key. A routed row
  * group is decoded once and held in the process's [[Blocks]] cache
  * under one byte budget; later reads of it binary-search the held
  * block.
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
    * Spark job. A file's row groups are read from its footer once and
    * kept (a snapshot's files never change: a rewrite moves the
    * stamp); a file missing one of `schema`'s columns fails loudly
    * rather than decoding as nulls. A picked row group is served from
    * `blocks`: its first read decodes it into a held [[Block]], later
    * reads binary-search it. A row group whose footer size is over the
    * whole budget streams through Spark's own parquet reader function
    * (built once, applied to one [[PartitionedFile]] split) on every
    * read instead — the same reader the block decode runs, so types
    * and decoding are exactly the scan's either way. The snapshot's
    * retirement drops the table's blocks ([[Blocks.drop]]). */
  final class Table[K](spark: SparkSession, ranges: Array[(K, K, String)],
                       schema: StructType, key: Key[K], blocks: Blocks)
                      (implicit o: Ordering[K]) {
    private val conf = spark.sparkContext.hadoopConfiguration
    private val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), new Configuration(conf))
    // file → each row group's key (min, max) (None: no statistic),
    // split and footer byte size
    private val groups = new java.util.concurrent.ConcurrentHashMap[
      String, Seq[(Option[(K, K)], PartitionedFile, Long)]]()
    // set under `blocks`' lock: a retired table holds no block
    private[Routing] var retired = false

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
              status.getLen), b.getTotalByteSize)
        }
      } finally r.close()
    })

    /** The files whose range covers one of `keys`. */
    def files(keys: Seq[K]): Seq[String] =
      keys.flatMap(route(ranges, _)).distinct

    /** Run `f` over every row whose key is one of `keys`, in the routed
      * files' row groups whose min/max covers one of them. A key's rows
      * come in file order. Rows are reused buffers: `f` copies what it
      * keeps. */
    def foreach(keys: Seq[K])(f: InternalRow => Unit): Unit = {
      val ks = keys.distinct
      val want = ks.toSet
      def covers(b: (K, K)) = ks.exists(k => o.lteq(b._1, k) && o.lteq(k, b._2))
      scan(files(ks), _.forall(covers))((b, r) => ks.foreach(b.foreach(_, r, keyOf)(f)),
        r => if (want(keyOf(r))) f(r))
    }

    /** Run `f` over every row of every file. */
    def foreachAll(f: InternalRow => Unit): Unit =
      scan(ranges.map(_._3).distinct.toSeq, _ => true)(
        (b, r) => (0 until b.rows).foreach(i => f(b.row(i, r))), f)

    private def keyOf(r: InternalRow): K = r.get(0, schema.head.dataType).asInstanceOf[K]

    private def scan(files: Seq[String], pick: Option[(K, K)] => Boolean)
                    (held: (Block, UnsafeRow) => Unit,
                     streamed: InternalRow => Unit): Unit = {
      val r = new UnsafeRow(schema.length)
      for (file <- files; ((bounds, split, size), g) <- groupsOf(file).zipWithIndex
           if pick(bounds))
        blocks.get(this, file, g, size)(Block(stream(split), schema, keyOf))
          .fold(stream(split)(streamed))(held(_, r))
    }

    private def stream(split: PartitionedFile)(f: InternalRow => Unit): Unit = {
      val rows = read(split)
      try rows.foreach(f)
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }

  /** A decoded row group: its rows as [[UnsafeRow]] bytes packed into
    * ONE byte array, row i at [offs(i), offs(i+1)), sorted by key — so
    * the offsets are also the key index, searched by binary search. */
  final class Block(bytes: Array[Byte], offs: Array[Int]) {
    def rows: Int = offs.length - 1

    /** Driver bytes held: the packed rows and their offsets. */
    def size: Long = bytes.length + 4L * offs.length

    /** `into`, pointed at row i. */
    def row(i: Int, into: UnsafeRow): UnsafeRow = {
      into.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + offs(i), offs(i + 1) - offs(i))
      into
    }

    /** Run `f` over the rows whose key (`keyOf`) is `k`, in their
      * order, `into` pointed at each. */
    def foreach[K](k: K, into: UnsafeRow, keyOf: InternalRow => K)
                  (f: InternalRow => Unit)(implicit o: Ordering[K]): Unit = {
      var lo = 0 // the first row whose key is not below k
      var hi = rows
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (o.lt(keyOf(row(mid, into)), k)) lo = mid + 1 else hi = mid
      }
      while (lo < rows && o.equiv(keyOf(row(lo, into)), k)) {
        f(into)
        lo += 1
      }
    }
  }

  object Block {
    /** The rows `each` yields, copied into a block sorted by `keyOf` —
      * stable, so a key's rows keep their read order, and linear on
      * the range-laid files, which are written in key order. */
    def apply[K: Ordering](each: (InternalRow => Unit) => Unit,
                           schema: StructType, keyOf: InternalRow => K): Block = {
      val proj = UnsafeProjection.create(schema)
      val rows = Array.newBuilder[UnsafeRow]
      each(r => rows += proj(r).copy())
      val sorted = rows.result().sortBy(keyOf)
      val offs = sorted.scanLeft(0)(_ + _.getSizeInBytes)
      val bytes = new Array[Byte](offs.last)
      sorted.indices.foreach(i =>
        sorted(i).writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + offs(i)))
      new Block(bytes, offs)
    }
  }

  /** The DECODED-BLOCK CACHE behind every [[Table]]: each picked row
    * group is decoded once into a [[Block]] and held, LRU by block,
    * under ONE byte budget, so a warm read opens no reader, reads no
    * footer and decodes nothing — the paper client's in-memory probe
    * (SURVEY R5). Blocks are keyed by their table, which belongs to
    * one snapshot; its retirement drops them ([[drop]]), and a
    * server dropped unretired leaves them to the LRU.
    * Concurrent misses of one block wait for a single decode. A row
    * group whose footer size (or decoded block) is over the whole
    * budget is never held: its table streams it per read, so a store
    * larger than the budget costs what an uncached read costs. */
  final class Blocks(val budget: Long) {
    import Blocks.Id

    // access-ordered: iteration starts at the least recently used block
    private val lru = new java.util.LinkedHashMap[Id, Block](16, 0.75f, true)
    private val loading = new java.util.concurrent.ConcurrentHashMap[Id, AnyRef]()
    private var bytes = 0L
    private val decodes = new java.util.concurrent.atomic.AtomicLong

    /** Driver bytes held now; never above `budget`. */
    def held: Long = synchronized(bytes)

    /** Row groups decoded into blocks so far. */
    def decoded: Long = decodes.get

    private def hit(id: Id): Option[Block] = synchronized(Option(lru.get(id)))

    /** Row group `group` of `table`'s `file` (footer size `size`) as a
      * block, `decode`d on a miss; None when it must stream. */
    def get(table: Table[_], file: String, group: Int, size: Long)
           (decode: => Block): Option[Block] =
      if (size > budget) None
      else {
        val id = Id(table, file, group)
        hit(id).orElse {
          val lock = loading.computeIfAbsent(id, _ => new AnyRef)
          try lock.synchronized(hit(id).orElse {
            val b = decode
            decodes.incrementAndGet()
            put(id, b)
            Some(b)
          })
          finally loading.remove(id, lock)
        }
      }

    private def put(id: Id, b: Block): Unit = synchronized {
      if (!id.table.retired && b.size <= budget) {
        lru.put(id, b)
        bytes += b.size
        val it = lru.values.iterator
        while (bytes > budget) {
          bytes -= it.next().size
          it.remove()
        }
      }
    }

    /** Drop `table`'s blocks; it holds none from now on. */
    def drop(table: Table[_]): Unit = synchronized {
      table.retired = true
      val it = lru.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.table eq table) {
          bytes -= e.getValue.size
          it.remove()
        }
      }
    }
  }

  object Blocks {
    private final case class Id(table: Table[_], file: String, group: Int)

    /** The process's cache: 1/8 of the heap. In local mode the driver
      * heap is also the executors': Spark's unified memory takes 60%
      * of it (`spark.memory.fraction`), and the cached servers' packed
      * dictionaries and every query's working set share the rest, so
      * the blocks take a fixed slice of that rest rather than grow
      * with it. */
    lazy val shared: Blocks = new Blocks(Runtime.getRuntime.maxMemory / 8)
  }

  /** The driver-read state of ONE loaded postings-store snapshot,
    * shared by [[LoadedPointServer]] and [[LoadedPhraseServer]]: the
    * postings table as (key, docno, `payload`), the doc_map table,
    * both held in `blocks`, and the store's pending deletions as a
    * driver set (the raw files still hold tombstoned rows; the
    * tombstones dir rides in the stamp, so a delete under a live
    * server rebuilds the snapshot). The column types come from the
    * loaded frames' schemas. */
  final class Routed(spark: SparkSession, dir: String, store: PostingsStore,
                     payload: String, postingsSchema: StructType,
                     docMapSchema: StructType, blocks: Blocks) {

    private def cols(s: StructType, names: String*) = StructType(names.map(s(_)))

    private val postings = new Table(spark,
      manifest(spark, dir, store.postings, Utf8Key),
      cols(postingsSchema, store.key, "docno", payload), Utf8Key, blocks)
    private val docMap = new Table(spark, manifest(spark, dir, "doc_map", LongKey),
      cols(docMapSchema, "docno", "docid"), LongKey, blocks)
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
        if (!tombs(d)) rows += own(r.getUTF8String(0)) -> (d -> value(r))
      }
      rows.result().groupMap(_._1)(_._2)
    }

    /** docno → docid for ≤ topK result docnos, routed through the
      * doc_map zone map. Unresolvable docnos are absent — inner-join
      * semantics. */
    def resolve(docnos: Seq[Long]): Map[Long, String] = {
      val out = Map.newBuilder[Long, String]
      docMap.foreach(docnos)(r => out += r.getLong(0) -> r.getUTF8String(1).toString)
      out.result()
    }

    /** Drop both tables' blocks (the snapshot is retired). */
    def close(): Unit = Seq(postings, docMap).foreach(blocks.drop)
  }
}
