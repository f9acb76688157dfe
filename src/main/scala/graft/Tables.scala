package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each table is one parquet file under the scale-factor directory. Reads
  * are plain `spark.read.parquet`, so Catalyst predicate pushdown / column
  * pruning reach the scan — callers should select/filter on the returned
  * DataFrame and let the optimizer prune.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** events.ts is a native µs TIMESTAMP in the current testdata (older
    * generations stored ns-precision int64 — [[deriveEventTime]] still
    * accepts that layout). The footer schema decides; both layouts
    * surface the same two columns: `ts` (µs TIMESTAMP, the datetime-API
    * column) and `ts_ns` (exact ns-scaled long — a total ordering key
    * that is stable across the two layouts and equals DuckDB's
    * `epoch_ns(ts)`).
    *
    * Legacy ns files come in TWO parquet spellings: plain INT64 (the
    * ScaleGen-era layout — inference succeeds and the LongType branch
    * of [[deriveEventTime]] applies) and INT64 annotated
    * TIMESTAMP(NANOS) (arrow-based writers), which Spark 4 REFUSES at
    * schema inference. That specific failure is caught here and the
    * read retried with a forced `ts: LONG` schema, so the annotated
    * file surfaces through the same LongType derivation (TablesSpec
    * pins all three layouts to identical (ts, ts_ns)). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val raw =
      try spark.read.parquet(path)
      catch {
        case e: Throwable if Iterator.iterate(e)(_.getCause)
            .takeWhile(_ != null).take(8)
            .exists(t => t.getMessage != null &&
              t.getMessage.contains("NANOS")) =>
          spark.read.schema(eventsLegacyNsSchema).parquet(path)
      }
    deriveEventTime(raw)
  }

  /** The event-time derivation shared by the batch loader above and the
    * streaming reader ([[graft.streaming.EventsStream]]): one definition,
    * so batch oracle and stream can never disagree on event time.
    * Branches on the stored type of `ts`: µs TIMESTAMP (current testdata)
    * gets `ts_ns = unix_micros(ts) * 1000`; legacy ns-long gets the
    * rename + `ts_ns div 1000` truncation (toward -inf on the synthetic
    * post-epoch data) to a µs TIMESTAMP. */
  def deriveEventTime(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampType | TimestampNTZType =>
        // stored µs, possibly TIMESTAMP_NTZ (written without a zone);
        // the session zone is pinned UTC everywhere, so the cast to the
        // zoned type is the identity on the wall-clock value — and
        // restores the exact type the legacy derivation produced
        // (timestamp_micros → LTZ), which unix_micros and the datetime
        // battery accept
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      case other =>
        // fail LOUDLY on an unrecognized regen: a silent mis-scale here
        // cost a full correctness round (see STATE.md round-7 note)
        throw new IllegalArgumentException(
          s"events.ts has unsupported stored type $other; " +
            "expected ns-long or µs timestamp")
    }
  }

  /** Explicit schema of the raw events parquet — supplied to streaming
    * reads (a stream can start on a still-empty ingest directory, where
    * inference has nothing to read) and to [[graft.ScaleGen]]'s
    * pass-through copy. Matches the current testdata layout (µs
    * TIMESTAMP ts). */
  /** Row count of a parquet file (or directory of part files) from
    * the FOOTER metadata alone — no Spark job, no data pages read.
    * The shape probes that pick a plan by input size (e.g.
    * [[graft.ops.TextAnalysis.langIdNgram]]'s pre-agg crossover) use
    * this instead of a `count()`: at 100 TB a probe must not cost a
    * corpus pass before the real work starts (guide §6 — the
    * statistics are already in the files). Returns None when the path
    * isn't readable parquet or holds no top-level part file
    * (partitioned or suffix-less directories) — callers fall back to
    * counting. */
  def parquetRowCount(spark: SparkSession, path: String): Option[Long] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
        else Array(p)
      // no top-level part file (a partitioned or suffix-less layout):
      // the footers here don't cover the table, so let the caller count
      if (files.isEmpty) None
      else Some(files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try r.getRecordCount finally r.close()
      }.sum)
    } catch { case scala.util.control.NonFatal(_) => None }

  val eventsRawSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** [[eventsRawSchema]] with `ts` as a plain LONG — the forced read
    * schema for legacy files whose footer annotates the int64 as
    * TIMESTAMP(NANOS) (Spark 4 cannot infer that type; reading the
    * raw int64 recovers the exact ns values). */
  val eventsLegacyNsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(eventsRawSchema.map {
      case f if f.name == "ts" => f.copy(dataType = LongType)
      case f => f
    })
  }

  /** Register every table as a temp view (idempotent) and return the dir. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => load(spark, sfDir, n).createOrReplaceTempView(n) }
}
