package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins [[Tables.deriveEventTime]] across the two events.parquet layouts
  * that have existed: legacy ns-precision int64 `ts` and the current
  * native µs TIMESTAMP (written zone-less, i.e. TIMESTAMP_NTZ). Both must
  * surface identical (ts: µs TIMESTAMP, ts_ns: long) columns — the batch
  * oracle, the streaming reader, and every temporal operator key off
  * these two.
  */
class TablesSpec extends SparkSpec {

  // one row whose µs value exercises sub-second precision
  private val micros = Seq(
    1700000000000001L, 1700000000999999L, 1700003600123456L)

  private def writeLegacyNs(): String = {
    val dir = Files.createTempDirectory("ev_ns").toString
    val rows = micros.zipWithIndex.map { case (us, i) =>
      Row(i.toLong, us * 1000L, 10L + i, "view", 1.5, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def writeCurrentUs(): String = {
    val dir = Files.createTempDirectory("ev_us").toString
    val rows = micros.zipWithIndex.map { case (us, i) =>
      Row(i.toLong, java.time.LocalDateTime.ofEpochSecond(
        us / 1000000L, (us % 1000000L).toInt * 1000,
        java.time.ZoneOffset.UTC), 10L + i, "view", 1.5, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def derived(dir: String): Seq[(Long, Long, Long)] =
    Tables.deriveEventTime(spark.read.parquet(dir))
      .select(col("event_id"), col("ts_ns"),
        expr("unix_micros(ts)").as("ts_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq

  test("both events layouts derive identical ts / ts_ns") {
    val legacy = derived(writeLegacyNs())
    val current = derived(writeCurrentUs())
    assert(legacy == current)
    assert(current.map(_._2) == micros.map(_ * 1000L))
    assert(current.map(_._3) == micros)
  }

  test("derived ts is the zoned timestamp type both layouts agreed on") {
    val df = Tables.deriveEventTime(spark.read.parquet(writeCurrentUs()))
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.schema("ts_ns").dataType == LongType)
  }

  test("annotated TIMESTAMP(NANOS) legacy files read via the forced long schema") {
    // fixture: int64 ns annotated TIMESTAMP(NANOS) in the footer (the
    // arrow-writer legacy spelling; generated with pyarrow) — Spark 4
    // refuses this at schema inference, which guards the premise…
    val fixture = resourcePath("/graft/events_ns_annotated.parquet")
    intercept[Exception] {
      spark.read.parquet(fixture).count()
    }
    // …and Tables.events must recover by retrying with ts:LONG
    val tmp = Files.createTempDirectory("ev_annot").toString
    val dst = java.nio.file.Paths.get(tmp, "events.parquet")
    Files.createDirectories(dst)
    Files.copy(java.nio.file.Paths.get(fixture, "part-0.parquet"),
      dst.resolve("part-0.parquet"))
    val rows = Tables.events(spark, tmp)
      .select(col("event_id"), col("ts_ns"),
        expr("unix_micros(ts)").as("ts_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val expectedNs = (0 until 4).map(i => 1700000000000000000L + i * 1000000000L)
    assert(rows.map(_._2) == expectedNs)
    assert(rows.map(_._3) == expectedNs.map(_ / 1000L))
  }

  test("testdata events load surfaces ts_ns aligned with ts") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val bad = ev.filter(expr("unix_micros(ts) * 1000L != ts_ns")).count()
    assert(bad == 0L)
  }

  test("parquetRowCount: footer metadata equals the scanned count, " +
    "for a single file and a part directory; unreadable paths → None") {
    // single-file table (the testdata layout the shape probes read)
    val single = "/root/testdata/sf0.001/documents.parquet"
    assert(Tables.parquetRowCount(spark, single) ===
      Some(spark.read.parquet(single).count()))
    // multi-part directory
    val dir = Files.createTempDirectory("prc").toString
    spark.range(0, 1000).repartition(3)
      .write.mode("overwrite").parquet(dir)
    assert(Tables.parquetRowCount(spark, dir) === Some(1000L))
    // missing path falls back to None (callers then count())
    assert(Tables.parquetRowCount(spark, dir + "/nope") === None)
    // a PARTITIONED directory has no top-level part file: None, not
    // Some(0) — the footers at the top cover none of its rows
    val parted = Files.createTempDirectory("prc_parted").toString
    spark.range(0, 1000).selectExpr("id", "id % 3 as p")
      .write.mode("overwrite").partitionBy("p").parquet(parted)
    assert(Tables.parquetRowCount(spark, parted) === None)
  }
}
