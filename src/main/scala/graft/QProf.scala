package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** Targeted per-query A/B profiler: time named [[SparkEntry.queries]]
  * entries in isolation (N repeats, median + spread), without the
  * full bench's 216-query session around them — the tool for
  * attributing a cross-round per-query move to code vs host (the
  * SCALING.md regression-footnote discipline).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.QProf q27_upsample q29_topk [reps]"`
  */
object QProf {
  def main(args: Array[String]): Unit = {
    val (repArg, names) = args.partition(_.forall(_.isDigit))
    val reps = repArg.headOption.map(_.toInt).getOrElse(5)
    require(names.nonEmpty, "pass at least one query name")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = ExtraConf(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    // the bench's exact CPU calibration row (xorshift64* spin), so
    // qprof numbers normalize against BENCH_LOCAL rows cross-host
    val calib = {
      def spin(): Double = {
        val t0 = System.nanoTime()
        var x = 0x9E3779B97F4A7C15L; var i = 0
        while (i < 200000000) {
          x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
          i += 1
        }
        if (x == 42L) println("")
        (System.nanoTime() - t0) / 1e6
      }
      spin()
      (1 to 3).map(_ => spin()).sorted.apply(1)
    }
    println(f"[qprof] calib_cpu_ms=$calib%.1f sf=$sfDir reps=$reps")
    // per-query shuffle-write bytes (task metrics, JVM-wide) — the
    // codec sweep's bytes column (guide §2.3: report bytes AND wall)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null)
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
    names.foreach { n =>
      val q = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query '$n'"))
      q(spark, sfDir).count() // warmup (plan + caches)
      Bridge.drainListeners(spark.sparkContext)
      val b0 = shuffleBytes.get()
      val times = (1 to reps).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        q(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      Bridge.drainListeners(spark.sparkContext)
      val mb = (shuffleBytes.get() - b0) / 1e6 / reps
      val med = times(times.size / 2)
      println(f"[qprof] $n%s median=$med%.3f s " +
        f"min=${times.head}%.3f max=${times.last}%.3f " +
        f"shuffle_mb_per_run=$mb%.2f")
    }
    spark.stop()
  }
}
