package graft.queries

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.concurrent.duration._
import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}
import graft.SparkSpec

/** Local files under the `falsern` scheme whose renames into or out of
  * a `_graft_` swap name return false instead of moving anything — the
  * failure mode of filesystems that report a failed rename by result
  * rather than by exception. */
class FalseRenameFs extends FilterFileSystem(new RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("falsern:///")
    }) {
  override def getScheme: String = "falsern"
  override def rename(src: Path, dst: Path): Boolean =
    if (src.getName.startsWith("_graft_") ||
        dst.getName.startsWith("_graft_")) false
    else super.rename(src, dst)
}

/** Pins the failure paths of the shared commit helpers: a rename that
  * returns false fails the swap loudly and leaves the old artifact
  * readable, and concurrent staging never outlives a failed call. */
class CommitHelpersSpec extends SparkSpec {

  test("swapIn and recoverArtifact throw when a rename returns false, " +
    "and the old artifact still reads back") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.falsern.impl", classOf[FalseRenameFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_swap_rn")
      .toString
    Seq(1L, 2L).toDF("v").write.parquet(s"$dir/art")
    def rowsAt(p: String) =
      spark.read.parquet(p).collect().map(_.getLong(0)).sorted.toSeq
    // step 2 (target → _graft_old_art) returns false
    intercept[java.io.IOException] {
      IrSql.swapIn(spark, s"falsern://$dir/art", Seq(9L).toDF("v"))
    }
    assert(rowsAt(s"$dir/art") == Seq(1L, 2L),
      "a failed swap must leave the old artifact in place")
    // crash between steps 2 and 3: the complete replacement's rename
    // into place returns false — recovery must not drop the old copy
    val local = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(local.rename(new Path(s"$dir/art"),
      new Path(s"$dir/_graft_old_art")))
    intercept[java.io.IOException] {
      IrSql.recoverArtifact(spark, s"falsern://$dir", "art")
    }
    assert(rowsAt(s"$dir/_graft_old_art") == Seq(1L, 2L),
      "a failed recovery rename must keep the old artifact")
    // on a filesystem whose renames work, recovery completes the swap
    IrSql.recoverArtifact(spark, dir, "art")
    assert(rowsAt(s"$dir/art") == Seq(9L))
  }

  test("awaitSettled: when a thunk fails or the wait times out, the " +
    "cancel runs and every thunk has settled before the call throws") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val running = new AtomicInteger
      val finished = new AtomicInteger
      def slow(ms: Long): () => Unit = () => {
        running.incrementAndGet()
        try Thread.sleep(ms)
        finally { running.decrementAndGet(); finished.incrementAndGet() }
        ()
      }
      val cancelled = new AtomicBoolean
      val e = intercept[IllegalStateException] {
        IrSql.awaitSettled(Seq(slow(400), () => throw
          new IllegalStateException("boom"), slow(300)), 30.seconds,
          () => cancelled.set(true))
      }
      assert(e.getMessage == "boom")
      assert(cancelled.get, "a failure must cancel the job group")
      assert(running.get == 0 && finished.get == 2,
        "a staging thunk was still running when the call threw")
      cancelled.set(false)
      intercept[java.util.concurrent.TimeoutException] {
        IrSql.awaitSettled(Seq(slow(400), slow(300)), 50.millis,
          () => cancelled.set(true))
      }
      assert(cancelled.get, "a timeout must cancel the job group")
      assert(running.get == 0 && finished.get == 4,
        "a staging thunk was still running after the timeout threw")
    } finally pool.shutdown()
  }
}
