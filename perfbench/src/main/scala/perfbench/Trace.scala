package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEvents

/** One call into an engine layer: name, start, end, parent span and
  * request id. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's own calls into each engine layer, kept
  * in memory and written out once at the end. Disabled, [[span]] only
  * runs its body. */
final class Trace(val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String, req: Long = 0L)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0L)
      open.set(id :: open.get)
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        open.set(open.get.tail)
        done.add(Span(id, parent, name, req, s - origin, e - origin))
      }
    }

  /** Epoch ms of a `System.nanoTime()` reading, on the clock of
    * Spark's listener events. */
  def epochMs(nanoTime: Long): Double = originEpochMs + (nanoTime - origin) / 1e6
  /** A span's [start, end] in epoch ms. */
  def epochMs(s: Span): (Double, Double) =
    (epochMs(origin + s.startNs), epochMs(origin + s.endNs))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
  def seconds(name: String): Seq[Double] =
    spans.filter(_.name == name).map(_.seconds)

  def write(path: Path, summary: String): Unit = {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder("{\"summary\":").append(summary)
      .append(",\"spans\":[")
    sb.append(spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${s.req},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString(",\n"))
    sb.append("]}\n")
    Files.write(path, sb.toString.getBytes(UTF_8))
  }
}

/** Spark-side counts per job group. Every call the benchmark makes runs
  * under a job group `<layer>#<request>` on its own thread; task and job
  * events are attributed through their stage's job group, Catalyst
  * phase times through the SQL execution's. (A QueryExecutionListener
  * receives the same QueryExecution but no execution id, so it cannot
  * tell which request planned it; the execution-end event carries
  * both.) Read only after [[org.apache.spark.perfbench.Internals.drain]]. */
final class Counters extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var recordsRead = 0L
    var planMs = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val planned = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean])

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
    acc(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      acc(g).jobSpans += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, "none"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Catalyst phases (analysis, optimization, planning) of each
    * QueryExecution, counted once: a prepared template re-runs the same
    * QueryExecution, whose tracker still holds its first planning. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup(s.executionId) = s.jobGroupId.getOrElse("none")
      case x: SparkListenerSQLExecutionEnd =>
        val g = execGroup.remove(x.executionId).getOrElse("none")
        SqlEvents.queryExecution(x).filter(planned.add).foreach { qe =>
          acc(g).planMs += qe.tracker.phases.values.map(_.durationMs).sum
        }
      case _ =>
    }
  }

  /** Accumulators whose group starts with `prefix`. */
  def groups(prefix: String): Seq[(String, Acc)] = synchronized {
    byGroup.toSeq.filter(_._1.startsWith(prefix))
  }

  /** The accumulator of exactly the group `name`. */
  def group(name: String): Option[Acc] = synchronized(byGroup.get(name))

  def sum(prefix: String)(f: Acc => Long): Long = groups(prefix).map(g => f(g._2)).sum

  /** [start, end] (epoch ms) of every job of the groups under `prefix`. */
  def jobSpans(prefix: String): Seq[(Long, Long)] = groups(prefix).flatMap(_._2.jobSpans)
}

object Counters {
  /** Wall time of [t0, t1] (epoch ms) that none of `jobs` covers. */
  def gapMs(jobs: Seq[(Long, Long)], t0: Double, t1: Double): Double = {
    var covered = 0.0; var end = t0
    jobs.map { case (a, b) => (math.max(a.toDouble, t0), math.min(b.toDouble, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (t1 - t0) - covered
  }
}
