package perfbench

import java.nio.file.{Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{CharKGramIndex, InvertedIndex, PositionalIndex}
import graft.ops.Takedown
import graft.query._
import graft.queries.IrSql

/** One run of one workload:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <traceDir>`.
  *
  * Both workloads walk the engine's lifecycle from a seeded corpus:
  * ingest the TREC files through the `trec` source and build the four
  * durable stores (inverted k=1, positional, char-3-gram with its df
  * sidecar, BM25 stats), open the servers, then measure
  *  - `serve`: 2 closed-loop clients over the store-backed cached
  *    servers the REPL uses (PointServer, PhraseServer, WildcardServer,
  *    Bm25Server) — the query layer does nearly all the work;
  *  - `churn`: a takedown request across the four stores, then 2
  *    closed-loop clients over the loaded servers (zone-map routed
  *    parquet reads: LoadedPoint/Phrase/Wildcard + Bm25Server) while the
  *    takedown's tombstones are live and every server must notice the
  *    new store generation.
  *
  * Answers are checked after the timed interval; a wrong answer counts
  * as a failed operation. The last stdout line is the JSON result:
  * end-to-end metrics untraced, per-layer metrics traced. */
object Main {
  final case class Metric(name: String, value: Double, unit: String, samples: Int)

  final case class Outcome(metrics: Seq[Metric], attempted: Long, failed: Long,
                           note: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, traceDirS) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    val work = Paths.get(workS).toAbsolutePath
    val spark = session(work)
    val run = new Run(spark, seed, secondsS.toInt, traced, work)
    val out =
      try workload match {
        case "serve" => run.serve()
        case "churn" => run.churn()
        case other => sys.error(s"unknown workload $other")
      } finally {
        if (traced) {
          val f = Paths.get(traceDirS, s"$workload-seed$seed.json")
          run.tr.write(f, run.summaryJson)
          System.err.println(s"perfbench: spans written to $f")
        }
        spark.stop()
      }
    println(s"# ${out.note}")
    out.metrics.foreach(m =>
      println(f"# ${m.name}%-34s ${m.value}%14.4f ${m.unit}%-6s n=${m.samples}"))
    val json = out.metrics.map(m =>
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString(",")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{$json}}""")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // point-query session, as the REPL configures it
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s((math.ceil(p * s.size).toInt - 1).max(0).min(s.size - 1))
    }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}

/** A query as a client issued it: when it started and ended, and its
  * rows as (docid, score) — None if it threw. */
final case class Answer(q: Gen.Query, startNs: Long, endNs: Long,
                        rows: Option[Seq[(String, Double)]]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A corpus ingested into its four stores. */
final case class Built(c: Gen.Corpus, corpusDir: String, stores: Stores,
                       corpus: DataFrame, buildS: Double, inputBytes: Long)

/** Every query of an interval, the measured ones (issued inside the
  * measured window) and the window [startNs, endNs). */
final case class Interval(all: Seq[Answer], measured: Seq[Answer], startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9

  /** Answered queries per second of the window. A query that straddles
    * an edge counts by the share of its time inside, so one slow query
    * at the end does not stretch or shrink the window. */
  def qps: Double = all.filter(_.rows.isDefined).map { a =>
    val inside = math.min(a.endNs, endNs) - math.max(a.startNs, startNs)
    math.max(0L, inside).toDouble / math.max(1L, a.endNs - a.startNs)
  }.sum / seconds
}

final class Run(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean,
                work: Path) {
  import Main._
  import spark.implicits._

  val tr = new Trace(traced)
  private val sc = spark.sparkContext
  private val counters: Option[Counters] =
    if (!traced) None
    else {
      val c = new Counters
      sc.addSparkListener(c)
      Some(c)
    }
  private val reqIds = new AtomicLong
  private val layer = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
  var summaryJson = "{}"

  /** Run `body` in a span named `group`; traced runs also tag its Spark
    * jobs with the job group `group#<request>` (a thread-local). */
  private def call[A](group: String)(body: => A): A = {
    val req = reqIds.incrementAndGet()
    if (traced) sc.setJobGroup(s"$group#$req", group)
    try tr.span(group, req)(body)
    finally if (traced) sc.clearJobGroup()
  }

  private def drained(): Counters = { Internals.drain(sc); counters.get }

  private def put(name: String, value: Double, unit: String, n: Int = 1): Unit =
    layer(name) = Metric(name, value, unit, n)

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()
  log("session up")
  private def log(msg: String): Unit =
    System.err.println(f"perfbench: ${since(born)}%7.1f s  $msg")

  // ---- ingest -------------------------------------------------------

  /** Generate the corpus and ingest it: TREC files through the `trec`
    * source into the four stores. */
  private def ingest(nDocs: Int): Built = {
    val c = Gen.corpus(seed, nDocs)
    val corpusDir = work.resolve("corpus")
    Gen.write(spark, c, corpusDir, files = 4)
    val trecDir = corpusDir.resolve("trec")
    val corpus = Stores.trecCorpus(spark, trecDir.toString)
    log("corpus written")
    val stores = Stores(work.resolve("stores").toString)
    val t0 = System.nanoTime()
    tr.span("ingest.build") {
      Stores.build(spark, corpus, corpusDir.toString, stores)(n => b => call(n)(b))
    }
    val buildS = since(t0)
    // docnos are dense 1..N
    val dm = spark.read.parquet(s"${stores.inverted}/doc_map")
      .agg(count(lit(1)), countDistinct(col("docno")), min(col("docno")), max(col("docno")))
      .head()
    check("ingest docnos dense 1..N",
      (0 to 3).map(dm.getLong) == Seq(nDocs.toLong, nDocs.toLong, 1L, nDocs.toLong),
      s"(rows, distinct, min, max) = $dm for $nDocs docs")
    Built(c, corpusDir.toString, stores, corpus, buildS,
      Stores.listing(trecDir.toString).values.map(_._1).sum)
  }

  /** Traced only: the ingest layers, each timed by its own call over
    * the same corpus after the build (they also run inside the store
    * builds, so they are not part of the build's span sum). */
  private def ingestLayers(b: Built): Unit = if (traced) {
    graft.text.TextPipeline.register(spark)
    val t0 = System.nanoTime()
    call("sources.scan") { b.corpus.agg(sum(length(col("content")))).collect() }
    put("sources.scan_s", since(t0), "s")
    val t1 = System.nanoTime()
    call("corpus.docno") {
      graft.corpus.TrecCorpus.docnoMappingScalable(spark, b.corpus).count()
    }
    put("corpus.docno_s", since(t1), "s")
    val t2 = System.nanoTime()
    val tokens = call("text.analyze") {
      b.corpus.select(explode(expr("graft_tokenize(content)"))).count()
    }
    put("text.analyze_s", since(t2), "s")
    put("text.tokens", tokens.toDouble, "count")
    Stores.Names.foreach(s =>
      put(s"index.$s.build_s", tr.seconds(s"index.$s.build").sum, "s"))
    put("index.bytes_written", b.stores.bytes.toDouble, "bytes")
    put("index.files_written", b.stores.fileCount.toDouble, "count")
    val ctr = drained()
    put("index.shuffle_write_bytes", ctr.sum("index.")(_.shuffleWrite).toDouble, "bytes")
    put("index.spill_bytes", ctr.sum("index.")(_.spill).toDouble, "bytes")
    put("index.tasks", ctr.sum("index.")(_.tasks).toDouble, "count")
    put("index.executor_cpu_s", ctr.sum("index.")(_.cpuNs) / 1e9, "s")
    put("index.gc_s", ctr.sum("index.")(_.gcMs) / 1e3, "s")
  }

  // ---- clients ------------------------------------------------------

  /** The measured query interval: `n` closed-loop clients, each issuing
    * the next query of the shared stream once its previous one returned.
    * The first `warmQueries` queries of the stream are not measured: the
    * JIT is still compiling the query path and, on churn, each server's
    * first queries after the commit re-read its store. The warm-up is a
    * count, not a time, so a slow stretch of the machine does not leave
    * the measured queries less warm. Measuring starts when query
    * `warmQueries` is issued and lasts `seconds`. */
  private def interval(n: Int, c: Gen.Corpus, warmQueries: Int,
                       serve: Gen.Query => Seq[(String, Double)]): Interval = {
    val stream = Gen.queries(c, 20000, stream = 1)
    val next = new AtomicInteger
    val out = new ConcurrentLinkedQueue[Answer]
    val start = new AtomicLong(Long.MaxValue)
    val span = seconds * 1000000000L
    val threads = (0 until n).map { id =>
      new Thread(() => {
        var i = next.getAndIncrement()
        var t0 = System.nanoTime()
        if (i == warmQueries) start.set(t0)
        while (start.get == Long.MaxValue || t0 - start.get < span) {
          val q = stream(i % stream.length)
          val rows =
            try Some(call(s"query.${q.kind}")(serve(q)))
            catch { case e: Exception =>
              System.err.println(s"perfbench: query '${q.text}' failed: $e"); None
            }
          out.add(Answer(q, t0, System.nanoTime(), rows))
          i = next.getAndIncrement()
          t0 = System.nanoTime()
          if (i == warmQueries) start.set(t0)
        }
      }, s"client-$id")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = out.asScala.toSeq.sortBy(_.startNs)
    val measured = all.filter(_.startNs >= start.get)
    log(s"interval: ${measured.size} of ${all.size} queries measured")
    Interval(all, measured, start.get, start.get + span)
  }

  private def queryMetrics(iv: Interval): Seq[Metric] = {
    val ok = iv.measured.filter(_.rows.isDefined)
    val ms = ok.map(_.ms)
    Gen.Kinds.foreach { k =>
      val xs = ok.filter(_.q.kind == k).map(_.ms).sorted
      log(f"$k%-8s n=${xs.size}%3d ms: " + xs.map(x => f"$x%.0f").mkString(" "))
    }
    if (traced) {
      Gen.Kinds.foreach { k =>
        val xs = ok.filter(_.q.kind == k).map(_.ms)
        put(s"query.$k.p50_ms", median(xs), "ms", xs.size)
      }
      // counters cover every query of the interval, warm-up included
      val ctr = drained()
      val n = iv.all.size
      def per(f: ctr.Acc => Long) = ctr.sum("query.")(f).toDouble / math.max(1, n)
      put("query.jobs_per_query", per(_.jobs), "count", n)
      put("query.tasks_per_query", per(_.tasks), "count", n)
      put("query.records_read_per_query", per(_.recordsRead), "count", n)
      put("query.plan_ms", per(_.planMs), "ms", n)
      // per request: wall time not covered by any of its own jobs
      val gaps = tr.spans.filter(_.name.startsWith("query.")).map { s =>
        val (t0, t1) = tr.epochMs(s)
        Counters.gapMs(ctr.group(s"${s.name}#${s.req}").toSeq.flatMap(_.jobSpans), t0, t1)
      }
      put("query.driver_gap_ms", median(gaps), "ms", gaps.size)
    }
    Seq(Metric("query_p50_ms", median(ms), "ms", ms.size),
      Metric("query_p90_ms", percentile(ms, 0.9), "ms", ms.size),
      Metric("query_qps", iv.qps, "1/s", ok.size))
  }

  private def sparkLayers(iv: Interval): Unit = if (traced) {
    val ctr = drained()
    put("spark.gc_s", ctr.sum("")(_.gcMs) / 1e3, "s")
    put("spark.executor_cpu_s", ctr.sum("")(_.cpuNs) / 1e9, "s")
    put("spark.jobs", ctr.sum("")(_.jobs).toDouble, "count")
    put("spark.shuffle_bytes", ctr.sum("")(_.shuffleWrite).toDouble, "bytes")
    put("spark.driver_gap_s",
      Counters.gapMs(ctr.jobSpans(""), tr.epochMs(iv.startNs), tr.epochMs(iv.endNs)) / 1e3, "s")
  }

  /** Memory of the blocks the program persisted (cache/persist), MB.
    * Local-checkpoint blocks are left out: the ContextCleaner frees them
    * whenever a GC happens to collect their frames. */
  private def cachedMb(): Double = Internals.cachedBytes(sc) / 1e6

  // ---- answer checks (never inside the timed interval) --------------

  private var attempted = 0L
  private val failed = new AtomicLong

  private def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed.incrementAndGet()
      System.err.println(s"perfbench: CHECK FAILED $what: $detail")
    }
  }

  private def same(a: Seq[(String, Double)], b: Seq[(String, Double)]): Boolean =
    a.size == b.size && a.zip(b).forall { case ((x, s), (y, t)) =>
      x == y && math.abs(s - t) <= 1e-9 * math.max(1.0, math.abs(s))
    }

  /** The engine's fresh-plan answer for `q` — the paths the prepared
    * servers are spec-pinned to agree with — over the given index
    * frames and, for BM25, the documents table under `corpusDir`. */
  final class Reference(ix: InvertedIndex.Index, pix: PositionalIndex.PIndex,
                        chargrams: DataFrame, corpusDir: String) {
    private def rows(df: DataFrame, id: String, score: String) =
      df.collect().map(r =>
        (r.getAs[Any](id).toString, r.getAs[Number](score).doubleValue)).toSeq
    def apply(q: Gen.Query): Seq[(String, Double)] = q match {
      case Gen.Point(t) => rows(QueryEngine.serveSearch(ix, t), "docid", "score")
      case Gen.Phrase(t) =>
        rows(PositionalIndex.phrase(pix, t).limit(10), "docid", "phrase_tf")
      case Gen.Wildcard(t) =>
        rows(QueryEngine.wildcardSearch(ix, chargrams, t), "docid", "score")
      case Gen.Bm25(ts) =>
        rows(IrSql.q10Bm25Multi(spark, corpusDir, ts), "doc_id", "score")
          .map { case (id, sc) => (Gen.docid(id.toLong), sc) }
    }
  }

  /** Fresh plans over the written stores. */
  private def loaded(st: Stores, corpusDir: String): Reference =
    new Reference(InvertedIndex.load(spark, st.inverted),
      PositionalIndex.load(spark, st.positional), CharKGramIndex.load(spark, st.chargram),
      corpusDir)

  /** A seeded sample of the interval's answers, `ChecksPerKind` of each
    * kind, against the reference's. */
  private def checkSample(what: String, iv: Interval, ref: Reference): Unit = {
    val rng = new scala.util.Random(seed * 7919 + 1)
    Gen.Kinds.flatMap(k => rng.shuffle(iv.measured.filter(a => a.q.kind == k && a.rows.isDefined))
      .take(Sizes.ChecksPerKind)).foreach { a =>
      val want = ref(a.q)
      check(s"$what ${a.q.kind} '${a.q.text}'", same(a.rows.get, want), s"${a.rows.get} vs $want")
    }
  }

  // ---- workloads ----------------------------------------------------

  def serve(): Outcome = {
    val tSetup = System.nanoTime()
    val b = ingest(Sizes.ServeDocs)
    val ps = call("setup.open")(PointServer.overStore(spark, b.stores.inverted))
    val phs = call("setup.open")(PhraseServer.overStore(spark, b.stores.positional))
    val ws = call("setup.open")(new WildcardServer(spark, b.stores.chargram, point = Some(ps)))
    val bs = call("setup.open")(new Bm25Server(spark, b.stores.bm25))
    def answer(q: Gen.Query): Seq[(String, Double)] = q match {
      case Gen.Point(t) => ps.search(t).map(r => (r._2, r._3))
      case Gen.Phrase(t) => phs.phrase(t).map(r => (r._1, r._2.toDouble))
      case Gen.Wildcard(t) => ws.search(t).map(r => (r._2, r._3))
      case Gen.Bm25(ts) => bs.search(ts).map(r => (Gen.docid(r._1), r._2))
    }
    warm(b.c, answer)
    val setupS = since(tSetup)
    log(f"setup $setupS%.1f s (build ${b.buildS}%.1f s)")
    ingestLayers(b)

    val iv = interval(Sizes.ServeClients, b.c, Sizes.ServeWarmQueries, answer)
    val qm = queryMetrics(iv)
    sparkLayers(iv)
    if (traced) {
      put("query.refresh_ms", 0.0, "ms", 0)
      Stores.Names.foreach(n => put(s"ops.takedown.${n}_s", 0.0, "s", 0))
      Seq("ops.commit_s" -> "s", "ops.bytes_rewritten_per_commit" -> "bytes",
        "ops.files_rewritten_per_commit" -> "count").foreach { case (n, u) => put(n, 0.0, u, 0) }
    }
    val cached = cachedMb()

    attempted += iv.all.size
    failed.addAndGet(iv.all.count(_.rows.isEmpty))
    checkSample("serve", iv, loaded(b.stores, b.corpusDir))
    finish("serve", setupS, b, qm, cached)
  }

  /** First query of each kind: templates planned and compiled. */
  private def warm(c: Gen.Corpus, answer: Gen.Query => Seq[(String, Double)]): Unit =
    Gen.queries(c, 64, stream = 0).groupBy(_.kind).values.map(_.head)
      .foreach(q => call("setup.warm")(answer(q)))

  /** One maintenance request over the four stores: a single fan-out
    * call, or — traced — one single-store request per store, each in its
    * own span and job group. */
  private def maintain(kind: String, st: Stores)(op: graft.ops.TakedownStores => Unit): Unit =
    if (traced) Stores.Names.foreach(n => call(s"ops.$kind.$n")(op(st.only(n))))
    else call(s"ops.$kind")(op(st.all))

  def churn(): Outcome = {
    val tSetup = System.nanoTime()
    val b = ingest(Sizes.ChurnDocs)
    val st = b.stores
    val lps = call("setup.open")(new LoadedPointServer(spark, st.inverted))
    val lph = call("setup.open")(new LoadedPhraseServer(spark, st.positional))
    val lws = call("setup.open")(new LoadedWildcardServer(spark, st.chargram))
    val bs = call("setup.open")(new Bm25Server(spark, st.bm25))
    def answer(q: Gen.Query): Seq[(String, Double)] = q match {
      case Gen.Point(t) => lps.search(t).map(r => (r._2, r._3))
      case Gen.Phrase(t) => lph.phrase(t).map(r => (r._1, r._2.toDouble))
      case Gen.Wildcard(t) =>
        QueryEngine.wildcardSearchExpanded(lps.index, lws.lookup(t)).collect()
          .map(r => (r.getAs[String]("docid"), r.getAs[Double]("score"))).toSeq
      case Gen.Bm25(ts) => bs.search(ts).map(r => (Gen.docid(r._1), r._2))
    }
    // no warm-up query: the takedown below starts a new store generation,
    // whose plans every server builds afresh anyway
    val setupS = since(tSetup)
    log(f"setup $setupS%.1f s (build ${b.buildS}%.1f s)")
    ingestLayers(b)

    // the takedown commits; the servers notice on their next query
    val down = Gen.takedowns(b.c, Sizes.ChurnTakedownDocs)
    val before = Stores.listing(st.root)
    val tc = System.nanoTime()
    maintain("takedown", st)(stores =>
      Takedown.delete(spark, stores, down.toDF("doc_id"), corpus = Some(b.corpus)))
    val commitS = since(tc)
    val rewritten = Stores.listing(st.root).filter { case (p, v) => !before.get(p).contains(v) }
    log(f"takedown $commitS%.1f s")
    val iv = interval(Sizes.ChurnReaders, b.c, Sizes.ChurnWarmQueries, answer)
    val qm = queryMetrics(iv)
    sparkLayers(iv)

    if (traced) {
      Stores.Names.foreach(n => put(s"ops.takedown.${n}_s", tr.seconds(s"ops.takedown.$n").sum, "s"))
      put("ops.commit_s", commitS, "s")
      put("ops.bytes_rewritten_per_commit", rewritten.values.map(_._1).sum.toDouble, "bytes")
      put("ops.files_rewritten_per_commit", rewritten.size.toDouble, "count")
      // each server's first query after the commit (it re-reads the store
      // generation and plans against the new files), over that kind's
      // median in the measured interval
      val refresh = Gen.Kinds.flatMap(k => iv.all.find(_.q.kind == k)).filter(_.rows.isDefined)
        .map(a => a.ms - median(iv.measured.filter(_.q.kind == a.q.kind).map(_.ms)))
      put("query.refresh_ms", median(refresh), "ms", refresh.size)
    }
    val cached = cachedMb()

    attempted += iv.all.size + 1
    failed.addAndGet(iv.all.count(_.rows.isEmpty))
    // every query was issued after the takedown returned
    val dead = down.map(Gen.docid).toSet
    iv.all.filter(_.rows.isDefined).foreach { a =>
      val hit = a.rows.get.map(_._1).filter(dead.contains)
      check(s"churn ${a.q.kind} '${a.q.text}' after takedown", hit.isEmpty,
        s"returned taken-down ${hit.mkString(",")}")
    }
    // the servers over the tombstoned stores against fresh plans: BM25
    // over the final corpus's own documents table (the taken-down docs
    // gone), the rest over the stores' live views
    val finalDir = work.resolve("final").toString
    Gen.writeDocuments(spark, (0L until b.c.nDocs).filterNot(down.toSet)
      .map(id => id -> b.c.texts(id.toInt)), finalDir)
    checkSample("after takedown", iv, loaded(st, finalDir))
    log("checks done")
    finish("churn", setupS, b, qm, cached)
  }

  private def finish(workload: String, setupS: Double, b: Built, qm: Seq[Metric],
                     cached: Double): Outcome = {
    val e2e = Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("build_docs_per_s", b.c.nDocs / b.buildS, "1/s", 1),
      Metric("store_bytes_per_input_byte", b.stores.bytes.toDouble / b.inputBytes,
        "ratio", 1)) ++ qm :+ Metric("cached_mb", cached, "MB", 1)
    summaryJson = "{" + (e2e ++ layer.values).map(m =>
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}","n":${m.samples}}""")
      .mkString(",") + "}"
    Outcome(if (traced) layer.values.toSeq else e2e, attempted, failed.get,
      s"workload=$workload seed=$seed docs=${b.c.nDocs} input_bytes=${b.inputBytes} " +
        s"seconds=$seconds traced=$traced")
  }
}

/** Workload sizes (NOTES.md records how they were chosen). */
object Sizes {
  val ServeDocs = 400
  val ChurnDocs = 300
  /** Clients of each workload on local[4]: each query is one driver
    * thread plus one task, so two keep the four cores busy without
    * queueing for them. */
  val ServeClients = 2
  val ChurnReaders = 2
  /** Unmeasured queries before the measured interval: the JIT settles,
    * and on churn every server's first queries after the takedown (its
    * refresh) fall here — churn's 10 are two rounds of the kind
    * rotation. */
  val ServeWarmQueries = 20
  val ChurnWarmQueries = 10
  val ChurnTakedownDocs = 10
  val ChecksPerKind = 1
}
