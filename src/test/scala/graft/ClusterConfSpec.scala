package graft

import org.apache.spark.sql.functions._
import graft.corpus.TrecCorpus
import graft.index.InvertedIndex
import graft.ops.Dedup
import graft.queries.Relational
import graft.query.{PointServer, QueryEngine}

/** Cluster-shaped conf (`AQE on, shuffle.partitions=200, default
  * broadcast thresholds` — what a real cluster runs, vs the local
  * defaults every other number in the repo comes from): the invariants
  * the plans rely on must SURVIVE it, not merely hold under the tuned
  * local conf. CLUSTERCONF.md records the full-surface oracle run
  * under the same overrides; this spec pins that the cached point and
  * phrase servers stay job-free and exact under it, and that the
  * size-guarded broadcast joins keep their shape.
  */
class ClusterConfSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val ClusterConf = Map(
    "spark.sql.shuffle.partitions" -> "200",
    "spark.sql.adaptive.enabled" -> "true")

  private def withClusterConf[T](f: => T): T = {
    val prev = ClusterConf.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    ClusterConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("PointServer template stays exchange-free and per-query " +
    "correct under AQE + 200 shuffle partitions") {
    withClusterConf {
      val corpus =
        TrecCorpus.read(spark, resourcePath("/graft/sample-trec.xml"))
      val ix = InvertedIndex.build(spark, corpus, k = 1)
      val ps = new PointServer(ix)
      // the server answers from its driver dictionary: a warm query
      // submits no Spark job whatever the session conf, so no plan is
      // left for AQE or the partition count to reshape
      val queries = Seq("merge", "stream buffer", "pipeline", "data stream")
      val got = queries.map(ps.search) // warm
      val jobs = jobsDuring(queries.foreach(ps.search))
      assert(jobs == 0, s"warm point queries submitted $jobs Spark jobs")
      // and a query SEQUENCE matches fresh-plan serving
      queries.zip(got).foreach { case (q, g) =>
        val want = QueryEngine.serveSearch(ix, q).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
        assert(g == want, s"query [$q] diverged")
      }
      InvertedIndex.unpersist(ix)
    }
  }

  test("PhraseServer template stays exchange-free and matches the " +
    "fresh phrase plan under AQE + 200 shuffle partitions") {
    withClusterConf {
      val corpus =
        TrecCorpus.read(spark, resourcePath("/graft/sample-trec.xml"))
      val pix = graft.index.PositionalIndex.build(spark, corpus)
      val ps = new graft.query.PhraseServer(pix)
      val phrases = Seq("merge engine", "sorted streams", "merge engine merges")
      phrases.foreach(ps.phrase) // warm
      val jobs = jobsDuring(phrases.foreach(ps.phrase))
      assert(jobs == 0, s"warm phrase queries submitted $jobs Spark jobs")
      Seq("merge engine", "sorted streams", "merge engine").foreach { q =>
        val want = graft.index.PositionalIndex.phrase(pix, q)
          .limit(10).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(ps.phrase(q) == want, s"divergence on '$q'")
      }
    }
  }

  test("size-guarded broadcasts and pushdown survive the cluster conf") {
    withClusterConf {
      val p = Relational.q11Join(spark, dir)
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"bounded dim no longer broadcast under cluster conf:\n$p")
      assert(p.contains("PushedFilters: [IsNotNull(o_totalprice)"),
        s"pushdown lost under cluster conf:\n$p")
    }
  }

  test("a shuffle-heavy pipeline returns identical rows under the " +
    "cluster conf") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val local = rows(Dedup.jaccard(spark, dir, threshold = 0.5))
    assert(local.nonEmpty)
    val cluster = withClusterConf {
      rows(Dedup.jaccard(spark, dir, threshold = 0.5))
    }
    assert(cluster == local)
  }
}
