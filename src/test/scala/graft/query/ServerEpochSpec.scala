package graft.query

import org.apache.spark.sql.DataFrame
import graft.SparkSpec
import graft.corpus.TrecCorpus
import graft.index.{CharKGramIndex, InvertedIndex, PositionalIndex}
import graft.ops.Epoch

/** The read-coherence epoch ([[Epoch]]) over the tf-idf, phrase and
  * wildcard stores: a takedown's legs run by hand with the epoch open,
  * and the live point, phrase and wildcard servers — cached and
  * loaded — must keep serving the PRE-request answers between the
  * legs, then flip to exactly what fresh servers answer once the epoch
  * commits (the [[graft.index.DeletionSpec]] hybrid-epoch discipline,
  * extended to every server on the shared [[Snapshot]] holder). */
class ServerEpochSpec extends SparkSpec {

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** The sample TREC corpus plus one doc holding a term no other doc
    * has, so the chargram leg removes a term from the wildcard
    * vocabulary (the leg then changes a lookup, not only the df
    * sidecar). */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    TrecCorpus.read(spark, resourcePath("/graft/sample-trec.xml"))
      .unionByName(Seq(("Dzz900", "zzqepoch merge engine stream"))
        .toDF("docid", "content"))
  }

  private val (point, phrase, near) =
    ("merge stream", "merge engine", ("merge", "engine", 3))

  private final class Servers(inv: String, pos: String, cg: String) {
    val ps = PointServer.overStore(spark, inv)
    val phs = PhraseServer.overStore(spark, pos)
    val ws = new WildcardServer(spark, cg, point = Some(ps))
    val lps = new LoadedPointServer(spark, inv)
    val lph = new LoadedPhraseServer(spark, pos)
    val lws = new LoadedWildcardServer(spark, cg)

    /** Every served answer, except the routed wildcard lookup: its
      * held snapshot reads gram part files by name, which the chargram
      * leg's file surgery replaces (see the [[Epoch]] doc). */
    def answers: Seq[Any] = {
      val (a, b, w) = near
      Seq(ps.search(point), lps.search(point),
        phs.phrase(phrase), lph.phrase(phrase),
        phs.near(a, b, w), lph.near(a, b, w),
        ws.lookup("zzq*"), ws.lookup("st*am"), ws.search("st*am"))
    }

    def all: Seq[Any] = answers ++ Seq(lws.lookup("zzq*"), lws.lookup("st*am"))
  }

  test("an epoch open over the inverted, positional and chargram " +
    "stores holds every live point/phrase/wildcard server's " +
    "pre-request answers between hand-run delete legs; the epoch " +
    "commit flips them all to the fresh servers' answers") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val inv = tmp("graft_ep_inv")
    InvertedIndex.write(InvertedIndex.build(spark, corpus, k = 1), inv)
    val pos = tmp("graft_ep_pos")
    PositionalIndex.write(PositionalIndex.build(spark, corpus), pos)
    val cg = tmp("graft_ep_cg")
    CharKGramIndex.write(CharKGramIndex.build(spark, corpus), cg)
    CharKGramIndex.writeVocabDf(spark, cg,
      CharKGramIndex.docTermsOf(spark, corpus))
    val live = new Servers(inv, pos, cg)
    val pre = live.all
    // victims: the point and phrase top hits, and the one doc holding
    // the wildcard-only term
    val victims = Seq(live.ps.search(point).head._2,
      live.phs.phrase(phrase).head._1, "Dzz900").distinct
    assert(live.ws.lookup("zzq*") == Seq("zzqepoch"))
    val ids = victims.toDF("docid")
    val stores = Seq(pos, inv, cg)
    val ef = tmp("graft_ep_file") + "/epoch"
    Epoch.begin(conf, ef, stores)
    PositionalIndex.deleteDocs(spark, pos, ids)
    assert(live.all == pre,
      "after the positional leg a live server left the pre-request view")
    InvertedIndex.deleteDocs(spark, inv, ids)
    assert(live.all == pre,
      "after the inverted leg a live server left the pre-request view")
    CharKGramIndex.deleteDocs(spark, cg, CharKGramIndex.docTermsOf(spark,
      corpus.join(ids, Seq("docid"), "left_semi")))
    val held = live.answers
    assert(held == pre.take(held.size),
      "all legs committed but the epoch open: a live server moved")
    Epoch.end(conf, ef, stores)
    val post = live.all
    assert(post == new Servers(inv, pos, cg).all,
      "after the epoch commit the live servers != fresh servers")
    assert(post != pre, "the takedown is invisible after the commit")
    assert(live.ws.lookup("zzq*").isEmpty,
      "the removed term still expands after the commit")
    assert(!live.lps.search(point).exists(r => victims.contains(r._2)))
  }
}
