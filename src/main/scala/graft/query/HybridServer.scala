package graft.query

import org.apache.spark.sql.SparkSession

/** PREPARED HYBRID RETRIEVAL — the production shape a real retrieval
  * deployment serves most often (lexical + vector with reciprocal-
  * rank fusion), fused from the two prepared servers that already
  * exist: [[Bm25Server.search]] (MaxScore-pruned exact BM25 ranking,
  * scored on the driver with no Spark job) and
  * [[IvfServer.probeTemplate]] (cell-routed exact-cosine top-k, one
  * exchange-free template job). The fusion itself is DRIVER
  * arithmetic over the two k-bounded lists — the vector arm's
  * prepared job is the only Spark work per query, with no per-query
  * Catalyst work anywhere.
  *
  * RRF arithmetic mirrors the batch entry
  * ([[graft.ops.Similarity.hybridRrf]], q37_hybrid_rrf) operation for
  * operation: ranks are positions in each arm's (score desc, id asc)
  * top-k output, a missing arm contributes 0, contributions are
  * `floor(1e6 / (rank + kRrf))` as a long (floor, not round — the
  * cross-engine rule the batch entry documents), fused rows order by
  * (rrf desc, doc_id). Served == batch is spec-pinned.
  *
  * The vector arm DEFAULTS to the ROUTED adaptive probe
  * ([[IvfServer.probeAutoTemplate]] — nProbe 1 with doubling-ladder
  * escalation, the `annIvfFilteredAuto` rule unfiltered): a probe
  * reads its 1-2 nearest cell directories, never the whole store —
  * the serving-layer posture every other prepared path here already
  * has (r13 verdict: the old cap-probe default was a full embeddings
  * scan per query). The routed fusion's batch twin is
  * [[graft.ops.Similarity.hybridRrfAuto]] (served == batch
  * spec-pinned) and its recall against the cap-probe fusion is the
  * oracle-checked q37_hybrid_recall panel. `nProbe = 0` keeps the CAP
  * arm — every cell, the exact scan the q37_hybrid_rrf oracle's
  * brute-force arm computes — as the parity-pinned mode.
  *
  * Staleness rides on the component servers: [[Bm25Server]]
  * revalidates its store stamp per search, [[IvfServer]] its cell
  * listings per borrow (and its count cache per auto probe) — a
  * store mutation under a live hybrid server is caught by the arm
  * that reads the mutated artifact. */
final class HybridServer(val lexical: Bm25Server, val vector: IvfServer,
                         topK: Int = 10, kRrf: Int = 60) {

  /** Fused rows: (doc_id, lex_rank, sem_rank, rrf) by (rrf desc,
    * doc_id) — the q37_hybrid_rrf row shape. `excludeId` drops the
    * query's own vector from the semantic arm (the stored-query
    * convention). `nProbe` < 0 (the default sentinel) routes the
    * vector arm adaptively; 0 means the CAP (every cell — the
    * parity-exact full scan); > 0 probes that many cells (clamped to
    * the cell count). */
  def search(terms: Seq[String], qv: Seq[Float], excludeId: Long = 0L,
             nProbe: Int = HybridServer.AutoProbe)
      : Seq[(Long, Option[Long], Option[Long], Long)] = {
    val lex = lexical.search(terms).map(_._1)
    val sem = (
      if (nProbe < 0) vector.probeAutoTemplate(qv, topK, excludeId)
      else {
        val np =
          if (nProbe == 0) vector.nCells
          else math.min(nProbe, vector.nCells)
        vector.probeTemplate(qv, topK, excludeId, np)
      }).map(_._1)
    val lexRank = lex.zipWithIndex
      .map { case (d, i) => d -> (i + 1L) }.toMap
    val semRank = sem.zipWithIndex
      .map { case (d, i) => d -> (i + 1L) }.toMap
    def contrib(r: Option[Long]): Long =
      r.map(rk => math.floor(1000000.0 / (rk + kRrf)).toLong)
        .getOrElse(0L)
    (lexRank.keySet ++ semRank.keySet).toSeq
      .map(d => (d, lexRank.get(d), semRank.get(d),
        contrib(lexRank.get(d)) + contrib(semRank.get(d))))
      .sortBy { case (d, _, _, rrf) => (-rrf, d) }
      .take(topK)
  }

  /** FILTERED fused retrieval — the served twin of
    * [[graft.ops.Similarity.hybridRrfFiltered]] (spec-pinned equal on
    * the same corpus and keep set): the lexical arm is
    * [[Bm25Server.searchFiltered]] (candidates restricted, statistics
    * global), the semantic arm [[IvfServer.probeFilteredAutoTemplate]]
    * (the adaptive filtered ladder through prepared plans), fused by
    * the same RRF arithmetic as [[search]]. `keep` is the per-query
    * filter working set as a driver-held id set (the lexical arm
    * tests it per posting on the driver, the semantic arm reads it
    * through template refs — zero per-query Catalyst work); a filter
    * too dense to hold driver-side belongs on the batch path. */
  def searchFiltered(terms: Seq[String], qv: Seq[Float],
                     keep: java.util.HashSet[java.lang.Long],
                     excludeId: Long = 0L)
      : Seq[(Long, Option[Long], Option[Long], Long)] = {
    val lex = lexical.searchFiltered(terms, keep).map(_._1)
    val sem = vector.probeFilteredAutoTemplate(qv, keep, topK, excludeId)
      .map(_._1)
    val lexRank = lex.zipWithIndex
      .map { case (d, i) => d -> (i + 1L) }.toMap
    val semRank = sem.zipWithIndex
      .map { case (d, i) => d -> (i + 1L) }.toMap
    def contrib(r: Option[Long]): Long =
      r.map(rk => math.floor(1000000.0 / (rk + kRrf)).toLong)
        .getOrElse(0L)
    (lexRank.keySet ++ semRank.keySet).toSeq
      .map(d => (d, lexRank.get(d), semRank.get(d),
        contrib(lexRank.get(d)) + contrib(semRank.get(d))))
      .sortBy { case (d, _, _, rrf) => (-rrf, d) }
      .take(topK)
  }
}

object HybridServer {

  /** `nProbe` sentinel: route the vector arm adaptively (the
    * production default). */
  val AutoProbe: Int = -1

  /** The harness-shape constructor: both stores session-cached per
    * corpus content (the loaded-entry discipline). */
  def forCorpus(spark: SparkSession, dir: String,
                topK: Int = 10): HybridServer =
    new HybridServer(
      new Bm25Server(spark,
        graft.queries.IrSql.bm25StatsStore(spark, dir), topK),
      new IvfServer(spark,
        graft.ops.Similarity.cachedIvfStore(spark, dir)), topK)
}
