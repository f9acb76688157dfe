package graft

import java.io.{BufferedReader, PrintStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.index.{CharKGramIndex, InvertedIndex, PositionalIndex}
import graft.query.QueryEngine

/** Interactive query client — the reference's headline UX
  * (`IntDocVectorsForwardIndex.java:278-321`: read line → arity check →
  * analyze → rank → print), re-expressed over the Spark engine:
  *
  *  - 1–2 word queries rank through the latency-shaped
  *    [[QueryEngine.serveSearch]] (top-10 `docid score` lines);
  *  - patterns containing `*` route through the char-k-gram
  *    [[QueryEngine.wildcardSearch]] (an extension the reference
  *    lacks) — on a built corpus AND on a loaded written index whose
  *    directory carries the durable char-gram table;
  *  - `"quoted phrases"` (any length) route through the POSITIONAL
  *    index ([[PositionalIndex.phrase]]) — another extension the
  *    reference cannot express (it would need a word-k-gram index
  *    pre-built per phrase length);
  *  - an empty line terminates; a >2-word query terminates too, as the
  *    reference's loop does (`:298` breaks instead of re-prompting).
  *
  * Run: `sbt "runMain graft.Repl <sfDir-or-indexDir>"` — a directory
  * with a written index (`InvertedIndex.write` layout) is loaded as-is
  * (wildcards too, when `<dir>/chargrams` exists — see [[persist]]);
  * an sf directory with `documents.parquet` builds both indexes.
  */
object Repl {

  /** Load-or-build: a written-index dir (`InvertedIndex.write` layout)
    * loads the parquet artifacts — including the durable char-gram
    * table when `<dir>/chargrams` exists — while an sf data dir builds
    * both indexes from the corpus.
    *
    * The loaded artifacts are PERSISTED: a standing serving session
    * reads them on every query, and caching converts the per-query
    * parquet scan into the same batch-stat-prunable in-memory form the
    * built path serves from (one warm-up scan, paid by the greeter's
    * count()s). Session-lifetime caches are the serving pattern here,
    * exactly as `InvertedIndex.build` documents for its own artifacts. */
  /** Everything a serving session needs: ranked index, optional
    * wildcard char-gram table, optional positional index for quoted
    * phrase queries, and (corpus-dir sessions only) the multi-term
    * BM25 server over the index-time stats store plus the filtered
    * vector-search context (the session-cached durable IVF store +
    * the corpus dir its metadata predicate reads). */
  case class Session(ix: InvertedIndex.Index,
                     chargrams: Option[DataFrame],
                     positional: Option[PositionalIndex.PIndex],
                     bm25: Option[graft.query.Bm25Server] = None,
                     ann: Option[(SparkSession, String, String)] = None,
                     hybrid: Option[(graft.query.HybridServer,
                       Seq[Float])] = None,
                     cgDir: Option[String] = None)

  def open(spark: SparkSession, dir: String): Session =
    if (Files.isDirectory(Paths.get(dir, "postings"))) {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val cg = Paths.get(dir, "chargrams")
      val pos = Paths.get(dir, "positional")
      val lx = InvertedIndex.load(spark, dir)
      Session(
        lx.copy(postings = lx.postings.persist(MEMORY_AND_DISK),
          termStats = lx.termStats.persist(MEMORY_AND_DISK),
          docMap = lx.docMap.persist(MEMORY_AND_DISK)),
        if (Files.isDirectory(cg)) Some(CharKGramIndex.load(spark, cg.toString))
        else None,
        if (Files.isDirectory(pos)) {
          val p = PositionalIndex.load(spark, pos.toString)
          Some(p.copy(postings = p.postings.persist(MEMORY_AND_DISK),
            docMap = p.docMap.persist(MEMORY_AND_DISK)))
        } else None,
        cgDir =
          if (Files.isDirectory(cg)) Some(cg.toString) else None)
    } else {
      val corpus = graft.queries.IrEngine.corpus(spark, dir)
      val bsrv = new graft.query.Bm25Server(spark,
        graft.queries.IrSql.bm25StatsStore(spark, dir))
      val annCtx =
        if (Files.exists(Paths.get(dir, "embeddings.parquet")))
          Some((spark,
            graft.ops.Similarity.cachedIvfStore(spark, dir), dir))
        else None
      // hybrid fusion shares the ONE Bm25Server (its snapshot) and
      // serves the corpus demo query vector (vec 0, the family
      // convention) as the semantic arm's query
      val hyb = annCtx.map { case (sp, store, d) =>
        import org.apache.spark.sql.functions.col
        val qv = sp.read.parquet(s"$d/embeddings.parquet")
          .filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0)
        (new graft.query.HybridServer(bsrv,
          new graft.query.IvfServer(sp, store)), qv)
      }
      Session(InvertedIndex.build(spark, corpus, k = 1),
        Some(CharKGramIndex.build(spark, corpus, k = 3)),
        Some(PositionalIndex.build(spark, corpus)),
        Some(bsrv), annCtx, hyb)
    }

  /** Persist a fully servable index directory: the inverted-index
    * artifacts ([[InvertedIndex.write]] — range-partitioned sorted
    * parquet, point lookups prune to one file) plus the char-gram
    * table and the positional index, so a later [[open]] serves
    * ranked AND wildcard AND quoted-phrase queries without the
    * corpus. */
  def persist(ix: InvertedIndex.Index, chargrams: Option[DataFrame],
              dir: String,
              positional: Option[PositionalIndex.PIndex] = None): Unit = {
    InvertedIndex.write(ix, dir)
    chargrams.foreach(CharKGramIndex.write(_, s"$dir/chargrams"))
    positional.foreach(PositionalIndex.write(_, s"$dir/positional"))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "false") // point-query session
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = open(spark, dir)
    val (ix, chargrams) = (s.ix, s.chargrams)
    // warm the serving caches so the first query isn't a cold build
    // (for a loaded index this is the one full scan that populates
    // open()'s session caches)
    ix.postings.count(); ix.termStats.count(); ix.docMap.count()
    chargrams.foreach(_.count())
    s.positional.foreach(p => { p.postings.count(); () })
    loop(ix, chargrams,
      new BufferedReader(new java.io.InputStreamReader(System.in)),
      System.out, positional = s.positional, bm25 = s.bm25, ann = s.ann,
      hybrid = s.hybrid, cgDir = s.cgDir)
    spark.stop()
  }

  /** The interaction loop, parameterized over streams for spec-ability.
    * With `usePointServer` (the default — both built and
    * loaded-then-cached indexes, see [[open]]), ranked queries go
    * through a [[graft.query.PointServer]]: a standing REPL is exactly
    * the standing-server case — the index is collected once at loop
    * start into a driver dictionary, and every later query runs no
    * Spark job (identical output to serveSearch, spec-pinned). Pass `usePointServer = false` to serve
    * an UNcached parquet-backed index with literal, pushdown-able term
    * predicates (file/row-group pruning) instead. */
  def loop(ix: InvertedIndex.Index, chargrams: Option[DataFrame],
           in: BufferedReader, out: PrintStream,
           usePointServer: Boolean = true,
           positional: Option[PositionalIndex.PIndex] = None,
           bm25: Option[graft.query.Bm25Server] = None,
           ann: Option[(SparkSession, String, String)] = None,
           hybrid: Option[(graft.query.HybridServer,
             Seq[Float])] = None,
           cgDir: Option[String] = None): Unit = {
    val server =
      if (usePointServer) Some(new graft.query.PointServer(ix)) else None
    // store-backed chargram dir → job-free wildcard serving (packed
    // gram dictionary + the PointServer scoring tail); in-session chargram
    // frames keep the fresh-planned path
    val wcServer = (cgDir, server) match {
      case (Some(d), Some(ps)) =>
        Some(new graft.query.WildcardServer(ix.docMap.sparkSession, d,
          point = Some(ps)))
      case _ => None
    }
    // loaded/pushdown serving mode keeps its no-cached-working-set
    // discipline for wildcards too: routed driver-read expansion,
    // fresh-planned scoring over the session's index
    val wcLoaded = (cgDir, server) match {
      case (Some(d), None) =>
        Some(new graft.query.LoadedWildcardServer(
          ix.docMap.sparkSession, d))
      case _ => None
    }
    // ledger for the takedown/recrawl fan-out ('ops' command) — a
    // STABLE per-corpus location (NOT an exit-deleted scratch dir),
    // so a crashed session's pending legs are visible to the next
    // session's 'ops'. Keyed by a SHA-256 prefix of the corpus path
    // (String.hashCode collides across paths and would interleave
    // two corpora's ledgers). Deployments that need the ledger to
    // survive tmp cleaners set GRAFT_OPS_LEDGER to a durable dir —
    // the default stays OUTSIDE the corpus dir because a corpus is
    // often a read-only shared dataset this session must not write.
    lazy val opsLedger = ann match {
      case Some((_, _, corpusDir)) =>
        val key = java.security.MessageDigest.getInstance("SHA-256")
          .digest(corpusDir.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          .take(8).map("%02x".format(_)).mkString
        val base = sys.env.getOrElse("GRAFT_OPS_LEDGER",
          System.getProperty("java.io.tmpdir"))
        val p = java.nio.file.Paths.get(base, s"graft_ops_$key")
        java.nio.file.Files.createDirectories(p)
        p.toString
      case None => graft.TempDirs.scratch("graft_repl_ops")
    }
    // per-corpus filter keep set for `hybridf`, collected on first use
    val hybridKeep = scala.collection.mutable.Map
      .empty[String, java.util.HashSet[java.lang.Long]]
    // quoted phrases (any length) answer from PhraseServer's packed
    // driver dictionary on cached indexes; the fresh-plan path stays
    // for loaded/pushdown serving
    val phraseServer =
      if (usePointServer)
        positional.map(p => new graft.query.PhraseServer(p))
      else None
    out.println("graft search — 1-2 word query; '*' patterns for " +
      "wildcards; \"quoted phrases\" for exact phrase; a NEAR/3 b for " +
      "proximity; bm25 t1 t2 ... for ranked multi-term retrieval; " +
      "ann <vec_id> for filtered vector search; hybrid t1 t2 ... for " +
      "fused lexical+vector retrieval (hybridf: under the metadata " +
      "filter); empty line quits")
    out.print("query > "); out.flush()
    var line = in.readLine()
    while (line != null) {
      val q = line.trim
      if (q.isEmpty) return
      if (q.length > 1 && q.startsWith("\"") && q.endsWith("\"")) {
        val phrase = q.substring(1, q.length - 1).trim
        positional match {
          // an all-stopword phrase analyzes to nothing — report "no
          // results" like a no-hit query instead of erroring the loop
          case Some(pix)
            if graft.text.TextPipeline.processContent(phrase).nonEmpty =>
            print10(out, phrase, phraseServer match {
              case Some(ps) =>
                ps.phrase(phrase).map(t => (t._1, t._2.toDouble)).toArray
              case None =>
                PositionalIndex.phrase(pix, phrase).limit(10).collect()
                  .map(r => (r.getAs[String]("docid"),
                    r.getAs[Long]("phrase_tf").toDouble))
            })
          case Some(_) => print10(out, phrase, Array.empty)
          case None => out.println(
            "phrase search needs a positional index (build from a " +
              "corpus dir, or persist one alongside the written index)")
        }
      } else if (q.matches("(?i)^\\S+\\s+near(/\\d+)?\\s+\\S+$")) {
        // proximity operator: `a NEAR b` (window 3) or `a NEAR/k b` —
        // the RANKED serving contract: top-10 docs by qualifying-pair
        // count (k-bounded whatever the pair's corpus frequency)
        val m = "(?i)^(\\S+)\\s+near(?:/(\\d+))?\\s+(\\S+)$".r
          .findFirstMatchIn(q).get
        val (a, w, b) = (m.group(1), Option(m.group(2)), m.group(3))
        val window = w.map(_.toInt).getOrElse(3)
        positional match {
          case Some(pix) =>
            try {
              val hits = phraseServer match {
                case Some(ps) => ps.near(a, b, window)
                case None => PositionalIndex.nearTopK(pix, a, b, window)
                  .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
              }
              if (hits.isEmpty) out.println(s"$q: No results ...")
              else hits.foreach { case (id, tf) => out.println(s"$id\t$tf") }
            } catch { case e: IllegalArgumentException =>
              out.println(e.getMessage)
            }
          case None => out.println(
            "proximity search needs a positional index (build from a " +
              "corpus dir, or persist one alongside the written index)")
        }
      } else if (q.matches("(?i)^bm25(\\s+\\S+)+$")) {
        // multi-term ranked retrieval through Bm25Server (MaxScore
        // bound-pruned on the driver, exact unpruned ranking) — the query
        // shape the 1-2-word arity cap can't serve
        bm25 match {
          case Some(srv) =>
            val hits = srv.search(q.split("\\s+").toSeq.tail)
            if (hits.isEmpty) out.println(s"$q: No results ...")
            else hits.foreach { case (d, sc) =>
              out.println(f"$d%d $sc%.4f") }
          case None => out.println(
            "bm25 search needs the index-time stats store (open a " +
              "corpus dir, not a written index)")
        }
      } else if (q.matches("(?i)^hybrid(\\s+\\S+)+$")) {
        // fused lexical+vector retrieval through the prepared
        // HybridServer (BM25 MaxScore arm + exact-scan IVF arm +
        // driver-side RRF — the q37_hybrid_rrf serving shape); the
        // semantic arm queries the corpus demo vector (vec 0)
        hybrid match {
          case Some((srv, qv)) =>
            val rows = srv.search(q.split("\\s+").toSeq.tail, qv)
            if (rows.isEmpty) out.println(s"$q: No results ...")
            else rows.foreach { case (d, lr, sr, rrf) =>
              out.println(s"$d rrf=$rrf lex=${lr.getOrElse("-")} " +
                s"sem=${sr.getOrElse("-")}")
            }
          case None => out.println(
            "hybrid search needs both the stats store and the vector " +
              "store (open a corpus dir with an embeddings table)")
        }
      } else if (q.matches("(?i)^hybridf(\\s+\\S+)+$")) {
        // FILTERED fused retrieval: both prepared arms restricted to
        // the corpus metadata keep set (lang + length — the
        // q37_hybrid_rrf_filtered serving shape); the keep set is
        // collected once per session and reused across queries
        (hybrid, ann) match {
          case (Some((srv, qv)), Some((sp, _, d))) =>
            val keep = hybridKeep.getOrElseUpdate(d, {
              val s = new java.util.HashSet[java.lang.Long]()
              graft.ops.Similarity.filterIds(sp, d).collect()
                .foreach(r => s.add(r.getLong(0)))
              s
            })
            val rows =
              srv.searchFiltered(q.split("\\s+").toSeq.tail, qv, keep)
            if (rows.isEmpty) out.println(s"$q: No results ...")
            else rows.foreach { case (dd, lr, sr, rrf) =>
              out.println(s"$dd rrf=$rrf lex=${lr.getOrElse("-")} " +
                s"sem=${sr.getOrElse("-")}")
            }
          case _ => out.println(
            "hybridf needs the stats store, the vector store, AND the " +
              "corpus metadata (open a corpus dir)")
        }
      } else if (q.matches("(?i)^ann\\s+\\d+$")) {
        // filtered vector search (WHERE-clause ANN) over the durable
        // cell-partitioned store — adaptive nProbe escalation
        ann match {
          case Some((sp, store, corpusDir)) =>
            try {
              val qid = q.split("\\s+")(1).toLong
              val hits = graft.ops.Similarity
                .probeIvfStoreFilteredAuto(sp, store, corpusDir,
                  qId = qid)
                .collect().map(r => (r.getLong(0), r.getDouble(1)))
              if (hits.isEmpty) out.println(s"$q: No results ...")
              else hits.foreach { case (v, c) =>
                out.println(f"$v%d $c%.4f") }
            } catch {
              // NumberFormatException: a digit string past
              // Long.MaxValue parses as no id at all
              case _: java.util.NoSuchElementException |
                   _: NumberFormatException =>
                out.println("no such vec_id in the vector store")
            }
          case None => out.println(
            "ann search needs the vector store (open a corpus dir " +
              "with an embeddings table)")
        }
      } else if (q.equalsIgnoreCase("ops")) {
        // the fan-out ledger: which stores has each takedown/recrawl
        // request reached (after a crash, 'pending' rows are exactly
        // the replay's remaining legs)
        val sp = ix.docMap.sparkSession
        val ops = graft.ops.Takedown.listOps(sp, opsLedger)
        if (ops.isEmpty)
          out.println("no takedown/recrawl ops this session")
        else ops.foreach { op =>
          val st = graft.ops.Takedown.opStatus(sp, opsLedger, op)
          out.println(s"$op: " +
            st.map { case (s, t) => s"$s=$t" }.mkString(" "))
        }
      } else if (q.matches("(?i)^takedown(\\s+\\d+)+$")) {
        // removal request against the LIVE serving session: the
        // orchestrator fans the doc ids across the durable stores this
        // session serves (BM25 stats + vector); the stamped servers
        // pick the mutation up on their next search, no reopen
        ann match {
          case Some((sp, store, corpusDir)) =>
            try {
              val ids = q.trim.split("\\s+").tail.map(_.toLong).toSeq
              import sp.implicits._
              val op = s"repl-takedown-${ids.mkString("-")}"
              graft.ops.Takedown.delete(sp, graft.ops.TakedownStores(
                bm25 = Some(
                  graft.queries.IrSql.bm25StatsStore(sp, corpusDir)),
                vectors = Some(store)), ids.toDF("doc_id"),
                opId = Some(op), ledgerDir = Some(opsLedger))
              out.println(s"takedown: ${ids.length} doc(s) removed " +
                "from the bm25 + vector stores (serving continues; " +
                s"'ops' shows $op)")
            } catch {
              case _: NumberFormatException =>
                out.println("takedown ids must be doc_id longs")
            }
          case None => out.println(
            "takedown needs the durable stores (open a corpus dir)")
        }
      } else if (q.matches("(?i)^recrawl\\s+\\d+\\s+.+$")) {
        // re-crawl request against the LIVE serving session: the doc's
        // new text replaces its old version in the BM25 store
        // (delete → reclaim → merge); the stamped server picks the
        // mutation up on its next search, no reopen. The vector arm
        // keeps the old embedding until a re-embedding lands through
        // Similarity.updateIvfVectors — the REPL has no encoder.
        ann match {
          case Some((sp, _, corpusDir)) =>
            try {
              val parts = q.trim.split("\\s+", 3)
              val id = parts(1).toLong
              import sp.implicits._
              graft.ops.Takedown.update(sp, graft.ops.TakedownStores(
                  bm25 = Some(
                    graft.queries.IrSql.bm25StatsStore(sp, corpusDir))),
                Seq((id, parts(2))).toDF("doc_id", "text"),
                opId = s"repl-recrawl-$id-${parts(2).hashCode}",
                ledgerDir = Some(opsLedger))
              out.println(s"recrawl: doc $id replaced in the bm25 " +
                "store (vector arm keeps its old embedding until " +
                "re-embedded)")
            } catch {
              case _: NumberFormatException =>
                out.println("recrawl needs: recrawl <doc_id> <text>")
            }
          case None => out.println(
            "recrawl needs the durable stores (open a corpus dir)")
        }
      } else if (q.contains("*")) {
        (wcServer, wcLoaded, chargrams) match {
          case (Some(ws), _, _) => print10(out, q,
            ws.search(q).map(t => (t._2, t._3)).toArray)
          case (None, Some(lws), _) => print10(out, q,
            QueryEngine.wildcardSearchExpanded(ix, lws.lookup(q))
              .collect()
              .map(r => (r.getAs[String]("docid"), r.getAs[Double]("score"))))
          case (None, None, Some(cg)) => print10(out, q,
            QueryEngine.wildcardSearch(ix, cg, q).collect()
              .map(r => (r.getAs[String]("docid"), r.getAs[Double]("score"))))
          case _ => out.println(
            "wildcard search needs a char-gram index (build from a " +
              "corpus dir, or persist one alongside the written index)")
        }
      } else {
        if (q.split("\\s+").length > 2) {
          // the reference's loop terminates on an over-long query
          out.println("query must be 1-2 words — bye")
          return
        }
        print10(out, q, server match {
          case Some(ps) => ps.search(q).map(t => (t._2, t._3)).toArray
          case None => QueryEngine.serveSearch(ix, q).collect()
            .map(r => (r.getAs[String]("docid"), r.getAs[Double]("score")))
        })
      }
      out.print("query > "); out.flush()
      line = in.readLine()
    }
  }

  private def print10(out: PrintStream, q: String,
                      rows: Array[(String, Double)]): Unit =
    if (rows.isEmpty) out.println(s"$q: No results ...")
    else rows.foreach { case (docid, score) =>
      out.println(f"$docid%s $score%.4f")
    }
}
