package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the STORE-LEVEL delta append for the positional and inverted
  * indexes — the delta-proportional write path a re-crawl needs
  * (frame-level merge costs a full rewrite to persist):
  *  - append == from-scratch rebuild, content-identically (docnos
  *    continue densely in docid order, so even the numbering matches);
  *  - untouched base part files stay byte-identical (append only adds);
  *  - the zone-map manifests extend by exactly the added files and
  *    equal a full recompute;
  *  - RE-INGEST (delete old version, append new) == rebuild over the
  *    updated corpus at query level, with tombstoned docnos never
  *    reused;
  *  - both crash states of the marker protocol recover;
  *  - appending a LIVE docid is refused.
  */
class AppendStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private lazy val corpus = spark.read
    .parquet(s"$dir/documents.parquet")
    .select(format_string("D%05d", col("doc_id")).as("docid"),
      col("text").as("content"))

  private lazy val boundary = {
    val ids = corpus.select("docid").orderBy("docid").collect()
      .map(_.getString(0))
    ids(ids.length / 2)
  }
  private def firstHalf = corpus.filter(col("docid") <= boundary)
  private def secondHalf = corpus.filter(col("docid") > boundary)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def partFiles(d: String): Seq[(String, Long, Long)] =
    fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sortBy(_._1).toSeq

  private def manifestMatchesRecompute(store: String, table: String,
                                       manifest: String,
                                       key: String): Unit = {
    val recomputed = spark.read.parquet(s"$store/$table")
      .groupBy(input_file_name().as("file"))
      .agg(min(col(key)).as("lo"), max(col(key)).as("hi"))
    assert(rows(spark.read.parquet(s"$store/$manifest")) ==
      rows(recomputed),
      s"$manifest != full recompute after append")
  }

  test("positional appendToStore == from-scratch rebuild content-" +
    "identically; base files byte-identical; manifests extend " +
    "correctly") {
    val store = tmp("graft_app_pos")
    PositionalIndex.write(PositionalIndex.build(spark, firstHalf),
      store, rowsPerFile = 64L)
    val preP = partFiles(s"$store/pos_postings")
    val preD = partFiles(s"$store/doc_map")
    PositionalIndex.appendToStore(spark, store, secondHalf,
      rowsPerFile = 64L)
    val full = PositionalIndex.build(spark, corpus)
    val got = PositionalIndex.load(spark, store)
    assert(rows(got.postings) == rows(full.postings),
      "appended postings != rebuild")
    assert(rows(got.docMap) == rows(full.docMap),
      "appended doc_map != rebuild")
    assert(got.nDocs == full.nDocs, "corpus_stats != rebuild")
    // append only ADDS part files — the base generation is untouched
    assert(preP.toSet.subsetOf(partFiles(s"$store/pos_postings").toSet),
      "append rewrote base postings files")
    assert(preD.toSet.subsetOf(partFiles(s"$store/doc_map").toSet),
      "append rewrote base doc_map files")
    manifestMatchesRecompute(store, "pos_postings",
      "pos_postings_ranges", "term")
    manifestMatchesRecompute(store, "doc_map", "doc_map_ranges",
      "docno")
    // phrase over the appended store == the frame-level merged index
    val phrased = PositionalIndex.phrase(got,
      graft.queries.IrEngine.PhraseQuery)
    val phrasedFull = PositionalIndex.phrase(full,
      graft.queries.IrEngine.PhraseQuery)
    assert(rows(phrased) == rows(phrasedFull))
  }

  test("inverted appendToStore == from-scratch rebuild content-" +
    "identically (postings, term_stats, doc_map, corpus_stats); " +
    "manifests extend correctly") {
    val store = tmp("graft_app_inv")
    InvertedIndex.write(InvertedIndex.build(spark, firstHalf, k = 1),
      store, rowsPerFile = 64L)
    val preP = partFiles(s"$store/postings")
    InvertedIndex.appendToStore(spark, store, secondHalf, k = 1,
      rowsPerFile = 64L)
    val full = InvertedIndex.build(spark, corpus, k = 1)
    val got = InvertedIndex.load(spark, store)
    assert(rows(got.postings) == rows(full.postings),
      "appended postings != rebuild")
    assert(rows(got.termStats) == rows(full.termStats),
      "appended term_stats != rebuild")
    assert(rows(got.docMap) == rows(full.docMap),
      "appended doc_map != rebuild")
    assert(got.nDocs == full.nDocs)
    assert(preP.toSet.subsetOf(partFiles(s"$store/postings").toSet),
      "append rewrote base postings files")
    manifestMatchesRecompute(store, "postings", "postings_ranges",
      "kgram")
    manifestMatchesRecompute(store, "doc_map", "doc_map_ranges",
      "docno")
  }

  test("re-ingest (delete + append) == rebuild over the updated " +
    "corpus at query level; tombstoned docnos are not reused") {
    val store = tmp("graft_app_upd")
    PositionalIndex.write(PositionalIndex.build(spark, corpus), store)
    // update set: every 7th doc gains one more phrase occurrence
    val updIds = corpus.select("docid")
      .orderBy("docid").limit(5).collect().map(_.getString(0)).toSeq
    val updated = corpus.filter(col("docid").isin(updIds: _*))
      .select(col("docid"),
        concat(col("content"),
          lit(" " + graft.queries.IrEngine.PhraseQuery)).as("content"))
    val maxDocnoPre = spark.read.parquet(s"$store/doc_map")
      .agg(max(col("docno"))).head().getLong(0)
    PositionalIndex.deleteDocs(spark, store,
      updated.select(col("docid")))
    PositionalIndex.appendToStore(spark, store, updated)
    // new versions serve at docnos ABOVE the raw pre-append max —
    // a reused tombstoned docno would vanish from the live view
    val newRows = spark.read.parquet(s"$store/doc_map")
      .filter(col("docid").isin(updIds: _*))
    assert(newRows.filter(col("docno") > maxDocnoPre).count() ==
      updIds.size.toLong, "re-ingested docnos were not fresh")
    val updatedCorpus = corpus.filter(!col("docid").isin(updIds: _*))
      .unionByName(updated)
    val got = PositionalIndex.phrase(PositionalIndex.load(spark, store),
      graft.queries.IrEngine.PhraseQuery)
    val want = PositionalIndex.phrase(
      PositionalIndex.build(spark, updatedCorpus),
      graft.queries.IrEngine.PhraseQuery)
    assert(rows(got) == rows(want),
      "re-ingested store != rebuild over updated corpus")
    // live doc count is exact with tombstones still pending
    assert(PositionalIndex.load(spark, store).nDocs ==
      updatedCorpus.count())
    // compaction reclaims the dead versions without changing anything
    PositionalIndex.compactDeletes(spark, store)
    assert(rows(PositionalIndex.phrase(
      PositionalIndex.load(spark, store),
      graft.queries.IrEngine.PhraseQuery)) == rows(want))
  }

  /** One store under the append crash walk: its postings table, key
    * and derived artifacts, and its write / build / append / load
    * entry points over the small fixture. */
  private case class Kind(
      postings: String, key: String, derived: Seq[String],
      write: (DataFrame, String) => Unit,
      build: DataFrame => (DataFrame, DataFrame),
      append: (String, DataFrame) => Unit,
      load: String => (DataFrame, Long),
      store: PostingsStore)

  private def positional = Kind("pos_postings", "term", Nil,
    (c, d) => PositionalIndex.write(PositionalIndex.build(spark, c), d),
    c => { val ix = PositionalIndex.build(spark, c); (ix.postings, ix.docMap) },
    (d, c) => PositionalIndex.appendToStore(spark, d, c),
    d => { val ix = PositionalIndex.load(spark, d); (ix.postings, ix.nDocs) },
    PositionalIndex.store)

  private def inverted = Kind("postings", "kgram", Seq("term_stats"),
    (c, d) => InvertedIndex.write(InvertedIndex.build(spark, c, k = 1), d),
    c => { val ix = InvertedIndex.build(spark, c, k = 1)
      (ix.postings, ix.docMap) },
    (d, c) => InvertedIndex.appendToStore(spark, d, c, k = 1),
    d => { val ix = InvertedIndex.load(spark, d); (ix.postings, ix.nDocs) },
    InvertedIndex.store)

  private def appendCrashStates(kind: Kind, tag: String): Unit = {
    val store = tmp(tag)
    kind.write(firstHalf, store)
    val preRows = rows(spark.read.parquet(s"$store/${kind.postings}"))
    // A: staged delta, NO marker → rollback, store untouched
    secondHalf.limit(1).write.mode("overwrite")
      .parquet(s"$store/_graft_delta_postings")
    kind.store.recover(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_graft_delta_postings")), "staging not rolled back")
    assert(rows(spark.read.parquet(s"$store/${kind.postings}")) ==
      preRows, "rollback changed the store")
    // B: committed marker with full staging → replay == direct append.
    // Fabricate the exact pre-crash state appendToStore commits:
    // shifted delta artifacts staged + marker listing the file names.
    val base = spark.read.parquet(s"$store/doc_map")
      .agg(max(col("docno"))).head().getLong(0)
    val (dPost, dMap) = kind.build(secondHalf)
    dPost.withColumn("docno", col("docno") + base)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$store/_graft_delta_postings")
    dMap.withColumn("docno", col("docno") + base)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$store/_graft_delta_doc_map")
    def staged(d: String, target: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/$d"))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => s"$target/${f.getPath.getName}").toSeq
    val added = staged("_graft_delta_postings", kind.postings) ++
      staged("_graft_delta_doc_map", "doc_map")
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$store/_graft_append_inflight"), false)
    try out.write(added.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    kind.store.recover(spark, store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_graft_append_inflight")), "marker not cleared")
    val direct = tmp(s"${tag}_direct")
    kind.write(firstHalf, direct)
    kind.append(direct, secondHalf)
    val (gotPost, gotN) = kind.load(store)
    val (wantPost, wantN) = kind.load(direct)
    assert(rows(gotPost) == rows(wantPost),
      "crash replay != direct append")
    assert(gotN == wantN)
    kind.derived.foreach { a =>
      assert(rows(spark.read.parquet(s"$store/$a")) ==
        rows(spark.read.parquet(s"$direct/$a")),
        s"crash replay $a != direct append")
    }
    manifestMatchesRecompute(store, kind.postings,
      s"${kind.postings}_ranges", kind.key)
  }

  test("append crash states: uncommitted staging rolls back; a " +
    "committed marker replays to the exact appended store") {
    appendCrashStates(positional, "graft_app_crash")
  }

  test("inverted append crash states: uncommitted staging rolls back; " +
    "a committed marker replays to the direct append, term_stats " +
    "included") {
    appendCrashStates(inverted, "graft_app_inv_crash")
  }

  test("appending a LIVE docid is refused; appending a deleted one " +
    "is allowed; compressed stores append in their own layout") {
    val store = tmp("graft_app_guard")
    PositionalIndex.write(PositionalIndex.build(spark, corpus), store,
      compressed = true)
    val dup = corpus.limit(1)
    val e = intercept[IllegalArgumentException] {
      PositionalIndex.appendToStore(spark, store, dup)
    }
    assert(e.getMessage.contains("LIVE"))
    PositionalIndex.deleteDocs(spark, store, dup.select(col("docid")))
    PositionalIndex.appendToStore(spark, store, dup)
    // appended rows carry the store's compressed layout
    assert(spark.read.parquet(s"$store/pos_postings")
      .columns.contains("pos_z"))
    val got = PositionalIndex.phrase(PositionalIndex.load(spark, store),
      graft.queries.IrEngine.PhraseQuery)
    val want = PositionalIndex.phrase(PositionalIndex.build(spark,
      corpus), graft.queries.IrEngine.PhraseQuery)
    assert(rows(got) == rows(want),
      "delete+re-append round-trip changed the phrase answer")
  }
}
