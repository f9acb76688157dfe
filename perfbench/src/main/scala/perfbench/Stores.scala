package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.index.{CharKGramIndex, InvertedIndex, PositionalIndex}
import graft.ops.TakedownStores
import graft.queries.IrSql

/** The four durable stores of one corpus, side by side under `root`. */
final case class Stores(root: String) {
  def inverted: String = s"$root/inverted"
  def positional: String = s"$root/positional"
  def chargram: String = s"$root/chargram"
  def bm25: String = s"$root/bm25"
  def all: TakedownStores = TakedownStores(bm25 = Some(bm25),
    positional = Some(positional), inverted = Some(inverted),
    chargram = Some(chargram))
  /** One store only — the traced run's per-store requests. */
  def only(store: String): TakedownStores = store match {
    case "bm25" => TakedownStores(bm25 = Some(bm25))
    case "positional" => TakedownStores(positional = Some(positional))
    case "inverted" => TakedownStores(inverted = Some(inverted))
    case "chargram" => TakedownStores(chargram = Some(chargram))
  }
  def bytes: Long = Stores.listing(root).values.map(_._1).sum
  def fileCount: Int = Stores.listing(root).size
}

object Stores {
  /** Order the takedown fan-out applies them in. */
  val Names: Seq[String] = Seq("bm25", "positional", "inverted", "chargram")

  /** (size, mtime) of every regular file under `root`, by path: parquet
    * parts and sidecars, Hadoop's `.crc` companions included (they are
    * written and read like any other file). What a commit rewrote is
    * what changed between two listings. */
  def listing(root: String): Map[String, (Long, Long)] = {
    val s = Files.walk(Paths.get(root))
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
    finally s.close()
  }

  /** Build and write all four stores from `corpus` ((docid, content))
    * and the documents table under `corpusDir`; `step` wraps each
    * store's build (the caller's span and job group). The cached build
    * artifacts are released afterwards. */
  def build(spark: SparkSession, corpus: DataFrame, corpusDir: String, out: Stores)
           (step: String => (=> Unit) => Unit): Unit = {
    step("index.inverted.build") {
      val ix = InvertedIndex.build(spark, corpus, k = 1)
      InvertedIndex.write(ix, out.inverted)
      InvertedIndex.unpersist(ix)
    }
    step("index.positional.build") {
      val pix = PositionalIndex.build(spark, corpus)
      PositionalIndex.write(pix, out.positional)
      pix.postings.unpersist(); pix.docMap.unpersist()
    }
    step("index.chargram.build") {
      CharKGramIndex.write(CharKGramIndex.build(spark, corpus, k = 3), out.chargram)
      // without the df sidecar a chargram takedown cannot recount the
      // vocabulary: Takedown.delete throws
      CharKGramIndex.writeVocabDf(spark, out.chargram,
        CharKGramIndex.docTermsOf(spark, corpus))
    }
    step("index.bm25.build") {
      IrSql.writeBm25Stats(spark, corpusDir, out.bm25)
    }
  }

  /** The TREC files through the `trec` data source, as (docid, content). */
  def trecCorpus(spark: SparkSession, trecDir: String): DataFrame =
    spark.read.format("trec").option("path", trecDir).load()
      .select(col("docid"), col("content"))
}
