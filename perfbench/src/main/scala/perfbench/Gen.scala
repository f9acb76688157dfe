package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Seeded inputs. Everything the engine sees is derived from `seed`;
  * the same seed gives byte-identical files and streams.
  *
  *  - Vocabulary: `VocabSize` synthetic CV-syllable words (never a
  *    stopword, always lowercase letters, so every analyzer keeps them),
  *    ranked by a seeded shuffle; popularity is Zipf(`ZipfS`) over rank.
  *  - Documents: log-normal token counts, tokens drawn from the Zipf.
  *  - Queries: REPL-shaped rotation of 1–2 word tf-idf, quoted 2-word
  *    phrases cut from real documents, 4-letter prefix/suffix `*`
  *    patterns of Zipf-drawn words, and 3–4 term BM25 queries.
  *  - Takedowns: a seeded set of doc ids.
  */
object Gen {
  val VocabSize = 50000
  val ZipfS = 1.0
  val LenMu: Double = math.log(150.0)
  val LenSigma = 0.6
  val MinLen = 8
  val MaxLen = 1500

  val Kinds: Seq[String] = Seq("point", "phrase", "wildcard", "bm25")

  /** The corpus docid of a doc_id (the engine's `D%05d` convention). */
  def docid(docId: Long): String = f"D$docId%05d"

  sealed trait Query { def text: String; def kind: String }
  final case class Point(text: String) extends Query { def kind = "point" }
  final case class Phrase(text: String) extends Query { def kind = "phrase" }
  final case class Wildcard(text: String) extends Query { def kind = "wildcard" }
  final case class Bm25(terms: Seq[String]) extends Query {
    def kind = "bm25"; def text: String = terms.mkString(" ")
  }

  final class Corpus(val seed: Long, val vocab: Array[String],
                     val texts: Array[String]) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab.length)(r => 1.0 / math.pow(r + 1, ZipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def zipf(rng: java.util.Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
    }
    def nDocs: Int = texts.length
  }

  private val Consonants = "bcdfghjklmnprstvz"
  private val Vowels = "aeiou"

  def vocabulary(seed: Long): Array[String] = {
    val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 1)
    val stop = graft.text.TextPipeline.stopwords
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < VocabSize) {
      val syl = 2 + rng.nextInt(3)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb.append(Consonants.charAt(rng.nextInt(Consonants.length)))
        sb.append(Vowels.charAt(rng.nextInt(Vowels.length)))
      }
      val w = sb.toString
      if (!stop.contains(w)) seen.add(w)
    }
    val arr = seen.toArray(new Array[String](0))
    // rank order is a seeded permutation, so popularity is not tied to
    // word length or generation order
    val perm = new java.util.Random(seed + 7)
    for (i <- arr.length - 1 to 1 by -1) {
      val j = perm.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr
  }

  def docText(c: Corpus, rng: java.util.Random): String = {
    val n = math.max(MinLen, math.min(MaxLen,
      math.round(math.exp(LenMu + LenSigma * rng.nextGaussian())).toInt))
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(c.zipf(rng)); i += 1
    }
    sb.toString
  }

  def corpus(seed: Long, nDocs: Int): Corpus = {
    val vocab = vocabulary(seed)
    val c0 = new Corpus(seed, vocab, Array.empty)
    val rng = new java.util.Random(seed * 31 + 3)
    new Corpus(seed, vocab, Array.fill(nDocs)(docText(c0, rng)))
  }

  /** The kind of the i-th query: point 40%, phrase, wildcard and BM25
    * 20% each, interleaved so that every stretch of the stream has the
    * same mix (a query's cost depends mostly on its kind). The mix is
    * an assumption, not a measured one: the paper's client issues only
    * 1–2 word tf-idf queries, so they get the largest share, and the
    * REPL's other modes share the rest evenly. */
  private val Rotation = Array("point", "phrase", "wildcard", "point", "bm25")

  /** `n` queries of the rotation, terms drawn from the Zipf. */
  def queries(c: Corpus, n: Int, stream: Long): Array[Query] = {
    val rng = new java.util.Random(c.seed * 131 + stream)
    Array.tabulate(n) { i =>
      Rotation(i % Rotation.length) match {
        case "point" => Point(Seq.fill(1 + rng.nextInt(2))(c.zipf(rng)).mkString(" "))
        case "phrase" =>
          val words = c.texts(rng.nextInt(c.nDocs)).split(' ')
          val j = rng.nextInt(words.length - 1)
          Phrase(s"${words(j)} ${words(j + 1)}")
        case "wildcard" =>
          val w = c.zipf(rng)
          Wildcard(if (rng.nextBoolean()) w.take(4) + "*" else "*" + w.takeRight(4))
        case _ => Bm25(Seq.fill(3 + rng.nextInt(2))(c.zipf(rng)).distinct)
      }
    }
  }

  /** `n` distinct doc ids to take down, drawn with the corpus seed. */
  def takedowns(c: Corpus, n: Int): Seq[Long] = {
    require(n < c.nDocs, "corpus too small for the takedown")
    val rng = new scala.util.Random(c.seed * 977 + 11)
    rng.shuffle((0L until c.nDocs.toLong).toVector).take(n).sorted
  }

  /** The corpus as TREC `<DOC>` files (`files` of them) plus
    * `documents.parquet` in the engine's documents schema. */
  def write(spark: SparkSession, c: Corpus, dir: Path, files: Int): Unit = {
    writeTrec(c, dir.resolve("trec"), files)
    writeDocuments(spark, c.texts.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      dir.toString)
  }

  def writeTrec(c: Corpus, dir: Path, files: Int): Unit = {
    Files.createDirectories(dir)
    val per = (c.nDocs + files - 1) / files
    c.texts.zipWithIndex.grouped(per).zipWithIndex.foreach { case (docs, f) =>
      val sb = new StringBuilder
      docs.foreach { case (t, i) =>
        sb.append("<DOC>\n<DOCNO>").append(docid(i.toLong))
          .append("</DOCNO>\n<TEXT>\n").append(t).append("\n</TEXT>\n</DOC>\n")
      }
      Files.write(dir.resolve(f"part-$f%03d.trec"), sb.toString.getBytes(UTF_8))
    }
  }

  def writeDocuments(spark: SparkSession, docs: Seq[(Long, String)],
                     dir: String): Unit = {
    import spark.implicits._
    docs.map { case (id, t) =>
      (id, t, "en", s"src${id % 4}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
