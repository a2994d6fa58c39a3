package perfbench

import graft.operators.Ingest
import graft.sources.{BinaryIngest, OcrEngine}

import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded input generator: every byte a workload reads is a function of
  * the seed. Documents have the shape of the engine's sf0.1 documents
  * table (single-spaced lowercase words, 10-90 words each, mean ~50), but
  * words are drawn Zipf-skewed from a synthetic vocabulary so that BM25
  * posting lists vary in size — the sf0.1 table has only 31 distinct
  * words, which would make every query term hit every snippet. */
final class Gen(seed: Long) {
  val rnd = new Random(seed)

  val vocab: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "do",
      "fi", "gu", "ha", "je", "wy", "xo", "br", "st", "an", "el", "is", "on")
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < Gen.VocabSize)
      out += (0 until 2 + rnd.nextInt(3)).map(_ => syll(rnd.nextInt(syll.length))).mkString
    out.toArray
  }

  /** Zipf(1.0) cumulative weights over vocabulary ranks. */
  private val cdf: Array[Double] = {
    val w = (1 to vocab.length).map(r => 1.0 / r).scanLeft(0.0)(_ + _).tail.toArray
    w.map(_ / w.last)
  }

  def zipfWord(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  def text(): String =
    Iterator.fill(Gen.MinWords + rnd.nextInt(Gen.MaxWords - Gen.MinWords + 1))(zipfWord())
      .mkString(" ")
}

object Gen {
  val VocabSize = 4000
  val MinWords = 10
  val MaxWords = 90
  val Categories = 5

  /** PDF writer mix, with shares that sum to 100. Parser cost depends on
    * the kind, so the mix is fixed per run and recorded in the output. */
  val Kinds: Seq[(String, Int, String => Array[Byte])] = Seq(
    ("plain", 40, BinaryIngest.buildPdf),
    ("cid", 8, BinaryIngest.buildPdfCid),
    ("cid2", 7, BinaryIngest.buildPdfCid2),
    ("diffenc", 10, BinaryIngest.buildPdfDiffEnc),
    ("rc4", 10, BinaryIngest.buildPdfEncrypted),
    ("aes", 5, BinaryIngest.buildPdfAes),
    ("aes256", 5, BinaryIngest.buildPdfAes256),
    ("objstm", 5, BinaryIngest.buildPdfObjStm),
    ("twopage", 5, BinaryIngest.buildPdfTwoPageDiff),
    ("scanned", 5, OcrEngine.buildPdfScanned))

  final case class Doc(id: Long, text: String, kind: String) {
    def name: String = s"doc_$id"
    def category: Int = (id % Categories).toInt
    def scanned: Boolean = kind == "scanned"
    /** What the ingest pipeline must recover from this document's PDF. */
    def expectedText: String = if (scanned) OcrEngine.ocrNormalize(text) else text
    /** Snippet rows the pipeline must publish for this document. */
    def expectedSnippets: Int = pageWords(expectedText).map(p => snippetsFor(p.size)).sum
  }

  /** `n` documents with an exact kind mix (shares applied to `n`, the
    * remainder going to plain), in seeded order. */
  def docs(g: Gen, n: Int): IndexedSeq[Doc] = {
    val counts = Kinds.map { case (k, share, _) => k -> n * share / 100 }
    val kinds = (counts.flatMap { case (k, c) => Seq.fill(c)(k) } ++
      Seq.fill(n - counts.map(_._2).sum)("plain")).toIndexedSeq
    val order = g.rnd.shuffle(kinds)
    order.zipWithIndex.map { case (k, i) => Doc(i.toLong, g.text(), k) }
  }

  private val writer: Map[String, String => Array[Byte]] =
    Kinds.map { case (k, _, w) => k -> w }.toMap

  /** Write one PDF per document under `dir`; returns total bytes. */
  def writePdfs(docs: Seq[Doc], dir: Path): Long = {
    Files.createDirectories(dir)
    docs.map { d =>
      val b = writer(d.kind)(d.text)
      Files.write(dir.resolve(f"doc${d.id}%06d.pdf"), b)
      b.length.toLong
    }.sum
  }

  /** Expected pagination of `text` by the ingest pipeline: words per page
    * (40-word pages, [[Ingest.PageTokens]]). */
  def pageWords(text: String): Seq[Seq[String]] = {
    val w = text.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    if (w.isEmpty) Seq(Seq.empty) else w.grouped(Ingest.PageTokens).toSeq
  }

  /** Closed form for snippet windows over `n` units (5-unit windows,
    * stride 3): floor((n-1)/3)+1, and none for n = 0. */
  def snippetsFor(n: Int): Int = if (n <= 0) 0 else (n - 1) / 3 + 1

  def date(day: Int): String = java.time.LocalDate.of(2030, 1, 1).plusDays(day.toLong).toString
}
