package perfbench

import graft.engine.Snapshot
import graft.operators.Ingest
import graft.sources.{BinaryIngest, OcrEngine}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** `pdf_ingest`, the bulk-write path: every timed operation is one full
  * pass of the paper's ingest over a seeded PDF corpus — binaryFile scan
  * with text-layer extraction and OCR fallback, nested document build,
  * docs snapshot publish, snippet flatten, snippet snapshot publish. It is
  * the only workload where `sources` does most of the work. */
object PdfIngest {
  val Docs = 1000
  val WarmupPasses = 3

  def categories(spark: SparkSession): DataFrame =
    spark.createDataFrame((0 until Gen.Categories).map(i => (i, s"cat_$i")))
      .toDF("category_id", "category_name")

  def extracted(spark: SparkSession, dir: Path): DataFrame =
    BinaryIngest.readWithOcrFallback(spark, dir.toString,
      BinaryIngest.pdfTextExtractorFull, OcrEngine.ocrExtractor, glob = "*.pdf")

  /** Upload rows in the shape [[Ingest.buildDocuments]] takes; the id
    * comes from the upload's file name. */
  def asDocuments(raw: DataFrame): DataFrame = raw.select(
    regexp_extract(col("path"), "doc(\\d+)\\.pdf$", 1).cast("long").as("doc_id"),
    lit("und").as("lang"),
    regexp_extract(col("path"), "[^/]+$", 0).as("source"),
    col("text"))

  final class Stores(spark: SparkSession, root: Path) {
    val docs = new Snapshot(spark, root.resolve("docs").toString)
    val snippets = new Snapshot(spark, root.resolve("snippets").toString)
    def vacuum(): Unit = { docs.vacuum(1); snippets.vacuum(1); () }
    def bytes: Long = dirBytes(docs.currentPath()) + dirBytes(snippets.currentPath())
  }

  def dirBytes(dir: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  /** One untraced ingest pass; lazy frames, so each publish runs its plan.
    * Returns the published docs and snippets versions. */
  def pass(spark: SparkSession, dir: Path, cats: DataFrame, st: Stores): (String, String) =
    (st.docs.publish(Ingest.buildDocuments(asDocuments(extracted(spark, dir)), cats)),
      st.snippets.publish(Ingest.flattenSnippets(st.docs.read())))

  /** The same pass with every stage materialized on its own, in a span. */
  def tracedPass(r: Run, dir: Path, cats: DataFrame, st: Stores): (String, String) = {
    val p = r.probe
    def materialize(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    p.span("bench.pdf_ingest.pass") {
      p.span("sources.scan") {
        BinaryIngest.readBinaryDocs(r.spark, dir.toString, c => length(c).cast("string"), "*.pdf")
          .agg(sum(col("text").cast("long"))).head()
      }
      val ex = p.span("sources.readWithOcrFallback")(materialize(extracted(r.spark, dir)))
      val nested = p.span("operators.buildDocuments")(
        materialize(Ingest.buildDocuments(asDocuments(ex), cats)))
      val dv = p.span("engine.publish.docs")(st.docs.publish(nested))
      val flat = p.span("operators.flattenSnippets")(
        materialize(Ingest.flattenSnippets(st.docs.read())))
      val sv = p.span("engine.publish.snippets")(st.snippets.publish(flat))
      r.counts("ocr_routed_docs") = ex.filter(col("needs_ocr")).count().toDouble
      Seq(ex, nested, flat).foreach(_.unpersist(blocking = true))
      (dv, sv)
    }
  }

  /** Content check of the published snapshots against the generator:
    * extracted text per document (OCR-normalized for scanned uploads),
    * pages per document, and the closed-form snippet count per page. Each
    * wrong or missing document is one failed operation. */
  def checkSnapshots(r: Run, st: Stores, docs: Seq[Gen.Doc]): Unit = {
    val got = st.docs.read()
      .select(col("document_id"), col("pages.page_text").as("pt"),
        transform(col("pages"), p => size(p.getField("page_snippets"))).as("ns"))
      .collect().map(row => row.getLong(0) -> (row.getSeq[String](1), row.getSeq[Int](2))).toMap
    var chars = 0L
    docs.foreach { d =>
      val pages = Gen.pageWords(d.expectedText)
      val ok = got.get(d.id).exists { case (pt, ns) =>
        chars += pt.map(_.length).sum
        pt.mkString(" ") == d.expectedText && pt.size == pages.size &&
          ns == pages.map(p => Gen.snippetsFor(p.size))
      }
      r.check(ok, s"doc ${d.id} (${d.kind}) extracted or paged wrong")
    }
    val expectSnippets = docs.map(_.expectedSnippets).sum
    val snippets = st.snippets.read().count()
    r.check(snippets == expectSnippets, s"snippet rows $snippets != $expectSnippets")
    r.check(got.size == docs.size, s"${got.size} documents published, ${docs.size} uploaded")
    r.counts("pages_out") = docs.map(d => Gen.pageWords(d.expectedText).size).sum.toDouble
    r.counts("snippets_out") = snippets.toDouble
    r.counts("extracted_chars") = chars.toDouble
  }

  def run(r: Run): Unit = {
    val dir = r.work.resolve("pdf")
    val (docs, pdfBytes) = r.gen {
      val d = Gen.docs(new Gen(r.seed), Docs)
      (d, Gen.writePdfs(d, dir))
    }
    r.info("docs") = Docs
    r.info("pdf_bytes") = pdfBytes
    r.info("kind_mix") = docs.groupBy(_.kind).map { case (k, v) => k -> v.size }
    r.info("source_chars") = docs.map(_.text.length.toLong).sum
    val cats = PdfIngest.categories(r.spark)
    val st = new Stores(r.spark, r.work.resolve("store"))
    val expectSnippets = docs.map(_.expectedSnippets).sum
    def onePass(): (String, String) =
      if (r.probe.on) tracedPass(r, dir, cats, st) else pass(r.spark, dir, cats, st)
    (1 to WarmupPasses).foreach(_ => r.warm(onePass()))
    st.vacuum()
    val published = mutable.ArrayBuffer.empty[(String, String)]
    r.loop() { _ =>
      val t0 = System.nanoTime()
      published += onePass()
      r.sample("pass", r.secs(t0))
    }
    // after the window: every pass's row counts, from parquet metadata; a
    // pass with wrong counts fails all its documents
    published.foreach { case (dv, sv) =>
      r.attempted += Docs
      val nDocs = st.docs.readAsOf(dv).count()
      val nSnips = st.snippets.readAsOf(sv).count()
      if (!r.check(nDocs == Docs && nSnips == expectSnippets,
          s"pass published $nDocs docs / $nSnips snippets")) r.failed += Docs - 1
    }
    st.vacuum()
    r.counts("store_bytes") = st.bytes.toDouble
    checkSnapshots(r, st, docs)
    if (r.probe.on) {
      val scanned = docs.count(_.scanned)
      r.check(r.counts("ocr_routed_docs") == scanned,
        s"${r.counts("ocr_routed_docs")} documents routed to OCR, $scanned scanned")
      driverKernels(r, docs, dir)
    }
  }

  /** Single-thread driver loops over the parser and OCR kernels: the
    * per-document cost without Spark, median of three sweeps. */
  def driverKernels(r: Run, docs: Seq[Gen.Doc], dir: Path): Unit = {
    val bytes = docs.map(d => d -> Files.readAllBytes(dir.resolve(f"doc${d.id}%06d.pdf")))
    def perDoc(sel: Seq[Array[Byte]], f: Array[Byte] => String): Double = {
      val t = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); sel.foreach(f); (System.nanoTime() - t0) / 1e3 / sel.size
      }
      t.sorted.apply(1)
    }
    val text = bytes.filterNot(_._1.scanned).map(_._2)
    val scans = bytes.filter(_._1.scanned).map(_._2)
    r.layer("sources.pdf_extract_us_per_doc") =
      r.probe.span("sources.pdfExtract.loop")(perDoc(text, BinaryIngest.pdfExtract))
    r.layer("sources.ocr_us_per_doc") =
      r.probe.span("sources.ocrExtractPdf.loop")(perDoc(scans, OcrEngine.ocrExtractPdf))
    r.counts("scanned_docs") = scans.size.toDouble
  }
}
