package perfbench

import graft.operators.{Ingest, TextSearch}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `snippet_search`, the read path over a published snippet snapshot,
  * shaped like an interactive top-k session: in every block of ten
  * reads, six fetch the Active snippets of one document by name, one
  * fetches those of one category (the reference's `find()` lookups), and
  * three are BM25 top-10 queries of 2, 3 and 4 Zipf-drawn terms, so
  * posting sizes vary. Every read is one timed operation; the fixed mix
  * per block keeps the median inside the by-name lookups and the
  * searches in the tail, whatever the window's length. `engine` reads and `operators.TextSearch` do the work;
  * `sources` and `streaming` do none. */
object SnippetSearch {
  val Docs = 5000
  val WarmupRounds = 2
  val TopK = 10
  val BlockReads = 10

  sealed trait Read { def kind: String }
  final case class ByName(id: Long) extends Read { def kind = "lookup" }
  final case class ByCategory(c: Int) extends Read { def kind = "lookup" }
  final case class Search(terms: Seq[String]) extends Read { def kind = "search" }

  /** Seeded read stream: each block of [[BlockReads]] has the fixed 6/1/3
    * mix, and its three searches have 2, 3 and 4 terms, so blocks cost
    * alike while posting sizes still vary with the Zipf draw. */
  def reads(g: Gen, docs: Int): Iterator[Read] = Iterator.continually {
    val block = Seq.fill(6)(ByName(g.rnd.nextInt(docs).toLong)) ++
      Seq(ByCategory(g.rnd.nextInt(Gen.Categories))) ++
      (2 to 4).map { k =>
        val terms = mutable.LinkedHashSet.empty[String]
        while (terms.size < k) terms += g.zipfWord()
        Search(terms.toSeq)
      }
    g.rnd.shuffle(block)
  }.flatten

  def active(snaps: DataFrame): DataFrame = snaps.filter(col("document_status") === "Active")

  def lookup(snaps: DataFrame, r: Read): DataFrame = (r match {
    case ByName(id) => active(snaps).filter(col("document_name") === s"doc_$id")
    case ByCategory(c) => active(snaps).filter(col("category_id") === c)
    case _ => throw new IllegalArgumentException(r.toString)
  }).select("document_id", "page_number", "snippet_id", "snippet_text")

  def bm25Input(snaps: DataFrame): DataFrame = active(snaps).select(
    (col("document_id") * 10000 + col("page_number") * 100 + col("snippet_id")).as("doc_id"),
    col("snippet_text").as("text"))

  def search(snaps: DataFrame, terms: Seq[String], n: Long, avgdl: Double): DataFrame =
    TextSearch.bm25(bm25Input(snaps), terms, n, avgdl)
      .orderBy(col("bm25").desc, col("doc_id")).limit(TopK)

  /** Expected Active snippets per document: (page, snippet id, text). */
  def expectedSnippets(d: Gen.Doc): Seq[(Int, Int, String)] =
    Gen.pageWords(d.expectedText).zipWithIndex.flatMap { case (pw, p) =>
      (0 until Gen.snippetsFor(pw.size)).map(k =>
        (p + 1, k + 1, pw.slice(3 * k, 3 * k + 5).mkString(" ")))
    }

  /** Driver-side brute-force BM25 with the engine's constants and
    * expression order, over the collected Active snippets. */
  final class BruteBm25(rows: Seq[(Long, String)]) {
    private val tokens = rows.map { case (k, t) => k -> t.trim.split("\\s+") }
    val n: Long = rows.size.toLong
    val avgdl: Double = tokens.map(_._2.length.toLong).sum.toDouble / n
    private val postings: Map[String, Seq[(Long, Int, Int)]] = tokens.flatMap { case (k, ws) =>
      ws.groupBy(identity).map { case (w, occ) => (w, (k, occ.length, ws.length)) }
    }.groupMap(_._1)(_._2)

    def top(terms: Seq[String], nDocs: Long, avg: Double): Seq[(Long, Double)] = {
      val parts = terms.map { t =>
        val ps = postings.getOrElse(t, Nil)
        val df = ps.size.toDouble
        val idf = math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
        ps.map { case (k, tf, dl) =>
          val norm = 1.2 * (0.25 + 0.75 * dl / avg)
          k -> idf * (tf * 2.2) / (tf + norm)
        }.toMap
      }
      val keys = parts.flatMap(_.keys).distinct
      keys.map { k =>
        val total = parts.map(_.getOrElse(k, 0.0)).reduceLeft(_ + _)
        k -> BigDecimal(total).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.sortBy { case (k, s) => (-s, k) }.take(TopK)
    }
  }

  /** Every node of an executed plan, through adaptive and stage wrappers. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def metric(df: DataFrame, node: SparkPlan => Boolean, name: String): Long =
    planNodes(df.queryExecution.executedPlan).filter(node)
      .flatMap(_.metrics.get(name)).map(_.value).sum

  def planMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble

  /** Publish the snapshot through the operators and engine steps of the
    * `pdf_ingest` pass, from the generated text: this workload measures
    * reads, so its set-up skips the PDF parse. */
  def publish(r: Run, docs: Seq[Gen.Doc], st: PdfIngest.Stores): Unit = {
    import r.spark.implicits._
    val in = docs.map(d => (d.id, "und", f"doc${d.id}%06d.pdf", d.expectedText))
      .toDF("doc_id", "lang", "source", "text")
    st.docs.publish(Ingest.buildDocuments(in, PdfIngest.categories(r.spark)))
    st.snippets.publish(Ingest.flattenSnippets(st.docs.read()))
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val docs = r.gen(Gen.docs(new Gen(r.seed), Docs))
    r.info("docs") = Docs
    r.info("read_mix") = Map("lookup_by_name" -> 6, "lookup_by_category" -> 1, "bm25_top10" -> 3)
    val st = new PdfIngest.Stores(spark, r.work.resolve("store"))
    val (nDocs, avgdl) = r.load {
      publish(r, docs, st)
      val a = bm25Input(st.snippets.read())
        .agg(count(lit(1)), sum(size(split(trim(col("text")), "\\s+"))).cast("long")).head()
      (a.getLong(0), a.getLong(1).toDouble / a.getLong(0))
    }
    val byId = docs.map(d => d.id -> d).toMap
    val byCategory: Map[Int, (Long, Long)] = docs.groupBy(_.category).map { case (c, ds) =>
      val rows = ds.flatMap(d => expectedSnippets(d).map { case (p, s, t) => (d.id, p, s, t) })
      c -> (rows.size.toLong, rows.map(x => (x._1, x._2, x._3, x._4).hashCode.toLong).sum)
    }
    val searches = mutable.ArrayBuffer.empty[(Seq[String], Seq[(Long, Double)])]

    /** Run one read; the result is checked after the window. */
    def exec(q: Read): Array[Row] = {
      val p = r.probe
      q match {
        case Search(terms) => p.span("operators.bm25") {
          val df = search(st.snippets.read(), terms, nDocs, avgdl)
          val rows = df.collect()
          // posting rows: the term filter right above the token explode
          if (p.on) r.sample("bm25_posting_rows", metric(df, n =>
            n.nodeName == "Filter" && n.children.exists(_.nodeName == "Generate"), "numOutputRows").toDouble)
          rows
        }
        case _ => p.span("engine.lookup") {
          val df = lookup(st.snippets.read(), q)
          val rows = df.collect()
          if (p.on) {
            r.sample("lookup_plan_ms", planMs(df))
            r.sample("lookup_rows_scanned",
              metric(df, _.nodeName.startsWith("Scan"), "numOutputRows").toDouble)
            r.sample("lookup_rows_returned", rows.length.toDouble)
          }
          rows
        }
      }
    }

    def verify(q: Read, rows: Array[Row]): Unit = q match {
      case Search(terms) =>
        searches += terms -> rows.map(x => x.getLong(0) -> x.getDouble(1)).toSeq
      case ByName(id) =>
        val got = rows.map(x => (x.getInt(1), x.getInt(2), x.getString(3))).toSeq.sorted
        r.check(got == expectedSnippets(byId(id)).sorted && rows.forall(_.getLong(0) == id),
          s"lookup doc_$id returned ${got.size} rows")
      case ByCategory(c) =>
        val got = (rows.length.toLong,
          rows.map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getString(3)).hashCode.toLong).sum)
        r.check(got == byCategory(c), s"lookup category $c returned ${rows.length} rows")
    }

    val warm = reads(new Gen(r.seed + 1), Docs)
    (1 to WarmupRounds).foreach(_ => r.warm((1 to BlockReads).foreach(_ => exec(warm.next()))))
    val stream = reads(new Gen(r.seed * 7919 + 17), Docs)
    val done = mutable.ArrayBuffer.empty[(Read, Array[Row])]
    r.loop() { _ =>
      val q = stream.next()
      val t0 = System.nanoTime()
      val rows = exec(q)
      val dt = r.secs(t0)
      r.sample("read", dt)
      r.sample(q.kind, dt)
      done += q -> rows
    }
    r.attempted += done.size
    done.foreach { case (q, rows) => verify(q, rows) }

    // BM25 check: every timed search against the brute force over the
    // collected Active snippets, with the collection statistics recomputed
    val collected = bm25Input(st.snippets.read()).collect().map(x => x.getLong(0) -> x.getString(1))
    val brute = new BruteBm25(collected.toSeq)
    r.check(brute.n == nDocs && math.abs(brute.avgdl - avgdl) < 1e-9,
      s"collection stats ${brute.n}/${brute.avgdl} != $nDocs/$avgdl")
    searches.foreach { case (terms, got) =>
      val want = brute.top(terms, nDocs, avgdl)
      r.check(got.map(_._1) == want.map(_._1) &&
        got.zip(want).forall { case (a, b) => math.abs(a._2 - b._2) < 1e-9 },
        s"bm25 ${terms.mkString(",")}: ${got.take(3)} != ${want.take(3)}")
    }
    r.counts("snippets") = nDocs.toDouble
  }
}
