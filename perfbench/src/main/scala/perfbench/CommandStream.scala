package perfbench

import graft.operators.SnippetGen
import graft.streaming.CommandDispatch
import graft.streaming.CommandDispatch.EngineState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable

/** One command row ([[CommandDispatch.commandSchema]]). */
final case class Cmd(action_code: Int, document_id: Option[Long], document_name: Option[String],
    category_id: Option[Int], category_name: Option[String], text: Option[String],
    document_expiryDate: Option[String])

/** The generator's model of the engine state under the command stream:
  * it emits each 40-command batch and knows what dispatch + expiry
  * maintenance must make of it — messages, doc and snippet counts by
  * status, categories. Uploads and removes balance (18 uploads of which
  * 2 reuse a live name and must be rejected, against 16 removes of live
  * names), so the corpus size is the same after every batch and latency
  * does not depend on run length. Category adds use fresh names;
  * category removes target only categories added during the run, so
  * their cascade deletes no document. */
final class CommandModel(g: Gen, baseDocs: Int) {
  import CommandModel._
  private case class D(id: Long, words: Int, expiry: Option[Int])
  private val live = mutable.LinkedHashMap.empty[String, D]
  private val liveNames = mutable.ArrayBuffer.empty[String] // for O(1) random picks
  private val addedCats = mutable.ArrayBuffer.empty[Int]
  private var nextId = 1000000L
  private var nextCat = 100
  private var batches = 0
  private var categories: Int = Gen.Categories

  /** Base documents: ids 0..n-1, expiry days spread over the run, a fifth
    * without expiry. */
  val base: IndexedSeq[(Gen.Doc, Option[Int])] = (0 until baseDocs).map { i =>
    val d = Gen.Doc(i.toLong, g.text(), "plain")
    val exp = if (g.rnd.nextInt(5) == 0) None else Some(1 + g.rnd.nextInt(ExpiryHorizon))
    add(d.name, D(d.id, words(d.text), exp))
    (d, exp)
  }

  private def words(t: String) = t.split(" ").length
  private def add(name: String, d: D): Unit = { live(name) = d; liveNames += name }
  private def remove(name: String): Unit = {
    live.remove(name)
    val i = liveNames.indexOf(name)
    liveNames(i) = liveNames.last; liveNames.remove(liveNames.size - 1)
  }

  /** The day the expiry sweep of batch `b` (0-based) runs as of. */
  def asOf(b: Int): Int = b + 1

  /** Emit the next batch; the model advances past it. */
  def next(): Batch = {
    val day = asOf(batches)
    val picks = g.rnd.shuffle(liveNames.indices.toList).take(Removes + DupUploads).map(liveNames)
    val (removed, dupNames) = picks.splitAt(Removes)
    val cmds = mutable.ArrayBuffer.empty[Cmd]
    val msgs = mutable.ArrayBuffer.empty[(Int, String)]
    (0 until CatAdds).foreach { _ =>
      val id = nextCat; nextCat += 1
      cmds += Cmd(2, None, None, Some(id), Some(s"pcat_$id"), None, None)
      msgs += 2 -> s"Category pcat_$id was added"
    }
    val uploads = (0 until Uploads - DupUploads).map { _ =>
      val id = nextId; nextId += 1
      (s"up_$id", id)
    } ++ dupNames.map { n => val id = nextId; nextId += 1; (n, id) }
    uploads.foreach { case (name, id) =>
      val t = g.text()
      val exp = if (g.rnd.nextInt(5) == 0) None else Some(day + g.rnd.nextInt(ExpiryHorizon))
      cmds += Cmd(1, Some(id), Some(name), Some(g.rnd.nextInt(Gen.Categories)), None, Some(t),
        exp.map(Gen.date))
      if (live.contains(name)) msgs += 1 -> s"Document $name already exists"
      else { msgs += 1 -> s"Document $name was uploaded"; add(name, D(id, words(t), exp)) }
    }
    removed.foreach { n =>
      cmds += Cmd(0, None, Some(n), None, None, None, None)
      msgs += 0 -> s"Document $n was removed"
      remove(n)
    }
    val catRemoves = g.rnd.shuffle(addedCats.toList).take(CatRemoves)
    catRemoves.foreach { c =>
      cmds += Cmd(3, None, None, Some(c), None, None, None)
      msgs += 3 -> s"Category $c was removed"
      addedCats -= c
    }
    addedCats ++= (nextCat - CatAdds until nextCat)
    categories += CatAdds - catRemoves.size
    // keep the batch at exactly 40 commands while no added category exists yet
    (catRemoves.size until CatRemoves).foreach { k =>
      val id = nextCat; nextCat += 1
      cmds += Cmd(2, None, None, Some(id), Some(s"pcat_$id"), None, None)
      msgs += 2 -> s"Category pcat_$id was added"
      addedCats += id; categories += 1
    }
    batches += 1
    val expired = live.values.filter(_.expiry.exists(_ < day))
    Batch(g.rnd.shuffle(cmds.toList), msgs.toList, day,
      Counts(live.size, expired.size, live.values.map(d => Gen.snippetsFor(d.words).toLong).sum,
        expired.map(d => Gen.snippetsFor(d.words).toLong).sum, categories))
  }
}

object CommandModel {
  val BatchSize = 40 // the reference's bounded action queue, maxsize=40 (DI:37)
  val Uploads = 18
  val DupUploads = 2
  val Removes = 16
  val CatAdds = 4
  val CatRemoves = 2
  val ExpiryHorizon = 60
  require(Uploads + Removes + CatAdds + CatRemoves == BatchSize)

  final case class Counts(docs: Long, expiredDocs: Long, snippets: Long,
      expiredSnippets: Long, categories: Long)
  final case class Batch(cmds: Seq[Cmd], messages: Seq[(Int, String)], asOf: Int, after: Counts)
}

/** `command_stream`, the small-write path: 40-command batches handed to
  * [[CommandDispatch.runStream]] with per-batch expiry maintenance, one
  * batch at a time. `streaming` and whole-state rewrites do the work;
  * the PDF parser does none. */
object CommandStream {
  import CommandModel._
  val BaseDocs = 5000
  val WarmupBatches = 3

  /** The initial engine state, written once and read back. */
  def initialState(spark: SparkSession, model: CommandModel, dir: String): EngineState = {
    import spark.implicits._
    val docs = model.base.map { case (d, exp) =>
      (d.id, d.name, d.category, s"cat_${d.category}", d.text, "Active", exp.map(Gen.date))
    }.toDF("document_id", "document_name", "category_id", "category_name", "text",
      "document_status", "document_expiryDate")
    val snippets = docs.select(col("document_id"), col("document_name"), col("category_id"),
        col("document_status"),
        explode(SnippetGen.snippetWindows(SnippetGen.splitWords(col("text")))).as("s"))
      .select(col("document_id"), col("document_name"), col("category_id"),
        col("s.snippet_id").as("snippet_id"), col("s.snippet_text").as("snippet_text"),
        col("document_status"))
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    snippets.write.mode("overwrite").parquet(s"$dir/snippets")
    PdfIngest.categories(spark).write.mode("overwrite").parquet(s"$dir/categories")
    EngineState(spark.read.parquet(s"$dir/docs"), spark.read.parquet(s"$dir/snippets"),
      spark.read.parquet(s"$dir/categories"))
  }

  /** Check committed batches against the model: each batch's 40
    * messages, and its doc / snippet counts by status plus categories,
    * read back from the batch snapshots under `stateDir` (one job per
    * table for all batches). A wrong message fails its command; a wrong
    * count fails the whole batch. */
  def checkBatches(r: Run, stateDir: String, batches: Seq[(Batch, Long)]): Unit = {
    val spark = r.spark
    def read(table: String): DataFrame =
      spark.read.parquet(batches.map { case (_, id) => s"$stateDir/$id/$table" }: _*)
        .withColumn("batch", regexp_extract(input_file_name(), "/(\\d+)/" + table + "/", 1).cast("long"))
    def byStatus(table: String): Map[(Long, String), Long] =
      read(table).groupBy("batch", "document_status").count().collect()
        .map(x => (x.getLong(0), x.getString(1)) -> x.getLong(2)).toMap
    val messages = read("messages").select("batch", "action_code", "message").collect()
      .groupBy(_.getLong(0)).map { case (id, rows) => id -> rows.map(x => (x.getInt(1), x.getString(2))).toList }
    val docs = byStatus("docs")
    val snippets = byStatus("snippets")
    val cats = read("categories").groupBy("batch").count().collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    batches.foreach { case (b, id) =>
      r.attempted += BatchSize
      val got = messages.getOrElse(id, Nil)
      val missing = b.messages.diff(got)
      val bad = missing.size.max(got.diff(b.messages).size)
      missing.take(bad.min(3)).foreach(m => r.fail(s"batch $id: expected message $m"))
      r.failed += bad - bad.min(3)
      def n(m: Map[(Long, String), Long], status: String) = m.getOrElse((id, status), 0L)
      val c = Counts(n(docs, "Active") + n(docs, "Expired"), n(docs, "Expired"),
        n(snippets, "Active") + n(snippets, "Expired"), n(snippets, "Expired"), cats.getOrElse(id, 0L))
      if (!r.check(c == b.after, s"batch $id: state $c != model ${b.after}"))
        r.failed += BatchSize - 1
    }
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val model = r.gen(new CommandModel(new Gen(r.seed), BaseDocs))
    r.info("base_docs") = BaseDocs
    r.info("batch_mix") = Map("uploads" -> Uploads, "duplicate_uploads" -> DupUploads,
      "removes" -> Removes, "category_adds" -> CatAdds, "category_removes" -> CatRemoves)
    val stateDir = r.work.resolve("state").toString
    val initial = r.load(initialState(spark, model, r.work.resolve("state0").toString))

    val asOf = new AtomicReference[String](Gen.date(0))
    val committed = new LinkedBlockingQueue[(Long, Long)]()
    val progress = mutable.ArrayBuffer.empty[java.util.Map[String, java.lang.Long]]
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.synchronized(progress += e.progress.durationMs)
    }
    if (r.probe.on) spark.streams.addListener(listener)
    val stream = MemoryStream[Cmd]
    val query = CommandDispatch.runStream(spark, stream.toDF(), initial, stateDir,
      (id, _) => committed.put((id, System.nanoTime())),
      maintenance = st => CommandDispatch.expiryMaintenance(lit(asOf.get))(st))

    def oneBatch(): (Batch, Double, Long) = {
      val b = model.next()
      asOf.set(Gen.date(b.asOf))
      val t0 = System.nanoTime()
      stream.addData(b.cmds)
      val (id, t1) = Option(committed.poll(170, TimeUnit.SECONDS))
        .getOrElse(throw new IllegalStateException("batch not committed"))
      (b, (t1 - t0) / 1e9, id)
    }
    // committed batches are checked after the window, so checking takes
    // none of it; every batch's snapshot stays until then
    val done = mutable.ArrayBuffer.empty[(Batch, Long)]
    var lastId = -1L
    try {
      (1 to WarmupBatches).foreach { _ =>
        r.warm {
          val (b, _, id) = oneBatch()
          done += ((b, id))
          lastId = id
        }
      }
      // a traced run spends the second half of its window on the direct,
      // stage-by-stage path, continuing from the stream's last batch
      r.loop(if (r.probe.on) r.seconds / 2 else r.seconds) { _ =>
        val (b, s, id) = oneBatch()
        r.sample("batch", s)
        done += ((b, id))
        lastId = id
      }
      query.stop()
      if (r.probe.on) r.loop(r.seconds / 2) { _ =>
        lastId += 1
        done += ((tracedBatch(r, model, stateDir, lastId), lastId))
      }
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }
    checkBatches(r, stateDir, done.toSeq)
    if (r.probe.on) progress.synchronized {
      Seq("addBatch" -> "streaming.add_batch_ms", "queryPlanning" -> "streaming.query_planning_ms",
          "walCommit" -> "streaming.wal_commit_ms").foreach { case (k, name) =>
        val v = progress.flatMap(m => Option(m.get(k))).map(_.doubleValue).sorted
        if (v.nonEmpty) r.layer(name) = v(v.size / 2)
      }
    }
  }

  /** Traced stage-by-stage batch, outside the stream, continuing the
    * model from the latest committed state: dispatch (plan construction,
    * then materialized), the expiry sweep, and the state writes, each in
    * its own span. The output is committed under the next batch id, in
    * the layout the stream uses, and checked like a streamed batch.
    * Returns the batch. */
  def tracedBatch(r: Run, model: CommandModel, stateDir: String, id: Long): Batch = {
    val spark = r.spark
    import spark.implicits._
    val p = r.probe
    val b = model.next()
    val base = EngineState(spark.read.parquet(s"$stateDir/${id - 1}/docs"),
      spark.read.parquet(s"$stateDir/${id - 1}/snippets"),
      spark.read.parquet(s"$stateDir/${id - 1}/categories"))
    val out = s"$stateDir/$id"
    def pin(st: EngineState): EngineState = EngineState(st.docs.localCheckpoint(),
      st.snippets.localCheckpoint(), st.categories.localCheckpoint())
    p.span("bench.command_stream.batch") {
      val (dispatched, messages) = p.span("streaming.dispatch.construct")(
        CommandDispatch.dispatch(base, b.cmds.toDF()))
      val d = p.span("streaming.dispatch")(pin(dispatched))
      val swept = p.span("streaming.expiryMaintenance")(
        pin(CommandDispatch.expiryMaintenance(lit(Gen.date(b.asOf)))(d)))
      p.span("streaming.state_write") {
        swept.docs.write.mode("overwrite").parquet(s"$out/docs")
        swept.snippets.write.mode("overwrite").parquet(s"$out/snippets")
        messages.write.mode("overwrite").parquet(s"$out/messages")
        swept.categories.write.mode("overwrite").parquet(s"$out/categories")
      }
    }
    r.sample("bytes_per_command", PdfIngest.dirBytes(out).toDouble / BatchSize)
    r.sample("state_rows",
      (spark.read.parquet(s"$out/docs").count() + spark.read.parquet(s"$out/snippets").count()).toDouble)
    b
  }
}
