package graft.streaming

import graft.operators.{Mutations, SnippetGen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Command-dispatch loop (SURVEY §2.9 T1-T4): the reference drains a
  * bounded FIFO `Queue(maxsize=40)` one item at a time, routing on
  * `action_code` 0 remove-doc / 1 upload-doc / 2 add-category /
  * 3 remove-category (data_ingestion.py:37,46-72).
  *
  * Engine model: a command is a ROW; a batch of commands is a DataFrame;
  * the dispatcher is a pure function `(state, commands) -> (state',
  * messages)`. In streaming mode the same function runs inside
  * `foreachBatch`, which is exactly the reference's micro-batch drain with
  * real backpressure (`maxFilesPerTrigger`/`maxOffsetsPerTrigger` instead
  * of a blocking queue).
  *
  * Batch ordering convention: within one batch, categories are added first,
  * then uploads, then document removals, then category removals (cascade).
  * The reference's strict FIFO interleaving across types is a single-queue
  * artifact; per-type ordering preserves its observable semantics for
  * non-conflicting batches and is documented engine behavior for
  * conflicting ones.
  */
object CommandDispatch {

  /** Engine state: flat documents + derived flat snippets + category dim. */
  case class EngineState(docs: DataFrame, snippets: DataFrame, categories: DataFrame)

  /** Command-row schema (payload union of the 4 enqueue shapes,
    * data_ingestion.py:75-107). */
  val commandSchema: StructType = StructType(Seq(
    StructField("action_code", IntegerType, nullable = false),
    StructField("document_id", LongType, nullable = true),
    StructField("document_name", StringType, nullable = true),
    StructField("category_id", IntegerType, nullable = true),
    StructField("category_name", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    // upload_one_doc's expiry_date (data_ingestion.py:77, ISO-8601 string
    // or null) — command files written without the column read as null
    StructField("document_expiryDate", StringType, nullable = true)))

  /** Pure dispatch: route one command batch into the mutation set.
    * Returns the next state and one message row per command (the
    * reference's concatenated status report, data_ingestion.py:47-72,
    * as data instead of a string). */
  def dispatch(state: EngineState, commands: DataFrame): (EngineState, DataFrame) =
    dispatchWith(state, commands, None)

  /** [[dispatch]] with CONTENT near-dup rejection on uploads: beyond the
    * reference's exact-name dedup, an upload whose text is within Jaccard
    * >= threshold of any existing doc is refused (with its own message).
    * Curried so it plugs into [[runStream]]'s dispatcher slot. */
  def dispatchContentDedup(threshold: Double)(
      state: EngineState, commands: DataFrame): (EngineState, DataFrame) =
    dispatchWith(state, commands, Some(threshold))

  /** A batch-sized frame collected once into a `LocalRelation`. */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** One dispatch plan per command batch. A command batch is DRIVER-SIZED:
    * the stream bounds it through `maxOffsetsPerTrigger` /
    * `maxFilesPerTrigger` (the reference's queue holds 40, DI:37). So the
    * batch is collected once and its delta is computed on the driver:
    * the commands, the existing names they probe, and the accepted
    * categories and documents become `LocalRelation`s that fold into the
    * write plans as literals instead of re-running per consumer. Only the
    * state tables are scanned by the writes. */
  private def dispatchWith(state: EngineState, commands: DataFrame,
      contentDedup: Option[Double]): (EngineState, DataFrame) = {
    // distinct non-null values of a column (no job over a local frame)
    def values(df: DataFrame, c: String): Seq[Any] =
      df.select(c).collect().iterator.map(_.get(0)).filter(_ != null).toSeq.distinct
    def in(c: String, vs: Seq[Any]) = if (vs.isEmpty) lit(false) else col(c).isin(vs: _*)
    // the left_anti rule as a literal-set filter: a null key is never deleted
    def dropKeys(df: DataFrame, c: String, vs: Seq[Any]) = df.filter(col(c).isNull || !in(c, vs))
    val cmds = local(commands)
    def ofCode(code: Int) = cmds.filter(col("action_code") === code)

    // 1: uploads — dedup on name (M1/J3), dim lookup (J1), snippet gen (F3/F4).
    // The state's docs table OPTIONALLY carries document_expiryDate
    // (upload_one_doc's expiry_date, data_ingestion.py:77): when it does,
    // uploads propagate the command's expiry (null when the command batch
    // was written without the column) so the per-batch expiry sweep
    // ([[expiryMaintenance]]) has something to sweep. A state without the
    // column dispatches exactly as before — q_dispatch is unchanged.
    val hasExpiry = state.docs.columns.contains("document_expiryDate")
    val expiryCmd =
      if (cmds.columns.contains("document_expiryDate"))
        col("document_expiryDate").cast("string")
      else lit(null).cast("string")
    val uploads = ofCode(1)
      .select(Seq(col("document_id"), col("document_name"), col("category_id"),
        col("text")) ++
        (if (hasExpiry) Seq(expiryCmd.as("document_expiryDate")) else Nil): _*)
    val uploadCatIds = values(uploads, "category_id")

    // 2: add categories (uniqueness on name, M7). One probe of the category
    // table serves both the added names and the uploads' category lookup.
    val catAdds = ofCode(2).select(col("category_id"), col("category_name"))
    val addNames = values(catAdds, "category_name")
    val catProbe = local(state.categories
      .filter(in("category_name", addNames) || in("category_id", uploadCatIds))
      .select(col("category_id"), col("category_name")))
    val existingCats = catProbe.filter(in("category_name", addNames)).select("category_name")
    val acceptedCats = local(Mutations.acceptedNew(existingCats, catAdds, "category_name"))
    val cats1 = state.categories.unionByName(acceptedCats)
    val uploadCats = catProbe.unionByName(acceptedCats).filter(in("category_id", uploadCatIds))
    val newDocs = uploads
      .join(broadcast(uploadCats), Seq("category_id"), "left")
      .withColumn("document_status", lit("Active"))
      .select(Seq("document_id", "document_name", "category_id", "category_name",
        "text", "document_status") ++
        (if (hasExpiry) Seq("document_expiryDate") else Nil) map col: _*)
    val uploadNames = values(uploads, "document_name")
    val existingNames = local(state.docs.filter(in("document_name", uploadNames))
      .select("document_name"))
    // the accepted set is computed ONCE and drives both the docs append and
    // snippet generation — so a within-batch duplicate name contributes
    // exactly one doc row and one snippet set (no orphan snippets)
    val nameAccepted = local(Mutations.acceptedNew(existingNames, newDocs, "document_name"))
    // optional content near-dup gate: reject uploads whose TEXT is a
    // near-dup of an existing doc (the streaming content-dedup extension).
    // This re-signs state.docs per batch — at scale keep the persisted
    // MinHash index (Dedup.writeIndex/probeIndex/appendIndex) instead.
    val rejected = contentDedup.fold(Seq.empty[Any]) { t =>
      values(graft.operators.Dedup.crossNearDups(
        nameAccepted.select(col("document_id").as("doc_id"), col("text")),
        state.docs.select(col("document_id").as("doc_id"), col("text")), t), "doc_a")
    }
    val acceptedDocs = dropKeys(nameAccepted, "document_id", rejected)
    val newSnippets = acceptedDocs
      .select(col("document_id"), col("document_name"), col("category_id"),
        col("document_status"),
        explode(SnippetGen.snippetWindows(SnippetGen.splitWords(col("text")))).as("s"))
      .select(col("document_id"), col("document_name"), col("category_id"),
        col("s.snippet_id").as("snippet_id"), col("s.snippet_text").as("snippet_text"),
        col("document_status"))

    // 0: remove documents by name (M4/M8), 3: remove categories (M5) —
    // both cascade to snippets, category removes to docs too
    val removeNames = values(ofCode(0), "document_name")
    val removeCats = values(ofCode(3), "category_id")
    def removed(df: DataFrame) =
      dropKeys(dropKeys(df, "document_name", removeNames), "category_id", removeCats)
    val docs = removed(state.docs.unionByName(acceptedDocs))
    val snippets = removed(state.snippets.unionByName(newSnippets))
    val cats = dropKeys(cats1, "category_id", removeCats)

    // status messages (C3 analog), one per command: a projection over the
    // command rows with this batch's probe results as literal sets
    val nameExists = in("document_name", values(existingNames, "document_name"))
    val catExists = in("category_name", values(existingCats, "category_name"))
    val messages = cmds.select(col("action_code"), col("document_name"), col("category_name"),
        when(col("action_code") === 1 && nameExists,
            format_string("Document %s already exists", col("document_name")))
          .when(col("action_code") === 1 && in("document_id", rejected),
            format_string("Document %s is a near-duplicate", col("document_name")))
          .when(col("action_code") === 1,
            format_string("Document %s was uploaded", col("document_name")))
          .when(col("action_code") === 0,
            format_string("Document %s was removed", col("document_name")))
          .when(col("action_code") === 2 && catExists,
            format_string("Category %s already exists", col("category_name")))
          .when(col("action_code") === 2,
            format_string("Category %s was added", col("category_name")))
          .when(col("action_code") === 3,
            format_string("Category %d was removed", col("category_id")))
          .otherwise(lit("Unknown action"))
          .as("message"))
    (EngineState(docs, snippets, cats), messages)
  }

  /** Oracle-checked batch demo: seed state from the test tables (documents
    * as docs with category = doc_id % 5 over the region dim), apply one
    * command batch exercising all four action codes plus both dedup
    * rejections, return the resulting docs table. */
  def qDispatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs0 = graft.engine.Tables.documents(s, d).select(
      col("doc_id").as("document_id"),
      concat(lit("doc_"), col("doc_id")).as("document_name"),
      (col("doc_id") % 5).cast("int").as("category_id"),
      lit(null).cast("string").as("category_name"),
      col("text"),
      lit("Active").as("document_status"))
    val cats0 = graft.engine.Tables.region(s, d).select(
      col("r_regionkey").cast("int").as("category_id"), col("r_name").as("category_name"))
    val snippets0 = s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("document_id", LongType), StructField("document_name", StringType),
        StructField("category_id", IntegerType), StructField("snippet_id", IntegerType),
        StructField("snippet_text", StringType), StructField("document_status", StringType))))
    val commands = Seq(
      (2, None: Option[Long], None: Option[String], Some(10), Some("NEWCAT"), None: Option[String]),
      (2, None, None, Some(11), Some("AFRICA"), None), // dup category -> rejected
      (1, Some(9001L), Some("doc_new"), Some(2), None, Some("alpha beta gamma delta epsilon zeta eta")),
      (1, Some(9002L), Some("doc_7"), Some(1), None, Some("duplicate name upload")), // rejected
      (0, None, Some("doc_3"), None, None, None),
      (3, None, None, Some(4), None, None)
    ).toDF("action_code", "document_id", "document_name", "category_id", "category_name", "text")
    val (next, _) = dispatch(EngineState(docs0, snippets0, cats0), commands)
    next.docs.select("document_id", "category_id").orderBy("document_id")
  }

  /** Oracle-checked T4-under-dispatch demo: seed the dispatch state WITH
    * expiry dates (doc_id % 3 == 0 already past, % 3 == 1 far future,
    * else none), apply one upload batch carrying its own expiries (one
    * past, one future — upload_one_doc's expiry_date, DI:77), then run
    * [[expiryMaintenance]] exactly as the streaming loop does per batch.
    * The oracle restates every status in closed form: a sweep that
    * misses the seed rows, the same-batch upload, or flips a NULL/future
    * expiry hash-mismatches. */
  def qDispatchSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs0 = graft.engine.Tables.documents(s, d).select(
      col("doc_id").as("document_id"),
      concat(lit("doc_"), col("doc_id")).as("document_name"),
      (col("doc_id") % 5).cast("int").as("category_id"),
      lit(null).cast("string").as("category_name"),
      col("text"),
      lit("Active").as("document_status"),
      when(col("doc_id") % 3 === 0, lit("2001-01-01"))
        .when(col("doc_id") % 3 === 1, lit("2099-01-01"))
        .otherwise(lit(null).cast("string")).as("document_expiryDate"))
    val cats0 = graft.engine.Tables.region(s, d).select(
      col("r_regionkey").cast("int").as("category_id"), col("r_name").as("category_name"))
    val snippets0 = s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("document_id", LongType), StructField("document_name", StringType),
        StructField("category_id", IntegerType), StructField("snippet_id", IntegerType),
        StructField("snippet_text", StringType), StructField("document_status", StringType))))
    val commands = Seq(
      (1, Some(9001L), Some("doc_new1"), Some(2), None: Option[String],
        Some("alpha beta gamma delta epsilon"), Some("2002-02-02")),
      (1, Some(9002L), Some("doc_new2"), Some(1), None,
        Some("zeta eta theta iota kappa"), Some("2099-01-01")))
      .toDF("action_code", "document_id", "document_name", "category_id",
        "category_name", "text", "document_expiryDate")
    val (next0, _) = dispatch(EngineState(docs0, snippets0, cats0), commands)
    // pin the dispatched docs ONCE (VERDICT r11 Next #8): the sweep reads
    // that lineage twice — the expireSweep scan AND the newly-expired
    // delta — so without a checkpoint the gate recomputes the whole
    // dispatch chain per consumer (sf1 exponent 0.77). The production
    // streaming path never has this problem: runStream's recovery
    // contract re-reads the batch SNAPSHOT parquet as the sweep's base.
    val next = next0.copy(docs = next0.docs.localCheckpoint())
    val swept = expiryMaintenance(lit("2026-01-01"))(next)
    swept.docs.select("document_id", "document_status", "document_expiryDate")
      .orderBy("document_id")
  }

  /** Strict cross-type FIFO dispatch (the reference's single-queue drain
    * order, data_ingestion.py:46-72): commands are applied in `seqCol`
    * arrival order. Implementation: split the batch into RUNS of
    * consecutive same-type commands and fold [[dispatch]] over the runs —
    * within a run the per-type batch semantics are already order-free, so
    * the fold reproduces the exact one-at-a-time queue result. The
    * driver-sized batch is collected once with its run ids, and every run
    * is dispatched from that local frame. Use this dispatcher
    * when a batch may interleave conflicting commands on the same key
    * (e.g. upload -> remove -> re-upload of one name); for
    * non-conflicting batches it is equivalent to [[dispatch]]. */
  def dispatchFifo(state: EngineState, commands: DataFrame,
      seqCol: String = "seq"): (EngineState, DataFrame) = {
    // a command batch is an inherently sequential queue: the unpartitioned
    // window is over one micro-batch, not a data table
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(seqCol))
    val runs = local(commands
      .withColumn("__chg",
        when(col("action_code") === lag(col("action_code"), 1).over(w), 0).otherwise(1))
      .withColumn("__run", sum(col("__chg")).over(w))
      .drop("__chg"))
    val runIds = runs.select("__run").collect().map(_.getLong(0)).distinct.sorted
    if (runIds.isEmpty) return dispatch(state, commands) // empty micro-batch
    var st = state
    val messages = runIds.map { r =>
      val (next, msgs) = dispatch(st, runs.filter(col("__run") === r).drop("__run", seqCol))
      st = next
      msgs
    }
    (st, messages.reduceLeft(_ unionByName _))
  }

  /** Streaming mode: run the dispatcher inside foreachBatch over a command
    * stream, persisting each state snapshot under `stateDir/<batchId>/`.
    *
    * Recovery contract: batch N is ALWAYS dispatched against the batch N-1
    * snapshot read back from `stateDir` (batch 0 against `initial`), never
    * against driver-local state — so a query restarted from its streaming
    * checkpoint resumes correctly (the source replays from batch N, the
    * dispatcher rebases on snapshot N-1), and a re-run of a batch
    * overwrites the same snapshot with the same result (idempotent per
    * batch id; the reference's rollback intent via atomic dirs, SURVEY
    * §7.4). If intermediate snapshots were pruned, the newest one below N
    * is used. `onBatch` receives the post-batch state for inspection. */
  /** T4 as a STREAMING citizen (VERDICT r10 Next #6): per-batch
    * maintenance run INSIDE the same foreachBatch transaction as the
    * dispatch — the reference runs its expiry sweep once per run
    * (data_ingestion.py:554); here the sweep's output IS what the batch
    * snapshot persists, so a replayed batch (crash between the snapshot
    * write and the streaming commit) re-runs dispatch+sweep on the same
    * base snapshot and rewrites the same result — idempotent under the
    * recovery contract, spec'd by a forced mid-sweep replay in
    * StreamingSpec. Docs sweep by [[Mutations.expireSweep]]; the expired
    * status cascades to the denormalized snippets (broadcast of the
    * expired-id set — the swept delta, never the corpus). */
  def expiryMaintenance(asOf: org.apache.spark.sql.Column,
      expiryCol: String = "document_expiryDate"): EngineState => EngineState = { st =>
    val sweptDocs = Mutations.expireSweep(st.docs, expiryCol, asOf)
    // cascade only the NEWLY-expired ids (was Active, crosses the expiry
    // predicate this batch): docs expired in earlier batches already
    // cascaded then, so the broadcast carries the per-batch delta — never
    // the full accumulated Expired set, which at corpus scale grows
    // without bound while the delta stays micro-batch-sized
    val newlyExpired = st.docs
      .filter(col("document_status") === "Active" &&
        col(expiryCol).isNotNull && col(expiryCol) < asOf)
      .select(col("document_id").as("__eid"))
    val sweptSnips = st.snippets
      .join(broadcast(newlyExpired), col("document_id") === col("__eid"), "left")
      .withColumn("document_status",
        when(col("__eid").isNotNull, lit("Expired")).otherwise(col("document_status")))
      .drop("__eid")
    EngineState(sweptDocs, sweptSnips, st.categories)
  }

  def runStream(spark: SparkSession, commands: DataFrame, initial: EngineState,
      stateDir: String, onBatch: (Long, EngineState) => Unit,
      dispatcher: (EngineState, DataFrame) => (EngineState, DataFrame) = dispatch,
      maintenance: EngineState => EngineState = identity,
      checkpoint: Option[String] = None): StreamingQuery = {
    // the schemas of the snapshot this query wrote last: reading it back
    // with them skips parquet schema inference, one job per table
    var written: Option[(Long, Seq[StructType])] = None
    def loadState(id: Long): Option[EngineState] = {
      val ok = new java.io.File(s"$stateDir/$id/categories/_SUCCESS").exists()
      val schemas = written.collect { case (`id`, s) => s }
      def read(table: String, i: Int) =
        schemas.fold(spark.read)(s => spark.read.schema(s(i))).parquet(s"$stateDir/$id/$table")
      if (ok) Some(EngineState(read("docs", 0), read("snippets", 1), read("categories", 2)))
      else None
    }
    def latestBelow(batchId: Long): Option[EngineState] = {
      val ids = Option(new java.io.File(stateDir).listFiles()).getOrElse(Array.empty)
        .flatMap(f => scala.util.Try(f.getName.toLong).toOption)
        .filter(_ < batchId).sorted.reverse
      ids.view.flatMap(loadState).headOption
    }
    val writer = checkpoint.foldLeft(commands.writeStream.outputMode("append"))(
      (w, c) => w.option("checkpointLocation", c))
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val base = if (batchId == 0) initial else latestBelow(batchId).getOrElse(initial)
        val (dispatched, messages) = dispatcher(base, batch)
        // maintenance INSIDE the batch transaction: the swept state is
        // what persists, so batch replay reproduces it (T4 streaming)
        val next = maintenance(dispatched)
        // materialize snapshots so state does not re-read mutated streams
        val dir = s"$stateDir/$batchId"
        next.docs.write.mode("overwrite").parquet(s"$dir/docs")
        next.snippets.write.mode("overwrite").parquet(s"$dir/snippets")
        messages.write.mode("overwrite").parquet(s"$dir/messages")
        // categories last: its _SUCCESS marks the snapshot complete for recovery
        next.categories.write.mode("overwrite").parquet(s"$dir/categories")
        written = Some(batchId -> Seq(next.docs.schema, next.snippets.schema,
          next.categories.schema))
        onBatch(batchId, loadState(batchId).get)
      }
      .start()
  }
}
