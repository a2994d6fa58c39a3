package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods.pretty
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The profiler of record: runs `SparkEntry.queries` entries one at a
  * time, each with one untimed warm-up and one measured run, and splits
  * the measured run into layers:
  *  - `construct_s`: until the query function returns its DataFrame (the
  *    eager collects, checkpoints and stream replays it runs first);
  *  - Catalyst analysis / optimization / planning ms, summed over every
  *    action the run made (`QueryExecution.tracker`, SNIPPETS [3]);
  *  - `execute_s`: the `count()` of the returned frame — the action
  *    `graft.Bench` times;
  *  - jobs, stages, tasks, shuffle read/write bytes, disk spill bytes and
  *    the peak execution memory of any one task;
  *  - job seconds per `spark.job.description` label (the dedup gate's
  *    `gate[<batch>] <phase>` labels, streaming batches);
  *  - for streaming queries, each micro-batch's `durationMs` map.
  *
  * Attribution is by time window, not job group: queries run one at a
  * time, and a streaming query's own job group would hide its jobs from
  * a group filter. A window closes with a fence — a one-task job with a
  * marker description that the listener does not count; the listener
  * bus's shared queue is FIFO, so once the fence's end is seen every
  * earlier job, task and query-execution event has been too. Streaming
  * progress arrives on its own queue, so a window also waits until every
  * streaming query seen starting (delivered synchronously) has been seen
  * terminating.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <out.json> [q1,q2,...]
  * (all queries when the list is absent; `$SPARK_GRAFT_CPUS` local cores,
  * default every core). Writes one JSON record per query and prints where
  * the time went; exits non-zero when any query threw.
  */
object Profile {

  /** One streaming micro-batch: its id and its progress `durationMs`. */
  final case class Batch(batchId: Long, durationMs: Map[String, Long])

  /** One query's measured run. A query that threw carries `error`,
    * -1 for both timings, and the counters of whatever ran before the
    * throw (none when the listeners could not be drained). */
  final case class Record(query: String, constructS: Double,
      analysisMs: Long, optimizationMs: Long, planningMs: Long, executeS: Double,
      jobs: Long, stages: Long, tasks: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, peakExecutionMemoryBytes: Long,
      jobSecondsByLabel: Map[String, Double], batches: Seq[Batch],
      error: Option[String]) {
    def catalystMs: Long = analysisMs + optimizationMs + planningMs

    def json: JObject = JObject(List(
      "query" -> JString(query),
      "construct_s" -> JDouble(constructS),
      "analysis_ms" -> JLong(analysisMs),
      "optimization_ms" -> JLong(optimizationMs),
      "planning_ms" -> JLong(planningMs),
      "execute_s" -> JDouble(executeS),
      "jobs" -> JLong(jobs),
      "stages" -> JLong(stages),
      "tasks" -> JLong(tasks),
      "shuffle_read_bytes" -> JLong(shuffleReadBytes),
      "shuffle_write_bytes" -> JLong(shuffleWriteBytes),
      "spill_bytes" -> JLong(spillBytes),
      "peak_execution_memory_bytes" -> JLong(peakExecutionMemoryBytes),
      "job_s_by_label" -> JObject(jobSecondsByLabel.toList.sortBy(-_._2)
        .map { case (l, s) => l -> JDouble(s) }),
      "batches" -> JArray(batches.toList.map(b => JObject(
        "batch_id" -> JLong(b.batchId),
        "duration_ms" -> JObject(b.durationMs.toList.sorted.map { case (k, v) => k -> JLong(v) }))))
    ) ++ error.map(e => "error" -> JString(e)))
  }

  /** Everything the listeners saw between two fences. */
  private final class Window {
    var jobs, stages, tasks, shuffleRead, shuffleWrite, spill, peakMemory = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    val labelMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val batches = mutable.ArrayBuffer.empty[Batch]
  }

  private val FenceLabel = "graft.tools.Profile fence"
  private val JobDescription = "spark.job.description"
  /** How long closing a window waits for the listeners: a dropped event
    * or a stream that never ends fails the query instead of hanging. */
  private val DrainMs = 600000L
  /** A streaming batch's description carries the query's random id and
    * run id; dropped so that labels compare across runs. */
  private val StreamIds = """(?:runId|id) = [0-9a-f-]{36}"""

  private final class Recorder(spark: SparkSession)
      extends SparkListener with QueryExecutionListener {
    private var window = new Window
    private val jobStarts = mutable.Map.empty[Int, (Long, String)]
    private val fenceStages = mutable.Set.empty[Int]
    private var fenceJob = -1
    private var fencesRun, fencesSeen = 0L
    private val runningStreams = mutable.Set.empty[java.util.UUID]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty(JobDescription)))
        .map(_.replaceAll(StreamIds, "").trim.replaceAll("\\s+", " ")).getOrElse("")
      if (label == FenceLabel) { fenceJob = e.jobId; fenceStages ++= e.stageIds }
      else { window.jobs += 1; jobStarts(e.jobId) = (e.time, label) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == fenceJob) { fencesSeen += 1; notifyAll() }
      else jobStarts.remove(e.jobId).foreach { case (t0, l) => window.labelMs(l) += e.time - t0 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (!fenceStages(e.stageInfo.stageId)) window.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (!fenceStages(e.stageId)) {
        window.tasks += 1
        if (m != null) {
          window.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          window.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          window.spill += m.diskBytesSpilled
          window.peakMemory = window.peakMemory max m.peakExecutionMemory
        }
      }
    }

    private def phases(qe: QueryExecution): Unit = synchronized {
      val p = qe.tracker.phases
      def ms(phase: String) = p.get(phase).map(_.durationMs).getOrElse(0L)
      window.analysisMs += ms("analysis")
      window.optimizationMs += ms("optimization")
      window.planningMs += ms("planning")
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        Recorder.this.synchronized { runningStreams += e.runId }
      override def onQueryProgress(e: QueryProgressEvent): Unit = Recorder.this.synchronized {
        window.batches += Batch(e.progress.batchId,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        Recorder.this.synchronized { runningStreams -= e.runId; Recorder.this.notifyAll() }
    }

    /** Close the current window: run the fence, wait until the listeners
      * have seen it and every started stream's end, and hand the window
      * over. */
    def drain(): Window = {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(JobDescription)
      sc.setJobDescription(FenceLabel)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(outer)
      synchronized {
        fencesRun += 1
        def drained = fencesSeen == fencesRun && runningStreams.isEmpty
        val deadline = System.currentTimeMillis() + DrainMs
        while (!drained && System.currentTimeMillis() < deadline)
          wait(deadline - System.currentTimeMillis() max 1L)
        val w = window
        window = new Window
        if (!drained) throw new IllegalStateException(s"listeners not drained after " +
          s"${DrainMs / 1000} s: fence seen ${fencesSeen == fencesRun}, " +
          s"${runningStreams.size} streaming queries still running")
        w
      }
    }
  }

  /** Profile `names` in order on `spark` over the tables in `sfDir`. Every
    * listener this adds is removed before it returns. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Record] = {
    val rec = new Recorder(spark)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    spark.streams.addListener(rec.streams)
    try names.map { name =>
      val timed = Try {
        val query = SparkEntry.queries(name)
        query(spark, sfDir).count()
        spark.sharedState.cacheManager.clearCache()
        rec.drain()
        val t0 = System.nanoTime()
        val df = query(spark, sfDir)
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        spark.sharedState.cacheManager.clearCache()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      val drained = Try(rec.drain())
      val w = drained.getOrElse(new Window)
      val error = timed.failed.toOption.orElse(drained.failed.toOption)
        .map(e => e.toString.linesIterator.nextOption().getOrElse("").take(500))
      val (construct, execute) = if (error.isEmpty) timed.get else (-1.0, -1.0)
      println(f"[profile] $name%-28s construct $construct%8.3f s  execute $execute%8.3f s  " +
        f"jobs ${w.jobs}%4d  tasks ${w.tasks}%5d${error.fold("")(" FAILED: " + _)}")
      Record(name, construct, w.analysisMs, w.optimizationMs, w.planningMs, execute,
        w.jobs, w.stages, w.tasks, w.shuffleRead, w.shuffleWrite, w.spill, w.peakMemory,
        w.labelMs.view.mapValues(_ / 1e3).toMap, w.batches.toSeq, error)
    } finally {
      spark.streams.removeListener(rec.streams)
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.tools.Profile <sfDir> <out.json> [q1,q2,...]")
    val sfDir = args(0)
    val names = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.engine.GraftSession.local(cpus, "graft-profile")
    val records = try run(spark, sfDir, names) finally spark.stop()
    Files.writeString(Paths.get(args(1)), pretty(JObject(
      "sf_dir" -> JString(sfDir),
      "cores" -> JInt(cpus),
      "queries" -> JArray(records.map(_.json).toList))) + "\n")
    val ok = records.filter(_.error.isEmpty)
    val construct = ok.map(_.constructS).sum
    val execute = ok.map(_.executeS).sum
    val catalyst = ok.map(_.catalystMs).sum / 1e3
    println(f"[profile] ${records.size} queries, ${records.size - ok.size} errors, " +
      f"cores=$cpus, sf=$sfDir -> ${args(1)}")
    println(f"[profile] construction ${construct}%.1f s + execution ${execute}%.1f s = " +
      f"${construct + execute}%.1f s; Catalyst (analysis+optimization+planning, " +
      f"inside both) ${catalyst}%.1f s")
    if (ok.size < records.size) sys.exit(1)
  }
}
