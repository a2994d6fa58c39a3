package perfbench

import graft.engine.GraftSession
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One workload run in its own JVM:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * The run generates its inputs from the seed, sets up, warms up, then
  * drives the engine from one closed-loop client thread (the next
  * operation starts only after the previous one returned) for the given
  * number of seconds, and checks every output. Raw samples, counts and
  * checks go to `<work>/result.json` (spans to `<work>/spans.jsonl` when
  * traced); `run.py` turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(cores, s"perfbench-$workload")
    val r = new Run(spark, new Probe(spark, opt("trace") == "1"), opt("seed").toLong,
      opt("seconds").toDouble, work)
    r.info("cores") = cores
    r.sessionReadyMs = System.currentTimeMillis()
    val status =
      try {
        workload match {
          case "pdf_ingest" => PdfIngest.run(r)
          case "command_stream" => CommandStream.run(r)
          case "snippet_search" => SnippetSearch.run(r)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          r.fail(s"run aborted: $e")
          1
      }
    r.probe.drain()
    if (r.probe.on) r.probe.writeJsonl(work.resolve("spans.jsonl"))
    Files.write(work.resolve("result.json"), r.toJson(workload).getBytes("UTF-8"))
    spark.stop()
    sys.exit(status)
  }
}

/** State of one run: samples, checks, counts and set-up timings. */
final class Run(val spark: SparkSession, val probe: Probe, val seed: Long,
    val seconds: Double, val work: Path) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  var sessionReadyMs = 0L
  private var genNs = 0L
  private var loadNs = 0L
  private var firstOpMs = 0L
  val warmup = mutable.ArrayBuffer.empty[Double]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Input generation: excluded from set-up time. */
  def gen[A](body: => A): A = {
    val t0 = System.nanoTime(); try body finally genNs += System.nanoTime() - t0
  }

  /** Initial state load: part of set-up time. */
  def load[A](body: => A): A = {
    val t0 = System.nanoTime(); try body finally loadNs += System.nanoTime() - t0
  }

  /** One warm-up operation, timed as a set-up round. */
  def warm(body: => Unit): Unit = {
    val t0 = System.nanoTime(); body; warmup += secs(t0)
  }

  def sample(kind: String, s: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s

  /** Closed loop: run `op` back to back until the window closes. */
  def loop(window: Double = seconds)(op: Int => Unit): Unit = {
    if (firstOpMs == 0) firstOpMs = System.currentTimeMillis()
    val end = System.nanoTime() + (window * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end) { op(i); i += 1 }
    info("window_ops") = info.getOrElse("window_ops", 0).asInstanceOf[Int] + i
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
  }

  /** Record a check: false counts one failed operation. */
  def check(ok: Boolean, msg: => String): Boolean = { if (!ok) fail(msg); ok }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def toJson(workload: String): String = Json.obj(
    "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> probe.on,
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toList,
    "setup" -> Map(
      "session_s" -> (sessionReadyMs - jvmStartMs) / 1000.0,
      "load_s" -> loadNs / 1e9,
      "warmup_s" -> warmup.toList,
      "first_op_s" -> (if (firstOpMs == 0) null else (firstOpMs - jvmStartMs) / 1000.0 - genNs / 1e9),
      "gen_s" -> genNs / 1e9),
    "peak_rss_mb" -> peakRssMb,
    "samples" -> samples.map { case (k, v) => k -> v.toList }.toMap,
    "counts" -> counts.toMap,
    "layer" -> layer.toMap,
    "info" -> info.toMap)
}
