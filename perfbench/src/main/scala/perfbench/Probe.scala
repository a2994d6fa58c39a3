package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Spark work attributed to one span: counted by a [[SparkListener]]
  * from the job group the span sets around its call. */
final class Work {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val executorRunMs = new AtomicLong
  val inputBytes = new AtomicLong
}

final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long, work: Work)

/** In-memory tracer around the benchmark's calls into the engine. When
  * off, [[span]] only runs its body. Spans are kept in memory and written
  * out once, when the run ends. Each span tags the Spark jobs its body
  * starts with its own job group, so the listener can attribute them;
  * jobs started on other threads (the streaming query's) are not
  * attributed. */
final class Probe(spark: SparkSession, val on: Boolean) {
  private val ids = new AtomicLong
  private val done = ArrayBuffer.empty[Span]
  private val byGroup = new ConcurrentHashMap[String, Work]
  private val stageGroup = new ConcurrentHashMap[Int, Work]
  private var stack: List[(Long, Long)] = Nil // (span id, trace id), innermost first

  if (on) spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => Option(byGroup.get(g))).foreach { w =>
          w.jobs.incrementAndGet()
          e.stageIds.foreach(s => stageGroup.put(s, w))
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { w =>
        w.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          w.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          w.executorRunMs.addAndGet(m.executorRunTime)
          w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        }
      }
  })

  /** Time `body` as a span named `name` (a child of the enclosing span,
    * or the root of a new trace). */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val (parent, trace) = stack.headOption.map { case (p, t) => (p, t) }.getOrElse((0L, id))
      val work = new Work
      val group = s"perfbench-$id"
      byGroup.put(group, work)
      val sc = spark.sparkContext
      val outerGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(group, name)
      stack = (id, trace) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        outerGroup match {
          case Some(g) => sc.setJobGroup(g, g)
          case None => sc.clearJobGroup()
        }
        done.synchronized(done += Span(id, parent, trace, name, t0, t1, work))
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Wait for the listener bus to deliver every event posted so far. */
  def drain(): Unit = if (on) {
    // the bus is Spark-internal API; reached by reflection
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      Json.obj(
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> s.work.jobs.get, "tasks" -> s.work.tasks.get,
        "shuffle_write_bytes" -> s.work.shuffleWriteBytes.get,
        "spill_bytes" -> s.work.spillBytes.get,
        "executor_run_s" -> s.work.executorRunMs.get / 1000.0,
        "input_bytes" -> s.work.inputBytes.get)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the run's result file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
