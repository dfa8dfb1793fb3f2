package flubench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.FlubenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. Times are `System.nanoTime` values;
  * `parent` is the enclosing span's id (0 at the top) and `request` the
  * operation the span belongs to.
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
                      parent: Long, request: Long)

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced runs pay one closure call per layer call.
  */
final class Tracer {
  @volatile var enabled: Boolean = false
  @volatile var request: Long = 0L
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), stack.headOption.getOrElse(0L), request))
        open.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Write one JSON object per span. */
  def dump(path: Path): Unit =
    Files.write(path, all.map { s =>
      Json.encode(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "request" -> s.request))
    }.mkString("", "\n", "\n").getBytes(UTF_8))
}

/** Scheduler-side work counted by [[LayerListener]]. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                          cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes)

  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes)

  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "executor_run_s" -> runMs / 1e3,
    "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0)
}

object Counters {
  val Zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0)
}

/** Counts jobs, stages and tasks and sums the task metrics the per-layer
  * report uses. Attached only in traced runs.
  */
final class LayerListener extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffle = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffle.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(spark: SparkSession): Counters = {
    FlubenchBridge.drainListeners(spark.sparkContext)
    Counters(jobs.sum, stages.sum, tasks.sum, runMs.sum, cpuNs.sum, gcMs.sum, shuffle.sum)
  }
}

/** Minimal JSON encoder for the harness's records. */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(encode).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
