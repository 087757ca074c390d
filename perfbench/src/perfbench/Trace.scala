package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One benchmark call: name, start, end (epoch ms, sub-ms precision, the
  * clock Spark stamps its listener events with), parent span id (-1 for
  * a root) and numeric attributes.
  */
final case class CallSpan(id: Int, parent: Int, name: String, start: Double,
    var end: Double, attrs: mutable.LinkedHashMap[String, Double])

/** Wraps a named piece of work. */
trait Timer {
  def apply[T](name: String)(body: => T): T
}

/** Runs the work without recording it. */
object Untimed extends Timer {
  def apply[T](name: String)(body: => T): T = body
}

/** In-memory span recorder. Calls are made by one client thread at a
  * time, so the open spans form a stack; spans are written out once, when
  * the run ends.
  */
final class Tracer extends Timer {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[CallSpan]
  private var open: List[CallSpan] = Nil

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String)(body: => T): T = {
    val s = CallSpan(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
      nowMs, Double.NaN, mutable.LinkedHashMap.empty)
    spans += s
    open = s :: open
    try body
    finally { s.end = nowMs; open = open.tail }
  }

  def apply[T](name: String)(body: => T): T = span(name)(body)

  /** Sets an attribute on the innermost open span. */
  def attr(key: String, value: Double): Unit = open.head.attrs(key) = value
}

/** Job intervals and per-task metrics, as Spark reports them. Registered
  * only for traced passes.
  */
final class JobTaskEvents extends SparkListener {
  private val jobStarts = mutable.Map.empty[Int, Long]
  /** [start ms, end ms] per finished job */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  /** launch ms, finish ms, cpu s, gc s, shuffle write B, shuffle read B,
    * spilled B, output B
    */
  val tasks = mutable.ArrayBuffer.empty[Array[Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Array(e.taskInfo.launchTime.toDouble,
      e.taskInfo.finishTime.toDouble, m.executorCpuTime / 1e9,
      m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten.toDouble,
      m.shuffleReadMetrics.totalBytesRead.toDouble,
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      m.outputMetrics.bytesWritten.toDouble)
  }
}

/** Catalyst phases (analysis, optimization, planning) of every executed
  * query, with their own start and end times.
  */
final class PlanPhases extends QueryExecutionListener {
  /** phase, start ms, end ms */
  val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, s) =>
      phases += ((name, s.startTimeMs, s.endTimeMs))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    add(qe)
}

/** Minimal JSON writer for the run's dump file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
