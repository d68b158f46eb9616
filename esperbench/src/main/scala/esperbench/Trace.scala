package esperbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans and Spark counters for the traced run.
  *
  * A span is (op id, parent span, name, start, end) in nanoseconds,
  * recorded around each call the benchmark makes into a layer; spans
  * stay in memory until the run writes them out. With tracing off only
  * the op spans themselves are kept (they are the op latencies).
  *
  * Spark work is attributed to ops through the job group, which is set
  * to the op id for the op's duration; the job description carries the
  * phase (`queries.build`, `sql.plan`, `exec.run`), so jobs started
  * while a query is being constructed are counted apart. */
final class Trace(val enabled: Boolean) {
  import Trace.Span
  val spans = mutable.ArrayBuffer[Span]()
  private var current = -1

  /** Time `body` as a span named `name` under the enclosing span. Always
    * recorded when `always` (op and setup spans); otherwise only when
    * tracing is on. */
  def span[T](name: String, op: Int = -1, always: Boolean = false)(body: => T): T = {
    val parent = current
    val id = spans.size
    val keep = enabled || always
    if (keep) {
      spans += Span(id, parent, op, name, 0L, 0L)
      current = id
    }
    val t0 = System.nanoTime()
    try body
    finally {
      if (keep) {
        spans(id) = spans(id).copy(start = t0, end = System.nanoTime())
        current = parent
      }
    }
  }

  def seconds(name: String): Seq[Double] = spans.collect { case s if s.name == name => s.seconds }.toSeq

  /** Set the job group (op id) and description (phase) for jobs the
    * current thread starts next. */
  def phase(sc: SparkContext, op: Int, name: String): Unit =
    if (enabled) sc.setJobGroup(op.toString, name, interruptOnCancel = false)

  def endOp(sc: SparkContext): Unit = if (enabled) sc.clearJobGroup()
}

object Trace {
  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }
}

/** Per-op Spark counters, keyed by job group (= op id). */
final class Counters extends SparkListener {
  final class Acc {
    var jobs, buildJobs, stages, tasks = 0L
    var runMs, cpuNs, shuffleWrite, shuffleRead, input, spill = 0L
  }
  val byOp = mutable.Map[Int, Acc]()
  private val stageOp = mutable.Map[Int, Int]()

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      val a = byOp.getOrElseUpdate(op, new Acc)
      a.jobs += 1
      if (e.properties.getProperty("spark.job.description") == "queries.build")
        a.buildJobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => byOp(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = byOp(op)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.input += m.inputMetrics.bytesRead
      a.spill += m.diskBytesSpilled
    }
  }
}
