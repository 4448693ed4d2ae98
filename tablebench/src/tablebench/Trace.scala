package tablebench

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Spark-wide work counters, registered only in the traced run. */
final class Counters extends SparkListener {
  private val jobs, tasks, taskTimeMs, shuffleWriteBytes, inputBytes, sqlExecutions = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskTimeMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => sqlExecutions.incrementAndGet()
    case _ =>
  }

  def read: Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "task_time_ms" -> taskTimeMs.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get, "input_bytes" -> inputBytes.get,
    "sql_executions" -> sqlExecutions.get)
}

final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** In-memory spans around the benchmark's own calls into each layer; written
  * out once, when the run ends. Disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]

  def span[T](name: String, parent: Int, op: Int)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = spans.size
      spans += Span(id, parent, op, name, System.nanoTime(), 0L)
      try body(id)
      finally spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
}
