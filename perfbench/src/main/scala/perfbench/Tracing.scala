package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's own calls into each layer. Disabled,
  * a span only runs its body; enabled, it records wall-clock start
  * and duration, written out as one JSON line per span. */
final class Spans(val enabled: Boolean) {
  import Spans.Span
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Time `body` as a span; the span open on this thread around it is
    * its parent. */
  def apply[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0L)
      open.set(id :: open.get)
      val wall = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        buf.add(Span(id, parent, name, wall, System.nanoTime() - t0, attrs))
        open.set(open.get.tail)
      }
    }

  def write(path: String): Unit = {
    val lines = buf.asScala.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "dur_ms" -> s.durNs / 1e6) ++ s.attrs)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Spans {
  private final case class Span(id: Long, parent: Long, name: String, startMs: Long, durNs: Long,
                                attrs: Seq[(String, Any)])
}

/** Task-level totals from the scheduler, read as differences between
  * snapshots around a region. */
final class TaskTotals extends SparkListener {
  private val tasks = new AtomicLong
  private val runMs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(spark: SparkSession): TaskTotals.Snap = {
    PerfbenchBus.drain(spark.sparkContext)
    TaskTotals.Snap(tasks.get, runMs.get / 1e3, gcMs.get / 1e3, shuffleWrite.get, spill.get)
  }
}

object TaskTotals {
  final case class Snap(tasks: Long, taskS: Double, gcS: Double, shuffleWriteBytes: Long, spillBytes: Long) {
    def -(o: Snap): Snap = this + Snap(-o.tasks, -o.taskS, -o.gcS, -o.shuffleWriteBytes, -o.spillBytes)
    def +(o: Snap): Snap = Snap(tasks + o.tasks, taskS + o.taskS, gcS + o.gcS,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
  }
}

/** Keeps the last successful query execution, so its final adaptive
  * plan can be inspected after a write returns. */
final class LastExecution extends QueryExecutionListener {
  @volatile var last: QueryExecution = _
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = last = qe
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Plans {
  /** Shuffle exchanges that ran in `plan`: adaptive plans are read
    * through their final plan and query stages, reused exchanges are
    * not counted again, subqueries are included. */
  def shuffleExchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => shuffleExchanges(a.executedPlan)
    case s: QueryStageExec => shuffleExchanges(s.plan)
    case c: CommandResultExec => shuffleExchanges(c.commandPhysicalPlan)
    case p =>
      (if (p.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
        (p.children ++ p.subqueries).map(shuffleExchanges).sum
  }
}

/** Every streaming progress event, in arrival order. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = buf.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = buf.asScala.toSeq
  def clear(): Unit = buf.clear()
}

/** JSON objects with their fields in the given order (json4s, as
  * shipped with Spark). */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def obj(kv: Iterable[(String, Any)]): String =
    org.json4s.jackson.Serialization.write(scala.collection.immutable.ListMap(kv.toSeq: _*))
}
