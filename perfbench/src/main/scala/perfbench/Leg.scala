package perfbench

import org.apache.spark.sql.SparkSession

import graft.ml.{SentimentModel, SentimentScorer}

/** One workload of the benchmark. */
trait Leg {
  def name: String
  /** Make the inputs (not timed as set-up). `full` is false when the
    * leg only fills in layers of another workload's traced run. */
  def prepare(spark: SparkSession, gen: TweetGen, full: Boolean): Unit
  /** Seeded input properties, recorded as context. */
  def inputContext: Seq[(String, Any)]
  /** Warm-up, part of every set-up. */
  def warm(spark: SparkSession, scorer: SentimentScorer, rep: Int): Unit
  /** Untraced measurement: the end-to-end metrics. */
  def measure(spark: SparkSession, scorer: SentimentScorer, model: SentimentModel,
              report: Report, budgetS: Double): Unit
  /** Traced measurement: this leg's per-layer metrics. `selected` is
    * false when the leg only fills in its layers for another
    * workload's traced run; it then runs traced only, briefly, and
    * reports no tracing overhead. */
  def trace(spark: SparkSession, scorer: SentimentScorer, model: SentimentModel,
            report: Report, budgetS: Double, selected: Boolean, tracer: Tracer): Unit
}

/** Listeners that exist only in traced runs: scheduler task totals,
  * the last query execution (for its plan) and `PhaseLog`. Task totals
  * and JVM GC time of the selected workload's traced regions add up in
  * `selectedTasks` and `selectedGcS`. */
final class Tracer {
  val totals = new TaskTotals
  val lastExecution = new LastExecution
  var selectedTasks = TaskTotals.Snap(0, 0, 0, 0, 0)
  var selectedGcS = 0.0

  private def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def traced[T](spark: SparkSession, selected: Boolean)(body: => T): T = {
    spark.sparkContext.addSparkListener(totals)
    spark.listenerManager.register(lastExecution)
    graft.PhaseLog.enabled = true
    graft.PhaseLog.drain()
    try {
      val s0 = totals.snapshot(spark)
      val gc0 = gcS()
      val r = body
      if (selected) {
        selectedTasks = selectedTasks + (totals.snapshot(spark) - s0)
        selectedGcS += gcS() - gc0
      }
      r
    } finally {
      graft.PhaseLog.enabled = false
      spark.listenerManager.unregister(lastExecution)
      spark.sparkContext.removeSparkListener(totals)
    }
  }
}
