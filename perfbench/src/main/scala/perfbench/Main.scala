package perfbench

import org.apache.spark.sql.SparkSession

import graft.ml.{SentimentModel, SentimentScorer}
import graft.streaming.StreamPipeline

import Common._

/** One benchmark run: `--workload <backlog|live|queries> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --fixtures <dir>
  * --result <file>`. Normally started by `run.py`, which builds the
  * classes, passes the checkout's directories and turns the result
  * file into the benchmark's output line.
  *
  * Untraced runs report the end-to-end metrics of the workload.
  * Traced runs report the per-layer metrics: the selected workload is
  * measured without and with tracing, and the other workloads run
  * briefly so every layer is measured in every traced run. */
object Main {
  /** Set-ups per untraced run; `setup_s` is their median. A traced
    * run, which does not report `setup_s`, sets up once. */
  val SetupReps = 3
  /** Budget for the workloads a traced run adds to fill in layers. */
  val OtherLegBudgetS = 3.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val budgetS = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val env = Env(cpus, work, opts("fixtures"), seed, new Spans(trace))
    val legs: Seq[Leg] = Seq(
      new Backlog(env, files = 12, docsPerFile = 10000),
      new Live(env, periodMs = 500, docsPerFile = 46, burstFiles = 8, burstDocsPerFile = 2500, limitMs = 5000),
      new QuerySet(env, sf = 0.05, warmSf = 0.002))
    val leg = legs.find(_.name == workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $workload"))

    val report = new Report
    report.context("workload") = workload
    report.context("seed") = seed
    report.context("trace") = trace
    report.context("nproc") = Runtime.getRuntime.availableProcessors
    report.context("spark_cpus") = cpus
    report.context("mem_total_mb") = procField("/proc/meminfo", "MemTotal:") / 1024
    report.context("mem_available_mb_pre") = procField("/proc/meminfo", "MemAvailable:") / 1024
    report.context("loadavg_pre") = loadAvg()
    report.context("page_touch_gibps_pre") = graft.BenchCanary.pageTouchGibps()

    var spark: SparkSession = null
    var model: SentimentModel = null
    var scorer: SentimentScorer = null
    var gen: TweetGen = null
    val setupS, buildS = Seq.newBuilder[Double]
    for (rep <- 0 until (if (trace) 1 else SetupReps)) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      val ((m, terms), build) = seconds(Common.model(spark, env.fixtures))
      model = m
      scorer = SentimentModel.scorer(spark, m)
      buildS += build
      // inputs are made once, inside the first set-up but not charged to it
      val excluded = if (rep > 0) 0.0 else {
        gen = new TweetGen(terms, seed)
        seconds(leg.prepare(spark, gen, full = true))._2
      }
      env.spans("setup.warm", "rep" -> rep)(leg.warm(spark, scorer, rep))
      setupS += (System.nanoTime() - t0) / 1e9 - excluded
    }
    report.context("setup_s") = setupS.result()

    // codegen'd scoring against the interpreted model, on every run
    val sample = new String(gen.file(TweetGen.WarmBacklog, 9999, 2000).bytes, "UTF-8").split("\n").toSeq
    val (checked, bad) = scorerCheck(model,
      StreamPipeline.transform(spark.createDataFrame(sample.map(Tuple1(_))).toDF("value"), scorer), 2000)
    report.check("scorer.sample", checked > 0 && bad == 0, s"$bad of $checked rows differ from the interpreted path")

    if (!trace) {
      report.metric("setup_s", Stats.median(setupS.result()), "s")
      leg.measure(spark, scorer, model, report, budgetS)
    } else {
      val tracer = new Tracer
      // a traced run sets up once; two more builds give a warm median
      for (_ <- 1 to 2) buildS += seconds(Common.model(spark, env.fixtures))._2
      report.metric("ml.model_build_s", Stats.median(buildS.result()), "s")
      leg.trace(spark, scorer, model, report, budgetS, selected = true, tracer)
      report.metric("spark.task_s", tracer.selectedTasks.taskS, "s")
      report.metric("spark.gc_s", tracer.selectedGcS, "s")
      report.metric("spark.tasks", tracer.selectedTasks.tasks.toDouble, "count")
      for (other <- legs if other ne leg) {
        other.prepare(spark, gen, full = false)
        other.warm(spark, scorer, 0)
        other.trace(spark, scorer, model, report, OtherLegBudgetS, selected = false, tracer)
      }
      spark.stop()
      legs.collectFirst { case b: Backlog => b }.get.oneCore(gen, report)
      report.metric("peak_rss_mb", peakRssMb(), "MB")
      env.spans.write(s"$work/spans.jsonl")
      report.context("spans") = s"$work/spans.jsonl"
    }
    if (!trace) spark.stop()
    report.context("input") = scala.collection.immutable.ListMap(leg.inputContext: _*)
    report.context("page_touch_gibps_post") = graft.BenchCanary.pageTouchGibps()
    report.context("loadavg_post") = loadAvg()
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("result")), report.json.getBytes("UTF-8"))
  }
}
