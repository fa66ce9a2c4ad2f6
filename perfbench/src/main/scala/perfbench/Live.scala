package perfbench

import java.util.concurrent.locks.LockSupport

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.ml.{SentimentModel, SentimentScorer}
import graft.streaming.StreamPipeline

import Common._
import Live.Run

/** `live`: an open-loop generator publishes envelope files by
  * write-then-rename at a fixed rate while `StreamPipeline.run`
  * (default trigger) tails the directory into the foreachBatch
  * parquet sink. Each file is one event; its latency runs from the
  * time it was due to the commit of the batch that holds it.
  *
  * The paced phase offers the reference's recorded feed rate (about
  * 92 documents a second, BASELINE.md) as one file every `periodMs`.
  * While the stream keeps up, each file lands in a batch of its own,
  * so the latency reads the per-batch cost rather than a queue's
  * equilibrium. The burst phase then publishes `burstFiles` files at
  * once, waits for them to commit and repeats: the committed
  * documents per second of a burst are what the foreachBatch path
  * sustains, which the paced rate cannot show. */
/** A published file: its name, when it was due and when it became
  * visible (epoch ms), the well-formed documents it holds, and the
  * burst it belongs to (-1 for a paced file). */
final case class Published(name: String, dueMs: Long, publishMs: Long, docs: Long, burst: Int)

final class Live(env: Env, periodMs: Int, docsPerFile: Int, burstFiles: Int, burstDocsPerFile: Int,
                 limitMs: Long) extends Leg {
  val name = "live"
  private val root = s"${env.work}/live"
  private var gen: TweetGen = _
  private var stats = new TweetGen.GenStats

  def prepare(spark: SparkSession, g: TweetGen, full: Boolean): Unit = { rmrf(root); gen = g }

  def inputContext: Seq[(String, Any)] =
    stats.toMap ++ Seq("period_ms" -> periodMs, "docs_per_file" -> docsPerFile,
      "burst_files" -> burstFiles, "burst_docs_per_file" -> burstDocsPerFile, "limit_ms" -> limitMs)

  /** Paced files for `budgetS`, then bursts (at least two), so a run
    * sees both phases. */
  private def split(budgetS: Double): (Int, Int) =
    (math.max(1, (budgetS * Live.PacedShare * 1e3 / periodMs).round.toInt),
      math.max(2, (budgetS * (1 - Live.PacedShare) / Live.BurstS).round.toInt))

  /** Publish `paced` files at the fixed rate, then `bursts` bursts,
    * into a fresh directory tailed by a fresh query; wait for every
    * file to commit (or the latency limit to pass), then stop the
    * query. */
  def stream(spark: SparkSession, scorer: SentimentScorer, genStream: Int, tag: String,
             paced: Int, bursts: Int, progress: ProgressLog): Run = {
    val dir = mkdirs(s"$root/$tag-in")
    val out = s"$root/$tag-out"
    val ckpt = s"$root/$tag-checkpoint"
    val sizes = Seq.fill(paced)(docsPerFile) ++ Seq.fill(bursts * burstFiles)(burstDocsPerFile)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(env.cpus)
    val files = try {
      sizes.zipWithIndex.map { case (docs, i) => pool.submit(new java.util.concurrent.Callable[TweetGen.GenFile] {
        def call(): TweetGen.GenFile = gen.file(genStream, i, docs)
      }) }.map(_.get())
    } finally pool.shutdown()
    val expected = files.map(_.stats.wellFormed).sum
    def fileName(i: Int) = f"ev-$i%06d.json"
    progress.clear()
    def delivered: Set[String] = progress.all.flatMap(p => offsetFiles(p.sources.head.endOffset))
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    def await(names: Set[String]): Unit = {
      val deadline = System.currentTimeMillis() + limitMs + 10000
      while (!names.subsetOf(delivered) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    }
    val q = env.spans("live.start", "tag" -> tag)(StreamPipeline.run(
      spark.readStream.format("graft-envelope").load(dir), scorer,
      df => StreamPipeline.toForeachBatchParquet(df, out, ckpt)))
    val published = try {
      // the first (empty) trigger plans the query; events start after it
      val started = System.nanoTime()
      while (q.lastProgress == null && System.nanoTime() - started < 60e9) Thread.sleep(5)
      val pacedFiles = env.spans("live.publish", "tag" -> tag, "files" -> paced) {
        val wall0 = System.currentTimeMillis() + 20
        val nano0 = System.nanoTime() + 20000000L
        (0 until paced).map { i =>
          val offNs = i * periodMs * 1000000L
          val wait = nano0 + offNs - System.nanoTime()
          if (wait > 0) LockSupport.parkNanos(wait)
          publish(dir, fileName(i), files(i).bytes)
          Published(fileName(i), wall0 + offNs / 1000000L, System.currentTimeMillis(), files(i).stats.wellFormed, -1)
        }
      }
      env.spans("live.drain", "tag" -> tag)(await(pacedFiles.map(_.name).toSet))
      val burstFilesOut = (0 until bursts).flatMap { b =>
        env.spans("live.burst", "tag" -> tag, "burst" -> b) {
          // staged first, so the renames land within a listing or two
          val ids = (0 until burstFiles).map(paced + b * burstFiles + _)
          ids.foreach(i => stage(dir, fileName(i), files(i).bytes))
          val due = System.currentTimeMillis()
          val batch = ids.map { i =>
            reveal(dir, fileName(i))
            Published(fileName(i), due, System.currentTimeMillis(), files(i).stats.wellFormed, b)
          }
          await(batch.map(_.name).toSet)
          batch
        }
      }
      q.processAllAvailable()
      pacedFiles ++ burstFilesOut
    } finally env.spans("live.stop", "tag" -> tag)(q.stop())
    PerfbenchBus.drain(spark.sparkContext)
    val batches = progress.all.filter(_.numInputRows > 0)
    val att = Stats.attribute(published.map(p => p.name -> p.dueMs).toMap,
      batches.map(p => Stats.Batch(p.batchId, offsetFiles(p.sources.head.startOffset).toSet,
        offsetFiles(p.sources.head.endOffset).toSet, commitMs(p))))
    val rows = env.spans("live.count", "tag" -> tag)(scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L))
    val input = new TweetGen.GenStats
    files.foreach(f => input.add(f.stats))
    Run(published, batches, att, rows, expected, out, ckpt, input)
  }

  /** Median time of the envelope source's `latestOffset` (a listing
    * of the feed directory) over the files a stream left behind,
    * called through the public DataSource V2 interfaces. The query
    * progress reports it only in whole milliseconds. */
  private def latestOffsetMs(spark: SparkSession, dir: String): Double = {
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of("path", dir))
    val table = new graft.sources.EnvelopeSourceV2()
      .getTable(graft.sources.EnvelopeSourceV2.Schema, Array.empty, opts)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val stream = table.newScanBuilder(opts).build().toMicroBatchStream(s"$root/probe-checkpoint")
    Stats.median((1 to 50).map(_ => seconds(stream.latestOffset())._2 * 1e3))
  }

  private def offsetFiles(offsetJson: String): Seq[String] =
    if (offsetJson == null) Nil
    else {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      org.json4s.jackson.JsonMethods.parse(offsetJson).extract[Seq[String]]
    }

  private def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  private def commitMs(p: StreamingQueryProgress): Long = startMs(p) + p.durationMs.get("triggerExecution")

  /** Counts and checks shared by measured and traced streams. An
    * event is one published file. Returns the latencies (ms) of the
    * committed paced files, leaving out those due in the stream's
    * first [[Live.SettleMs]] (the first batches still plan and
    * compile), and the committed documents per second of each burst. */
  private def account(spark: SparkSession, model: SentimentModel, report: Report, r: Run,
                      tag: String): (Seq[Double], Seq[Double]) = {
    val t0 = r.published.head.dueMs
    val all = r.published.flatMap(p => r.att.latencyMs.get(p.name).map(l => (p, l.toDouble)))
    val paced = all.filter(_._1.burst < 0)
    val settled = paced.collect { case (p, l) if p.dueMs - t0 >= Live.SettleMs => l }
    val lat = if (settled.nonEmpty) settled else paced.map(_._2)
    val rates = all.filter(_._1.burst >= 0).groupBy(_._1.burst).toSeq.sortBy(_._1).collect {
      case (b, fs) if fs.size == burstFiles => fs.map(_._1.docs).sum / (fs.map(_._2).max / 1e3)
    }
    val misses = all.count(_._2 > limitMs) + r.att.missing.size + r.att.duplicated.size + r.att.unknown.size
    report.ops(r.published.size, misses)
    report.check(s"live.$tag.exactly_once", r.att.exactlyOnce,
      s"missing ${r.att.missing.size}, duplicated ${r.att.duplicated.size}, unknown ${r.att.unknown.size}")
    report.check(s"live.$tag.rows", r.committedRows == r.expectedRows,
      s"sink holds ${r.committedRows} rows, published ${r.expectedRows} well-formed")
    val (n, bad) = scorerCheck(model, spark.read.parquet(r.out), 2000)
    report.check(s"live.$tag.scorer", n > 0 && bad == 0, s"$bad of $n sampled rows differ from the interpreted path")
    report.context(s"live_${tag}_miss_share") = misses.toDouble / r.published.size
    stats = r.input
    (lat, rates)
  }

  /** Two bursts on a stream of their own: the query start, the scan,
    * the scoring chain and the parquet writer run once before timing. */
  def warm(spark: SparkSession, scorer: SentimentScorer, rep: Int): Unit = {
    val p = new ProgressLog
    spark.streams.addListener(p)
    try stream(spark, scorer, TweetGen.WarmLive, s"warm-$rep", 1, 2, p)
    finally spark.streams.removeListener(p)
  }

  def measure(spark: SparkSession, scorer: SentimentScorer, model: SentimentModel,
              report: Report, budgetS: Double): Unit = {
    val p = new ProgressLog
    spark.streams.addListener(p)
    val (paced, bursts) = split(budgetS)
    val r = try stream(spark, scorer, TweetGen.Live, "run", paced, bursts, p)
    finally spark.streams.removeListener(p)
    val (lat, rates) = account(spark, model, report, r, "run")
    report.metric("latency_p50_ms", Stats.percentile(lat, 50), "ms")
    report.metric("throughput_per_s", Stats.median(rates), "1/s")
    report.context("latency_ms") = lat
    report.context("burst_docs_per_s") = rates
    report.context("batches") = Map("count" -> r.batches.size,
      "rows_p50" -> Stats.percentile(r.batches.map(_.numInputRows.toDouble), 50),
      "detail" -> r.batches.map(b => s"${b.numInputRows}:${b.durationMs.get("triggerExecution")}:${b.durationMs.get("addBatch")}").mkString(" "))
  }

  def trace(spark: SparkSession, scorer: SentimentScorer, model: SentimentModel,
            report: Report, budgetS: Double, selected: Boolean, tracer: Tracer): Unit = {
    val p = new ProgressLog
    val (paced, bursts) = split(budgetS / 2)
    val plainP50 = if (!selected) Double.NaN else {
      spark.streams.addListener(p)
      val plain = try stream(spark, scorer, TweetGen.Live, "plain", paced, bursts, p)
      finally spark.streams.removeListener(p)
      val plainLat = account(spark, model, report, plain, "plain")._1
      report.tail(plainLat.map(_ / 1e3))
      Stats.percentile(plainLat, 50)
    }
    spark.streams.addListener(p)
    val r = try tracer.traced(spark, selected)(stream(spark, scorer, TweetGen.Live, "traced", paced, bursts, p))
    finally spark.streams.removeListener(p)
    val lat = account(spark, model, report, r, "traced")._1
    if (selected) report.metric("tracing.overhead_share", Stats.percentile(lat, 50) / plainP50 - 1, "share")
    // batch figures of the paced phase: the bursts' few large batches
    // are a different shape
    val pacedNames = r.published.filter(_.burst < 0).map(_.name).toSet
    def added(b: StreamingQueryProgress): Set[String] =
      (offsetFiles(b.sources.head.endOffset).toSet -- offsetFiles(b.sources.head.startOffset))
        .map(f => f.substring(f.lastIndexOf('/') + 1))
    val pacedBatches = r.batches.filter(b => added(b).subsetOf(pacedNames))
    def dur(key: String): Seq[Double] = pacedBatches.map(_.durationMs.get(key).doubleValue)
    val trig = dur("triggerExecution")
    val trigTail = Stats.tailOrMax(trig)
    report.metric("streaming.trigger_ms_p50", Stats.percentile(trig, 50), "ms")
    report.metric("streaming.trigger_ms_p99", trigTail.value, "ms")
    report.context("streaming.trigger_ms_p99") = Map("percentile" -> trigTail.pct, "samples" -> trigTail.n)
    report.metric("streaming.add_batch_ms_p50", Stats.percentile(dur("addBatch"), 50), "ms")
    report.metric("streaming.wal_commit_ms_p50", Stats.percentile(dur("walCommit"), 50), "ms")
    report.metric("streaming.commit_offsets_ms_p50", Stats.percentile(dur("commitOffsets"), 50), "ms")
    report.metric("streaming.query_planning_ms_p50", Stats.percentile(dur("queryPlanning"), 50), "ms")
    report.metric("sources.latest_offset_ms_p50", latestOffsetMs(spark, s"$root/traced-in"), "ms")
    report.metric("streaming.rows_per_batch_p50",
      Stats.percentile(pacedBatches.map(_.numInputRows.toDouble), 50), "count")
    report.metric("streaming.batches", r.batches.size.toDouble, "count")
    // queue wait: from an event's due time to the start of its batch
    val due = r.published.map(x => x.name -> x.dueMs).toMap
    val waits = pacedBatches.flatMap(b => added(b).toSeq.map(f => (startMs(b) - due(f)).toDouble))
    report.metric("streaming.queue_wait_ms_p50", Stats.percentile(waits, 50), "ms")
    val offsets = Option(new java.io.File(s"${r.checkpoint}/offsets").listFiles())
      .getOrElse(Array.empty).filter(_.getName.forall(_.isDigit))
    report.metric("streaming.offset_log_bytes",
      offsets.maxBy(_.getName.toLong).length().toDouble, "bytes")
    // latency drift: last third of the paced events against the first third
    val byDue = r.published.filter(_.burst < 0).flatMap(x => r.att.latencyMs.get(x.name).map(_.toDouble))
    val third = math.max(1, byDue.size / 3)
    report.metric("streaming.latency_drift",
      Stats.percentile(byDue.takeRight(third), 50) / Stats.percentile(byDue.take(third), 50), "ratio")
    val lag = r.published.filter(_.burst < 0).map(x => (x.publishMs - x.dueMs).toDouble)
    val lagTail = Stats.tailOrMax(lag)
    report.metric("loadgen.lag_p99_ms", lagTail.value, "ms")
    report.metric("loadgen.docs", r.published.map(_.docs).sum.toDouble, "count")
  }
}

object Live {
  /** What one stream run observed. */
  final case class Run(published: Seq[Published],
                       batches: Seq[StreamingQueryProgress], att: Stats.Attribution,
                       committedRows: Long, expectedRows: Long, out: String, checkpoint: String,
                       input: TweetGen.GenStats)

  /** Events due this soon after the stream's first event are checked
    * but not timed. */
  val SettleMs = 1000L
  /** Share of a run's budget given to the paced phase. */
  val PacedShare = 0.5
  /** Rough length of one burst, to size the burst phase. */
  val BurstS = 1.0
}
