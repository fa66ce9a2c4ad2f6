package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextOps
import graft.ml.{SentimentModel, SentimentScorer}
import graft.streaming.StreamPipeline

import Common._

/** `backlog`: a seeded backlog of envelope files drained in a closed
  * loop by `runIncremental` (AvailableNow) into the JSON file sink with
  * a checkpoint, the catch-up / nightly-ingest shape. Every drain
  * starts from a fresh checkpoint and sink, so each one processes the
  * whole backlog; an incremental run of one new file follows it. */
final class Backlog(env: Env, files: Int, docsPerFile: Int) extends Leg {
  val name = "backlog"
  private val root = s"${env.work}/backlog"
  private val in = s"$root/in"
  private val warmIn = s"$root/warm-in"
  private var stats: TweetGen.GenStats = _
  private var gen: TweetGen = _

  /** The JSON sink's rows, read back with a fixed schema. */
  val OutSchema: StructType = StructType(Seq(
    StructField("message", StringType), StructField("cleaned_data", ArrayType(StringType)),
    StructField("prediction", DoubleType), StructField("created_at", StringType)))

  private var warmStats: TweetGen.GenStats = _

  def prepare(spark: SparkSession, g: TweetGen, full: Boolean): Unit = {
    rmrf(root)
    gen = g
    if (full) stats = generate(g, in, TweetGen.Backlog, files, docsPerFile, env.cpus)
    warmStats = generate(g, warmIn, TweetGen.WarmBacklog, math.max(1, files / 4), docsPerFile, env.cpus)
  }

  def inputContext: Seq[(String, Any)] = Option(stats).getOrElse(warmStats).toMap

  /** One AvailableNow drain of `dir` into a fresh sink; seconds. */
  def drain(spark: SparkSession, scorer: SentimentScorer, dir: String, out: String): Double = {
    val src = spark.readStream.format("graft-envelope").load(dir)
    seconds(StreamPipeline.runIncremental(src, scorer,
      df => StreamPipeline.toJsonFiles(df, out, out + "-checkpoint")))._2
  }

  /** Rows the sink committed, read through its `_spark_metadata` log. */
  def committed(spark: SparkSession, out: String): Long =
    spark.read.schema(OutSchema).json(out).count()

  /** One drain of the backlog and [[Backlog.WarmCatchUps]] catch-ups
    * after it (the catch-up's driver-side path runs only once per
    * drain, so it needs more rounds to warm). */
  def warm(spark: SparkSession, scorer: SentimentScorer, rep: Int): Unit = {
    val copy = linkCopy(if (stats != null) in else warmIn, s"$root/warm-in-$rep")
    val out = s"$root/warm-out-$rep"
    drain(spark, scorer, copy, out)
    for (k <- 0 until Backlog.WarmCatchUps) {
      publish(copy, s"inc-$k.json", gen.file(TweetGen.WarmBacklog, 100000 + rep * 10 + k, Backlog.IncrementDocs).bytes)
      drain(spark, scorer, copy, out)
    }
    rmrf(copy); rmrf(out); rmrf(out + "-checkpoint")
  }

  /** Drains of `dir` until `budgetS` has passed (at least
    * `minDrains`). Each drain reads its own hard-linked copy of the
    * backlog into a fresh sink and checkpoint. Then one new file of
    * [[Backlog.IncrementDocs]] documents lands in the copy, and a
    * second AvailableNow run over the same checkpoint commits just
    * that file: the incremental catch-up. Checks each drain's
    * committed rows and the scorer on the last one. Returns the drain
    * and catch-up times, seconds. */
  private def drains(spark: SparkSession, scorer: SentimentScorer, model: SentimentModel,
                     report: Report, budgetS: Double, minDrains: Int, tag: String,
                     dir: String = in, expected: Long = stats.wellFormed): (Seq[Double], Seq[Double]) = {
    val deadline = System.nanoTime() + (budgetS * 1e9).toLong
    val full, inc = Seq.newBuilder[Double]
    val expect = Seq.newBuilder[Long]
    var i = 0
    while (i < minDrains || System.nanoTime() < deadline) {
      val copy = linkCopy(dir, s"$root/$tag-in-$i")
      val out = s"$root/$tag-out-$i"
      full += env.spans("backlog.drain", "tag" -> tag, "i" -> i)(drain(spark, scorer, copy, out))
      val f = gen.file(TweetGen.Increment, i, Backlog.IncrementDocs)
      publish(copy, f"inc-$i%05d.json", f.bytes)
      inc += env.spans("backlog.catch_up", "tag" -> tag, "i" -> i)(drain(spark, scorer, copy, out))
      expect += expected + f.stats.wellFormed
      i += 1
    }
    lastOut = s"$root/$tag-out-${i - 1}"
    val (n, bad) = scorerCheck(model, spark.read.schema(OutSchema).json(lastOut), 2000)
    report.check(s"backlog.$tag.scorer", n > 0 && bad == 0, s"$bad of $n sampled rows differ from the interpreted path")
    for ((want, j) <- expect.result().zipWithIndex) {
      val out = s"$root/$tag-out-$j"
      val got = committed(spark, out)
      report.ops(want, math.abs(got - want))
      report.check(s"backlog.$tag.committed.$j", got == want,
        s"committed $got rows, generated $want well-formed")
      rmrf(s"$root/$tag-in-$j")
      if (j < i - 1) { rmrf(out); rmrf(out + "-checkpoint") }
    }
    (full.result(), inc.result())
  }
  private var lastOut: String = _

  /** A directory of hard links to the files of `src`. */
  private def linkCopy(src: String, dst: String): String = {
    mkdirs(dst)
    new File(src).listFiles().filterNot(_.getName.startsWith(".")).foreach { f =>
      Files.createLink(Paths.get(dst, f.getName), f.toPath)
    }
    dst
  }

  def measure(spark: SparkSession, scorer: SentimentScorer, model: SentimentModel,
              report: Report, budgetS: Double): Unit = {
    val (full, inc) = drains(spark, scorer, model, report, budgetS, 4, "run")
    // the first round still warms up: it is checked, not timed
    report.metric("throughput_per_s", Stats.median(full.tail.map(stats.wellFormed / _)), "1/s")
    report.metric("latency_p50_ms", Stats.median(inc.tail) * 1e3, "ms")
    report.context("drain_s") = full
    report.context("catch_up_s") = inc
  }

  /** Traced: drains without and with listeners, alternating so JIT
    * warm-up favours neither (the difference in drain time is the
    * tracing overhead; the tail is of the catch-up times),
    * then the serving chain layer by layer over the same backlog, and
    * the sink's output size. A fill-in run uses the quarter-size
    * warm-up backlog, once. */
  def trace(spark: SparkSession, scorer: SentimentScorer, model: SentimentModel,
            report: Report, budgetS: Double, selected: Boolean, tracer: Tracer): Unit = {
    val dir = if (selected) in else warmIn
    val expected = (if (selected) stats else warmStats).wellFormed
    val rounds = (0 until (if (selected) 2 else 1)).map { i =>
      val p = if (selected) drains(spark, scorer, model, report, 0, 1, s"plain$i") else (Nil, Nil)
      (p, tracer.traced(spark, selected)(drains(spark, scorer, model, report, 0, 1, s"traced$i", dir, expected)))
    }
    val plain = rounds.flatMap(_._1._1)
    val traced = rounds.flatMap(_._2._1)
    val drainS = Stats.median(if (selected) plain else traced)
    if (selected) {
      report.metric("tracing.overhead_share", Stats.median(traced) / drainS - 1, "share")
      report.tail(rounds.flatMap(r => r._1._2 ++ r._2._2))
    }
    val (bytes, nfiles) = dataFiles(lastOut)
    report.metric("streaming.sink_bytes", bytes.toDouble, "bytes")
    report.metric("streaming.sink_files", nfiles.toDouble, "count")
    layers(spark, scorer, report, dir, drainS, reps = if (selected) 2 else 1)
  }

  /** Each serving-chain layer's time over the whole backlog, as the
    * difference of two batch runs that share everything else:
    *  - scan: `graft-envelope` batch scan into noop;
    *  - decode: `transform` minus the scan, minus `scoreText` on the
    *    decoded messages;
    *  - clean: `cleanTokens` over the cached decoded messages;
    *  - score: `predictFromTokens` over cached tokens;
    *  - sink: `transform` written as JSON minus `transform` into noop.
    * What the drain takes beyond their sum is the residual: offset
    * and commit logs, planning, task launch. */
  private def layers(spark: SparkSession, scorer: SentimentScorer, report: Report, dir: String,
                     drainS: Double, reps: Int): Unit = {
    def t(name: String)(body: => Unit): Double =
      Stats.median((1 to reps).map(_ => env.spans(s"layer.$name")(seconds(body)._2)))
    val scan = spark.read.format("graft-envelope").load(dir).select("value")
    val scanS = t("scan")(noop(scan))
    val transformS = t("transform")(noop(StreamPipeline.transform(scan, scorer)))
    val msgs = StreamPipeline.transform(scan, scorer).select("message").cache()
    msgs.count()
    val msgsS = t("messages")(noop(msgs))
    val scoreTextS = t("score_text")(noop(scorer.scoreText(msgs, "message"))) - msgsS
    val cleanS = t("clean")(noop(msgs.select(TextOps.cleanTokens(col("message")).as("tokens")))) - msgsS
    val toks = msgs.select(TextOps.cleanTokens(col("message")).as("tokens")).cache()
    toks.count()
    val toksS = t("tokens")(noop(toks))
    val scoreS = t("score")(noop(toks.select(scorer.predictFromTokens(col("tokens"))))) - toksS
    val sinkOut = s"$root/layer-json"
    val jsonS = t("sink_json") {
      rmrf(sinkOut)
      StreamPipeline.transform(scan, scorer).write.json(sinkOut)
    } - transformS
    rmrf(sinkOut)
    val decodeS = transformS - scanS - scoreTextS
    report.metric("sources.scan_s", scanS, "s")
    report.metric("streaming.decode_s", decodeS, "s")
    report.metric("functions.clean_s", cleanS, "s")
    report.metric("ml.score_s", scoreS, "s")
    report.metric("streaming.sink_json_s", jsonS, "s")
    report.metric("serving.residual_s", drainS - (scanS + decodeS + cleanS + scoreS + jsonS), "s")
    report.metric("functions.tokens_per_doc",
      toks.select(avg(size(col("tokens")))).first().getDouble(0), "count")
    val stops = TextOps.englishStopWords.map(_.toLowerCase(java.util.Locale.ROOT)).toSeq
    val words = toks.select(explode(col("tokens")).as("term")).filter(!col("term").isin(stops: _*))
    val vocab = spark.read.parquet(s"${env.fixtures}/sentiment_vocab.parquet").select("term")
    val nonStop = words.count()
    val hits = words.join(broadcast(vocab), "term").count()
    report.metric("ml.vocab_hit_ratio", hits.toDouble / math.max(1L, nonStop), "share")
    toks.unpersist(); msgs.unpersist()
  }

  /** Single-threaded baseline: a quarter of the backlog drained on a
    * `local[1]` session (run last: it replaces the session). */
  def oneCore(gen: TweetGen, report: Report): Unit = {
    val spark = session(1, env.work)
    val (m, _) = model(spark, env.fixtures)
    val scorer = SentimentModel.scorer(spark, m)
    val dir = s"$root/one-core-in"
    val st = generate(gen, dir, TweetGen.Backlog, math.max(1, files / 4), docsPerFile, env.cpus)
    drain(spark, scorer, warmIn, s"$root/one-core-warm")
    val sec = env.spans("backlog.drain_1core")(drain(spark, scorer, dir, s"$root/one-core-out"))
    val got = committed(spark, s"$root/one-core-out")
    report.ops(st.wellFormed, math.abs(got - st.wellFormed))
    report.check("backlog.one_core.committed", got == st.wellFormed, s"committed $got of ${st.wellFormed}")
    report.metric("backlog.docs_per_s_1core", st.wellFormed / sec, "1/s")
    spark.stop()
  }
}

object Backlog {
  /** Documents in the file an incremental run picks up: about one
    * steady-state batch of the reference's recorded feed (181–223
    * rows, BASELINE.md). */
  val IncrementDocs = 200
  val WarmCatchUps = 5
}
