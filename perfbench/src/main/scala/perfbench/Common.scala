package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.ml.{SentimentModel, SentimentScorer}

/** What one run reports: metrics by name with unit, operation counts,
  * output checks and host context. Written as one JSON object that
  * `run.py` turns into the benchmark's last line. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val context = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }
  def ops(attempt: Long, fail: Long): Unit = { attempted += attempt; failed += fail }

  /** `latency_tail_ms` from latency samples in seconds, by the tail
    * rule, with the percentile it fell back to and the sample count. */
  def tail(latencyS: Seq[Double]): Unit = {
    val t = Stats.tailOrMax(latencyS.map(_ * 1e3))
    metric("latency_tail_ms", t.value, "ms")
    context("latency_tail_ms") = Map("percentile" -> t.pct, "samples" -> t.n)
  }
  def correct: Boolean = checks.forall(_._2)

  def json: String = {
    import scala.collection.immutable.ListMap
    Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.toSeq.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*),
      "checks" -> checks.map { case (n, ok, d) => ListMap("name" -> n, "ok" -> ok, "detail" -> d) }.toList,
      "context" -> ListMap(context.toSeq: _*)))
  }
}

/** Settings every leg shares. */
final case class Env(cpus: Int, work: String, fixtures: String, seed: Long, spans: Spans)

object Common {

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def rmrf(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(del))
      f.delete()
    }
    del(new File(path))
  }

  def mkdirs(path: String): String = { new File(path).mkdirs(); path }

  /** Bytes and count of the data files under `dir` (hidden and
    * underscore-prefixed metadata excluded). */
  def dataFiles(dir: String): (Long, Int) = {
    val fs = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
    fs.foldLeft((0L, 0)) { case ((b, n), f) =>
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) (b, n)
      else if (f.isDirectory) { val (b2, n2) = dataFiles(f.getPath); (b + b2, n + n2) }
      else (b + f.length(), n + 1)
    }
  }

  /** Write-then-rename, so a tailing source never sees a partial file
    * (the envelope source skips dot-files). */
  def publish(dir: String, name: String, bytes: Array[Byte]): Unit = {
    stage(dir, name, bytes)
    reveal(dir, name)
  }

  /** The two halves of [[publish]], for files that should appear
    * together: write them all with `stage`, then `reveal` each. */
  def stage(dir: String, name: String, bytes: Array[Byte]): Unit =
    Files.write(Paths.get(dir, "." + name + ".tmp"), bytes)
  def reveal(dir: String, name: String): Unit =
    Files.move(Paths.get(dir, "." + name + ".tmp"), Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)

  /** Generate `files` envelope files of `docs` lines each into `dir`,
    * on at most `threads` threads. Returns the summed input stats. */
  def generate(gen: TweetGen, dir: String, stream: Int, files: Int, docs: Int,
               threads: Int): TweetGen.GenStats = {
    mkdirs(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(threads, files)))
    try {
      val futs = (0 until files).map { i =>
        pool.submit(new java.util.concurrent.Callable[TweetGen.GenStats] {
          def call(): TweetGen.GenStats = {
            val f = gen.file(stream, i, docs)
            publish(dir, f"part-$i%05d.json", f.bytes)
            f.stats
          }
        })
      }
      val total = new TweetGen.GenStats
      futs.foreach(f => total.add(f.get()))
      total
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** The scorer built from the committed model fixture: vocabulary,
    * idf and coefficients by index, intercept and decision threshold,
    * the reference's label order and English stop words. */
  def model(spark: SparkSession, fixtures: String): (SentimentModel, Array[String]) = {
    val rows = spark.read.parquet(s"$fixtures/sentiment_vocab.parquet")
      .select("term", "idx", "idf", "coef").collect()
    val n = rows.length
    val terms = new Array[String](n)
    val idf = new Array[Double](n)
    val coef = new Array[Double](n)
    val vocab = new java.util.HashMap[String, Int](n * 2)
    rows.foreach { r =>
      val i = r.getAs[Number](1).intValue
      terms(i) = r.getString(0)
      idf(i) = r.getDouble(2)
      coef(i) = r.getDouble(3)
      vocab.put(terms(i), i)
    }
    val meta = spark.read.parquet(s"$fixtures/sentiment_meta.parquet").first()
    val logit = meta.getAs[Double]("logit_threshold")
    val m = SentimentModel(vocab, idf, coef, meta.getAs[Double]("intercept"),
      1.0 / (1.0 + math.exp(-logit)), Array("4", "0"), TextOps.englishStopWords)
    (m, terms)
  }

  /** Compare the pipeline's codegen'd output against the interpreted
    * path on a sample: tokens against the regex reference spelling of
    * the cleaner, predictions against `SentimentModel.predict`.
    * `scored` has `message`, `cleaned_data` and `prediction`.
    * Returns (rows checked, mismatches). */
  def scorerCheck(model: SentimentModel, scored: DataFrame, sample: Int): (Int, Int) = {
    val rows = scored
      .select(col("message"), col("cleaned_data"), col("prediction"),
        TextOps.cleanTokensReference(col("message")).as("reference_tokens"))
      .limit(sample).collect()
    val bad = rows.count { r =>
      val toks = r.getSeq[String](1)
      val expect = model.predict(toks.filterNot(TextOps.isStopWord))
      toks != r.getSeq[String](3) || r.getDouble(2) != expect
    }
    (rows.length, bad)
  }

  /** Linux resident-set high-water mark of this JVM, MiB. */
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:") / 1024.0

  /** First number after `key` in a /proc file (kB fields), or NaN. */
  def procField(path: String, key: String): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().find(_.startsWith(key)).get.split("\\s+")(1).toDouble
      finally src.close()
    }.getOrElse(Double.NaN)

  def loadAvg(): String =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ").take(3).mkString(" ") finally src.close()
    }.getOrElse("")
}
