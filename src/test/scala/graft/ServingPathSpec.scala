package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.functions.TextOps
import graft.ml.SentimentModel
import graft.plans.BatchConstant
import graft.streaming.StreamPipeline

/** The live serving path (`StreamPipeline.run` over the envelope
  * source): a running query compiles its generated code once, the
  * envelope is parsed once per line, `created_at` is one value per
  * batch, and the foreachBatch table survives query restarts. Uses a
  * four-word model, so it runs without the reference model artifact. */
class ServingPathSpec extends AnyFunSuite with SparkSessionFixture {

  private lazy val scorer = {
    val vocab = new java.util.HashMap[String, Int]()
    Seq("good", "love", "bad", "terrible").zipWithIndex.foreach { case (w, i) => vocab.put(w, i) }
    SentimentModel.scorer(spark, SentimentModel(vocab, Array(1.0, 1.0, 1.0, 1.0),
      Array(-1.0, -1.0, 1.0, 1.0), 0.0, 0.5, Array("4", "0"), TextOps.englishStopWords))
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def envelope(s: String): String =
    s"""{"message": "${s.replace("\"", "\\\"")}"}"""

  /** Publish one envelope file the way a producer does: write a
    * hidden file, then rename it into place. */
  private def publish(dir: String, name: String, lines: Seq[String]): Unit = {
    val hidden = Paths.get(dir, s".$name")
    Files.write(hidden, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(hidden, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def serve(dir: String, sink: DataFrame => DataStreamWriter[Row]): StreamingQuery =
    StreamPipeline.run(spark.readStream.format("graft-envelope").load(dir), scorer, sink)

  /** Janino compilations so far in this JVM (codegen cache misses). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("steady-state batches compile nothing: foreachBatch parquet and JSON sinks") {
    val sinks = Seq[(String, (String, String) => DataFrame => DataStreamWriter[Row])](
      "parquet" -> ((out, ck) => df => StreamPipeline.toForeachBatchParquet(df, out, ck)),
      "json" -> ((out, ck) => df => StreamPipeline.toJsonFiles(df, out, ck)))
    val compiled = for ((name, sink) <- sinks) yield {
      val dir = tmp(s"serve_${name}_in")
      val out = tmp(s"serve_${name}_out")
      val q = serve(dir, sink(out, tmp(s"serve_${name}_ck")))
      val steady = try {
        def batch(i: Int): Unit = {
          publish(dir, f"ev-$i%03d.json", Seq(envelope(s"a good day number $i"), envelope("so bad")))
          q.processAllAvailable()
        }
        // the first batches plan the query and compile its classes
        (0 until 3).foreach(batch)
        val before = compiles
        (3 until 7).foreach(batch)
        val steady = compiles - before
        // and the envelope is parsed once per line in the served plan
        val parses = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
          .flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
        assert(parses.size == 1, s"$name: ${parses.size} JSON parses in the plan")
        steady
      } finally q.stop()
      val n = if (name == "json") spark.read.json(out).count() else spark.read.parquet(out).count()
      assert(n == 14L, s"$name: $n rows")
      name -> steady
    }
    assert(compiled.forall(_._2 == 0L),
      s"compilations in 4 steady-state batches: ${compiled.mkString(", ")}")
  }

  test("created_at is one value per batch, advances between batches, keeps its format") {
    val dir = tmp("created_in")
    val out = tmp("created_out")
    val q = serve(dir, df => StreamPipeline.toForeachBatchParquet(df, out, tmp("created_ck")))
    try {
      for (i <- 0 until 2) {
        if (i > 0) Thread.sleep(1100) // the format resolves seconds
        publish(dir, s"ev-$i.json", (0 until 50).map(j => envelope(s"doc $j of batch $i")))
        q.processAllAvailable()
      }
    } finally q.stop()
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("EEE MMM dd HH:mm:ss zzz yyyy", java.util.Locale.US)
    val perBatch = spark.read.parquet(out).groupBy("batch_id")
      .agg(collect_set("created_at").as("at"), count(lit(1)).as("n"))
      .orderBy("batch_id").collect()
      .map(r => (r.getAs[Long]("n"), r.getSeq[String](1)))
    assert(perBatch.map(_._1).toSeq == Seq(50L, 50L))
    assert(perBatch.forall(_._2.size == 1), perBatch.map(_._2).mkString("; "))
    val at = perBatch.map(b => java.time.ZonedDateTime.parse(b._2.head, fmt).toInstant)
    assert(at(0).isBefore(at(1)), at.mkString(" vs "))
    assert(math.abs(at(1).toEpochMilli - System.currentTimeMillis()) < 60000L)
    assert(perBatch.head._2.head.matches("""[A-Z][a-z]{2} [A-Z][a-z]{2} \d{2} \d{2}:\d{2}:\d{2} UTC \d{4}"""))
  }

  test("BatchConstant: codegen, fused or not, == interpreted == the literal; the stage stays fused") {
    val ts = java.sql.Timestamp.valueOf("2026-03-01 12:34:56")
    val values = Seq(lit("grüße 😀"), lit(42), lit(Long.MinValue), lit(Long.MaxValue),
      lit(-0.5), lit(true), lit(null).cast("string"), lit(null).cast("int"),
      array(lit("a"), lit(null).cast("string")),
      date_format(lit(ts), "EEE MMM dd HH:mm:ss zzz yyyy"))
    def run(): (Seq[Row], Boolean) = {
      val df = spark.range(0, 3000, 1, 4).select(
        (col("id") +: values.zipWithIndex.map { case (v, i) => BatchConstant.of(v).as(s"c$i") }): _*)
      val fused = df.queryExecution.executedPlan.collect { case s: WholeStageCodegenExec => s }
        .exists(_.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[BatchConstant]))))
      (df.collect().toSeq.sortBy(_.getLong(0)), fused)
    }
    def withConf[T](kv: (String, String)*)(body: => T): T = {
      val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    // constant folding would turn a literal child into a plain literal
    val noFold = "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
    val (codegen, fused) = withConf(noFold,
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.wholeStage" -> "true")(run())
    // a generated projection outside whole-stage codegen
    val (projected, _) = withConf(noFold,
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.wholeStage" -> "false")(run())
    val (interpreted, _) = withConf(noFold,
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false")(run())
    assert(fused, "the BatchConstant projection left whole-stage codegen")
    assert(codegen.size == 3000)
    assert(codegen == interpreted && projected == interpreted)
    val twin = spark.range(1).select(values: _*).head().toSeq
    assert(codegen.forall(_.toSeq.tail == twin))
    // a foldable child still folds: batch plans get a plain literal
    val folded = spark.range(1).select(BatchConstant.of(lit("x")))
      .queryExecution.optimizedPlan.expressions.flatMap(_.collect { case b: BatchConstant => b })
    assert(folded.isEmpty)
  }

  test("envelope decode parses once and equals the two-parse spelling on adversarial lines") {
    import spark.implicits._
    val lines = Seq(
      """{"message": "plain text"}""",
      "not json at all",
      """{"other": "missing key"}""",
      """{"message": null}""",
      """{"message": 42}""",
      """{"message": -4.5e3}""",
      """{"message": true}""",
      """{"message": {"nested": [1, 2]}}""",
      """{"message": ["a", "b"]}""",
      """[{"message": "first"}, {"message": "second"}]""",
      """[]""",
      """{"message": "kept", "extra": 1}""",
      """{"message": "a", "message": "b"}""",
      "",
      "   ",
      "null",
      "\"a bare string\"",
      """{"message": "truncated""",
      """{"message": "non-BMP 😀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 😀"}""",
      """{"message": ""}""",
      """  {"message": "padded"}  """,
      """{"MESSAGE": "case differs"}""",
      """{"message": "escapes \" \\ é \n"}""",
      """{"message": "trailing"} garbage""")
    def twoParse(df: DataFrame): DataFrame = df
      .select(col("value").cast("string").as("raw"))
      .withColumn("value", from_json(col("raw"), StreamPipeline.EnvelopeSchema))
      .select(col("value.message").as("message"))
      .na.drop()
    val asString = lines.toDF("value")
    val asBinary = asString.select(col("value").cast("binary").as("value"))
    for (df <- Seq(asString, asBinary)) {
      val got = StreamPipeline.decode(df)
      val want = twoParse(df)
      assert(got.schema == want.schema)
      assert(got.count() == want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"${got.collect().toSeq} vs ${want.collect().toSeq}")
    }
    assert(StreamPipeline.decode(asString).collect().map(_.getString(0)).toSet
      .contains("non-BMP 😀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 😀"))
    val parses = StreamPipeline.transform(asString, scorer).queryExecution.executedPlan
      .flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
    assert(parses.size == 1, s"${parses.size} JSON parses in the plan")
  }

  test("foreachBatch table: restarted queries and a replayed batch keep every row exactly once") {
    val dir = tmp("restart_in")
    val out = tmp("restart_out")
    val ck = tmp("restart_ck")
    def docs(tag: String, n: Int) = (0 until n).map(i => s"$tag doc $i is good")
    def runQuery(body: StreamingQuery => Unit): Unit = {
      val q = serve(dir, df => StreamPipeline.toForeachBatchParquet(df, out, ck))
      try { q.processAllAvailable(); body(q) } finally q.stop()
    }
    publish(dir, "a.json", docs("a", 3).map(envelope))
    runQuery { q =>
      publish(dir, "b.json", docs("b", 2).map(envelope))
      q.processAllAvailable()
    }
    // a new writer over the existing table (batch 2 onwards)
    publish(dir, "c.json", docs("c", 4).map(envelope))
    runQuery(_ => ())
    // a crash after the batch's write but before its commit: batch 2
    // replays into its own leaf, and the new file follows
    for (f <- Seq("2", ".2.crc")) Files.deleteIfExists(Paths.get(ck, "commits", f))
    publish(dir, "d.json", docs("d", 1).map(envelope))
    runQuery(_ => ())
    val rows = spark.read.parquet(out).select("message", "batch_id").collect()
    val messages = rows.map(_.getString(0)).toSeq
    assert(messages.sorted == (docs("a", 3) ++ docs("b", 2) ++ docs("c", 4) ++ docs("d", 1)).sorted)
    assert(rows.map(_.getInt(1)).distinct.sorted.toSeq == Seq(0, 1, 2, 3))
  }
}
