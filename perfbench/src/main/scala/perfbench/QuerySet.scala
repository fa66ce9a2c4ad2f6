package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ml.{SentimentModel, SentimentScorer}

import Common._

/** `queries`: a fixed set of `SparkEntry.queries` over seeded
  * TPC-H-ish tables, each run into the noop sink; passes repeat for
  * the time budget. The set bypasses the serving chain. Its outputs
  * are written once more after the timed passes, together with the
  * DuckDB oracle SQL, for `run.py` to hash-compare. */
final class QuerySet(env: Env, sf: Double, warmSf: Double) extends Leg {
  val name = "queries"
  private val root = s"${env.work}/queries"
  private val data = s"$root/data"
  private val warmData = s"$root/warm-data"
  val out = s"$root/out"
  private var rows: Map[String, Long] = Map.empty

  def prepare(spark: SparkSession, gen: TweetGen, full: Boolean): Unit = {
    rmrf(root)
    if (full) rows = QuerySet.tables(spark, data, env.seed, sf)
    QuerySet.tables(spark, warmData, env.seed + 1, warmSf)
  }

  def inputContext: Seq[(String, Any)] = Seq("sf" -> sf) ++ rows.toSeq.sortBy(_._1)

  private def run(spark: SparkSession, q: String, dir: String): Double =
    seconds(noop(SparkEntry.queries(q)(spark, dir)))._2

  def warm(spark: SparkSession, scorer: SentimentScorer, rep: Int): Unit =
    QuerySet.Names.foreach(run(spark, _, warmData))

  /** Passes over the set: at least `minPasses`, at most
    * [[QuerySet.MaxPasses]], otherwise until the budget is spent. The
    * pass bounds keep the tail percentile's sample count in one band. */
  private def passes(budgetS: Double, minPasses: Int = QuerySet.MinPasses)(
      each: String => Double): Seq[Seq[(String, Double)]] = {
    val deadline = System.nanoTime() + (budgetS * 1e9).toLong
    val all = Seq.newBuilder[Seq[(String, Double)]]
    var i = 0
    while (i < minPasses || (i < QuerySet.MaxPasses && System.nanoTime() < deadline)) {
      all += QuerySet.Names.map(q => q -> env.spans(s"query.$q", "pass" -> i)(each(q)))
      i += 1
    }
    all.result()
  }

  def measure(spark: SparkSession, scorer: SentimentScorer, model: SentimentModel,
              report: Report, budgetS: Double): Unit = {
    val ps = passes(budgetS)(run(spark, _, data))
    val all = ps.flatten.map(_._2 * 1e3)
    report.metric("throughput_per_s", QuerySet.Names.size / Stats.median(ps.map(_.map(_._2).sum)), "1/s")
    report.metric("latency_p50_ms", Stats.percentile(all, 50), "ms")
    report.context("pass_s") = ps.map(_.map(_._2).sum)
    report.context("geomean_s") = Stats.geomean(QuerySet.Names.map(q => Stats.median(ps.flatten.filter(_._1 == q).map(_._2))))
    dumpOutputs(spark, report)
  }

  /** Each query's result as parquet plus its oracle SQL, outside the
    * timed region. */
  private def dumpOutputs(spark: SparkSession, report: Report): Unit = {
    rmrf(out)
    QuerySet.Names.foreach { q =>
      SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(s"$out/$q")
    }
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.obj(QuerySet.Names.map(q => q -> oracle(q))).getBytes("UTF-8"))
    report.context("oracle_dir") = out
    report.context("oracle_tables") = data
    report.ops(QuerySet.Names.size, 0)
  }

  def trace(spark: SparkSession, scorer: SentimentScorer, model: SentimentModel,
            report: Report, budgetS: Double, selected: Boolean, tracer: Tracer): Unit = {
    // a leg that only fills in layers runs on the warm-up tables
    val dir = if (selected) data else warmData
    val plain = if (selected) passes(budgetS / 2)(run(spark, _, dir)) else Nil
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val perQuery = scala.collection.mutable.Map.empty[String, TaskTotals.Snap]
    val exchanges = scala.collection.mutable.Map.empty[String, Int]
    val traced = tracer.traced(spark, selected) {
      passes(budgetS / 2, if (selected) QuerySet.MinPasses else 1) { q =>
        val s0 = tracer.totals.snapshot(spark)
        val sec = run(spark, q, dir)
        perQuery(q) = tracer.totals.snapshot(spark) - s0
        exchanges(q) = Option(tracer.lastExecution.last).map(e => Plans.shuffleExchanges(e.executedPlan)).getOrElse(-1)
        phases ++= graft.PhaseLog.drain()
        sec
      }
    }
    val passS = (ps: Seq[Seq[(String, Double)]]) => Stats.median(ps.map(_.map(_._2).sum))
    if (selected) {
      report.metric("tracing.overhead_share", passS(traced) / passS(plain) - 1, "share")
      report.tail(plain.flatten.map(_._2))
    }
    QuerySet.Names.foreach { q =>
      report.metric(s"queries.${q}_s",
        Stats.median((if (selected) plain else traced).flatten.filter(_._1 == q).map(_._2)), "s")
      report.metric(s"spark.exchanges.$q", exchanges(q).toDouble, "count")
      report.metric(s"spark.shuffle_write_bytes.$q", perQuery(q).shuffleWriteBytes.toDouble, "bytes")
      report.metric(s"spark.spill_bytes.$q", perQuery(q).spillBytes.toDouble, "bytes")
    }
    // PhaseLog labels summed per pass, median over passes
    val nPasses = traced.size.toDouble
    Seq("pr.build", "pr.driver_finish", "cc.driver_finish").foreach { l =>
      report.metric(s"operators.${l}_s", phases.filter(_._1 == l).map(_._2).sum / nPasses, "s")
    }
    report.context("phase_labels") = phases.map(_._1).distinct.sorted
    if (selected) dumpOutputs(spark, report)
  }
}

object QuerySet {
  /** ROADMAP targets (q38, q56, d32, d36, s6, m15, t26) plus one
    * relational (q1), one dedup (d10) and one multimodal (d23) query.
    * m5_sentiment is left out: it loads the reference model artifact
    * through `SparkEntry.scorer`, which a checkout does not have. */
  val Names: Seq[String] = Seq("q1_agg", "q38_pagerank", "q56_global_rank", "d10_dedup_keep",
    "d32_span_strip", "d36_dedup_from_index", "s6_tfidf_pairs", "m15_knn_eval",
    "t26_dsir_weights", "d23_image_dedup")
  val MinPasses = 4
  val MaxPasses = 9

  private val Words: Array[String] = Array("the", "a", "data", "stream", "batch", "window",
    "join", "key", "value", "table", "row", "column", "query", "scan", "sort", "hash",
    "merge", "filter", "group", "agg", "order", "line", "part", "customer", "spark",
    "fast", "slow", "big", "small", "vector", "index")

  /** Seeded TPC-H-ish tables at scale factor `sf`, shaped like the
    * repository's test data (TESTDATA.md) (same columns and types; sf 1 ≈ 150k
    * customers, 1.5M orders, 6M lineitems, 50k documents, 20k
    * embeddings), written under `dir` as `<table>.parquet`
    * files. Values come from hashes of (row id, seed), so the
    * same seed gives the same tables. Returns rows per table. */
  def tables(spark: SparkSession, dir: String, seed: Long, sf: Double): Map[String, Long] = {
    val parts = 4
    def h(k: Int, cols: Column*): Column = xxhash64((lit(seed) +: lit(k) +: cols): _*)
    def u(k: Int, cols: Column*): Column = pmod(h(k, cols: _*), lit(1000003L)) / lit(1000003.0)
    def pick(k: Int, xs: Seq[String], cols: Column*): Column =
      element_at(array(xs.map(lit): _*), (pmod(h(k, cols: _*), lit(xs.size.toLong)) + 1).cast("int"))
    def n(base: Double): Long = math.max(10L, math.round(base * sf))
    val id = col("id")
    val nCust = n(150000); val nOrd = n(1500000); val nSupp = n(10000); val nPart = n(200000)
    val nDocs = n(50000); val nVec = n(20000)
    // one parquet file per table, as in the repository's test data and
    // where tools/oracle_check.py reads it
    def write(name: String, df: DataFrame): (String, Long) = {
      val tmp = s"$dir/.$name.tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
      rmrf(tmp)
      name -> spark.read.parquet(s"$dir/$name.parquet").count()
    }
    val day0 = 694224000L // 1992-01-01
    Seq(
      write("customer", spark.range(1, nCust + 1, 1, parts).select(
        id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        pmod(h(1, id), lit(25L)).cast("int").as("c_nationkey"),
        round(u(2, id) * 10999.99 - 999.99, 2).as("c_acctbal"),
        pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id).as("c_mktsegment"))),
      write("orders", spark.range(1, nOrd + 1, 1, parts).select(
        id.as("o_orderkey"),
        (pmod(h(4, id), lit(nCust)) + 1).as("o_custkey"),
        pick(5, Seq("F", "O", "P"), id).as("o_orderstatus"),
        round(u(6, id) * 500000 + 900, 2).as("o_totalprice"),
        timestamp_seconds(lit(day0) + pmod(h(7, id), lit(2400L)) * 86400).as("o_orderdate"),
        pick(8, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id).as("o_orderpriority"))),
      write("lineitem", spark.range(0, nOrd * 4, 1, parts)
        .withColumn("qty", (pmod(h(9, id), lit(50L)) + 1).cast("double"))
        .select(
          (id.divide(4).cast("long") + 1).as("l_orderkey"),
          (pmod(h(10, id), lit(nPart)) + 1).as("l_partkey"),
          (pmod(h(11, id), lit(nSupp)) + 1).as("l_suppkey"),
          (pmod(id, lit(4L)) + 1).cast("int").as("l_linenumber"),
          col("qty").as("l_quantity"),
          round(col("qty") * (lit(900.0) + pmod(h(12, id), lit(100000L)) / 100.0), 2).as("l_extendedprice"),
          (pmod(h(13, id), lit(11L)) / 100.0).as("l_discount"),
          (pmod(h(14, id), lit(9L)) / 100.0).as("l_tax"),
          pick(15, Seq("A", "N", "R"), id).as("l_returnflag"),
          pick(16, Seq("O", "F"), id).as("l_linestatus"),
          timestamp_seconds(lit(day0) + pmod(h(17, id), lit(2500L)) * 86400).as("l_shipdate"))),
      write("documents", documents(spark, seed, nDocs, parts)),
      write("embeddings", spark.range(0, nVec, 1, parts)
        .withColumn("label", pmod(h(30, id), lit(10L)).cast("int"))
        .select(
          id.as("vec_id"),
          transform(sequence(lit(0), lit(63)), j =>
            ((pmod(h(31, col("label"), j), lit(2001L)) - 1000) / 5000.0 +
              (pmod(h(32, id, j), lit(2001L)) - 1000) / 10000.0).cast("float")).as("embedding"),
          col("label")))
    ).toMap
  }

  /** Documents over a small word list (the test corpus's shape):
    * 15–80 words, 3% exact and 5% near copies (one word changed) of
    * the previous document, so the dedup queries find work. */
  private def documents(spark: SparkSession, seed: Long, nDocs: Long, parts: Int): DataFrame = {
    def h(k: Int, cols: Column*): Column = xxhash64((lit(seed) +: lit(k) +: cols): _*)
    val id = col("id")
    val words = array(Words.toSeq.map(lit): _*)
    def word(base: Column, i: Column): Column =
      element_at(words, (pmod(h(20, base, i), lit(Words.length.toLong)) + 1).cast("int"))
    spark.range(0, nDocs, 1, parts)
      .withColumn("kind", pmod(h(21, id), lit(100L)))
      .withColumn("base", when(col("kind") < 8 && id > 0, id - 1).otherwise(id))
      .withColumn("len", (pmod(h(22, col("base")), lit(66L)) + 15).cast("int"))
      .withColumn("swap", pmod(h(23, id), col("len").cast("long")).cast("int") + 1)
      .withColumn("text", array_join(transform(sequence(lit(1), col("len")), i =>
        when(col("kind") >= 3 && col("kind") < 8 && i === col("swap"),
          element_at(words, (pmod(h(24, id), lit(Words.length.toLong)) + 1).cast("int")))
          .otherwise(word(col("base"), i))), " "))
      .select(
        id.as("doc_id"),
        col("text"),
        element_at(array(Seq("en", "en", "en", "en", "en", "de", "es", "fr", "zh", "de").map(lit): _*),
          (pmod(h(25, id), lit(10L)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(h(26, id), lit(20L)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }
}
