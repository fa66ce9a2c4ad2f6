package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.EnvelopeFeed

/** DataSource V2 envelope connector: contract parity with the text
  * source, per-file partitions, and column pruning pushdown. */
class EnvelopeSourceV2Spec extends AnyFunSuite with SparkSessionFixture {

  test("reads envelope waves with the Kafka value-column contract") {
    import spark.implicits._
    val dir = Files.createTempDirectory("env_v2").toString
    EnvelopeFeed.publishWave(
      Seq("first text", "second, with comma").toDF("t"), "t", dir)
    EnvelopeFeed.publishWave(Seq("third wave").toDF("t"), "t", dir)

    val v2 = spark.read.format("graft-envelope").load(dir)
    assert(v2.columns.toSeq == Seq("value", "file"))
    val viaText = spark.read.text(dir)
      .select(col("value")).collect().map(_.getString(0)).sorted.toSeq
    val viaV2 = v2.select(col("value")).collect().map(_.getString(0)).sorted.toSeq
    assert(viaV2 == viaText)
    assert(viaV2.exists(_.contains("second with comma"))) // scrub applied upstream

    // one partition per file, exposed through the metadata column
    assert(v2.select(col("file")).distinct().count() >= 2)

    // downstream transform chain plugs in unchanged (value contract)
    val scored = graft.streaming.StreamPipeline
      .transform(v2.select(col("value")), SparkEntry.scorer(spark))
    assert(scored.count() == 3)
  }

  test("column pruning reaches the scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("env_v2p").toString
    EnvelopeFeed.publishWave(Seq("only text").toDF("t"), "t", dir)
    val pruned = spark.read.format("graft-envelope").load(dir)
      .select(col("value"))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    // the scan's description carries its pruned field list
    assert(scan.contains("[value]"), scan)
    assert(!scan.contains("[value,file]"), scan)
    assert(pruned.head().getString(0).contains("only text"))
  }

  test("file-filter pushdown prunes input partitions at planning") {
    import spark.implicits._
    val dir = Files.createTempDirectory("env_v2f").toString
    EnvelopeFeed.publishWave(Seq("wave one").toDF("t"), "t", dir)
    EnvelopeFeed.publishWave(Seq("wave two").toDF("t"), "t", dir)
    EnvelopeFeed.publishWave(Seq("wave three").toDF("t"), "t", dir)

    val all = spark.read.format("graft-envelope").load(dir)
    assert(all.rdd.getNumPartitions == 3)
    val target = all.select(col("file")).distinct()
      .collect().map(_.getString(0)).sorted.head

    // equality on the metadata column → a single input partition
    val one = spark.read.format("graft-envelope").load(dir)
      .filter(col("file") === target)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.select(col("value")).collect().map(_.getString(0)).toSeq
      .nonEmpty)
    val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters"), scan)

    // prefix match (the directory itself) keeps everything; an
    // unpushable predicate shape prunes nothing and stays correct
    val pfx = spark.read.format("graft-envelope").load(dir)
      .filter(col("file").startsWith(dir))
    assert(pfx.rdd.getNumPartitions == 3 && pfx.count() == 3)
    val residual = spark.read.format("graft-envelope").load(dir)
      .filter(length(col("file")) > 0 && col("value").contains("two"))
    assert(residual.rdd.getNumPartitions == 3 && residual.count() == 1)
  }

  test("COUNT(*) pushdown answers from per-file line counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("env_v2c").toString
    EnvelopeFeed.publishWave(Seq("a", "b").toDF("t"), "t", dir)
    EnvelopeFeed.publishWave(Seq("c").toDF("t"), "t", dir)

    val df = spark.read.format("graft-envelope").load(dir)
    val counted = df.groupBy().count()
    val leaf = counted.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PushedAggregation"), leaf)
    assert(counted.head().getLong(0) == 3)
    assert(df.count() == 3)
    // a filtered count is NOT pushed (filters stay residual) but is
    // still correct through the row scan
    assert(df.filter(col("value").contains("c")).count() == 1)
  }

  test("LIMIT pushdown caps the reader instead of scanning to EOF") {
    import spark.implicits._
    val dir = Files.createTempDirectory("env_v2l").toString
    EnvelopeFeed.publishWave((1 to 100).map(i => s"line $i").toDF("t"), "t", dir)

    val limited = spark.read.format("graft-envelope").load(dir).limit(3)
    val leaf = limited.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PushedLimit: 3"), leaf)
    assert(limited.count() == 3)
    // a residual filter between scan and limit blocks the push (Spark
    // never offers it), and the result is still correct
    val filtered = spark.read.format("graft-envelope").load(dir)
      .filter(col("value").contains("line 9")).limit(2)
    val fLeaf = filtered.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!fLeaf.contains("PushedLimit"), fLeaf)
    assert(filtered.count() == 2) // "line 9", "line 90"-"line 99" capped at 2
  }

  test("micro-batch stream: incremental batches and checkpoint restart") {
    import spark.implicits._
    val dir = Files.createTempDirectory("env_v2s").toString
    val cp = Files.createTempDirectory("env_v2s_cp").toString
    val out = Files.createTempDirectory("env_v2s_out").toString
    EnvelopeFeed.publishWave(Seq("wave one a", "wave one b").toDF("t"), "t", dir)

    def start() = spark.readStream.format("graft-envelope").load(dir)
      .select(col("value"))
      .writeStream.format("text")
      .option("path", out).option("checkpointLocation", cp).start()

    val q1 = start()
    q1.processAllAvailable()
    assert(spark.read.text(out).count() == 2)

    // a second wave arrives → exactly the new files form the batch
    EnvelopeFeed.publishWave(Seq("wave two").toDF("t"), "t", dir)
    q1.processAllAvailable()
    assert(spark.read.text(out).count() == 3)
    q1.stop()

    // restart from the checkpoint with a wave published while down:
    // exactly the missed wave is delivered, nothing re-delivered
    EnvelopeFeed.publishWave(Seq("wave three").toDF("t"), "t", dir)
    val q2 = start()
    q2.processAllAvailable()
    val lines = spark.read.text(out).collect().map(_.getString(0)).toSeq
    assert(lines.length == 4, lines.mkString("; "))
    assert(lines.count(_.contains("wave three")) == 1, lines.mkString("; "))
    q2.stop()
  }

  test("AvailableNow after a crash replays the uncommitted batch, then drains new files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("env_v2an").toString
    val cp = Files.createTempDirectory("env_v2an_cp").toString
    val out = Files.createTempDirectory("env_v2an_out").toString
    def runOnce(): Unit = spark.readStream.format("graft-envelope").load(dir)
      .select(col("value"))
      .writeStream.format("text").trigger(Trigger.AvailableNow())
      .option("path", out).option("checkpointLocation", cp).start()
      .awaitTermination()

    EnvelopeFeed.publishWave(Seq("file one").toDF("t"), "t", dir)
    runOnce()
    EnvelopeFeed.publishWave(Seq("file two").toDF("t"), "t", dir)
    runOnce()
    // a crash after walCommit: batch 1's offsets are logged, its
    // commit (and the commit's checksum file) is not
    for (f <- Seq("1", ".1.crc")) Files.deleteIfExists(java.nio.file.Paths.get(cp, "commits", f))
    EnvelopeFeed.publishWave(Seq("file three").toDF("t"), "t", dir)
    runOnce()
    val lines = spark.read.text(out).collect().map(_.getString(0)).toSeq
    for (f <- Seq("file one", "file two", "file three"))
      assert(lines.count(_.contains(f)) == 1, lines.mkString("; "))
    assert(lines.length == 3, lines.mkString("; "))
    assert(Files.exists(java.nio.file.Paths.get(cp, "commits", "2")))
  }

  test("missing path fails at planning with a clear error") {
    val missing = "/tmp/env_v2_does_not_exist_" + System.nanoTime()
    val ex = intercept[Exception] {
      spark.read.format("graft-envelope").load(missing).count()
    }
    // the planning-time IllegalArgumentException may be wrapped by the
    // exec layer; the message must survive and name the path
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(m =>
      m.contains("does not exist") && m.contains(missing)), ex.toString)
  }
}
