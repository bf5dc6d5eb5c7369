package graft.streaming

import graft.SparkTestSession
import graft.sources.NexmarkV2
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The native DataSource V2 generator source: offset-range tracking,
  * per-trigger admission (rowsPerTrigger = maxOffsetsPerTrigger
  * semantics), checkpoint restart mid-offset-range with NO gap and NO
  * replay — the Kafka source contract, proven without the connector jar.
  */
class V2SourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_v2_$tag")
    d.toAbsolutePath.toString
  }

  /** Drain one AvailableNow run of `df` into a parquet sink; returns the
    * number of micro-batches the run executed.
    */
  private def drain(df: DataFrame, out: String, ckpt: String): Int = {
    val q = df.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(120000), "v2 drain timed out")
    q.recentProgress.count(_.numInputRows > 0)
  }

  test("availablenow drains the id range in rowsPerTrigger-bounded batches") {
    val base = tmpDir("drainall")
    try {
      val df = NexmarkV2.ids(spark, totalEvents = 1000,
        rowsPerTrigger = Some(128), numPartitions = 4)
      val nBatches = drain(df, s"$base/out", s"$base/ckpt")
      // ceil(1000 / 128) = 8 batches, each admitting <= 128 ids.
      assert(nBatches == 8, s"expected 8 bounded batches, got $nBatches")
      val got = spark.read.parquet(s"$base/out")
      assert(got.count() == 1000)
      assert(got.distinct().count() == 1000, "duplicate ids — replay")
      assert(got.agg(min("id"), max("id")).first().toSeq == Seq(0L, 999L))
    } finally Replay.delete(base)
  }

  test("checkpoint restart mid-offset-range: no gap, no replay") {
    val base = tmpDir("restart")
    try {
      // Run 1: totalEvents=300 with rowsPerTrigger=77 — the committed
      // offset (300) sits mid-range of the final stream and batch
      // boundaries (77, 154, 231, 300) don't align to the later runs'.
      drain(NexmarkV2.ids(spark, 300, Some(77)), s"$base/out", s"$base/ckpt")
      // Run 2: SAME checkpoint, larger totalEvents and a DIFFERENT
      // rowsPerTrigger — must resume at id 300 exactly.
      drain(NexmarkV2.ids(spark, 650, Some(100)), s"$base/out", s"$base/ckpt")
      // Run 3: unbounded admission for the tail.
      drain(NexmarkV2.ids(spark, 1000), s"$base/out", s"$base/ckpt")
      val got = spark.read.parquet(s"$base/out")
      assert(got.count() == 1000, s"gap or loss: ${got.count()}")
      assert(got.distinct().count() == 1000, "duplicate ids — replay")
      assert(got.agg(sum("id")).first().getLong(0) == 999L * 1000 / 2)
    } finally Replay.delete(base)
  }

  test("short format name resolves via DataSourceRegister") {
    val base = tmpDir("shortname")
    try {
      val df = spark.readStream.format("nexmark-gen")
        .option("totalEvents", 100).load()
      assert(df.schema.fieldNames.toSeq == Seq("id"))
      drain(df, s"$base/out", s"$base/ckpt")
      assert(spark.read.parquet(s"$base/out").count() == 100)
    } finally Replay.delete(base)
  }

  test("v2 bid stream == batch bid projection over the same id range") {
    val base = tmpDir("bids")
    try {
      val streamed = NexmarkV2.bidStream(spark, totalEvents = 5000,
        rowsPerTrigger = Some(1111))
      drain(streamed, s"$base/out", s"$base/ckpt")
      val got = spark.read.parquet(s"$base/out")
      val want = Nexmark.bidsFromIds(spark.range(0, 5000).toDF())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "v2-sourced bids diverge from the batch projection")
    } finally Replay.delete(base)
  }

  test("live-rate mode bounds availability by wall clock") {
    val base = tmpDir("rate")
    try {
      // 1000 eps for a ~1.2 s run: far fewer than totalEvents available.
      val df = NexmarkV2.ids(spark, totalEvents = 1000000,
        eventsPerSecond = Some(1000), numPartitions = 2)
      val q = df.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
      Thread.sleep(1200)
      q.stop()
      val n = spark.read.parquet(s"$base/out").count()
      assert(n > 0, "rate mode produced nothing")
      assert(n <= 5000, s"rate mode overshot wall-clock availability: $n")
    } finally Replay.delete(base)
  }

  test("bad options fail at load time") {
    intercept[IllegalArgumentException] {
      spark.readStream.format("nexmark-gen").load()
    }
    intercept[IllegalArgumentException] {
      spark.readStream.format("nexmark-gen")
        .option("totalEvents", "-5").load()
    }
    intercept[IllegalArgumentException] {
      spark.readStream.format("nexmark-gen")
        .option("totalEvents", "100").option("rowsPerTrigger", "0").load()
    }
  }
}
