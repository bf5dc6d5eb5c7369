package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** ReadLimit surface of the native V2 generator source beyond the plain
  * ReadMaxRows path: ReadMinRows deferral (Kafka's `minOffsetsPerTrigger`
  * + `maxTriggerDelay` semantics) and the CompositeReadLimit composition
  * the engine hands over when both bounds are set — the arm that used to
  * silently fall through to all-available.
  */
class V2ReadLimitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def stream(opts: NexmarkV2.Opts) = new NexmarkMicroBatchStream(opts)

  private def end(s: NexmarkMicroBatchStream, from: Long,
      limit: ReadLimit): Long =
    s.latestOffset(NexmarkOffset(from), limit).asInstanceOf[NexmarkOffset].id

  test("ReadMinRows defers the trigger while below min and within delay") {
    // 30 available vs minRows=50, generous delay: no admission.
    val s = stream(NexmarkV2.Opts(30, None, None, 4, 0,
      minRowsPerTrigger = Some(50), maxTriggerDelayMs = 60000))
    assert(end(s, 0, ReadLimit.minRows(50, 60000)) == 0L)
    // Enough available: admits everything.
    val s2 = stream(NexmarkV2.Opts(80, None, None, 4, 0,
      minRowsPerTrigger = Some(50), maxTriggerDelayMs = 60000))
    assert(end(s2, 0, ReadLimit.minRows(50, 60000)) == 80L)
  }

  test("ReadMinRows admits after maxTriggerDelayMs even below min") {
    val s = stream(NexmarkV2.Opts(30, None, None, 4, 0,
      minRowsPerTrigger = Some(50), maxTriggerDelayMs = 1))
    Thread.sleep(10)
    assert(end(s, 0, ReadLimit.minRows(50, 1)) == 30L,
      "delay ceiling must force admission")
  }

  test("CompositeReadLimit: min-rows veto first, then max-rows cap") {
    val composite = ReadLimit.compositeLimit(Array(
      ReadLimit.minRows(50, 60000), ReadLimit.maxRows(100)))
    // Below min: vetoed (returns start), despite max allowing 100.
    val s = stream(NexmarkV2.Opts(30, Some(100), None, 4, 0,
      minRowsPerTrigger = Some(50), maxTriggerDelayMs = 60000))
    assert(end(s, 0, composite) == 0L)
    // Min satisfied: capped by max, not all-available.
    val s2 = stream(NexmarkV2.Opts(1000, Some(100), None, 4, 0,
      minRowsPerTrigger = Some(50), maxTriggerDelayMs = 60000))
    assert(end(s2, 0, composite) == 100L)
    // Mid-stream: the cap is relative to start.
    assert(end(s2, 300, composite) == 400L)
  }

  test("getDefaultReadLimit composes the configured bounds") {
    def limitOf(o: NexmarkV2.Opts) = stream(o).getDefaultReadLimit.toString
    assert(limitOf(NexmarkV2.Opts(10, None, None, 4, 0)) ==
      ReadLimit.allAvailable().toString)
    assert(limitOf(NexmarkV2.Opts(10, Some(5), None, 4, 0)) ==
      ReadLimit.maxRows(5).toString)
    val both = limitOf(NexmarkV2.Opts(10, Some(5), None, 4, 0,
      minRowsPerTrigger = Some(2), maxTriggerDelayMs = 7))
    assert(both.contains("CompositeReadLimit") || both.contains("Composite"),
      s"expected a composite limit, got $both")
  }

  test("live-rate restart re-anchors at the committed offset") {
    // Construction-time anchor at startOffset=0; a restart hands
    // latestOffset a committed start of 500_000 — far beyond what
    // 100 eps could have made available since construction. Without the
    // re-anchor the stream would admit zero rows until elapsed*eps
    // reached 500_000 (~83 min); with it, availability resumes FROM the
    // committed offset immediately.
    val s = stream(NexmarkV2.Opts(1000000, None, Some(100), 4, 0))
    Thread.sleep(50)
    val e = end(s, 500000, ReadLimit.allAvailable())
    assert(e >= 500000L && e <= 500000L + 1000L,
      s"rate did not resume from the committed offset: $e")
  }

  test("minRowsPerTrigger option drives batch sizing end-to-end") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_v2_minrows").toAbsolutePath.toString
    try {
      // AvailableNow over 1000 ids with min=200/max=250: every non-final
      // batch must admit in [200, 250] rows (the final one drains the
      // remainder within the delay ceiling).
      val df = spark.readStream.format("nexmark-gen")
        .option("totalEvents", 1000)
        .option("rowsPerTrigger", 250)
        .option("minRowsPerTrigger", 200)
        .option("maxTriggerDelayMs", 100)
        .option("numPartitions", 2)
        .load()
      val q = df.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      require(q.awaitTermination(120000), "minRows drain timed out")
      val batches = q.recentProgress.toSeq.map(_.numInputRows)
        .filter(_ > 0)
      assert(batches.sum == 1000, s"lost rows: $batches")
      assert(batches.forall(n => n >= 200 && n <= 250),
        s"batch outside [200,250]: $batches")
      val got = spark.read.parquet(s"$base/out")
      assert(got.distinct().count() == 1000)
      assert(got.agg(min("id"), max("id")).first().toSeq == Seq(0L, 999L))
    } finally graft.streaming.Replay.delete(base)
  }
}
