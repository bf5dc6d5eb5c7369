package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once under TASK RETRY (r11 verdict #3): every prior restart
  * proof stops queries at a batch boundary — a clean stop. Here a task
  * dies MID-BATCH, after rows have already flowed through the stateful
  * operator (partial uncommitted state-store writes), and is retried by
  * the scheduler (session master local[4,2]). The retried run's output
  * must be bit-identical to an uninjected run of the same replay, and the
  * retry accumulator must show the failure actually fired — a zero there
  * would mean the proof silently proved nothing.
  *
  * The same injection runs across all 14 stw and stw_v2 hash-gate
  * entries via SPARK_GRAFT_INJECT_STW=1 (Replay.injecting); this spec
  * keeps a fast, always-on 3-topology pin inside the suite.
  */
class FailureInjectionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** StreamGate-style replay: chunks drain one AvailableNow run each over
    * a shared checkpoint into a parquet sink; `inject` wraps the transform
    * in the first-attempt killer.
    */
  private def replay(tag: String, chunks: Seq[DataFrame],
      transform: DataFrame => DataFrame, inject: Boolean): (DataFrame, Long) =
    ReplayConfs.withConfs(spark, ReplayConfs.RocksState) {
      val base = Replay.scratch(s"inj_$tag")
      val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
      val acc = spark.sparkContext.longAccumulator(s"inj_$tag")
      val tf: DataFrame => DataFrame =
        if (inject) df => FailureInjection
          .failFirstAttempt(transform(df), acc, afterRows = 2)
        else transform
      val schema = chunks.head.schema
      chunks.foreach { c =>
        c.coalesce(1).write.mode("append").parquet(in)
        val q = tf(spark.readStream.schema(schema).parquet(in))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), s"replay '$tag' stuck")
      }
      val result = spark.read.parquet(out).localCheckpoint()
      Replay.delete(base)
      (result, acc.value)
    }

  private def assertIdentical(tag: String, chunks: Seq[DataFrame],
      transform: DataFrame => DataFrame): Unit = {
    val (clean, _) = replay(s"${tag}_clean", chunks, transform,
      inject = false)
    val (injected, retries) = replay(s"${tag}_inj", chunks, transform,
      inject = true)
    assert(retries > 0,
      s"'$tag': injected failure never fired — the proof is vacuous")
    assert(injected.exceptAll(clean).isEmpty &&
        clean.exceptAll(injected).isEmpty,
      s"'$tag': output diverged under mid-batch task retry " +
        s"(${clean.count()} clean vs ${injected.count()} injected rows)")
  }

  private def eventChunks: Seq[DataFrame] = {
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select($"user_id", $"event_id", $"event_type", $"ts")
    def cut(iso: String) = lit(iso).cast("timestamp")
    Seq(ev.filter($"ts" < cut("2024-01-16 00:00:00")),
      ev.filter($"ts" >= cut("2024-01-16 00:00:00")))
  }

  test("funnel survives mid-batch task failure + retry bit-identically") {
    assertIdentical("funnel",
      eventChunks.map(_.select($"user_id", $"event_type", $"ts")),
      df => StatefulProcessors.funnelStages(df).toDF())
  }

  test("keep-best survives mid-batch task failure + retry bit-identically") {
    val rows = (0 until 4000).map { i =>
      KeepCC((i % 37).toLong, i.toLong, s"src${i % 5}",
        (50L + (i * 2654435761L % 7) * 50L))
    }
    val chunks = Seq(rows.take(1500), rows.slice(1500, 3000), rows.drop(3000))
      .map(_.toDF())
    assertIdentical("keepbest", chunks,
      df => StatefulProcessors.keepBest(df).toDF())
  }

  test("tws session windows survive mid-batch task failure + retry") {
    val bids = Nexmark.bids(spark, 20000L)
    val t = unix_millis($"b_date_time")
    val cut = Nexmark.BaseMs + 200000L
    val sentinel = spark.range(1).select(
      lit(-1).cast("int").as("auction"), lit(-1).cast("int").as("bidder"),
      lit(0).cast("int").as("price"),
      timestamp_millis(lit(Nexmark.BaseMs + 86400000L)).as("b_date_time"))
    val chunks = Seq(bids.filter(t < cut), bids.filter(t >= cut), sentinel)
    assertIdentical("sessions", chunks,
      df => StatefulProcessors.sessionWindowsTws(df).toDF())
  }
}
