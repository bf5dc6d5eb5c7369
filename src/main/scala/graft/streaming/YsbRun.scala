package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** CLI mirror of the reference's YSB driver (reference
  * benchmarks/src/ysb/main.rs:41-50: events-per-second and seconds knobs,
  * 1,000 eps x 20 s defaults; query ysb.sql): runs the YSB campaign-count
  * query over a live generated ad-event stream and prints a one-line JSON
  * summary with measured input throughput.
  *
  * Usage: sbt "runMain graft.streaming.YsbRun -e 1000 -s 20 -g 8
  *   --window 10 [--capacity-eps 500000] [--progress 1]"
  *
  * `--capacity-eps N` bounds per-trigger admission at the measured
  * capacity through the native V2 generator source (see NexmarkRun — the
  * same graceful-overload contract); `--progress 1` prints one JSON
  * trajectory line per elapsed minute.
  */
object YsbRun extends LiveRun.Cli("-e", "-s", "-g", "--window",
    "--capacity-eps", "--progress") {

  def session(opts: Map[String, String]): SparkSession =
    graft.Session.local("ysb", "local[8]", 8)

  def run(spark: SparkSession, opts: Map[String, String]): Seq[String] = {
    val eps = opts.getOrElse("-e", "1000").toInt
    val secs = opts.getOrElse("-s", "20").toInt
    val generators = opts.getOrElse("-g", "8").toInt
    val windowSec = opts.getOrElse("--window", "10").toInt

    val capacityEps = opts.getOrElse("--capacity-eps", "0").toLong
    val events =
      if (capacityEps > 0)
        Ysb.adEventStreamV2(spark, totalEvents = eps.toLong * secs * 2,
          rowsPerTrigger = Some(Admission.rowsPerTrigger(capacityEps, 1000L)),
          eventsPerSecond = Some(eps.toLong),
          genEventsPerSecond = eps.toLong, generators = generators)
      else Ysb.adEventStream(spark, rowsPerSecond = eps,
        eventsPerSecond = eps, generators = generators)
    val result = Ysb.query(events, Ysb.campaigns(spark), s"$windowSec seconds")

    LiveRun.sampling(spark) { sampler =>
      val t0 = System.nanoTime()
      // Complete mode: the windowed count has no watermark (the reference
      // emits every window's running count), so the sink holds the current
      // totals per (window, campaign).
      val q = result.writeStream.format("memory").queryName("ysb_run")
        .outputMode("complete").trigger(Trigger.ProcessingTime("1 second"))
        .start()
      Thread.sleep(secs * 1000L)
      val samples = sampler.stop(q)
      // Measured INPUT rows from every batch's progress — out_rows is
      // bounded by windows x campaigns, so it cannot measure throughput.
      val inputRows = samples.map(_.inputRows).sum
      val rows = spark.table("ysb_run").count()
      val wall = (System.nanoTime() - t0) / 1e9
      val measuredEps = if (wall > 0) inputRows / wall else 0.0
      val progress =
        if (opts.get("--progress").contains("1")) LiveRun.minutes(samples)
        else Nil
      progress :+ (s"""{"benchmark":"ysb","seconds":$secs,"events_per_sec":$eps,""" +
        (if (capacityEps > 0) s""""capacity_eps":$capacityEps,""" else "") +
        s""""generators":$generators,"window_sec":$windowSec,""" +
        s""""campaign_windows":$rows,"input_rows":$inputRows,""" +
        s""""wall_sec":${f"$wall%.2f"},"measured_eps":${f"$measuredEps%.0f"}}""")
    }
  }
}
