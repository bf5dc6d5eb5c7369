package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** CLI mirror of the reference's `flock-cli nexmark run -q N -s S -e E`
  * (reference benchmarks/src/nexmark/main.rs:59-99 CLI knobs;
  * README.md:128-131 documented invocation): runs one NEXMark query over a
  * live generated stream for `-s` seconds at `-e` events/second and prints
  * a one-line JSON summary.
  *
  * Usage: sbt "runMain graft.streaming.NexmarkRun -q 5 -s 10 -e 1000
  *   -g 8 --person-proportion 1 --auction-proportion 3 --bid-proportion 46
  *   [--capacity-eps 175000] [--progress 1]"
  *
  * `--capacity-eps N` carries the graceful-overload contract
  * (graft.streaming.Admission) into the shipped entry point: the bid
  * stream switches to the native V2 generator source with
  * rowsPerTrigger = Admission.rowsPerTrigger(N, trigger) while ids stay
  * AVAILABLE at the offered `-e` rate — offering above capacity then
  * degrades to source backlog (visible in the progress log as
  * backlog_rows growing at offered − admitted) instead of the
  * state-balloon spiral unbounded ingest produces. Size N at ~90% of the
  * shape's measured capacity (SoakRun's capacity table). `--progress 1`
  * prints one JSON trajectory line per elapsed minute (batch means,
  * state rows, source backlog).
  *
  * Window semantics per query follow the reference mapping
  * (main.rs:116-123): q5 hopping, q7/q8 tumbling, q11 session, q12
  * processing-time gap; ranking queries (q5/q6) replay per micro-batch via
  * foreachBatch exactly like the reference's per-window batches.
  */
object NexmarkRun extends LiveRun.Cli("-q", "-s", "-e", "-g",
    "--person-proportion", "--auction-proportion", "--bid-proportion",
    "--capacity-eps", "--progress") {

  def session(opts: Map[String, String]): SparkSession =
    graft.Session.local(s"nexmark-q${opts.getOrElse("-q", "1")}", "local[8]", 8)

  def run(spark: SparkSession, opts: Map[String, String]): Seq[String] = {
    val qn = opts.getOrElse("-q", "1").toInt
    val secs = opts.getOrElse("-s", "10").toInt
    val eps = opts.getOrElse("-e", "1000").toInt
    // -g generator count + event-type proportions (reference main.rs:62-74
    // -g flag; config.rs person/auction/bid proportions). Generators map to
    // source partitions: the pure-column generator emits the bit-identical
    // stream at any parallelism.
    val cfg = Nexmark.Config(
      personProportion = opts.getOrElse("--person-proportion", "1").toInt,
      auctionProportion = opts.getOrElse("--auction-proportion", "3").toInt,
      bidProportion = opts.getOrElse("--bid-proportion", "46").toInt,
      generators = opts.getOrElse("-g", "8").toInt)

    // --capacity-eps: bounded per-trigger admission through the V2
    // generator source (offsets available at the offered -e rate; each
    // trigger admits at most the capacity's worth — overload becomes
    // source backlog). 0/absent = the historical unbounded rate source.
    val capacityEps = opts.getOrElse("--capacity-eps", "0").toLong
    val bids =
      if (capacityEps > 0)
        graft.sources.NexmarkV2.bidStream(spark,
          totalEvents = eps.toLong * secs * 2,
          rowsPerTrigger = Some(Admission.rowsPerTrigger(capacityEps, 1000L)),
          eventsPerSecond = Some(eps.toLong),
          numPartitions = cfg.generators, cfg = cfg)
      else Nexmark.bidStream(spark, rowsPerSecond = eps, cfg = cfg)
    // Static sides for join queries: a bounded generated table (the
    // reference feeds auctions/persons from the same generator).
    val nStatic = (eps.toLong * secs * 4).max(50000L)
    val auctions = Nexmark.auctions(spark, nStatic, cfg = cfg)
    val persons = Nexmark.persons(spark, nStatic, cfg = cfg)
    val name = s"nx_run_q$qn"

    LiveRun.sampling(spark) { sampler =>
      val t0 = System.nanoTime()
      def sink(df: DataFrame, mode: String): Long = {
        val q = df.writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(Trigger.ProcessingTime("1 second")).start()
        Thread.sleep(secs * 1000L)
        sampler.stop(q)
        spark.table(name).count()
      }
      // Ranking and stream–static range queries replay per micro-batch
      // (foreachBatch), as the reference replays each window.
      def perBatch(f: DataFrame => DataFrame): Long = {
        val counts = new java.util.concurrent.atomic.AtomicLong()
        val q = bids.writeStream.queryName(name).foreachBatch {
          (batch: DataFrame, _: Long) => counts.addAndGet(f(batch).count()); ()
        }.start()
        Thread.sleep(secs * 1000L)
        sampler.stop(q)
        counts.get()
      }

      val rows = qn match {
        case 0 => sink(StreamQueries.q0(bids), "append")
        case 1 => sink(StreamQueries.q1(bids), "append")
        case 2 => sink(StreamQueries.q2(bids), "append")
        case 3 =>
          // stream–static variant (stream–stream needs a second live source)
          sink(StreamQueries.q3(auctions, persons), "append")
        case 4 => sink(StreamQueries.q4(bids, auctions), "complete")
        case 5 => perBatch(StreamQueries.q5(_))
        case 6 => perBatch(StreamQueries.q6(_, auctions))
        case 7 => sink(StreamQueries.q7(
          bids.withWatermark("b_date_time", "5 seconds")), "append")
        case 8 => sink(StreamQueries.q8(persons, auctions), "complete")
        case 9 => perBatch(StreamQueries.q9(_, auctions))
        case 11 =>
          // Append-mode sessions only emit once the watermark passes
          // session_end + gap: runs shorter than ~2x the gap emit nothing.
          sink(StreamQueries.q11(
            bids.withWatermark("b_date_time", "5 seconds")), "append")
        case 12 => sink(StreamQueries.q12(bids, sizeMs = 2000).toDF(), "append")
        case 13 => sink(StreamQueries.q13(bids, Nexmark.sideInput(spark)), "append")
        case other => sys.error(s"unsupported query: $other")
      }

      val wall = (System.nanoTime() - t0) / 1e9
      val progress =
        if (opts.get("--progress").contains("1")) LiveRun.minutes(sampler.of(name))
        else Nil
      progress :+ (s"""{"query":$qn,"seconds":$secs,"events_per_sec":$eps,""" +
        (if (capacityEps > 0) s""""capacity_eps":$capacityEps,""" else "") +
        s""""out_rows":$rows,"wall_sec":${f"$wall%.2f"}}""")
    }
  }
}
