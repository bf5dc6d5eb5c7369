package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, concat, count, element_at, lit, window}
import org.apache.spark.sql.streaming.Trigger

/** Stateful-streaming soak + capacity search: runs one STATEFUL query
  * shape (tumbling/hopping/session windows, processing-time gap windows,
  * near-dup claims, per-key top-k, gap spectrum) against the live NEXMark
  * generator at a sustained event rate and reports batch-duration and
  * state-store trajectories — the axis NexmarkRun's stateless throughput
  * runs don't cover. The reference's envelope is ~1k events/s per Lambda
  * worker (BASELINE.md §A); the point here is to show the Spark substrate
  * holds the same shapes at 50–100× that rate on one node with BOUNDED
  * state and NO growing backlog.
  *
  * State store: RocksDB provider (the 100 TB configuration — heap state
  * would cap at executor memory; RocksDB spills to local disk exactly as
  * a production cluster would run it).
  *
  * Usage: sbt "runMain graft.streaming.SoakRun -q q11 -s 60 -e 100000"
  * Shapes: q11 (session_window), q11tws (SessionWindowProcessor),
  * q12 (proc-time gap via flatMapGroupsWithState), q12tws
  * (GapWindowProcessor), q5agg (hopping agg), tumbling (tumbling agg),
  * neardup (BucketClaimProcessor), topk (AuctionTopK, update mode),
  * gapspec (GapSpectrumProcessor).
  *
  * Long soak (`-soak 1 -s 600 -e <eps>`): hold one rate and print the
  * full per-minute batch-time + state-size trajectory via a progress
  * listener (the short-probe path reads recentProgress, which only keeps
  * the last 100 events) — the ceiling-confirmation evidence a 40 s probe
  * cannot give. Add `-inject N` to plant a mid-batch task failure on
  * partition 0's first attempt in every stage whose id divides N
  * (FailureInjection.failEveryNthStage): the soak then proves sustained
  * throughput under a steady drip of surviving task retries, and the
  * JSON line carries the retry count.
  *
  * Concurrent-streams soak (`-multi "tumbling:60000,gapspec:150000" -s
  * 600`): run SEVERAL shapes at once (own checkpoints, one shared
  * session) and report per-query minute trajectories plus per-query
  * sustained verdicts — the interference evidence single-query brackets
  * cannot give. A third spec field (`shape:offered:capacity`) bounds
  * that stream's per-trigger admission through the V2 generator source
  * while ids stay available at the offered rate — the concurrent
  * graceful-overload proof: each query's backlog slope should match its
  * own offered − admitted even under CPU sharing.
  *
  * `-changelog 1` (any mode): enable RocksDB changelog checkpointing
  * (spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing
  * .enabled) — per-batch commits upload a changelog instead of zipping a
  * full snapshot, the knob that attacks the commit-syscall ceiling on
  * the window-agg shapes.
  *
  * Admission-bounded overload soak (`-admit 1 -cap <capacityEps>
  * -e <offeredEps> -s 600`): offer MORE than the shape's capacity through
  * a file-landing generator whose per-trigger admission is bounded at the
  * capacity (graft.streaming.Admission); proves overload degrades to
  * source backlog, not state growth. See runAdmitSoak.
  *
  * Capacity search (`-find 1 [-lo 100000] [-hi 3200000]`): bracket the
  * max sustained events/s by doubling from -lo until a rate fails, then
  * bisect to <=12.5% relative width. "Sustained" = the second-half mean
  * batch duration stays under the 1 s trigger period (the stream keeps
  * up in steady state) — each probe line also carries the state-rows
  * trajectory so flat-state evidence lands next to the verdict. Prints
  * one JSON line per probe and a final `capacity` line per shape.
  *
  * Output: one JSON line with per-half mean batch durations (a growing
  * backlog shows up as second_half >> first_half), max batch duration,
  * final state rows/memory, and rows/s throughput.
  */
object SoakRun {

  /** Single source of truth for the trigger cadence: both the
    * ProcessingTime trigger and the sustained criterion (mean batch time
    * under one trigger period) derive from it, so they can't drift apart.
    */
  val TriggerPeriodMs: Long = 1000L


  /** Stop a query tolerating the stop-vs-commit race: interrupting an
    * in-flight RocksDB commit surfaces CANNOT_COMMIT through stop(),
    * which must not discard minutes of collected soak samples.
    */
  private def stopQuietly(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try q.stop() catch {
      case e: Exception =>
        System.err.println(s"[soak] stop raced an in-flight commit " +
          s"(samples retained): ${e.getMessage}")
    }

  private def buildQuery(spark: SparkSession, shape: String,
      eps: Int): DataFrame =
    buildShape(spark, shape, Nexmark.bidStream(spark, rowsPerSecond = eps))

  private[streaming] def buildShape(spark: SparkSession, shape: String,
      bids: DataFrame): DataFrame = {
    shape match {
      // Watermark at 5 s: sessions close (and state evicts) once event
      // time passes session_end + gap — state stays bounded by the live
      // session count, not the run length.
      case "q11" => StreamQueries.q11(
        bids.withWatermark("b_date_time", "5 seconds"), gap = "10 seconds")
      // The explicit-timer session twin (SessionWindowProcessor, list
      // state): same shape as q11 but exercising transformWithState's
      // per-session timers and the open-session-list merge path — state
      // must stay bounded by live sessions exactly like the built-in.
      case "q11tws" =>
        StatefulProcessors.sessionWindowsTws(bids, delay = "5 seconds").toDF()
      // Online LSH near-dup claims under duplicate-heavy load: 1000
      // distinct synthetic texts cycle at full rate, so ~99.9% of
      // arrivals are duplicates — state must stay pinned at the bucket
      // count of the NOVEL corpus (≤ 4 bands x 1000 texts), not grow
      // with the stream.
      case "neardup" =>
        StatefulProcessors.nearDupStream(bids.select(
          (col("auction").cast("long") * 1000000L + col("bidder")).as("doc_id"),
          concat(lit("synthetic bid document text number "),
            (col("auction") % 1000).cast("string"),
            lit(" end marker")).as("text"),
          col("b_date_time").as("event_time"))).toDF()
      case "q12" => StreamQueries.q12(bids, sizeMs = 2000).toDF()
      // The explicit-timer gap twin (GapWindowProcessor): O(1) value
      // state + one proc-time timer per in-flight bidder.
      case "q12tws" =>
        StatefulProcessors.gapWindowsTws(bids, sizeMs = 2000).toDF()
      case "q5agg" =>
        // The stateful half of q5 (hopping count per auction); the
        // ranking half is batch-only (row_number is unsupported on
        // streams) and replays per batch in NexmarkRun — here only the
        // window-state aggregation is under test.
        bids.withWatermark("b_date_time", "5 seconds")
          .groupBy(window(col("b_date_time"), "10 seconds", "5 seconds")
            .as("win"), col("auction"))
          .agg(count(lit(1)).as("n_bids"))
      case "tumbling" =>
        // q7/q8's window-state shape: one aligned 10 s window per key.
        bids.withWatermark("b_date_time", "5 seconds")
          .groupBy(window(col("b_date_time"), "10 seconds").as("win"),
            col("auction"))
          .agg(count(lit(1)).as("n_bids"))
      // Per-auction price leaderboard (AuctionTopK, update mode): the
      // keep-best family — bounded (k=3) list state per key.
      case "topk" => StatefulProcessors.auctionTopK(bids).toDF()
      // Per-user inter-event gap spectrum (GapSpectrumProcessor): O(1)
      // last-seen state per user, one emission per event.
      case "gapspec" => StatefulProcessors.gapSpectrum(bids.select(
        col("bidder").cast("long").as("user_id"),
        col("auction").cast("long").as("event_id"),
        lit("bid").as("event_type"),
        col("b_date_time").as("ts"))).toDF()
      // Funnel state machine (view→click→purchase, FunnelProcessor):
      // O(1) per-user state; event types derived from the auction id so
      // ~1/27 of users complete (all three stages in order).
      case "funnel" => StatefulProcessors.funnelStages(bids.select(
        col("bidder").cast("long").as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          (col("auction") % 3).cast("int") + 1).as("event_type"),
        col("b_date_time").as("ts"))).toDF()
      // Session-path edge stream (SessionPathProcessor): O(1) per-user
      // last-event state, 1-2 transition edges per event.
      case "paths" => StatefulProcessors.sessionPaths(bids.select(
        col("bidder").cast("long").as("user_id"),
        col("auction").cast("long").as("event_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          (col("auction") % 3).cast("int") + 1).as("event_type"),
        col("b_date_time").as("ts")), gapUs = 10000000L).toDF()
      // Keep-best changelog (KeepBestProcessor): O(1) per-cluster best;
      // 1000 synthetic simhash clusters cycle at full rate, so nearly
      // every arrival is a challenger against existing state.
      case "keepbest" => StatefulProcessors.keepBest(bids.select(
        (col("auction") % 1000).cast("long").as("simhash"),
        (col("auction").cast("long") * 1000000L + col("bidder")).as("doc_id"),
        lit("soak").as("source"),
        col("price").cast("long").as("n_chars"))).toDF()
      case other => sys.error(s"unsupported soak shape: $other")
    }
  }

  /** topk emits a refreshed leaderboard per input batch → update mode;
    * every other shape emits once per closed window/claim → append.
    */
  private def modeOf(shape: String): String =
    if (shape == "topk") "update" else "append"

  private case class Probe(shape: String, eps: Int, secs: Int,
      batches: Int, inputRows: Long, meanH1: Double, meanH2: Double,
      maxMs: Long, stateRowsMid: Long, stateRowsLast: Long,
      stateMemMb: Double, calibS: Double) {
    /** Keeps up iff steady-state (second-half) batches fit one trigger
      * period (SoakRun.TriggerPeriodMs).
      */
    def sustained: Boolean = meanH2 < TriggerPeriodMs.toDouble
    // Locale.ROOT: the f-interpolator formats through the JVM default
    // locale; a comma-decimal locale (de_DE) would emit invalid JSON
    // (r10 advice).
    def json: String = String.format(java.util.Locale.ROOT,
      """{"shape":"%s","eps":%d,"secs":%d,"batches":%d,"input_rows":%d,""" +
      """"rows_per_sec":%d,"mean_batch_ms_h1":%.0f,"mean_batch_ms_h2":%.0f,""" +
      """"max_batch_ms":%d,"state_rows_mid":%d,"state_rows_last":%d,""" +
      """"state_mem_mb_last":%.1f,"calib_s":%.3f,"host_factor":%.2f,""" +
      """"sustained":%b}""",
      shape, Int.box(eps), Int.box(secs), Int.box(batches),
      Long.box(inputRows), Long.box(inputRows / secs),
      Double.box(meanH1), Double.box(meanH2), Long.box(maxMs),
      Long.box(stateRowsMid), Long.box(stateRowsLast),
      Double.box(stateMemMb), Double.box(calibS),
      Double.box(calibS / CalibUnitSecs), Boolean.box(sustained))
  }

  private def runProbe(spark: SparkSession, shape: String, eps: Int,
      secs: Int): Probe = {
    // Per-probe calibration (single shot, ~0.2 s): on hosts with variable
    // CPU availability (cloud steal / background load) the factor can
    // swing 2-4x WITHIN one capacity search, so a per-find factor
    // misattributes slow windows to the query shape. Stamping every probe
    // verdict with the calib measured seconds before it lets a reader
    // discount probes that ran in throttled windows — and makes the
    // "max sustained" semantics honest: a sustained probe is an
    // existence proof at its calib; an unsustained probe in a slow
    // window proves nothing about the shape.
    val calibS = warmCalibProbe(spark)
    val ckpt = s"/tmp/soak_ckpt_${shape}_${System.currentTimeMillis()}"
    val q = buildQuery(spark, shape, eps).writeStream.format("noop")
      .outputMode(modeOf(shape))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(s"$TriggerPeriodMs milliseconds"))
      .start()
    // Sample every progress update (recentProgress keeps the last 100;
    // at a 1 s trigger a <=100 s soak loses nothing).
    Thread.sleep(secs * 1000L)
    val progress = q.recentProgress.toSeq
    stopQuietly(q)
    Replay.delete(ckpt)
    case class Sample(batchMs: Long, inRows: Long, stateRows: Long,
        stateMemBytes: Long)
    val samples = progress.flatMap { p =>
      val ms = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue()).getOrElse(0L)
      val st = p.stateOperators.headOption
      if (p.numInputRows == 0 && ms == 0) None
      else Some(Sample(ms, p.numInputRows,
        st.map(_.numRowsTotal).getOrElse(0L),
        st.map(_.memoryUsedBytes).getOrElse(0L)))
    }
    require(samples.nonEmpty, "no progress samples — soak too short")
    val (h1, h2) = samples.splitAt(samples.size / 2)
    def mean(xs: Seq[Long]): Double =
      if (xs.isEmpty) 0 else xs.sum.toDouble / xs.size
    Probe(shape, eps, secs, samples.size, samples.map(_.inRows).sum,
      mean(h1.map(_.batchMs)), mean(h2.map(_.batchMs)),
      samples.map(_.batchMs).max,
      h1.lastOption.map(_.stateRows).getOrElse(0L),
      samples.last.stateRows, samples.last.stateMemBytes / 1e6, calibS)
  }

  /** Long soak at a fixed rate with a FULL progress trajectory: the
    * short-probe path reads `recentProgress` (last 100 events — fine for
    * 40-60 s probes, blind past ~100 s), so the soak attaches a
    * StreamingQueryListener and buckets every progress event into
    * per-minute rows. This is what distinguishes "keeps up for 40 s"
    * from a real ceiling: a state leak or RocksDB compaction stall shows
    * up in minutes, not seconds — flat per-minute batch means + flat
    * state rows over 10 min is the ceiling-confirmed evidence.
    */
  private def runSoak(spark: SparkSession, shape: String, eps: Int,
      secs: Int, injectEvery: Int = 0): String = {
    case class S(atMs: Long, batchMs: Long, inRows: Long, stateRows: Long,
        stateMemBytes: Long)
    val buf = scala.collection.mutable.ArrayBuffer.empty[S]
    val t0 = System.currentTimeMillis()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue()).getOrElse(0L)
        val st = p.stateOperators.headOption
        if (p.numInputRows > 0 || ms > 0) buf.synchronized {
          buf += S(System.currentTimeMillis() - t0, ms, p.numInputRows,
            st.map(_.numRowsTotal).getOrElse(0L),
            st.map(_.memoryUsedBytes).getOrElse(0L))
        }
      }
      override def onQueryTerminated(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val (calibS, hf) = hostFactor(spark)
    spark.streams.addListener(listener)
    val ckpt = s"/tmp/soak_ckpt_${shape}_${System.currentTimeMillis()}"
    val retryAcc =
      if (injectEvery > 0)
        Some(spark.sparkContext.longAccumulator(s"soak_inject_$shape"))
      else None
    try {
      val built = buildQuery(spark, shape, eps)
      val df = retryAcc match {
        case Some(a) =>
          FailureInjection.failEveryNthStage(built, a, injectEvery)
        case None => built
      }
      val q = df.writeStream.format("noop")
        .outputMode(modeOf(shape))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(s"$TriggerPeriodMs milliseconds"))
        .start()
      Thread.sleep(secs * 1000L)
      stopQuietly(q)
    } finally {
      spark.streams.removeListener(listener)
      // 10-min RocksDB soaks leave multi-GB checkpoints behind.
      Replay.delete(ckpt)
    }
    val samples = buf.synchronized(buf.toSeq)
    require(samples.nonEmpty, "no progress samples — soak too short")
    def mean(xs: Seq[Long]): Double =
      if (xs.isEmpty) 0 else xs.sum.toDouble / xs.size
    val minutes = samples.groupBy(_.atMs / 60000).toSeq.sortBy(_._1)
      .map { case (m, ss) =>
        String.format(java.util.Locale.ROOT,
          """{"m":%d,"batches":%d,"mean_batch_ms":%.0f,"max_batch_ms":%d,""" +
          """"state_rows":%d,"state_mem_mb":%.1f}""",
          Long.box(m), Int.box(ss.size), Double.box(mean(ss.map(_.batchMs))),
          Long.box(ss.map(_.batchMs).max), Long.box(ss.last.stateRows),
          Double.box(ss.last.stateMemBytes / 1e6))
      }
    val lastFive = samples.filter(_.atMs >= (secs - 300) * 1000L)
    val sustained = mean(lastFive.map(_.batchMs)) < TriggerPeriodMs.toDouble
    val injected = retryAcc.map(a =>
      s""""inject_every_stages":$injectEvery,""" +
        s""""injected_retries_survived":${a.value},""").getOrElse("")
    String.format(java.util.Locale.ROOT,
      """{"soak_shape":"%s","eps":%d,"secs":%d,"input_rows":%d,""" +
      """"calib_s":%.3f,"host_factor":%.2f,%s""" +
      """"sustained_last5min":%b,"minutes":[%s]}""",
      shape, Int.box(eps), Int.box(secs),
      Long.box(samples.map(_.inRows).sum), Double.box(calibS),
      Double.box(hf), injected, Boolean.box(sustained),
      minutes.mkString(","))
  }

  /** Concurrent-streams soak: all `specs` shapes run at once (own
    * checkpoints, shared session/cores) for `secs`; one JSON line with a
    * per-query minute trajectory and per-query sustained verdicts. The
    * interference measure is each shape's batch means here vs its solo
    * bracket at comparable calib.
    */
  private def runMulti(spark: SparkSession, specs: Seq[(String, Int, Int)],
      secs: Int): String = {
    case class S(atMs: Long, batchMs: Long, inRows: Long, stateRows: Long,
        backlogRows: Long)
    val bufs = specs.map(_ => scala.collection.mutable.ArrayBuffer.empty[S])
    // Route listener events by the DETERMINISTIC query name, mapped
    // before any query starts — registering by q.id after start() races
    // the first micro-batch's progress event (short runs could lose it
    // and trip the samples.nonEmpty check).
    val nameToBuf = specs.indices.map(i => s"soak_multi_$i" -> bufs(i)).toMap
    val t0 = System.currentTimeMillis()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val buf = nameToBuf.get(p.name).orNull
        if (buf != null) {
          val ms = Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue()).getOrElse(0L)
          val st = p.stateOperators.headOption
          // Row-count backlog exists only for the V2 generator source
          // (offset = id); the rate source's offsets are seconds.
          val backlog = p.sources.headOption
            .filter(s => Option(s.description).exists(
              _.startsWith("nexmark-gen")))
            .flatMap { s =>
              (Option(s.latestOffset).flatMap(_.toLongOption),
                Option(s.endOffset).flatMap(_.toLongOption)) match {
                case (Some(l), Some(end)) => Some(math.max(0L, l - end))
                case _ => None
              }
            }.getOrElse(-1L)
          if (p.numInputRows > 0 || ms > 0) buf.synchronized {
            buf += S(System.currentTimeMillis() - t0, ms, p.numInputRows,
              st.map(_.numRowsTotal).getOrElse(0L), backlog)
          }
        }
      }
    }
    val (calibS, hf) = hostFactor(spark)
    spark.streams.addListener(listener)
    val base = s"/tmp/soak_multi_${System.currentTimeMillis()}"
    try {
      val queries = specs.zipWithIndex.map { case ((shape, eps, cap), i) =>
        // cap > 0: the stream runs through the V2 generator source with
        // per-trigger admission bounded at the capacity while ids stay
        // AVAILABLE at the offered rate — each stream then carries its
        // own graceful-overload contract under CPU sharing (backlog
        // slope ≈ offered − admitted). cap == 0: the historical
        // unbounded rate source.
        val bids =
          if (cap > 0)
            graft.sources.NexmarkV2.bidStream(spark,
              totalEvents = eps.toLong * secs * 2,
              rowsPerTrigger =
                Some(Admission.rowsPerTrigger(cap.toLong, TriggerPeriodMs)),
              eventsPerSecond = Some(eps.toLong))
          else Nexmark.bidStream(spark, rowsPerSecond = eps)
        buildShape(spark, shape, bids).writeStream.format("noop")
          .queryName(s"soak_multi_$i")
          .outputMode(modeOf(shape))
          .option("checkpointLocation", s"$base/ckpt_$i")
          .trigger(Trigger.ProcessingTime(s"$TriggerPeriodMs milliseconds"))
          .start()
      }
      Thread.sleep(secs * 1000L)
      queries.foreach(stopQuietly)
    } finally {
      spark.streams.removeListener(listener)
      Replay.delete(base)
    }
    def mean(xs: Seq[Long]): Double =
      if (xs.isEmpty) 0 else xs.sum.toDouble / xs.size
    val perQuery = specs.zip(bufs).map { case ((shape, eps, cap), b) =>
      val samples = b.synchronized(b.toSeq)
      require(samples.nonEmpty, s"no progress samples for $shape")
      val minutes = samples.groupBy(_.atMs / 60000).toSeq.sortBy(_._1)
        .map { case (m, ss) =>
          val backlog = ss.reverseIterator.map(_.backlogRows)
            .find(_ >= 0).map(b => s""","backlog_rows":$b""").getOrElse("")
          String.format(java.util.Locale.ROOT,
            """{"m":%d,"batches":%d,"mean_batch_ms":%.0f,""" +
            """"max_batch_ms":%d,"state_rows":%d%s}""",
            Long.box(m), Int.box(ss.size),
            Double.box(mean(ss.map(_.batchMs))),
            Long.box(ss.map(_.batchMs).max), Long.box(ss.last.stateRows),
            backlog)
        }
      val lastFive = samples.filter(_.atMs >= (secs - 300) * 1000L)
      val sustained =
        mean(lastFive.map(_.batchMs)) < TriggerPeriodMs.toDouble
      // Admission ledger (cap > 0): measured backlog slope over the run
      // vs the contract's offered − admitted. Slope is taken between the
      // first and last backlog-bearing samples.
      val admission = if (cap <= 0) "" else {
        val withB = samples.filter(_.backlogRows >= 0)
        val slope =
          if (withB.size < 2) Double.NaN
          else (withB.last.backlogRows - withB.head.backlogRows) * 1000.0 /
            math.max(1L, withB.last.atMs - withB.head.atMs)
        String.format(java.util.Locale.ROOT,
          """"cap_eps":%d,"backlog_slope_rows_per_s":%.0f,""" +
          """"expected_slope_rows_per_s":%d,""",
          Int.box(cap), Double.box(slope),
          Int.box(math.max(0, eps - cap)))
      }
      String.format(java.util.Locale.ROOT,
        """{"shape":"%s","eps":%d,%s"input_rows":%d,""" +
        """"sustained_last5min":%b,"minutes":[%s]}""",
        shape, Int.box(eps), admission,
        Long.box(samples.map(_.inRows).sum),
        Boolean.box(sustained), minutes.mkString(","))
    }
    String.format(java.util.Locale.ROOT,
      """{"multi_soak_secs":%d,"calib_s":%.3f,"host_factor":%.2f,""" +
      """"queries":[%s]}""",
      Int.box(secs), Double.box(calibS), Double.box(hf),
      perQuery.mkString(","))
  }

  /** Bench.calibProbe with JIT warmup: rate ceilings quoted alongside it
    * become host-comparable across rounds (r11 verdict #6). The first
    * executions on a cold session measure class loading + codegen
    * compilation, not the host (observed 3.1 s cold vs 0.075 s warm on
    * one box — 40x). Two discarded warmup runs, then the median of three,
    * comparable to Bench's `_calib_*` readings (warmed the same way).
    */
  private def warmCalibProbe(spark: SparkSession): Double = {
    graft.Bench.calibProbe(spark); graft.Bench.calibProbe(spark)
    val xs = (1 to 3).map(_ => graft.Bench.calibProbe(spark)).sorted
    xs(1)
  }

  /** Unit-host calibration seconds: r11's closing bench measured 0.334 s
    * at host factor 1.305 (bench_full.json _calib_mid/_host_factor), i.e.
    * factor 1.0 ≡ ~0.256 s. Dividing a measured rate ceiling by
    * (calib_s / CalibUnitSecs) restates it on the unit host within the
    * probe's noise (±15%).
    */
  val CalibUnitSecs = 0.256

  /** Warm median-of-3 calibration → (calib seconds, host factor). */
  private def hostFactor(spark: SparkSession): (Double, Double) = {
    val med = warmCalibProbe(spark)
    (med, med / CalibUnitSecs)
  }

  /** Admission-bounded overload soak (r11 verdict #1): offer `offeredEps`
    * — deliberately ABOVE the shape's measured capacity — through a
    * file-landing generator, but let each trigger admit only
    * `Admission.filesPerTrigger(capEps, ...)` files. The bid corpus is
    * pre-generated into eighth-second tick files (event time follows the
    * generator schedule, so window semantics are exact); a feeder thread
    * moves one tick into the watched dir every 125 ms — landing is
    * rate-exact and free. Overload then shows up the only place it is
    * allowed to: as source backlog (landed − processed), growing linearly
    * at (offered − admitted) while batch means stay under the trigger and
    * window state stays flat.
    *
    * Output: one JSON line with per-minute trajectories of batch means,
    * state rows, and backlog rows, plus the sustained verdict.
    */
  private def runAdmitSoak(spark: SparkSession, shape: String,
      offeredEps: Int, capEps: Int, secs: Int): String = {
    import org.apache.spark.sql.functions.col
    val base = s"/tmp/soak_admit_${shape}_${System.currentTimeMillis()}"
    val (stage, in, ckpt) = (s"$base/stage", s"$base/in", s"$base/ckpt")
    new java.io.File(in).mkdirs()
    // Eighth-second ticks: fine enough that the admitted-rows bound can
    // sit within ~12% of capacity (file admission is whole-file).
    val ticksPerSec = 8
    val rowsPerTick = offeredEps.toLong / ticksPerSec
    val nTicks = secs * ticksPerSec + ticksPerSec // one spare second
    val filesPerTrig = Admission.filesPerTrigger(capEps.toLong,
      TriggerPeriodMs, rowsPerTick)
    val (calibS, hf) = hostFactor(spark)
    System.err.println(s"[soak] admit mode: offered=$offeredEps cap=$capEps" +
      s" rowsPerTick=$rowsPerTick filesPerTrigger=$filesPerTrig")

    // Pre-generate one parquet file per tick (deterministic generator ids;
    // event time = id / offeredEps seconds past the NEXMark base).
    val total = rowsPerTick * nTicks
    Nexmark.bidsFromIds(
        spark.range(0L, total, 1L, 32).toDF()
          .withColumn("tick", (col("id") / rowsPerTick).cast("long")),
        eventsPerSecond = offeredEps.toLong, keep = Seq("tick"))
      .repartition(nTicks, col("tick"))
      .write.partitionBy("tick").mode("overwrite").parquet(stage)
    val tickFile: Int => java.io.File = i => {
      val d = new java.io.File(stage, s"tick=$i")
      d.listFiles().filter(_.getName.startsWith("part-")).head
    }

    // Progress listener: per-minute batch/state trajectory + cumulative
    // processed rows (for the backlog ledger).
    case class S(atMs: Long, batchMs: Long, inRows: Long, stateRows: Long,
        landedRows: Long)
    val landed = new java.util.concurrent.atomic.AtomicLong(0L)
    val buf = scala.collection.mutable.ArrayBuffer.empty[S]
    val t0 = System.currentTimeMillis()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue()).getOrElse(0L)
        val st = p.stateOperators.headOption
        if (p.numInputRows > 0 || ms > 0) buf.synchronized {
          buf += S(System.currentTimeMillis() - t0, ms, p.numInputRows,
            st.map(_.numRowsTotal).getOrElse(0L), landed.get())
        }
      }
      override def onQueryTerminated(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val schema = spark.read.parquet(s"$stage/tick=0").schema
      val bids = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrig).parquet(in)
      val q = buildShape(spark, shape, bids).writeStream.format("noop")
        .outputMode(modeOf(shape))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(s"$TriggerPeriodMs milliseconds"))
        .start()
      // Feeder: move tick i into the watched dir at t0 + i*125 ms — a
      // rename, so landing cost is O(1) and the offered rate is exact.
      val feedEnd = System.currentTimeMillis() + secs * 1000L
      var i = 0
      while (System.currentTimeMillis() < feedEnd && i < nTicks) {
        val due = t0 + i.toLong * 1000L / ticksPerSec
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val dst = new java.io.File(in, f"t$i%06d.parquet")
        java.nio.file.Files.move(tickFile(i).toPath, dst.toPath)
        landed.addAndGet(rowsPerTick): Unit
        i += 1
      }
      stopQuietly(q)
    } finally {
      spark.streams.removeListener(listener)
      Replay.delete(base)
    }
    val samples = buf.synchronized(buf.toSeq)
    require(samples.nonEmpty, "no progress samples — soak too short")
    def mean(xs: Seq[Long]): Double =
      if (xs.isEmpty) 0 else xs.sum.toDouble / xs.size
    var processed = 0L
    val withBacklog = samples.map { s =>
      processed += s.inRows
      (s, s.landedRows - processed)
    }
    val minutes = withBacklog.groupBy(_._1.atMs / 60000).toSeq.sortBy(_._1)
      .map { case (m, ss) =>
        String.format(java.util.Locale.ROOT,
          """{"m":%d,"batches":%d,"mean_batch_ms":%.0f,"max_batch_ms":%d,""" +
          """"state_rows":%d,"backlog_rows":%d}""",
          Long.box(m), Int.box(ss.size),
          Double.box(mean(ss.map(_._1.batchMs))),
          Long.box(ss.map(_._1.batchMs).max),
          Long.box(ss.last._1.stateRows), Long.box(ss.last._2))
      }
    val lastFive = samples.filter(_.atMs >= (secs - 300) * 1000L)
    val sustained = mean(lastFive.map(_.batchMs)) < TriggerPeriodMs.toDouble
    String.format(java.util.Locale.ROOT,
      """{"admit_soak_shape":"%s","offered_eps":%d,"cap_eps":%d,""" +
      """"files_per_trigger":%d,"secs":%d,"input_rows":%d,""" +
      """"landed_rows":%d,"final_backlog_rows":%d,""" +
      """"calib_s":%.3f,"host_factor":%.2f,""" +
      """"sustained_last5min":%b,"minutes":[%s]}""",
      shape, Int.box(offeredEps), Int.box(capEps), Int.box(filesPerTrig),
      Int.box(secs), Long.box(samples.map(_.inRows).sum),
      Long.box(landed.get()), Long.box(withBacklog.last._2),
      Double.box(calibS), Double.box(hf),
      Boolean.box(sustained), minutes.mkString(","))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("-") && !v.startsWith("-") => k -> v
      case other => sys.error(
        s"bad argument pair '${other.mkString(" ")}' — expected -flag value")
    }.toMap
    val shape = opts.getOrElse("-q", "q11")
    val secs = opts.getOrElse("-s", "60").toInt
    val eps = opts.getOrElse("-e", "100000").toInt
    val cpus = opts.getOrElse("-c", "8").toInt
    val find = opts.get("-find").contains("1")
    val soak = opts.get("-soak").contains("1")

    val b = SparkSession.builder()
      // local[N,2]: one task retry — production-faithful, and required by
      // the -inject soak's surviving-retry proof.
      .master(s"local[$cpus,2]")
      .appName(s"graft-soak-$shape")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
    if (opts.get("-changelog").contains("1"))
      b.config("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true"): Unit
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (opts.get("-calib").contains("1")) {
      val (s, f) = hostFactor(spark)
      println(String.format(java.util.Locale.ROOT,
        """{"calib_s":%.3f,"host_factor":%.2f}""",
        Double.box(s), Double.box(f)))
      spark.stop()
      return
    }
    if (opts.get("-admit").contains("1")) {
      val cap = opts.getOrElse("-cap",
        sys.error("-admit 1 requires -cap <capacity eps>")).toInt
      println(runAdmitSoak(spark, shape, eps, cap, secs))
      spark.stop()
      return
    }
    if (opts.contains("-multi")) {
      // shape:offeredEps[:capacityEps] — a third field bounds that
      // stream's per-trigger admission through the V2 source (ids stay
      // available at the offered rate; overload becomes source backlog).
      val specs = opts("-multi").split(",").toSeq.map { s =>
        s.split(":") match {
          case Array(sh, e) => (sh.trim, e.trim.toInt, 0)
          case Array(sh, e, c) => (sh.trim, e.trim.toInt, c.trim.toInt)
          case other => sys.error(s"bad -multi spec '${other.mkString(":")}'")
        }
      }
      println(runMulti(spark, specs, secs))
      spark.stop()
      return
    }
    if (soak) {
      println(runSoak(spark, shape, eps, secs,
        injectEvery = opts.getOrElse("-inject", "0").toInt))
      spark.stop()
      return
    }
    if (!find) {
      println(runProbe(spark, shape, eps, secs).json)
      spark.stop()
      return
    }

    // Capacity search: double from -lo until unsustained (or -hi), then
    // bisect. Every probe prints, so the trajectory evidence (state rows,
    // half-means) is in the log next to the verdict.
    val lo0 = opts.getOrElse("-lo", "100000").toInt
    val hi0 = opts.getOrElse("-hi", "3200000").toInt
    def probe(e: Int): Probe = {
      val p = runProbe(spark, shape, e, secs)
      println(p.json)
      p
    }
    var lo = 0
    var hi = 0
    var e = lo0
    while (hi == 0 && e <= hi0) {
      if (probe(e).sustained) { lo = e; e *= 2 }
      else hi = e
    }
    if (hi == 0) {
      // Every doubling probe up to the user's -hi cap sustained: report
      // the largest observed-sustained rate and NO failure rate, instead
      // of bisecting into rates above the cap the user asked not to
      // exceed (r10 advice).
      println(s"""{"capacity_shape":"$shape","max_sustained_eps":$lo,""" +
        s""""first_unsustained_eps":null,"cpus":$cpus,"probe_secs":$secs}""")
      spark.stop()
      return
    }
    // First rate already failed: halve DOWN with real probes until a
    // sustained rate is found — max_sustained must always be a rate
    // that was actually observed keeping up, never an assumed floor.
    while (lo == 0 && hi > 12500) {
      val cand = hi / 2
      if (probe(cand).sustained) lo = cand else hi = cand
    }
    while (hi.toDouble / lo > 1.125 && hi - lo > 25000) {
      val mid = (lo + hi) / 2
      if (probe(mid).sustained) lo = mid else hi = mid
    }
    val (calibS2, hf2) = hostFactor(spark)
    println(s"""{"capacity_shape":"$shape","max_sustained_eps":$lo,""" +
      s""""first_unsustained_eps":$hi,"cpus":$cpus,"probe_secs":$secs,""" +
      String.format(java.util.Locale.ROOT,
        """"calib_s":%.3f,"host_factor":%.2f}""",
        Double.box(calibS2), Double.box(hf2)))
    spark.stop()
  }
}
