package graft.operators

import graft.Q
import graft.streaming.{Nexmark, Replay, ReplayConfs, StatefulProcessors}
import graft.streaming.ReplayConfs.withConfs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Hard-gate entries whose SPARK SIDE executes through
  * `transformWithState` (RocksDB state store, checkpointed restarts
  * across chunks), not through a batch twin — the streaming analogue of
  * nx_q10_file_sink's "the round trip IS the operator". Until round 10
  * the ten stateful processors were proven only by stream==batch
  * equality inside the test suite; these entries put three of them on
  * the driver's DuckDB hash gate directly (r9 verdict, next-round #2).
  *
  * Replay discipline (the file-per-chunk pattern the restart tests pin,
  * StreamingSpec.restartRuns): each chunk is appended to the source dir
  * as one parquet file and drained by its own Trigger.AvailableNow run
  * against the SAME checkpoint — so every entry also re-proves
  * checkpoint recovery (state, timers, and watermark all cross the
  * inter-chunk restarts), and event-time order across chunks is
  * guaranteed by time-ordered chunk keys.
  */
object StreamGate {
  /** Right-size the stateful shuffle for a replay from its input volume:
    * one state partition per started 32 MB of input, at least 1, at most
    * the session's core count so a large replay still spreads.
    *
    * One shuffle partition is one state-store instance per stateful
    * operator, and every micro-batch (data or no-data) pays a RocksDB load
    * and commit per instance. A gate replay moves well under 32 MB, so it
    * drains through a single store; any fixed floor above 1 only multiplies
    * the store lifecycle cost, since the read side's parallelism is the
    * source's, not the state's. The first micro-batch pins the choice in
    * the checkpoint's offset metadata, so every restart run agrees, and the
    * processors are per-key (groupByKey), so the partition count cannot
    * change any emitted row.
    */
  private[graft] def statePartitions(s: SparkSession, inputBytes: Long): Int = {
    val per = 32L << 20
    val cores = s.sparkContext.defaultParallelism.toLong
    math.max(1L, math.min(cores, (inputBytes + per - 1) / per)).toInt
  }

  /** Bytes of every file under `path`, checksum files included: a
    * checksumming file system (the local one) hides its `.crc` files from
    * listings, so the count is taken on the raw file system beneath it.
    */
  private[graft] def dirBytes(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    fs.getContentSummary(p).getLength
  }

  /** Stage every chunk of a replay in ONE job: `frame` is selected once
    * with its chunk key as `_ck`, and each row lands in `stage/_ck=k/`
    * (coalesce(1) keeps the one-file-per-chunk replay contract). Each
    * replay run then PROMOTES its chunk into the source dir with a
    * filesystem rename, so a run costs a syscall, not a Spark job. Every
    * chunk row is computed once, in this job, so no two chunks can see
    * different versions of the input and nothing needs pinning first.
    *
    * `key` names a row's chunk, `0 until n`; a row whose key is null or
    * outside that range (a null event time, a negative modulo) belongs to
    * no chunk and is not staged. `added` frames, an entry's own extra
    * chunks (a sentinel, a flush frame), become chunks `n, n+1, …`.
    * `unionAll` is positional, so each is first selected by `frame`'s
    * column names; one whose columns or types differ (nullability aside)
    * fails here, naming its chunk index.
    *
    * Intra-chunk row order is free: every order-sensitive processor sorts
    * its rows within the trigger (StatefulProcessors sortBy (tsUs, ...)),
    * and the rest are commutative by design (the interleaved-chunk gates
    * prove exactly that). One file per `_ck` partition rests on
    * `spark.sql.files.maxRecordsPerFile` being unset (0): a session that
    * sets it splits a chunk into several files, which `promoteChunk`
    * rejects.
    */
  private[graft] def stageChunks(s: SparkSession, stage: String,
      frame: DataFrame, key: Column, n: Int,
      added: Seq[DataFrame] = Nil): Unit = {
    val head = frame.schema
    val cols = head.fieldNames.map(c => col(s"`$c`")).toSeq
    val keyed = frame.select(cols :+ key.cast("int").as("_ck"): _*)
      .where(col("_ck").between(0, n - 1))
    added.zipWithIndex
      .map { case (c, j) =>
        val types = c.schema.fields.map(f => f.name -> f.dataType).toMap
        require(c.schema.length == head.length && head.forall(f =>
          types.get(f.name).exists(t => DataType.equalsStructurally(
            t, f.dataType, ignoreNullability = true))),
          s"stw chunk ${n + j} has schema ${c.schema.simpleString}; the " +
          s"keyed frame has ${head.simpleString} (columns are matched by name)")
        c.select(cols :+ lit(n + j).as("_ck"): _*)
      }
      .foldLeft(keyed)(_.unionAll(_))
      .coalesce(1)
      .write.partitionBy("_ck").mode("overwrite").parquet(stage)
  }

  /** Move chunk `i`'s staged file into the live source dir. A chunk that
    * produced no rows (possible at tiny SFs) gets the same empty single
    * parquet file the old per-chunk coalesce(1) write produced, so
    * run-level semantics (one new file per run) are unchanged.
    */
  private[graft] def promoteChunk(s: SparkSession, stage: String, in: String,
      i: Int, schema: StructType): Unit = {
    new java.io.File(in).mkdirs()
    val dir = new java.io.File(s"$stage/_ck=$i")
    val files = Option(dir.listFiles()).map(_.toSeq.filter(f =>
      f.isFile && f.getName.endsWith(".parquet"))).getOrElse(Seq.empty)
    require(files.size <= 1, s"stw chunk $i staged ${files.size} parquet " +
      "files, not one: a replay run must drain exactly one new file, and " +
      "coalesce(1) yields one only while spark.sql.files.maxRecordsPerFile " +
      "is unset (0)")
    if (files.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema).coalesce(1).write.mode("append").parquet(in)
    else java.nio.file.Files.move(files.head.toPath,
      java.nio.file.Paths.get(in, f"chunk$i%03d.parquet")): Unit
  }

  /** The scratch dir of stw replay `tag` (Replay.scratch), wiped now. */
  private[graft] def base(tag: String): String = Replay.scratch(s"stw_$tag")

  /** Drain `frame`, cut into chunks by `key` (stageChunks), plus the
    * `added` chunks through `transform` (Replay.drain), one AvailableNow
    * run per chunk in chunk order. Everything is staged first, because
    * the state partition count is read from the staged bytes, and each
    * run promotes its chunk into the source dir before it starts.
    */
  private def replay(s: SparkSession, tag: String, frame: DataFrame,
      key: Column, n: Int, transform: DataFrame => DataFrame,
      added: Seq[DataFrame] = Nil): DataFrame = {
    val dir = base(tag)
    val (in, stage, schema) = (s"$dir/in", s"$dir/stage", frame.schema)
    stageChunks(s, stage, frame, key, n, added)
    Replay.drain(s, dir, tag, statePartitions(s, dirBytes(s, stage)),
      (0 until n + added.size).map(i => () => {
        promoteChunk(s, stage, in, i, schema)
        s.readStream.schema(schema).parquet(in)
      }), transform)
  }

  /** The chunk of a row by ascending `cuts` on `v`: 0 below `cuts(0)`,
    * `i` in `[cuts(i-1), cuts(i))`, `cuts.size` at or above the last cut,
    * and null where `v` is null.
    */
  private def rangeKey(v: Column, cuts: Seq[Any]): Column =
    cuts.indices.tail.foldLeft(when(v < cuts.head, 0))((k, i) =>
      k.when(v < cuts(i), i)).when(v >= cuts.last, cuts.size)

  /** A bid's chunk by event-time cuts, in ms after Nexmark.BaseMs. */
  private def bidChunk(cutsMs: Long*): Column =
    rangeKey(unix_millis(col("b_date_time")), cutsMs.map(Nexmark.BaseMs + _))

  private val B = "read_parquet('{NX}/bids/*.parquet')"

  /** Oracle text of a batch catalog entry, verbatim — stream and batch
    * then hang off the SAME DuckDB recompute (the stw_gap_spectrum
    * pattern, generalized).
    */
  private def pOracle(name: String): String =
    Pipeline.all.find(_.name == name)
      .getOrElse(sys.error(s"no catalog entry '$name'")).oracle
      .getOrElse(sys.error(s"catalog entry '$name' has no oracle"))

  /** The events table's replay columns, and its three time-ordered
    * chunks (the per-key event-time arrival contract the order-sensitive
    * processors document, guaranteed by time-ordered chunk keys).
    */
  private def events(s: SparkSession, d: String): DataFrame =
    graft.Tables.load(s, d, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))

  private val eventChunk = rangeKey(col("ts"),
    Seq("2024-01-11 00:00:00", "2024-01-21 00:00:00")
      .map(lit(_).cast("timestamp")))

  /** SessionWindowProcessor (explicit event-time timers) over the NEXMark
    * bid replay: three time-ordered chunks + a far-future sentinel whose
    * watermark advance fires every remaining session timer. The oracle is
    * the same session-islands SQL that gates nx_q11 (built-in
    * session_window), so one DuckDB recompute now pins BOTH session
    * implementations.
    */
  private val stwSessions = Q(
    "stw_q11_sessions",
    (s, _) => {
      val sentinel = s.range(1).select(
        lit(-1).cast("int").as("auction"), lit(-1).cast("int").as("bidder"),
        lit(0).cast("int").as("price"),
        timestamp_millis(lit(Nexmark.BaseMs + 86400000L)).as("b_date_time"))
      replay(s, "q11sess", Nexmark.bids(s, NexmarkBatch.N),
          bidChunk(40000L, 80000L), 3,
          df => StatefulProcessors.sessionWindowsTws(df).toDF(), Seq(sentinel))
        .filter(col("bidder") =!= -1)
        .select(col("bidder"), col("sessionStartUs").as("session_start"),
          col("sessionEndUs").as("session_end"), col("nBids").as("n_bids"),
          col("minPrice").as("min_price"), col("maxPrice").as("max_price"))
        .orderBy(col("bidder"), col("session_start"))
    },
    Some(s"""
      WITH e AS (SELECT bidder, epoch_us(b_date_time) AS us, price FROM $B),
      m AS (
        SELECT bidder, us, price,
          CASE WHEN LAG(us) OVER w IS NULL
               OR us - LAG(us) OVER w >= 10000000 THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY bidder ORDER BY us)),
      g AS (
        SELECT bidder, us, price,
          SUM(new_s) OVER (PARTITION BY bidder ORDER BY us
                           ROWS UNBOUNDED PRECEDING) AS sid
        FROM m)
      SELECT bidder, MIN(us) AS session_start, MAX(us) + 10000000 AS session_end,
        COUNT(*) AS n_bids, MIN(price) AS min_price, MAX(price) AS max_price
      FROM g GROUP BY bidder, sid"""))

  /** BucketClaimProcessor (online MinHash-LSH first-claimant dedup) over
    * the real document corpus, strict arrival-contract mode: per-doc
    * verdicts at arrival, bucket claims crossing the chunk restarts. The
    * oracle replays the identical md5 minhash banding in DuckDB (the
    * p08-proven formulation); event time is monotone in doc_id, so the
    * batch-truth claimant is MIN(doc_id) per band-bucket.
    */
  private val stwNearDup = Q(
    "stw_neardup_claims",
    (s, d) => {
      import s.implicits._
      val t0 = 1700000000000L
      val docs = graft.Tables.load(s, d, "documents")
        .select($"doc_id", $"text",
          timestamp_millis(lit(t0) + $"doc_id" * 1000).as("event_time"))
      // One aggregate scalar to place the two chunk cuts (same pattern as
      // the iterative entries' per-round convergence reads). A chunk ends
      // at maxId/3 and 2·maxId/3 inclusive; ids are integers, so each `<=`
      // cut is a `<` cut one above it.
      val maxId = docs.agg(max($"doc_id")).first().getLong(0)
      replay(s, "neardup", docs,
          rangeKey($"doc_id", Seq(maxId / 3 + 1, 2 * maxId / 3 + 1)), 3,
          df => StatefulProcessors.nearDupStream(df, strict = true).toDF())
        .orderBy(col("docId"), col("band"))
    },
    Some(s"""
      WITH sh AS (SELECT doc_id, ${Pipeline.shinglesSqlDuck} AS sh
                  FROM documents),
      sigs AS (SELECT doc_id, ${Pipeline.minhashSqlDuck("sh")} FROM sh),
      bands AS (
        SELECT doc_id, 0 AS band, m0 AS h FROM sigs UNION ALL
        SELECT doc_id, 1, m1 FROM sigs UNION ALL
        SELECT doc_id, 2, m2 FROM sigs UNION ALL
        SELECT doc_id, 3, m3 FROM sigs),
      nn AS (SELECT * FROM bands WHERE h IS NOT NULL),
      cl AS (SELECT band, h, MIN(doc_id) AS claimant FROM nn GROUP BY 1, 2)
      SELECT nn.doc_id AS docId, CAST(nn.band AS INT) AS band,
        cl.claimant AS claimantId, nn.doc_id <> cl.claimant AS isDup
      FROM nn JOIN cl ON nn.band = cl.band AND nn.h = cl.h"""))

  /** GapSpectrumProcessor (per-user O(1) last-seen state) over the real
    * events table in three time-ordered chunks; the continuous per-gap
    * stream is rolled up to exactly the p108 batch histogram, so the
    * oracle is p108's SQL verbatim — stream and batch now hang off the
    * same DuckDB recompute.
    */
  private val stwGapSpectrum = Q(
    "stw_gap_spectrum",
    (s, d) => {
      replay(s, "gapspec", events(s, d), eventChunk, 3,
          df => StatefulProcessors.gapSpectrum(df).toDF())
        .select(col("eventType").as("event_type"), col("bucket"),
          col("gapUs"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n_gaps"), min(col("gapUs")).as("min_gap"),
          max(col("gapUs")).as("max_gap"))
        .orderBy(col("event_type"), col("bucket"))
    },
    Some("""
      WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                  FROM events),
      g AS (SELECT event_type,
              us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                AS gap
            FROM ev)
      SELECT event_type, CAST(length(bin(gap)) AS INT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_gaps,
        CAST(MIN(gap) AS BIGINT) AS min_gap,
        CAST(MAX(gap) AS BIGINT) AS max_gap
      FROM g WHERE gap IS NOT NULL
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** FunnelProcessor (per-user three-stage state machine) over the real
    * events table in three time-ordered chunks; output is the per-user
    * completion table (first view → first later click → first later
    * purchase), which is exactly p44's `p` CTE joined back through `c`
    * for the view timestamp — the stream must emit one row per converted
    * user with all three stage timestamps, across the chunk restarts.
    */
  private val stwFunnel = Q(
    "stw_funnel_complete",
    (s, d) => {
      replay(s, "funnel", events(s, d), eventChunk, 3,
          df => StatefulProcessors.funnelStages(df).toDF())
        .select(col("userId").as("user_id"), col("vUs").as("v_us"),
          col("cUs").as("c_us"), col("pUs").as("p_us"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      v AS (SELECT user_id, MIN(us) AS v_us FROM ev
            WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, v.v_us, MIN(e.us) AS c_us
            FROM ev e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.us > v.v_us
            GROUP BY e.user_id, v.v_us),
      p AS (SELECT e.user_id, c.v_us, c.c_us, MIN(e.us) AS p_us
            FROM ev e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.us > c.c_us
            GROUP BY e.user_id, c.v_us, c.c_us)
      SELECT user_id, v_us, c_us, p_us FROM p ORDER BY user_id"""))

  /** AttributionProcessor (per-user O(1) last-click state) over the same
    * three-chunk replay; the per-purchase decision stream rolls up to
    * exactly p46's status ledger, so the oracle is p46's SQL verbatim —
    * the stream's strictly-before + 1h-lookback semantics must reproduce
    * the batch RANGE-frame window scan across the chunk restarts.
    */
  private val stwAttribution = Q(
    "stw_attribution",
    (s, d) => {
      replay(s, "attr", events(s, d), eventChunk, 3,
          df => StatefulProcessors.attribution(df).toDF())
        .withColumn("status",
          when(col("attributed"), "attributed").otherwise("organic"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("lagUs")).as("sum_lag_us"),
          min(col("lagUs")).as("min_lag_us"),
          max(col("lagUs")).as("max_lag_us"))
        .orderBy(col("status"))
    },
    Some(pOracle("p46_attribution")))

  /** SessionPathProcessor (per-user O(1) last-event state) over the same
    * three-chunk replay plus a per-user `_FLUSH_` sentinel chunk (ts past
    * every real event) that closes still-open sessions — the production
    * drain. Aggregating the emitted edge stream reproduces p54's
    * transition matrix, so the oracle is p54's SQL verbatim.
    */
  private val stwSessionPaths = Q(
    "stw_session_paths",
    (s, d) => {
      val ev = events(s, d)
      val flush = ev
        .select(col("user_id")).distinct()
        .select(col("user_id"), col("user_id").as("event_id"),
          lit("_FLUSH_").as("event_type"),
          lit("2025-01-01 00:00:00").cast("timestamp").as("ts"))
      replay(s, "sesspath", ev, eventChunk, 3,
          df => StatefulProcessors.sessionPaths(df).toDF(), Seq(flush))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
        .orderBy(col("src"), col("dst"))
    },
    Some(pOracle("p54_session_paths")))

  /** KeepBestProcessor (per-SimHash-cluster argmax state) over the real
    * document corpus in three DELIBERATELY interleaved chunks
    * (doc_id % 3) — keep-best is a commutative/idempotent argmax fold,
    * so the gate feeds the worst case for an arrival contract to prove
    * there isn't one. The winner-CHANGE log recovers the final winner per
    * cluster by pure aggregation (each change strictly improves), and the
    * per-source retention ledger then matches p63's SQL verbatim.
    */
  private val stwKeepBest = Q(
    "stw_keep_best",
    (s, d) => {
      val docs = graft.Tables.load(s, d, "documents")
      val withSim = docs.select(col("doc_id"), col("source"), col("n_chars"),
        graft.functions.VectorFunctions.simhash60(
          Pipeline.tokenHashes(col("text"))).as("simhash"))
      val winners = replay(s, "keepbest", withSim, col("doc_id") % 3, 3,
          df => StatefulProcessors.keepBest(df).toDF())
        .groupBy(col("simhash"))
        .agg(max(struct(col("nChars"), (-col("docId")).as("nd"),
          col("source").as("src"))).as("top"))
      val kept = winners.groupBy(col("top.src").as("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("top.nChars")).as("kept_chars"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
          coalesce(col("kept_chars"), lit(0L)).as("kept_chars"))
        .orderBy(col("source"))
    },
    Some(pOracle("p63_keep_best")))

  /** SpaceSavingProcessor (p19's sketch as keyed RocksDB state) over the
    * events table in three interleaved chunks (event_id % 3 — exact-regime
    * SpaceSaving insertion is commutative, same no-contract proof as
    * keep-best). nSeen strictly increases every trigger that touches a
    * group, so the group's final emission (max nSeen) is the complete
    * top-3, and the oracle is p19's SQL verbatim.
    */
  private val stwHeavyHitters = Q(
    "stw_heavy_hitters",
    (s, d) => {
      val ev = graft.Tables.load(s, d, "events")
        .select(col("event_type"), col("user_id"), col("event_id"))
      val out = replay(s, "hh", ev, col("event_id") % 3, 3,
        df => StatefulProcessors.heavyHittersTws(df, 3, 262144).toDF())
      val last = out.groupBy(col("group")).agg(max(col("nSeen")).as("nSeen"))
      out.join(last, Seq("group", "nSeen"))
        .select(col("group").as("event_type"), col("rank"),
          col("value").as("user_id"), col("count").as("cnt"))
        .orderBy(col("event_type"), col("rank"))
    },
    Some(pOracle("p19_heavy_hitters")))

  /** AuctionTopKLog (k-bounded per-auction leaderboard state) over the
    * NEXMark bid replay in three time chunks. The append-only parquet log
    * recovers the final leaderboard by aggregation: a rank's entry only
    * ever improves in (price desc, tsUs asc, bidder asc), so final =
    * max(struct(price, -tsUs, -bidder)) per (auction, rank). Oracle: the
    * per-auction top-3 recompute under the same total order.
    */
  private val stwAuctionTopK = Q(
    "stw_auction_topk",
    (s, _) => {
      replay(s, "topk", Nexmark.bids(s, NexmarkBatch.N),
          bidChunk(33000L, 66000L), 3,
          df => StatefulProcessors.auctionTopKLog(df, 3).toDF())
        .groupBy(col("auction"), col("rank"))
        .agg(max(struct(col("price"), (-col("tsUs")).as("nts"),
          (-col("bidder")).as("nb"))).as("w"))
        .select(col("auction"), col("rank"), col("w.price").as("price"),
          (-col("w.nb")).as("bidder"), (-col("w.nts")).as("ts_us"))
        .orderBy(col("auction"), col("rank"))
    },
    Some(s"""
      WITH b AS (SELECT auction, bidder, price, epoch_us(b_date_time) AS us
                 FROM $B),
      r AS (SELECT auction, price, bidder, us,
              CAST(ROW_NUMBER() OVER (PARTITION BY auction
                ORDER BY price DESC, us, bidder) AS INT) AS rank
            FROM b)
      SELECT auction, rank, price, bidder, us AS ts_us
      FROM r WHERE rank <= 3 ORDER BY auction, rank"""))

  private def awaitBatch(q: org.apache.spark.sql.streaming.StreamingQuery,
      minBatchId: Long): Unit = {
    val end = System.currentTimeMillis() + 60000
    def done = Option(q.lastProgress).exists(_.batchId >= minBatchId)
    while (!done && System.currentTimeMillis() < end) Thread.sleep(10)
    require(done, s"manual-clock batch $minBatchId did not complete in 60s" +
      s" (last: ${Option(q.lastProgress).map(_.batchId)})")
  }

  private def awaitRows(rows: () => Seq[org.apache.spark.sql.Row],
      n: Long): Unit = {
    val end = System.currentTimeMillis() + 60000
    while (rows().size < n && System.currentTimeMillis() < end)
      Thread.sleep(10)
    require(rows().size >= n, s"manual-clock sink stuck at ${rows().size}" +
      s" rows, want $n")
  }

  /** GapWindowProcessor (q12's PROCESSING-TIME gap windows on explicit
    * timers) on the hash gate — the entry the invariant-style nx_q12
    * oracle could never be: processing time is wall-clock, so exact
    * boundaries need the trigger driven by a MANUAL clock (the StreamTest
    * injection point, shims.startWithManualClock; same machinery as the
    * StreamingSpec boundary tests, now replaying the full NEXMark bid
    * corpus for the driver's DuckDB compare).
    *
    * Script: four event-time chunks of the bid table land as one parquet
    * file per trigger at clock times t0, t0+1s, t0+2s, t0+3s (window size
    * 1.5 s), then one far jump fires every remaining timer. A window
    * opening at batch i therefore absorbs batch i+1 and closes before
    * batch i+2, so the truth is a per-bidder greedy chain over chunk
    * occupancy — s_i = has_bids_i AND NOT s_{i-1} — expressible in plain
    * SQL: window(i) covers exactly chunks i and i+1. This exercises every
    * path of the processor: multi-batch extension, timer close, inline
    * close with the stale-timer guard, and reopen.
    *
    * The MemorySink readback is the manual-clock harness' contract (a
    * test sink, driver-side by design); output volume is bounded at ≤2
    * windows per distinct bidder. The one-row `first()` reads the
    * expected window count off the staged `bidder, _ck` files — the
    * scalar-read pattern the iterative entries use for convergence
    * checks.
    */
  private val stwGapWindows = Q(
    "stw_q12_gap_windows",
    (s, _) => {
      import s.implicits._
      val t0 = 1000000L; val stepMs = 1000L; val sizeMs = 1500L
      val dir = base("q12gap")
      val (in, stage, ckpt) = (s"$dir/in", s"$dir/stage", s"$dir/ckpt")
      // The processor reads only `bidder`; the chunk key needs the event
      // time, so both are staged and the source reads `bidder` alone.
      stageChunks(s, stage,
        Nexmark.bids(s, NexmarkBatch.N).select(col("bidder"), col("b_date_time")),
        bidChunk(25000L, 50000L, 75000L), 4)
      val schema = StructType.fromDDL("bidder INT")
      val nExpected = s.read.schema("bidder INT, _ck INT").parquet(stage)
        .groupBy(col("bidder"))
        .agg(max(when(col("_ck") === 0, 1).otherwise(0)).as("b0"),
          max(when(col("_ck") === 1, 1).otherwise(0)).as("b1"),
          max(when(col("_ck") === 2, 1).otherwise(0)).as("b2"),
          max(when(col("_ck") === 3, 1).otherwise(0)).as("b3"))
        .withColumn("s0", col("b0"))
        .withColumn("s1", col("b1") * (lit(1) - col("s0")))
        .withColumn("s2", col("b2") * (lit(1) - col("s1")))
        .withColumn("s3", col("b3") * (lit(1) - col("s2")))
        .agg(sum((col("s0") + col("s1") + col("s2") + col("s3"))
          .cast("long"))).first().getLong(0)
      promoteChunk(s, stage, in, 0, schema)
      // Same input-volume state-partition sizing as replay (see
      // statePartitions): set before the manual-clock query starts.
      val parts = statePartitions(s, dirBytes(s, stage) + dirBytes(s, in))
      val out = withConfs(s, ReplayConfs.replay(parts): _*) {
        Replay.injecting(s, "q12gap") { inject =>
          val clock = new org.apache.spark.sql.graft.shims.GraftManualClock(t0)
          val (q, rows) =
            org.apache.spark.sql.graft.shims.startWithManualClock(
              inject(StatefulProcessors.gapWindowsTws(
                s.readStream.schema(schema).parquet(in), sizeMs).toDF()),
              ckpt, clock, stepMs,
              org.apache.spark.sql.streaming.OutputMode.Append())
          try {
            awaitBatch(q, 0)
            (1 to 3).foreach { i =>
              promoteChunk(s, stage, in, i, schema)
              clock.advance(stepMs)
              awaitBatch(q, i)
            }
            clock.advance(sizeMs + 2 * stepMs) // one far batch: fire the rest
            awaitRows(rows, nExpected)
          } finally q.stop()
          rows().map(r => (r.getInt(0), ((r.getLong(1) - t0) / stepMs).toInt,
            r.getLong(2) - r.getLong(1), r.getLong(3)))
        }
      }
      out.toDF("bidder", "win_batch", "win_len_ms", "n_bids")
        .orderBy(col("bidder"), col("win_batch"))
    },
    Some {
      val cUs = Seq(25000L, 50000L, 75000L).map(c => (Nexmark.BaseMs + c) * 1000L)
      s"""
      WITH b AS (SELECT bidder, epoch_us(b_date_time) AS us FROM $B),
      occ AS (SELECT bidder,
        CAST(SUM(CASE WHEN us < ${cUs(0)} THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        CAST(SUM(CASE WHEN us >= ${cUs(0)} AND us < ${cUs(1)} THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(SUM(CASE WHEN us >= ${cUs(1)} AND us < ${cUs(2)} THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        CAST(SUM(CASE WHEN us >= ${cUs(2)} THEN 1 ELSE 0 END) AS BIGINT) AS c3
      FROM b GROUP BY bidder),
      f AS (SELECT bidder, c0, c1, c2, c3,
        (c0 > 0) AS s0,
        (c1 > 0 AND NOT (c0 > 0)) AS s1,
        (c2 > 0 AND NOT (c1 > 0 AND NOT (c0 > 0))) AS s2,
        (c3 > 0 AND NOT (c2 > 0 AND NOT (c1 > 0 AND NOT (c0 > 0)))) AS s3
      FROM occ)
      SELECT bidder, CAST(0 AS INT) AS win_batch,
        CAST(1500 AS BIGINT) AS win_len_ms, c0 + c1 AS n_bids
      FROM f WHERE s0
      UNION ALL SELECT bidder, CAST(1 AS INT), CAST(1500 AS BIGINT), c1 + c2
      FROM f WHERE s1
      UNION ALL SELECT bidder, CAST(2 AS INT), CAST(1500 AS BIGINT), c2 + c3
      FROM f WHERE s2
      UNION ALL SELECT bidder, CAST(3 AS INT), CAST(1500 AS BIGINT), c3
      FROM f WHERE s3
      ORDER BY bidder, win_batch"""
    })

  val all: Seq[Q] = Seq(stwSessions, stwNearDup, stwGapSpectrum,
    stwFunnel, stwAttribution, stwSessionPaths, stwKeepBest,
    stwHeavyHitters, stwAuctionTopK, stwGapWindows)
}
