package graft.operators

import graft.Q
import graft.sources.NexmarkV2
import graft.streaming.{Nexmark, Replay, StatefulProcessors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hard-gate entries whose SOURCE is the native DataSource V2 generator
  * (graft.sources.NexmarkV2) — offset-range tracking, per-trigger
  * admission, checkpoint restarts MID-OFFSET-RANGE — rather than the
  * file-per-chunk landing pattern StreamGate uses. This closes the
  * semantics of the environment-blocked Kafka gap (reference
  * flock/src/datasource/kafka.rs:1-165: offset-based exactly-once +
  * maxOffsetsPerTrigger admission) with zero external dependencies: the
  * DuckDB hash gate proves the offset contract end to end, because any
  * gap or replay at a restart boundary changes the output hash.
  *
  * Replay discipline: each entry drains the SAME id range in several
  * Trigger.AvailableNow runs against one shared checkpoint, where each
  * run raises `totalEvents` (so every restart resumes from a committed
  * offset strictly inside the final range) and runs vary
  * `rowsPerTrigger` (so batch boundaries never align run-over-run).
  * Event time is monotone in id, so offset order IS event-time order —
  * the same arrival contract the file replays guarantee by time-ordered
  * chunk predicates.
  */
object V2SourceGate {
  /** One (totalEvents, rowsPerTrigger) segment = one AvailableNow run. */
  private final case class Seg(totalEvents: Long, rowsPerTrigger: Long)

  /** The scratch dir of V2 replay `tag` (Replay.scratch), wiped now; apart
    * from StreamGate's, whose tags overlap these.
    */
  private[graft] def base(tag: String): String = Replay.scratch(s"v2gate_$tag")

  /** Drain the V2 id stream through `transform` (Replay.drain), one
    * AvailableNow run per segment.
    */
  private def replayV2(s: SparkSession, tag: String, segments: Seq[Seg],
      transform: DataFrame => DataFrame): DataFrame = {
    require(segments.map(_.totalEvents) == segments.map(_.totalEvents).sorted,
      "segments must raise totalEvents monotonically")
    // Input-volume state-partition sizing (StreamGate.statePartitions):
    // the V2 id range is known exactly up front, so the input is
    // estimated as segments.last.totalEvents ids × ~32 B of projected
    // event row (3.2 MB, one partition, at the catalog's 100k events).
    Replay.drain(s, base(tag), s"v2_$tag",
      StreamGate.statePartitions(s, segments.last.totalEvents * 32L),
      segments.map(seg => () => NexmarkV2.ids(s, seg.totalEvents,
        rowsPerTrigger = Some(seg.rowsPerTrigger), numPartitions = 4)),
      transform)
  }

  private val B = "read_parquet('{NX}/bids/*.parquet')"

  /** ids → the batch-identical bid projection (only bid offsets of the
    * generator block survive), with id `sentinelAt` rewritten to a
    * far-future bidder=-1 marker whose watermark advance fires every
    * remaining event-time timer / closes every open window.
    */
  private def bidsWithSentinel(ids: DataFrame, sentinelAt: Long): DataFrame = {
    val cfg = Nexmark.Config()
    val keepBid = (col("id") % cfg.block) >=
      (cfg.personProportion + cfg.auctionProportion)
    val sent = col("id") === sentinelAt
    val raw = Nexmark.bidsFromIds(
      ids.filter(keepBid || sent), keep = Seq("id"))
    raw.select(
      when(sent, lit(-1)).otherwise(col("auction")).as("auction"),
      when(sent, lit(-1)).otherwise(col("bidder")).as("bidder"),
      when(sent, lit(0)).otherwise(col("price")).as("price"),
      when(sent, timestamp_millis(lit(Nexmark.BaseMs + 86400000L)))
        .otherwise(col("b_date_time")).as("b_date_time"))
  }

  /** Segment plan over the N+1-id range (the +1 is the sentinel): three
    * runs whose restart points and batch sizes share no divisor, so both
    * restarts land mid-offset-range AND mid-batch-grid. rowsPerTrigger is
    * sized for ~2 batches per segment — every segment still proves the
    * admission split AND the restart boundary, without paying RocksDB
    * commit overhead on a dozen micro-batches per entry.
    */
  private def segs(n: Long): Seq[Seg] = Seq(
    Seg(n * 2 / 5 + 7, n / 4 + 11),
    Seg(n * 4 / 5 + 3, n / 3 + 13),
    Seg(n + 1, n / 3 + 17))

  /** SessionWindowProcessor (explicit event-time timers) fed by the V2
    * source — the same semantics the file-chunked stw_q11_sessions pins,
    * now under offset-tracked admission and mid-range restarts; one
    * DuckDB session-islands recompute gates all three session
    * implementations (built-in, file-replayed tws, V2-sourced tws).
    */
  private val v2Sessions = Q(
    "stw_v2_q11_sessions",
    (s, _) => {
      val n = NexmarkBatch.N
      replayV2(s, "q11sess", segs(n),
        ids => StatefulProcessors.sessionWindowsTws(
          bidsWithSentinel(ids, n)).toDF())
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

  /** AuctionTopKLog (k-bounded leaderboard state) fed by the V2 source;
    * the append-only log recovers the final leaderboard by aggregation
    * (same argument as stw_auction_topk) — any offset gap or replay at
    * the two mid-range restarts would corrupt a rank's max-struct fold.
    */
  private val v2AuctionTopK = Q(
    "stw_v2_auction_topk",
    (s, _) => {
      val n = NexmarkBatch.N
      val cfg = Nexmark.Config()
      val keepBid = (col("id") % cfg.block) >=
        (cfg.personProportion + cfg.auctionProportion)
      // No sentinel: TimeMode.None — emission happens every touched batch.
      replayV2(s, "topk", segs(n).map(g => g.copy(totalEvents =
          math.min(g.totalEvents, n))),
        ids => StatefulProcessors.auctionTopKLog(
          Nexmark.bidsFromIds(ids.filter(keepBid)), 3).toDF())
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

  /** Built-in tumbling window aggregation (q7/q8's window-state shape)
    * fed by the V2 source: per-(10 s window, auction) bid counts with the
    * watermark advanced past every real window by the sentinel — the
    * built-in stateful operator's exactly-once under offset-tracked
    * admission and mid-range restarts.
    */
  private val v2Tumbling = Q(
    "stw_v2_tumbling_counts",
    (s, _) => {
      val n = NexmarkBatch.N
      replayV2(s, "tumbling", segs(n),
        ids => bidsWithSentinel(ids, n)
          .withWatermark("b_date_time", "5 seconds")
          .groupBy(window(col("b_date_time"), "10 seconds").as("win"),
            col("auction"))
          .agg(count(lit(1)).as("n_bids")))
        .filter(col("auction") =!= -1)
        .select(unix_millis(col("win.start")).as("win_start_ms"),
          col("auction"), col("n_bids"))
        .orderBy(col("win_start_ms"), col("auction"))
    },
    Some(s"""
      SELECT epoch_ms(b_date_time) - epoch_ms(b_date_time) % 10000
               AS win_start_ms,
             auction, COUNT(*) AS n_bids
      FROM $B
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** The YSB campaign-count query (reference benchmarks/src/ysb/ysb.sql)
    * fed by the V2 source: view-filter → broadcast campaign join →
    * 10 s tumbling count, with the watermark advanced past every real
    * window by a far-future sentinel id. Same oracle text as the batch
    * nx_ysb_campaigns entry — one DuckDB recompute pins the batch
    * replay AND the offset-tracked streaming run.
    */
  private val v2Ysb = Q(
    "stw_v2_ysb_counts",
    (s, _) => {
      val n = NexmarkBatch.N
      replayV2(s, "ysb", segs(n), ids => {
        val sent = col("id") === n
        val ev = graft.streaming.Ysb
          .adEventsOverIds(ids, keep = Seq("id"))
          .select(
            when(sent, lit(-1)).otherwise(col("ad_id")).as("ad_id"),
            when(sent, lit("view")).otherwise(col("event_type"))
              .as("event_type"),
            when(sent,
              timestamp_millis(lit(graft.streaming.Ysb.BaseMs + 86400000L)))
              .otherwise(col("event_time")).as("event_time"))
          .withWatermark("event_time", "5 seconds")
        graft.streaming.Ysb.query(ev, graft.streaming.Ysb.campaigns(s))
      })
        // epoch-µs normalization, same as the batch nx entries
        // (NexmarkBatch.usNormalize): both engines hash longs.
        .select(unix_micros(col("win_start")).as("win_start"),
          col("campaign_id"), col("n_views"))
        .orderBy(col("win_start"), col("campaign_id"))
    },
    Some(s"""
      WITH v AS (
        SELECT (epoch_us(event_time) // 10000000) * 10000000 AS win_start,
               ad_id
        FROM read_parquet('{NX}/ad_events/*.parquet')
        WHERE event_type = 'view')
      SELECT win_start, campaign_id, COUNT(*) AS n_views
      FROM v JOIN read_parquet('{NX}/campaigns/*.parquet') ON ad_id = c_ad_id
      GROUP BY win_start, campaign_id"""))

  val all: Seq[Q] = Seq(v2Sessions, v2AuctionTopK, v2Tumbling, v2Ysb)
}
