package graft.operators

import graft.Q
import graft.streaming.{Nexmark, Replay, StreamQueries, Ysb}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** NEXMark q0–q13 as batch replays of the deterministic generator
  * (SURVEY §2.D query-to-capability matrix; reference SQL at
  * benchmarks/src/nexmark/query/q*.sql) — the same transforms the
  * streaming module runs on live frames (graft.streaming.StreamQueries),
  * driven here over a fixed 100k-event replay exactly like the reference's
  * local query tests (flock/src/datasource/nexmark/queries/q*.rs).
  *
  * Oracle strategy (round-2): Verify materializes the generator tables to
  * parquet (a temp dir substituted for `{NX}` below), so DuckDB
  * replays the *identical* data and every query here is hash-checked
  * against an independent SQL formulation of the reference semantics.
  * Even nx_q12 (processing-time-windowed, so boundaries are
  * non-deterministic) is checked via its conservation invariant: summed
  * per-bidder window counts must equal the bidder's total bid count.
  *
  * Output normalization for the cross-engine compare: TIMESTAMP columns
  * become epoch-µs longs on both sides (Spark `unix_micros` == DuckDB
  * `epoch_us`), and integer averages truncate toward zero on both sides
  * (Spark `CAST(x AS LONG)` == DuckDB `CAST(trunc(x) AS BIGINT)` for the
  * non-negative sums here).
  */
object NexmarkBatch {
  /** Fixed replay length; Verify dumps the generator tables at the same N
    * so the DuckDB oracles replay identical data. SPARK_GRAFT_NX_N
    * overrides for scale runs (the generator, every nx/stw entry, and the
    * dumped oracle tables all follow it together — the hash gate stays
    * closed at any N).
    */
  val N: Long =
    sys.env.get("SPARK_GRAFT_NX_N").map(_.toLong).getOrElse(100000L)

  private def bids(s: SparkSession) = Nexmark.bids(s, N)
  private def auctions(s: SparkSession) = Nexmark.auctions(s, N)
  private def persons(s: SparkSession) = Nexmark.persons(s, N)

  // Oracle-side table refs over the Verify-dumped generator parquet.
  private val B = "read_parquet('{NX}/bids/*.parquet')"
  private val A = "read_parquet('{NX}/auctions/*.parquet')"
  private val P = "read_parquet('{NX}/persons/*.parquet')"
  private val S = "read_parquet('{NX}/side/*.parquet')"
  private val AD = "read_parquet('{NX}/ad_events/*.parquet')"
  private val C = "read_parquet('{NX}/campaigns/*.parquet')"

  /** TIMESTAMP output columns → epoch-µs longs, names unchanged. */
  private def usNormalize(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case TimestampType => unix_micros(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }: _*)

  private def entry(name: String, oracle: Option[String] = None)(
      f: SparkSession => DataFrame): Q =
    Q(name, (s, _) => usNormalize(f(s)), oracle)

  /** q10 — "log to file system" (reference forces the S3 file sink for q10:
    * benchmarks/src/nexmark/main.rs:125-128; query/q10.sql partitions by
    * date/hour). The ROUND TRIP is the operator: bids replayed through a
    * file source → checkpointed, date/hour-PARTITIONED streaming parquet
    * sink → sink re-read; the re-read frame is what the DuckDB oracle
    * hashes against the generator dump, so a schema/partition/commit bug
    * anywhere in the sink path fails the gate. Dirs are wiped per call so
    * a stale checkpoint can never serve a previous code version's output;
    * the path is per-PROCESS (pid suffix) so a concurrent Verify and sbt
    * test JVM can't wipe each other's in-flight sink mid-stream.
    */
  def q10FileSink(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = Replay.scratch("q10_sink")
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    // Landing stays at the generator's 8 range partitions: an r15 probe
    // of guide-§6 file sizing (coalesce to ~128 MB targets — one file at
    // this N) read WORSE warm (2.9–3.2 s vs 1.7–2.0 s): the single task
    // serializes both the 92k-row generator expressions and the batch's
    // scan+sink work, and at this volume that parallelism loss exceeds
    // the per-file overhead saved. Numbers in OPTIMIZATION_r15.md.
    val landed = bids(s)
    landed.write.mode("overwrite").parquet(inDir)
    // The schema just written: the stream needs no inference job.
    val shaped = s.readStream.schema(landed.schema)
      .parquet(inDir)
      .select(col("auction"), col("bidder"), col("price"), col("b_date_time"),
        to_date(col("b_date_time")).as("b_date"),
        hour(col("b_date_time")).as("b_hour"))
    val q = shaped.writeStream.format("parquet")
      .partitionBy("b_date", "b_hour")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    require(q.awaitTermination(120000), "q10 file sink did not drain in 120s")
    // Explicit casts pin the output schema against partition-type
    // inference; localCheckpoint pins the VALUES eagerly — the returned
    // frame must stay valid after a later call wipes and rewrites the
    // sink dir (DeterminismSpec holds two invocations side by side).
    s.read.parquet(outDir).select(
      col("auction"), col("bidder"), col("price"),
      unix_micros(col("b_date_time")).as("b_date_time"),
      col("b_date").cast("string").as("b_date"),
      col("b_hour").cast("long").as("b_hour"))
      .localCheckpoint()
  }

  val all: Seq[Q] = Seq(
    // q0 — passthrough (query/q0.sql).
    entry("nx_q0_passthrough", Some(s"""
      SELECT auction, bidder, price, epoch_us(b_date_time) AS b_date_time
      FROM $B"""))(s => StreamQueries.q0(bids(s))),

    // q1 — currency conversion (query/q1.sql): 0.908 * price, truncated.
    entry("nx_q1_currency", Some(s"""
      SELECT auction, bidder, CAST(trunc(price * 0.908) AS BIGINT) AS price_eur,
        epoch_us(b_date_time) AS b_date_time
      FROM $B"""))(s => StreamQueries.q1(bids(s))),

    // q2 — selection auction % 123 = 0 (query/q2.sql).
    entry("nx_q2_selection", Some(s"""
      SELECT auction, price FROM $B WHERE auction % 123 = 0"""))(
      s => StreamQueries.q2(bids(s))),

    // q3 — local item suggestion (query/q3.sql).
    entry("nx_q3_local_item", Some(s"""
      SELECT name, city, state, a_id
      FROM $A a JOIN $P p ON seller = p_id
      WHERE category = 3 AND state IN ('or', 'id', 'ca')"""))(
      s => StreamQueries.q3(auctions(s), persons(s))),

    // q4 — average winning bid per category (query/q4.sql).
    entry("nx_q4_avg_winning_bid", Some(s"""
      WITH winning AS (
        SELECT a_id, category, MAX(price) AS final_price
        FROM $B b JOIN $A a ON b.auction = a.a_id
          AND b.b_date_time BETWEEN a.a_date_time AND a.expires
        GROUP BY a_id, category)
      SELECT category,
        CAST(trunc(CAST(SUM(final_price) AS DOUBLE) / COUNT(*)) AS BIGINT) AS avg_final_price
      FROM winning GROUP BY category"""))(
      s => StreamQueries.q4(bids(s), auctions(s))),

    // q5 — hot items, Hopping(10 s, 5 s) + top auction per window (query/q5.sql).
    entry("nx_q5_hot_items", Some(s"""
      WITH c AS (
        SELECT ((epoch_us(b_date_time) // 5000000) - k) * 5000000 AS win_start,
          auction, COUNT(*) AS n_bids
        FROM $B CROSS JOIN (VALUES (0), (1)) ks(k)
        GROUP BY win_start, auction),
      r AS (
        SELECT win_start, auction, n_bids,
          ROW_NUMBER() OVER (PARTITION BY win_start
                             ORDER BY n_bids DESC, auction) AS rk
        FROM c)
      SELECT win_start, auction, n_bids FROM r WHERE rk = 1"""))(
      s => StreamQueries.q5(bids(s))),

    // q6 — avg of last 10 winning bids per seller (query/q6.sql).
    entry("nx_q6_avg_seller_price", Some(s"""
      WITH j AS (
        SELECT a.a_id, a.seller, b.price, b.b_date_time,
          ROW_NUMBER() OVER (PARTITION BY a.a_id
                             ORDER BY b.price DESC, b.b_date_time) AS rk_bid
        FROM $B b JOIN $A a ON b.auction = a.a_id
          AND b.b_date_time BETWEEN a.a_date_time AND a.expires),
      w AS (SELECT seller, price, b_date_time, a_id FROM j WHERE rk_bid = 1),
      r AS (
        SELECT seller, price,
          ROW_NUMBER() OVER (PARTITION BY seller
                             ORDER BY b_date_time DESC, a_id) AS rk_recent
        FROM w)
      SELECT seller,
        CAST(trunc(CAST(SUM(price) AS DOUBLE) / COUNT(*)) AS BIGINT) AS avg_last10_price
      FROM r WHERE rk_recent <= 10 GROUP BY seller"""))(
      s => StreamQueries.q6(bids(s), auctions(s))),

    // q7 — highest bid per Tumbling(10 s) window (query/q7.sql); ties all emit.
    entry("nx_q7_highest_bid", Some(s"""
      WITH b AS (
        SELECT (epoch_us(b_date_time) // 10000000) * 10000000 AS win_start,
          auction, bidder, price
        FROM $B),
      m AS (SELECT win_start, MAX(price) AS max_price FROM b GROUP BY win_start)
      SELECT b.win_start, auction, bidder, price
      FROM b JOIN m ON b.win_start = m.win_start AND price = max_price"""))(
      s => StreamQueries.q7(bids(s))),

    // q8 — monitor new users: persons ⋈ sellers in the same window (query/q8.sql).
    entry("nx_q8_monitor_new_users", Some(s"""
      WITH p AS (
        SELECT DISTINCT (epoch_us(p_date_time) // 10000000) * 10000000 AS win_start,
          p_id, name
        FROM $P),
      a AS (
        SELECT DISTINCT (epoch_us(a_date_time) // 10000000) * 10000000 AS win_start,
          seller
        FROM $A)
      SELECT p.win_start, p_id, name
      FROM p JOIN a ON p_id = seller AND p.win_start = a.win_start"""))(
      s => StreamQueries.q8(persons(s), auctions(s))),

    // q9 — winning bid per auction (query/q9.sql); b_date_time is unique per
    // bid (generator injects id-distinct ms offsets), so rk ties are impossible.
    entry("nx_q9_winning_bids", Some(s"""
      WITH j AS (
        SELECT a.a_id, a.category, b.bidder, b.price, b.b_date_time,
          ROW_NUMBER() OVER (PARTITION BY a.a_id
                             ORDER BY b.price DESC, b.b_date_time) AS rk
        FROM $B b JOIN $A a ON b.auction = a.a_id
          AND b.b_date_time BETWEEN a.a_date_time AND a.expires)
      SELECT a_id, category, bidder, price, epoch_us(b_date_time) AS b_date_time
      FROM j WHERE rk = 1"""))(
      s => StreamQueries.q9(bids(s), auctions(s))),

    // q10 — file-sink round trip (see q10FileSink above).
    entry("nx_q10_file_sink", Some(s"""
      SELECT auction, bidder, price, epoch_us(b_date_time) AS b_date_time,
        strftime(b_date_time, '%Y-%m-%d') AS b_date,
        hour(b_date_time) AS b_hour
      FROM $B"""))(q10FileSink),

    // q11 — bids per bidder per Session(10 s) (query/q11.sql). Session
    // islands use >= gap — the STREAMING session_window / explicit-timer
    // semantics; the Spark side is q11Batch's gaps-and-islands because
    // the built-in's BATCH path merges touching sessions (see q11Batch).
    entry("nx_q11_bid_sessions", Some(s"""
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
      FROM g GROUP BY bidder, sid"""))(
      s => StreamQueries.q11Batch(bids(s))),

    // q12 — processing-time windows (query/q12.sql). The window BOUNDARIES
    // depend on wall-clock by construction, but every bid lands in exactly
    // one gap window, so the per-bidder SUM of window counts is invariant:
    // it must equal the bidder's total bid count no matter how the clock
    // sliced the stream. That invariant IS the oracle — DuckDB recomputes
    // the totals directly, and a q12 that drops, duplicates, or misroutes a
    // bid across windows now fails the hash gate.
    entry("nx_q12_ptime_windows", Some(s"""
      SELECT bidder, COUNT(*) AS n_bids FROM $B GROUP BY bidder"""))(s =>
      StreamQueries.q12(bids(s)).toDF()
        .groupBy(col("bidder")).agg(sum(col("nBids")).as("n_bids"))
        .orderBy(col("bidder"))),

    // q13 — bounded side-input join (query/q13.sql).
    entry("nx_q13_side_input", Some(s"""
      SELECT auction, bidder, price, value
      FROM $B b JOIN $S s ON auction % 1000 = key"""))(
      s => StreamQueries.q13(bids(s), Nexmark.sideInput(s))),

    // YSB — filter view events, join ad→campaign, count per campaign per
    // Tumbling(10 s) window (benchmarks/src/ysb/ysb.sql).
    entry("nx_ysb_campaigns", Some(s"""
      WITH v AS (
        SELECT (epoch_us(event_time) // 10000000) * 10000000 AS win_start, ad_id
        FROM $AD WHERE event_type = 'view')
      SELECT win_start, campaign_id, COUNT(*) AS n_views
      FROM v JOIN $C ON ad_id = c_ad_id
      GROUP BY win_start, campaign_id"""))(s =>
      Ysb.query(Ysb.adEvents(s, N), Ysb.campaigns(s))
        .orderBy(col("win_start"), col("campaign_id"))))
}
