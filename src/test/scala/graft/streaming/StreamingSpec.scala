package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class BidCC(auction: Int, bidder: Int, price: Int,
    b_date_time: java.sql.Timestamp)

case class DocCC(doc_id: Long, text: String, lang: String,
    event_time: java.sql.Timestamp)

case class EvCC(user_id: Long, event_type: String, ts: java.sql.Timestamp)
case class KeepCC(simhash: Long, doc_id: Long, source: String, n_chars: Long)
case class PathEvCC(user_id: Long, event_id: Long, event_type: String,
    ts: java.sql.Timestamp)

/** Streaming correctness: the same transform applied to a batch frame and
  * to a MemoryStream of the same rows must agree — mirroring the
  * reference's per-query local replays
  * (flock/src/datasource/nexmark/queries/q*.rs).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val N = 20000L
  private lazy val batchBids = Nexmark.bids(spark, N).cache()
  private lazy val batchAuctions = Nexmark.auctions(spark, N).cache()
  private lazy val batchPersons = Nexmark.persons(spark, N).cache()

  private def bidRows: Seq[BidCC] = batchBids.as[BidCC].collect().toSeq

  /** Run `transform` over a MemoryStream fed with all of `rows`, return the
    * sink table contents.
    */
  private def streamed(rows: Seq[BidCC], mode: String, name: String)(
      transform: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[BidCC]
    ms.addData(rows)
    val q = transform(ms.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"streaming/batch mismatch: ${a.count()} vs ${b.count()} rows")
  }

  test("generator is deterministic and has the 1:3:46 event mix") {
    assert(batchBids.count() == N / 50 * 46)
    assert(batchAuctions.count() == N / 50 * 3)
    assert(batchPersons.count() == N / 50)
    val again = Nexmark.bids(spark, N)
    assertSameRows(batchBids, again)
  }

  test("streaming heavy hitters (sketch as mapGroupsWithState state) == batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    // Bidder frequencies per auction-parity group, fed in two chunks so the
    // sketch state must survive a batch boundary via serialization.
    val rows = batchBids.limit(4000)
      .selectExpr("CAST(auction % 3 AS STRING) AS group", "CAST(bidder AS BIGINT) AS key")
      .as[(String, Long)].collect().toSeq
    val ms = MemoryStream[(String, Long)]
    val q = StreamSketches
      .heavyHittersStream(ms.toDF().toDF("group", "key"), k = 5, capacity = 4096)
      .writeStream.format("memory").queryName("hh_sink").outputMode("update").start()
    ms.addData(rows.take(2000)); q.processAllAvailable()
    ms.addData(rows.drop(2000)); q.processAllAvailable()
    q.stop()
    // Last emission per group = the rows carrying that group's max nSeen.
    val emitted = spark.table("hh_sink")
      .as[(String, Long, Int, Long, Long)].collect()
    val lastSeen = emitted.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val last = emitted.filter(r => r._2 == lastSeen(r._1))
      .map(r => (r._1, r._3, r._4, r._5)).toSet
    // Batch truth via the p19 aggregate over the same rows (exact regime).
    val batch = rows.toDF("group", "key")
      .groupBy($"group")
      .agg(graft.functions.HeavyHitters.space_saving_topk($"key", 5, 4096).as("tk"))
      .select($"group", posexplode($"tk"))
      .select($"group", ($"pos" + 1).cast("int").as("rank"),
        $"col.value", $"col.count")
      .as[(String, Int, Long, Long)].collect().toSet
    assert(last == batch)
  }

  test("streaming decayed counts == sequential fold over the ordered events") {
    implicit val sqlCtx = spark.sqlContext
    val half = 5000000L // 5 s half-life in µs
    val rows = batchBids.limit(3000)
      .selectExpr("CAST(auction % 3 AS STRING) AS group",
        "unix_micros(b_date_time) AS ts")
      .as[(String, Long)].collect().toSeq.sortBy(_._2)
    val ms = MemoryStream[(String, Long)]
    val q = StreamSketches
      .decayedCountStream(ms.toDF().toDF("group", "ts"), half)
      .writeStream.format("memory").queryName("decay_sink")
      .outputMode("update").start()
    // Two event-time-ordered chunks: state must carry the fold across the
    // batch boundary bit-exactly.
    ms.addData(rows.take(1500)); q.processAllAvailable()
    ms.addData(rows.drop(1500)); q.processAllAvailable()
    q.stop()
    val emitted = spark.table("decay_sink")
      .as[(String, Long, Long, Double)].collect()
    val last = emitted.groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
    // Reference: the same fold, sequentially over all rows per group.
    val lambda = math.log(2.0) / half
    val expect = rows.groupBy(_._1).view.mapValues { rs =>
      var lastTs = Long.MinValue; var d = 0.0
      rs.sortBy(_._2).foreach { case (_, t) =>
        val dt = if (lastTs == Long.MinValue) 0L else math.max(0L, t - lastTs)
        d = d * math.exp(-lambda * dt) + 1.0
        lastTs = t
      }
      (rs.size.toLong, lastTs, d)
    }.toMap
    for ((g, (n, lastTs, d)) <- expect) {
      val got = last(g)
      assert(got._2 == n && got._3 == lastTs, s"group $g n/ts mismatch: $got")
      assert(got._4 == d, s"group $g decayed ${got._4} != $d (must be bit-exact)")
    }
  }

  test("generator config: custom proportions and generator-count invariance") {
    // 2:3:5 mix over a block of 10; counts must follow the proportions.
    val cfg = Nexmark.Config(personProportion = 2, auctionProportion = 3,
      bidProportion = 5, generators = 4)
    val n = 10000L
    assert(Nexmark.persons(spark, n, cfg = cfg).count() == n / 10 * 2)
    assert(Nexmark.auctions(spark, n, cfg = cfg).count() == n / 10 * 3)
    assert(Nexmark.bids(spark, n, cfg = cfg).count() == n / 10 * 5)
    // -g maps to source parallelism only: the emitted event set is
    // bit-identical at any generator count (the reference gets this from
    // per-event seeding; we get it from the pure-column design).
    val g1 = Nexmark.bids(spark, n, cfg = cfg.copy(generators = 1))
    val g16 = Nexmark.bids(spark, n, cfg = cfg.copy(generators = 16))
    assertSameRows(g1, g16)
    // Default config reproduces the classic 1:3:46 stream exactly.
    assertSameRows(Nexmark.bids(spark, N, cfg = Nexmark.Config()), batchBids)
    // Referential integrity holds under custom proportions: every bid's
    // auction/bidder already exists.
    val b = Nexmark.bids(spark, n, cfg = cfg)
    val a = Nexmark.auctions(spark, n, cfg = cfg)
    val p = Nexmark.persons(spark, n, cfg = cfg)
    assert(b.join(a, b("auction") === a("a_id"), "left_anti").isEmpty)
    assert(b.join(p, b("bidder") === p("p_id"), "left_anti").isEmpty)
  }

  test("q1/q2 stateless transforms: stream == batch") {
    val s1 = streamed(bidRows, "append", "q1_sink")(StreamQueries.q1)
    assertSameRows(s1, StreamQueries.q1(batchBids))
    val s2 = streamed(bidRows, "append", "q2_sink")(StreamQueries.q2)
    assertSameRows(s2, StreamQueries.q2(batchBids))
  }

  test("tumbling window aggregate: stream (complete mode) == batch") {
    val agg: DataFrame => DataFrame = df =>
      df.groupBy(window($"b_date_time", "10 seconds").as("win"))
        .agg(count(lit(1)).as("n"), max($"price").as("max_price"))
        .select($"win.start".as("win_start"), $"n", $"max_price")
    val s = streamed(bidRows, "complete", "tumb_sink")(agg)
    assertSameRows(s, agg(batchBids))
  }

  test("hopping window aggregate: stream (complete mode) == batch") {
    val agg: DataFrame => DataFrame = df =>
      df.groupBy(window($"b_date_time", "10 seconds", "5 seconds").as("win"), $"auction")
        .agg(count(lit(1)).as("n"))
        .select($"win.start".as("win_start"), $"auction", $"n")
    val s = streamed(bidRows, "complete", "hop_sink")(agg)
    assertSameRows(s, agg(batchBids))
  }

  test("session window (q11): stream with watermark == batch") {
    // Sentinel event one hour past the data advances the watermark so every
    // real session closes and is emitted in append mode.
    val maxTs = batchBids.agg(max($"b_date_time")).head().getTimestamp(0)
    val sentinel = BidCC(-1, -1, 0,
      java.sql.Timestamp.from(maxTs.toInstant.plusSeconds(3600)))
    val s = streamed(bidRows :+ sentinel, "append", "q11_sink")(df =>
      StreamQueries.q11(df.withWatermark("b_date_time", "5 seconds")))
      .filter($"bidder" =!= -1)
    assertSameRows(s, StreamQueries.q11Batch(batchBids))
  }

  test("stream-stream join (q3): stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    val msA = MemoryStream[(Int, Int, Int)] // a_id, seller, category
    val msP = MemoryStream[(Int, String, String, String)] // p_id, name, city, state
    msA.addData(batchAuctions.select($"a_id", $"seller", $"category")
      .as[(Int, Int, Int)].collect().toSeq)
    msP.addData(batchPersons.select($"p_id", $"name", $"city", $"state")
      .as[(Int, String, String, String)].collect().toSeq)
    val aDf = msA.toDF().toDF("a_id", "seller", "category")
    val pDf = msP.toDF().toDF("p_id", "name", "city", "state")
    val q = StreamQueries.q3(aDf, pDf).writeStream
      .format("memory").queryName("q3_sink").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assertSameRows(spark.table("q3_sink"),
      StreamQueries.q3(batchAuctions, batchPersons))
  }

  test("bounded stream-stream join (q3Bounded): watermarked state, == batch within horizon") {
    implicit val sqlCtx = spark.sqlContext
    val msA = MemoryStream[(Int, Int, Int, java.sql.Timestamp)]
    val msP = MemoryStream[(Int, String, String, String, java.sql.Timestamp)]
    msA.addData(batchAuctions.select($"a_id", $"seller", $"category", $"a_date_time")
      .as[(Int, Int, Int, java.sql.Timestamp)].collect().toIndexedSeq)
    msP.addData(batchPersons.select($"p_id", $"name", $"city", $"state", $"p_date_time")
      .as[(Int, String, String, String, java.sql.Timestamp)].collect().toIndexedSeq)
    val aDf = msA.toDF().toDF("a_id", "seller", "category", "a_date_time")
    val pDf = msP.toDF().toDF("p_id", "name", "city", "state", "p_date_time")
    val q = StreamQueries.q3Bounded(aDf, pDf, horizon = "1 hour").writeStream
      .format("memory").queryName("q3b_sink").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // The 20k-event replay spans ~20 s ≪ 1 h horizon, so the bounded join
    // must equal the unbounded batch q3 while keeping evictable state.
    assertSameRows(spark.table("q3b_sink"),
      StreamQueries.q3(batchAuctions, batchPersons))
  }

  test("stream-static join (q13): stream == batch") {
    val side = Nexmark.sideInput(spark)
    val s = streamed(bidRows, "append", "q13_sink")(df => StreamQueries.q13(df, side))
    assertSameRows(s, StreamQueries.q13(batchBids, side))
  }

  test("q12 gap windows on batch: one window per bidder covering all bids") {
    val out = StreamQueries.q12(batchBids).cache()
    val perBidder = batchBids.groupBy($"bidder").agg(count(lit(1)).as("n"))
    assert(out.count() == perBidder.count())
    val total = out.agg(sum($"nBids")).as[Long].head()
    assert(total == batchBids.count())
  }

  test("q12 gap windows on a stream emit via processing-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[BidCC]
    ms.addData(bidRows.take(500))
    val q = StreamQueries.q12(ms.toDF(), sizeMs = 500).writeStream
      .format("memory").queryName("q12_sink").outputMode("append").start()
    // NEVER processAllAvailable here: pending processing-time timers make
    // the engine report "another batch required" forever, so it cannot
    // quiesce. The engine keeps running micro-batches on its own; poll the
    // sink until the 500 ms windows have timed out and been emitted.
    val deadline = System.currentTimeMillis() + 30000
    var n = 0L
    while (n == 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      n = spark.table("q12_sink").count()
    }
    q.stop()
    assert(n > 0, "no gap windows emitted within 30s")
  }

  test("batch NEXMark q4/q7/q9 invariants hold") {
    val q4 = StreamQueries.q4(batchBids, batchAuctions)
    assert(q4.count() > 0 && q4.filter($"avg_final_price" <= 0).isEmpty)
    val q7 = StreamQueries.q7(batchBids)
    val badWin = q7.groupBy($"win_start").agg(countDistinct($"price").as("np"))
      .filter($"np" =!= 1)
    assert(badWin.isEmpty, "q7 window with more than one max price")
    val q9 = StreamQueries.q9(batchBids, batchAuctions)
    assert(q9.groupBy($"a_id").count().filter($"count" > 1).isEmpty,
      "q9 must emit exactly one winning bid per auction")
  }

  test("q5/q6/q8 produce plausible results on batch frames") {
    assert(StreamQueries.q5(batchBids).count() > 0)
    assert(StreamQueries.q6(batchBids, batchAuctions).count() > 0)
    assert(StreamQueries.q8(batchPersons, batchAuctions).count() > 0)
  }

  test("q6 on a stream via foreachBatch matches batch q6") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[BidCC]
    ms.addData(bidRows)
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q = StreamQueries.q6ForeachBatch(ms.toDF(), batchAuctions) { (df, _) =>
      df.collect().foreach(collected.add)
    }
    q.processAllAvailable()
    q.stop()
    val got = spark.createDataFrame(
      new java.util.ArrayList(collected),
      StreamQueries.q6(batchBids, batchAuctions).schema)
    // Single micro-batch == whole input, so per-batch q6 equals batch q6.
    assertSameRows(got, StreamQueries.q6(batchBids, batchAuctions))
  }

  test("watermark drops late data in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[BidCC]
    val base = java.sql.Timestamp.from(
      java.time.Instant.ofEpochMilli(Nexmark.BaseMs))
    def at(sec: Int) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochMilli(Nexmark.BaseMs + sec * 1000L))
    val agg: DataFrame => DataFrame = df =>
      df.withWatermark("b_date_time", "5 seconds")
        .groupBy(window($"b_date_time", "10 seconds").as("win"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis($"win.start").as("ws"), $"n")
    val q = agg(ms.toDF()).writeStream
      .format("memory").queryName("late_sink").outputMode("append").start()
    // Batch 1: two events in window [0,10).
    ms.addData(Seq(BidCC(1, 1, 10, at(1)), BidCC(2, 2, 20, at(2))))
    q.processAllAvailable()
    // Batch 2: advance watermark far past window [0,10) — closes it.
    ms.addData(Seq(BidCC(3, 3, 30, at(100))))
    q.processAllAvailable()
    // Batch 3: a LATE event for the closed window — must be dropped.
    ms.addData(Seq(BidCC(4, 4, 40, at(3))))
    q.processAllAvailable()
    // Flush the last window too.
    ms.addData(Seq(BidCC(5, 5, 50, at(200))))
    q.processAllAvailable()
    q.stop()
    val firstWindow = spark.table("late_sink").filter($"ws" === Nexmark.BaseMs)
      .select($"n").as[Long].collect()
    assert(firstWindow.sameElements(Array(2L)),
      s"late event not dropped: ${firstWindow.mkString(",")}")
  }

  test("session window (q11) runs on the RocksDB state store provider") {
    implicit val sqlCtx = spark.sqlContext
    ReplayConfs.withConfs(spark, ReplayConfs.RocksState) {
      val ms = MemoryStream[BidCC]
      val rows = bidRows.take(5000)
      val maxTs = rows.map(_.b_date_time.getTime).max
      val sentinel = BidCC(-1, -1, 0,
        new java.sql.Timestamp(maxTs + 3600000L))
      ms.addData(rows :+ sentinel)
      val q = StreamQueries.q11(ms.toDF().withWatermark("b_date_time", "5 seconds"))
        .writeStream.format("memory").queryName("rocks_sink")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      assert(spark.table("rocks_sink").filter($"bidder" =!= -1).count() > 0)
    }
  }

  test("stream-stream range join (q4/q9 shape) with watermarks == batch") {
    implicit val sqlCtx = spark.sqlContext
    val msA = MemoryStream[(Int, java.sql.Timestamp, java.sql.Timestamp, Int)]
    val msB = MemoryStream[BidCC]
    msA.addData(batchAuctions
      .select($"a_id", $"a_date_time", $"expires", $"category")
      .as[(Int, java.sql.Timestamp, java.sql.Timestamp, Int)].collect().toIndexedSeq)
    msB.addData(bidRows)
    val aDf = msA.toDF().toDF("a_id", "a_date_time", "expires", "category")
      .withWatermark("a_date_time", "10 seconds")
    val bDf = msB.toDF().withWatermark("b_date_time", "10 seconds")
    val joined = bDf.join(aDf,
      $"auction" === $"a_id" &&
        $"b_date_time".between($"a_date_time", $"expires"))
      .select($"a_id", $"category", $"bidder", $"price", $"b_date_time")
    val q = joined.writeStream.format("memory").queryName("ssj_sink")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val expected = batchBids.join(
        batchAuctions.select($"a_id", $"a_date_time", $"expires", $"category"),
        $"auction" === $"a_id" &&
          $"b_date_time".between($"a_date_time", $"expires"))
      .select($"a_id", $"category", $"bidder", $"price", $"b_date_time")
    assertSameRows(spark.table("ssj_sink"), expected)
  }

  test("streaming dropDuplicates with watermark dedups across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[BidCC]
    val a = bidRows.take(500)
    val b = bidRows.slice(500, 900)
    val q = ms.toDF()
      .withWatermark("b_date_time", "1 hour")
      .dropDuplicates("auction", "bidder", "price", "b_date_time")
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    ms.addData(a)
    q.processAllAvailable()
    ms.addData(a ++ b) // batch 2 re-sends batch 1 plus new rows
    q.processAllAvailable()
    q.stop()
    val expected = (a ++ b).distinct.size
    assert(spark.table("dedup_sink").count() == expected,
      "cross-batch duplicates not removed")
  }

  test("approx sketches stay within error bounds of exact aggregates") {
    // p14 itself emits contract verdicts (the oracle expects all-TRUE);
    // here assert the verdicts hold at the smallest sf too, where group
    // sizes are tiny and a sloppy bound would wobble.
    val df = graft.Catalog.byName("p14_approx_sketches")
      .run(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_users") > 0 && r.getAs[Long]("n") > 0)
      for (c <- Seq("hll_ok", "p50_ok", "p95_ok", "p99_ok"))
        assert(r.getAs[Boolean](c), s"$c false for ${r.getAs[String]("event_type")}")
    }
  }

  /** transformWithState requires the RocksDB state store provider. */
  private def withRocksDb[T](body: => T): T =
    ReplayConfs.withConfs(spark, ReplayConfs.RocksState)(body)

  test("transformWithState leaderboard matches a batch top-k recompute") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[BidCC]
      val rows = bidRows.take(5000)
      ms.addData(rows)
      val q = StatefulProcessors.auctionTopK(ms.toDF(), k = 3)
        .writeStream.format("memory").queryName("tws_lb")
        .outputMode("update").start()
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_lb")
        .select($"auction", $"rank", $"price", $"bidder")
        .as[(Int, Int, Int, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)))
        .toMap
      // Single-batch feed: the one emission per auction IS the final
      // leaderboard; recompute it from the same rows.
      val expect = rows.groupBy(_.auction).view.mapValues { bs =>
        bs.map(b => (b.price, b.bidder, b.b_date_time.getTime * 1000))
          .sortBy(t => (-t._1, t._3, t._2)).take(3).map(t => (t._1, t._2))
      }.toMap
      assert(got.keySet == expect.keySet)
      for ((a, lb) <- expect)
        assert(got(a).toSeq == lb.toSeq, s"auction $a leaderboard diverges")
    }
  }

  test("transformWithState gap windows emit via explicit timers") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[BidCC]
      ms.addData(bidRows.take(500))
      val q = StatefulProcessors.gapWindowsTws(ms.toDF(), sizeMs = 500)
        .writeStream.format("memory").queryName("tws_gap")
        .outputMode("append").start()
      // Same polling discipline as the fMGWS q12 test: pending timers mean
      // the engine never quiesces, so poll the sink instead.
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        n = spark.table("tws_gap").count()
      }
      q.stop()
      assert(n > 0, "no gap windows emitted within 30s")
      // Conservation on what was emitted: each window's count is positive
      // and per-bidder sums never exceed the bidder's total bids.
      val emitted = spark.table("tws_gap")
        .groupBy($"bidder").agg(sum($"nBids").as("n"))
        .as[(Int, Long)].collect().toMap
      val totals = bidRows.take(500).groupBy(_.bidder).view
        .mapValues(_.size.toLong).toMap
      emitted.foreach { case (b, n) =>
        assert(n > 0 && n <= totals(b), s"bidder $b emitted $n of ${totals(b)}")
      }
    }
  }

  test("transformWithState session windows (q11 twin) == batch session_window") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      // Sentinel far past the data: advances the event-time watermark
      // beyond every real session's expiry so the timers fire and every
      // session emits in append mode (same flush the built-in q11 test
      // uses); its own session is filtered out below.
      val maxTs = batchBids.agg(max($"b_date_time")).head().getTimestamp(0)
      val sentinel = BidCC(-1, -1, 0,
        java.sql.Timestamp.from(maxTs.toInstant.plusSeconds(3600)))
      val ms = MemoryStream[BidCC]
      val q = StatefulProcessors.sessionWindowsTws(ms.toDF())
        .toDF().writeStream.format("memory").queryName("tws_sess")
        .outputMode("append").start()
      ms.addData(bidRows)
      q.processAllAvailable()
      ms.addData(Seq(sentinel))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_sess").filter($"bidder" =!= -1)
        .select($"bidder", $"sessionStartUs", $"sessionEndUs", $"nBids",
          $"minPrice", $"maxPrice")
      val expect = StreamQueries.q11Batch(batchBids)
        .select($"bidder", unix_micros($"session_start").as("sessionStartUs"),
          unix_micros($"session_end").as("sessionEndUs"), $"n_bids".as("nBids"),
          $"min_price".as("minPrice"), $"max_price".as("maxPrice"))
      assert(got.count() > 100, "degenerate: almost no sessions emitted")
      assertSameRows(got, expect)
    }
  }

  test("exact-gap boundary splits sessions in batch, streaming, and tws alike") {
    withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    // Two bids exactly gap (10 s) apart: the engine's contract (streaming
    // session_window, the explicit-timer processor, every DuckDB oracle)
    // SPLITS them — extend iff diff < gap. Spark 4.1.2's built-in batch
    // session_window MERGES them instead, which the sf1 full-catalog gate
    // surfaced as an 11-row deficit (11 exact-gap pairs in 920k bids);
    // q11Batch's explicit islands exist precisely for this boundary.
    val t0 = 1700000000000L
    val pair = Seq(
      BidCC(1, 7, 100, new java.sql.Timestamp(t0)),
      BidCC(1, 7, 200, new java.sql.Timestamp(t0 + 10000L)))
    val batch = StreamQueries.q11Batch(pair.toDF())
    assert(batch.count() == 2, "q11Batch must split an exact-gap pair")
    assert(batch.select(unix_micros($"session_start")).as[Long].collect()
      .sorted.toSeq == Seq(t0 * 1000, (t0 + 10000L) * 1000))
    // Built-in STREAMING session_window: the exact-gap outcome depends on
    // the replay schedule. (a) If the first session was already EVICTED
    // (watermark past its end) when the second row arrives, the pair
    // SPLITS — this is what every stw gate entry's replay does at sf1
    // (all 11 exact-gap pairs) and what matches the oracle. (b) If the
    // first session is still in state — same micro-batch OR a watermark
    // that hasn't passed its end — the inclusive merge wins and the pair
    // MERGES. Both outcomes are pinned AS UPSTREAM BEHAVIOR: the
    // built-in's exact-gap output is schedule-dependent, which is why
    // the engine's own implementations (q11Batch, the TWS processor)
    // are strict-split regardless of batching and watermark timing.
    val sentinel = BidCC(-1, -1, 0, new java.sql.Timestamp(t0 + 3600000L))
    // Pushes the watermark past session 1's end without touching bidder 7.
    val evictDriver = BidCC(1, 999, 1, new java.sql.Timestamp(t0 + 20000L))
    def runBuiltIn(name: String, feeds: Seq[Seq[BidCC]]): Long = {
      val ms = MemoryStream[BidCC]
      val q = StreamQueries.q11(
          ms.toDF().withWatermark("b_date_time", "1 second"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      feeds.foreach { f => ms.addData(f); q.processAllAvailable() }
      ms.addData(Seq(sentinel)); q.processAllAvailable(); q.stop()
      spark.table(name).filter($"bidder" === 7).count()
    }
    assert(runBuiltIn("sess_edge_split",
        Seq(Seq(pair.head, evictDriver), Seq(pair.last))) == 2,
      "built-in streaming must split once session 1 is evicted")
    assert(runBuiltIn("sess_edge_merge_inbatch", Seq(pair)) == 1,
      "upstream in-batch merge quirk changed — re-audit the stw session " +
        "entries' exact-gap behavior if this fails")
    assert(runBuiltIn("sess_edge_merge_instate",
        Seq(Seq(pair.head), Seq(pair.last))) == 1,
      "upstream in-state merge quirk changed — re-audit the stw session " +
        "entries' exact-gap behavior if this fails")
    // Explicit-timer processor: strict split INDEPENDENT of batching.
    for ((feeds, tag) <- Seq(
        (Seq(pair), "same-batch"),
        (Seq(Seq(pair.head), Seq(pair.last)), "cross-batch"))) {
      val ms2 = MemoryStream[BidCC]
      val q2 = StatefulProcessors.sessionWindowsTws(ms2.toDF(),
          delay = "1 second")
        .toDF().writeStream.format("memory")
        .queryName(s"sess_edge_tws_${feeds.size}")
        .outputMode("append").start()
      feeds.foreach { f => ms2.addData(f); q2.processAllAvailable() }
      ms2.addData(Seq(sentinel)); q2.processAllAvailable(); q2.stop()
      assert(spark.table(s"sess_edge_tws_${feeds.size}")
        .filter($"bidder" === 7).count() == 2,
        s"tws processor must split an exact-gap pair ($tag)")
    }
    }
  }

  test("tws session windows close watermark-passed sessions inline, not by timer") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      // 200 keys × two back-to-back sessions (gap 10 s). The second bid
      // arrives in a batch whose watermark has ALREADY passed the first
      // session's expiry, so the input path must emit session 1 INLINE
      // and move the timer — the store profile showed the alternative (a
      // timer-fire cycle per non-final session) running expired timers at
      // ~2× state removals, the q11tws throughput ceiling. A manual
      // trigger clock makes the batch boundaries deterministic (the
      // default trigger sneaks a watermark-propagation no-data batch in
      // which the timers would fire first).
      val t0 = 1700000000000L
      val keys = 0 until 200
      val first = keys.map(k =>
        BidCC(1, k, 100 + k, new java.sql.Timestamp(t0 + k)))
      // Watermark driver batch: pushes wm to t0+35s (delay 5 s), past
      // every first session's ~t0+10s expiry, WITHOUT touching those keys.
      val wmDriver = BidCC(1, 998, 1, new java.sql.Timestamp(t0 + 40000L))
      // Second sessions sit above that watermark (not late) and land in
      // the batch where session 1 is already closable → inline emission.
      val second = keys.map(k =>
        BidCC(1, k, 200 + k, new java.sql.Timestamp(t0 + 60000L + k)))
      val sentinel = BidCC(-1, -1, 0,
        new java.sql.Timestamp(t0 + 10L * 3600 * 1000))
      val clock = new org.apache.spark.sql.graft.shims.GraftManualClock(1000L)
      val ms = MemoryStream[BidCC]
      ms.addData(first) // batch 0
      val (q, rows) = org.apache.spark.sql.graft.shims.startWithManualClock(
        StatefulProcessors.sessionWindowsTws(ms.toDF()).toDF(),
        tmpDir("tws_inline_ckpt"), clock, 1000,
        org.apache.spark.sql.streaming.OutputMode.Append())
      try {
        awaitBatch(q, 0) // wm −∞; timers at ~t0+10s
        ms.addData(Seq(wmDriver))
        clock.advance(1000); awaitBatch(q, 1) // wm t0−5s: no fires
        ms.addData(second)
        clock.advance(1000); awaitBatch(q, 2) // wm t0+35s: inline close 200
        awaitRows(rows, 200)
        ms.addData(Seq(sentinel))
        clock.advance(1000); awaitBatch(q, 3) // wm t0+55.2s: driver fires
        clock.advance(1000); awaitBatch(q, 4) // wm huge: 200 finals fire
        awaitRows(rows, 401)
        val expired = q.recentProgress.toSeq
          .flatMap(_.stateOperators.headOption)
          .map(_.customMetrics.getOrDefault("numExpiredTimers", 0L).longValue())
          .sum
        // ~201 timer closures (finals + driver); the 200 first sessions
        // must NOT each cost a fire. Generous slack for extra batches.
        assert(expired <= 280,
          s"inline closure regressed: $expired expired timers for 401 sessions")
      } finally q.stop()
      val got = rows().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4), r.getInt(5))).sorted
      val expect = StreamQueries.q11Batch(
          spark.createDataset((first :+ wmDriver) ++ second).toDF())
        .select($"bidder", unix_micros($"session_start"),
          unix_micros($"session_end"), $"n_bids", $"min_price", $"max_price")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getInt(4), r.getInt(5))).toSeq.sorted
      assert(got == expect, s"inline-closure output diverges from batch " +
        s"truth: ${got.size} vs ${expect.size} rows")
    }
  }

  test("tws session windows merge out-of-order rows across batches == batch session_window") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      // Adversarial arrival order: rows shuffled globally, split into four
      // microbatches, watermark delay longer than the whole data span — so
      // rows routinely arrive BEFORE already-open later sessions (backward
      // extension), BETWEEN two open sessions (bridge merge), and AFTER a
      // session a same-batch successor outran (the r8 advice's
      // late-but-valid class). The built-in session_window over the same
      // rows as a batch is the truth.
      val t0 = 1700000000000L
      val rnd = new scala.util.Random(42)
      val random = for {
        bidder <- 0 until 20
        _ <- 0 until 30
      } yield BidCC(1, bidder, 100 + rnd.nextInt(900),
        new java.sql.Timestamp(t0 + rnd.nextInt(300000)))
      // Deterministic bridge: sessions [20s,30s) and [31s,41s) open first;
      // t=25s arrives two batches later and must merge them into one
      // session [20s,41s) — impossible for a processor that only extends
      // forward or closes inline.
      val b999 = Seq(20000L, 31000L, 25000L).map(off =>
        BidCC(1, 999, 500, new java.sql.Timestamp(t0 + off)))
      val shuffled = rnd.shuffle(random)
      val chunks = Seq(
        shuffled.take(150) :+ b999(0) :+ b999(1),
        shuffled.slice(150, 300),
        shuffled.slice(300, 450) :+ b999(2),
        shuffled.drop(450))
      val sentinel = BidCC(-1, -1, 0,
        new java.sql.Timestamp(t0 + 10L * 3600 * 1000))
      val ms = MemoryStream[BidCC]
      val q = StatefulProcessors.sessionWindowsTws(ms.toDF(), delay = "1 hour")
        .toDF().writeStream.format("memory").queryName("tws_sess_ooo")
        .outputMode("append").start()
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
      ms.addData(Seq(sentinel)); q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_sess_ooo").filter($"bidder" =!= -1)
        .select($"bidder", $"sessionStartUs", $"sessionEndUs", $"nBids",
          $"minPrice", $"maxPrice")
      val all = (random ++ b999).toDF()
      val expect = StreamQueries.q11Batch(all)
        .select($"bidder", unix_micros($"session_start").as("sessionStartUs"),
          unix_micros($"session_end").as("sessionEndUs"), $"n_bids".as("nBids"),
          $"min_price".as("minPrice"), $"max_price".as("maxPrice"))
      assertSameRows(got, expect)
      // The bridge really happened: bidder 999 has exactly one session,
      // [20s, 41s), with all three bids in it.
      val b = got.filter($"bidder" === 999)
        .as[(Int, Long, Long, Long, Int, Int)].collect().toSeq
      assert(b == Seq((999, (t0 + 20000) * 1000, (t0 + 41000) * 1000,
        3L, 500, 500)), s"bridge session wrong: $b")
    }
  }

  test("session windows (q11 twin) survive a checkpoint restart with state carried") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      // Event-time median cut: sessions in flight at the cut are carried
      // as state + a re-registered timer into run 2.
      val bids = batchBids.select($"bidder", $"price",
        $"b_date_time".as("ts"))
      val cutUs = bids.select(unix_micros($"ts").as("us"))
        .stat.approxQuantile("us", Array(0.5), 0.0).head.toLong
      val maxTs = batchBids.agg(max($"b_date_time")).head().getTimestamp(0)
      val flush = Seq((-1, 0, java.sql.Timestamp.from(
        maxTs.toInstant.plusSeconds(3600))))
        .toDF("bidder", "price", "ts")
      val (run1, run2) = restartRuns(
        bids.unionByName(flush), cutUs,
        df => StatefulProcessors.sessionWindowsTws(
          df.withColumnRenamed("ts", "b_date_time")))(
        df => df.as[SessionRow].collect().toSeq)
      val gotAll = (run1 ++ run2).filter(_.bidder != -1)
        .map(r => (r.bidder, r.sessionStartUs, r.sessionEndUs, r.nBids,
          r.minPrice, r.maxPrice)).sorted
      val expect = StreamQueries.q11Batch(batchBids)
        .select($"bidder", unix_micros($"session_start"),
          unix_micros($"session_end"), $"n_bids", $"min_price", $"max_price")
        .as[(Int, Long, Long, Long, Int, Int)].collect().toSeq.sorted
      assert(gotAll == expect,
        s"restarted session stream ${gotAll.size} vs batch ${expect.size}")
      // State genuinely crossed the restart: at least one emitted session
      // spans the cut (starts before it, closes after it).
      assert(gotAll.exists(r => r._2 < cutUs && r._3 > cutUs),
        "no session spanned the restart boundary — cut proves nothing")
    }
  }

  test("streaming near-dup claims == batch first-claimant recompute") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val t0 = 1700000000000L
      // Real corpus (it contains genuine near-dup families), synthetic
      // in-order event times: ts = t0 + doc_id seconds.
      val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
        .select($"doc_id", $"text",
          timestamp_millis(lit(t0) + $"doc_id" * 1000).as("event_time"))
        .cache()
      val rows = docs.as[(Long, String, java.sql.Timestamp)]
        .collect().sortBy(_._1)
      val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
      val q = StatefulProcessors.nearDupStream(
          ms.toDF().toDF("doc_id", "text", "event_time"))
        .toDF().writeStream.format("memory").queryName("neardup_sink")
        .outputMode("append").start()
      // Three in-order chunks: bucket claims must carry across batches.
      rows.grouped(200).foreach { c => ms.addData(c); q.processAllAvailable() }
      q.stop()
      val got = spark.table("neardup_sink")
        .select($"docId", $"band", $"claimantId", $"isDup")
      // Batch truth: same banding, bucket claimant = min (ts, doc_id).
      val bandsDf = docs.withColumn("sig",
          graft.functions.MinHashShingleSig.minhash_sig($"text", 4))
        .select($"doc_id", unix_micros($"event_time").as("ts"),
          posexplode($"sig"))
      val expect = bandsDf
        .withColumn("fc", min(struct($"ts", $"doc_id"))
          .over(Window.partitionBy($"pos", $"col")))
        .select($"doc_id".as("docId"), $"pos".cast("int").as("band"),
          $"fc.doc_id".as("claimantId"),
          ($"fc.doc_id" =!= $"doc_id").as("isDup"))
      assertSameRows(got, expect)
      // Non-degenerate: the corpus has both near-dup and novel docs.
      val nd = spark.table("neardup_sink")
        .filter($"isDup").select($"docId").distinct().count()
      assert(nd > 10 && nd < 500, s"degenerate dup-candidate count $nd")
    }
  }

  test("near-dup out-of-order guard: lenient keeps one keeper, strict fails") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val t0 = 1700000000000L
      def batch(rows: (Long, Long)*) = // (doc_id, tsOffSec) — identical text
        rows.map { case (id, off) =>
          (id, "alpha beta gamma delta epsilon zeta eta theta",
            new java.sql.Timestamp(t0 + off * 1000))
        }
      // Batch 1 ingests doc 10 (t+100); batch 2 replays doc 5 (t+1) —
      // an arrival-contract violation: its event time precedes the claim.
      val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
      val q = StatefulProcessors.nearDupStream(
          ms.toDF().toDF("doc_id", "text", "event_time"))
        .toDF().writeStream.format("memory").queryName("ooo_lenient")
        .outputMode("append").start()
      ms.addData(batch((10L, 100L))); q.processAllAvailable()
      ms.addData(batch((5L, 1L))); q.processAllAvailable()
      q.stop()
      val out = spark.table("ooo_lenient")
      // The dup/keeper PARTITION is arrival-order-invariant: the first
      // arrival keeps every bucket, the late true-owner is flagged dup.
      assert(out.filter(!$"isDup").select($"docId").distinct()
        .as[Long].collect().toSeq == Seq(10L))
      assert(out.filter($"isDup").select($"docId", $"claimantId").distinct()
        .as[(Long, Long)].collect().toSeq == Seq((5L, 10L)))
      // Strict mode makes the violation loud: the query fails.
      val ms2 = MemoryStream[(Long, String, java.sql.Timestamp)]
      val q2 = StatefulProcessors.nearDupStream(
          ms2.toDF().toDF("doc_id", "text", "event_time"), strict = true)
        .toDF().writeStream.format("memory").queryName("ooo_strict")
        .outputMode("append").start()
      ms2.addData(batch((10L, 100L))); q2.processAllAvailable()
      ms2.addData(batch((5L, 1L)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      q2.stop()
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c =>
        Option(c.getMessage).exists(_.contains("out-of-order probe"))),
        s"strict run failed for the wrong reason: $e")
    }
  }

  test("near-dup bucket claims survive a checkpoint restart") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val t0 = 1700000000000L
      val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
        .select($"doc_id", $"text",
          timestamp_millis(lit(t0) + $"doc_id" * 1000).as("ts"))
      val cutUs = (t0 + 250L * 1000) * 1000 // doc_ids 0..499 → half each side
      val (run1, run2) = restartRuns(docs, cutUs,
        df => StatefulProcessors.nearDupStream(
          df.withColumnRenamed("ts", "event_time")))(
        df => df.as[ClaimOut].collect().toSeq)
      val gotAll = (run1 ++ run2)
        .map(c => (c.docId, c.band, c.claimantId, c.isDup)).sorted
      val expect = docs.withColumn("sig",
          graft.functions.MinHashShingleSig.minhash_sig($"text", 4))
        .select($"doc_id", unix_micros($"ts").as("us"), posexplode($"sig"))
        .withColumn("fc", min(struct($"us", $"doc_id"))
          .over(Window.partitionBy($"pos", $"col")))
        .select($"doc_id", $"pos".cast("int"), $"fc.doc_id",
          $"fc.doc_id" =!= $"doc_id")
        .as[(Long, Int, Long, Boolean)].collect().toSeq.sorted
      assert(gotAll == expect,
        s"restarted claim stream ${gotAll.size} vs batch ${expect.size}")
      // Claims genuinely crossed the restart: a run-2 doc lost a bucket
      // to a claimant ingested in run 1.
      assert(run2.exists(c => c.isDup && c.claimantId < 250),
        "no claim spanned the restart boundary — cut proves nothing")
    }
  }

  test("dropDuplicatesWithinWatermark dedups near-in-time twins with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def doc(id: Long, text: String, offMs: Long) =
      DocCC(id, text, "en", new java.sql.Timestamp(t0 + offMs))
    val ms = MemoryStream[DocCC]
    // 3 distinct texts; "alpha beta" arrives 3 times within the horizon.
    ms.addData(Seq(
      doc(1, "alpha beta", 0), doc(2, "alpha beta", 1000),
      doc(3, "gamma delta", 2000), doc(4, "alpha beta", 3000),
      doc(5, "epsilon zeta", 4000)))
    val q = StreamPipeline.dedupStream(ms.toDF(), horizon = "10 seconds")
      .writeStream.format("memory").queryName("wmdedup_sink")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wmdedup_sink")
      .select($"doc_id").as[Long].collect().toSet
    // First arrival per digest survives; within-horizon twins are dropped.
    assert(got == Set(1L, 3L, 5L), s"unexpected survivors: $got")
  }

  test("streaming curation pipeline matches the batch recompute") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    val texts = Seq(
      ("one two three four five six seven eight", "en"), // passes gate
      ("short text", "en"), // fails length floor
      ("uno dos tres cuatro cinco seis siete ocho", "es"),
      ("one two three four five six seven eight", "en")) // dup of #1
    val rows = texts.zipWithIndex.map { case ((t, l), i) =>
      DocCC(i + 1L, t, l, new java.sql.Timestamp(t0 + i * 1000L))
    } :+ DocCC(99L, "closer " * 8, "en",
      new java.sql.Timestamp(t0 + 3600L * 1000)) // advances the watermark
    val ms = MemoryStream[DocCC]
    ms.addData(rows)
    val q = StreamPipeline.curationStream(ms.toDF())
      .writeStream.format("memory").queryName("curation_sink")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("curation_sink")
      .select($"lang", $"n_docs").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // en: doc 1 passes, doc 2 fails the gate, doc 4 dedups away; es: 1.
    assert(got.getOrElse("en", 0L) == 1L, s"en counts: $got")
    assert(got.getOrElse("es", 0L) == 1L, s"es counts: $got")
  }

  test("rate-source bid stream produces rows") {
    val q = Nexmark.bidStream(spark, rowsPerSecond = 5000)
      .writeStream.format("memory").queryName("rate_sink")
      .outputMode("append").start()
    val deadline = System.currentTimeMillis() + 15000
    var n = 0L
    while (n == 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      n = spark.table("rate_sink").count()
    }
    q.stop()
    assert(n > 0, "rate source emitted no rows within 15s")
  }

  test("streaming chunk windows match the batch recompute chunk-for-chunk") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    // lengths straddling the window/stride edges (W=128, S=96)
    val rows = Seq(5, 127, 128, 129, 224, 225, 500).zipWithIndex.map {
      case (n, i) => DocCC(i + 1L, (1 to n).map(j => s"w$j").mkString(" "),
        "en", new java.sql.Timestamp(t0 + i * 1000L))
    }
    val ms = MemoryStream[DocCC]
    ms.addData(rows)
    val q = StreamPipeline.chunkStream(ms.toDF())
      .writeStream.format("memory").queryName("chunk_sink")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chunk_sink")
    val batch = graft.operators.Pipeline.chunkWindows(
      rows.toDF().select($"doc_id", $"text"))
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "stream and batch chunkings diverge")
    assert(got.count() > rows.length, "multi-chunk docs expected")
  }

  test("funnel processor sequences stages strictly and emits once only") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      def ev(u: Long, t: String, ms: Long) =
        EvCC(u, t, new java.sql.Timestamp(ms))
      val trigger1 = Seq(
        ev(1, "view", 0), ev(1, "click", 10),
        ev(2, "click", 0), ev(2, "view", 5), // pre-view click is ignored
        ev(3, "view", 0), ev(3, "purchase", 5), ev(3, "click", 10),
        ev(4, "view", 0), ev(4, "click", 10), // never purchases
        ev(5, "view", 0), ev(5, "click", 1), ev(5, "purchase", 2))
      val trigger2 = Seq(
        ev(1, "purchase", 20), // completes across triggers
        ev(2, "click", 9), ev(2, "purchase", 12), // stage 2+3 in one batch
        ev(3, "purchase", 20), // first purchase AFTER the click
        ev(5, "purchase", 5), ev(5, "view", 6)) // done in t1: no re-emit
      val ms = MemoryStream[EvCC]
      val q = StatefulProcessors.funnelStages(ms.toDF())
        .writeStream.format("memory").queryName("funnel_seq_sink")
        .outputMode("append").start()
      ms.addData(trigger1); q.processAllAvailable()
      ms.addData(trigger2); q.processAllAvailable()
      q.stop()
      val got = spark.table("funnel_seq_sink")
        .as[FunnelDone].collect().map(f => (f.userId, f.vUs, f.cUs, f.pUs))
        .toSet
      val us = 1000L // Timestamp ms -> unix_micros
      assert(got == Set(
        (1L, 0L, 10 * us, 20 * us),
        (2L, 5 * us, 9 * us, 12 * us),
        (3L, 0L, 10 * us, 20 * us), // the t=5 purchase was out of sequence
        (5L, 0L, 1 * us, 2 * us)), s"got $got")
    }
  }

  test("streaming funnel matches the p44 batch join-chain on real events") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
        .select($"user_id", $"event_type", $"ts")
      // Global event-time order satisfies the per-user ordering contract.
      val rows = ev.orderBy($"ts").as[EvCC].collect().toSeq
      val ms = MemoryStream[EvCC]
      ms.addData(rows)
      val q = StatefulProcessors.funnelStages(ms.toDF())
        .writeStream.format("memory").queryName("funnel_eq_sink")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      val got = spark.table("funnel_eq_sink")
        .as[FunnelDone].collect().map(f => (f.userId, f.vUs, f.cUs, f.pUs))
        .toSet
      val evUs = ev.select($"user_id", $"event_type",
        unix_micros($"ts").as("us"))
      val v = evUs.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"us").as("v_us"))
      val c = evUs.filter($"event_type" === "click")
        .join(v, "user_id").filter($"us" > $"v_us")
        .groupBy($"user_id", $"v_us").agg(min($"us").as("c_us"))
      val p = evUs.filter($"event_type" === "purchase")
        .join(c, "user_id").filter($"us" > $"c_us")
        .groupBy($"user_id", $"v_us", $"c_us").agg(min($"us").as("p_us"))
      val expect = p.as[(Long, Long, Long, Long)].collect().toSet
      assert(got.nonEmpty && got == expect,
        s"stream ${got.size} vs batch ${expect.size} completions")
    }
  }

  test("streaming attribution matches the p46 batch window scan") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
        .select($"user_id", $"event_type", $"ts")
      val rows = ev.orderBy($"ts").as[EvCC].collect().toSeq
      val ms = MemoryStream[EvCC]
      ms.addData(rows)
      val q = StatefulProcessors.attribution(ms.toDF())
        .writeStream.format("memory").queryName("attr_sink")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      val got = spark.table("attr_sink")
        .as[AttrOut].collect()
        .map(a => (a.userId, a.pUs, a.attributed, a.lagUs)).toSet
      // p46's per-purchase intermediate, before its final aggregation.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"us")
        .rangeBetween(Long.MinValue, -1)
      val expect = ev
        .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
        .withColumn("last_click",
          max(when($"event_type" === "click", $"us")).over(w))
        .filter($"event_type" === "purchase")
        .withColumn("attributed",
          $"last_click".isNotNull && $"last_click" >= $"us" - 3600000000L)
        .select($"user_id", $"us", $"attributed",
          when($"attributed", $"us" - $"last_click").otherwise(0L))
        .as[(Long, Long, Boolean, Long)].collect().toSet
      assert(got.nonEmpty && got == expect,
        s"stream ${got.size} vs batch ${expect.size} attributions")
      assert(got.exists(_._3) && got.exists(!_._3),
        "expected both attributed and organic purchases in the corpus")
    }
  }

  test("streaming session paths match the p54 batch transition matrix") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val sf = "/root/testdata/sf0.001"
      val ev = graft.Tables.load(spark, sf, "events")
        .select($"user_id", $"event_id", $"event_type", $"ts")
      val rows = ev.orderBy($"ts", $"event_id").as[PathEvCC].collect().toSeq
      // One _FLUSH_ sentinel per user, past every real event: closes the
      // sessions still open at end-of-stream so their _END_ edges emit —
      // the production drain pattern, and what makes stream == batch
      // EXACT rather than modulo-open-sessions.
      val maxTs = rows.map(_.ts.getTime).max
      val flushes = rows.map(_.user_id).distinct.map(u =>
        PathEvCC(u, Long.MaxValue, "_FLUSH_",
          new java.sql.Timestamp(maxTs + 3600 * 1000L)))
      val ms = MemoryStream[PathEvCC]
      ms.addData(rows)
      ms.addData(flushes)
      val q = StatefulProcessors.sessionPaths(ms.toDF())
        .writeStream.format("memory").queryName("path_sink")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      val got = spark.table("path_sink")
        .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      val expect = graft.Catalog.byName("p54_session_paths").run(spark, sf)
        .as[(String, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      assert(got == expect,
        s"stream ${got.size} cells vs batch ${expect.size}")
      assert(got.keys.exists(_._1 == "_START_") &&
        got.keys.exists(_._2 == "_END_"))
    }
  }

  test("streaming gap spectrum matches the p108 batch histogram") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val sf = "/root/testdata/sf0.001"
      val ev = graft.Tables.load(spark, sf, "events")
        .select($"user_id", $"event_id", $"event_type", $"ts")
      val rows = ev.orderBy($"ts", $"event_id").as[PathEvCC].collect().toSeq
      // Two chunks across the global time order: exercises the
      // cross-batch state handoff (a user's last event in chunk 1 is the
      // predecessor of their first event in chunk 2).
      val (c1, c2) = rows.splitAt(rows.length / 2)
      val ms = MemoryStream[PathEvCC]
      ms.addData(c1)
      ms.addData(c2)
      val q = StatefulProcessors.gapSpectrum(ms.toDF())
        .writeStream.format("memory").queryName("gap_sink")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      val got = spark.table("gap_sink")
        .groupBy($"eventType", $"bucket")
        .agg(count(lit(1)).as("n"), min($"gapUs").as("mn"),
          max($"gapUs").as("mx"))
        .as[(String, Int, Long, Long, Long)].collect().toSeq.sorted
      val expect = graft.Catalog.byName("p108_gap_spectrum").run(spark, sf)
        .as[(String, Int, Long, Long, Long)].collect().toSeq.sorted
      assert(got == expect, s"stream ${got.size} cells vs batch ${expect.size}")
      assert(got.map(_._2).distinct.length > 3, "degenerate bucket spread")
    }
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---- deterministic-clock q12 (r9 verdict, next-round #3) ----
  // nx_q12's conservation-invariant oracle cannot see a window that
  // closes EARLY with correct totals (processing-time boundaries are
  // wall-clock). Driving the trigger with a manual clock (the StreamTest
  // injection point, via shims.startWithManualClock) makes every batch's
  // processing time an exact chosen value, so the assertions below pin
  // the exact per-window boundaries AND counts for both q12 forms.

  private def awaitBatch(q: org.apache.spark.sql.streaming.StreamingQuery,
      minBatchId: Long): Unit = {
    val end = System.currentTimeMillis() + 30000
    def done = Option(q.lastProgress).exists(_.batchId >= minBatchId)
    while (!done && System.currentTimeMillis() < end) Thread.sleep(10)
    assert(done, s"batch $minBatchId did not complete in 30s " +
      s"(last: ${Option(q.lastProgress).map(_.batchId)})")
  }

  private def awaitRows(rows: () => Seq[org.apache.spark.sql.Row],
      n: Int): Unit = {
    val end = System.currentTimeMillis() + 30000
    while (rows().size < n && System.currentTimeMillis() < end)
      Thread.sleep(10)
    assert(rows().size >= n, s"sink stuck at ${rows().size} rows, want $n")
  }

  /** Drive a gap-window query under a manual clock and return the emitted
    * (bidder, startMs, endMs, nBids) rows. Scripted timeline (t0 = 10^6,
    * trigger 1 s, gap 10 s):
    *   batch0 @ t0        : bids 1,1,1,2,2 → windows open at t0
    *   batch1 @ t0+1000   : bids 1,1       → same window (count 5)
    *   batch2 @ t0+12000  : no data        → both windows fire:
    *                        (1, t0, t0+10000, 5), (2, t0, t0+10000, 2)
    *   batch3 @ t0+13000  : bid 1          → REOPENS at t0+13000
    *   batch4 @ t0+24000  : no data        → (1, t0+13000, t0+23000, 1)
    */
  private def manualClockGapRun(mk: DataFrame => DataFrame,
      mode: org.apache.spark.sql.streaming.OutputMode)
      : Seq[(Int, Long, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1000000L
    val clock = new org.apache.spark.sql.graft.shims.GraftManualClock(t0)
    val ms = MemoryStream[Int]
    ms.addData(Seq(1, 1, 1, 2, 2)) // before start: lands in batch 0 @ t0
    val (q, rows) = org.apache.spark.sql.graft.shims.startWithManualClock(
      mk(ms.toDF().toDF("bidder")), tmpDir("manual_clock_ckpt"),
      clock, 1000, mode)
    try {
      awaitBatch(q, 0)
      ms.addData(Seq(1, 1))
      clock.advance(1000); awaitBatch(q, 1) // batch1 @ t0+1000
      clock.advance(11000); awaitRows(rows, 2) // batch2 @ t0+12000: close
      ms.addData(Seq(1))
      clock.advance(1000); awaitBatch(q, 3) // batch3 @ t0+13000: reopen
      clock.advance(11000); awaitRows(rows, 3) // batch4 @ t0+24000: close
    } finally q.stop()
    rows().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
  }

  test("q12 gap windows close at exact manual-clock boundaries (timer twin)") {
    withRocksDb {
      val t0 = 1000000L
      val got = manualClockGapRun(
        df => StatefulProcessors.gapWindowsTws(df).toDF(),
        org.apache.spark.sql.streaming.OutputMode.Append()).sorted
      assert(got == Seq(
        (1, t0, t0 + 10000L, 5L),
        (1, t0 + 13000L, t0 + 23000L, 1L),
        (2, t0, t0 + 10000L, 2L)), s"got $got")
    }
  }

  test("q12 gap windows close at exact manual-clock boundaries (q12 form)") {
    val t0 = 1000000L
    val got = manualClockGapRun(
      df => StreamQueries.q12(df).toDF(),
      org.apache.spark.sql.streaming.OutputMode.Append()).sorted
    assert(got == Seq(
      (1, t0, t0 + 10000L, 5L),
      (1, t0 + 13000L, t0 + 23000L, 1L),
      (2, t0, t0 + 10000L, 2L)), s"got $got")
  }

  /** Split the real events table at an event-time cutoff, land each chunk
    * as one parquet file, and run `mkQuery` twice over a file source on the
    * SAME checkpoint — a fresh query instance per run (the SinksSpec restart
    * pattern). Returns the per-run foreachBatch captures. One file per
    * chunk ⇒ one batch per run, so the per-user cross-trigger event-time
    * order the processors contract on holds by construction.
    */
  private def restartRuns[T](events: DataFrame, cutUs: Long,
      mk: DataFrame => org.apache.spark.sql.Dataset[T])(
      collect: DataFrame => Seq[T]): (Seq[T], Seq[T]) = {
    val in = tmpDir("tws_restart_in")
    val ckpt = tmpDir("tws_restart_ckpt")
    val cutoff = timestamp_micros(lit(cutUs))
    val schema = events.schema
    def runOnce(): Seq[T] = {
      val sink = scala.collection.mutable.ArrayBuffer.empty[T]
      val src = spark.readStream.schema(schema).parquet(in)
      val q = mk(src).toDF().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          sink.synchronized { sink ++= collect(df) }; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      sink.toSeq
    }
    events.filter($"ts" < cutoff).coalesce(1).write.mode("append").parquet(in)
    val run1 = runOnce()
    events.filter($"ts" >= cutoff).coalesce(1).write.mode("append").parquet(in)
    (run1, runOnce())
  }

  test("streaming incremental ingest matches the p94 batch split") {
    implicit val sqlCtx = spark.sqlContext
    // Rebuild p94's deterministic split on real docs: 20 % "new batch"
    // streams in doc_id order against the static fingerprint index of
    // the other 80 %.
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .select($"doc_id", $"text",
        md5(expr(
          "array_join(sort_array(array_distinct(split(text, ' '))), ' ')"))
          .as("fp"),
        (expr("""CAST(conv(substr(md5(CAST(doc_id AS STRING) || '_ing'),
                   1, 15), 16, 10) AS BIGINT)""") % 5 === 0).as("is_new"))
      .cache()
    val index = docs.filter(!$"is_new").select($"fp").distinct().cache()
    val batchRows = docs.filter($"is_new")
      .select($"doc_id", $"text", $"fp").as[(Long, String, String)]
      .collect().sortBy(_._1)
    // Batch-side expectation: min doc_id per fp, then anti-join index.
    val idxFps = index.as[String].collect().toSet
    val expect = batchRows.groupBy(_._3).values.map(_.minBy(_._1))
      .filter(r => !idxFps(r._3)).map(_._1).toSet
    val t0 = 1700000000000L
    val ms = MemoryStream[DocCC]
    ms.addData(batchRows.zipWithIndex.map { case ((id, t, _), i) =>
      DocCC(id, t, "en", new java.sql.Timestamp(t0 + i * 100L))
    }.toSeq)
    val q = StreamPipeline.ingestStream(ms.toDF(), index)
      .writeStream.format("memory").queryName("ingest_sink")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ingest_sink").select($"doc_id").as[Long]
      .collect().toSet
    assert(got.nonEmpty, "stream accepted nothing — degenerate split")
    assert(got == expect, s"stream ${got.size} vs batch ${expect.size}")
    // Cross-check the catalog entry's ledger: accepted totals agree.
    val ledger = graft.Catalog.byName("p94_incremental_ingest")
      .run(spark, "/root/testdata/sf0.01")
      .agg(sum($"n_accepted")).as[Long].head()
    assert(ledger == got.size.toLong, "catalog n_accepted total")
    docs.unpersist(); index.unpersist()
  }

  test("streaming rolling WAU matches the p48 batch explode-distinct") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select($"user_id", $"ts").cache()
    val rows = ev.orderBy($"ts").as[(Long, java.sql.Timestamp)].collect().toSeq
    // Flush sentinel far past every real event + horizon: advances the
    // watermark so every real day's append-mode window emits; its own
    // ghost windows are filtered below by day cutoff.
    val maxUs = ev.select(max(unix_micros($"ts"))).as[Long].head()
    val flushUs = maxUs + 30L * 86400000000L
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamPipeline.wauStream(
        ms.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("wau_sink")
      .outputMode("append").start()
    ms.addData(rows)
    q.processAllAvailable()
    ms.addData(Seq((-1L, new java.sql.Timestamp(flushUs / 1000))))
    q.processAllAvailable()
    q.stop()
    val maxRealWday = maxUs / 86400000000L + 6
    val got = spark.table("wau_sink")
      .select((unix_micros($"wday_start") / 86400000000L).cast("long").as("wday"),
        $"wau")
      .filter($"wday" <= maxRealWday)
      .as[(Long, Long)].collect().toMap
    // Raw equality: the batch recompute WITHOUT the ghost-tail semi join
    // (the stream emits those windows too — same contribution rule).
    val expectRaw = ev
      .select($"user_id", expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .select($"user_id", explode(expr("sequence(day, day + 6)")).as("wday"))
      .distinct()
      .groupBy($"wday").agg(count(lit(1)).as("wau"))
      .as[(Long, Long)].collect().toMap
    assert(got.nonEmpty && got == expectRaw,
      s"stream ${got.size} windows vs batch ${expectRaw.size}")
    // And filtered to real activity days it reproduces p48 exactly.
    val p48 = graft.Catalog.byName("p48_rolling_wau")
      .run(spark, "/root/testdata/sf0.001")
      .as[(Long, Long)].collect().toMap
    val realDays = ev
      .select(expr("unix_micros(ts) div 86400000000").as("day")).distinct()
      .as[Long].collect().toSet
    assert(got.view.filterKeys(realDays).toMap == p48,
      "real-day filtered stream diverges from p48")
  }

  test("funnel once-only emission survives a checkpoint restart") {
    withRocksDb {
      val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
        .select($"user_id", $"event_type", $"ts").cache()
      // Median event time: both chunks carry stage completions.
      val cutUs = ev.select(unix_micros($"ts").as("us"))
        .stat.approxQuantile("us", Array(0.5), 0.0).head.toLong
      val (run1, run2) = restartRuns(ev, cutUs,
        df => StatefulProcessors.funnelStages(df))(
        df => df.as[FunnelDone].collect().toSeq)
      val gotAll = (run1 ++ run2).map(f => (f.userId, f.vUs, f.cUs, f.pUs))
      // Once-only across recovery: no user emits twice, in either run or
      // across the restart boundary (state carried ⇒ run 2 must KNOW a
      // user already completed).
      assert(gotAll.map(_._1).distinct.size == gotAll.size,
        "restart re-emitted a completed funnel")
      // No reprocessing: run-2 completions need a chunk-2 purchase.
      assert(run2.forall(_.pUs >= cutUs),
        "run 2 emitted a completion whose purchase was in chunk 1 (replay)")
      // Union equals the batch recompute over the full corpus — the same
      // join-chain the mid-run equivalence test pins.
      val evUs = ev.select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      val v = evUs.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"us").as("v_us"))
      val c = evUs.filter($"event_type" === "click")
        .join(v, "user_id").filter($"us" > $"v_us")
        .groupBy($"user_id", $"v_us").agg(min($"us").as("c_us"))
      val p = evUs.filter($"event_type" === "purchase")
        .join(c, "user_id").filter($"us" > $"c_us")
        .groupBy($"user_id", $"v_us", $"c_us").agg(min($"us").as("p_us"))
      val expect = p.as[(Long, Long, Long, Long)].collect().toSet
      assert(gotAll.nonEmpty && gotAll.toSet == expect,
        s"restarted stream ${gotAll.size} vs batch ${expect.size} completions")
    }
  }

  test("attribution decisions survive a checkpoint restart without replay") {
    withRocksDb {
      val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
        .select($"user_id", $"event_type", $"ts").cache()
      val cutUs = ev.select(unix_micros($"ts").as("us"))
        .stat.approxQuantile("us", Array(0.5), 0.0).head.toLong
      val (run1, run2) = restartRuns(ev, cutUs,
        df => StatefulProcessors.attribution(df))(
        df => df.as[AttrOut].collect().toSeq)
      // Exactly one decision per purchase: no replay across the restart.
      val gotAll = (run1 ++ run2).map(a => (a.userId, a.pUs, a.attributed, a.lagUs))
      assert(gotAll.map(t => (t._1, t._2)).distinct.size == gotAll.size,
        "restart duplicated an attribution decision")
      assert(run2.forall(_.pUs >= cutUs),
        "run 2 re-decided a chunk-1 purchase (replay)")
      // Union equals the batch window scan over the full corpus.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"us")
        .rangeBetween(Long.MinValue, -1)
      val expect = ev
        .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
        .withColumn("last_click",
          max(when($"event_type" === "click", $"us")).over(w))
        .filter($"event_type" === "purchase")
        .withColumn("attributed",
          $"last_click".isNotNull && $"last_click" >= $"us" - 3600000000L)
        .select($"user_id", $"us", $"attributed",
          when($"attributed", $"us" - $"last_click").otherwise(0L))
        .as[(Long, Long, Boolean, Long)].collect().toSet
      assert(gotAll.toSet == expect,
        s"restarted stream ${gotAll.size} vs batch ${expect.size} decisions")
      // lastClick state carried: every batch-expected chunk-2 purchase
      // whose attributed click precedes the cutoff must appear in run 2 —
      // only possible if the restart restored per-user state. (Derived
      // from the batch side so the assertion can't flake on where the
      // median cutoff lands; if the corpus has none, the union equality
      // above still pins correctness.)
      val crossExpected = expect.filter { case (_, pUs, attr, lag) =>
        attr && pUs >= cutUs && pUs - lag < cutUs }
      val run2Set = run2.map(a => (a.userId, a.pUs, a.attributed, a.lagUs)).toSet
      assert(crossExpected.subsetOf(run2Set),
        s"${crossExpected.size} cross-restart attributions missing from run 2")
    }
  }

  test("streaming transition edges match the p68 batch matrix") {
    // The gap-free degenerate of SessionPathProcessor IS the transition
    // twin: with gapUs = Long.MaxValue no session ever closes, so the
    // emitted edges are exactly each user's consecutive (prev → curr)
    // pairs plus one _START_ marker per user — p68's full Markov matrix
    // is the non-_START_ rollup. No flush sentinels needed: a transition
    // emits the moment its second event arrives.
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val sf = "/root/testdata/sf0.001"
      val ev = graft.Tables.load(spark, sf, "events")
        .select($"user_id", $"event_id", $"event_type", $"ts")
      val rows = ev.orderBy($"ts", $"event_id").as[PathEvCC].collect().toSeq
      val ms = MemoryStream[PathEvCC]
      ms.addData(rows)
      val q = StatefulProcessors.sessionPaths(ms.toDF(), gapUs = Long.MaxValue)
        .writeStream.format("memory").queryName("trans_sink")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      val got = spark.table("trans_sink").filter($"src" =!= "_START_")
        .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val expect = ev.withColumn("prev", lag($"event_type", 1).over(w))
        .filter($"prev".isNotNull)
        .groupBy($"prev", $"event_type").agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      assert(got == expect, s"stream ${got.size} cells vs batch ${expect.size}")
      assert(got.values.sum == expect.values.sum && got.nonEmpty)
      // The p68 catalog entry is the top-20 of exactly this matrix.
      val top = graft.Catalog.byName("p68_transition_matrix").run(spark, sf)
        .select($"prev", $"cur", $"n").as[(String, String, Long)].collect()
      top.foreach { case (p, c, n) =>
        assert(expect((p, c)) == n, s"top-20 cell ($p,$c)")
      }
    }
  }

  test("session-path edges survive a checkpoint restart with state carried") {
    withRocksDb {
      val sf = "/root/testdata/sf0.001"
      val ev = graft.Tables.load(spark, sf, "events")
        .select($"user_id", $"event_id", $"event_type", $"ts").cache()
      // Cut INSIDE an intra-session gap (two same-user events ≤ 30 min
      // apart, the pair closest to the corpus median) so at least one
      // session is guaranteed to span the restart — a median-of-all-events
      // cut misses them at sf0.001, where sessions are mostly singletons.
      val medUs = ev.select(unix_micros($"ts").as("us"))
        .stat.approxQuantile("us", Array(0.5), 0.0).head.toLong
      val wU = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"us")
      val cutUs = ev.select($"user_id", unix_micros($"ts").as("us"))
        .withColumn("prev", lag($"us", 1).over(wU))
        .filter($"prev".isNotNull && $"us" - $"prev" <= 1800000000L)
        .select((($"prev" + $"us") / 2).cast("long").as("cut"))
        .orderBy(abs($"cut" - medUs)).limit(1)
        .as[Long].head()
      // Flush sentinels ride in chunk 2 (ts past every real event), so
      // run 2 drains the sessions open at end-of-stream and the edge
      // union can equal the batch matrix EXACTLY.
      val maxUs = ev.select(max(unix_micros($"ts"))).as[Long].head()
      val flushes = ev.select($"user_id").distinct()
        .select($"user_id", ($"user_id" + 1000000000L).as("event_id"),
          lit("_FLUSH_").as("event_type"),
          timestamp_micros(lit(maxUs + 3600000000L)).as("ts"))
      val (run1, run2) = restartRuns(ev.unionByName(flushes), cutUs,
        df => StatefulProcessors.sessionPaths(df))(
        df => df.as[PathEdge].collect().toSeq)
      val gotAll = run1 ++ run2
      val got = gotAll.groupBy(e => (e.src, e.dst))
        .map { case (k, es) => k -> es.size.toLong }
      val expect = graft.Catalog.byName("p54_session_paths").run(spark, sf)
        .as[(String, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      // Union equality is itself the state-carry proof: a session spanning
      // the cutoff must continue (prev → curr) in run 2 — a lost state
      // would emit _START_ → curr instead and break the matrix equality.
      assert(got == expect,
        s"restarted stream ${got.size} cells vs batch ${expect.size}")
      // Guard: the cutoff actually splits at least one session, so the
      // assertion above really exercised cross-restart state.
      val spanning = ev.select($"user_id", unix_micros($"ts").as("us"))
        .groupBy($"user_id").agg(
          max(when($"us" < cutUs, $"us")).as("before"),
          min(when($"us" >= cutUs, $"us")).as("after"))
        .filter($"before".isNotNull && $"after".isNotNull &&
          $"after" - $"before" <= 1800000000L)
        .count()
      assert(spanning > 0, "median cutoff split no session; test is vacuous")
    }
  }

  test("streaming keep-best matches the p63 batch argmax under shuffled arrival") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      // Same fingerprint as the p63 entry: 60-bit SimHash over distinct
      // tokens.
      val tokenHashes = expr(
        """transform(array_distinct(split(text, ' ')),
                     t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))""")
      val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select($"doc_id", $"source", $"n_chars",
          graft.functions.VectorFunctions.simhash60(tokenHashes).as("simhash"))
      // Deliberately scrambled arrival (md5 of doc_id), split into three
      // triggers: argmax state is commutative, so the final winner per
      // cluster must not depend on order or batch boundaries.
      val rows = docs.select($"simhash", $"doc_id", $"source", $"n_chars")
        .withColumn("shuf", md5($"doc_id".cast("string")))
        .orderBy($"shuf").drop("shuf")
        .as[KeepCC].collect().toSeq
      val ms = MemoryStream[KeepCC]
      val q = StatefulProcessors.keepBest(ms.toDF())
        .writeStream.format("memory").queryName("keepbest_sink")
        .outputMode("append").start()
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk)
        q.processAllAvailable()
      }
      q.stop()
      val changes = spark.table("keepbest_sink")
        .as[(Long, Long, String, Long)].collect().toSeq
      // Final winner per cluster = argmax over the changelog (the change
      // stream only ever improves, so the max IS the last emission).
      val got = changes.groupBy(_._1).view.mapValues(
        _.maxBy { case (_, id, _, nc) => (nc, -id) }).toMap.values
        .map { case (sim, id, src, nc) => (sim, id, src, nc) }.toSet
      val expect = docs.groupBy($"simhash")
        .agg(max(struct($"n_chars", (-$"doc_id").as("nd"),
          $"source".as("src"))).as("top"))
        .select($"simhash", (-$"top.nd").as("doc_id"), $"top.src",
          $"top.n_chars")
        .as[(Long, Long, String, Long)].collect().toSet
      assert(got == expect,
        s"stream ${got.size} winners vs batch ${expect.size}")
      // Supersession actually happened across triggers: more changes than
      // final winners means at least one cluster's champion was beaten by
      // a later arrival, so cross-batch state was exercised.
      assert(changes.size > expect.size,
        "no winner was ever superseded; the multi-trigger feed is vacuous")
    }
  }

  test("keep-best state survives a checkpoint restart: run 2 only improves") {
    withRocksDb {
      val tokenHashes = expr(
        """transform(array_distinct(split(text, ' ')),
                     t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))""")
      val fp = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select(
          graft.functions.VectorFunctions.simhash60(tokenHashes).as("simhash"),
          $"doc_id", $"source", $"n_chars")
      val cut = fp.select(expr("percentile_approx(doc_id, 0.5)"))
        .as[Double].head().toLong
      val in = tmpDir("kb_restart_in")
      val ckpt = tmpDir("kb_restart_ckpt")
      def runOnce(): Seq[(Long, Long, String, Long)] = {
        val sink =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
        val src = spark.readStream.schema(fp.schema).parquet(in)
        val q = StatefulProcessors.keepBest(src).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, _: Long) =>
            val rows = df.as[(Long, Long, String, Long)].collect().toSeq
            sink.synchronized { sink ++= rows }; ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination(60000)
        sink.toSeq
      }
      // Run 1 sees the HIGH doc_ids, run 2 the low ones: any cluster that
      // spans the cut must improve in run 2 (equal-length copies improve
      // via the smaller-doc_id tiebreak), so restored state is exercised.
      fp.filter($"doc_id" >= cut).coalesce(1).write.mode("append").parquet(in)
      val run1 = runOnce()
      fp.filter($"doc_id" < cut).coalesce(1).write.mode("append").parquet(in)
      val run2 = runOnce()
      val w1 = run1.groupBy(_._1).view.mapValues(
        _.maxBy { case (_, id, _, nc) => (nc, -id) }).toMap
      // Monotonicity across the restart: a run-2 emission for a cluster
      // run 1 already decided must STRICTLY beat run 1's champion — only
      // possible if run 2 restored that champion from the checkpoint (a
      // cold start would re-emit whatever it saw first).
      run2.foreach { case (sim, id, _, nc) =>
        w1.get(sim).foreach { case (_, id1, _, nc1) =>
          assert(nc > nc1 || (nc == nc1 && id < id1),
            s"cluster $sim: run-2 winner ($nc, $id) does not beat ($nc1, $id1)")
        }
      }
      val crossImproved = run2.count(r => w1.contains(r._1))
      assert(crossImproved > 0,
        "no cluster spanned the restart; the monotonicity check is vacuous")
      // And the combined changelog still lands on the batch argmax.
      val got = (run1 ++ run2).groupBy(_._1).view.mapValues(
        _.maxBy { case (_, id, _, nc) => (nc, -id) }).toMap.values.toSet
      val expect = fp.groupBy($"simhash")
        .agg(max(struct($"n_chars", (-$"doc_id").as("nd"),
          $"source".as("src"))).as("top"))
        .select($"simhash", (-$"top.nd").as("doc_id"), $"top.src",
          $"top.n_chars")
        .as[(Long, Long, String, Long)].collect().toSet
      assert(got == expect,
        s"restarted stream ${got.size} winners vs batch ${expect.size}")
    }
  }
}
