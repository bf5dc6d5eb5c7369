package graft.streaming

import java.io.PrintWriter
import java.net.ServerSocket

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** External-transport end-to-end: the NEXMark JSON decode chain fed from
  * a REAL TCP socket (Spark's built-in `socket` source + a ServerSocket
  * generator thread) — genuinely external bytes through the same
  * decode → window → checkpointed sink path every other transport uses.
  * This closes the last untested link while the Kafka/Kinesis connector
  * jars stay environment-blocked: the bytes cross a kernel socket, not a
  * DataFrame handoff.
  *
  * The socket source is AT-LEAST-ONCE only (no offsets — see
  * Connectors.socketReader): these tests assert row equality on a clean
  * run, not restart recovery, which is the V2 source's proven contract.
  */
class SocketTransportSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val N = 2000

  /** The batch truth: N generator bids, serialized to JSON lines exactly
    * as the wire writer sends them, then decoded back through the SAME
    * from_json chain — so both sides share one serialization contract.
    */
  private def bidJsonLines(): Seq[String] = {
    val bids = Nexmark.bidsFromIds(spark.range(0, N).toDF())
    bids.select(to_json(struct(col("auction"), col("bidder"), col("price"),
      col("b_date_time"))).as("j")).collect().map(_.getString(0)).toSeq
  }

  /** Serve `lines` (one connection, chunked with small gaps so the feed
    * spans several micro-batches), then hold the connection open until
    * `done` flips — the socket source treats a closed connection as a
    * stream-ending condition mid-query.
    */
  private def serve(server: ServerSocket, lines: Seq[String],
      done: java.util.concurrent.atomic.AtomicBoolean): Thread = {
    val t = new Thread(() => {
      val sock = server.accept()
      val out = new PrintWriter(sock.getOutputStream, true)
      lines.grouped(math.max(1, lines.size / 4)).foreach { chunk =>
        chunk.foreach(out.println)
        out.flush()
        Thread.sleep(200)
      }
      while (!done.get()) Thread.sleep(50)
      sock.close()
    })
    t.setDaemon(true)
    t.start()
    t
  }

  private def awaitCount(expected: Long, timeoutMs: Long)(count: => Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (count < expected && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(count >= expected,
      s"socket feed incomplete after ${timeoutMs}ms: $count < $expected")
  }

  test("socket-fed JSON bids decode to row equality with the batch truth") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_socket_decode").toAbsolutePath.toString
    val server = new ServerSocket(0)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val lines = bidJsonLines()
      serve(server, lines, done)
      val raw = Connectors.socketReader(spark, "localhost",
        server.getLocalPort).load()
      val decoded = Connectors.decodeBidPayload(raw, "value")
      val q = decoded.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
      try awaitCount(N, 60000)(
        try spark.read.parquet(s"$base/out").count() catch { case _: Exception => 0L })
      finally { done.set(true); q.stop() }
      val got = spark.read.parquet(s"$base/out")
      val want = Connectors.decodeBidPayload(
        spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
          .toDF("value"), "value")
      assert(got.count() == N)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "socket-decoded bids diverge from the batch-decoded truth")
    } finally {
      done.set(true)
      server.close()
      Replay.delete(base)
    }
  }

  test("socket → decode → tumbling window → checkpointed sink matches batch") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_socket_window").toAbsolutePath.toString
    val server = new ServerSocket(0)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      // Main bids span N/1000 s of event time at the generator density;
      // one far-future flush bid pushes the watermark past every main
      // window so append mode emits them all.
      val lines = bidJsonLines()
      val flush = """{"auction":1,"bidder":1,"price":100,""" +
        """"b_date_time":"2100-01-01T00:00:00.000Z"}"""
      serve(server, lines :+ flush, done)
      val raw = Connectors.socketReader(spark, "localhost",
        server.getLocalPort).load()
      val counts = Connectors.decodeBidPayload(raw, "value")
        .withWatermark("b_date_time", "2 seconds")
        .groupBy(window(col("b_date_time"), "1 second"))
        .agg(count(lit(1)).as("n"), sum("price").as("price_sum"))
        .select(col("window.start").as("ws"), col("n"), col("price_sum"))
      val q = counts.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
      val want = Connectors.decodeBidPayload(
        spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
          .toDF("value"), "value")
        .groupBy(window(col("b_date_time"), "1 second"))
        .agg(count(lit(1)).as("n"), sum("price").as("price_sum"))
        .select(col("window.start").as("ws"), col("n"), col("price_sum"))
      val nWindows = want.count()
      try awaitCount(nWindows, 60000)(
        try spark.read.parquet(s"$base/out").count() catch { case _: Exception => 0L })
      finally { done.set(true); q.stop() }
      val got = spark.read.parquet(s"$base/out")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "socket-fed windowed counts diverge from the batch recompute")
    } finally {
      done.set(true)
      server.close()
      Replay.delete(base)
    }
  }
}
