package graft.streaming

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkTestSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The live-streaming CLIs' flag parser, and a smoke run of every CLI mode
  * on the shared session: a few seconds at a low rate, with the last
  * printed line parsed as JSON.
  */
class LiveRunSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val mapper = new ObjectMapper()

  private def json(line: String): JsonNode = mapper.readTree(line)

  private def soak(args: String*): Seq[String] =
    SoakRun.run(spark, LiveRun.parse(args, SoakRun.Flags))

  private def nexmark(args: String*): Seq[String] =
    NexmarkRun.run(spark, LiveRun.parse(args, NexmarkRun.Flags))

  private def ysb(args: String*): Seq[String] =
    YsbRun.run(spark, LiveRun.parse(args, YsbRun.Flags))

  test("the flag parser pairs flags with values and rejects malformed input") {
    assert(LiveRun.parse(Seq("-q", "q11", "-changelog", "1"), SoakRun.Flags) ==
      Map("-q" -> "q11", "-changelog" -> "1"))
    val bad = Seq(
      Seq("-q", "q11", "-s"), // dangling flag
      Seq("-q", "q11", "60", "-s"), // a value where a flag belongs
      Seq("-q", "-s", "60"), // a flag where a value belongs
      Seq("-q", "q11", "-chagelog", "1")) // a flag SoakRun does not declare
    for (args <- bad) {
      val e = intercept[IllegalArgumentException](
        LiveRun.parse(args, SoakRun.Flags))
      assert(e.getMessage.forall(_ < 128), e.getMessage)
    }
  }

  test("SoakRun probe and -calib print one JSON line each") {
    val probe = json(soak("-q", "tumbling", "-e", "2000", "-s", "4").last)
    assert(probe.get("shape").asText == "tumbling")
    assert(probe.get("batches").asInt > 0 && probe.get("input_rows").asLong > 0)
    val calib = json(soak("-calib", "1").last)
    assert(calib.get("calib_s").asDouble > 0)
  }

  test("SoakRun -find brackets a capacity between close -lo and -hi") {
    val lines = soak("-q", "tumbling", "-find", "1", "-lo", "2000",
      "-hi", "3000", "-s", "3")
    assert(lines.size >= 2)
    lines.init.foreach(l => assert(json(l).has("sustained"), l))
    val cap = json(lines.last)
    assert(cap.get("capacity_shape").asText == "tumbling")
    assert(cap.has("max_sustained_eps") && cap.has("first_unsustained_eps"))
  }

  test("SoakRun -soak on q11tws reports the RocksDB store traffic") {
    val out = json(soak("-q", "q11tws", "-soak", "1", "-e", "2000", "-s", "6").last)
    assert(out.get("soak_shape").asText == "q11tws")
    assert(out.get("minutes").size >= 1)
    val store = out.get("store")
    assert(store != null && store.get("batches").asInt > 0)
    // -1 means Spark reported no rocksdbGetCount: a renamed metric key.
    assert(store.get("get_per_row").asDouble >= 0, store.toString)
    assert(store.get("put_per_row").asDouble >= 0, store.toString)
  }

  test("SoakRun -multi with a capped stream carries backlog_rows per minute") {
    val out = json(soak("-multi", "tumbling:2000:1000", "-s", "5").last)
    val q = out.get("queries").get(0)
    assert(q.get("cap_eps").asInt == 1000)
    val minutes = q.get("minutes").elements().asScala.toSeq
    assert(minutes.nonEmpty && minutes.forall(_.has("backlog_rows")), q.toString)
  }

  test("SoakRun -admit reports the landed-rows backlog ledger") {
    val out = json(soak("-q", "tumbling", "-admit", "1", "-cap", "1000",
      "-e", "2000", "-s", "4").last)
    assert(out.get("landed_rows").asLong > 0)
    assert(out.has("final_backlog_rows"))
    assert(out.get("minutes").get(0).has("backlog_rows"))
  }

  test("NexmarkRun -q 1 streams rows into its sink; -q 9 runs per batch") {
    val q1 = json(nexmark("-q", "1", "-s", "4", "-e", "1000", "-g", "2").last)
    assert(q1.get("query").asInt == 1 && q1.get("out_rows").asLong > 0)
    val q9 = json(nexmark("-q", "9", "-s", "4", "-e", "1000", "-g", "2").last)
    assert(q9.get("query").asInt == 9 && q9.has("out_rows"))
  }

  test("YsbRun --progress 1 prints minute rows before its summary") {
    val lines = ysb("-e", "1000", "-s", "4", "-g", "2", "--progress", "1")
    assert(lines.size >= 2)
    assert(json(lines.head).has("mean_batch_ms"))
    val out = json(lines.last)
    assert(out.get("benchmark").asText == "ysb" && out.get("input_rows").asLong > 0)
  }

  test("YsbRun counts every batch's input, not only the recent-progress window") {
    // Added before YsbRun's own sampler, so it sees each event first.
    val rows = new java.util.concurrent.atomic.AtomicLong()
    val batches = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == "ysb_run" && e.progress.numInputRows > 0) {
          rows.addAndGet(e.progress.numInputRows)
          batches.incrementAndGet(): Unit
        }
    }
    spark.streams.addListener(counter)
    val out = try ReplayConfs.withConfs(spark,
        "spark.sql.streaming.numRecentProgressUpdates" -> "2") {
      json(ysb("-e", "1000", "-s", "6", "-g", "2").last)
    } finally spark.streams.removeListener(counter)
    assert(batches.get() > 2, "too few batches to tell the counts apart")
    assert(out.get("input_rows").asLong == rows.get())
  }
}
