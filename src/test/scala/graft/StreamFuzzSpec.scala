package graft

import graft.streaming.StreamFuzz
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Guards the streaming-path fuzzer (StreamFuzz): the committed corpus at
  * tools/streamfuzz/corpus.json pins every seed's topology, parameters,
  * chunk cuts, restart pattern, AND an md5 of the fully-fragmented corpus
  * rows — so a generator edit cannot silently change what the 120-seed
  * differential sweep (stream through transformWithState on RocksDB vs an
  * independent batch recompute) re-verifies each round.
  */
class StreamFuzzSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("build(seed) is a pure function of the seed") {
    (1 to 30).foreach { s =>
      assert(StreamFuzz.build(s).describe == StreamFuzz.build(s).describe,
        s"seed $s drifted")
    }
  }

  test("committed corpus reproduces byte-for-byte from the seeds") {
    val committed =
      Files.readString(Paths.get("tools/streamfuzz/corpus.json"))
    val derived = StreamFuzz.corpusJson(StreamFuzz.DefaultSeeds)
    assert(derived == committed,
      "generator output no longer matches tools/streamfuzz/corpus.json — " +
        "re-dump with `runMain graft.streaming.StreamFuzz --dump " +
        "tools/streamfuzz/corpus.json` and re-run the sweep before " +
        "committing")
  }

  test("corpus covers every topology and fuzz axis") {
    val scns = (1 to StreamFuzz.DefaultSeeds).map(StreamFuzz.build)
    StreamFuzz.TopologiesV2.foreach { t =>
      assert(scns.count(_.topo == t) >= 3, s"topology coverage: $t")
    }
    // v3: every watermark-eviction topology is well-covered (r11 #2).
    StreamFuzz.TopologiesV3.foreach { t =>
      assert(scns.count(_.topo == t) >= 15, s"v3 topology coverage: $t")
    }
    assert(scns.filter(_.topo == "sessionslate")
      .map(_.params("delayMs")).distinct.size >= 2,
      "past-watermark displacement delay variety")
    assert(scns.filter(_.topo == "wau")
      .map(_.params("horizonH")).distinct.size >= 2, "wau horizon variety")
    assert(scns.filter(_.topo == "ingest").exists(_.extra.nonEmpty),
      "ingest static-index coverage")
    assert(scns.count(_.topo == "decayed") >= 3, "mapGroupsWithState coverage")
    // v4: the V2-source admission topology (r12 #7) — ≥40 seeds, with
    // real variety on the admission grid and restart counts.
    val v2 = scns.filter(_.topo == "v2source")
    assert(v2.size >= 40, s"v2source coverage: ${v2.size}")
    assert(v2.map(_.params("numPartitions")).distinct.size >= 3,
      "v2source partition variety")
    assert(v2.exists(_.chunks.head.size >= 3),
      "v2source multi-restart coverage")
    assert(v2.forall(_.chunks.head.size >= 1), "v2source segment presence")
    // Restart-vs-continuation boundaries both occur.
    assert(scns.exists(_.restarts.drop(1).contains(false)),
      "same-run microbatch boundaries")
    assert(scns.exists(_.restarts.drop(1).contains(true)),
      "checkpoint-restart boundaries")
    // Empty chunks occur (the degenerate fragmentation).
    assert(scns.exists(_.chunks.exists(_.isEmpty)), "empty-chunk coverage")
    // Watermark displacement parameters vary.
    assert(scns.filter(_.topo == "sessions")
      .map(_.params("delayMs")).distinct.size >= 2, "watermark-lag variety")
  }

  test("one seed per topology passes stream==batch (suite smoke)") {
    // Seeds 1-10 cover the 10 v1 topologies ((seed-1) % 10), seed 131 is
    // the first `decayed` ((131-121) % 11 == 10), 221-224 the four v3
    // watermark-eviction topologies, and 301 the v4 V2-source admission
    // topology; the full sweep runs via the main per round.
    ((1 to 10) :+ 131) ++ (221 to 224) :+ 301 foreach { seed =>
      StreamFuzz.runSeed(spark, seed) match {
        case Right(_) => ()
        case Left(msg) => fail(s"seed $seed: $msg")
      }
    }
  }

  test("a v2source replay that emits no row reads back an empty frame") {
    // One event leaves no gap to emit. The parquet sink creates its dir on
    // the first run, so the read-back needs no missing-dir fallback.
    val scn = StreamFuzz.Scn(0, "v2source",
      Map("total" -> 1L, "numPartitions" -> 1L, "groups" -> 1L),
      Seq(Seq(StreamFuzz.V2Seg(1L, 1L))), Seq(true))
    assert(StreamFuzz.v2SourceStream(spark, scn).isEmpty)
  }

  test("injection axis: seeds stay green under mid-batch task failures") {
    // graft.inject.fuzz=1 wraps every replayed stream in
    // FailureInjection.failFirstAttempt (partition 0's first attempt dies
    // after partial state writes; the session master local[4,2] retries).
    // One seed per source family: sessions (bids), gapspec (events),
    // neardup (docs), plus a watermark-eviction topology (curation), the
    // manual-clock gap windows (gapwin, seed 10), and the V2-source
    // admission topology (seed 301).
    val before = StreamFuzz.injectedRetries.get()
    sys.props("graft.inject.fuzz") = "1"
    try {
      Seq(1, 3, 2, 221, 10, 301).foreach { seed =>
        StreamFuzz.runSeed(spark, seed) match {
          case Right(_) => ()
          case Left(msg) => fail(s"injected seed $seed: $msg")
        }
      }
    } finally sys.props.remove("graft.inject.fuzz"): Unit
    assert(StreamFuzz.injectedRetries.get() > before,
      "no injected-failure retry survived — the failure never fired " +
        "(corpus too small for afterRows, or the wrapper was bypassed)")
  }
}
