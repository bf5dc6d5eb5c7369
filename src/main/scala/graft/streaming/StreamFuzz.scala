package graft.streaming

import graft.streaming.ReplayConfs.{RocksState, SharedClassLoader, withConfs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.util.Random

/** Differential STREAMING fuzzer — the SqlFuzz discipline applied to the
  * streaming path itself. The stw_ hard-gate entries each fix ONE chunking
  * and ONE arrival order; the reference's windows must be right under ANY
  * epoch fragmentation (its Arena reassembles arbitrary fragment arrivals,
  * flock/src/runtime/arena/mod.rs:162-358). Each seed deterministically
  * generates a synthetic corpus, fragments it into random chunks, replays
  * it through the REAL stateful processors (`transformWithState` on
  * RocksDB, parquet file source, checkpoint shared across random restart
  * positions), and asserts multiset equality against an independently
  * formulated batch recompute of the same corpus.
  *
  * Fuzzed axes, per topology contract:
  *   - chunk-cut points: random positions (including empty chunks);
  *   - arrival order: rows shuffled within every chunk (processors either
  *     sort within a batch or are commutative); topologies with NO arrival
  *     contract (keep-best, heavy hitters, auction top-k, q12 gap windows)
  *     get fully random cross-chunk interleaving; order-contract
  *     topologies (funnel, attribution, session paths, gap spectrum,
  *     near-dup strict) keep chunks ordered by the processor's documented
  *     total order but vary every cut; the watermark topology (q11
  *     sessions) additionally DISPLACES rows across chunk boundaries
  *     within the watermark delay — late-but-admissible arrivals;
  *   - restart positions: each chunk boundary is randomly a checkpoint
  *     restart (new query, same checkpoint) or a same-run microbatch
  *     boundary (maxFilesPerTrigger=1);
  *   - watermark lag: the session topology draws its delay and gap;
  *   - trigger cadence: the q12 processing-time topology draws its window
  *     size and per-batch manual-clock advances.
  *
  * Determinism: `build(seed)` is a pure function of the seed (all corpus
  * rows, cuts, displacement, and restart flags are drawn driver-side from
  * one `scala.util.Random`); the committed corpus at
  * tools/streamfuzz/corpus.json pins each seed's descriptor INCLUDING an
  * md5 of the fully-fragmented corpus, so a generator edit cannot
  * silently change what a round re-verifies (StreamFuzzSpec re-derives
  * and diffs, the FuzzSpec pattern).
  *
  * Usage: sbt "runMain graft.streaming.StreamFuzz [n] [firstSeed]"
  * Corpus: sbt "runMain graft.streaming.StreamFuzz --dump tools/streamfuzz/corpus.json [n]"
  */
object StreamFuzz {

  /** Seeds 1-120 are frozen on the 10-topology v1 map; seeds 121-220 use
    * the 11-topology map that adds `decayed` (the p21 decayed-count stream
    * on mapGroupsWithState — the one stateful API the v1 topologies don't
    * touch); seeds 221+ use the v3 map of WATERMARK-EVICTION topologies
    * (r11 verdict #2): the three StreamPipeline
    * `dropDuplicatesWithinWatermark` streams (curation, ingest, wau) plus
    * `sessionslate` — the q11 session topology with displacement PAST the
    * watermark, asserting the late-drop behavior matches an admission-
    * filtered batch recompute. Frozen corpus text is sacred, same rule as
    * SqlFuzz.
    */
  val V1Seeds = 120
  val V2Seeds = 220
  val V3Seeds = 300
  val DefaultSeeds = 340

  val Topologies: Vector[String] = Vector(
    "sessions", "neardup", "gapspectrum", "funnel", "attribution",
    "sessionpaths", "keepbest", "heavyhitters", "auctiontopk", "gapwindows")

  val TopologiesV2: Vector[String] = Topologies :+ "decayed"

  val TopologiesV3: Vector[String] =
    Vector("curation", "ingest", "wau", "sessionslate")

  /** Seeds 301+ fuzz the native DataSource V2 generator source's
    * admission boundary (r12 verdict #7): AvailableNow segments that
    * raise totalEvents while CHANGING rowsPerTrigger across checkpoint
    * restarts — the stateful gap-spectrum output over the id stream is
    * bit-sensitive to any offset gap (merged gap value) or replay
    * (zero-gap row), so exceptAll-equality with the batch truth IS the
    * offset-continuity proof.
    */
  val TopologiesV4: Vector[String] = Vector("v2source")

  // ---- seeded generation context ----

  final class G(val r: Random) {
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.length))
    def int(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def longIn(lo: Long, hi: Long): Long =
      java.lang.Math.floorMod(r.nextLong(), hi - lo + 1) + lo
  }

  // ---- corpus row types (driver-side; DataFrames built per run) ----

  case class Ev(user_id: Long, event_id: Long, event_type: String, tsUs: Long)
  case class Bid(auction: Int, bidder: Int, price: Int, tsMs: Long)
  case class Doc(doc_id: Long, text: String, tsUs: Long)
  case class Keep(simhash: Long, doc_id: Long, source: String, n_chars: Long)
  case class HH(group: String, key: Long)
  // v3 watermark-eviction topologies
  case class CDoc(doc_id: Long, text: String, lang: String, tsMs: Long)
  case class IDoc(doc_id: Long, text: String, tsMs: Long)
  case class WEv(user_id: Long, tsMs: Long)
  case class FpRow(fp: String)
  // v4 V2-source admission topology: one row per AvailableNow segment.
  case class V2Seg(endOffset: Long, rowsPerTrigger: Long)

  private val EvBaseUs = 1700000000000000L
  private val BidBaseMs = 1700000000000L

  private def genEvents(g: G): Seq[Ev] = {
    val nUsers = g.int(1, 40)
    val n = g.int(60, 1500)
    // Coarse granularities force timestamp ties — the tie-break paths.
    val granUs = g.pick(Seq(1L, 1000L, 1000000L, 60000000L))
    val spanUs = 3L * 86400 * 1000000
    val types = Seq("view", "view", "view", "click", "click", "purchase",
      "purchase", "error", "signup")
    (0 until n).map { i =>
      Ev(g.int(0, nUsers - 1).toLong, i.toLong, g.pick(types),
        EvBaseUs + g.longIn(0L, spanUs) / granUs * granUs)
    }
  }

  private def genBids(g: G,
      grans: Seq[Long] = Seq(1L, 10L, 1000L)): Seq[Bid] = {
    val nAuctions = g.int(1, 20)
    val nBidders = g.int(1, 30)
    val n = g.int(100, 2000)
    val granMs = g.pick(grans)
    val spanMs = 120000L
    (0 until n).map { _ =>
      Bid(g.int(0, nAuctions - 1), g.int(0, nBidders - 1), g.int(1, 10000),
        BidBaseMs + g.longIn(0L, spanMs) / granMs * granMs)
    }
  }

  private def genDocs(g: G): Seq[Doc] = {
    val vocab = (0 until 30).map(i => s"w$i")
    val n = g.int(40, 400)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).foreach { i =>
      val t =
        if (i > 0 && g.chance(0.3)) texts(g.int(0, i - 1)) // exact dup text
        else (0 until g.int(6, 14)).map(_ => g.pick(vocab)).mkString(" ")
      texts += t
    }
    texts.zipWithIndex.map { case (t, i) =>
      Doc(i.toLong, t, EvBaseUs + i * 1000000L)
    }.toSeq
  }

  private def genKeep(g: G): Seq[Keep] = {
    val nClusters = g.int(1, 30)
    val n = g.int(50, 600)
    val sources = Seq("srcA", "srcB", "srcC", "srcD")
    // Small n_chars pool forces argmax ties → the docId-asc tie-break.
    val charsPool = Seq(50L, 100L, 100L, 100L, 150L, 200L)
    (0 until n).map { i =>
      Keep(g.int(0, nClusters - 1).toLong, i.toLong, g.pick(sources),
        g.pick(charsPool))
    }
  }

  private def genHH(g: G): Seq[HH] = {
    val groups = Seq("ga", "gb", "gc", "gd", "ge").take(g.int(1, 5))
    val m = g.int(5, 200)
    val n = g.int(100, 3000)
    (0 until n).map { _ =>
      // Nested draw skews toward small keys (heavy hitters exist).
      HH(g.pick(groups), g.int(0, g.int(0, m - 1)).toLong)
    }
  }

  // ---- fragmentation ----

  /** Random cut positions over contract-ordered rows (empty chunks ok). */
  private def orderedCuts[T](rows: Seq[T], g: G, n: Int): Seq[Seq[T]] = {
    val cuts = Seq.fill(n - 1)(g.int(0, rows.size)).sorted
    val bounds = (0 +: cuts) :+ rows.size
    bounds.sliding(2).map { case Seq(a, b) => rows.slice(a, b) }.toSeq
  }

  /** Fully random cross-chunk interleaving (commutative topologies). */
  private def interleaved[T](rows: Seq[T], g: G, n: Int): Seq[Seq[T]] = {
    val tags = rows.map(_ => g.int(0, n - 1))
    (0 until n).map(c => rows.zip(tags).collect { case (r, t) if t == c => r })
  }

  /** Watermark-bounded displacement: a row near the end of chunk c (within
    * `wMs` of the chunk's max event time) may slip one chunk later. Safe by
    * construction: the watermark after chunk c is maxTs(≤c) − delay, and a
    * displaced row has ts ≥ maxTs(c) − wMs > maxTs(c) − delay for
    * wMs < delay, so it is late-but-admissible, never dropped.
    */
  private def displace(chunks: Seq[Seq[Bid]], g: G, wMs: Long): Seq[Seq[Bid]] = {
    val out = Array.fill(chunks.size)(Vector.empty[Bid])
    chunks.zipWithIndex.foreach { case (c, i) =>
      if (c.isEmpty || i == chunks.size - 1) out(i) ++= c
      else {
        val maxTs = c.map(_.tsMs).max
        c.foreach { b =>
          if (b.tsMs >= maxTs - wMs && g.chance(0.4)) out(i + 1) :+= b
          else out(i) :+= b
        }
      }
    }
    out.toSeq
  }

  /** v3 displacement: `pNear` rows within `wMs` of their chunk's max event
    * time slip one chunk later (late-but-admissible for wMs < delay, the
    * existing axis), and `pFar` rows jump to a RANDOM chunk >= 2 later —
    * usually PAST the watermark by then, i.e. genuinely late. Neither
    * outcome is assumed: the truth side replays Spark's exact per-batch
    * admission rule (see `admittedRows`) and decides row by row.
    */
  private def displaceGen[T](chunks: Seq[Seq[T]], g: G, ts: T => Long,
      wMs: Long, pNear: Double, pFar: Double): Seq[Seq[T]] = {
    val n = chunks.size
    val out = Array.fill(n)(Vector.empty[T])
    chunks.zipWithIndex.foreach { case (c, i) =>
      if (c.isEmpty || i == n - 1) out(i) ++= c
      else {
        val maxTs = c.map(ts).max
        c.foreach { r =>
          if (i + 2 < n && g.chance(pFar)) out(g.int(i + 2, n - 1)) :+= r
          else if (ts(r) >= maxTs - wMs && g.chance(pNear)) out(i + 1) :+= r
          else out(i) :+= r
        }
      }
    }
    out.toSeq
  }

  // ---- v3 corpora (watermark-eviction topologies) ----
  //
  // Shared construction rules that make the truth side EXACT:
  //  - dedup delays are odd-ms ({2501,5003,10007}) while every event-time
  //    granularity is a multiple of 10 ms, so an event time can never tie
  //    with a watermark (max ts - delay) — the admission comparison is
  //    strict-inequality-safe on both engines;
  //  - every near-dup group spans at most delay/2 in event time, so under
  //    ANY admissible fragmentation the first non-late arrival's state is
  //    still alive when the others arrive (expiry = first + delay, and the
  //    watermark when a member arrives is below that member's ts <=
  //    first + delay/2) — exactly one survivor, chosen by arrival order,
  //    which the driver-side corpus knows exactly (file order is batch
  //    order; probed: in-batch survivor = first row in file order).

  private val CurSpanMs = 120000L

  private def genCuration(g: G): (Seq[CDoc], Long) = {
    val delayMs = g.pick(Seq(2501L, 5003L, 10007L))
    val granMs = g.pick(Seq(10L, 1000L))
    val langs = Seq("en", "es", "de", "fr")
    val vocab = (0 until 40).map(i => s"w$i")
    val nEnt = g.int(30, 160)
    val rows = scala.collection.mutable.ArrayBuffer.empty[CDoc]
    var id = 0L
    (0 until nEnt).foreach { e =>
      // ~20% fail the 8-token quality gate (the unique token u<e> keeps
      // digests entity-unique, so "group" and "digest" coincide).
      val nWords = if (g.chance(0.2)) g.int(2, 6) else g.int(7, 13)
      val text =
        ((0 until nWords).map(_ => g.pick(vocab)) :+ s"u$e").mkString(" ")
      val t0 = g.longIn(0L, CurSpanMs) / granMs * granMs
      val members = if (g.chance(0.35)) g.int(2, 4) else 1
      (0 until members).foreach { _ =>
        val ts = t0 + g.longIn(0L, delayMs / 2) / granMs * granMs
        rows += CDoc(id, text, g.pick(langs), EvBaseUs / 1000 + ts)
        id += 1
      }
    }
    (rows.sortBy(r => (r.tsMs, r.doc_id)).toSeq, delayMs)
  }

  private def genIngest(g: G): (Seq[IDoc], Seq[String], Long) = {
    val delayMs = g.pick(Seq(2501L, 5003L, 10007L))
    val granMs = g.pick(Seq(10L, 1000L))
    val vocab = (0 until 40).map(i => s"w$i")
    val nEnt = g.int(30, 160)
    val rows = scala.collection.mutable.ArrayBuffer.empty[IDoc]
    val index = scala.collection.mutable.ArrayBuffer.empty[String]
    var id = 0L
    (0 until nEnt).foreach { e =>
      val tokens = (0 until g.int(4, 10)).map(_ => g.pick(vocab)) :+ s"u$e"
      val fp = md5Hex(tokens.distinct.sorted.mkString(" "))
      val indexed = g.chance(0.25)
      if (indexed) index += fp
      // Indexed entities may still stream members (anti-joined away);
      // some index entries have no stream twin at all.
      val members =
        if (indexed && g.chance(0.3)) 0
        else if (g.chance(0.3)) g.int(2, 4) else 1
      val t0 = g.longIn(0L, CurSpanMs) / granMs * granMs
      (0 until members).foreach { _ =>
        val ts = t0 + g.longIn(0L, delayMs / 2) / granMs * granMs
        // Dup members reshuffle word ORDER: different text, same sorted
        // distinct token set — the canonical-form axis of the fingerprint.
        rows += IDoc(id, g.r.shuffle(tokens).mkString(" "),
          EvBaseUs / 1000 + ts)
        id += 1
      }
    }
    (rows.sortBy(r => (r.tsMs, r.doc_id)).toSeq, index.toSeq, delayMs)
  }

  private val DayMs = 86400000L

  private def genWau(g: G): (Seq[WEv], Long) = {
    // horizon hours ≡ 3 (mod 24): the watermark (a day-multiple minus the
    // horizon) can never tie a day-aligned wday_ts; >= 99h also keeps the
    // (user, wday) dedup exact under ordered-with-displacement arrival
    // (two contributions to one wday sit <= 6 days + displacement apart,
    // within 2x the horizon).
    val horizonH = g.pick(Seq(99L, 123L, 195L))
    val granMs = g.pick(Seq(60000L, 3600000L))
    val nUsers = g.int(1, 30)
    val n = g.int(60, 800)
    val spanMs = 30L * DayMs
    val rows = (0 until n).map { _ =>
      WEv(g.int(0, nUsers - 1).toLong,
        EvBaseUs / 1000 + g.longIn(0L, spanMs) / granMs * granMs)
    }
    (rows.sortBy(r => (r.tsMs, r.user_id)), horizonH)
  }

  private def md5Hex(str: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // ---- scenario ----

  /** Everything a run needs, pure function of the seed. `rendered` pins
    * the exact fragmented corpus for the committed descriptor.
    */
  final case class Scn(seed: Int, topo: String, params: Map[String, Long],
      chunks: Seq[Seq[Product]], restarts: Seq[Boolean],
      extra: Seq[Product] = Nil) {
    def describe: String = {
      val p = params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString(" ")
      val sizes = chunks.map(_.size).mkString(",")
      val rs = restarts.map(b => if (b) "R" else "-").mkString
      s"$topo $p chunks=[$sizes] restarts=$rs md5=$md5"
    }
    def md5: String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      chunks.foreach { c =>
        d.update("|chunk|".getBytes("UTF-8"))
        c.foreach(r => d.update(
          (r.productIterator.mkString(",") + "\n").getBytes("UTF-8")))
      }
      // Static side-input data (e.g. the ingest fingerprint index) is
      // pinned too; empty for pre-v3 seeds, so their digests are stable.
      if (extra.nonEmpty) {
        d.update("|extra|".getBytes("UTF-8"))
        extra.foreach(r => d.update(
          (r.productIterator.mkString(",") + "\n").getBytes("UTF-8")))
      }
      d.digest().map("%02x".format(_)).mkString.take(12)
    }
  }

  def build(seed: Int): Scn = {
    val g = new G(new Random(seed.toLong * 0x9e3779b97f4a7c15L + 1013904223L))
    val topo =
      if (seed <= V1Seeds) Topologies((seed - 1) % Topologies.size)
      else if (seed <= V2Seeds)
        TopologiesV2((seed - V1Seeds - 1) % TopologiesV2.size)
      else if (seed <= V3Seeds)
        TopologiesV3((seed - V2Seeds - 1) % TopologiesV3.size)
      else TopologiesV4((seed - V3Seeds - 1) % TopologiesV4.size)
    val nChunks = g.int(2, 6)
    val restarts = Seq(true) ++ Seq.fill(nChunks - 1)(g.chance(0.6))
    def shuffled[T](cs: Seq[Seq[T]]): Seq[Seq[T]] = cs.map(c => g.r.shuffle(c))
    topo match {
      case "sessions" =>
        val gapUs = g.pick(Seq(2000000L, 5000000L, 10000000L))
        val delayMs = g.pick(Seq(2000L, 5000L, 10000L))
        val wMs = delayMs / 2
        val rows = genBids(g).sortBy(_.tsMs)
        val cs = displace(orderedCuts(rows, g, nChunks), g, wMs)
        // Far-future sentinel (filtered from results) advances the
        // watermark past every session close — the production drain.
        val sentinel = Seq(Bid(-1, -1, 0, BidBaseMs + 86400000L))
        Scn(seed, topo,
          Map("gapUs" -> gapUs, "delayMs" -> delayMs, "wMs" -> wMs),
          shuffled(cs) :+ sentinel, restarts :+ true)
      case "neardup" =>
        val rows = genDocs(g).sortBy(d => (d.tsUs, d.doc_id))
        Scn(seed, topo, Map.empty,
          shuffled(orderedCuts(rows, g, nChunks)), restarts)
      case "gapspectrum" | "sessionpaths" =>
        val rows = genEvents(g).sortBy(e => (e.tsUs, e.event_id))
        val base = shuffled(orderedCuts(rows, g, nChunks))
        if (topo == "sessionpaths") {
          val gapUs = g.pick(Seq(600000000L, 1800000000L, 3600000000L))
          val users = rows.map(_.user_id).distinct.sorted
          val flush = users.map(u =>
            Ev(u, 1000000L + u, "_FLUSH_", EvBaseUs + 30L * 86400 * 1000000))
          Scn(seed, topo, Map("gapUs" -> gapUs), base :+ flush,
            restarts :+ true)
        } else Scn(seed, topo, Map.empty, base, restarts)
      case "funnel" | "attribution" =>
        val rows = genEvents(g).sortBy(e => (e.tsUs, e.event_id))
        val lookbackUs =
          g.pick(Seq(600000000L, 3600000000L, 7200000000L))
        Scn(seed, topo,
          if (topo == "attribution") Map("lookbackUs" -> lookbackUs)
          else Map.empty,
          shuffled(orderedCuts(rows, g, nChunks)), restarts)
      case "decayed" =>
        // p21's streaming twin on mapGroupsWithState: per-group
        // event-time order across triggers (same contract as funnel).
        val halfLifeUs =
          g.pick(Seq(600000000L, 3600000000L, 7200000000L))
        val rows = genEvents(g).sortBy(e => (e.tsUs, e.event_id))
        Scn(seed, topo, Map("halfLifeUs" -> halfLifeUs),
          shuffled(orderedCuts(rows, g, nChunks)), restarts)
      case "keepbest" =>
        Scn(seed, topo, Map.empty,
          shuffled(interleaved(genKeep(g), g, nChunks)), restarts)
      case "heavyhitters" =>
        val k = g.int(1, 5).toLong
        Scn(seed, topo, Map("k" -> k),
          shuffled(interleaved(genHH(g), g, nChunks)), restarts)
      case "auctiontopk" =>
        val k = g.int(1, 5).toLong
        Scn(seed, topo, Map("k" -> k),
          shuffled(interleaved(genBids(g), g, nChunks)), restarts)
      case "gapwindows" =>
        val n = g.int(3, 5)
        val sizeMs = g.pick(Seq(1500L, 2500L)) // window size
        val advances = (1 until n).map(_ => g.pick(Seq(600L, 1100L, 1700L,
          2300L)))
        val params = Map("sizeMs" -> sizeMs) ++
          advances.zipWithIndex.map { case (a, i) => s"adv$i" -> a }
        Scn(seed, topo, params,
          interleaved(genBids(g), g, n).map(c => g.r.shuffle(c)),
          Seq.fill(n)(false)) // one continuous manual-clock query
      case "curation" =>
        val (rows, delayMs) = genCuration(g)
        val cs = displaceGen(orderedCuts(rows, g, nChunks), g,
          (d: CDoc) => d.tsMs, delayMs / 4, 0.3, 0.1)
        // Far-future gate-passing sentinel (lang "zz", filtered from the
        // comparison): advances the watermark past every real 10 s window
        // so append mode emits them; its own window never finalizes.
        val sentinel = Seq(CDoc(-1L, (1 to 8).map(i => s"s$i").mkString(" "),
          "zz", EvBaseUs / 1000 + CurSpanMs + 3600000L))
        Scn(seed, topo, Map("delayMs" -> delayMs),
          shuffled(cs) :+ sentinel, restarts :+ true)
      case "ingest" =>
        val (rows, index, delayMs) = genIngest(g)
        val cs = displaceGen(orderedCuts(rows, g, nChunks), g,
          (d: IDoc) => d.tsMs, delayMs / 4, 0.3, 0.1)
        // No sentinel: the dedup + anti-join chain holds nothing back —
        // accepted rows emit in their own microbatch.
        Scn(seed, topo, Map("delayMs" -> delayMs), shuffled(cs), restarts,
          extra = index.map(FpRow))
      case "wau" =>
        val (rows, horizonH) = genWau(g)
        val cs = displaceGen(orderedCuts(rows, g, nChunks), g,
          (e: WEv) => e.tsMs, 6L * 3600000L, 0.3, 0.12)
        val maxReal = rows.map(_.tsMs).max
        val sentinel = Seq(WEv(-1L, maxReal + 40L * DayMs))
        Scn(seed, topo, Map("horizonH" -> horizonH),
          shuffled(cs) :+ sentinel, restarts :+ true)
      case "sessionslate" =>
        // The q11 session topology with displacement PAST the watermark:
        // a genuinely-late bid must be dropped by the transformWithState
        // late filter (probed), and the truth side sessionizes only the
        // admitted rows. Coarse granularities + odd-ms delays keep the
        // admission comparison tie-free.
        val gapUs = g.pick(Seq(2000000L, 5000000L, 10000000L))
        val delayMs = g.pick(Seq(2503L, 5009L, 10007L))
        val rows = genBids(g, grans = Seq(10L, 1000L)).sortBy(_.tsMs)
        val cs = displaceGen(orderedCuts(rows, g, nChunks), g,
          (b: Bid) => b.tsMs, delayMs / 2, 0.35, 0.1)
        val sentinel = Seq(Bid(-1, -1, 0, BidBaseMs + 86400000L))
        Scn(seed, topo, Map("gapUs" -> gapUs, "delayMs" -> delayMs),
          shuffled(cs) :+ sentinel, restarts :+ true)
      case "v2source" =>
        // AvailableNow segments over the V2 generator source: totalEvents
        // strictly rises; rowsPerTrigger is re-drawn PER SEGMENT so the
        // admission grid never aligns across checkpoint restarts, and
        // restart points land mid-grid.
        val total = g.int(50, 3000).toLong
        val nSegs = g.int(2, 5)
        val cuts = Seq.fill(nSegs - 1)(g.longIn(1L, total - 1))
          .distinct.sorted
        val segs = ((cuts :+ total).distinct).map(e =>
          V2Seg(e, g.longIn(1L, math.max(1L, total / 2))))
        Scn(seed, topo,
          Map("total" -> total, "numPartitions" -> g.int(1, 6).toLong,
            "groups" -> g.int(1, 8).toLong),
          Seq(segs), Seq(true))
    }
  }

  // ---- replay machinery (the StreamGate pattern + random restarts) ----

  /** Land one chunk as one file `in/cNNNN.parquet` with a strictly
    * increasing modification time — both the path order and the modTime
    * order the file source could use agree with chunk order, so each file
    * is its own microbatch in chunk order under maxFilesPerTrigger=1.
    */
  private def landChunk(df: DataFrame, in: String, idx: Int): Unit = {
    val stage = s"$in/_stage$idx"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(f => f.getName.startsWith("part-")).head
    val dst = new java.io.File(in, f"c$idx%04d.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath)
    dst.setLastModified(1700000000000L + idx * 60000L): Unit
    Replay.delete(stage)
  }

  /** SPARK_GRAFT_INJECT_FUZZ=1 runs the whole fuzz corpus under mid-batch
    * task-failure injection (graft.streaming.FailureInjection): partition
    * 0 of every replayed microbatch dies on its first attempt after
    * partial state writes and is retried — the randomized
    * fragmentation/restart/displacement sweep then doubles as an
    * exactly-once-under-task-retry proof across all topologies. Requires
    * the retry-capable master (main uses local[8,2]).
    */
  private def injectFuzz: Boolean =
    sys.env.get("SPARK_GRAFT_INJECT_FUZZ").contains("1") ||
      sys.props.get("graft.inject.fuzz").contains("1")

  /** Driver-side total of surviving injected-failure retries across the
    * sweep (each seed folds its accumulator in after the seed completes).
    */
  val injectedRetries = new java.util.concurrent.atomic.AtomicLong(0L)

  private def maybeInject(s: SparkSession)(df: DataFrame)
      : (DataFrame, () => Unit) =
    if (!injectFuzz) (df, () => ())
    else {
      val acc = s.sparkContext.longAccumulator("graft_inject_fuzz")
      (graft.streaming.FailureInjection.failFirstAttempt(df, acc),
        () => injectedRetries.addAndGet(acc.value): Unit)
    }

  /** Drain `chunks` through `transform` into a parquet sink: chunk
    * boundaries where `restarts` is true start a NEW AvailableNow query on
    * the shared checkpoint (a checkpoint restart); consecutive non-restart
    * chunks drain as separate microbatches of ONE run
    * (maxFilesPerTrigger=1). Returns the sink re-read, localCheckpoint'd.
    */
  private def replay(s: SparkSession, tag: String, chunks: Seq[DataFrame],
      restarts: Seq[Boolean], transform: DataFrame => DataFrame,
      update: Boolean = false): DataFrame = {
    val base = Replay.scratch(s"streamfuzz_$tag")
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    new java.io.File(in).mkdirs()
    withConfs(s, RocksState, SharedClassLoader) {
      val schema = chunks.head.schema
      var outSchema: org.apache.spark.sql.types.StructType = null
      def drain(): Unit = {
        val (transformed, foldRetries) = maybeInject(s)(
          transform(s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(in)))
        outSchema = transformed.schema
        // mapGroupsWithState topologies require Update mode, which the
        // parquet sink doesn't take — foreachBatch appends each trigger's
        // emissions, yielding the same output log the append path writes.
        val writer =
          if (update) transformed.writeStream.outputMode("update")
            .foreachBatch((df: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], _: Long) =>
              df.write.mode("append").parquet(out): Unit)
          else transformed.writeStream.format("parquet")
            .option("path", out).outputMode("append")
        val q = writer.option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        // finally: surviving retries from a run that times out or fails
        // must still reach the sweep ledger (r12 advice).
        try require(q.awaitTermination(180000),
          s"streamfuzz '$tag' did not drain a run in 180s")
        finally foldRetries()
      }
      var pendingNew = false
      chunks.zipWithIndex.foreach { case (c, i) =>
        if (i > 0 && restarts(i) && pendingNew) { drain(); pendingNew = false }
        landChunk(c, in, i)
        pendingNew = true
      }
      if (pendingNew) drain()
      // Explicit schema: a seed whose topology legitimately emits zero
      // rows overall (e.g. a funnel corpus with no qualifying purchases)
      // must read back as an empty frame, not fail schema inference.
      val result =
        (if (new java.io.File(out).exists())
           s.read.schema(outSchema).parquet(out)
         else s.createDataFrame(
           s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema))
          .localCheckpoint()
      Replay.delete(base)
      result
    }
  }

  // ---- DataFrame builders from corpus rows ----

  private def evDf(s: SparkSession, rows: Seq[Product]): DataFrame = {
    import s.implicits._
    rows.map(_.asInstanceOf[Ev]).toDF()
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("tsUs")).as("ts"))
  }

  private def bidDf(s: SparkSession, rows: Seq[Product]): DataFrame = {
    import s.implicits._
    rows.map(_.asInstanceOf[Bid]).toDF()
      .select(col("auction"), col("bidder"), col("price"),
        timestamp_millis(col("tsMs")).as("b_date_time"))
  }

  private def docDf(s: SparkSession, rows: Seq[Product]): DataFrame = {
    import s.implicits._
    rows.map(_.asInstanceOf[Doc]).toDF()
      .select(col("doc_id"), col("text"),
        timestamp_micros(col("tsUs")).as("event_time"))
  }

  private def keepDf(s: SparkSession, rows: Seq[Product]): DataFrame = {
    import s.implicits._
    rows.map(_.asInstanceOf[Keep]).toDF()
  }

  private def hhDf(s: SparkSession, rows: Seq[Product]): DataFrame = {
    import s.implicits._
    rows.map(_.asInstanceOf[HH]).toDF()
      .select(col("group").as("event_type"), col("key").as("user_id"))
  }

  private def cdocDf(s: SparkSession, rows: Seq[Product]): DataFrame = {
    import s.implicits._
    rows.map(_.asInstanceOf[CDoc]).toDF()
      .select(col("doc_id"), col("text"), col("lang"),
        timestamp_millis(col("tsMs")).as("event_time"))
  }

  private def idocDf(s: SparkSession, rows: Seq[Product]): DataFrame = {
    import s.implicits._
    rows.map(_.asInstanceOf[IDoc]).toDF()
      .select(col("doc_id"), col("text"),
        timestamp_millis(col("tsMs")).as("event_time"))
  }

  private def wevDf(s: SparkSession, rows: Seq[Product]): DataFrame = {
    import s.implicits._
    rows.map(_.asInstanceOf[WEv]).toDF()
      .select(col("user_id"), timestamp_millis(col("tsMs")).as("ts"))
  }

  // ---- batch truths (independent formulations over the whole corpus) ----

  private def allRows(scn: Scn): Seq[Product] = scn.chunks.flatten

  /** Exact driver-side replay of Spark's per-microbatch late-row
    * admission (probed for both transformWithState and
    * dropDuplicatesWithinWatermark). Two watermark values exist per batch
    * (the multi-stateful-operator propagation design): EVICTION uses the
    * watermark planned for the current batch — max event time over
    * batches < i, minus delay — while the LATE-EVENTS filter uses the
    * value planned for the PREVIOUS batch (one batch more lagged). A
    * checkpoint restart catches the late-events value up: the first batch
    * of a new run reads the committed watermark for both. `runStarts(i)`
    * marks chunks that begin a new query run (replay() starts one when
    * `restarts(i)` is set). v3 corpora make ties impossible (odd delays
    * vs 10 ms-multiple granularities), so > vs >= never matters. Returns
    * the admitted rows in exact arrival order (file order is batch
    * order).
    */
  private def admittedRows[T](chunks: Seq[Seq[T]], ts: T => Long,
      delay: Long, runStarts: Seq[Boolean]): Seq[T] = {
    var wPrev = Long.MinValue // watermark planned for the previous batch
    var wCur = Long.MinValue  // watermark planned for this batch
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    chunks.zipWithIndex.foreach { case (c, i) =>
      val wLate = if (i == 0 || runStarts(i)) wCur else wPrev
      c.foreach { r => if (ts(r) > wLate) out += r }
      wPrev = wCur
      val mx = c.map(ts).foldLeft(Long.MinValue)(math.max)
      if (mx != Long.MinValue) wCur = math.max(wCur, mx - delay)
    }
    out.toSeq
  }

  private def curationTruth(s: SparkSession, scn: Scn): DataFrame = {
    import s.implicits._
    val delay = scn.params("delayMs")
    // Gate first: sub-8-token docs never reach the watermark node, so
    // they feed neither the state nor the watermark.
    val gated = scn.chunks.map(_.map(_.asInstanceOf[CDoc])
      .filter(_.text.split(" ").length >= 8))
    val seen = scala.collection.mutable.Set.empty[String]
    val surv = admittedRows(gated, (d: CDoc) => d.tsMs, delay, scn.restarts)
      .filter(d => seen.add(d.text))
    val agg = surv.filter(_.lang != "zz")
      .groupBy(d => (d.tsMs / 10000L * 10000L, d.lang))
      .view.mapValues(_.size.toLong).toSeq
      .map { case ((win, lang), n) => (win, lang, n) }
    agg.toDF("win_ms", "lang", "n_docs")
      .select(timestamp_millis(col("win_ms")).as("win_start"), col("lang"),
        col("n_docs"))
  }

  private def ingestFp(text: String): String =
    md5Hex(text.split(" ").distinct.sorted.mkString(" "))

  private def ingestTruth(s: SparkSession, scn: Scn): DataFrame = {
    import s.implicits._
    val delay = scn.params("delayMs")
    val chunks = scn.chunks.map(_.map(_.asInstanceOf[IDoc]))
    val index = scn.extra.map(_.asInstanceOf[FpRow].fp).toSet
    val seen = scala.collection.mutable.Set.empty[String]
    val out = admittedRows(chunks, (d: IDoc) => d.tsMs, delay, scn.restarts)
      .filter(d => seen.add(ingestFp(d.text)))
      .filter(d => !index(ingestFp(d.text)))
      .map(d => (d.doc_id, d.text, d.tsMs, ingestFp(d.text)))
    out.toDF("doc_id", "text", "ts_ms", "fp")
      .select(col("fp"), col("doc_id"), col("text"),
        timestamp_millis(col("ts_ms")).as("event_time"))
  }

  private def wauTruth(s: SparkSession, scn: Scn): DataFrame = {
    import s.implicits._
    val horizonMs = scn.params("horizonH") * 3600000L
    // Admission happens per EXPLODED (user, window-end-day) row: a late
    // event may be only PARTIALLY dropped — its younger wdays survive.
    val exploded = scn.chunks.map(_.map(_.asInstanceOf[WEv]).flatMap { e =>
      val day = e.tsMs / DayMs
      (0 to 6).map(k => (e.user_id, (day + k) * DayMs))
    })
    val maxRealWday = scn.chunks.flatten.map(_.asInstanceOf[WEv])
      .filter(_.user_id >= 0).map(_.tsMs / DayMs).max + 6
    val adm = admittedRows(exploded, (r: (Long, Long)) => r._2, horizonMs,
      scn.restarts)
    val agg = adm.distinct.filter(_._2 <= maxRealWday * DayMs)
      .groupBy(_._2).view.mapValues(_.size.toLong).toSeq
    agg.toDF("wday_ms", "wau")
      .select(timestamp_millis(col("wday_ms")).as("wday_start"), col("wau"))
  }

  private def sessionsLateTruth(s: SparkSession, scn: Scn): DataFrame = {
    val delay = scn.params("delayMs")
    val chunks = scn.chunks.map(_.map(_.asInstanceOf[Bid]))
    val kept = admittedRows(chunks, (b: Bid) => b.tsMs, delay, scn.restarts)
      .filter(_.bidder >= 0)
    sessionize(s, kept, scn.params("gapUs"))
  }

  private def sessionsTruth(s: SparkSession, scn: Scn): DataFrame =
    sessionize(s,
      allRows(scn).map(_.asInstanceOf[Bid]).filter(_.bidder >= 0),
      scn.params("gapUs"))

  private def sessionize(s: SparkSession, rows: Seq[Bid],
      gapUs: Long): DataFrame = {
    val e = bidDf(s, rows)
      .select(col("bidder"), col("price"),
        unix_micros(col("b_date_time")).as("tsUs"))
    val w = Window.partitionBy("bidder").orderBy("tsUs")
    e.withColumn("newS",
        when(lag(col("tsUs"), 1).over(w).isNull ||
          col("tsUs") - lag(col("tsUs"), 1).over(w) >= gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("newS")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("bidder"), col("sid"))
      .agg(min(col("tsUs")).as("sessionStartUs"),
        (max(col("tsUs")) + gapUs).as("sessionEndUs"),
        count(lit(1)).as("nBids"),
        min(col("price")).as("minPrice"), max(col("price")).as("maxPrice"))
      .select(col("bidder"), col("sessionStartUs"), col("sessionEndUs"),
        col("nBids"), col("minPrice"), col("maxPrice"))
  }

  private def neardupProbes(df: DataFrame): DataFrame =
    df.withColumn("sig",
        graft.functions.MinHashShingleSig.minhash_sig(col("text"), 4))
      .select(col("doc_id").cast("long").as("docId"),
        unix_micros(col("event_time")).as("tsUs"), posexplode(col("sig")))
      .select(concat_ws(":", col("pos"), col("col")).as("bucket"),
        col("docId"), col("tsUs"), col("pos").cast("int").as("band"))

  private def neardupTruth(s: SparkSession, scn: Scn): DataFrame = {
    val probes = neardupProbes(docDf(s, allRows(scn)))
    val cl = probes.groupBy("bucket")
      .agg(min(struct(col("tsUs"), col("docId"))).as("w"))
    probes.join(cl, "bucket")
      .select(col("docId"), col("band"), col("w.docId").as("claimantId"),
        (col("docId") =!= col("w.docId")).as("isDup"))
  }

  /** Shared id → event projection for the v2source topology: per-user ts
    * is strictly monotone in id (step 1000 µs + a sub-500 µs jitter), so
    * offset order IS the per-key arrival order and every id leaves a
    * distinct fingerprint in the gap stream.
    */
  private def v2EventProjection(ids: DataFrame, groups: Long): DataFrame =
    ids.select(
      (col("id") % groups).as("user_id"),
      col("id").as("event_id"),
      lit("v2").as("event_type"),
      timestamp_micros(col("id") * 1000L +
        pmod(xxhash64(col("id"), lit("v2ts")), lit(500L))).as("ts"))

  /** One Replay.drain run per V2 segment, at the session's own shuffle
    * partition count (so the replay confs change nothing else), with each
    * run's injected-failure retries folded into the sweep ledger even when
    * a run fails.
    */
  private[graft] def v2SourceStream(s: SparkSession, scn: Scn): DataFrame = {
    val np = scn.params("numPartitions").toInt
    val groups = scn.params("groups")
    val base = Replay.scratch(s"streamfuzz_v2s${scn.seed}")
    val folds = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    val result =
      try Replay.drain(s, base, s"v2source seed ${scn.seed}",
        s.conf.get("spark.sql.shuffle.partitions").toInt,
        scn.chunks.head.map { case seg: V2Seg => () =>
          graft.sources.NexmarkV2.ids(s, seg.endOffset,
            rowsPerTrigger = Some(seg.rowsPerTrigger), numPartitions = np)
        },
        ids => {
          val (transformed, foldRetries) = maybeInject(s)(
            StatefulProcessors.gapSpectrum(
              v2EventProjection(ids, groups)).toDF())
          folds += foldRetries
          transformed
        })
      finally folds.foreach(_())
    Replay.delete(base)
    result
  }

  private def v2SourceTruth(s: SparkSession, scn: Scn): DataFrame = {
    val e = v2EventProjection(
        s.range(0, scn.params("total")).toDF(), scn.params("groups"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tsUs"))
    val w = Window.partitionBy("user_id").orderBy("tsUs", "event_id")
    e.withColumn("gapUs", col("tsUs") - lag(col("tsUs"), 1).over(w))
      .filter(col("gapUs").isNotNull)
      .select(col("event_type").as("eventType"),
        length(bin(col("gapUs"))).cast("int").as("bucket"), col("gapUs"))
  }

  private def gapSpectrumTruth(s: SparkSession, scn: Scn): DataFrame = {
    val e = evDf(s, allRows(scn))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tsUs"))
    val w = Window.partitionBy("user_id").orderBy("tsUs", "event_id")
    e.withColumn("gapUs", col("tsUs") - lag(col("tsUs"), 1).over(w))
      .filter(col("gapUs").isNotNull)
      .select(col("event_type").as("eventType"),
        length(bin(col("gapUs"))).cast("int").as("bucket"), col("gapUs"))
  }

  private def funnelTruth(s: SparkSession, scn: Scn): DataFrame = {
    val e = evDf(s, allRows(scn))
      .select(col("user_id").as("userId"), col("event_type"),
        unix_micros(col("ts")).as("tsUs"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("userId").agg(min(col("tsUs")).as("vUs"))
    val c = e.filter(col("event_type") === "click").join(v, "userId")
      .filter(col("tsUs") > col("vUs"))
      .groupBy("userId", "vUs").agg(min(col("tsUs")).as("cUs"))
    e.filter(col("event_type") === "purchase").join(c, "userId")
      .filter(col("tsUs") > col("cUs"))
      .groupBy("userId", "vUs", "cUs").agg(min(col("tsUs")).as("pUs"))
      .select(col("userId"), col("vUs"), col("cUs"), col("pUs"))
  }

  private def attributionTruth(s: SparkSession, scn: Scn): DataFrame = {
    val look = scn.params("lookbackUs")
    val e = evDf(s, allRows(scn))
      .select(col("user_id").as("userId"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("tsUs"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("userId"), col("event_id"), col("tsUs").as("pUs"))
    val c = e.filter(col("event_type") === "click")
      .select(col("userId"), col("tsUs").as("cUs"))
    p.join(c, p("userId") === c("userId") && col("cUs") < col("pUs"), "left")
      .groupBy(p("userId"), col("event_id"), col("pUs"))
      .agg(max(col("cUs")).as("last"))
      .withColumn("attributed",
        col("last").isNotNull && col("last") >= col("pUs") - look)
      .select(col("userId"), col("pUs"), col("attributed"),
        when(col("attributed"), col("pUs") - col("last")).otherwise(0L)
          .as("lagUs"))
  }

  private def sessionPathsTruth(s: SparkSession, scn: Scn): DataFrame = {
    val gapUs = scn.params("gapUs")
    val e = evDf(s, allRows(scn).filter(
        _.asInstanceOf[Ev].event_type != "_FLUSH_"))
      .select(col("user_id").as("userId"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("tsUs"))
    val w = Window.partitionBy("userId").orderBy("tsUs", "event_id")
    val lagged = e
      .withColumn("prevUs", lag(col("tsUs"), 1).over(w))
      .withColumn("prevType", lag(col("event_type"), 1).over(w))
      .withColumn("newS", col("prevUs").isNull ||
        col("tsUs") - col("prevUs") > gapUs)
    val starts = lagged.filter(col("newS"))
      .select(col("userId"), lit("_START_").as("src"),
        col("event_type").as("dst"))
    val inner = lagged.filter(!col("newS"))
      .select(col("userId"), col("prevType").as("src"),
        col("event_type").as("dst"))
    val gapEnds = lagged.filter(col("newS") && col("prevUs").isNotNull)
      .select(col("userId"), col("prevType").as("src"), lit("_END_").as("dst"))
    val lastW = Window.partitionBy("userId")
      .orderBy(col("tsUs").desc, col("event_id").desc)
    val finalEnds = e.withColumn("rn", row_number().over(lastW))
      .filter(col("rn") === 1)
      .select(col("userId"), col("event_type").as("src"),
        lit("_END_").as("dst"))
    starts.union(inner).union(gapEnds).union(finalEnds)
  }

  private def keepBestTruth(s: SparkSession, scn: Scn): DataFrame =
    keepDf(s, allRows(scn))
      .groupBy(col("simhash"))
      .agg(max(struct(col("n_chars").as("nChars"),
        (-col("doc_id")).as("nd"), col("source").as("src"))).as("w"))
      .select(col("simhash"), (-col("w.nd")).as("docId"),
        col("w.src").as("source"), col("w.nChars").as("nChars"))

  private def heavyHittersTruth(s: SparkSession, scn: Scn): DataFrame = {
    val k = scn.params("k").toInt
    val counts = hhDf(s, allRows(scn))
      .groupBy(col("event_type").as("group"), col("user_id").as("value"))
      .agg(count(lit(1)).as("count"))
    val w = Window.partitionBy("group")
      .orderBy(col("count").desc, col("value"))
    counts.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("group"), col("rank"), col("value"), col("count"))
  }

  private def auctionTopKTruth(s: SparkSession, scn: Scn): DataFrame = {
    val k = scn.params("k").toInt
    val b = bidDf(s, allRows(scn))
      .select(col("auction"), col("bidder"), col("price"),
        unix_micros(col("b_date_time")).as("tsUs"))
    val w = Window.partitionBy("auction")
      .orderBy(col("price").desc, col("tsUs"), col("bidder"))
    b.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("auction"), col("rank"), col("price"), col("bidder"),
        col("tsUs"))
  }

  // ---- stream sides ----

  private def streamSide(s: SparkSession, scn: Scn): DataFrame = scn.topo match {
    case "sessions" =>
      val gapUs = scn.params("gapUs")
      val delay = s"${scn.params("delayMs")} milliseconds"
      replay(s, s"sess${scn.seed}", scn.chunks.map(bidDf(s, _)), scn.restarts,
        df => StatefulProcessors.sessionWindowsTws(df, gapUs, delay).toDF())
        .filter(col("bidder") >= 0)
    case "neardup" =>
      replay(s, s"nd${scn.seed}", scn.chunks.map(docDf(s, _)), scn.restarts,
        df => StatefulProcessors.nearDupStream(df, strict = true).toDF())
    case "gapspectrum" =>
      replay(s, s"gs${scn.seed}", scn.chunks.map(evDf(s, _)), scn.restarts,
        df => StatefulProcessors.gapSpectrum(df).toDF())
    case "funnel" =>
      replay(s, s"fu${scn.seed}", scn.chunks.map(evDf(s, _)), scn.restarts,
        df => StatefulProcessors.funnelStages(df).toDF())
    case "attribution" =>
      val look = scn.params("lookbackUs")
      replay(s, s"at${scn.seed}", scn.chunks.map(evDf(s, _)), scn.restarts,
        df => StatefulProcessors.attribution(df, look).toDF())
    case "sessionpaths" =>
      val gapUs = scn.params("gapUs")
      replay(s, s"sp${scn.seed}", scn.chunks.map(evDf(s, _)), scn.restarts,
        df => StatefulProcessors.sessionPaths(df, gapUs).toDF())
    case "keepbest" =>
      // Change log → final winner per cluster by pure aggregation (each
      // change strictly improves in (nChars, -docId)).
      replay(s, s"kb${scn.seed}", scn.chunks.map(keepDf(s, _)), scn.restarts,
        df => StatefulProcessors.keepBest(df).toDF())
        .groupBy(col("simhash"))
        .agg(max(struct(col("nChars"), (-col("docId")).as("nd"),
          col("source").as("src"))).as("w"))
        .select(col("simhash"), (-col("w.nd")).as("docId"),
          col("w.src").as("source"), col("w.nChars").as("nChars"))
    case "heavyhitters" =>
      val k = scn.params("k").toInt
      // nSeen strictly increases per touched trigger → the final emission
      // per group (max nSeen) is the complete top-k.
      val out = replay(s, s"hh${scn.seed}", scn.chunks.map(hhDf(s, _)),
        scn.restarts,
        df => StatefulProcessors.heavyHittersTws(df, k, 4096).toDF())
      val last = out.groupBy(col("group")).agg(max(col("nSeen")).as("nSeen"))
      out.join(last, Seq("group", "nSeen"))
        .select(col("group"), col("rank"), col("value"), col("count"))
    case "auctiontopk" =>
      val k = scn.params("k").toInt
      replay(s, s"tk${scn.seed}", scn.chunks.map(bidDf(s, _)), scn.restarts,
        df => StatefulProcessors.auctionTopKLog(df, k).toDF())
        .groupBy(col("auction"), col("rank"))
        .agg(max(struct(col("price"), (-col("tsUs")).as("nts"),
          (-col("bidder")).as("nb"))).as("w"))
        .select(col("auction"), col("rank"), col("w.price").as("price"),
          (-col("w.nb")).as("bidder"), (-col("w.nts")).as("tsUs"))
    case "gapwindows" => gapWindowsStream(s, scn)
    case "v2source" => v2SourceStream(s, scn)
    case "curation" =>
      val delay = scn.params("delayMs")
      replay(s, s"cu${scn.seed}", scn.chunks.map(cdocDf(s, _)), scn.restarts,
        df => StreamPipeline.curationStream(df,
          horizon = s"$delay milliseconds"))
        .filter(col("lang") =!= "zz")
    case "ingest" =>
      import s.implicits._
      val delay = scn.params("delayMs")
      val idx = scn.extra.map(_.asInstanceOf[FpRow]).toDF()
      replay(s, s"ig${scn.seed}", scn.chunks.map(idocDf(s, _)), scn.restarts,
        df => StreamPipeline.ingestStream(df, idx,
          horizon = s"$delay milliseconds"))
    case "wau" =>
      val h = scn.params("horizonH")
      val maxRealWday = scn.chunks.flatten.map(_.asInstanceOf[WEv])
        .filter(_.user_id >= 0).map(_.tsMs / DayMs).max + 6
      replay(s, s"wa${scn.seed}", scn.chunks.map(wevDf(s, _)), scn.restarts,
        df => StreamPipeline.wauStream(df, horizon = s"$h hours"))
        // The sentinel's own far-future windows DO emit (its later wdays
        // outrun the horizon); cut to real-activity window-end days, the
        // same ghost-tail filter the batch twin applies.
        .filter(unix_millis(col("wday_start")) <= maxRealWday * DayMs)
    case "sessionslate" =>
      val gapUs = scn.params("gapUs")
      val delay = s"${scn.params("delayMs")} milliseconds"
      replay(s, s"sl${scn.seed}", scn.chunks.map(bidDf(s, _)), scn.restarts,
        df => StatefulProcessors.sessionWindowsTws(df, gapUs, delay).toDF())
        .filter(col("bidder") >= 0)
    case "decayed" =>
      val hl = scn.params("halfLifeUs")
      val out = replay(s, s"dc${scn.seed}",
        scn.chunks.map(evDf(s, _).select(col("event_type").as("group"),
          unix_micros(col("ts")).as("ts"))),
        scn.restarts,
        df => StreamSketches.decayedCountStream(df, hl).toDF(),
        update = true)
      // One emission per touched trigger; the final one (max nSeen — it
      // strictly increases) carries the group's end-of-stream state.
      val last = out.groupBy(col("group")).agg(max(col("nSeen")).as("nSeen"))
      out.join(last, Seq("group", "nSeen"))
        .select(col("group"), col("nSeen"), col("lastTs"), col("decayed"))
  }

  // ---- q12 gap windows under a manual trigger clock ----

  private def awaitBatch(q: org.apache.spark.sql.streaming.StreamingQuery,
      minBatchId: Long): Unit = {
    val end = System.currentTimeMillis() + 60000
    def done = Option(q.lastProgress).exists(_.batchId >= minBatchId)
    while (!done && System.currentTimeMillis() < end) Thread.sleep(10)
    require(done, s"manual-clock batch $minBatchId did not complete in 60s")
  }

  private def awaitRows(rows: () => Seq[org.apache.spark.sql.Row],
      n: Long): Unit = {
    val end = System.currentTimeMillis() + 60000
    while (rows().size < n && System.currentTimeMillis() < end)
      Thread.sleep(10)
    require(rows().size >= n,
      s"manual-clock sink stuck at ${rows().size} rows, want $n")
  }

  /** Batch clock times T_i from the scenario's advance draws. */
  private def clockTimes(scn: Scn): Seq[Long] = {
    val t0 = 1000000L
    val n = scn.chunks.size
    (1 until n).scanLeft(t0)((t, i) => t + scn.params(s"adv${i - 1}"))
  }

  private def gapWindowsStream(s: SparkSession, scn: Scn): DataFrame = {
    import s.implicits._
    val sizeMs = scn.params("sizeMs")
    val times = clockTimes(scn)
    val chunks = scn.chunks.map(bidDf(s, _).select(col("bidder")))
    val nExpected = gapWindowsTruth(s, scn).count()
    val base = Replay.scratch(s"streamfuzz_gw${scn.seed}")
    val (in, ckpt) = (s"$base/in", s"$base/ckpt")
    new java.io.File(in).mkdirs()
    val out = withConfs(s, RocksState, SharedClassLoader) {
      val schema = chunks.head.schema
      landChunk(chunks.head, in, 0)
      val clock =
        new org.apache.spark.sql.graft.shims.GraftManualClock(times.head)
      val (injected, foldRetries) = maybeInject(s)(
        StatefulProcessors.gapWindowsTws(
          s.readStream.schema(schema).parquet(in), sizeMs).toDF())
      val (q, rows) = org.apache.spark.sql.graft.shims.startWithManualClock(
        injected, ckpt, clock, 1L,
        org.apache.spark.sql.streaming.OutputMode.Append())
      try {
        awaitBatch(q, 0)
        chunks.tail.zipWithIndex.foreach { case (c, i) =>
          landChunk(c, in, i + 1)
          clock.advance(times(i + 1) - clock.timeMs)
          awaitBatch(q, i + 1)
        }
        clock.advance(sizeMs + 10000L) // fire every remaining timer
        awaitRows(rows, nExpected)
        rows().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      } finally {
        // finally: a failed awaitBatch/awaitRows must still fold its
        // surviving retries into the sweep ledger (r12 advice).
        foldRetries()
        q.stop()
      }
    }
    Replay.delete(base)
    out.toDF("bidder", "startMs", "endMs", "nBids")
  }

  /** Greedy chain over per-chunk occupancy: a window opens at batch i iff
    * the bidder has bids in chunk i and no window opened at an earlier
    * batch j still covers T_i (T_i < T_j + size); an open window counts
    * every bid in batches within [T_open, T_open + size).
    */
  private def gapWindowsTruth(s: SparkSession, scn: Scn): DataFrame = {
    val sizeMs = scn.params("sizeMs")
    val times = clockTimes(scn)
    val n = scn.chunks.size
    val tagged = scn.chunks.zipWithIndex.map { case (c, i) =>
      bidDf(s, c).select(col("bidder"), lit(i).as("ck"))
    }.reduce(_ union _)
    val occAggs = (0 until n).map(i =>
      sum(when(col("ck") === i, 1L).otherwise(0L)).as(s"c$i"))
    val occ = tagged.groupBy("bidder").agg(occAggs.head, occAggs.tail: _*)
    var openUntil: Column = lit(Long.MinValue)
    val opens = (0 until n).map { i =>
      val o = (col(s"c$i") > 0) && (lit(times(i)) >= openUntil)
      openUntil = when(o, lit(times(i) + sizeMs)).otherwise(openUntil)
      o
    }
    (0 until n).map { i =>
      val absorb = (0 until n).filter(j =>
        times(j) >= times(i) && times(j) < times(i) + sizeMs)
      occ.filter(opens(i)).select(col("bidder"),
        lit(times(i)).as("startMs"), lit(times(i) + sizeMs).as("endMs"),
        absorb.map(j => col(s"c$j")).reduce(_ + _).as("nBids"))
    }.reduce(_ union _)
  }

  /** Batch truth for the decay fold: n, lastTs, and the closed-form
    * decayed count Σ exp(-λ(maxTs - t_i)) per group. The stream computes
    * the telescoped PRODUCT of per-gap exponentials — mathematically
    * equal, floating-point-different in the last ulps — so runSeed
    * compares `decayed` under a relative tolerance while (group, nSeen,
    * lastTs) stay exact. (The batch catalog's p21 entry quantizes per-row
    * weights to DECIMAL for its hash gate; the sequential fold can't be
    * quantized without changing the operator, hence the tolerance here.)
    */
  private def decayedTruth(s: SparkSession, scn: Scn): DataFrame = {
    val lambda = math.log(2.0) / scn.params("halfLifeUs")
    val e = evDf(s, allRows(scn))
      .select(col("event_type").as("group"), unix_micros(col("ts")).as("ts"))
    val ref = e.groupBy("group").agg(max(col("ts")).as("lastTs"))
    e.join(ref, "group")
      .groupBy(col("group"), col("lastTs"))
      .agg(count(lit(1)).as("nSeen"),
        sum(exp((col("ts") - col("lastTs")).cast("double") * lambda))
          .as("decayed"))
      .select(col("group"), col("nSeen"), col("lastTs"), col("decayed"))
  }

  private def truthSide(s: SparkSession, scn: Scn): DataFrame = scn.topo match {
    case "sessions" => sessionsTruth(s, scn)
    case "neardup" => neardupTruth(s, scn)
    case "gapspectrum" => gapSpectrumTruth(s, scn)
    case "funnel" => funnelTruth(s, scn)
    case "attribution" => attributionTruth(s, scn)
    case "sessionpaths" => sessionPathsTruth(s, scn)
    case "keepbest" => keepBestTruth(s, scn)
    case "heavyhitters" => heavyHittersTruth(s, scn)
    case "auctiontopk" => auctionTopKTruth(s, scn)
    case "gapwindows" => gapWindowsTruth(s, scn)
    case "v2source" => v2SourceTruth(s, scn)
    case "decayed" => decayedTruth(s, scn)
    case "curation" => curationTruth(s, scn)
    case "ingest" => ingestTruth(s, scn)
    case "wau" => wauTruth(s, scn)
    case "sessionslate" => sessionsLateTruth(s, scn)
  }

  /** Run one seed; Right(rowCount) on pass, Left(message) on any
    * divergence or error.
    */
  def runSeed(s: SparkSession, seed: Int): Either[String, Long] = {
    val scn = build(seed)
    try {
      val stream = streamSide(s, scn)
      val truth = truthSide(s, scn).select(stream.columns.map(col): _*)
      if (scn.topo == "decayed") {
        // Exact on (group, nSeen, lastTs); relative tolerance on the
        // float recurrence (see decayedTruth).
        val joined = stream.as("a").join(truth.as("b"), Seq("group"), "full")
        val bad = joined.filter(
          col("a.nSeen").isNull || col("b.nSeen").isNull ||
          col("a.nSeen") =!= col("b.nSeen") ||
          col("a.lastTs") =!= col("b.lastTs") ||
          abs(col("a.decayed") - col("b.decayed")) >
            lit(1e-9) * col("b.decayed")).count()
        if (bad == 0) Right(truth.count())
        else Left(s"DIVERGED groups=$bad (${scn.describe})")
      } else {
        val extra = stream.exceptAll(truth).count()
        val missing = truth.exceptAll(stream).count()
        if (extra == 0 && missing == 0) Right(truth.count())
        else Left(s"DIVERGED extra=$extra missing=$missing (${scn.describe})")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"ERROR ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | ")} " +
          s"(${scn.describe})")
    }
  }

  // ---- corpus dump (FuzzSpec reproduction contract) ----

  private def jq(str: String): String = "\"" + str.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def corpusJson(n: Int): String =
    (1 to n).map { seed =>
      s"${jq(f"sf$seed%04d")}: ${jq(build(seed).describe)}"
    }.mkString("{\n", ",\n", "\n}")

  /** Diff one seed verbosely (debugging aid): prints the rows each side
    * has that the other lacks.
    */
  def debugSeed(s: SparkSession, seed: Int): Unit = {
    val scn = build(seed)
    println(s"[streamfuzz] debug ${scn.describe}")
    val stream = streamSide(s, scn)
    val truth = truthSide(s, scn).select(stream.columns.map(col): _*)
    println("== stream minus truth ==")
    stream.exceptAll(truth).orderBy(stream.columns.map(col): _*)
      .show(50, truncate = false)
    println("== truth minus stream ==")
    truth.exceptAll(stream).orderBy(stream.columns.map(col): _*)
      .show(50, truncate = false)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--debug")) {
      // local[8,2] like the sweep main: an injected-sweep failure must be
      // reproducible through --debug with SPARK_GRAFT_INJECT_FUZZ=1, which
      // needs task retries enabled (r12 advice).
      val spark = graft.Session.local("graft-streamfuzz", "local[8,2]", 4,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
      debugSeed(spark, args(1).toInt)
      spark.stop()
      return
    }
    if (args.headOption.contains("--dump")) {
      val path = args(1)
      val n = if (args.length > 2) args(2).toInt else DefaultSeeds
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(path).getParent)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        corpusJson(n))
      println(s"[streamfuzz] wrote $n seed descriptors to $path")
      return
    }
    val n = args.headOption.map(_.toInt).getOrElse(DefaultSeeds)
    val first = args.lift(1).map(_.toInt).getOrElse(1)
    val spark = graft.Session.local("graft-streamfuzz",
      // local[8,2]: one task retry — the production-faithful setting, and
      // what lets SPARK_GRAFT_INJECT_FUZZ=1 run the corpus under
      // mid-batch task-failure injection (see maybeInject).
      "local[8,2]", 4,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    var nFail = 0
    (first until first + n).foreach { seed =>
      val t0 = System.nanoTime()
      runSeed(spark, seed) match {
        case Right(rows) =>
          println(f"[streamfuzz] sf$seed%04d ${build(seed).topo}%-13s PASS " +
            f"($rows rows, ${(System.nanoTime() - t0) / 1e9}%.1f s)")
        case Left(msg) =>
          nFail += 1
          println(f"[streamfuzz] sf$seed%04d ${build(seed).topo}%-13s FAIL $msg")
      }
    }
    if (injectFuzz)
      println(s"[streamfuzz] injected-failure retries survived: " +
        s"${injectedRetries.get()}")
    println(s"[streamfuzz] ran $n seeds, $nFail failures")
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
