package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit,
  MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReadMinRows,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Native DataSource V2 micro-batch source for the deterministic
  * NEXMark/YSB generators — the offset-tracked, admission-controlled
  * source the reference treats as a first-class citizen
  * (/root/reference/flock/src/datasource/nexmark/nexmark.rs:357-390
  * epoch loop; kafka.rs:1-165 offset semantics).
  *
  * The source emits ONE column, `id BIGINT` — the event index. The
  * offset IS the id (a total order the generator derives every event
  * from), so the exactly-once contract is structural: `latestOffset`
  * admits a bounded id range per trigger, `planInputPartitions(start,
  * end)` slices `[start, end)` into `numPartitions` contiguous
  * sub-ranges computed purely from the two offsets, and a checkpoint
  * restart resumes from the committed id with no gap and no replay —
  * the same offset-range + maxOffsetsPerTrigger contract a Kafka source
  * carries, with zero external dependencies. Event construction stays
  * OUT of the source: callers map ids through the pure-column
  * projections (graft.streaming.Nexmark.bidsFromIds / Ysb), so the hot
  * path remains whole-stage-codegen'd Catalyst expressions, not
  * per-row reader work.
  *
  * Options (all case-insensitive):
  *   - `totalEvents`     (required, > 0) — exclusive upper id bound; the
  *     stream is exhausted once the committed offset reaches it.
  *   - `rowsPerTrigger`  (optional, > 0) — per-trigger admission bound
  *     (`maxOffsetsPerTrigger` semantics; feed it
  *     graft.streaming.Admission.rowsPerTrigger for the graceful-overload
  *     contract). Absent = all available rows each trigger.
  *   - `eventsPerSecond` (optional, > 0) — live-rate mode: ids become
  *     AVAILABLE at this wall-clock rate from query start (backlog shows
  *     up as latestOffset − endOffset in the progress line). Absent =
  *     the whole id range is available immediately (replay mode — what
  *     Trigger.AvailableNow gate replays use).
  *   - `minRowsPerTrigger` (optional, > 0) — defer a trigger until at
  *     least this many ids are available OR `maxTriggerDelayMs` has
  *     elapsed since the last admission (Kafka's
  *     `minOffsetsPerTrigger`/`maxTriggerDelay` pair); composes with
  *     `rowsPerTrigger` as a CompositeReadLimit.
  *   - `maxTriggerDelayMs` (default 900000 = 15 min) — the min-rows
  *     deferral ceiling; ignored without `minRowsPerTrigger`.
  *   - `numPartitions`   (default 8) — generator parallelism; the id
  *     range of each batch splits into this many contiguous slices.
  *   - `startOffset`     (default 0) — first id of a fresh stream (a
  *     checkpointed restart always resumes from the committed offset
  *     instead).
  *
  * Scale: at 1000 executors this plans 1000 contiguous id slices per
  * trigger with zero coordination state (the offset pair fully
  * determines every partition), and admission bounds hold globally
  * because they are enforced at offset-range planning time, not
  * per-partition.
  */
class NexmarkV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = NexmarkV2.Format

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NexmarkV2.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new NexmarkV2Table(new CaseInsensitiveStringMap(properties))
}

object NexmarkV2 {
  /** Short format name (registered via META-INF/services). */
  val Format = "nexmark-gen"

  val Schema: StructType =
    StructType(Seq(StructField("id", LongType, nullable = false)))

  private[sources] case class Opts(totalEvents: Long, rowsPerTrigger: Option[Long],
      eventsPerSecond: Option[Long], numPartitions: Int, startOffset: Long,
      minRowsPerTrigger: Option[Long] = None,
      maxTriggerDelayMs: Long = 15L * 60 * 1000)

  private[sources] def parse(options: CaseInsensitiveStringMap): Opts = {
    def longOpt(k: String): Option[Long] =
      Option(options.get(k)).map { v =>
        val n = try v.trim.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$Format option '$k' must be a long, got '$v'")
        }
        require(n > 0, s"$Format option '$k' must be > 0, got $n")
        n
      }
    val total = longOpt("totalEvents").getOrElse(throw
      new IllegalArgumentException(s"$Format requires option 'totalEvents'"))
    val start = Option(options.get("startOffset")).map(_.trim.toLong)
      .getOrElse(0L)
    require(start >= 0 && start <= total,
      s"$Format startOffset must be in [0, totalEvents], got $start")
    Opts(total, longOpt("rowsPerTrigger"), longOpt("eventsPerSecond"),
      options.getInt("numPartitions", 8), start,
      longOpt("minRowsPerTrigger"),
      longOpt("maxTriggerDelayMs").getOrElse(15L * 60 * 1000))
  }

  /** Raw id stream: one `id BIGINT` column under the offset contract. */
  def ids(spark: SparkSession, totalEvents: Long,
      rowsPerTrigger: Option[Long] = None,
      eventsPerSecond: Option[Long] = None,
      numPartitions: Int = 8, startOffset: Long = 0L): DataFrame = {
    var r = spark.readStream.format(Format)
      .option("totalEvents", totalEvents)
      .option("numPartitions", numPartitions)
      .option("startOffset", startOffset)
    rowsPerTrigger.foreach(n => r = r.option("rowsPerTrigger", n))
    eventsPerSecond.foreach(n => r = r.option("eventsPerSecond", n))
    r.load()
  }

  /** NEXMark bid stream through the V2 source — every id mapped through
    * the pure-column bid projection (graft.streaming.Nexmark.bidStream's
    * semantics, with offset tracking + admission instead of the rate
    * source). `genEventsPerSecond` is the EVENT-TIME density (1 s of
    * event time per this many ids), independent of the wall-clock
    * availability rate.
    */
  def bidStream(spark: SparkSession, totalEvents: Long,
      rowsPerTrigger: Option[Long] = None,
      eventsPerSecond: Option[Long] = None,
      genEventsPerSecond: Long = 1000,
      numPartitions: Int = 8,
      cfg: graft.streaming.Nexmark.Config = graft.streaming.Nexmark.Config())
      : DataFrame =
    graft.streaming.Nexmark.bidsFromIds(
      ids(spark, totalEvents, rowsPerTrigger, eventsPerSecond, numPartitions),
      genEventsPerSecond, cfg)
}

private[sources] class NexmarkV2Table(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  // Validate eagerly: a bad option should fail at load(), not at start().
  NexmarkV2.parse(options)

  override def name(): String =
    s"${NexmarkV2.Format}(totalEvents=${options.get("totalEvents")})"
  override def schema(): StructType = NexmarkV2.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = NexmarkV2.Schema
        override def toMicroBatchStream(ckpt: String): MicroBatchStream =
          new NexmarkMicroBatchStream(NexmarkV2.parse(options))
      }
    }
}

/** Offset = the next id to read (count of ids already committed). */
private[sources] case class NexmarkOffset(id: Long) extends Offset {
  override def json(): String = id.toString
}

private[sources] class NexmarkMicroBatchStream(opts: NexmarkV2.Opts)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  // Live-rate availability anchor (baseId, wallMs). Construction seeds
  // it at (opts.startOffset, now) for a fresh stream; the FIRST
  // latestOffset(start, _) call re-anchors at (start.id, now) so a
  // checkpoint RESTART resumes the rate from the COMMITTED offset at a
  // fresh clock — without the re-anchor, available() would start at
  // startOffset + elapsed*eps and the restarted stream would admit zero
  // rows until wall-clock availability caught back up to the committed
  // offset. Availability is a floor on admission, never a correctness
  // input.
  @volatile private var rateAnchor: (Long, Long) =
    (opts.startOffset, System.currentTimeMillis())
  @volatile private var anchored = false
  // Trigger.AvailableNow contract: freeze the target so the run drains a
  // FIXED range even in live-rate mode. In live-rate mode the freeze is
  // DEFERRED to the first latestOffset call (after the restart
  // re-anchor), so a restarted AvailableNow run targets what the rate
  // has made available past the committed offset (zero at resume
  // instant) instead of a stale construction-clock extrapolation.
  @volatile private var availableNowTarget: Option[Long] = None
  @volatile private var freezeTargetOnAnchor = false
  // ReadMinRows bookkeeping: wall-clock of the last non-empty admission,
  // against which maxTriggerDelayMs is measured (the Kafka behavior).
  @volatile private var lastAdmitMs = System.currentTimeMillis()

  private def available(): Long = {
    val byRate = opts.eventsPerSecond match {
      case Some(eps) =>
        val (baseId, baseMs) = rateAnchor
        val elapsedMs = System.currentTimeMillis() - baseMs
        math.min(opts.totalEvents, baseId + elapsedMs * eps / 1000L)
      case None => opts.totalEvents
    }
    availableNowTarget.fold(byRate)(math.min(byRate, _))
  }

  override def prepareForTriggerAvailableNow(): Unit =
    opts.eventsPerSecond match {
      case None => availableNowTarget = Some(opts.totalEvents)
      case Some(_) => freezeTargetOnAnchor = true
    }

  override def initialOffset(): Offset = NexmarkOffset(opts.startOffset)

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      opts.minRowsPerTrigger.map(n =>
        ReadLimit.minRows(n, opts.maxTriggerDelayMs)),
      opts.rowsPerTrigger.map(ReadLimit.maxRows)).flatten
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  // The engine calls the admission-control overload exclusively once
  // SupportsAdmissionControl is implemented (Kafka does the same).
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** One admission decision for `[from, avail)` under `limit`.
    * ReadMinRows defers the trigger (returns `from`) while fewer than
    * minRows are available AND the last admission is younger than
    * maxTriggerDelayMs; CompositeReadLimit applies the min-rows veto
    * first, then every max-rows cap — the Kafka composition. Every other
    * (unknown future) limit falls back to all-available, which is the
    * loosest CORRECT reading: admission bounds are an efficiency
    * contract, never a correctness input.
    */
  private def applyLimit(from: Long, avail: Long, limit: ReadLimit): Long = {
    def minSatisfied(m: ReadMinRows): Boolean =
      avail - from >= m.minRows() ||
        System.currentTimeMillis() - lastAdmitMs >= m.maxTriggerDelayMs()
    limit match {
      case r: ReadMaxRows => math.min(avail, from + r.maxRows())
      case r: ReadMinRows => if (minSatisfied(r)) avail else from
      case c: CompositeReadLimit =>
        val ls = c.getReadLimits.toSeq
        val vetoed = ls.exists {
          case m: ReadMinRows => !minSatisfied(m)
          case _ => false
        }
        if (vetoed) from
        else ls.foldLeft(avail) {
          case (acc, m: ReadMaxRows) => math.min(acc, from + m.maxRows())
          case (acc, _) => acc
        }
      case _ => avail
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[NexmarkOffset].id
    if (!anchored) {
      anchored = true
      if (from > rateAnchor._1)
        rateAnchor = (from, System.currentTimeMillis())
      if (freezeTargetOnAnchor) availableNowTarget = Some(available())
    }
    val end = math.max(from, applyLimit(from, available(), limit))
    if (end > from) lastAdmitMs = System.currentTimeMillis()
    NexmarkOffset(end)
  }

  override def reportLatestOffset(): Offset = NexmarkOffset(available())

  // Becomes SourceProgress.description — the stable prefix is what
  // LiveRun.Sampler keys on to know latestOffset/endOffset are ROW counts
  // (id offsets) rather than e.g. the rate source's seconds.
  override def toString: String =
    s"${NexmarkV2.Format}[totalEvents=${opts.totalEvents}]"

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[NexmarkOffset].id
    val e = end.asInstanceOf[NexmarkOffset].id
    require(s <= e, s"offset range inverted: [$s, $e)")
    val n = opts.numPartitions
    // Contiguous near-equal slices, derived purely from (s, e, n) — a
    // retried task replans the identical range.
    (0 until n).iterator.map { i =>
      val lo = s + (e - s) * i / n
      val hi = s + (e - s) * (i + 1) / n
      NexmarkIdRange(lo, hi)
    }.filter(p => p.lo < p.hi).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    NexmarkReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def deserializeOffset(json: String): Offset =
    NexmarkOffset(json.trim.toLong)
}

private[sources] case class NexmarkIdRange(lo: Long, hi: Long)
    extends InputPartition

private[sources] object NexmarkReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val range = p.asInstanceOf[NexmarkIdRange]
      private var cur = range.lo - 1
      private val row = new GenericInternalRow(1)
      override def next(): Boolean = { cur += 1; cur < range.hi }
      override def get(): InternalRow = { row.setLong(0, cur); row }
      override def close(): Unit = ()
    }
}
