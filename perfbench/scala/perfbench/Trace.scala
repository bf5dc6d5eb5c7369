package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM readings shared by the end-to-end and the traced run: all are
  * cumulative process counters, so a pass reads them as deltas. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  def cpuNs(): Long = os.getProcessCpuTime
  def jitMs(): Long = jit.getTotalCompilationTime
  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  def gcMs(): Long = gcs.map(b => math.max(0L, b.getCollectionTime)).sum
  def gcCount(): Long = gcs.map(b => math.max(0L, b.getCollectionCount)).sum

  /** Heap in use right after the most recent collection, summed over the
    * heap pools that report it. */
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/** Per-layer counters of the traced run. Registered only by this benchmark
  * (SparkListener, QueryExecutionListener, StreamingQueryListener and JMX);
  * the program under test carries no instrumentation of its own.
  *
  * Counters are cumulative; `passStart`/`passEnd` turn them into one record
  * per pass. Gauges (heap, tmp footprint, state size) are read at pass end.
  */
final class Trace(spark: SparkSession, tmpDir: java.io.File) {
  private val counters = mutable.HashMap.empty[String, Double]
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val lastProgress =
    mutable.LinkedHashMap.empty[java.util.UUID, StreamingQueryListener.QueryProgressEvent]

  private def add(k: String, v: Double): Unit = synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("exec.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      val info = e.taskInfo
      if (info != null) Trace.this.synchronized {
        taskSpans += ((info.launchTime, info.finishTime))
      }
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_ms", m.executorRunTime.toDouble)
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
        add("scan.rows", m.inputMetrics.recordsRead.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("io.write_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        add("pins.blocks", 1)
        add("pins.bytes", (b.memSize + b.diskSize).toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      add("plan.queries", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"plan.${phase}_ms", (s.endTimeMs - s.startTimeMs).toDouble)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      add("stream.queries_started", 1)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("stream.batches", 1)
      add("stream.input_rows", p.numInputRows.toDouble)
      add("stream.latest_offset_ms", d("latestOffset"))
      add("stream.query_planning_ms", d("queryPlanning"))
      add("stream.add_batch_ms", d("addBatch"))
      add("stream.wal_commit_ms", d("walCommit"))
      add("stream.commit_offsets_ms", d("commitOffsets"))
      add("stream.trigger_ms", d("triggerExecution"))
      p.stateOperators.foreach { o =>
        def c(k: String): Double =
          Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)
        add("state.commit_ms", o.commitTimeMs.toDouble)
        add("state.rows_updated", o.numRowsUpdated.toDouble)
        add("state.rocksdb_flush_ms", c("rocksdbCommitFlushLatency"))
        add("state.rocksdb_checkpoint_ms", c("rocksdbCommitCheckpointLatency"))
      }
      Trace.this.synchronized {
        batchMs += d("triggerExecution")
        lastProgress(p.id) = e
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  private def cumulative(): Map[String, Double] = synchronized {
    counters.toMap ++ Map(
      "gc.ms" -> Jvm.gcMs().toDouble,
      "gc.count" -> Jvm.gcCount().toDouble,
      "jit.ms" -> Jvm.jitMs().toDouble,
      "codegen.compiles" ->
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6)
  }

  private var startSnap = Map.empty[String, Double]
  private var startMs = 0L
  private var streamWallMs = 0.0

  def passStart(): Unit = {
    drain()
    synchronized {
      taskSpans.clear(); batchMs.clear(); lastProgress.clear()
    }
    streamWallMs = 0.0
    startSnap = cumulative()
    startMs = System.currentTimeMillis()
  }

  /** Called after every operation: wall time of the operations that ran
    * streaming queries feeds `stream.outside_batch_ms`. */
  def opDone(wallMs: Double, streamed: => Boolean): Unit =
    if (streamed) streamWallMs += wallMs

  def queriesStarted(): Double = {
    drain()
    synchronized(counters.getOrElse("stream.queries_started", 0.0))
  }

  /** One record for the pass that just ended, plus its batch durations. */
  def passEnd(): (Map[String, Double], Seq[Double]) = {
    drain()
    val endMs = System.currentTimeMillis()
    val end = cumulative()
    val delta = (end.keySet ++ startSnap.keySet).iterator.map { k =>
      k -> (end.getOrElse(k, 0.0) - startSnap.getOrElse(k, 0.0))
    }.toMap
    val (busyMs, batches, states) = synchronized {
      (Trace.busy(taskSpans.toSeq, startMs, endMs), batchMs.toSeq,
        lastProgress.values.toSeq.flatMap(_.progress.stateOperators))
    }
    def stateSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      states.map(f).sum
    val gauges = Map(
      "exec.idle_ms" -> math.max(0.0, (endMs - startMs) - busyMs),
      "stream.outside_batch_ms" ->
        math.max(0.0, streamWallMs - delta.getOrElse("stream.trigger_ms", 0.0)),
      "stream.wall_ms" -> streamWallMs,
      "state.rows_total" -> stateSum(_.numRowsTotal.toDouble),
      "state.memory_bytes" -> stateSum(_.memoryUsedBytes.toDouble),
      "state.sst_bytes" -> stateSum(o => Option(
        o.customMetrics.get("rocksdbSstFileSize")).map(_.doubleValue).getOrElse(0.0)),
      "heap.after_gc_mb" -> Jvm.heapAfterGcMb(),
      "tmp.bytes" -> Trace.dirBytes(tmpDir).toDouble)
    (delta ++ gauges, batches)
  }
}

object Trace {
  /** Length of the union of task spans, clipped to [from, to]. */
  def busy(spans: Seq[(Long, Long)], from: Long, to: Long): Double = {
    val clipped = spans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L
}
