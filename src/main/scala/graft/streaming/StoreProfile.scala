package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import scala.jdk.CollectionConverters._

/** State-store traffic profiler for the stateful soak shapes: runs one
  * shape for `-s` seconds at `-e` events/s on the RocksDB provider and
  * prints ONE JSON line PER MICRO-BATCH with the store's own counters —
  * get/put counts, update/removal/commit wall time, rows updated/removed
  * — the evidence that tells redundant per-key store traffic apart from
  * inherent per-distinct-key traffic (input rows and distinct keys are on
  * the same line). A final `profile_summary` line carries totals and
  * per-input-row ratios.
  *
  * Usage: tools/run_main.sh graft.streaming.StoreProfile \
  *   -q q11tws -e 100000 -s 60 -c 8
  */
object StoreProfile {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("-") && !v.startsWith("-") => k -> v
      case other => sys.error(
        s"bad argument pair '${other.mkString(" ")}' — expected -flag value")
    }.toMap
    val shape = opts.getOrElse("-q", "q11tws")
    val secs = opts.getOrElse("-s", "60").toInt
    val eps = opts.getOrElse("-e", "100000").toInt
    val cpus = opts.getOrElse("-c", "8").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus,2]")
      .appName(s"graft-storeprofile-$shape")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The store counters worth a column; everything else in
    // customMetrics (cache hit/miss, sst sizes, …) stays available via
    // the raw dump of the FIRST batch, so new Spark versions' renamed
    // keys are discoverable from the log.
    val cols = Seq("rocksdbGetCount", "rocksdbPutCount",
      "rocksdbGetLatency", "rocksdbPutLatency", "timerProcessingTimeMs",
      "numRegisteredTimers", "numDeletedTimers", "numExpiredTimers",
      "rocksdbReadBlockCacheHitCount", "rocksdbReadBlockCacheMissCount",
      "rocksdbCommitFlushLatency", "rocksdbWriterStallLatencyMs",
      "rocksdbTotalCompactionLatencyMs")
    case class B(batchMs: Long, inRows: Long, updated: Long, removed: Long,
        stateRows: Long, metrics: Map[String, Long])
    val buf = scala.collection.mutable.ArrayBuffer.empty[B]
    @volatile var dumpedKeys = false
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue()).getOrElse(0L)
        p.stateOperators.headOption.foreach { st =>
          val cm = st.customMetrics.asScala.map {
            case (k, v) => k -> v.longValue()
          }.toMap
          if (!dumpedKeys) {
            dumpedKeys = true
            println(s"""{"custom_metric_keys":[${
              cm.keys.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]}""")
          }
          buf.synchronized {
            buf += B(ms, p.numInputRows, st.numRowsUpdated, st.numRowsRemoved,
              st.numRowsTotal, cols.map(c => c -> cm.getOrElse(c, -1L)).toMap)
          }
        }
      }
    }
    spark.streams.addListener(listener)
    val ckpt = s"/tmp/storeprofile_${System.currentTimeMillis()}"
    val q = SoakRun.buildShape(spark, shape,
        Nexmark.bidStream(spark, rowsPerSecond = eps))
      .writeStream.format("noop")
      .outputMode(if (shape == "topk") "update" else "append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    Thread.sleep(secs * 1000L)
    q.stop()
    spark.streams.removeListener(listener)

    val bs = buf.synchronized(buf.toSeq)
    bs.zipWithIndex.foreach { case (b, i) =>
      val ms = cols.map(c => s""""$c":${b.metrics(c)}""").mkString(",")
      println(s"""{"batch":$i,"batch_ms":${b.batchMs},"rows":${b.inRows},""" +
        s""""updated":${b.updated},"removed":${b.removed},""" +
        s""""state_rows":${b.stateRows},$ms}""")
    }
    // Steady-state summary over the second half, where RocksDB behavior
    // has stopped being page-cache-warmup.
    val half = bs.drop(bs.size / 2)
    if (half.nonEmpty) {
      val rows = half.map(_.inRows).sum.max(1L)
      def tot(c: String) = half.map(_.metrics(c)).filter(_ >= 0).sum
      def per(n: Long) = f"${n.toDouble / rows}%.4f"
      println(s"""{"profile_summary":"$shape","eps":$eps,""" +
        s""""batches":${half.size},"rows":$rows,""" +
        s""""mean_batch_ms":${half.map(_.batchMs).sum / half.size},""" +
        s""""get_per_row":${per(tot("rocksdbGetCount"))},""" +
        s""""put_per_row":${per(tot("rocksdbPutCount"))},""" +
        s""""updated_per_row":${per(half.map(_.updated).sum)},""" +
        s""""upd_ms":${tot("allUpdatesTimeMs")},"rm_ms":${tot("allRemovalsTimeMs")},""" +
        s""""commit_ms":${tot("commitTimeMs")}}""")
    }
    Replay.delete(ckpt)
    spark.stop()
  }
}
