package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import scala.jdk.CollectionConverters._

/** What the live-streaming CLIs (NexmarkRun, YsbRun, SoakRun) share: the
  * strict flag parser, the progress sampler and the per-minute trajectory
  * formatter.
  */
object LiveRun {

  /** A live CLI: `run` does the work on a caller's session and returns the
    * lines to print, so specs can drive it on a shared session; `main`
    * parses the flags, builds the CLI's own session, prints and stops.
    */
  abstract class Cli(flags: String*) {
    val Flags: Set[String] = flags.toSet
    def session(opts: Map[String, String]): SparkSession
    def run(spark: SparkSession, opts: Map[String, String]): Seq[String]

    def main(args: Array[String]): Unit = {
      val opts = parse(args.toSeq, Flags)
      val spark = session(opts)
      try run(spark, opts).foreach(println) finally spark.stop()
    }
  }

  /** Parses `-flag value` pairs. A dangling flag, a value where a flag
    * belongs, or a flag outside `known` aborts the run instead of silently
    * mis-attributing or dropping a knob.
    */
  def parse(args: Seq[String], known: Set[String]): Map[String, String] = {
    val opts = args.grouped(2).map {
      case Seq(k, v) if k.startsWith("-") && !v.startsWith("-") => k -> v
      case other => throw new IllegalArgumentException(
        s"bad argument pair '${other.mkString(" ")}' - expected -flag value")
    }.toMap
    val unknown = opts.keySet -- known
    require(unknown.isEmpty, s"unknown flag ${unknown.toSeq.sorted.mkString(", ")}" +
      s" - expected one of ${known.toSeq.sorted.mkString(" ")}")
    opts
  }

  /** One progress event of a query: arrival (ms since the sampler
    * attached), batch id, `triggerExecution` ms, input rows, and the first
    * state operator's rows, memory, custom metrics, row updates/removals
    * and update/removal/commit times (zero and empty when stateless).
    * `backlogRows` is the source's latestOffset − endOffset, kept only for
    * the V2 generator source (description `nexmark-gen...`), whose offsets
    * are row ids; other sources' offsets (e.g. the rate source's seconds)
    * are not row counts and get no backlog rather than a mislabeled one.
    */
  final case class Sample(atMs: Long, batchId: Long, batchMs: Long,
      inputRows: Long, stateRows: Long, stateMemBytes: Long,
      backlogRows: Option[Long], custom: Map[String, Long],
      rowsUpdated: Long, rowsRemoved: Long, updatesMs: Long,
      removalsMs: Long, commitMs: Long)

  /** The CLIs' one progress listener, attached to `spark` from construction
    * until `close()`. It keeps every progress event that read input or
    * took time, per query name; the CLIs name every query they start.
    */
  final class Sampler(spark: SparkSession) extends StreamingQueryListener {
    private val t0 = System.currentTimeMillis()
    private val samples = scala.collection.mutable.HashMap.empty[
      String, scala.collection.mutable.ArrayBuffer[Sample]]
    // Highest batch id reported per query, filtered events included.
    private val lastBatch = scala.collection.mutable.HashMap.empty[String, Long]
    spark.streams.addListener(this)

    /** Milliseconds since the sampler attached: the clock of `Sample.atMs`. */
    def elapsedMs: Long = System.currentTimeMillis() - t0

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue()).getOrElse(0L)
      val st = p.stateOperators.headOption
      val backlog = p.sources.headOption
        .filter(s => Option(s.description).exists(_.startsWith("nexmark-gen")))
        .flatMap { s =>
          (Option(s.latestOffset).flatMap(_.toLongOption),
            Option(s.endOffset).flatMap(_.toLongOption)) match {
            case (Some(l), Some(end)) => Some(math.max(0L, l - end))
            case _ => None
          }
        }
      val sample = Sample(elapsedMs, p.batchId, ms, p.numInputRows,
        st.map(_.numRowsTotal).getOrElse(0L),
        st.map(_.memoryUsedBytes).getOrElse(0L), backlog,
        st.map(_.customMetrics.asScala.map { case (k, v) =>
          k -> v.longValue() }.toMap).getOrElse(Map.empty),
        st.map(_.numRowsUpdated).getOrElse(0L),
        st.map(_.numRowsRemoved).getOrElse(0L),
        st.map(_.allUpdatesTimeMs).getOrElse(0L),
        st.map(_.allRemovalsTimeMs).getOrElse(0L),
        st.map(_.commitTimeMs).getOrElse(0L))
      synchronized {
        if (p.numInputRows > 0 || ms > 0)
          samples.getOrElseUpdate(p.name,
            scala.collection.mutable.ArrayBuffer.empty) += sample
        lastBatch(p.name) = math.max(lastBatch.getOrElse(p.name, -1L), p.batchId)
      }
    }

    /** The samples recorded so far for the query named `name`. */
    def of(name: String): Seq[Sample] =
      synchronized(samples.get(name).map(_.toSeq).getOrElse(Nil))

    /** Stops `q` and returns its samples, complete: progress events reach
      * listeners asynchronously, so this waits (up to 10 s) until the
      * event of `q.lastProgress` has arrived. A stop that races an
      * in-flight RocksDB commit surfaces CANNOT_COMMIT; that is reported
      * and the samples are kept.
      */
    def stop(q: StreamingQuery): Seq[Sample] = {
      try q.stop() catch {
        case e: Exception => System.err.println(
          s"[live] stop raced an in-flight commit (samples kept): ${e.getMessage}")
      }
      Option(q.lastProgress).foreach { last =>
        val deadline = System.currentTimeMillis() + 10000L
        while (synchronized(lastBatch.getOrElse(q.name, -1L)) < last.batchId &&
            System.currentTimeMillis() < deadline) Thread.sleep(10L)
      }
      of(q.name)
    }

    def close(): Unit = spark.streams.removeListener(this)
  }

  /** Runs `body` with a sampler attached to `spark`, detached afterwards. */
  def sampling[T](spark: SparkSession)(body: Sampler => T): T = {
    val sampler = new Sampler(spark)
    try body(sampler) finally sampler.close()
  }

  def mean(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0 else xs.sum.toDouble / xs.size

  /** One JSON object per elapsed minute of `samples`: batch count, mean and
    * max batch ms, input rows, and the minute's last state rows, state
    * memory and (when any sample has one) backlog rows.
    */
  def minutes(samples: Seq[Sample]): Seq[String] =
    samples.groupBy(_.atMs / 60000).toSeq.sortBy(_._1).map { case (m, ss) =>
      val backlog = ss.flatMap(_.backlogRows).lastOption
        .map(b => s""","backlog_rows":$b""").getOrElse("")
      // Locale.ROOT: a comma-decimal default locale would emit invalid JSON.
      String.format(java.util.Locale.ROOT,
        """{"m":%d,"batches":%d,"mean_batch_ms":%.0f,"max_batch_ms":%d,""" +
        """"input_rows":%d,"state_rows":%d,"state_mem_mb":%.1f%s}""",
        Long.box(m), Int.box(ss.size), Double.box(mean(ss.map(_.batchMs))),
        Long.box(ss.map(_.batchMs).max), Long.box(ss.map(_.inputRows).sum),
        Long.box(ss.last.stateRows), Double.box(ss.last.stateMemBytes / 1e6),
        backlog)
    }
}
