package graft.streaming

import graft.streaming.ReplayConfs.withConfs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The checkpointed AvailableNow replay the stw and stw_v2 hard gates run
  * on, and the tmp scratch dirs every materialization in the program uses.
  */
object Replay {
  private val liveDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hookArmed = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Deletes `path` and everything under it; a missing path is a no-op. */
  def delete(path: String): Unit = delete(new java.io.File(path))

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  /** Deletes `dir` when the JVM exits (one shutdown hook for all dirs). */
  def deleteOnExit(dir: String): Unit = {
    liveDirs.add(dir)
    if (hookArmed.compareAndSet(false, true))
      sys.addShutdownHook(liveDirs.forEach(d => delete(d))): Unit
  }

  /** `<java.io.tmpdir>/graft_<name>_<pid>`: pid-suffixed, so concurrent
    * JVMs cannot wipe each other's dirs.
    */
  def scratchDir(name: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${name}_${ProcessHandle.current().pid()}")
      .toAbsolutePath.toString

  /** `scratchDir(name)`, wiped now (a stale checkpoint can never serve a
    * previous code version's output) and deleted at exit.
    */
  def scratch(name: String): String = {
    val dir = scratchDir(name)
    delete(dir)
    deleteOnExit(dir)
    dir
  }

  /** Runs `body` with a wrapper for its stateful output. With
    * SPARK_GRAFT_INJECT_STW=1 the wrapper is mid-batch task-failure
    * injection (FailureInjection.failFirstAttempt): partition 0 of every
    * stateful stage dies on its first attempt after partial state writes
    * and must be retried bit-identically, so the hash gate doubles as the
    * exactly-once-under-task-retry proof (the session master must allow
    * retries, e.g. local[N,2]). Otherwise the wrapper is the identity.
    */
  def injecting[T](s: SparkSession, tag: String)(
      body: (DataFrame => DataFrame) => T): T =
    if (!sys.env.get("SPARK_GRAFT_INJECT_STW").contains("1")) body(identity)
    else {
      val acc = s.sparkContext.longAccumulator(s"graft_inject_$tag")
      val out = body(FailureInjection.failFirstAttempt(_, acc))
      System.err.println(
        s"[stw] '$tag' injected-failure retries survived: ${acc.value}")
      out
    }

  /** Drains `runs` through `transform` one AvailableNow run each, in
    * order, on one checkpoint `dir/ckpt` into the parquet sink `dir/out`,
    * under `ReplayConfs.replay(statePartitions)` (set before the first
    * run starts, which pins the partition count in the checkpoint). Each
    * element of `runs` builds its run's source when the run is due.
    * Returns the sink re-read, localCheckpoint'd so the frame survives a
    * later call's wipe.
    */
  def drain(s: SparkSession, dir: String, tag: String, statePartitions: Int,
      runs: Seq[() => DataFrame], transform: DataFrame => DataFrame)
      : DataFrame =
    withConfs(s, ReplayConfs.replay(statePartitions): _*) {
      val outSchema = injecting(s, tag) { inject =>
        runs.zipWithIndex.map { case (source, i) =>
          val sunk = inject(transform(source()))
          val q = sunk.writeStream.format("parquet")
            .option("path", s"$dir/out")
            .option("checkpointLocation", s"$dir/ckpt")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          require(q.awaitTermination(180000),
            s"replay '$tag' did not drain run $i in 180s")
          sunk.schema
        }.last
      }
      // The sink's schema is the query's: reading it back needs no
      // inference job.
      s.read.schema(outSchema).parquet(s"$dir/out").localCheckpoint()
    }
}
