package graft.streaming

import org.apache.spark.sql.SparkSession

/** The session confs every checkpointed replay runs under (StreamGate,
  * V2SourceGate, StreamFuzz), and the one scope that sets and restores
  * them.
  */
object ReplayConfs {
  val RocksState: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Every streaming query runs on a clone of its session, and each clone
    * has a fresh session UUID. With artifact isolation on (Spark's
    * default), the executor builds a new class loader for each clone, so
    * every AvailableNow run of a replay gets its own loader; CodeGenerator's
    * cache is keyed by (class loader, code), so each run recompiled the
    * same generated classes. This program adds no artifacts (no
    * addArtifact, addJar or addFile), so the isolation protects nothing.
    * With it off, every run's tasks share the executor's default loader
    * and the second and later runs compile nothing. A clone copies the
    * conf when its query starts and reads it once, so it must be set
    * before `start()`. Results cannot change: only the tasks' class
    * loader moves.
    */
  val SharedClassLoader: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  /** The confs of one stw/stw_v2 replay with `statePartitions` state
    * partitions (StreamGate.statePartitions); the first micro-batch pins
    * the count in the checkpoint, so these must be set before the first run.
    */
  def replay(statePartitions: Int): Seq[(String, String)] = Seq(RocksState,
    SharedClassLoader, "spark.sql.shuffle.partitions" -> statePartitions.toString)

  /** Runs `body` with each `key -> value` set on `s`. Afterwards, also when
    * `body` throws, each key reads as it did before, and a key that was
    * not set is unset again rather than pinned to its default.
    */
  def withConfs[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll
    val saved = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
