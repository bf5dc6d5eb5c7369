package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set-up, warm-up passes, measured
  * passes. The first warm-up pass writes every entry's result as parquet
  * for the oracle check; the JVM then writes the raw record to
  * `<out>/run.json`, and `run.py` checks the results against DuckDB and
  * turns the record into metrics.
  *
  * One operation is one catalog entry run to completion through the
  * `noop` sink (full compute, no collect), in a closed loop with one
  * client. The seed only orders the operations within a pass.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, passes: Int, trace: Boolean,
      data: String, setups: Int, warmup: Int, cpus: Int, out: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("passes").toInt,
      get("trace") == "1", get("data"), get("setups").toInt, get("warmup").toInt,
      get("cpus").toInt, get("out"))
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.TopK.installRewrite(s)
    s
  }

  final case class Op(entry: String, pass: Int, ms: Double, cpuMs: Double,
      error: Option[String])

  final case class Pass(index: Int, wallS: Double, cpuS: Double, jitMs: Double,
      layers: Map[String, Double], batchMs: Seq[Double])

  private def passJson(p: Pass) = Map(
    "index" -> p.index, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "jit_ms" -> p.jitMs,
    "layers" -> p.layers, "batch_ms" -> p.batchMs)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val entries = Workloads.entries(a.workload, graft.Catalog.byName.keySet)
    val data = Paths.get(a.data).toAbsolutePath.normalize.toString
    val outDir = Paths.get(a.out).toAbsolutePath
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))

    // Set-up, several times: session + Tables.registerAll. Each round uses
    // a fresh session and another spelling of the data dir, so the derived
    // views are materialized again rather than served from the per-dir cache.
    val setupS = mutable.ArrayBuffer.empty[Double]
    val registerS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var dir = data
    for (k <- 0 until a.setups) {
      if (spark != null) spark.stop()
      dir = data + "/." * k
      val t0 = System.nanoTime()
      spark = session(a)
      val t1 = System.nanoTime()
      graft.Tables.registerAll(spark, dir)
      val t2 = System.nanoTime()
      setupS += (t2 - t0) / 1e9
      registerS += (t2 - t1) / 1e9
      System.err.println(f"[perfbench] set-up $k  ${setupS.last}%7.3f s  (JVM up ${Jvm.uptimeS()}%.1f s)")
    }
    val trace = if (a.trace) Some(new Trace(spark, tmp)) else None
    trace.foreach(_.install())

    def order(pass: Int): Seq[String] =
      new scala.util.Random(a.seed * 1000003L + pass).shuffle(entries)

    // The check's inputs: each entry's result, written by the warm-up
    // pass, and its oracle over the same data.
    val oracles = mutable.LinkedHashMap.empty[String, String]
    def dump(name: String): Unit = {
      val q = graft.Catalog.byName(name)
      val raw = q.run(spark, dir)
      graft.Catalog.finalizeDoubles(raw).coalesce(1).write.mode("overwrite")
        .parquet(outDir.resolve("results").resolve(name).toString)
      q.oracle.foreach { sql =>
        oracles(name) = graft.Verify.wrapOracle(
          sql.replace("{NX}", outDir.resolve("nx").toString).replace("{SF}", data),
          raw.schema)
      }
    }
    def noop(name: String): Unit =
      graft.Catalog.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

    def op(name: String, pass: Int, run: String => Unit): Op = {
      val streamed0 = trace.map(_.queriesStarted()).getOrElse(0.0)
      val c0 = Jvm.cpuNs()
      val t0 = System.nanoTime()
      val err =
        try { run(name); None }
        catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMs = (Jvm.cpuNs() - c0) / 1e6
      trace.foreach(t => t.opDone(ms, t.queriesStarted() > streamed0))
      // As graft.Bench does: pinned blocks outlive the entry that made them.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.err.println(f"[perfbench]   $name%-30s $ms%9.1f ms" + err.fold("")(e => s"  FAILED: $e"))
      Op(name, pass, ms, cpuMs, err)
    }

    def pass(index: Int, run: String => Unit, ops: mutable.Buffer[Op]): Pass = {
      trace.foreach(_.passStart())
      val j0 = Jvm.jitMs()
      val c0 = Jvm.cpuNs()
      val t0 = System.nanoTime()
      order(index).foreach(n => ops += op(n, index, run))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Jvm.cpuNs() - c0) / 1e9
      val jit = (Jvm.jitMs() - j0).toDouble
      val (layers, batches) = trace.map(_.passEnd()).getOrElse((Map.empty[String, Double], Nil))
      System.err.println(f"[perfbench] pass $index%3d  $wall%7.3f s  cpu $cpu%7.3f s  jit $jit%6.0f ms" +
        f"  (JVM up ${Jvm.uptimeS()}%.1f s)")
      Pass(index, wall, cpu, jit, layers, batches)
    }

    // Warm-up: one pass that writes the results for the check, then
    // `warmup` noop passes, so that the measured passes start closer to
    // the JIT's floor (see `jit_ms` per warm-up pass in the record).
    val warm = pass(-a.warmup - 1, dump, mutable.ArrayBuffer.empty[Op]) +:
      (-a.warmup until 0).map(i => pass(i, noop, mutable.ArrayBuffer.empty[Op]))
    if (oracles.values.exists(_.contains(outDir.resolve("nx").toString)))
      graft.Verify.dumpNexmarkInputs(spark, outDir.resolve("nx").toString)

    // Measured: a fixed number of whole passes, so every run does the same work.
    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = (0 until a.passes).map(i => pass(i, noop, ops))

    def opJson(o: Op) = Map("entry" -> o.entry, "pass" -> o.pass, "ms" -> o.ms,
      "cpu_ms" -> o.cpuMs, "error" -> o.error)
    val record = Map(
      "entries" -> entries, "setup_s" -> setupS, "register_s" -> registerS,
      "warmup" -> warm.map(passJson),
      "passes" -> passes.map(passJson), "ops" -> ops.map(opJson),
      "results" -> outDir.resolve("results").toString, "oracles" -> oracles)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(outDir.resolve("run.json").toFile, record)
    spark.stop()
  }
}
