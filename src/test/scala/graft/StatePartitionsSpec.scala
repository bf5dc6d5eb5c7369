package graft

import java.io.File
import java.nio.file.Files

import graft.operators.StreamGate
import org.apache.commons.io.FileUtils
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** stw state-partition sizing and the byte count it is fed. Both are
  * driver-side functions: no test here submits a Spark job.
  */
class StatePartitionsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[File]
  override def afterAll(): Unit = tmpDirs.foreach(FileUtils.deleteQuietly)
  private lazy val spark = SparkTestSession.spark
  private lazy val cores = spark.sparkContext.defaultParallelism
  private val MB = 1L << 20

  /** Runs `body` with `key=value` in this JVM's environment, then restores
    * it. `System.getenv()` is an unmodifiable view; the map it wraps is
    * reached by reflection (java.util is opened to the test JVM).
    */
  private def withEnv[T](key: String, value: String)(body: => T): T = {
    val env = System.getenv()
    val f = env.getClass.getDeclaredField("m")
    f.setAccessible(true)
    val m = f.get(env).asInstanceOf[java.util.Map[String, String]]
    val old = Option(m.put(key, value))
    try body
    finally old.fold(m.remove(key): Unit)(o => m.put(key, o): Unit)
  }

  test("a replay under one 32 MB step gets one state partition") {
    assert(StreamGate.statePartitions(spark, 0L) == 1)
    assert(StreamGate.statePartitions(spark, 1024L) == 1)
    assert(StreamGate.statePartitions(spark, 32 * MB) == 1)
  }

  test("each started 32 MB step adds a partition, up to the core count") {
    assume(cores >= 2, s"needs 2 or more cores, session has $cores")
    assert(StreamGate.statePartitions(spark, 32 * MB + 1) == 2)
    assert(StreamGate.statePartitions(spark, Long.MaxValue / 2) == cores)
  }

  test("the sizing reads no environment variable") {
    val expected = Seq(1024L, 32 * MB + 1, Long.MaxValue / 2)
      .map(StreamGate.statePartitions(spark, _))
    withEnv("SPARK_GRAFT_STW_PARTS", "7") {
      assert(sys.env.get("SPARK_GRAFT_STW_PARTS").contains("7"))
      assert(Seq(1024L, 32 * MB + 1, Long.MaxValue / 2)
        .map(StreamGate.statePartitions(spark, _)) == expected)
    }
  }

  test("dirBytes counts every file under a dir, hidden ones included") {
    val d = Files.createTempDirectory("graft_dirbytes").toFile
    tmpDirs += d
    val files = Seq("a.parquet" -> 1000, "_ck=0/b.parquet" -> 4097,
      "_ck=0/.b.parquet.crc" -> 40, "_ck=1/_SUCCESS" -> 0)
    files.foreach { case (name, n) =>
      val f = new File(d, name)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, Array.fill[Byte](n)(1))
    }
    assert(StreamGate.dirBytes(spark, d.toString) == files.map(_._2).sum)
  }
}
