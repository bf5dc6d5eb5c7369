package graft

import java.io.File
import java.nio.file.Files

import graft.operators.{Pipeline, StreamGate}
import graft.streaming.ReplayConfs.withConfs
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the tmp-parquet materializations: p71's per-call signature
  * pins stay bounded, and stw chunk staging keys rows into `0 until n`,
  * aligns added chunks by name and stages one file per chunk.
  */
class MaterializationSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[File]
  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    tmpDirs += d
    d.toString
  }
  override def afterAll(): Unit = tmpDirs.foreach(FileUtils.deleteQuietly)
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private def callDirs(): Seq[String] =
    Option(new File(Pipeline.p71PinBase).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("call_")).sorted

  test("three p71 calls leave at most two call dirs, the last two alive") {
    val frames = (1 to 3).map(_ =>
      Pipeline.p71Body(spark, sf))
    val dirs = callDirs()
    assert(dirs.size <= 2, s"p71 call dirs: $dirs")
    // DeterminismSpec holds two invocations side by side: both still read.
    val Seq(a, b) = frames.takeRight(2)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("stw chunks are staged by column name, one file per chunk") {
    import spark.implicits._
    val stage = tmp("graft_stage")
    val c0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val c1 = Seq(("c", 3L)).toDF("v", "k")
    StreamGate.stageChunks(spark, s"$stage/ok", c0, lit(0), 1, Seq(c1))
    val staged = spark.read.parquet(s"$stage/ok")
    assert(staged.where("_ck = 1").select("k", "v").as[(Long, String)].collect()
      .toSeq == Seq((3L, "c")))
    val in = tmp("graft_in")
    StreamGate.promoteChunk(spark, s"$stage/ok", in, 0, c0.schema)
    assert(new File(in).list().count(_.endsWith(".parquet")) == 1)
  }

  test("stw chunks are staged by column name: a key outside 0 until n, or " +
      "null, stages no row") {
    import spark.implicits._
    val stage = tmp("graft_stage")
    val frame = Seq(Some(-4L), Some(-1L), Some(0L), Some(1L), Some(2L),
      Some(3L), Some(5L), None).toDF("k")
    // The modulo key keeps its sign: -4 % 3 = -1 is outside 0 until 3.
    StreamGate.stageChunks(spark, s"$stage/mod", frame, col("k") % 3, 3)
    assert(spark.read.parquet(s"$stage/mod").as[(Option[Long], Int)]
      .collect().toSet == Set((Some(0L), 0), (Some(1L), 1), (Some(2L), 2),
        (Some(3L), 0), (Some(5L), 2)))
    StreamGate.stageChunks(spark, s"$stage/raw", frame, col("k"), 3)
    assert(spark.read.parquet(s"$stage/raw").as[(Option[Long], Int)]
      .collect().toSet == Set((Some(0L), 0), (Some(1L), 1), (Some(2L), 2)))
  }

  test("stw chunks are staged by column name: an empty chunk still " +
      "promotes one empty file") {
    import spark.implicits._
    val stage = tmp("graft_stage")
    val frame = Seq(0L, 2L).toDF("k")
    StreamGate.stageChunks(spark, stage, frame, col("k"), 3)
    val in = tmp("graft_in")
    StreamGate.promoteChunk(spark, stage, in, 1, frame.schema)
    assert(new File(in).list().count(_.endsWith(".parquet")) == 1)
    assert(spark.read.schema(frame.schema).parquet(in).isEmpty)
  }

  test("a chunk whose schema differs fails, naming the chunk") {
    import spark.implicits._
    val stage = tmp("graft_stage")
    val c0 = Seq((1L, "a")).toDF("k", "v")
    val e = intercept[IllegalArgumentException](StreamGate.stageChunks(
      spark, stage, c0, lit(0), 1, Seq(Seq((2, "b")).toDF("k", "v"))))
    assert(e.getMessage.contains("stw chunk 1"))
    intercept[IllegalArgumentException](StreamGate.stageChunks(
      spark, stage, c0, lit(0), 1, Seq(Seq((2L, "b")).toDF("k", "w"))))
    // Added frames are numbered after the keyed frame's n chunks.
    val e3 = intercept[IllegalArgumentException](StreamGate.stageChunks(
      spark, stage, c0, col("k") % 2, 2,
      Seq(Seq(("b", 2L)).toDF("v", "k"), Seq((2L, "b", 0)).toDF("k", "v", "x"))))
    assert(e3.getMessage.contains("stw chunk 3"))
  }

  test("a chunk split over several files by maxRecordsPerFile is rejected") {
    import spark.implicits._
    val stage = tmp("graft_stage")
    val c0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    withConfs(spark, "spark.sql.files.maxRecordsPerFile" -> "1") {
      StreamGate.stageChunks(spark, stage, c0, lit(0), 1)
    }
    val in = tmp("graft_in")
    val e = intercept[IllegalArgumentException](
      StreamGate.promoteChunk(spark, stage, in, 0, c0.schema))
    assert(e.getMessage.contains("maxRecordsPerFile"))
  }
}
