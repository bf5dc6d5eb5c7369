package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` infers each parquet input's schema once per process: a repeat
  * read of unchanged files submits no Spark job, and a rewrite at the same
  * path is inferred again.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[File]
  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    tmpDirs += d
    d.toString
  }
  override def afterAll(): Unit = tmpDirs.foreach(FileUtils.deleteQuietly)
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  /** Spark jobs started while `body` runs. Listener events are delivered
    * asynchronously but in order, so `body` is bracketed by two marker jobs
    * and only the jobs seen between the markers are counted.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def drainTo(tag: String): Int =
      Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .map { d => assert(d != null, s"marker job '$tag' never reached the listener"); d }
        .takeWhile(_ != tag).size
    sc.addSparkListener(listener)
    try {
      marker("tables-spec-start")
      body
      marker("tables-spec-end")
      drainTo("tables-spec-start")
      drainTo("tables-spec-end")
    } finally sc.removeSparkListener(listener)
  }

  test("a second load of unchanged files submits no Spark job") {
    val dir = tmp("graft_tables")
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.parquet(s"$dir/t.parquet")
    assert(jobsDuring(Tables.load(spark, dir, "t")) > 0)
    var again: Seq[String] = Nil
    assert(jobsDuring { again = Tables.load(spark, dir, "t").columns.toSeq } == 0)
    assert(again == Seq("id", "s"))
    assert(Tables.load(spark, dir, "t").count() == 10)
  }

  test("registerAll on a registered dir submits no Spark job") {
    Tables.registerAll(spark, sf)
    assert(jobsDuring(Tables.registerAll(spark, sf)) == 0)
    assert(spark.table("partsupp").count() > 0)
  }

  test("a file rewritten at the same path is inferred again") {
    val dir = tmp("graft_tables")
    spark.range(5).selectExpr("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id"))
    spark.range(3).selectExpr("id AS other", "id * 2.5D AS d")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rewritten = Tables.load(spark, dir, "t")
    assert(rewritten.columns.toSeq == Seq("other", "d"))
    assert(rewritten.selectExpr("sum(d)").head().getDouble(0) == 7.5)
  }

  test("events.ts is a timestamp whether or not nanosAsLong was set") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    try for (setting <- Seq(None, Some("true"), Some("false"), None)) {
      setting.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val ev = Tables.load(spark, sf, "events")
      assert(ev.schema("ts").dataType == TimestampType, s"$key=$setting")
      assert(ev.selectExpr("min(ts)").head().get(0) != null, s"$key=$setting")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
