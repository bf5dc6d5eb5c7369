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
  * path is inferred again. The derived views are read back with the schema
  * their write produced, and derived again when lineitem is rewritten.
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

  /** Spark jobs started while `body` runs, as the SQL execution id each
    * ran under (None for a job outside any SQL execution, such as parquet
    * schema inference). Listener events are delivered asynchronously but
    * in order, so `body` is bracketed by two marker jobs and only the jobs
    * seen between the markers are kept.
    */
  private def jobExecutionsDuring(body: => Unit): Seq[Option[String]] = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[(String, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        seen.put((prop("spark.job.description").getOrElse(""),
          prop("spark.sql.execution.id")))
      }
    }
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def drainTo(tag: String): Seq[Option[String]] =
      Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .map { j => assert(j != null, s"marker job '$tag' never reached the listener"); j }
        .takeWhile(_._1 != tag).map(_._2).toSeq
    sc.addSparkListener(listener)
    try {
      marker("tables-spec-start")
      body
      marker("tables-spec-end")
      drainTo("tables-spec-start")
      drainTo("tables-spec-end")
    } finally sc.removeSparkListener(listener)
  }

  private def jobsDuring(body: => Unit): Int = jobExecutionsDuring(body).size

  /** A fresh dir holding a copy of the sf0.001 tables. */
  private def copyOfSf(): String = {
    val dir = tmp("graft_tables_sf")
    FileUtils.copyDirectory(new File(sf), new File(dir))
    new File(dir).listFiles().foreach(_.setWritable(true))
    dir
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

  test("registerAll reads the derived views with their write schema: no inference job") {
    val dir = copyOfSf()
    Tables.all.foreach(Tables.load(spark, dir, _)) // infer the raw tables first
    val jobs = jobExecutionsDuring(Tables.registerAll(spark, dir))
    // The two view writes run as SQL executions; an inference job runs
    // outside any.
    assert(jobs.nonEmpty, "registerAll on a fresh dir wrote no derived view")
    assert(jobs.forall(_.isDefined),
      s"${jobs.count(_.isEmpty)} job(s) outside a SQL execution: schema inference")
    val views = Tables.materialized(spark, dir)
    assert(views.map(_.view).sorted == Seq("lineitem", "partsupp"))
    for (m <- views)
      assert(spark.table(m.view).schema == spark.read.parquet(m.path).schema,
        s"${m.view}: registered schema differs from what parquet inference reads")
  }

  test("a lineitem rewritten at the same path is derived again") {
    val dir = copyOfSf()
    Tables.registerAll(spark, dir)
    val before = spark.table("partsupp").count()
    val even = spark.read.parquet(s"$sf/lineitem.parquet").filter("l_orderkey % 2 = 0")
    even.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Tables.registerAll(spark, dir)
    val pairs = even.select("l_partkey", "l_suppkey").distinct().count()
    assert(pairs < before, "the rewrite must change the derived partsupp")
    assert(spark.table("partsupp").count() == pairs)
    assert(spark.table("lineitem").count() == even.count())
    assert(spark.table("lineitem").filter("l_orderkey % 2 = 1").isEmpty)
    assert(spark.table("lineitem").filter("l_shipmode IS NULL").isEmpty)
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
