package graft

import graft.streaming.ReplayConfs
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The conf scope every stw/stw_v2 replay runs under: it leaves the
  * session's confs as it found them, and with it a replay repeated in one
  * JVM compiles no generated class (every AvailableNow run's tasks share
  * one class loader, so Spark's codegen cache hits).
  */
class ReplayConfsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark
  private val keys = ReplayConfs.replay(1).map(_._1)

  /** Each replay conf's explicitly set value; None when it is unset. */
  private def confs: Seq[Option[String]] = keys.map(spark.conf.getAll.get)

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def run(name: String): Unit = Catalog.queries(name)(spark, sf)
    .write.format("noop").mode("overwrite").save()

  // One entry per replay shape: file chunks (StreamGate) and the V2
  // generator source (V2SourceGate), which runs at NexmarkBatch.N.
  for (name <- Seq("stw_keep_best", "stw_v2_auction_topk"))
    test(s"a second $name call compiles no generated class") {
      val before = confs
      // The test session sets the shuffle partitions and leaves the state
      // store provider and artifact isolation unset: both cases are covered.
      assert(before.contains(None) && before.exists(_.isDefined))
      compiles(run(name))
      assert(confs == before)
      assert(compiles(run(name)) == 0)
      assert(confs == before)
    }

  test("withConfs sets every key in its body and restores them after a throw") {
    val before = confs
    val inside = intercept[IllegalStateException] {
      ReplayConfs.withConfs(spark, ReplayConfs.replay(3): _*) {
        throw new IllegalStateException(confs.mkString(","))
      }
    }.getMessage
    assert(inside == ReplayConfs.replay(3).map(kv => Some(kv._2)).mkString(","))
    assert(confs == before)
  }
}
