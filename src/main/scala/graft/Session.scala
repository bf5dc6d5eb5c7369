package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory: every main and the test session build
  * on it. It owns what all of them share (UTC session time zone, no UI,
  * WARN logging); each caller passes its own confs as `confs`.
  */
object Session {
  def local(app: String, master: String, shufflePartitions: Int,
      confs: (String, String)*): SparkSession = {
    val spark = confs.foldLeft(SparkSession.builder()
        .master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
