package perfbench

/** The benchmark's workloads: fixed, named slices of `graft.Catalog`.
  * Every name must resolve; an unknown name aborts the run instead of
  * silently shrinking the workload.
  */
object Workloads {
  /** A cross-section of `graft.operators.Pipeline`: tokenization and
    * shingles, MinHash signatures and LSH pairs, the p71 tmp-parquet pin
    * and one twin pair. */
  val curation: Seq[String] = Seq(
    "p03_token_count", "p06_shingles", "p07_minhash_sig",
    "p08_minhash_lsh_pairs", "p71_minhash_calibration",
    "p13_embedding_neardup", "p120_embedding_neardup_prod")

  /** transformWithState replays on RocksDB, one AvailableNow run per
    * chunk against a shared checkpoint (`StreamGate`). */
  val streamReplay: Seq[String] = Seq("stw_keep_best")

  def entries(workload: String, all: Set[String]): Seq[String] = {
    val names = workload match {
      case "curation" => curation
      case "stream_replay" => streamReplay
      case other => sys.error(s"unknown workload '$other'")
    }
    val missing = names.filterNot(all)
    require(missing.isEmpty, s"unknown catalog entries: ${missing.mkString(", ")}")
    names
  }
}
