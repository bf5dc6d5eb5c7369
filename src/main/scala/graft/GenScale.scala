package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-tool main: scale TESTDATA up by integer replication with
  * key-offsetting — every foreign key is offset by the same stride as its
  * parent's primary key, so referential integrity (and therefore every
  * join's selectivity shape) is preserved; small dims (region/nation) are
  * shared across replicas like real dimension tables. Used to spot-gate
  * correctness and measure the scaling curve one decade above the shipped
  * sf0.1 (TESTDATA itself is read-only and driver-generated).
  *
  * Each table is written as ONE parquet file named `<table>.parquet` so
  * the layout matches TESTDATA and both `Tables.load` and the DuckDB
  * oracle (`read_parquet('<dir>/<t>.parquet')`) read it unchanged.
  * Documents/embeddings replicate as exact copies on offset ids — 10-way
  * duplicate groups are exactly the stress the dedup entries should see
  * at scale (and push p15/p16 blocks past the all-pairs cap, exercising
  * the LSH route cross-engine).
  *
  * Usage: sbt "runMain graft.GenScale [srcDir] [dstDir] [copies]"
  */
object GenScale {
  /** Larger than any key in the source tables at any shipped sf. */
  private val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/target/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local("graft-genscale", "local[32]", 32,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      // Guard the stride contract: replica r adds r·Stride to every key,
      // so any source key ≥ Stride makes replicas OVERLAP — colliding
      // keys silently merge entities (baskets, users, docs) and the
      // "scale-up" becomes a superlinear merged-graph artifact. This
      // bites when pointing GenScale at an already-replicated dir
      // (target/sf1 keys span ~9×Stride); always re-derive bigger
      // replicas from the SHIPPED sf0.1. Fail loudly instead.
      val maxRow = df.select(keyCols.map(c => max(col(c).cast("long"))): _*)
        .first()
      // An empty table (or an all-null key column) aggregates to NULL —
      // no keys means no possible collision, so only check present maxima.
      val maxKeys = keyCols.indices
        .flatMap(i => Option(maxRow.get(i)).map(_.asInstanceOf[Long]))
      maxKeys.foreach { maxKey =>
        require(maxKey < Stride,
          s"source max key $maxKey >= stride $Stride for $keyCols — " +
            "replicas would collide; replicate from the shipped TESTDATA, " +
            "not from an already-replicated dir")
      }
      (0 until copies).map { r =>
        keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(r * Stride)))
      }.reduce(_ union _)
    }

    def write(name: String, df: DataFrame): Unit = {
      val tmp = s"$dst/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val tmpDir = new java.io.File(tmp)
      val part = tmpDir.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      val target = java.nio.file.Paths.get(dst, s"$name.parquet")
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.move(part.toPath, target)
      tmpDir.listFiles().foreach(_.delete())
      tmpDir.delete()
      System.err.println(s"[genscale] wrote $target")
    }

    new java.io.File(dst).mkdirs()
    def t(n: String) = Tables.load(spark, src, n)
    write("region", t("region"))
    write("nation", t("nation"))
    write("customer", replicate(t("customer"), Seq("c_custkey")))
    write("supplier", replicate(t("supplier"), Seq("s_suppkey")))
    write("part", replicate(t("part"), Seq("p_partkey")))
    write("orders", replicate(t("orders"), Seq("o_orderkey", "o_custkey")))
    write("lineitem",
      replicate(t("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", replicate(t("events"), Seq("event_id", "user_id")))
    write("documents", replicate(t("documents"), Seq("doc_id")))
    write("embeddings", replicate(t("embeddings"), Seq("vec_id")))
    spark.stop()
  }
}
