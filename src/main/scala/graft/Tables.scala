package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loads the driver-provided TESTDATA parquet tables (TESTDATA.md) and
  * registers them as temp views so catalog queries can be written either
  * with the DataFrame API or `spark.sql`.
  *
  * Capability mirror of the reference's table registration
  * (reference: flock/src/datasource/nexmark/mod.rs:102-141 registers named
  * MemTables; here sources are parquet scans so Catalyst gets pushdown,
  * pruning, and stats for free).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table from `dir` (no view registration).
    *
    * `events.ts` is TIMESTAMP(NANOS) parquet, which Spark 4 rejects by
    * default; we read it as a nanos long and truncate to a µs timestamp —
    * exactly what DuckDB's `epoch_us(ts)` yields, keeping oracles aligned.
    * The conf that allows this is set before EVERY table's read, not only
    * events': it is part of `readParquet`'s cache key, so setting it
    * mid-way through `registerAll` would have the tables read before
    * events inferred again on the next call.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(spark, s"$dir/$name.parquet")
    if (name == "events") {
      // Driver TESTDATA ships ts as TIMESTAMP(NANOS) → read as a nanos
      // long (conf above) and truncate to µs; regenerated data (GenScale
      // sf1) already carries a µs timestamp — pass it through.
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestamp_micros(ts div 1000)"))
        // Driver data has also shipped as TIMESTAMP_NTZ (µs, no tz), which
        // time functions like unix_micros() reject. The session tz is
        // pinned UTC everywhere (Verify/Bench/tests), so casting to
        // TIMESTAMP preserves the epoch-µs value bit-for-bit and keeps
        // every DuckDB oracle aligned.
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else raw
  }

  /** Session confs that change what parquet schema inference returns for
    * the same files. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** What an inferred schema depends on: the qualified path, the length
    * and mtime of every file under it, and the inference confs' values. */
  private final case class SchemaKey(path: String,
      files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[SchemaKey, StructType]

  /** Read the parquet file or dir at `path` with a schema inferred once per
    * process. Without a schema, every `spark.read.parquet` runs a Spark job
    * (`mergeSchemasInParallel`) to read the footers before the query even
    * plans; `registerAll` paid 12 of them per call. The key (`SchemaKey`)
    * is taken through the Hadoop `FileSystem` API on every call, so a file
    * rewritten at the same path (GenScale output, a new TESTDATA drop) is
    * inferred again. A missing path is never cached: inference raises
    * Spark's own error for it.
    */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    val files =
      if (!fs.exists(qualified)) Nil
      else {
        val it = fs.listFiles(qualified, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .toSeq.sorted
      }
    val key = SchemaKey(qualified.toString, files,
      inferenceConfs.map(spark.conf.getOption))
    val schema = schemaCache.getOrElseUpdate(key, spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** TESTDATA ships no `partsupp`, so the TPC-H queries that need one
    * (q2/q9/q11/q16/q20) run against a DERIVED partsupp: the distinct
    * (l_partkey, l_suppkey) pairs observed in lineitem — which preserves
    * the referential integrity those queries rely on (every lineitem row
    * joins a partsupp row, as dbgen guarantees) — with availqty/supplycost
    * derived deterministically from md5 of the key pair. Both engines
    * re-derive the identical table from the same parquet (the md5→60-bit
    * pattern proven by the dedup oracles), so the derivation itself is
    * oracle-checked, not just the query over it.
    */
  private def partsuppSql(hash60: String => String): String = {
    val key = (salt: String) =>
      s"CAST(ps_partkey AS STRING) || '_' || CAST(ps_suppkey AS STRING) || '_$salt'"
    s"""SELECT ps_partkey, ps_suppkey,
      CAST((${hash60(key("a"))} % 9999) + 1 AS INT) AS ps_availqty,
      CAST(CAST((${hash60(key("c"))} % 99900) + 100 AS DOUBLE) / 100.0
        AS DECIMAL(12,2)) AS ps_supplycost
    FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
          FROM lineitem)"""
  }

  val partsuppSpark: String = partsuppSql(s =>
    s"CAST(conv(substr(md5($s), 1, 15), 16, 10) AS BIGINT)")

  val partsuppDuck: String = partsuppSql(s =>
    s"('0x' || substr(md5($s), 1, 15))::BIGINT")

  /** TESTDATA lineitem also lacks `l_shipmode`, `l_commitdate`, and
    * `l_receiptdate` (needed by TPC-H q12/q21). Same treatment as
    * partsupp: derive them deterministically from md5 of
    * (l_orderkey, l_linenumber) — a deterministic salt, NOT a unique row
    * key (TESTDATA draws l_linenumber independently, so ~¼ of sf0.01 rows
    * share the pair with a twin and get identical derived values; parity
    * is unaffected since both engines derive per-row from the same
    * columns, but q12/q21 selectivity is shaped by that collision rate
    * rather than by dbgen's unique keys). Re-derived identically by both
    * engines, so the derivation is itself oracle-checked. Date offsets
    * mirror dbgen's
    * generation rules relative to shipdate (commitdate within ±45 days,
    * receiptdate 1–30 days after shipping); arithmetic stays in TIMESTAMP
    * on both engines so no truncation can skew a predicate.
    *
    * Projection pruning means queries that never touch the derived
    * columns never pay for the md5s — the view is free unless used.
    */
  private def lineitemExtSql(from: String, hash60: String => String,
      dateAdd: (String, String) => String,
      listIndex: (String, String) => String): String = {
    val key = (salt: String) =>
      s"CAST(l_orderkey AS STRING) || '_' || CAST(l_linenumber AS STRING) || '_$salt'"
    // Shipmode picks from an array by hash index rather than a simple
    // CASE: `CASE h WHEN 0 .. WHEN 5` desugars to `h = 0 / h = 1 / ...`,
    // duplicating the md5 chain once PER BRANCH — and once a query's
    // predicate is pushed through the view projection, those 7 copies
    // land in the scan filter (measured 2x wall time on sql_tpch_q12/q21,
    // the queries that filter on the derived columns). One array index
    // keeps one hash occurrence; the mapping (0->'REG AIR'..6->'FOB') is
    // unchanged, so derived values — and every oracle — are identical.
    val modes = "'REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB'"
    s"""SELECT *,
      ${listIndex(modes, s"CAST(${hash60(key("m"))} % 7 AS INT)")} AS l_shipmode,
      ${dateAdd("l_shipdate", s"CAST(${hash60(key("c"))} % 91 AS INT) - 45")} AS l_commitdate,
      ${dateAdd("l_shipdate", s"1 + CAST(${hash60(key("r"))} % 30 AS INT)")} AS l_receiptdate
    FROM $from"""
  }

  val lineitemExtSpark: String = lineitemExtSql(
    "lineitem",
    s => s"CAST(conv(substr(md5($s), 1, 15), 16, 10) AS BIGINT)",
    (d, n) => s"timestampadd(DAY, $n, $d)",
    (vals, idx) => s"element_at(array($vals), ($idx) + 1)")

  /** Oracle-side twin: reads the raw parquet directly ({SF} is substituted
    * with the absolute sf dir by Verify) so it shadows the driver's
    * `lineitem` registration without a circular CTE reference.
    */
  val lineitemExtDuck: String = lineitemExtSql(
    "read_parquet('{SF}/lineitem.parquet')",
    s => s"('0x' || substr(md5($s), 1, 15))::BIGINT",
    (d, n) => s"($d + INTERVAL ($n) DAY)",
    (vals, idx) => s"([$vals])[($idx) + 1]")

  /** Materialized derived views, keyed by sf dir: the md5 derivations are
    * deterministic per-row, but queries like TPC-H q21 scan lineitem three
    * times (l1/l2/l3), recomputing the whole md5 chain per scan replica —
    * measured as the two slowest TPC-H entries at sf0.1. Materializing the
    * derived tables ONCE per (dir, JVM) to session-local temp parquet keeps
    * column pruning and filter pushdown (which a localCheckpoint'd RDD
    * would lose) and turns each replica scan into a plain parquet read. On
    * a cluster the durable form is a warehouse table or a cached view; the
    * oracle side is untouched — DuckDB still re-derives from the raw
    * parquet, so the derivation itself stays oracle-checked.
    */
  private val derivedCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def materializedDir(spark: SparkSession, dir: String): String =
    derivedCache.getOrElseUpdate(dir, {
      val base = java.nio.file.Files.createTempDirectory("graft_derived_")
      // The materialized views live for this JVM only (the cache key is
      // per-process); without cleanup every Verify/Bench/test JVM leaks a
      // multi-MB dir into /tmp until the disk fills.
      graft.streaming.Replay.deleteOnExit(base.toString)
      // partsupp derives from the RAW lineitem view; register raw first.
      load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
      spark.sql(partsuppSpark).write.parquet(s"$base/partsupp")
      spark.sql(lineitemExtSpark).write.parquet(s"$base/lineitem_ext")
      base.toString
    })

  /** Register every table in `dir` as a temp view named after the table,
    * plus the derived `partsupp` view and the extended `lineitem` view
    * (materialized once per dir — see `materializedDir`). Idempotent. After
    * the first call per dir it submits no Spark job: every read goes
    * through `readParquet`, whose schema cache is keyed by qualified path,
    * each listed file's length and mtime, and the parquet inference confs,
    * so a call costs one file listing per table and scans stay lazy.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
    val base = materializedDir(spark, dir)
    readParquet(spark, s"$base/partsupp").createOrReplaceTempView("partsupp")
    readParquet(spark, s"$base/lineitem_ext").createOrReplaceTempView("lineitem")
  }
}
