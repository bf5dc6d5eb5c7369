package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** TESTDATA schema-drift canary.
  *
  * Round 5 post-mortem: the driver regenerated TESTDATA mid-round, switching
  * `events.ts` from TIMESTAMP(NANOS)-as-long to TIMESTAMP_NTZ, and every
  * catalog entry calling `unix_micros(ts)` crashed — undetected for a whole
  * round because each test synthesized its own frames. This spec loads every
  * table from the LIVE sf dirs through `Tables.load` (the same path Verify,
  * Bench, and the catalog use) and pins the post-load dtypes the catalog
  * assumes. Any future driver-side re-encode fails here in seconds, naming
  * the exact table/column/type that moved.
  *
  * Reference precedent: Flock pins its event schemas in code
  * (flock/src/datasource/nexmark/event.rs:131-145).
  */
class SchemaCanarySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // The post-`Tables.load` contract: whatever encoding the parquet ships
  // (ns-as-long, NTZ, LTZ), these are the dtypes catalog code may rely on.
  private val expected: Map[String, Map[String, DataType]] = Map(
    "events" -> Map(
      "event_id" -> LongType,
      "ts" -> TimestampType, // NOT NTZ: unix_micros/window() require TIMESTAMP
      "user_id" -> LongType,
      "event_type" -> StringType,
      "value" -> DoubleType,
      "props" -> StringType),
    "documents" -> Map(
      "doc_id" -> LongType,
      "text" -> StringType,
      "lang" -> StringType,
      "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Map(
      "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType),
    "lineitem" -> Map(
      "l_orderkey" -> LongType,
      "l_partkey" -> LongType,
      "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType,
      "l_tax" -> DoubleType,
      "l_returnflag" -> StringType,
      "l_linestatus" -> StringType),
    "orders" -> Map(
      "o_orderkey" -> LongType,
      "o_custkey" -> LongType,
      "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType,
      "o_orderpriority" -> StringType),
    "customer" -> Map(
      "c_custkey" -> LongType,
      "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Map(
      "s_suppkey" -> LongType,
      "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
    "part" -> Map(
      "p_partkey" -> LongType,
      "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType,
      "p_brand" -> StringType,
      "p_type" -> StringType),
    "nation" -> Map(
      "n_nationkey" -> IntegerType,
      "n_regionkey" -> IntegerType,
      "n_name" -> StringType),
    "region" -> Map(
      "r_regionkey" -> IntegerType,
      "r_name" -> StringType))

  // Date-typed columns the catalog compares/extracts from: any temporal
  // type works (TPC-H only compares them to date literals and extracts
  // parts, all NTZ-safe — r05 proved NTZ green against DuckDB, whose
  // timestamps are likewise naive). What must NEVER happen silently is a
  // drift to long/string, which would flip literal comparisons to errors
  // or lexicographic order.
  private val temporalCols = Map(
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(s => s"/root/testdata/$s")
    .filter(d => new java.io.File(d).isDirectory)

  test("at least one live TESTDATA dir exists") {
    assert(sfDirs.nonEmpty, "no /root/testdata/sf* dirs found")
  }

  // The DERIVED views (partsupp, extended lineitem — Tables.scala) have
  // their own dtype contract the DuckDB oracle re-derives independently;
  // a base-table re-encode can shift a derived column even when every
  // base dtype above still passes (e.g. l_shipdate DATE→TIMESTAMP flips
  // l_commitdate/l_receiptdate through the timestampadd). Pin them too —
  // schema analysis only, no materialization, so this runs in seconds.
  private val expectedDerived: Map[String, Map[String, DataType]] = Map(
    "partsupp" -> Map(
      "ps_partkey" -> LongType,
      "ps_suppkey" -> LongType,
      "ps_availqty" -> IntegerType,
      "ps_supplycost" -> DecimalType(12, 2)),
    "lineitem_ext" -> Map(
      "l_shipmode" -> StringType))

  for (dir <- sfDirs) {
    test(s"$dir derived partsupp/lineitem_ext schemas match oracle assumptions") {
      // The frames `registerAll` materializes, built the same way (it
      // registers the `hash60` function they need on this session).
      val derived = Tables.derived(spark, dir).toMap
      for ((view, want) <- expectedDerived) {
        val actual = derived(view).schema.fields
          .map(f => f.name -> f.dataType).toMap
        for ((col, dt) <- want) {
          val got = actual.get(col)
          assert(got.contains(dt),
            s"$view.$col: expected $dt, got ${got.getOrElse("MISSING")} " +
              s"— a base-table re-encode shifted a derived column; " +
              s"re-align Tables derivation + DuckDB oracle twin")
        }
      }
      // The derived dates must track l_shipdate's temporal family (NTZ or
      // LTZ — both oracle-green per r05) and must be TEMPORAL: a drift to
      // long/string would flip q12/q21's date predicates to errors or
      // lexicographic order silently.
      val shipType = derived("lineitem_ext").schema("l_shipdate").dataType
      for (col <- Seq("l_commitdate", "l_receiptdate")) {
        val got = derived("lineitem_ext").schema(col).dataType
        assert(got == TimestampType || got.isInstanceOf[TimestampNTZType]
            || got == DateType,
          s"lineitem_ext.$col: expected a temporal type, got $got")
        assert(got == shipType,
          s"lineitem_ext.$col ($got) drifted from l_shipdate ($shipType) — " +
            s"timestampadd no longer preserves the base encoding")
      }
    }
  }

  for (dir <- sfDirs; table <- Tables.all) {
    test(s"$dir/$table post-load schema matches catalog assumptions") {
      val df = Tables.load(spark, dir, table)
      val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
      for ((col, want) <- expected(table)) {
        val got = actual.get(col)
        assert(got.contains(want),
          s"$table.$col: expected $want, got ${got.getOrElse("MISSING")} " +
            s"— driver re-encoded TESTDATA; update Tables.load normalization")
      }
      for (col <- temporalCols.getOrElse(table, Nil)) {
        val got = actual.get(col)
        assert(got.exists(t => t == TimestampType || t == DateType ||
            t.isInstanceOf[TimestampNTZType]),
          s"$table.$col: expected a temporal type, got " +
            s"${got.getOrElse("MISSING")} — temporal encoding drifted")
      }
    }
  }
}
