package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType

/** One catalog entry: a named query (the Spark-native implementation of one
  * operator/capability from SURVEY.md §2) plus, when SQL-expressible, the
  * equivalent ANSI SQL the driver runs in DuckDB as the correctness oracle.
  *
  * Determinism rules (both engines must produce bit-identical values):
  *   - never aggregate raw doubles — cast to DECIMAL per-row first, so the
  *     sum is exact and order-independent;
  *   - ratios/averages: exact decimal/integer sums, ONE double division,
  *     then cast to DECIMAL (single fp op is IEEE-identical everywhere);
  *   - `events.ts` is ns-precision parquet; Spark truncates to µs on read,
  *     so all event-time logic goes through unix_micros(ts) in Spark and
  *     epoch_us(ts) in DuckDB (both truncate ns → µs identically);
  *   - every LIMIT is preceded by a total ORDER BY with a unique tiebreak.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Catalog {
  /** Exact-decimal cast helpers (see determinism rules above). */
  def dec(c: Column, precision: Int = 18, scale: Int = 2): Column =
    c.cast(DecimalType(precision, scale))

  /** Cross-reader output normalization: interior arithmetic stays exact
    * DECIMAL (rules above), but every FINAL output DECIMAL column becomes
    * DOUBLE. Rationale: the driver reads Spark parquet with pandas
    * (DECIMAL → Python Decimal objects) but fetches the DuckDB oracle via
    * fetchdf (DECIMAL → float64); a value with trailing zeros at its scale
    * (e.g. 3254413.1840) stringifies/hashes differently across those two
    * readers even when values are identical. One symmetric cast — here on
    * the Spark side, and in Verify.wrapOracle on the DuckDB side — yields
    * the identical float64 on both paths. The decimal math itself is
    * unchanged, so results stay exact and order-independent up to this
    * single deterministic conversion.
    */
  def finalizeDoubles(df: DataFrame): DataFrame =
    if (!df.schema.fields.exists(_.dataType.isInstanceOf[DecimalType])) df
    else df.select(df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: DecimalType =>
          org.apache.spark.sql.functions.col(f.name)
            .cast(org.apache.spark.sql.types.DoubleType).as(f.name)
        case _ => org.apache.spark.sql.functions.col(f.name)
      }
    }: _*)

  def modules: Seq[Q] =
    operators.Relational.all ++
      operators.EventWindows.all ++
      operators.Pipeline.all ++
      operators.Multimodal.all ++
      operators.NexmarkBatch.all ++
      operators.SqlParity.all ++
      operators.StreamGate.all ++
      operators.V2SourceGate.all

  lazy val byName: Map[String, Q] = {
    val qs = modules
    require(qs.map(_.name).distinct.size == qs.size, "duplicate query names")
    qs.map(q => q.name -> q).toMap
  }

  /** The entry names a Bench or Verify command line restricts the run to.
    * An unknown name aborts the run instead of silently shrinking it. */
  def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown catalog entries: ${unknown.mkString(", ")}")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) =>
      n -> ((s: SparkSession, d: String) => finalizeDoubles(q.run(s, d)))
    }

  def oracleSql: Map[String, String] =
    byName.collect { case (n, q) if q.oracle.isDefined => n -> q.oracle.get }
}
