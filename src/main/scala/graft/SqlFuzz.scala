package graft

import java.nio.file.{Files, Paths}
import scala.util.Random

/** Differential SQL fuzzer: a SEEDED generator of random ANSI
  * dialect-shared SQL over the TESTDATA schemas, run through `spark.sql`
  * and — via the exact same outDir layout `graft.Verify` produces
  * (result parquet per query + oracle_sql.json holding the identical
  * SQL text) — through DuckDB by the existing `tools/check.py` harness.
  * The curated catalog gates 213 hand-written shapes; this gates the
  * query shapes nobody hand-wrote (the remaining correctness axis for
  * "query engine" rather than "query catalog").
  *
  * The grammar is confined to the SqlParity dialect-shared constraint
  * set, plus exactness rules learned from the catalog oracles, so any
  * mismatch is an ENGINE divergence, not a dialect gap:
  *   - every aggregate that can widen is CAST down explicitly
  *     (DuckDB SUM(BIGINT)→HUGEINT reaches pandas as float64; CAST AS
  *     BIGINT keeps both engines in exact int64);
  *   - SUM/COUNT aggregate only integral expressions — double addition
  *     is order-dependent, so float columns appear in aggregates only
  *     under MIN/MAX (order-free) while per-row float arithmetic is
  *     fine (same IEEE ops, same parse tree, both engines);
  *   - no ROUND / FLOOR / CEIL / double→int casts (DuckDB rounds
  *     half-even where Spark truncates or rounds half-up);
  *   - no division (integer `/` semantics differ across dialects);
  *     modulo only on ABS()-wrapped operands (negative-dividend sign
  *     conventions agree, but stay clear anyway);
  *   - ROW_NUMBER / LAG / LEAD / LIMIT order only by verified-unique
  *     keys (ties would be nondeterministic in BOTH engines); RANK /
  *     DENSE_RANK / RANGE-framed running sums are tie-stable and may
  *     order by anything;
  *   - timestamp literals in shared `TIMESTAMP 'yyyy-MM-dd HH:mm:ss'`
  *     form; `events.ts` is µs-aligned in TESTDATA (verified), so
  *     µs-truncated Spark reads agree with DuckDB's nanos on every
  *     comparison.
  *
  * Determinism: `generate(seed)` is a pure function of the seed (JVM
  * LCG `scala.util.Random`); the committed corpus at
  * tools/sqlfuzz/corpus.json pins the exact text of every seed so a
  * generator edit cannot silently change what a round re-verifies
  * (FuzzSpec re-derives the corpus and diffs).
  *
  * Usage: sbt "runMain graft.SqlFuzz <sfDir> <outDir> [n] [firstSeed]"
  * then:  python3 tools/check.py <sfDir> <outDir>
  * Corpus dump: sbt "runMain graft.SqlFuzz --dump tools/sqlfuzz/corpus.json [n]"
  */
object SqlFuzz {

  /** Seeds 1-550 use the v1 grammar (committed round 10, frozen — their
    * text must never change); 551-1000 add the v2 shapes (framed window
    * aggregates, GROUPING SETS + GROUPING(), NULL-propagating CASE
    * aggregates, two-level IN subqueries, aggregate HAVING predicates,
    * multi-CTE LEFT JOINs with COALESCE'd outer-null aggregates);
    * 1001-1300 add the v3 shapes (FULL OUTER / RIGHT joins, correlated
    * scalar-aggregate and NOT EXISTS subqueries, string functions incl.
    * LIKE ... ESCAPE / SUBSTRING FROM-FOR / POSITION, date arithmetic
    * and date_trunc, INTERSECT ALL / EXCEPT ALL, RANGE-framed windows)
    * plus the fan-out cardinality guard: any join chain that attaches a
    * second fact to an already-joined dim (the M:N explosion class, the
    * fz0374 lesson) carries a mandatory selective range predicate on
    * that fact's key, so every v3 seed stays runnable at sf1+;
    * 1301-1600 add the v4 shapes (r11 verdict #7): correlated scalar
    * subqueries in the SELECT list, rich HAVING over aggregate
    * expressions, ORDER BY ... NULLS FIRST/LAST over outer-join-nulled
    * columns, IN (derived aggregate subquery), CASE inside join
    * conditions, and a null-heavy derived view (NULLIF / bare CASE) so
    * three-valued logic gets fuzzed — TESTDATA base columns are mostly
    * non-null, so NULL semantics only reach the engines through these
    * derived shapes.
    */
  val V1Seeds = 550
  val V2Seeds = 1000
  val V3Seeds = 1300
  val DefaultSeeds = 1600

  sealed trait CT
  case object IT extends CT // integral
  case object DT extends CT // double
  case object ST extends CT // string
  case object TT extends CT // timestamp

  final case class Col(name: String, t: CT) {
    def base: String = name.substring(name.indexOf('.') + 1)
    def qualify(alias: String): Col = Col(s"$alias.$name", t)
  }

  /** unique = verified unique key (check run against sf0.1: COUNT ==
    * COUNT DISTINCT for every one); lineitem has NO unique key —
    * (l_orderkey, l_linenumber) collides by TESTDATA construction.
    */
  final case class Tbl(name: String, cols: Seq[Col], unique: Option[String])

  val tables: Seq[Tbl] = Seq(
    Tbl("region", Seq(Col("r_regionkey", IT), Col("r_name", ST)),
      Some("r_regionkey")),
    Tbl("nation", Seq(Col("n_nationkey", IT), Col("n_name", ST),
      Col("n_regionkey", IT)), Some("n_nationkey")),
    Tbl("customer", Seq(Col("c_custkey", IT), Col("c_name", ST),
      Col("c_nationkey", IT), Col("c_acctbal", DT),
      Col("c_mktsegment", ST)), Some("c_custkey")),
    Tbl("supplier", Seq(Col("s_suppkey", IT), Col("s_name", ST),
      Col("s_nationkey", IT), Col("s_acctbal", DT)), Some("s_suppkey")),
    Tbl("part", Seq(Col("p_partkey", IT), Col("p_name", ST),
      Col("p_brand", ST), Col("p_type", ST), Col("p_size", IT),
      Col("p_retailprice", DT)), Some("p_partkey")),
    Tbl("orders", Seq(Col("o_orderkey", IT), Col("o_custkey", IT),
      Col("o_orderstatus", ST), Col("o_totalprice", DT),
      Col("o_orderdate", TT), Col("o_orderpriority", ST)),
      Some("o_orderkey")),
    Tbl("lineitem", Seq(Col("l_orderkey", IT), Col("l_partkey", IT),
      Col("l_suppkey", IT), Col("l_linenumber", IT), Col("l_quantity", DT),
      Col("l_extendedprice", DT), Col("l_discount", DT), Col("l_tax", DT),
      Col("l_returnflag", ST), Col("l_linestatus", ST),
      Col("l_shipdate", TT)), None),
    Tbl("events", Seq(Col("event_id", IT), Col("user_id", IT),
      Col("event_type", ST), Col("value", DT), Col("ts", TT)),
      Some("event_id")),
    Tbl("documents", Seq(Col("doc_id", IT), Col("lang", ST),
      Col("source", ST), Col("n_chars", IT), Col("text", ST)),
      Some("doc_id")),
    Tbl("embeddings", Seq(Col("vec_id", IT), Col("label", IT)),
      Some("vec_id")))

  private val byName: Map[String, Tbl] = tables.map(t => t.name -> t).toMap

  /** FK edges (fact col → dim key), referential integrity holds in
    * TESTDATA for all of them.
    */
  val fks: Seq[(String, String, String, String)] = Seq(
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"))

  private val strPool: Map[String, Seq[String]] = Map(
    "r_name" -> Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
    "n_name" -> (0 to 24).map(i => s"NATION_$i"),
    "c_name" -> Seq("Customer#000000005", "Customer#000000421"),
    "s_name" -> Seq("Supplier#000000001", "Supplier#000000404"),
    "c_mktsegment" -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY"),
    "p_name" -> Seq("large ring", "hot bolt", "small brushed copper"),
    "p_brand" -> (1 to 25).map(i => s"Brand#$i"),
    "p_type" -> Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
      "STANDARD"),
    "o_orderstatus" -> Seq("F", "O", "P"),
    "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW"),
    "l_returnflag" -> Seq("A", "N", "R"),
    "l_linestatus" -> Seq("F", "O"),
    "event_type" -> Seq("click", "error", "purchase", "signup", "view"),
    "lang" -> Seq("de", "en", "es", "fr", "zh"),
    "source" -> (0 to 19).map(i => s"src$i"),
    "text" -> Seq("spark", "hash", "window", "stream", "filter"))

  private val intRange: Map[String, (Long, Long)] = Map(
    "r_regionkey" -> (0L, 4L), "n_nationkey" -> (0L, 24L),
    "n_regionkey" -> (0L, 4L), "c_custkey" -> (1L, 15000L),
    "c_nationkey" -> (0L, 24L), "s_suppkey" -> (1L, 1000L),
    "s_nationkey" -> (0L, 24L), "p_partkey" -> (1L, 20000L),
    "p_size" -> (1L, 50L), "o_orderkey" -> (1L, 600000L),
    "o_custkey" -> (1L, 15000L), "l_orderkey" -> (1L, 600000L),
    "l_partkey" -> (1L, 20000L), "l_suppkey" -> (1L, 1000L),
    "l_linenumber" -> (1L, 7L), "event_id" -> (0L, 100000L),
    "user_id" -> (0L, 1500L), "doc_id" -> (0L, 5000L),
    "n_chars" -> (40L, 600L), "vec_id" -> (0L, 2000L),
    "label" -> (0L, 9L))

  private val dblRange: Map[String, (Double, Double)] = Map(
    "c_acctbal" -> (-999.0, 9999.0), "s_acctbal" -> (-976.0, 9988.0),
    "p_retailprice" -> (900.0, 1000.0), "o_totalprice" -> (1000.0, 500000.0),
    "l_quantity" -> (1.0, 50.0), "l_extendedprice" -> (900.0, 50000.0),
    "l_discount" -> (0.0, 0.1), "l_tax" -> (0.0, 0.08),
    "value" -> (0.0, 560.0))

  // (table prefix of the ts column) -> (epochDay lo, epochDay hi)
  private val tsRange: Map[String, (Int, Int)] = Map(
    "o_orderdate" -> (9131, 11535), // 1995-01-01 .. 2001-08-01
    "l_shipdate" -> (9132, 11620), // 1995-01-02 .. 2001-11-04
    "ts" -> (19723, 19752)) // 2024-01-01 .. 2024-01-30

  /** Locale-independent "%.2f" — the f-interpolator formats through the
    * JVM default locale, so a comma-decimal locale (de_DE) would emit
    * '123,45' — an invalid SQL literal — and break byte-for-byte corpus
    * reproduction (r10 advice).
    */
  private def f2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** One seeded generation context. All randomness flows through `r`.
    * `version` gates generator fixes that would change the text of
    * frozen seeds: v1/v2 seeds must reproduce byte-identically forever,
    * so behavior fixes apply from v3 on.
    */
  final class Gen(val r: Random, val version: Int = 2) {
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.length))
    def int(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def chance(p: Double): Boolean = r.nextDouble() < p

    def tsLit(col: Col): String = {
      val (lo, hi) = tsRange.getOrElse(col.base, (9131, 11535))
      val day = java.time.LocalDate.ofEpochDay(int(lo, hi).toLong)
      val hh = if (col.base == "ts") f"${int(0, 23)}%02d" else "00"
      s"TIMESTAMP '$day $hh:00:00'"
    }

    def litFor(col: Col): String = col.t match {
      case IT =>
        val (lo, hi) = intRange.getOrElse(col.base, (0L, 1000L))
        // v1/v2 used abs(nextLong) % range, which with probability 2^-64
        // (abs(Long.MinValue) < 0) lands below lo; floorMod closes that
        // hole (r10 advice) but changes the draw for negative longs, so
        // only new-version seeds take it — frozen corpus text is sacred.
        if (version >= 3)
          (java.lang.Math.floorMod(r.nextLong(), hi - lo + 1) + lo).toString
        else (lo + math.abs(r.nextLong()) % (hi - lo + 1)).toString
      case DT =>
        val (lo, hi) = dblRange.getOrElse(col.base, (0.0, 1000.0))
        val v = lo + (hi - lo) * int(0, 100) / 100.0
        f2(v)
      case ST =>
        strPool.get(col.base).map(p => sqlStr(pick(p)))
          .getOrElse(sqlStr("x"))
      case TT => tsLit(col)
    }

    private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

    // ---- typed expression trees over an in-scope column set ----

    def intExpr(cols: Seq[Col], depth: Int): String = {
      val ints = cols.filter(_.t == IT)
      def leaf: String =
        if (ints.nonEmpty && chance(0.85))
          s"CAST(${pick(ints).name} AS BIGINT)"
        else int(1, 99).toString
      if (depth <= 0) leaf
      else r.nextInt(8) match {
        case 0 => s"(${intExpr(cols, depth - 1)} + ${intExpr(cols, depth - 1)})"
        case 1 => s"(${intExpr(cols, depth - 1)} - ${intExpr(cols, depth - 1)})"
        case 2 => s"(${intExpr(cols, depth - 1)} * ${int(2, 7)})"
        case 3 => s"(ABS(${intExpr(cols, depth - 1)}) % ${int(2, 97)})"
        case 4 if cols.exists(_.t == ST) =>
          s"LENGTH(${strExpr(cols, depth - 1)})"
        case 5 if cols.exists(_.t == TT) =>
          val f = pick(Seq("YEAR", "MONTH", "DAY"))
          s"CAST(EXTRACT($f FROM ${pick(cols.filter(_.t == TT)).name}) AS BIGINT)"
        case 6 =>
          s"(CASE WHEN ${pred(cols, depth - 1)} THEN ${intExpr(cols, depth - 1)} ELSE ${intExpr(cols, depth - 1)} END)"
        case _ => leaf
      }
    }

    def dblExpr(cols: Seq[Col], depth: Int): String = {
      val dbls = cols.filter(_.t == DT)
      def leaf: String =
        if (dbls.nonEmpty) pick(dbls).name
        else f2(r.nextDouble() * 100)
      if (depth <= 0 || dbls.isEmpty) leaf
      else r.nextInt(5) match {
        case 0 => s"(${dblExpr(cols, depth - 1)} * ${dblExpr(cols, depth - 1)})"
        case 1 => s"(${dblExpr(cols, depth - 1)} + ${dblExpr(cols, depth - 1)})"
        case 2 => s"(${dblExpr(cols, depth - 1)} - ${dblExpr(cols, depth - 1)})"
        case 3 => s"ABS(${dblExpr(cols, depth - 1)})"
        case _ => leaf
      }
    }

    def strExpr(cols: Seq[Col], depth: Int): String = {
      val strs = cols.filter(_.t == ST)
      def leaf: String =
        if (strs.nonEmpty && chance(0.85)) pick(strs).name
        else litFor(Col("lang", ST))
      if (depth <= 0 || strs.isEmpty) leaf
      else r.nextInt(6) match {
        case 0 => s"UPPER(${strExpr(cols, depth - 1)})"
        case 1 => s"LOWER(${strExpr(cols, depth - 1)})"
        case 2 =>
          s"SUBSTR(${strExpr(cols, depth - 1)}, ${int(1, 4)}, ${int(1, 8)})"
        case 3 => s"(${strExpr(cols, depth - 1)} || ${strExpr(cols, depth - 1)})"
        case 4 => s"TRIM(${strExpr(cols, depth - 1)})"
        case _ => leaf
      }
    }

    def pred(cols: Seq[Col], depth: Int): String = {
      def cmp: String = {
        val col = pick(cols)
        val op = pick(Seq("<", "<=", ">", ">=", "=", "<>"))
        col.t match {
          case ST if strPool.contains(col.base) && chance(0.6) =>
            r.nextInt(3) match {
              case 0 =>
                val vals = strPool(col.base)
                val k = int(1, math.min(3, vals.length))
                val subset = r.shuffle(vals.toList).take(k)
                  .map(v => "'" + v.replace("'", "''") + "'")
                s"${col.name} IN (${subset.mkString(", ")})"
              case 1 =>
                val v = pick(strPool(col.base))
                  .filterNot(c => c == '%' || c == '_' || c == '\'')
                val pat =
                  if (v.length >= 3 && chance(0.5)) s"%${v.substring(0, 2)}%"
                  else s"${v.take(3)}%"
                s"${col.name} LIKE '$pat'"
              case _ => s"${col.name} ${pick(Seq("=", "<>"))} ${litFor(col)}"
            }
          case ST => s"LENGTH(${col.name}) $op ${int(1, 40)}"
          case TT if chance(0.3) =>
            val a = tsLit(col); val b = tsLit(col)
            s"${col.name} BETWEEN LEAST($a, $b) AND GREATEST($a, $b)"
          case _ => s"${col.name} $op ${litFor(col)}"
        }
      }
      def exprCmp: String = {
        val op = pick(Seq("<", "<=", ">", ">=", "=", "<>"))
        if (cols.exists(_.t == DT) && chance(0.4))
          s"${dblExpr(cols, 1)} $op ${dblExpr(cols, 1)}"
        else s"${intExpr(cols, 1)} $op ${intExpr(cols, 1)}"
      }
      if (depth <= 0) cmp
      else r.nextInt(6) match {
        case 0 => s"(${pred(cols, depth - 1)} AND ${pred(cols, depth - 1)})"
        case 1 => s"(${pred(cols, depth - 1)} OR ${pred(cols, depth - 1)})"
        case 2 => s"(NOT ${pred(cols, depth - 1)})"
        case 3 => exprCmp
        case _ => cmp
      }
    }

    /** Columns whose RAW VALUE may appear in the output. `events.ts`
      * is excluded: its source parquet is naive TIMESTAMP_NS (DuckDB
      * reads it tz-less) while Spark's µs-truncated view writes
      * instant-semantics TIMESTAMP_MICROS back — same µs value, but
      * the harness' two readers render "+00:00" on one side only.
      * Predicates / EXTRACT / ORDER BY over ts stay in the grammar
      * (they compare VALUES, which agree — TESTDATA ts is µs-aligned).
      */
    def valCols(cols: Seq[Col]): Seq[Col] =
      cols.filterNot(c => c.t == TT && c.base == "ts")

    /** Random typed output expression, aliased cN by the caller. */
    def outExpr(cols: Seq[Col]): String = r.nextInt(10) match {
      case 0 | 1 | 2 => s"CAST(${intExpr(cols, int(0, 2))} AS BIGINT)"
      case 3 | 4 if cols.exists(_.t == DT) => dblExpr(cols, int(0, 2))
      case 5 | 6 | 7 if cols.exists(_.t == ST) => strExpr(cols, int(0, 2))
      case 8 if valCols(cols).exists(_.t == TT) =>
        pick(valCols(cols).filter(_.t == TT)).name
      case _ => pick(valCols(cols)).name
    }

    /** Low-cardinality grouping expression over the column set. */
    def groupExpr(cols: Seq[Col]): String = {
      val lowCardS = cols.filter(c => c.t == ST && strPool.contains(c.base)
        && c.base != "text" && c.base != "c_name" && c.base != "s_name"
        && c.base != "p_name")
      val choices = Seq.newBuilder[() => String]
      if (lowCardS.nonEmpty) {
        choices += (() => pick(lowCardS).name)
        choices += (() => pick(lowCardS).name)
      }
      if (cols.exists(_.t == TT))
        choices += (() =>
          s"CAST(EXTRACT(${pick(Seq("YEAR", "MONTH"))} FROM ${pick(cols.filter(_.t == TT)).name}) AS BIGINT)")
      if (cols.exists(_.t == IT))
        choices += (() =>
          s"(ABS(CAST(${pick(cols.filter(_.t == IT)).name} AS BIGINT)) % ${int(2, 12)})")
      pick(choices.result())()
    }

    /** Aggregate expression (always exact: int sums CAST down, doubles
      * only under order-free MIN/MAX).
      */
    def aggExpr(cols: Seq[Col]): String = r.nextInt(6) match {
      case 0 => "CAST(COUNT(*) AS BIGINT)"
      case 1 => s"CAST(COUNT(DISTINCT ${pick(cols).name}) AS BIGINT)"
      case 2 => s"CAST(SUM(${intExpr(cols, int(0, 1))}) AS BIGINT)"
      case 3 => s"MIN(${pick(valCols(cols)).name})" // MIN/MAX VALUE lands
      case 4 => s"MAX(${pick(valCols(cols)).name})" // in the output → valCols
      case _ => s"CAST(COUNT(${pick(cols).name}) AS BIGINT)"
    }
  }

  // ---- FROM-clause construction ----

  final case class Src(from: String, cols: Seq[Col],
      uniques: Seq[String], tablesUsed: Seq[String],
      guards: Seq[String] = Nil)

  private def singleSrc(g: Gen): Src = {
    val t = g.pick(tables)
    Src(t.name, t.cols, t.unique.toSeq, Seq(t.name))
  }

  /** 2–3 table FK join chain; 20% of added edges become LEFT JOIN
    * (outer-null coverage when a dim LEFT JOINs a fact).
    */
  private def joinSrc(g: Gen): Src = {
    val e0 = g.pick(fks)
    var used = Map(e0._1 -> "t1", e0._3 -> "t2")
    val sb = new StringBuilder(
      s"${e0._1} t1 JOIN ${e0._3} t2 ON t1.${e0._2} = t2.${e0._4}")
    var n = 2
    val extra = g.int(0, 2)
    var tries = 0
    while (n - 2 < extra && tries < 6) {
      tries += 1
      val cand = fks.filter(e =>
        (used.contains(e._1) && !used.contains(e._3)) ||
        (!used.contains(e._1) && used.contains(e._3)))
      if (cand.nonEmpty) {
        val e = g.pick(cand)
        n += 1
        val a = s"t$n"
        val jt = if (g.chance(0.2)) "LEFT JOIN" else "JOIN"
        if (used.contains(e._1)) {
          sb.append(s" $jt ${e._3} $a ON ${used(e._1)}.${e._2} = $a.${e._4}")
          used += (e._3 -> a)
        } else {
          sb.append(s" $jt ${e._1} $a ON $a.${e._2} = ${used(e._3)}.${e._4}")
          used += (e._1 -> a)
        }
      }
    }
    val cols = used.toSeq.sortBy(_._2).flatMap { case (tn, a) =>
      byName(tn).cols.map(_.qualify(a))
    }
    // A LEFT JOIN can null out right-side "unique" keys; order/limit
    // determinism only needs SOME unique column, so keep t1's key (the
    // join root is never the nullable side here).
    val uniq = byName(e0._1).unique.map(k => s"t1.$k").toSeq
    Src(sb.toString, cols, uniq, used.keys.toSeq)
  }

  private def outputs(g: Gen, cols: Seq[Col], lo: Int, hi: Int,
      start: Int = 0): Seq[String] = {
    val n = g.int(lo, hi)
    (0 until n).map(i => s"${g.outExpr(cols)} AS c${start + i}")
  }

  // ---- query shapes ----

  private def qFilterProject(g: Gen): String = {
    val s = if (g.chance(0.5)) singleSrc(g) else joinSrc(g)
    val distinct = if (g.chance(0.2)) "DISTINCT " else ""
    s"SELECT $distinct${outputs(g, s.cols, 2, 4).mkString(", ")} " +
      s"FROM ${s.from} WHERE ${g.pred(s.cols, g.int(0, 2))}"
  }

  private def qAggregate(g: Gen): String = {
    val s = if (g.chance(0.4)) joinSrc(g) else singleSrc(g)
    val ng = g.int(0, 2)
    val groups = (0 until ng).map(i => s"${g.groupExpr(s.cols)} AS g$i")
    val aggs = (0 until g.int(1, 3)).map(i => s"${g.aggExpr(s.cols)} AS a$i")
    val where = if (g.chance(0.6)) s" WHERE ${g.pred(s.cols, g.int(0, 1))}" else ""
    val gby = if (ng > 0)
      s" GROUP BY ${(1 to ng).mkString(", ")}" else ""
    val having = if (ng > 0 && g.chance(0.3))
      s" HAVING COUNT(*) > ${g.int(0, 5)}" else ""
    s"SELECT ${(groups ++ aggs).mkString(", ")} FROM ${s.from}$where$gby$having"
  }

  private def qRollup(g: Gen): String = {
    val s = if (g.chance(0.3)) joinSrc(g) else singleSrc(g)
    val g0 = g.groupExpr(s.cols)
    val g1 = g.groupExpr(s.cols)
    val agg = g.aggExpr(s.cols)
    val op = if (g.chance(0.5)) "ROLLUP" else "CUBE"
    s"SELECT $g0 AS g0, $g1 AS g1, $agg AS a0, CAST(COUNT(*) AS BIGINT) AS a1 " +
      s"FROM ${s.from} GROUP BY $op($g0, $g1)"
  }

  private def qSetOp(g: Gen): String = {
    val t = g.pick(tables)
    val gen2 = outputs(g, t.cols, 2, 3)
    val op = g.pick(Seq("UNION ALL", "UNION", "INTERSECT", "EXCEPT"))
    val p1 = g.pred(t.cols, g.int(0, 1))
    val p2 = g.pred(t.cols, g.int(0, 1))
    s"SELECT ${gen2.mkString(", ")} FROM ${t.name} WHERE $p1 " +
      s"$op SELECT ${gen2.mkString(", ")} FROM ${t.name} WHERE $p2"
  }

  private def qSubquery(g: Gen): String = {
    val e = g.pick(fks)
    val fact = byName(e._1); val dim = byName(e._3)
    g.r.nextInt(4) match {
      case 0 => // [NOT] IN (no NULLs in base columns, so NOT IN is safe)
        val neg = if (g.chance(0.3)) "NOT " else ""
        s"SELECT ${outputs(g, fact.cols, 1, 3).mkString(", ")} FROM ${e._1} " +
          s"WHERE ${e._2} ${neg}IN (SELECT ${e._4} FROM ${e._3} " +
          s"WHERE ${g.pred(dim.cols, g.int(0, 1))})"
      case 1 => // correlated EXISTS, dim side outer
        val neg = if (g.chance(0.3)) "NOT " else ""
        s"SELECT ${outputs(g, dim.cols.map(_.qualify("d")), 1, 3).mkString(", ")} " +
          s"FROM ${e._3} d WHERE ${neg}EXISTS (SELECT 1 FROM ${e._1} f " +
          s"WHERE f.${e._2} = d.${e._4} AND ${g.pred(fact.cols.map(_.qualify("f")), 0)})"
      case 2 => // scalar subquery in SELECT
        val sub = s"(SELECT ${g.aggExpr(dim.cols)} FROM ${e._3})"
        s"SELECT ${outputs(g, fact.cols, 1, 2).mkString(", ")}, $sub AS cs " +
          s"FROM ${e._1} WHERE ${g.pred(fact.cols, g.int(0, 1))}"
      case _ => // scalar subquery in WHERE (int-valued, both engines exact)
        val sub = s"(SELECT CAST(COUNT(*) AS BIGINT) FROM ${e._3} " +
          s"WHERE ${g.pred(dim.cols, 0)})"
        s"SELECT ${outputs(g, fact.cols, 1, 3).mkString(", ")} FROM ${e._1} " +
          s"WHERE CAST(${e._2} AS BIGINT) % 100 < $sub"
    }
  }

  private def qWindow(g: Gen): String = {
    // Unique-keyed tables only: ROW_NUMBER/LAG need a total order.
    val t = g.pick(tables.filter(_.unique.isDefined))
    val key = t.unique.get
    val part = g.groupExpr(t.cols)
    val ord = g.pick(t.cols).name
    val wins = Seq.newBuilder[String]
    wins += s"CAST(ROW_NUMBER() OVER (PARTITION BY $part ORDER BY $key) AS BIGINT) AS w0"
    g.r.nextInt(3) match {
      case 0 => wins +=
        s"CAST(RANK() OVER (PARTITION BY $part ORDER BY $ord) AS BIGINT) AS w1"
      case 1 => wins +=
        s"CAST(DENSE_RANK() OVER (ORDER BY $ord) AS BIGINT) AS w1"
      case _ => wins +=
        s"CAST(COUNT(*) OVER (PARTITION BY $part) AS BIGINT) AS w1"
    }
    g.r.nextInt(3) match {
      case 0 => wins +=
        s"CAST(SUM(${g.intExpr(t.cols, 0)}) OVER (PARTITION BY $part ORDER BY $key) AS BIGINT) AS w2"
      case 1 => wins +=
        s"LAG(${g.pick(g.valCols(t.cols)).name}) OVER (PARTITION BY $part ORDER BY $key) AS w2"
      case _ => wins +=
        s"LEAD(${g.pick(g.valCols(t.cols)).name}, ${g.int(1, 3)}) OVER (ORDER BY $key) AS w2"
    }
    val where = if (g.chance(0.5)) s" WHERE ${g.pred(t.cols, g.int(0, 1))}" else ""
    s"SELECT $key AS k, ${wins.result().mkString(", ")} FROM ${t.name}$where"
  }

  private def qCte(g: Gen): String = {
    val e = g.pick(fks)
    val fact = byName(e._1); val dim = byName(e._3)
    val aggA = g.aggExpr(fact.cols)
    val where = if (g.chance(0.5)) s" WHERE ${g.pred(fact.cols, 0)}" else ""
    s"WITH agg AS (SELECT ${e._2} AS k, $aggA AS m, " +
      s"CAST(COUNT(*) AS BIGINT) AS cnt FROM ${e._1}$where GROUP BY 1) " +
      s"SELECT ${outputs(g, dim.cols.map(_.qualify("d")), 1, 2).mkString(", ")}, " +
      s"agg.m AS cm, agg.cnt AS ccnt FROM ${e._3} d JOIN agg ON d.${e._4} = agg.k " +
      s"WHERE agg.cnt > ${g.int(0, 3)}"
  }

  private def qOrderLimit(g: Gen): String = {
    val t = g.pick(tables.filter(_.unique.isDefined))
    val key = t.unique.get
    val dir = if (g.chance(0.5)) "DESC" else "ASC"
    val where = if (g.chance(0.6)) s" WHERE ${g.pred(t.cols, g.int(0, 1))}" else ""
    s"SELECT ${outputs(g, t.cols, 1, 3).mkString(", ")}, $key AS k " +
      s"FROM ${t.name}$where ORDER BY $key $dir LIMIT ${g.int(1, 50)}"
  }

  /** The seed's query text — a pure function of the seed. */
  def generate(seed: Int): String = {
    val version =
      if (seed > V3Seeds) 4 else if (seed > V2Seeds) 3 else 2
    val g = new Gen(new Random(seed.toLong * 2654435761L + 12345L), version)
    if (seed <= V1Seeds) v1Shape(g)
    else if (seed <= V2Seeds) v2Shape(g)
    else if (seed <= V3Seeds) v3Shape(g)
    else v4Shape(g)
  }

  private def v1Shape(g: Gen): String =
    g.r.nextInt(20) match {
      case 0 | 1 | 2 => qFilterProject(g)
      case 3 | 4 | 5 | 6 => qAggregate(g)
      case 7 | 8 | 9 | 10 | 11 => qJoinShape(g)
      case 12 | 13 => qSetOp(g)
      case 14 | 15 | 16 => qSubquery(g)
      case 17 => qWindow(g)
      case 18 => qRollup(g)
      case _ => if (g.chance(0.5)) qCte(g) else qOrderLimit(g)
    }

  private def v2Shape(g: Gen): String =
    g.r.nextInt(12) match {
      case 0 | 1 => qFramedWindow(g)
      case 2 | 3 => qGroupingSets(g)
      case 4 | 5 => qNullCaseAgg(g)
      case 6 | 7 => qNestedSubquery(g)
      case 8 => qHavingAgg(g)
      case 9 | 10 => qMultiCte(g)
      case _ => v1Shape(g) // keep v1 shapes in the v2 mix
    }

  /** ROWS-framed running aggregates over a verified-unique total order
    * (frame CONTENT is deterministic only under a unique sort key).
    */
  private def qFramedWindow(g: Gen): String = {
    val t = g.pick(tables.filter(_.unique.isDefined))
    val key = t.unique.get
    val part = g.groupExpr(t.cols)
    val k1 = g.int(1, 5)
    val k2 = g.int(0, 3)
    val wins = Seq(
      s"CAST(SUM(${g.intExpr(t.cols, 0)}) OVER (PARTITION BY $part ORDER BY $key " +
        s"ROWS BETWEEN $k1 PRECEDING AND CURRENT ROW) AS BIGINT) AS w0",
      s"MIN(${g.pick(g.valCols(t.cols)).name}) OVER (ORDER BY $key " +
        s"ROWS BETWEEN $k1 PRECEDING AND $k2 FOLLOWING) AS w1",
      s"CAST(COUNT(*) OVER (PARTITION BY $part ORDER BY $key " +
        s"ROWS BETWEEN UNBOUNDED PRECEDING AND $k2 FOLLOWING) AS BIGINT) AS w2")
    val where = if (g.chance(0.5)) s" WHERE ${g.pred(t.cols, g.int(0, 1))}" else ""
    s"SELECT $key AS k, ${wins.mkString(", ")} FROM ${t.name}$where"
  }

  /** GROUPING SETS with a GROUPING() disambiguator (rollup NULLs vs real
    * NULLs — both engines must mark the same rows).
    */
  private def qGroupingSets(g: Gen): String = {
    val s = if (g.chance(0.3)) joinSrc(g) else singleSrc(g)
    val g0 = g.groupExpr(s.cols)
    val g1 = g.groupExpr(s.cols)
    val sets = g.pick(Seq(
      s"(($g0), ($g0, $g1))",
      s"(($g0), ($g1))",
      s"(($g0, $g1), ())",
      s"(($g0), ($g0, $g1), ())"))
    s"SELECT $g0 AS g0, $g1 AS g1, CAST(GROUPING($g0) AS BIGINT) AS gf, " +
      s"${g.aggExpr(s.cols)} AS a0, CAST(COUNT(*) AS BIGINT) AS a1 " +
      s"FROM ${s.from} GROUP BY GROUPING SETS $sets"
  }

  /** NULL-propagating CASE (no ELSE) through SUM/COUNT/MIN — aggregates
    * must skip the NULLs identically.
    */
  private def qNullCaseAgg(g: Gen): String = {
    val s = if (g.chance(0.4)) joinSrc(g) else singleSrc(g)
    val p1 = g.pred(s.cols, 0)
    val p2 = g.pred(s.cols, 0)
    val grp = g.groupExpr(s.cols)
    s"SELECT $grp AS g0, " +
      s"CAST(SUM(CASE WHEN $p1 THEN ${g.intExpr(s.cols, 1)} END) AS BIGINT) AS a0, " +
      s"CAST(COUNT(CASE WHEN $p2 THEN 1 END) AS BIGINT) AS a1, " +
      s"MIN(CASE WHEN $p1 THEN ${g.strExpr(s.cols, 1)} END) AS a2, " +
      s"CAST(COUNT(*) AS BIGINT) AS a3 " +
      s"FROM ${s.from} GROUP BY 1"
  }

  /** Two-level IN subqueries along composable FK chains. */
  private def qNestedSubquery(g: Gen): String = {
    val chains = Seq(
      ("lineitem", "l_orderkey", "orders", "o_orderkey", "o_custkey",
        "customer", "c_custkey"),
      ("orders", "o_custkey", "customer", "c_custkey", "c_nationkey",
        "nation", "n_nationkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey", "n_regionkey",
        "region", "r_regionkey"),
      ("lineitem", "l_suppkey", "supplier", "s_suppkey", "s_nationkey",
        "nation", "n_nationkey"))
    val (t1, fk1, t2, k2, fk2, t3, k3) = g.pick(chains)
    val neg = if (g.chance(0.25)) "NOT " else ""
    s"SELECT ${outputs(g, byName(t1).cols, 1, 3).mkString(", ")} FROM $t1 " +
      s"WHERE $fk1 ${neg}IN (SELECT $k2 FROM $t2 WHERE $fk2 IN " +
      s"(SELECT $k3 FROM $t3 WHERE ${g.pred(byName(t3).cols, g.int(0, 1))}))"
  }

  /** HAVING over aggregates the SELECT list doesn't expose. */
  private def qHavingAgg(g: Gen): String = {
    val s = if (g.chance(0.4)) joinSrc(g) else singleSrc(g)
    val grp = g.groupExpr(s.cols)
    val ints = s.cols.filter(_.t == IT)
    val hav = g.pick(Seq(
      s"MIN(CAST(${g.pick(ints).name} AS BIGINT)) > ${g.int(0, 500)}",
      s"MAX(CAST(${g.pick(ints).name} AS BIGINT)) < ${g.int(500, 200000)}",
      s"COUNT(DISTINCT ${g.pick(s.cols).name}) >= ${g.int(1, 4)}"))
    s"SELECT $grp AS g0, ${g.aggExpr(s.cols)} AS a0, " +
      s"CAST(COUNT(*) AS BIGINT) AS a1 FROM ${s.from} " +
      s"GROUP BY 1 HAVING $hav AND COUNT(*) > ${g.int(0, 3)}"
  }

  /** Two CTEs, dim LEFT JOIN agg, COALESCE'd outer-null aggregate. */
  private def qMultiCte(g: Gen): String = {
    val e = g.pick(fks)
    val fact = byName(e._1); val dim = byName(e._3)
    val factWhere = if (g.chance(0.6)) s" WHERE ${g.pred(fact.cols, 0)}" else ""
    s"WITH agg AS (SELECT ${e._2} AS k, CAST(COUNT(*) AS BIGINT) AS cnt, " +
      s"${g.aggExpr(fact.cols)} AS m FROM ${e._1}$factWhere GROUP BY 1), " +
      s"dims AS (SELECT ${e._4} AS k, " +
      s"${outputs(g, dim.cols, 1, 2).mkString(", ")} FROM ${e._3} " +
      s"WHERE ${g.pred(dim.cols, g.int(0, 1))}) " +
      "SELECT dims.*, COALESCE(agg.cnt, CAST(0 AS BIGINT)) AS ccnt, agg.m AS cm " +
      "FROM dims LEFT JOIN agg ON dims.k = agg.k"
  }

  // ---- v3 shapes (seeds 1001+) ----

  private def v3Shape(g: Gen): String =
    g.r.nextInt(14) match {
      case 0 | 1 => qOuterJoinV3(g)
      case 2 | 3 => qCorrAggSubV3(g)
      case 4 | 5 => qStringFnsV3(g)
      case 6 | 7 => qDateArithV3(g)
      case 8 => qSetOpAllV3(g)
      case 9 | 10 => qRangeWindowV3(g)
      case 11 | 12 => qAggV3(g)
      case _ => qFilterV3(g)
    }

  /** Selective range predicate on a fan-out table's key — the v3
    * cardinality guard (~2% of the sf0.1 keyspace; replica-0 keys
    * survive GenScale replication, so the guard only gets MORE selective
    * at larger SFs, never empty).
    */
  private def guardPred(g: Gen, tbl: Tbl, alias: String): String = {
    // The keyless fallback is lineitem-specific (l_orderkey is its
    // highest-selectivity FK); a new keyless fact must extend this
    // explicitly rather than silently inherit a column it lacks.
    require(tbl.unique.isDefined || tbl.name == "lineitem",
      s"guardPred: no guard column defined for keyless table ${tbl.name}")
    val gc = tbl.unique.getOrElse("l_orderkey")
    val (lo, hi) = intRange(gc)
    val w = math.max(1L, (hi - lo) / 50)
    val x = lo + java.lang.Math.floorMod(g.r.nextLong(), math.max(1L, hi - lo - w + 1))
    s"$alias.$gc BETWEEN $x AND ${x + w}"
  }

  /** joinSrc with the fan-out guard: attaching a NEW fact to an
    * already-joined dim is the M:N explosion class (fz0374's
    * lineitem⋈supplier⋈nation⋈customer chain → 3.6e10 rows at sf1);
    * every such attachment yields a mandatory selective predicate the
    * v3 shapes AND into their WHERE clause.
    */
  private def joinSrcV3(g: Gen): Src = {
    val e0 = g.pick(fks)
    var used = Map(e0._1 -> "t1", e0._3 -> "t2")
    val guards = Seq.newBuilder[String]
    val sb = new StringBuilder(
      s"${e0._1} t1 JOIN ${e0._3} t2 ON t1.${e0._2} = t2.${e0._4}")
    var n = 2
    val extra = g.int(0, 2)
    var tries = 0
    while (n - 2 < extra && tries < 6) {
      tries += 1
      val cand = fks.filter(e =>
        (used.contains(e._1) && !used.contains(e._3)) ||
        (!used.contains(e._1) && used.contains(e._3)))
      if (cand.nonEmpty) {
        val e = g.pick(cand)
        n += 1
        val a = s"t$n"
        val jt = if (g.chance(0.2)) "LEFT JOIN" else "JOIN"
        if (used.contains(e._1)) { // N:1 hop to a new dim — safe
          sb.append(s" $jt ${e._3} $a ON ${used(e._1)}.${e._2} = $a.${e._4}")
          used += (e._3 -> a)
        } else { // new FACT onto a used dim — fan-out: guard it
          sb.append(s" $jt ${e._1} $a ON $a.${e._2} = ${used(e._3)}.${e._4}")
          used += (e._1 -> a)
          guards += guardPred(g, byName(e._1), a)
        }
      }
    }
    val cols = used.toSeq.sortBy(_._2).flatMap { case (tn, a) =>
      byName(tn).cols.map(_.qualify(a))
    }
    val uniq = byName(e0._1).unique.map(k => s"t1.$k").toSeq
    Src(sb.toString, cols, uniq, used.keys.toSeq, guards.result())
  }

  private def v3Src(g: Gen): Src =
    if (g.chance(0.5)) singleSrc(g) else joinSrcV3(g)

  private def whereV3(g: Gen, s: Src, extraChance: Double = 0.7): String = {
    val ps = s.guards ++
      (if (g.chance(extraChance)) Seq(g.pred(s.cols, g.int(0, 1))) else Nil)
    if (ps.isEmpty) "" else s" WHERE ${ps.mkString(" AND ")}"
  }

  /** FULL OUTER against a pre-aggregated fact (both null sides live:
    * the dim filter orphans fact groups, the fact filter orphans dims);
    * or a filtered-fact RIGHT JOIN (dim-preserving with fact nulls).
    */
  private def qOuterJoinV3(g: Gen): String = {
    val e = g.pick(fks)
    val fact = byName(e._1); val dim = byName(e._3)
    if (g.chance(0.5)) {
      val fw = if (g.chance(0.7)) s" WHERE ${g.pred(fact.cols, 0)}" else ""
      s"WITH f AS (SELECT ${e._2} AS k, CAST(COUNT(*) AS BIGINT) AS cnt, " +
        s"${g.aggExpr(fact.cols)} AS m FROM ${e._1}$fw GROUP BY 1), " +
        s"d AS (SELECT * FROM ${e._3} WHERE ${g.pred(dim.cols, g.int(0, 1))}) " +
        s"SELECT d.${e._4} AS dk, f.k AS fk, " +
        s"${outputs(g, dim.cols.map(_.qualify("d")), 1, 2).mkString(", ")}, " +
        "COALESCE(f.cnt, CAST(0 AS BIGINT)) AS ccnt, f.m AS cm " +
        s"FROM d FULL OUTER JOIN f ON d.${e._4} = f.k"
    } else {
      val fcols = fact.cols.map(_.qualify("f"))
      val dcols = dim.cols.map(_.qualify("d"))
      s"SELECT ${outputs(g, dcols, 1, 2).mkString(", ")}, " +
        s"${outputs(g, fcols, 1, 2, start = 4).mkString(", ")} " +
        s"FROM (SELECT * FROM ${e._1} WHERE ${g.pred(fact.cols, g.int(0, 1))}) f " +
        s"RIGHT JOIN ${e._3} d ON f.${e._2} = d.${e._4}"
    }
  }

  /** Correlated scalar-aggregate comparisons and compound NOT EXISTS. */
  private def qCorrAggSubV3(g: Gen): String = {
    val e = g.pick(fks)
    val fact = byName(e._1); val dim = byName(e._3)
    val fcols = fact.cols.map(_.qualify("f"))
    val dcols = dim.cols.map(_.qualify("d"))
    g.r.nextInt(3) match {
      case 0 =>
        val lo = g.int(0, 5)
        s"SELECT ${outputs(g, dcols, 1, 3).mkString(", ")} FROM ${e._3} d " +
          s"WHERE (SELECT CAST(COUNT(*) AS BIGINT) FROM ${e._1} f " +
          s"WHERE f.${e._2} = d.${e._4} AND ${g.pred(fcols, 0)}) " +
          s"BETWEEN $lo AND ${lo + g.int(2, 200)}"
      case 1 =>
        s"SELECT ${outputs(g, dcols, 1, 3).mkString(", ")} FROM ${e._3} d " +
          s"WHERE NOT EXISTS (SELECT 1 FROM ${e._1} f " +
          s"WHERE f.${e._2} = d.${e._4} AND ${g.pred(fcols, 0)} " +
          s"AND ${g.pred(fcols, 0)})"
      case _ =>
        s"SELECT d.${e._4} AS k, (SELECT CAST(COUNT(*) AS BIGINT) " +
          s"FROM ${e._1} f WHERE f.${e._2} = d.${e._4} " +
          s"AND ${g.pred(fcols, 0)}) AS cc " +
          s"FROM ${e._3} d WHERE ${g.pred(dcols, g.int(0, 1))}"
    }
  }

  /** ANSI string surface both dialects share: SUBSTRING FROM-FOR,
    * POSITION(x IN y), REPLACE, and LIKE with an explicit ESCAPE.
    */
  private def qStringFnsV3(g: Gen): String = {
    val t = g.pick(tables.filter(_.cols.exists(c =>
      c.t == ST && strPool.contains(c.base))))
    val scols = t.cols.filter(c => c.t == ST && strPool.contains(c.base))
    val c1 = g.pick(scols); val c2 = g.pick(scols)
    val needle = g.pick(strPool(c2.base)).take(2)
      .filterNot(ch => ch == '\'' || ch == '%' || ch == '_')
    // '!' as the escape char: a backslash escape would itself be
    // dialect-divergent (Spark processes backslashes inside string
    // literals by default; DuckDB does not).
    val esc = s"${c1.name} LIKE '%${needle}!_%' ESCAPE '!'"
    val real = s"${c1.name} LIKE '%$needle%'"
    val where = if (g.chance(0.5)) s"($esc OR $real)"
      else s"POSITION('$needle' IN ${c2.name}) ${g.pick(Seq(">", "="))} ${g.int(0, 2)}"
    s"SELECT SUBSTRING(${c1.name} FROM ${g.int(1, 3)} FOR ${g.int(2, 8)}) AS c0, " +
      s"${g.pick(Seq("UPPER", "LOWER"))}(${c2.name}) AS c1, " +
      s"REPLACE(${c1.name}, '${needle.take(1)}', '#') AS c2, " +
      s"CAST(POSITION('$needle' IN ${c1.name}) AS BIGINT) AS c3, " +
      s"CAST(COUNT(*) AS BIGINT) AS c4 " +
      s"FROM ${t.name} WHERE $where GROUP BY 1, 2, 3, 4"
  }

  /** Interval arithmetic in predicates and date_trunc keys (the TPC-H
    * `interval 'n' day` form both engines already run in SqlParity).
    * events.ts stays out of raw/derived-timestamp OUTPUT (see valCols);
    * orders/lineitem dates are µs-written by the driver and compare
    * clean.
    */
  private def qDateArithV3(g: Gen): String = {
    val t = g.pick(Seq(byName("orders"), byName("lineitem")))
    val tc = t.cols.find(_.t == TT).get
    val unit = g.pick(Seq("month", "year"))
    val days = g.int(5, 120)
    val cmp = g.pick(Seq("<", ">=", "<="))
    val where = s"${tc.name} + INTERVAL '$days' DAY $cmp ${g.tsLit(tc)}" +
      (if (g.chance(0.5)) s" AND ${g.pred(t.cols, 0)}" else "")
    // CAST AS DATE: DuckDB's date_trunc('month'|'year', TIMESTAMP)
    // yields DATE where Spark yields TIMESTAMP — the cast lands both
    // engines on the same rendered type.
    s"SELECT CAST(date_trunc('$unit', ${tc.name}) AS DATE) AS c0, " +
      s"CAST(EXTRACT(${g.pick(Seq("YEAR", "MONTH", "DAY"))} FROM " +
      s"${tc.name} - INTERVAL '${g.int(1, 45)}' DAY) AS BIGINT) AS c1, " +
      s"${g.aggExpr(t.cols)} AS c2, CAST(COUNT(*) AS BIGINT) AS c3 " +
      s"FROM ${t.name} WHERE $where GROUP BY 1, 2"
  }

  /** Multiset set ops (INTERSECT ALL / EXCEPT ALL) over overlapping
    * predicate slices — duplicates must survive/cancel identically.
    */
  private def qSetOpAllV3(g: Gen): String = {
    val t = g.pick(tables)
    val gen2 = outputs(g, t.cols, 2, 3)
    val op = g.pick(Seq("INTERSECT ALL", "EXCEPT ALL"))
    val p1 = g.pred(t.cols, g.int(0, 1))
    val p2 = g.pred(t.cols, g.int(0, 1))
    s"SELECT ${gen2.mkString(", ")} FROM ${t.name} WHERE $p1 " +
      s"$op SELECT ${gen2.mkString(", ")} FROM ${t.name} WHERE $p2"
  }

  /** RANGE-framed windows: peer-inclusive, so ANY order key is
    * tie-stable — deterministic even where ROWS frames would not be.
    */
  private def qRangeWindowV3(g: Gen): String = {
    val t = g.pick(tables)
    val ints = t.cols.filter(_.t == IT)
    val ord = g.pick(ints).name
    val part = g.groupExpr(t.cols)
    val n1 = g.int(1, 500); val n2 = g.int(1, 100)
    val wins = Seq(
      s"CAST(SUM(${g.intExpr(t.cols, 0)}) OVER (PARTITION BY $part ORDER BY $ord " +
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS w0",
      s"CAST(COUNT(*) OVER (PARTITION BY $part ORDER BY $ord " +
        s"RANGE BETWEEN $n1 PRECEDING AND CURRENT ROW) AS BIGINT) AS w1",
      s"MIN(${g.pick(g.valCols(t.cols)).name}) OVER (ORDER BY $ord " +
        s"RANGE BETWEEN CURRENT ROW AND $n2 FOLLOWING) AS w2")
    val where = if (g.chance(0.5)) s" WHERE ${g.pred(t.cols, g.int(0, 1))}" else ""
    s"SELECT $ord AS k, ${wins.mkString(", ")} FROM ${t.name}$where"
  }

  private def qAggV3(g: Gen): String = {
    val s = v3Src(g)
    val ng = g.int(0, 2)
    val groups = (0 until ng).map(i => s"${g.groupExpr(s.cols)} AS g$i")
    val aggs = (0 until g.int(1, 3)).map(i => s"${g.aggExpr(s.cols)} AS a$i")
    val gby = if (ng > 0) s" GROUP BY ${(1 to ng).mkString(", ")}" else ""
    val having = if (ng > 0 && g.chance(0.3))
      s" HAVING COUNT(*) > ${g.int(0, 5)}" else ""
    s"SELECT ${(groups ++ aggs).mkString(", ")} FROM ${s.from}" +
      s"${whereV3(g, s)}$gby$having"
  }

  private def qFilterV3(g: Gen): String = {
    val s = v3Src(g)
    val distinct = if (g.chance(0.2)) "DISTINCT " else ""
    val ps = s.guards :+ g.pred(s.cols, g.int(0, 2))
    s"SELECT $distinct${outputs(g, s.cols, 2, 4).mkString(", ")} " +
      s"FROM ${s.from} WHERE ${ps.mkString(" AND ")}"
  }

  // ---- v4 shapes (seeds 1301+) ----

  private def v4Shape(g: Gen): String =
    g.r.nextInt(14) match {
      case 0 | 1 => qScalarSelectV4(g)
      case 2 | 3 => qHavingV4(g)
      case 4 | 5 => qNullsOrderV4(g)
      case 6 | 7 => qInSubV4(g)
      case 8 | 9 => qCaseJoinV4(g)
      case 10 | 11 | 12 => qNullViewV4(g)
      case _ => v3Shape(g) // keep earlier shapes in the v4 mix
    }

  /** Correlated scalar-aggregate subqueries in the SELECT list: empty
    * correlation groups yield NULL (SUM/MIN over zero rows), so the
    * output column itself is the three-valued surface; one variant
    * COALESCEs it, the other leaves the NULL visible.
    */
  private def qScalarSelectV4(g: Gen): String = {
    val e = g.pick(fks)
    val fact = byName(e._1); val dim = byName(e._3)
    val fcols = fact.cols.map(_.qualify("f"))
    val dcols = dim.cols.map(_.qualify("d"))
    val sub1 = s"(SELECT CAST(SUM(${g.intExpr(fcols, g.int(0, 1))}) AS BIGINT) " +
      s"FROM ${e._1} f WHERE f.${e._2} = d.${e._4} AND ${g.pred(fcols, 0)})"
    val sub2 = s"(SELECT MIN(${g.pick(g.valCols(fcols)).name}) FROM ${e._1} f " +
      s"WHERE f.${e._2} = d.${e._4})"
    val s1 = if (g.chance(0.5)) s"COALESCE($sub1, CAST(${g.int(-5, 5)} AS BIGINT))"
      else sub1
    s"SELECT d.${e._4} AS k, " +
      s"${outputs(g, dcols, 1, 2).mkString(", ")}, $s1 AS cs0, $sub2 AS cs1 " +
      s"FROM ${e._3} d WHERE ${g.pred(dcols, g.int(0, 1))}"
  }

  /** HAVING over full aggregate expressions (v1/v3 only ever gated on
    * COUNT(*)): exact-int SUM ranges, MIN/MAX comparisons against
    * literals, COUNT(DISTINCT) floors, AND/OR-combined.
    */
  private def qHavingV4(g: Gen): String = {
    val s = v3Src(g)
    val ng = g.int(1, 2)
    val groups = (0 until ng).map(i => s"${g.groupExpr(s.cols)} AS g$i")
    val aggs = (0 until g.int(1, 2)).map(i => s"${g.aggExpr(s.cols)} AS a$i")
    def hpred: String = g.r.nextInt(4) match {
      case 0 =>
        val lo = g.int(-50, 400)
        s"CAST(SUM(${g.intExpr(s.cols, 0)}) AS BIGINT) " +
          s"BETWEEN $lo AND ${lo + g.int(10, 5000)}"
      case 1 =>
        val c = g.pick(g.valCols(s.cols))
        s"MIN(${c.name}) ${g.pick(Seq("<", ">", "<=", ">=", "<>"))} ${g.litFor(c)}"
      case 2 =>
        s"CAST(COUNT(DISTINCT ${g.pick(s.cols).name}) AS BIGINT) >= ${g.int(1, 4)}"
      case _ => s"COUNT(*) ${g.pick(Seq(">", ">=", "<"))} ${g.int(1, 40)}"
    }
    val having = if (g.chance(0.5)) hpred
      else s"($hpred ${g.pick(Seq("AND", "OR"))} $hpred)"
    s"SELECT ${(groups ++ aggs).mkString(", ")} FROM ${s.from}" +
      s"${whereV3(g, s)} GROUP BY ${(1 to ng).mkString(", ")} HAVING $having"
  }

  /** ORDER BY ... NULLS FIRST/LAST over a column the outer join actually
    * nulls, tie-broken by the preserved side's unique key so the LIMIT
    * window is a total order in both engines.
    */
  private def qNullsOrderV4(g: Gen): String = {
    val e = g.pick(fks)
    val fact = byName(e._1); val dim = byName(e._3)
    val fcols = fact.cols.map(_.qualify("f"))
    val v = g.pick(g.valCols(fcols).filter(_.t != TT))
    val dir = g.pick(Seq("ASC", "DESC"))
    val nulls = g.pick(Seq("NULLS FIRST", "NULLS LAST"))
    s"SELECT d.${e._4} AS k, ${v.name} AS v, " +
      s"${outputs(g, dim.cols.map(_.qualify("d")), 1, 2).mkString(", ")} " +
      s"FROM (SELECT * FROM ${e._1} WHERE ${g.pred(fact.cols, g.int(0, 1))}) f " +
      s"RIGHT JOIN ${e._3} d ON f.${e._2} = d.${e._4} " +
      s"ORDER BY v $dir $nulls, k LIMIT ${g.int(10, 80)}"
  }

  /** IN over a DERIVED aggregate subquery (grouped, HAVING-filtered
    * value sets), plus string-set membership through expressions — v1's
    * IN only ever probed raw FK key lists.
    */
  private def qInSubV4(g: Gen): String = {
    val e = g.pick(fks)
    val fact = byName(e._1); val dim = byName(e._3)
    g.r.nextInt(3) match {
      case 0 => // key IN (grouped dim key set, HAVING-filtered)
        val ic = g.pick(dim.cols.filter(_.t == IT))
        s"SELECT ${outputs(g, fact.cols, 1, 3).mkString(", ")} FROM ${e._1} " +
          s"WHERE CAST(${e._2} AS BIGINT) IN " +
          s"(SELECT CAST(${e._4} AS BIGINT) FROM ${e._3} GROUP BY 1 " +
          s"HAVING MAX(${ic.name}) ${g.pick(Seq(">", "<=", "<>"))} " +
          s"${g.litFor(ic)})"
      case 1 => // membership of a derived string expression
        val sc = g.pick(dim.cols.filter(c => c.t == ST))
        s"SELECT ${outputs(g, fact.cols, 1, 3).mkString(", ")} FROM ${e._1} " +
          s"WHERE ${e._2} IN (SELECT ${e._4} FROM ${e._3} " +
          s"WHERE UPPER(${sc.name}) ${g.pick(Seq("<", ">", "<>"))} " +
          s"UPPER(${g.litFor(sc)}))"
      case _ => // IN over an aggregated fact-side value set
        s"SELECT ${outputs(g, dim.cols, 1, 3).mkString(", ")} FROM ${e._3} " +
          s"WHERE CAST(${e._4} AS BIGINT) IN " +
          s"(SELECT CAST(${e._2} AS BIGINT) FROM ${e._1} " +
          s"GROUP BY 1 HAVING CAST(COUNT(*) AS BIGINT) " +
          s"${g.pick(Seq(">", ">=", "<"))} ${g.int(1, 30)})"
    }
  }

  /** CASE expressions inside join conditions: the equi component keeps
    * the join hashable; the residual CASE branches on one side's
    * predicate to select which predicate applies to the other.
    */
  private def qCaseJoinV4(g: Gen): String = {
    val e = g.pick(fks)
    val fact = byName(e._1); val dim = byName(e._3)
    val fcols = fact.cols.map(_.qualify("f"))
    val dcols = dim.cols.map(_.qualify("d"))
    val caseCond = s"(CASE WHEN ${g.pred(dcols, 0)} THEN ${g.pred(fcols, 0)} " +
      s"WHEN ${g.pred(dcols, 0)} THEN ${g.pred(fcols, 0)} ELSE ${g.chance(0.5)} END)"
    val jt = if (g.chance(0.3)) "LEFT JOIN" else "JOIN"
    if (g.chance(0.5)) {
      s"SELECT ${g.groupExpr(dcols)} AS g0, CAST(COUNT(*) AS BIGINT) AS a0, " +
        s"${g.aggExpr(dcols ++ (if (jt == "JOIN") fcols else Nil))} AS a1 " +
        s"FROM ${e._3} d $jt ${e._1} f ON f.${e._2} = d.${e._4} AND $caseCond " +
        s"GROUP BY 1"
    } else {
      s"SELECT ${outputs(g, dcols, 1, 2).mkString(", ")}, " +
        s"${outputs(g, if (jt == "JOIN") fcols else dcols, 1, 2, start = 4)
          .mkString(", ")} " +
        s"FROM ${e._3} d $jt ${e._1} f ON f.${e._2} = d.${e._4} AND $caseCond " +
        s"WHERE ${g.pred(dcols, g.int(0, 1))}"
    }
  }

  /** Null-heavy derived view: NULLIF and bare CASE (no ELSE) synthesize
    * NULLs the base tables don't have, then aggregation / filtering /
    * DISTINCT over them exercises three-valued logic — NULL grouping,
    * COUNT(col) vs COUNT(*), SUM-over-empty, IS [NOT] DISTINCT FROM,
    * null-aware predicates.
    */
  private def qNullViewV4(g: Gen): String = {
    val t = g.pick(tables.filter(_.cols.exists(c =>
      c.t == ST && strPool.contains(c.base))))
    val sc = g.pick(t.cols.filter(c => c.t == ST && strPool.contains(c.base)))
    val nullLit = g.litFor(sc)
    val view = s"SELECT ${t.unique.map(k => s"$k AS k, ").getOrElse("")}" +
      s"NULLIF(${sc.name}, $nullLit) AS s, " +
      s"(CASE WHEN ${g.pred(t.cols, 0)} THEN CAST(${g.intExpr(t.cols, g.int(0, 1))} AS BIGINT) END) AS v " +
      s"FROM ${t.name}" +
      (if (g.chance(0.4)) s" WHERE ${g.pred(t.cols, 0)}" else "")
    g.r.nextInt(4) match {
      case 0 => // NULL grouping: the NULLIF'd value is a group key
        s"WITH nv AS ($view) SELECT s AS g0, CAST(COUNT(*) AS BIGINT) AS a0, " +
          "CAST(COUNT(v) AS BIGINT) AS a1, CAST(SUM(v) AS BIGINT) AS a2 " +
          "FROM nv GROUP BY 1"
      case 1 => // null-aware filters
        val p = g.r.nextInt(3) match {
          case 0 => s"v IS NULL AND s IS NOT NULL"
          case 1 => s"s IS NOT DISTINCT FROM $nullLit OR v > ${g.int(0, 50)}"
          case _ => s"(v >= ${g.int(0, 20)} OR v IS NULL) AND s IS NOT NULL"
        }
        s"WITH nv AS ($view) SELECT s AS c0, v AS c1, " +
          "CAST(COUNT(*) AS BIGINT) AS c2 FROM nv " +
          s"WHERE $p GROUP BY 1, 2"
      case 2 => // DISTINCT over nullable pair (NULLs collapse identically)
        s"WITH nv AS ($view) SELECT DISTINCT s AS c0, v AS c1 FROM nv"
      case _ => // aggregate-only: COUNT/COUNT(col)/SUM/MIN over NULLs
        s"WITH nv AS ($view) SELECT CAST(COUNT(*) AS BIGINT) AS c0, " +
          "CAST(COUNT(v) AS BIGINT) AS c1, CAST(SUM(v) AS BIGINT) AS c2, " +
          "CAST(COUNT(DISTINCT s) AS BIGINT) AS c3, MIN(s) AS c4 FROM nv"
    }
  }

  private def qJoinShape(g: Gen): String = {
    val s = joinSrc(g)
    if (g.chance(0.6)) {
      val ng = g.int(1, 2)
      val groups = (0 until ng).map(i => s"${g.groupExpr(s.cols)} AS g$i")
      val aggs = (0 until g.int(1, 3)).map(i => s"${g.aggExpr(s.cols)} AS a$i")
      val where = if (g.chance(0.7)) s" WHERE ${g.pred(s.cols, g.int(0, 1))}" else ""
      s"SELECT ${(groups ++ aggs).mkString(", ")} FROM ${s.from}$where " +
        s"GROUP BY ${(1 to ng).mkString(", ")}"
    } else {
      s"SELECT ${outputs(g, s.cols, 2, 4).mkString(", ")} FROM ${s.from} " +
        s"WHERE ${g.pred(s.cols, g.int(0, 2))}"
    }
  }

  // ---- JSON escape (same rules as Verify's dump) ----
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def corpusJson(n: Int): String =
    (1 to n).map { seed =>
      s"${jq(f"fz$seed%04d")}: ${jq(generate(seed))}"
    }.mkString("{\n", ",\n", "\n}")

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--dump")) {
      val path = args(1)
      val n = if (args.length > 2) args(2).toInt else DefaultSeeds
      Files.createDirectories(Paths.get(path).getParent)
      Files.writeString(Paths.get(path), corpusJson(n))
      println(s"[sqlfuzz] wrote $n seeds to $path")
      return
    }
    val Array(sfDir, outDir) = args.take(2)
    val n = if (args.length > 2) args(2).toInt else DefaultSeeds
    val first = if (args.length > 3) args(3).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.local("graft-sqlfuzz", s"local[$cpus]", cpus.toInt,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    // Fuzz WITH the custom rewrite rule installed: every differential
    // pass then also proves TopKRewrite can't misfire on arbitrary SQL.
    graft.plans.TopK.installRewrite(spark)
    Tables.all.foreach(t =>
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t))
    new java.io.File(outDir).mkdirs()
    val oracles = scala.collection.mutable.SortedMap.empty[String, String]
    val skipped = scala.collection.mutable.SortedMap.empty[String, String]
    var nErr = 0
    // Per-seed wall-clock cap (0 = off). For large-SF sweeps: frozen v1/v2
    // seeds predate the fan-out guard, and a handful are output-explosive
    // at sf1+ (fz0374 ≈ 3.6e10 rows) — correct SQL whose OUTPUT can't be
    // materialized, the same class as the catalog's quadratic-by-design
    // exclusions. A capped seed is recorded in skipped.json (with its SQL
    // for audit) and excluded from oracle_sql.json so check.py grades
    // exactly the seeds that ran.
    val timeoutS = sys.env.getOrElse("SPARK_GRAFT_FUZZ_TIMEOUT_S", "0").toInt
    (first until first + n).foreach { seed =>
      val name = f"fz$seed%04d"
      val sql = generate(seed)
      try {
        if (timeoutS <= 0) {
          spark.sql(sql).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          oracles += name -> sql
        } else {
          @volatile var err: Option[Throwable] = None
          val worker = new Thread(() => {
            spark.sparkContext.setJobGroup(name, name, true)
            try spark.sql(sql).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case scala.util.control.NonFatal(e) => err = Some(e) }
          })
          worker.start()
          worker.join(timeoutS * 1000L)
          if (worker.isAlive) {
            spark.sparkContext.cancelJobGroup(name)
            worker.join(60000L)
            if (worker.isAlive) {
              // An orphan surviving cancel+grace would run concurrently
              // with later seeds and skew their wall-clock against the
              // same cap — interrupt and wait it out before moving on.
              System.err.println(s"[sqlfuzz] $name WARNING: worker " +
                "survived cancelJobGroup + 60s grace; interrupting and " +
                "blocking until it exits")
              worker.interrupt()
              worker.join()
            }
            skipped += name -> sql
            println(s"[sqlfuzz] $name SKIPPED (exceeded ${timeoutS}s cap)")
          } else err match {
            case Some(e) => throw e
            case None => oracles += name -> sql
          }
        }
      } catch { case scala.util.control.NonFatal(e) =>
        nErr += 1
        System.err.println(s"[sqlfuzz] $name SPARK-ERROR: " +
          s"${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(2).mkString(" | ")}")
        System.err.println(s"[sqlfuzz]   sql: $sql")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracles.map { case (k, v) => s"${jq(k)}: ${jq(v)}" }
        .mkString("{", ",", "}"))
    if (skipped.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/skipped.json"),
        skipped.map { case (k, v) => s"${jq(k)}: ${jq(v)}" }
          .mkString("{", ",", "}"))
    println(s"[sqlfuzz] ran ${n} seeds, $nErr spark-side errors, " +
      s"${skipped.size} skipped over the time cap")
    spark.stop()
    if (nErr > 0) sys.exit(1)
  }
}
