package graft.operators

import graft.{Q, Tables}

/** SQL front-end parity: the reference drives everything from SQL text
  * (Query.sql → DataFusion, flock/src/query.rs:82-103). These entries run
  * the EXACT SAME SQL string through `spark.sql` that the driver runs
  * through DuckDB as the oracle — one query text, two engines, equal
  * hashes. Dialect constraint: the shared text sticks to ANSI (timestamp
  * literals, explicit casts, comma joins, EXTRACT, ||), which both engines
  * parse identically.
  */
object SqlParity {
  private def sql(name: String, text: String): Q =
    Q(name,
      (s, d) => { Tables.registerAll(s, d); s.sql(text) },
      Some(text))

  private val pricing = sql("sql_q01_pricing",
    """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS sum_base_price,
         COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""")

  private val topOrders = sql("sql_q03_top_orders",
    """SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DECIMAL(38,4)) AS revenue
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         AND l_orderkey = o_orderkey
         AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY l_orderkey
       ORDER BY revenue DESC, l_orderkey LIMIT 10""")

  private val orderPriority = sql("sql_q04_order_priority",
    """SELECT o_orderpriority, COUNT(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
       GROUP BY o_orderpriority ORDER BY o_orderpriority""")

  private val volume = sql("sql_q05_volume",
    """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DECIMAL(38,4)) AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY n_name ORDER BY revenue DESC, n_name""")

  private val yearly = sql("sql_q22_yearly",
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
         o_orderstatus || '/' || o_orderpriority AS status_prio,
         COUNT(*) AS n
       FROM orders
       GROUP BY o_year, status_prio
       ORDER BY o_year, status_prio""")

  private val corr = sql("sql_q17_small_qty",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS total_price,
         COUNT(*) AS n
       FROM lineitem, part
       WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
         AND l_quantity < (SELECT 0.2 * SUM(l2.l_quantity) / COUNT(*)
                           FROM lineitem l2
                           WHERE l2.l_partkey = lineitem.l_partkey)""")

  private val custDist = sql("sql_q13_cust_dist",
    """SELECT c_count, COUNT(*) AS custdist FROM (
         SELECT c_custkey, COUNT(o_orderkey) AS c_count
         FROM customer LEFT OUTER JOIN orders
           ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
         GROUP BY c_custkey) t
       GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")

  private val antiJoin = sql("sql_q08_dormant",
    """SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal
       FROM customer
       WHERE c_acctbal > 0
         AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                         AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
       ORDER BY c_custkey""")

  private val inSub = sql("sql_q12_in_parts",
    """SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
         COUNT(*) AS n
       FROM lineitem
       WHERE l_partkey IN (SELECT p_partkey FROM part
                           WHERE p_size >= 40
                             AND p_brand IN ('Brand#11','Brand#22','Brand#33'))
       GROUP BY l_partkey ORDER BY l_partkey""")

  // ---- Verbatim TPC-H texts (reference flock/src/datasource/tpch/queries/
  // q*.sql), adapted ONLY where TESTDATA diverges from TPC-H:
  //   - money math gets the per-row DECIMAL casts from the determinism
  //     rules (both engines run the same adapted text);
  //   - date literals shift into the data's 1995–2001 range;
  //   - n_name values are NATION_0..24 (no FRANCE/GERMANY), p_type is a
  //     single word (no 'ECONOMY ANODIZED STEEL'), brands stop at #25;
  //   - columns TESTDATA lacks are dropped: c_address/c_phone/c_comment
  //     (q10, q22 — cntrycode comes from c_nationkey), s_address/s_phone
  //     (q15), p_container/l_shipmode/l_shipinstruct (q19);
  //   - every ORDER BY gets a unique tiebreak.
  // q2/q9/q11/q16/q20 need `partsupp`, which TESTDATA doesn't ship: they
  // run against the DERIVED partsupp view (Tables.partsuppSpark /
  // partsuppDuck — distinct lineitem key pairs + hash-derived attributes,
  // re-derived independently by BOTH engines so the derivation itself is
  // oracle-checked; the md5→60-bit hash is the native `hash60` kernel,
  // graft.functions.Hash60, on Spark and a hex-prefix cast on DuckDB).
  // Their query text is shared verbatim; only the oracle gets a
  // `WITH partsupp AS (...)` prelude since DuckDB sees raw parquet.
  // q12 and q21 need l_shipmode/l_commitdate/l_receiptdate, which TESTDATA
  // lineitem doesn't carry: they run against the EXTENDED lineitem view
  // (Tables.lineitemExtSpark / lineitemExtDuck — md5-derived shipmode and
  // dbgen-shaped commit/receipt offsets from shipdate, re-derived
  // independently by BOTH engines). With that, all 22 reference query
  // texts carry oracles (q12's sums are CAST to BIGINT in the shared text
  // because DuckDB's SUM over an INTEGER CASE yields HUGEINT → float64 in
  // the driver's reader while Spark yields int64 — r03's one hash miss).

  private val tpchQ6 = sql("sql_tpch_q06",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(38,4)) AS revenue
       FROM lineitem
       WHERE l_shipdate >= DATE '1996-01-01'
         AND l_shipdate < DATE '1997-01-01'
         AND l_discount BETWEEN .06 - 0.01 AND .06 + 0.01
         AND l_quantity < 24""")

  private val tpchQ7 = sql("sql_tpch_q07",
    """SELECT supp_nation, cust_nation, l_year,
         CAST(SUM(volume) AS DECIMAL(38,4)) AS revenue
       FROM (SELECT n1.n_name AS supp_nation,
                    n2.n_name AS cust_nation,
                    CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
                    CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS volume
             FROM supplier, lineitem, orders, customer, nation n1, nation n2
             WHERE s_suppkey = l_suppkey
               AND o_orderkey = l_orderkey
               AND c_custkey = o_custkey
               AND s_nationkey = n1.n_nationkey
               AND c_nationkey = n2.n_nationkey
               AND ((n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11')
                    OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20'))
               AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31')
         AS shipping
       GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year""")

  private val tpchQ8 = sql("sql_tpch_q08",
    """SELECT o_year,
         CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
              / CAST(SUM(volume) AS DOUBLE) AS DECIMAL(18,6)) AS mkt_share
       FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
                    CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS volume,
                    n2.n_name AS nation
             FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
             WHERE p_partkey = l_partkey
               AND s_suppkey = l_suppkey
               AND l_orderkey = o_orderkey
               AND o_custkey = c_custkey
               AND c_nationkey = n1.n_nationkey
               AND n1.n_regionkey = r_regionkey
               AND r_name = 'AMERICA'
               AND s_nationkey = n2.n_nationkey
               AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
               AND p_type = 'ECONOMY') AS all_nations
       GROUP BY o_year
       ORDER BY o_year""")

  private val tpchQ10 = sql("sql_tpch_q10",
    """SELECT c_custkey, c_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DECIMAL(38,4)) AS revenue,
         CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal,
         n_name
       FROM customer, orders, lineitem, nation
       WHERE c_custkey = o_custkey
         AND l_orderkey = o_orderkey
         AND o_orderdate >= DATE '1996-10-01'
         AND o_orderdate < DATE '1997-01-01'
         AND l_returnflag = 'R'
         AND c_nationkey = n_nationkey
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey""")

  private val tpchQ14 = sql("sql_tpch_q14",
    """SELECT CAST(100.00 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
               THEN CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
             AS DECIMAL(18,6)) AS promo_revenue
       FROM lineitem, part
       WHERE l_partkey = p_partkey
         AND l_shipdate >= DATE '1995-09-01'
         AND l_shipdate < DATE '1995-10-01'""")

  private val tpchQ15 = sql("sql_tpch_q15",
    """WITH revenue0 (supplier_no, total_revenue) AS (
         SELECT l_suppkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DECIMAL(38,4))
         FROM lineitem
         WHERE l_shipdate >= DATE '1996-01-01'
           AND l_shipdate < DATE '1996-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, total_revenue
       FROM supplier, revenue0
       WHERE s_suppkey = supplier_no
         AND total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
       ORDER BY s_suppkey""")

  private val tpchQ18 = sql("sql_tpch_q18",
    """SELECT c_name, c_custkey, o_orderkey,
         CAST(o_orderdate AS DATE) AS o_orderdate,
         CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
       FROM customer, orders, lineitem
       WHERE o_orderkey IN (SELECT l_orderkey
                            FROM lineitem
                            GROUP BY l_orderkey
                            HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)
         AND c_custkey = o_custkey
         AND o_orderkey = l_orderkey
       GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       ORDER BY o_totalprice DESC, o_orderdate, o_orderkey""")

  private val tpchQ19 = sql("sql_tpch_q19",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DECIMAL(38,4)) AS revenue,
         COUNT(*) AS n
       FROM lineitem, part
       WHERE (p_partkey = l_partkey
              AND p_brand = 'Brand#12'
              AND l_quantity >= 1 AND l_quantity <= 1 + 10
              AND p_size BETWEEN 1 AND 5)
          OR (p_partkey = l_partkey
              AND p_brand = 'Brand#23'
              AND l_quantity >= 10 AND l_quantity <= 10 + 10
              AND p_size BETWEEN 1 AND 10)
          OR (p_partkey = l_partkey
              AND p_brand = 'Brand#24'
              AND l_quantity >= 20 AND l_quantity <= 20 + 10
              AND p_size BETWEEN 1 AND 15)""")

  // q22 adaptations beyond the column drops: every synthetic customer has
  // at least one order, so "dormant" is date-bounded (no orders since
  // 2000 — same device as q34); the cntrycode IN-list picks nation keys
  // that have dormant, above-average-balance customers at every SF.
  private val tpchQ22 = sql("sql_tpch_q22",
    """SELECT cntrycode,
         COUNT(*) AS numcust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS totacctbal
       FROM (SELECT c_nationkey AS cntrycode, c_acctbal
             FROM customer
             WHERE c_nationkey IN (0, 1, 3, 10, 11, 18, 19)
               AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
                                FROM customer
                                WHERE c_acctbal > 0.00
                                  AND c_nationkey IN (0, 1, 3, 10, 11, 18, 19))
               AND NOT EXISTS (SELECT *
                               FROM orders
                               WHERE o_custkey = c_custkey
                                 AND o_orderdate >= DATE '2000-01-01')) AS custsale
       GROUP BY cntrycode
       ORDER BY cntrycode""")

  /** Same-text entry over the derived partsupp: Spark reads the registered
    * view; the oracle re-derives it in a CTE prelude.
    */
  private def sqlPs(name: String, text: String): Q =
    Q(name,
      (s, d) => { Tables.registerAll(s, d); s.sql(text) },
      Some(s"WITH partsupp AS (${Tables.partsuppDuck})\n$text"))

  /** Same-text entry over the extended lineitem (shipmode + commit/receipt
    * dates): Spark reads the registered view; the oracle re-derives it in
    * a CTE prelude over the raw parquet ({SF} substituted by Verify).
    */
  private def sqlLi(name: String, text: String): Q =
    Q(name,
      (s, d) => { Tables.registerAll(s, d); s.sql(text) },
      Some(s"WITH lineitem AS (${Tables.lineitemExtDuck})\n$text"))

  // Reference flock/src/datasource/tpch/queries/q12.sql — date window
  // shifted into the data's range; derived-column provenance above.
  // CAST(... AS BIGINT) on both sums: DuckDB's SUM over an INTEGER CASE
  // returns HUGEINT (rendered float64 by the driver's fetchdf) while Spark
  // returns int64 — a no-op on Spark that aligns the oracle's dtype.
  private val tpchQ12 = sqlLi("sql_tpch_q12",
    """SELECT l_shipmode,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
                  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
                  THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders, lineitem
       WHERE o_orderkey = l_orderkey
         AND l_shipmode IN ('MAIL', 'SHIP')
         AND l_commitdate < l_receiptdate
         AND l_shipdate < l_commitdate
         AND l_receiptdate >= DATE '1996-01-01'
         AND l_receiptdate < DATE '1997-01-01'
       GROUP BY l_shipmode
       ORDER BY l_shipmode""")

  // Reference q21.sql — nation adapted to the NATION_x naming; the
  // multi-supplier EXISTS pair runs unchanged over the derived dates.
  private val tpchQ21 = sqlLi("sql_tpch_q21",
    """SELECT s_name, COUNT(*) AS numwait
       FROM supplier, lineitem l1, orders, nation
       WHERE s_suppkey = l1.l_suppkey
         AND o_orderkey = l1.l_orderkey
         AND o_orderstatus = 'F'
         AND l1.l_receiptdate > l1.l_commitdate
         AND EXISTS (SELECT * FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT * FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey
                           AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_receiptdate > l3.l_commitdate)
         AND s_nationkey = n_nationkey
         AND n_name = 'NATION_3'
       GROUP BY s_name
       ORDER BY numwait DESC, s_name LIMIT 100""")

  // Adaptations beyond the shared list: p_type is a single word (= /<>
  // instead of LIKE '%BRASS' / NOT LIKE 'MEDIUM POLISHED%'), p_name colors
  // ('red%' for q9/q20's '%green%'), and q16's s_comment
  // '%Customer%Complaints%' filter becomes s_acctbal < 0 (the only
  // supplier-disqualifying attribute TESTDATA carries).

  private val tpchQ2 = sqlPs("sql_tpch_q02",
    """SELECT CAST(s_acctbal AS DECIMAL(12,2)) AS s_acctbal, s_name, n_name,
         p_partkey, ps_supplycost
       FROM part, supplier, partsupp, nation, region
       WHERE p_partkey = ps_partkey
         AND s_suppkey = ps_suppkey
         AND p_size = 15
         AND p_type = 'STANDARD'
         AND s_nationkey = n_nationkey
         AND n_regionkey = r_regionkey
         AND r_name = 'EUROPE'
         AND ps_supplycost = (SELECT MIN(ps_supplycost)
                              FROM partsupp, supplier, nation, region
                              WHERE p_partkey = ps_partkey
                                AND s_suppkey = ps_suppkey
                                AND s_nationkey = n_nationkey
                                AND n_regionkey = r_regionkey
                                AND r_name = 'EUROPE')
       ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""")

  private val tpchQ9 = sqlPs("sql_tpch_q09",
    """SELECT nation, o_year, CAST(SUM(amount) AS DECIMAL(38,4)) AS sum_profit
       FROM (SELECT n_name AS nation,
                    CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
                    CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
                      - ps_supplycost * CAST(l_quantity AS BIGINT) AS amount
             FROM part, supplier, lineitem, partsupp, orders, nation
             WHERE s_suppkey = l_suppkey
               AND ps_suppkey = l_suppkey
               AND ps_partkey = l_partkey
               AND p_partkey = l_partkey
               AND o_orderkey = l_orderkey
               AND s_nationkey = n_nationkey
               AND p_name LIKE 'red%') AS profit
       GROUP BY nation, o_year
       ORDER BY nation, o_year DESC""")

  private val tpchQ11 = sqlPs("sql_tpch_q11",
    """SELECT ps_partkey,
         CAST(SUM(ps_supplycost * ps_availqty) AS DECIMAL(38,2)) AS value
       FROM partsupp, supplier, nation
       WHERE ps_suppkey = s_suppkey
         AND s_nationkey = n_nationkey
         AND n_name = 'NATION_7'
       GROUP BY ps_partkey
       HAVING CAST(SUM(ps_supplycost * ps_availqty) AS DOUBLE) >
         (SELECT CAST(SUM(ps_supplycost * ps_availqty) AS DOUBLE) * 0.0001
          FROM partsupp, supplier, nation
          WHERE ps_suppkey = s_suppkey
            AND s_nationkey = n_nationkey
            AND n_name = 'NATION_7')
       ORDER BY value DESC, ps_partkey""")

  private val tpchQ16 = sqlPs("sql_tpch_q16",
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
       FROM partsupp, part
       WHERE p_partkey = ps_partkey
         AND p_brand <> 'Brand#13'
         AND p_type <> 'MEDIUM'
         AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
         AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")

  private val tpchQ20 = sqlPs("sql_tpch_q20",
    """SELECT s_name, s_suppkey
       FROM supplier, nation
       WHERE s_suppkey IN (
           SELECT ps_suppkey FROM partsupp
           WHERE ps_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE 'red%')
             AND ps_availqty > (SELECT 0.5 * SUM(CAST(l_quantity AS BIGINT))
                                FROM lineitem
                                WHERE l_partkey = ps_partkey
                                  AND l_suppkey = ps_suppkey
                                  AND l_shipdate >= DATE '1996-01-01'
                                  AND l_shipdate < DATE '1997-01-01'))
         AND s_nationkey = n_nationkey
         AND n_name = 'NATION_3'
       ORDER BY s_name, s_suppkey""")

  val all: Seq[Q] = Seq(pricing, topOrders, orderPriority, volume, yearly,
    corr, custDist, antiJoin, inSub,
    tpchQ2, tpchQ6, tpchQ7, tpchQ8, tpchQ9, tpchQ10, tpchQ11, tpchQ12,
    tpchQ14, tpchQ15, tpchQ16, tpchQ18, tpchQ19, tpchQ20, tpchQ21, tpchQ22)
}
