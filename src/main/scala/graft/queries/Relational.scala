package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operator surface (SURVEY.md §2.2–§2.6): scans, filters,
  * joins of every shape, aggregations, grouping sets, windows, sorts,
  * limits, set ops, CTEs. Execution is Catalyst's — these queries declare
  * logical plans with the DataFrame API and rely on built-in pushdown /
  * pruning / join selection, mirroring how the reference delegates all
  * relational execution to its vectorized engine
  * (pg_lake_table/src/planner/query_pushdown.c:256-331).
  */
object Relational {

  /** Exact distributed sum of a per-row double expression: cast each row
    * to fixed-scale decimal (bit-identical across engines), sum exactly,
    * return as double. Avoids accumulation-order FP drift vs the oracle.
    */
  private def dsum(e: Column, scale: Int = 4): Column =
    sum(e.cast(s"decimal(28,$scale)")).cast("double")

  /** Fixture measures carry exactly 2 decimals; casting the COLUMN (not a
    * derived product) to decimal is lossless, and all downstream decimal
    * arithmetic is exact — so sums are bit-identical to the oracle.
    */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  private def li(s: SparkSession, dir: String) = Tables.df(s, dir, "lineitem")
  private def ord(s: SparkSession, dir: String) = Tables.df(s, dir, "orders")

  val defs: Seq[QueryDef] = Seq(

    // ---- scan + projection + filter pushdown (§2.1, §2.2) ----
    QueryDef(
      "q_scan_filter",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-02-01'
        |  AND l_quantity BETWEEN 10 AND 20
        |  AND l_returnflag IN ('A','R')
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin) { (s, dir) =>
      li(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1997-02-01").cast("timestamp_ntz")
          && col("l_quantity").between(10, 20)
          && col("l_returnflag").isin("A", "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },

    // ---- TPC-H Q1-shaped aggregation (SURVEY §7 M1 flagship) ----
    QueryDef(
      "q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      li(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - col("l_discount").cast("decimal(4,2)")))
            .cast("double").as("sum_disc_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - col("l_discount").cast("decimal(4,2)"))
            * (lit(1) + col("l_tax").cast("decimal(4,2)"))).cast("double").as("sum_charge"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).cast("double").as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- multi-way join: lineitem⋈orders⋈customer⋈nation⋈region with
    //      broadcast dims (revenue by nation, TPC-H Q5 shaped) ----
    QueryDef(
      "q_join_star",
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name IN ('AMERICA','ASIA')
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin) { (s, dir) =>
      val l = li(s, dir)
      // no join hint: a shuffle_hash hint measured 3.4x slower (0.97 ->
      // 3.29 s) because the SHJ forces a full shuffle of the
      // single-row-group lineitem scan through ONE map task, while the
      // broadcast probe never shuffles lineitem at all. At 100 TB the
      // planner's own estimates pick the strategy.
      val o = ord(s, dir)
      val c = broadcast(Tables.df(s, dir, "customer"))
      val n = broadcast(Tables.df(s, dir, "nation"))
      val r = broadcast(Tables.df(s, dir, "region"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name").isin("AMERICA", "ASIA"))
        .groupBy("n_name")
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - col("l_discount").cast("decimal(4,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("n_name")
    },

    // ---- outer joins ----
    QueryDef(
      "q_join_left",
      """SELECT o_orderkey, o_orderstatus, COUNT(l_orderkey) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS total_qty
        |FROM orders
        |LEFT JOIN lineitem ON o_orderkey = l_orderkey AND l_quantity > 45
        |GROUP BY o_orderkey, o_orderstatus
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val l = li(s, dir)
      ord(s, dir)
        .join(l, col("o_orderkey") === col("l_orderkey") && col("l_quantity") > 45, "left")
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(count(col("l_orderkey")).as("n_lines"),
          dsum(col("l_quantity")).as("total_qty"))
        .orderBy("o_orderkey")
    },

    QueryDef(
      "q_join_full",
      """SELECT COALESCE(a.k, b.k) AS k, a.n_ord, b.n_li
        |FROM (SELECT o_custkey % 97 AS k, COUNT(*) AS n_ord FROM orders GROUP BY 1) a
        |FULL JOIN (SELECT l_partkey % 89 AS k, COUNT(*) AS n_li FROM lineitem GROUP BY 1) b
        |  ON a.k = b.k
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val a = ord(s, dir).groupBy((col("o_custkey") % 97).as("k"))
        .agg(count(lit(1)).as("n_ord"))
      val b = li(s, dir).groupBy((col("l_partkey") % 89).as("k"))
        .agg(count(lit(1)).as("n_li"))
      a.join(b, Seq("k"), "full")
        .select(col("k"), col("n_ord"), col("n_li"))
        .orderBy("k")
    },

    // ---- semi / anti (EXISTS / NOT EXISTS) ----
    QueryDef(
      "q_join_semi",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val l = li(s, dir).filter(col("l_quantity") > 49)
      ord(s, dir)
        .join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    QueryDef(
      "q_join_anti",
      """SELECT o_orderkey, o_orderstatus
        |FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      ord(s, dir)
        .join(li(s, dir), col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    },

    // ---- cross join ----
    QueryDef(
      "q_join_cross",
      """SELECT r.r_name, n.n_name
        |FROM region r CROSS JOIN nation n
        |ORDER BY r.r_name, n.n_name""".stripMargin) { (s, dir) =>
      Tables.df(s, dir, "region").select("r_name")
        .crossJoin(Tables.df(s, dir, "nation").select("n_name"))
        .orderBy("r_name", "n_name")
    },

    // ---- JOIN USING with table aliases (§2.3): the one join shape the
    //      reference can NOT push down (DuckDB alias bug,
    //      query_pushdown.c:699-711) — native and unrestricted here ----
    QueryDef.sql(
      "q_join_using",
      """SELECT t.k, t.o_totalprice, s.qty
        |FROM (SELECT o_orderkey AS k, o_totalprice FROM orders
        |      WHERE o_orderkey < 500) t
        |JOIN (SELECT l_orderkey AS k, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |      FROM lineitem GROUP BY l_orderkey) s USING (k)
        |ORDER BY t.k""".stripMargin,
      oracle =
        """SELECT t.k, t.o_totalprice, s.qty
          |FROM (SELECT o_orderkey AS k, o_totalprice FROM orders
          |      WHERE o_orderkey < 500) t
          |JOIN (SELECT l_orderkey AS k, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |      FROM lineitem GROUP BY l_orderkey) s USING (k)
          |ORDER BY t.k""".stripMargin),

    // ---- set operations (§2.6) ----
    QueryDef(
      "q_setops",
      """(SELECT c_nationkey AS k FROM customer
        | UNION
        | SELECT s_nationkey AS k FROM supplier)
        |INTERSECT
        |(SELECT n_nationkey AS k FROM nation
        | EXCEPT
        | SELECT r_regionkey AS k FROM region)
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val c = Tables.df(s, dir, "customer").select(col("c_nationkey").as("k"))
      val sup = Tables.df(s, dir, "supplier").select(col("s_nationkey").as("k"))
      val n = Tables.df(s, dir, "nation").select(col("n_nationkey").as("k"))
      val r = Tables.df(s, dir, "region").select(col("r_regionkey").as("k"))
      c.union(sup).distinct()
        .intersect(n.except(r))
        .orderBy("k")
    },

    QueryDef(
      "q_union_all",
      """SELECT k, COUNT(*) AS n FROM (
        |  SELECT o_orderstatus AS k FROM orders
        |  UNION ALL
        |  SELECT l_returnflag AS k FROM lineitem) t
        |GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      ord(s, dir).select(col("o_orderstatus").as("k"))
        .unionAll(li(s, dir).select(col("l_returnflag").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    },

    // ---- sort / limit / offset / top-k (§2.6) ----
    QueryDef(
      "q_sort_limit",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 50 OFFSET 10""".stripMargin) { (s, dir) =>
      ord(s, dir)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(10).limit(50)
    },

    // ---- CTE + subquery (§2.6) ----
    QueryDef(
      "q_cte",
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS qty
        |  FROM lineitem GROUP BY l_orderkey
        |), top_cust AS (
        |  SELECT o_custkey, COUNT(*) AS n
        |  FROM orders JOIN big ON o_orderkey = big.l_orderkey
        |  WHERE big.qty > 150 GROUP BY o_custkey
        |)
        |SELECT o_custkey, n FROM top_cust WHERE n >= 2 ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val big = li(s, dir).groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 150)
      ord(s, dir).join(big, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .select("o_custkey", "n")
        .orderBy("o_custkey")
    },

    // ---- scalar subquery ----
    QueryDef(
      "q_scalar_subquery",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val o = ord(s, dir)
      // scalar aggregate joined as a broadcast single-row relation —
      // the distributed equivalent of a scalar subquery
      val avgP = o.agg(avg(col("o_totalprice")).as("avg_price"))
      o.crossJoin(broadcast(avgP))
        .filter(col("o_totalprice") > lit(1.5) * col("avg_price"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ---- LATERAL join (§2.3; reference test_expression_pushdown.py
    // JOIN LATERAL / LATERAL subquery) — correlated subquery in FROM;
    // Catalyst decorrelates it into a join, same text runs on DuckDB
    QueryDef.sql(
      "q_join_lateral",
      """SELECT c.c_custkey, o.cnt, o.max_price
        |FROM customer c,
        |LATERAL (
        |  SELECT count(*) AS cnt, max(o_totalprice) AS max_price
        |  FROM orders WHERE o_custkey = c.c_custkey
        |) o
        |WHERE c.c_custkey < 200
        |ORDER BY c.c_custkey""".stripMargin),

    // ---- schema-inference DDL (§2.8, reference create_table.c:91
    // definition_from/load_from): the judged path creates a MANAGED
    // transactional table from a bare parquet URL — schema from the
    // footer, data loaded in the same command — then queries it; the
    // oracle sees the identical rows through the fixture view
    QueryDef(
      "q_ddl_load_from",
      """SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
      val e = graft.LakeEngine(s)
      val t = e.createTableFrom("q_ddl_nation",
        graft.LakeEngine.tempLocation("q_ddl"), s"$dir/nation.parquet")
      t.read().groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"), min("n_name").as("first_name"))
        .orderBy("n_regionkey")
    },

    // ---- multi-statement transactions (§2.8 r13, reference
    // test_iceberg_in_tx.py / test_iceberg_xacts.py): the judged path
    // drives a REAL transaction over a managed table — staged INSERT +
    // UPDATE, a savepoint whose DELETE is rolled back, a real DELETE,
    // COMMIT, then a second transaction fully ROLLED BACK — and
    // returns the final table state; the oracle reproduces the NET
    // effect as pure SQL over the fixture, so staging, savepoint
    // restore, and rollback visibility are all differentially judged
    QueryDef(
      "q_tx_dml",
      """SELECT n.n_nationkey, n.n_name,
        |  CASE WHEN n.n_nationkey < 3 THEN 99
        |       ELSE n.n_regionkey END AS n_regionkey
        |FROM nation n WHERE n.n_nationkey <> 24
        |UNION ALL
        |SELECT n_nationkey + 100, 'N' || CAST(n_nationkey AS VARCHAR),
        |  n_regionkey
        |FROM nation WHERE n_nationkey < 5
        |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      val e = graft.LakeEngine(s)
      e.createTableFrom("q_tx_nation",
        graft.LakeEngine.tempLocation("q_tx"), s"$dir/nation.parquet")
      e.sql("BEGIN")
      e.sql("INSERT INTO q_tx_nation SELECT n_nationkey + 100, " +
        "concat('N', CAST(n_nationkey AS STRING)), n_regionkey " +
        "FROM q_tx_nation WHERE n_nationkey < 5")
      e.sql("UPDATE q_tx_nation SET n_regionkey = 99 WHERE n_nationkey < 3")
      e.sql("SAVEPOINT sp1")
      e.sql("DELETE FROM q_tx_nation " +
        "WHERE n_nationkey >= 20 AND n_nationkey < 100")
      e.sql("ROLLBACK TO SAVEPOINT sp1")
      e.sql("DELETE FROM q_tx_nation WHERE n_nationkey = 24")
      e.sql("COMMIT")
      e.sql("BEGIN")
      e.sql("UPDATE q_tx_nation SET n_regionkey = -1")
      e.sql("ROLLBACK")
      e.sql("SELECT n_nationkey, n_name, n_regionkey FROM q_tx_nation " +
        "ORDER BY n_nationkey")
    },

    // ---- multi-TABLE transaction (§2.8 r14, reference
    // test_iceberg_xacts.py all-or-nothing cross-table semantics): one
    // transaction writes TWO managed tables with a savepoint straddling
    // both — the rolled-back leg touches both tables, the committed leg
    // touches both tables — then a second two-table transaction is
    // fully rolled back; the oracle reproduces the net state of BOTH
    // tables as pure SQL (UNION ALL with a table tag), so cross-table
    // staging, cross-table savepoint restore, and cross-table rollback
    // are differentially judged, not just spec-pinned
    QueryDef(
      "q_tx_multi",
      """SELECT 'n' AS src, n_nationkey AS k, n_name AS label
        |FROM nation WHERE n_nationkey <> 24
        |UNION ALL
        |SELECT 'n', n_nationkey + 100, 'N' || CAST(n_nationkey AS VARCHAR)
        |FROM nation WHERE n_nationkey < 5
        |UNION ALL
        |SELECT 'r', r_regionkey,
        |  CASE WHEN r_regionkey < 2 THEN r_name || '_v2'
        |       WHEN r_regionkey = 4 THEN 'five' ELSE r_name END
        |FROM region
        |ORDER BY src, k""".stripMargin) { (s, dir) =>
      val e = graft.LakeEngine(s)
      e.createTableFrom("q_txm_n",
        graft.LakeEngine.tempLocation("q_txm_n"), s"$dir/nation.parquet")
      e.createTableFrom("q_txm_r",
        graft.LakeEngine.tempLocation("q_txm_r"), s"$dir/region.parquet")
      e.sql("BEGIN")
      e.sql("INSERT INTO q_txm_n SELECT n_nationkey + 100, " +
        "concat('N', CAST(n_nationkey AS STRING)), n_regionkey " +
        "FROM q_txm_n WHERE n_nationkey < 5")
      e.sql("UPDATE q_txm_r SET r_name = concat(r_name, '_v2') " +
        "WHERE r_regionkey < 2")
      e.sql("SAVEPOINT sp1")
      e.sql("DELETE FROM q_txm_n WHERE n_nationkey >= 10")
      e.sql("UPDATE q_txm_r SET r_name = 'gone'")
      e.sql("ROLLBACK TO SAVEPOINT sp1")
      e.sql("DELETE FROM q_txm_n WHERE n_nationkey = 24")
      e.sql("UPDATE q_txm_r SET r_name = 'five' WHERE r_regionkey = 4")
      e.sql("COMMIT")
      e.sql("BEGIN")
      e.sql("DELETE FROM q_txm_n WHERE n_nationkey < 1000")
      e.sql("UPDATE q_txm_r SET r_name = 'x'")
      e.sql("ROLLBACK")
      e.sql("SELECT 'n' AS src, n_nationkey AS k, n_name AS label " +
        "FROM q_txm_n " +
        "UNION ALL SELECT 'r', r_regionkey, r_name FROM q_txm_r " +
        "ORDER BY src, k")
    },

    // ---- sniffed CSV lake table (§2.1 CSV matrix): rows round-trip
    // through the PG-convention CSV writer, then back through the
    // dialect-sniffing reader with no options given — delimiter, quote,
    // header all detected (reference docs/file-formats-reference.md:51)
    QueryDef(
      "q_csv_sniffed",
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") { (s, dir) =>
      val e = graft.LakeEngine(s)
      val out = java.nio.file.Files.createTempDirectory("q_csv").toString +
        "/region.csv"
      e.copyTo(Tables.df(s, dir, "region").select("r_regionkey", "r_name"),
        out, Map("sep" -> ";"))
      e.createLakeTable("q_csv_sniffed_t", out, format = Some("csv"))
        .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
          col("r_name"))
        .orderBy("r_regionkey")
    },

    // ---- quantified comparison subqueries (§2.2): `op ANY/ALL
    // (SELECT …)` is PG surface the reference's own pushdown tests
    // exercise (test_cte_subquery_pushdown.py:41 correlated `<= ALL`,
    // test_set_operation_pushdown.py:60 `= ANY`); Spark's parser
    // rejects the syntax, so the engine expands it to the standard
    // CASE/EXISTS form (plans/QuantifiedSubqueries) — the DuckDB
    // oracle runs the original text natively, so the expansion's full
    // 3VL (NULL members, empty correlated sets) is differentially
    // judged, not just spec-pinned
    QueryDef.sql(
      "q_quantified_all",
      """SELECT p_brand, p_partkey, p_retailprice,
        |  p_size < ALL (SELECT nullif(p4.p_size, 25) FROM part p4
        |                WHERE p4.p_brand = part.p_brand
        |                  AND p4.p_partkey <> part.p_partkey)
        |    AS smallest_unless_null
        |FROM part
        |WHERE p_retailprice >= ALL (SELECT p2.p_retailprice FROM part p2
        |                            WHERE p2.p_brand = part.p_brand)
        |ORDER BY p_brand, p_partkey""".stripMargin),
    QueryDef.sql(
      "q_quantified_any",
      """SELECT c_custkey, c_acctbal,
        |  c_acctbal < ANY (SELECT s_acctbal FROM supplier s
        |                   WHERE s.s_nationkey = customer.c_nationkey)
        |    AS below_some_supplier,
        |  c_nationkey = ANY (SELECT nullif(s2.s_nationkey, 7)
        |                     FROM supplier s2) AS nation_has_supplier
        |FROM customer
        |WHERE c_custkey <= 300
        |ORDER BY c_custkey""".stripMargin),
    // ---- WITH RECURSIVE (§2.6): PG core surface (the reference's CTE
    // pushdown suite exercises CTE shapes; recursion executes PG-side
    // there). Spark 4 runs recursive CTEs natively — a bounded walk
    // over the nation keyspace, same text on both engines, proves the
    // fixpoint execution differentially (iteration count, cycle
    // revisits, and the aggregate over the whole closure)
    QueryDef.sql(
      "q_recursive_cte",
      """WITH RECURSIVE chain(k, depth) AS (
        |  SELECT CAST(0 AS BIGINT), 0
        |  UNION ALL
        |  SELECT CAST(n.n_nationkey AS BIGINT), c.depth + 1
        |  FROM nation n JOIN chain c ON n.n_nationkey = (c.k * 2 + 1) % 25
        |  WHERE c.depth < 40
        |)
        |SELECT k, MIN(depth) AS first_depth, COUNT(*) AS visits
        |FROM chain GROUP BY k ORDER BY k""".stripMargin),

    // PG's array-quantified form (ScalarArrayOpExpr, shipped verbatim
    // by the reference's deparser): Spark side maps onto 3VL
    // exists()/forall() lambdas, DuckDB runs its native ARRAY[] form —
    // NULL members and computed probes under differential test
    QueryDef.sql(
      "q_quantified_array",
      """SELECT n_nationkey, n_name,
        |  n_regionkey = ANY (array(0, 2, nullif(n_nationkey % 3, 2)))
        |    AS hit_or_unknown,
        |  n_nationkey >= ALL (array(0, n_regionkey * 5)) AS dominates
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,
      oracle = """SELECT n_nationkey, n_name,
        |  n_regionkey = ANY (ARRAY[0, 2, nullif(n_nationkey % 3, 2)])
        |    AS hit_or_unknown,
        |  n_nationkey >= ALL (ARRAY[0, n_regionkey * 5]) AS dominates
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin))
}
