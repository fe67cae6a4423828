package graft.queries

import graft.{CatalogEntry, Tables}

/** Category G — subqueries (SURVEY.md §2.1.G).
  *
  * These run through spark.sql over registered views on purpose: the point
  * is Catalyst's decorrelation — RewritePredicateSubquery turns the
  * correlated EXISTS / IN into left-semi joins, and the scalar subquery
  * becomes a broadcast-joined single-row plan. PlanShapeSpec asserts the
  * semi-join shows up; at 100 TB that rewrite is the difference between a
  * join and a per-row re-scan.
  */
object SubqueryQueries {

  /** Orders above the global average price. The average is computed as
    * exact decimal SUM / COUNT on both sides (never AVG(double) — §2.0.3);
    * the threshold carries enough fractional digits that the strict `>`
    * cannot straddle engine float drift. */
  private val scalarUncorr = CatalogEntry.ansi(
    "subq_scalar_uncorr",
    """SELECT o_orderkey, o_totalprice AS price
      |FROM orders
      |WHERE CAST(o_totalprice AS DECIMAL(18,4)) >
      |      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) / COUNT(*) AS DECIMAL(18,4)) FROM orders)
      |ORDER BY o_orderkey""".stripMargin) { (spark, sfDir) =>
    Tables.register(spark, sfDir, "orders")
    spark.sql(
      """SELECT o_orderkey, o_totalprice AS price
        |FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(18,4)) >
        |      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) / COUNT(*) AS DECIMAL(18,4)) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** TPC-H Q4-shaped correlated EXISTS — Catalyst decorrelates to a
    * left-semi join (asserted in PlanShapeSpec). */
  private val correlatedExists = CatalogEntry.ansi(
    "subq_correlated_exists",
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, sfDir) =>
    Tables.register(spark, sfDir, "orders", "lineitem")
    spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** IN subquery → semi-join. Keys are non-nullable so IN is safe here
    * (on nullable columns the engine's NOT IN three-valued-logic trap
    * applies — that path is covered by join_left_anti's NOT EXISTS). */
  private val inSubquery = CatalogEntry.ansi(
    "subq_in",
    """SELECT p_partkey, p_name
      |FROM part
      |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
      |ORDER BY p_partkey""".stripMargin) { (spark, sfDir) =>
    Tables.register(spark, sfDir, "part", "lineitem")
    spark.sql(
      """SELECT p_partkey, p_name
        |FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
        |ORDER BY p_partkey""".stripMargin)
  }

  /** Correlated SCALAR subquery — the third decorrelation shape after
    * EXISTS and IN: a per-row aggregate lookup. Catalyst rewrites it to a
    * left outer join against the pre-aggregated subquery (customers with
    * no orders keep a NULL max) — at 100 TB that rewrite is ONE shuffle
    * join versus |customer| re-scans of orders. PlanShapeSpec asserts the
    * aggregate+outer-join shape. MAX is order-insensitive, so no decimal
    * laundering is needed on a double column. */
  private val correlatedScalar = CatalogEntry.ansi(
    "subq_correlated_scalar",
    """SELECT c_custkey,
      |       (SELECT MAX(o_totalprice) FROM orders o
      |        WHERE o.o_custkey = c.c_custkey) AS max_price
      |FROM customer c
      |ORDER BY c_custkey""".stripMargin) { (spark, sfDir) =>
    Tables.register(spark, sfDir, "customer", "orders")
    spark.sql(
      """SELECT c_custkey,
        |       (SELECT MAX(o_totalprice) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin)
  }

  /** NOT IN three-valued-logic pin. Three flavors union'd with tags:
    * a null-free NOT IN (rows survive), a NULL-containing NOT IN (MUST
    * return zero rows — `x <> NULL` is unknown, so nothing passes; the
    * empty tag group is the semantic assertion), and IN over the same
    * nullable set (present keys still match). The NULL-containing NOT IN
    * is the plan exercise: Catalyst compiles it to a null-aware anti join
    * instead of a plain anti join — the variant engines get wrong. */
  private val notInNulls = CatalogEntry.ansi(
    "subq_not_in_nulls",
    """SELECT flavor, c_custkey FROM (
      |  SELECT 'clean_not_in' AS flavor, c_custkey FROM customer
      |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
      |  UNION ALL
      |  SELECT 'null_not_in' AS flavor, c_custkey FROM customer
      |  WHERE c_custkey NOT IN (SELECT CASE WHEN o_totalprice > 400000 THEN NULL ELSE o_custkey END
      |                          FROM orders WHERE o_totalprice > 300000)
      |  UNION ALL
      |  SELECT 'null_in' AS flavor, c_custkey FROM customer
      |  WHERE c_custkey IN (SELECT CASE WHEN o_totalprice > 400000 THEN NULL ELSE o_custkey END
      |                      FROM orders WHERE o_totalprice > 300000)
      |) t ORDER BY flavor, c_custkey""".stripMargin) { (spark, sfDir) =>
    Tables.register(spark, sfDir, "customer", "orders")
    spark.sql(
      """SELECT flavor, c_custkey FROM (
        |  SELECT 'clean_not_in' AS flavor, c_custkey FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |  UNION ALL
        |  SELECT 'null_not_in' AS flavor, c_custkey FROM customer
        |  WHERE c_custkey NOT IN (SELECT CASE WHEN o_totalprice > 400000 THEN NULL ELSE o_custkey END
        |                          FROM orders WHERE o_totalprice > 300000)
        |  UNION ALL
        |  SELECT 'null_in' AS flavor, c_custkey FROM customer
        |  WHERE c_custkey IN (SELECT CASE WHEN o_totalprice > 400000 THEN NULL ELSE o_custkey END
        |                      FROM orders WHERE o_totalprice > 300000)
        |) t ORDER BY flavor, c_custkey""".stripMargin)
  }

  /** WITH RECURSIVE ancestor walk over the implicit binary tree on part
    * keys (parent = node div 2) — table-driven recursion, ~⌈log₂ key⌉
    * rounds from each seed, terminating at the root. Spark 4.x executes
    * recursive CTEs as an iterative union-loop plan; integer division is
    * the dialect split (`//` vs `DIV` — `/` would widen to DOUBLE in both
    * engines and diverge the walk). */
  private val recursiveCte = CatalogEntry.dialect(
    "subq_recursive_cte",
    duckdb = """WITH RECURSIVE anc AS (
               |  SELECT p_partkey AS start, p_partkey AS node, 0 AS depth
               |  FROM part WHERE p_partkey BETWEEN 190 AND 199
               |  UNION ALL
               |  SELECT start, node // 2, depth + 1 FROM anc WHERE node > 0
               |)
               |SELECT start, node, CAST(depth AS INTEGER) AS depth
               |FROM anc ORDER BY start, depth""".stripMargin,
    spark = """WITH RECURSIVE anc AS (
              |  SELECT p_partkey AS start, p_partkey AS node, 0 AS depth
              |  FROM part WHERE p_partkey BETWEEN 190 AND 199
              |  UNION ALL
              |  SELECT start, node DIV 2, depth + 1 FROM anc WHERE node > 0
              |)
              |SELECT start, node, CAST(depth AS INTEGER) AS depth
              |FROM anc ORDER BY start, depth""".stripMargin) { (spark, sfDir) =>
    Tables.register(spark, sfDir, "part")
    spark.sql(
      """WITH RECURSIVE anc AS (
        |  SELECT p_partkey AS start, p_partkey AS node, 0 AS depth
        |  FROM part WHERE p_partkey BETWEEN 190 AND 199
        |  UNION ALL
        |  SELECT start, node DIV 2, depth + 1 FROM anc WHERE node > 0
        |)
        |SELECT start, node, CAST(depth AS INTEGER) AS depth
        |FROM anc ORDER BY start, depth""".stripMargin)
  }

  def entries: Seq[CatalogEntry] =
    Seq(scalarUncorr, correlatedExists, inSubquery, correlatedScalar,
      notInNulls, recursiveCte)
}
