package graft.queries

import graft.{CatalogEntry, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Util._

/** Category D — aggregation (SURVEY.md §2.1.D).
  *
  * Scale notes: all group-bys here are low-cardinality keys over the fact
  * tables, i.e. the textbook partial-agg (map-side combine) → shuffle →
  * final-agg shape. At 100 TB the shuffle carries only |groups| × partitions
  * rows, so these stay cheap regardless of input size. The distinct-agg
  * entries expand to a two-phase plan (per-key dedup shuffle, then final);
  * grouping-sets/rollup/cube expand the input once per grouping, which is
  * fine for low-cardinality keys but would be replaced by partial rollup
  * at extreme scale.
  */
object AggQueries {

  /** Flagship: TPC-H-Q1-shaped pricing summary (also SparkEntry.entry). */
  val pricingSummary: CatalogEntry = CatalogEntry.ansi(
    "agg_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |       CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))), 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |       CAST(SUM(CAST(ROUND(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))), 4) AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4))), 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_charge,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, sfDir) =>
    val one = lit(1).cast(DecT)
    val li = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .withColumn("qty",   dec(col("l_quantity")))
      .withColumn("price", dec(col("l_extendedprice")))
      .withColumn("disc",  dec(col("l_discount")))
      .withColumn("tax",   dec(col("l_tax")))
      .withColumn("disc_price", dec(col("price") * (one - col("disc"))))
      .withColumn("charge",     dec(col("disc_price") * (one + col("tax"))))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decOut(sum(col("qty"))).as("sum_qty"),
        decOut(sum(col("price"))).as("sum_base_price"),
        decOut(sum(col("disc_price"))).as("sum_disc_price"),
        decOut(sum(col("charge"))).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Exact COUNT(DISTINCT): expands to the two-phase dedup-then-count plan. */
  private val countDistinctExact = CatalogEntry.ansi(
    "agg_count_distinct",
    """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (spark, sfDir) =>
      Tables.lineitem(spark, sfDir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
  }

  /** Two distinct aggs + a plain agg in one group-by (Expand-based plan). */
  private val multiDistinct = CatalogEntry.ansi(
    "agg_multi_distinct",
    """SELECT l_returnflag,
      |       COUNT(DISTINCT l_suppkey) AS n_supp,
      |       COUNT(DISTINCT l_partkey) AS n_part,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (spark, sfDir) =>
      Tables.lineitem(spark, sfDir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          decOut(sum(dec(col("l_quantity")))).as("sum_qty"))
        .orderBy(col("l_returnflag"))
  }

  /** HLL sketch distinct (Redshift APPROXIMATE COUNT DISTINCT analog).
    * No oracle — sketches differ per engine; property-tested within 5% of
    * exact in AggSpec. At 100 TB this is the only affordable distinct. */
  private val approxHll = CatalogEntry.noOracle("agg_approx_hll") { (spark, sfDir) =>
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .orderBy(col("l_returnflag"))
  }

  /** HLL SKETCH AS A VALUE — the Redshift HLLSKETCH / hll_combine surface,
    * distinct from agg_approx_hll's direct estimate: here the sketch itself
    * is materialized per group (`hll_sketch_agg`, Apache DataSketches HLL),
    * then MERGED across groups (`hll_union_agg`) and only then estimated.
    * That mergeability is the semantics under test — it is what makes
    * pre-aggregated rollups work at 100 TB: store a per-partition/day
    * sketch (a few KB), answer any coarser distinct by register-max union,
    * never rescan. Union IS sketch-of-union exactly (HLL registers are
    * max-of-hashes, so merge is associative/commutative/idempotent —
    * SketchSpec pins estimate(union(per-nation)) == estimate(direct whole
    * table) as EXACT equality, plus ±5%-of-exact per group). Deterministic:
    * register maxima are order-independent, so the estimate is a pure
    * function of the value set. No oracle — DuckDB's approx_distinct is a
    * different HLL implementation; driver does the rows-only check. The
    * sketch BINARY never reaches the output (engine-internal, like
    * DECIMAL/MAP — §2.0 physical-type rules). */
  private val hllSketchUnion = CatalogEntry.noOracle("agg_hll_sketch_union") { (spark, sfDir) =>
    val per = Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey"))
      .agg(hll_sketch_agg(col("c_custkey")).as("sk"),
        countDistinct(col("c_custkey")).as("exact"))
    val perOut = per.select(
      concat(lit("nation_"), lpad(col("c_nationkey").cast("string"), 2, "0")).as("scope"),
      hll_sketch_estimate(col("sk")).as("est"),
      col("exact"))
    // customers partition by nation, so the global exact distinct is the sum
    val allOut = per
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
        sum(col("exact")).as("exact"))
      .select(lit("ALL").as("scope"), col("est"), col("exact"))
    perOut.unionByName(allOut).orderBy(col("scope"))
  }

  /** GROUPING SETS with grouping() indicators (cast INT both sides so the
    * physical type matches — Spark grouping() is TINYINT). */
  private val groupingSets = CatalogEntry.ansi(
    "agg_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
      |       CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |       COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
    (spark, sfDir) =>
      Tables.register(spark, sfDir, "lineitem")
      spark.sql(
        """SELECT l_returnflag, l_linestatus,
          |       CAST(grouping(l_returnflag) AS INT) AS g_flag,
          |       CAST(grouping(l_linestatus) AS INT) AS g_status,
          |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
          |       COUNT(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  }

  /** ROLLUP subtotal tree over the region→nation dim hierarchy. */
  private val rollupTree = CatalogEntry.ansi(
    "agg_rollup",
    """SELECT r_name, n_name, COUNT(*) AS n_cust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (spark, sfDir) =>
    Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), decOut(sum(dec(col("c_acctbal")))).as("sum_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** CUBE over the two lineitem status dims. */
  private val cubeFlags = CatalogEntry.ansi(
    "agg_cube",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
    (spark, sfDir) =>
      Tables.lineitem(spark, sfDir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), decOut(sum(dec(col("l_quantity")))).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Post-aggregation filter (HAVING). */
  private val havingFilter = CatalogEntry.ansi(
    "agg_having",
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY o_custkey
      |HAVING SUM(CAST(o_totalprice AS DECIMAL(18,4))) > 1500000
      |ORDER BY o_custkey""".stripMargin) { (spark, sfDir) =>
    Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(dec(col("o_totalprice"))).as("total_raw"))
      .where(col("total_raw") > 1500000)
      .select(col("o_custkey"), col("n_orders"), decOut(col("total_raw")).as("total"))
      .orderBy(col("o_custkey"))
  }

  /** Conditional aggregation — FILTER (WHERE …) ↔ sum(when(p, x)). */
  private val filteredAgg = CatalogEntry.dialect(
    "agg_filtered",
    duckdb = """SELECT l_returnflag,
               |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_highdisc,
               |       COUNT(*) FILTER (WHERE l_tax = 0) AS n_notax,
               |       COUNT(*) AS n
               |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    spark = """SELECT l_returnflag,
              |       CAST(SUM(CASE WHEN l_discount > 0.05 THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_highdisc,
              |       COUNT(CASE WHEN l_tax = 0 THEN 1 END) AS n_notax,
              |       COUNT(*) AS n
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (spark, sfDir) =>
      Tables.lineitem(spark, sfDir)
        .groupBy(col("l_returnflag"))
        .agg(
          decOut(sum(when(col("l_discount") > 0.05, dec(col("l_quantity"))))).as("qty_highdisc"),
          count(when(col("l_tax") === 0, 1)).as("n_notax"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
  }

  /** Statistical aggregates. Price scaled /1000 so the variance magnitude
    * keeps ROUND(…,4) safely above cross-engine float-merge drift. */
  private val statsAgg = CatalogEntry.ansi(
    "agg_stats",
    """SELECT l_returnflag,
      |       ROUND(stddev_samp(l_extendedprice / 1000), 4) AS sd_price,
      |       ROUND(var_samp(l_extendedprice / 1000), 4) AS var_price,
      |       ROUND(corr(l_extendedprice, l_quantity), 4) AS corr_pq,
      |       ROUND(covar_samp(l_extendedprice / 1000, l_quantity), 4) AS cov_pq
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (spark, sfDir) =>
      val p = col("l_extendedprice") / 1000
      Tables.lineitem(spark, sfDir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(p), 4).as("sd_price"),
          round(var_samp(p), 4).as("var_price"),
          round(corr(col("l_extendedprice"), col("l_quantity")), 4).as("corr_pq"),
          round(covar_samp(p, col("l_quantity")), 4).as("cov_pq"))
        .orderBy(col("l_returnflag"))
  }

  /** Deterministic list agg: per-nation sorted supplier roster, joined to a
    * string so the compare sees a flat column (array hashing is
    * engine-specific). */
  private val collectSorted = CatalogEntry.dialect(
    "agg_collect_sorted",
    duckdb = """SELECT n_name, array_to_string(list_sort(list(s_name)), ',') AS suppliers
               |FROM supplier JOIN nation ON s_nationkey = n_nationkey
               |GROUP BY n_name ORDER BY n_name""".stripMargin,
    spark = """SELECT n_name, array_join(sort_array(collect_list(s_name)), ',') AS suppliers
              |FROM supplier JOIN nation ON s_nationkey = n_nationkey
              |GROUP BY n_name ORDER BY n_name""".stripMargin) { (spark, sfDir) =>
    Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(array_join(sort_array(collect_list(col("s_name"))), ",").as("suppliers"))
      .orderBy(col("n_name"))
  }

  /** Exact interpolating percentiles (not approx — approx sketches differ
    * per engine). Both engines linear-interpolate over sorted doubles. */
  private val percentileExact = CatalogEntry.dialect(
    "agg_percentile_exact",
    duckdb = """SELECT o_orderstatus,
               |       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS median_price,
               |       ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90_price
               |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    spark = """SELECT o_orderstatus,
              |       ROUND(percentile(o_totalprice, 0.5), 4) AS median_price,
              |       ROUND(percentile(o_totalprice, 0.9), 4) AS p90_price
              |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
    (spark, sfDir) =>
      Tables.orders(spark, sfDir)
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_price"))
        .orderBy(col("o_orderstatus"))
  }

  /** Redshift APPROXIMATE PERCENTILE_DISC analog — Spark's built-in
    * `approx_percentile` (Greenwald–Khanna sketch): mergeable partial
    * aggregation with bounded state, the 100-TB twin of the exact
    * `percentile()` entries (which buffer every group member). No oracle
    * by design — GK retention is engine-specific — but the guarantee IS
    * testable: returned values sit within rank error n/accuracy of the
    * requested quantile, pinned against the exact sort in SketchSpec
    * (mirroring agg_approx_hll's HLL error-bound pattern).
    *
    * Output is LONG-FORM (o_orderstatus, q, value) — the quantile array is
    * posexploded to rows because the driver's pandas compare cannot hash an
    * ARRAY column even on the no-oracle path (r10 crash; same flat-output
    * rule the round-1 DECIMAL/tz incident set for dtypes: declared outputs
    * are scalar columns only). `q` is the requested quantile itself (exact
    * two-decimal doubles), mirroring how vec_centroid_per_label long-forms
    * its vectors. */
  private val approxPctl = CatalogEntry.noOracle("agg_approx_pctl") { (spark, sfDir) =>
    val probs = Seq(0.25, 0.5, 0.75, 0.95)
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"))
      .agg(expr(
        "approx_percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.95), 10000)")
        .as("pctls"))
      .select(col("o_orderstatus"), posexplode(col("pctls")).as(Seq("q_idx", "value")))
      .select(col("o_orderstatus"),
        element_at(typedLit(probs), col("q_idx") + 1).as("q"), col("value"))
      .orderBy(col("o_orderstatus"), col("q"))
  }

  /** Argmax/argmin — highest/lowest-value event per user, tie-broken to the
    * smallest event_id. Duplicate values DO occur per user, and neither
    * engine's arg_min/max_by defines a tie order — so ties are collapsed
    * first (one row per (user, value), keeping min event_id), which makes
    * the comparand unique within each user and the pick total. */
  private val minMaxBy = CatalogEntry.dialect(
    "agg_min_max_by",
    duckdb = """WITH c AS (
               |  SELECT user_id, value, min(event_id) AS eid
               |  FROM events GROUP BY user_id, value
               |)
               |SELECT user_id,
               |       arg_max(eid, value) AS top_event,
               |       arg_min(eid, value) AS bottom_event,
               |       ROUND(max(value), 4) AS max_val
               |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,
    spark = """WITH c AS (
              |  SELECT user_id, value, min(event_id) AS eid
              |  FROM events GROUP BY user_id, value
              |)
              |SELECT user_id,
              |       max_by(eid, value) AS top_event,
              |       min_by(eid, value) AS bottom_event,
              |       ROUND(max(value), 4) AS max_val
              |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, sfDir) =>
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("value"))
      .agg(min(col("event_id")).as("eid"))
      .groupBy(col("user_id"))
      .agg(
        max_by(col("eid"), col("value")).as("top_event"),
        min_by(col("eid"), col("value")).as("bottom_event"),
        round(max(col("value")), 4).as("max_val"))
      .orderBy(col("user_id"))
  }

  /** Salted two-phase aggregation — the hot-key mitigation. Phase 1
    * groups on (key, salt) so a skewed key's rows spread over 16 reducers;
    * phase 2 merges the 16 partials. Decimal addition is associative, so
    * the result is bit-identical to the direct group-by — which is exactly
    * what the oracle states (the salt is plan, not semantics). AQE's
    * skew handling does this automatically for joins; for extreme
    * aggregation skew the explicit salt is still the portable answer. */
  private val saltedSkewAgg = CatalogEntry.ansi(
    "agg_salted_skew",
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(dec(col("value"))).as("psum"))
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"), decOut(sum(col("psum"))).as("sum_val"))
        .orderBy(col("event_type"))
  }

  /** Mergeable HLL sketches (Redshift HLLSKETCH analog, Spark's
    * DataSketches functions): build one sketch per (flag, status) cell,
    * then union the cells per flag — the two-level rollup a 100 TB
    * pipeline does when per-partition sketches are merged downstream
    * without rescanning data. No oracle (sketch bytes are
    * engine-specific); accuracy property-tested in PropertySpec. */
  private val hllSketchMerge = CatalogEntry.noOracle("agg_hll_sketch_merge") {
    (spark, sfDir) =>
      Tables.lineitem(spark, sfDir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(hll_sketch_agg(col("l_partkey")).as("sketch"))
        .groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_parts"))
        .orderBy(col("l_returnflag"))
  }

  /** Deterministic hash-sampled quantiles: exact percentile over a ~1/8
    * hash-selected subset of rows. At 100 TB you cannot sort the column;
    * you CAN hash-sample it reproducibly (no rand(), so reruns and
    * retried tasks agree) and take exact quantiles of the sample. Error
    * vs the full-data percentile is property-tested. No oracle (xxhash64
    * sampling isn't DuckDB-reproducible). */
  private val sampledQuantiles = CatalogEntry.noOracle("agg_sampled_quantiles") {
    (spark, sfDir) =>
      Tables.orders(spark, sfDir)
        .where(pmod(xxhash64(col("o_orderkey")), lit(8)) === 0)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_sampled"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_est"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_est"))
        .orderBy(col("o_orderstatus"))
  }

  /** Mergeable KLL-style quantile sketches (VERDICT r2 #7): build one
    * sketch per (flag, status) cell with the custom
    * `TypedImperativeAggregate` ([[graft.functions.KllSketchAgg]]), then
    * UNION THE SKETCHES per flag — quantiles of the coarse rollup come
    * from merging the fine sketches, no raw-data rescan. This is the
    * re-aggregation story `agg_sampled_quantiles` cannot tell, and the
    * exact analog of the HLL entry for quantiles.
    *
    * Determinism: compactor sketches are update/merge-order-sensitive, so
    * the entry pins the topology — repartition to one partition per group
    * + sortWithinPartitions on a unique key makes both aggregation levels
    * process rows in a fixed order (the group lives in exactly one
    * partition, so the final merge sees a single partial). With 6 cells
    * that costs nothing here; at 100 TB you pin only when
    * bit-reproducibility is required — the ERROR BOUND (SketchSpec) holds
    * for any topology, reproducibility needs a fixed one. */
  private val kllQuantiles = CatalogEntry.noOracle("agg_kll_quantiles") {
    (spark, sfDir) =>
      graft.functions.SketchFunctions.ensureRegistered(spark)
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_extendedprice").cast("double").as("price"),
          col("l_orderkey"), col("l_linenumber"))
      val cellSketches = li
        .repartition(col("l_returnflag"), col("l_linestatus"))
        .sortWithinPartitions(col("l_returnflag"), col("l_linestatus"),
          col("l_orderkey"), col("l_linenumber"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(expr("kll_sketch_agg(price, 256)").as("sk"))
      cellSketches
        .repartition(col("l_returnflag"))
        .sortWithinPartitions(col("l_returnflag"), col("l_linestatus"))
        .groupBy(col("l_returnflag"))
        .agg(expr("kll_merge_agg(sk, 256)").as("merged"))
        .select(col("l_returnflag"),
          round(expr("kll_quantile(merged, 0.5)"), 4).as("p50_est"),
          round(expr("kll_quantile(merged, 0.9)"), 4).as("p90_est"),
          round(expr("kll_quantile(merged, 0.99)"), 4).as("p99_est"))
        .orderBy(col("l_returnflag"))
  }

  /** Deterministic MODE per group: the most frequent ship month with its
    * frequency, tie-broken to the smallest month. Spark's built-in
    * `mode()` is tie-nondeterministic, so the entry states the
    * deterministic decomposition instead — count per (group, value),
    * then a rank-1 window with an explicit total order. Two partial-agg
    * shuffles on (group, value) keys; the window partition carries at
    * most |distinct values| rows per group, so no skew at any scale. */
  private val modeFreq = CatalogEntry.ansi(
    "agg_mode_freq",
    """WITH c AS (
      |  SELECT l_returnflag, CAST(month(l_shipdate) AS BIGINT) AS m,
      |         CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY l_returnflag, month(l_shipdate)
      |), r AS (
      |  SELECT l_returnflag, m, cnt,
      |         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cnt DESC, m) AS rn
      |  FROM c
      |)
      |SELECT l_returnflag, m AS mode_month, cnt AS n
      |FROM r WHERE rn = 1
      |ORDER BY l_returnflag""".stripMargin) { (spark, sfDir) =>
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("m"))
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), month(col("l_shipdate")).cast("long").as("m"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("l_returnflag"), col("m").as("mode_month"), col("cnt").as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Mergeable approx-top-k (heavy hitters) via the custom Misra–Gries
    * `TypedImperativeAggregate` ([[graft.functions.TopKSketchAgg]]): build
    * one counter summary per (month, user-bucket) cell, MERGE THE SUMMARIES
    * per month, read the top-3 event types off the merged summary. The
    * frequent-items analog of the HLL/KLL entries — at 100 TB "top
    * tokens/URLs" ships `capacity` counters per cell up the rollup tree,
    * not the full key space through a shuffle. ORACLE-CHECKABLE because
    * this regime is exact: 5 distinct event types < capacity 32 means no
    * Misra–Gries decrement ever fires, in any partial or merge, so counts
    * equal plain GROUP BY counts (the approximation guarantee for the
    * over-capacity regime is property-tested in SketchSpec). */
  private val topkSketch = CatalogEntry.ansi(
    "agg_topk_sketch",
    """WITH c AS (
      |  SELECT CAST(year(ts) * 100 + month(ts) AS BIGINT) AS ym, event_type,
      |         CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY year(ts) * 100 + month(ts), event_type
      |), r AS (
      |  SELECT ym, event_type, cnt,
      |         ROW_NUMBER() OVER (PARTITION BY ym ORDER BY cnt DESC, event_type) AS rn
      |  FROM c
      |)
      |SELECT ym, event_type AS key, cnt
      |FROM r WHERE rn <= 3
      |ORDER BY ym, cnt DESC, key""".stripMargin) { (spark, sfDir) =>
    graft.functions.SketchFunctions.ensureRegistered(spark)
    Tables.events(spark, sfDir)
      .withColumn("ym", (year(col("ts")) * 100 + month(col("ts"))).cast("long"))
      .groupBy(col("ym"), pmod(col("user_id"), lit(8)).as("bucket"))
      .agg(expr("topk_sketch_agg(event_type, 32)").as("sk"))
      .groupBy(col("ym"))
      .agg(expr("topk_merge_agg(sk, 32)").as("merged"))
      .select(col("ym"), expr("inline(topk_extract(merged, 3))"))
      .orderBy(col("ym"), col("cnt").desc, col("key"))
  }

  /** Fixed-width histogram: bucket index from portable arithmetic
    * (floor-divide + clamp — width_bucket spellings differ across
    * engines), one partial-agg shuffle of |buckets| rows. The per-group
    * distribution profile every data-quality dashboard wants; at 100 TB
    * it is exactly as cheap as a COUNT(*) GROUP BY. */
  private val histogramFixed = CatalogEntry.ansi(
    "agg_histogram_fixed",
    """SELECT CAST(LEAST(FLOOR(o_totalprice / 60000.0), 9) AS BIGINT) AS bucket,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
      |       CAST(MAX(o_totalprice) AS DOUBLE) AS hi
      |FROM orders
      |GROUP BY LEAST(FLOOR(o_totalprice / 60000.0), 9)
      |ORDER BY bucket""".stripMargin) { (spark, sfDir) =>
    Tables.orders(spark, sfDir)
      .groupBy(least(floor(col("o_totalprice") / 60000.0), lit(9))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).cast("double").as("lo"),
        max(col("o_totalprice")).cast("double").as("hi"))
      .orderBy(col("bucket"))
  }

  /** Count-Min point-frequency sketch, built per user-bucket and MERGED up
    * (`functions/CountMinSketch.scala`) — completes the mergeable-summary
    * family (HLL distinct / KLL quantiles / MG heavy-hitters / CMS point
    * counts). Like `agg_topk_sketch`, the catalog instance sits in a
    * deterministically EXACT regime: the 5 event-type strings hash (fixed
    * MurmurHash3 row seeds) without full-row collisions at width 256, so
    * every min-over-rows estimate equals the true count and the plain
    * GROUP BY oracle applies; the ε-overcount bound and merge-topology
    * invariance of the general regime are property-tested in SketchSpec. */
  private val cmsFreq = CatalogEntry.ansi(
    "agg_cms_freq",
    """SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS est
      |FROM events GROUP BY event_type ORDER BY key""".stripMargin) { (spark, sfDir) =>
    graft.functions.SketchFunctions.ensureRegistered(spark)
    val ev = Tables.events(spark, sfDir)
    val global = ev
      .groupBy(pmod(col("user_id"), lit(8)).as("bucket"))
      .agg(expr("cms_sketch_agg(event_type, 256)").as("sk"))
      .agg(expr("cms_merge_agg(sk, 256)").as("merged"))
    ev.select(col("event_type").as("key")).distinct()
      .crossJoin(broadcast(global))
      .select(col("key"), expr("cms_estimate(merged, key)").as("est"))
      .orderBy(col("key"))
  }

  /** Theta-sketch audience overlap (`functions/ThetaSketch.scala`) — the
    * set-operation sketch: distinct viewers, distinct purchasers, their
    * INTERSECTION and UNION, all off two mergeable sketches with no
    * user-level join. At 100 TB this is the "did A and B" query that a
    * COUNT(DISTINCT)-after-join cannot afford; sketches build per
    * partition and merge in any topology. lgK=15 (32k entries) keeps every
    * bench SF below saturation, where theta retains ALL hashes and the
    * estimates are EXACT and deterministic — hence the plain set-algebra
    * oracle; estimation-mode error is property-tested in SketchSpec. */
  private val thetaSets = CatalogEntry.ansi(
    "agg_theta_sets",
    """SELECT
      |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |   WHERE event_type = 'view') AS view_users,
      |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |   WHERE event_type = 'purchase') AS purchase_users,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
      |     SELECT user_id FROM events WHERE event_type = 'view'
      |     INTERSECT
      |     SELECT user_id FROM events WHERE event_type = 'purchase')) AS both_users,
      |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |   WHERE event_type IN ('view', 'purchase')) AS either_users""".stripMargin) {
    (spark, sfDir) =>
    graft.functions.SketchFunctions.ensureRegistered(spark)
    val sk = Tables.events(spark, sfDir)
      .where(col("event_type").isin("view", "purchase"))
      .groupBy(col("event_type"))
      .agg(expr("theta_sketch_agg(user_id, 15)").as("sk"))
    val v = sk.where(col("event_type") === "view").select(col("sk").as("sk_v"))
    val p = sk.where(col("event_type") === "purchase").select(col("sk").as("sk_p"))
    v.crossJoin(p).select(
      expr("theta_estimate(sk_v)").as("view_users"),
      expr("theta_estimate(sk_p)").as("purchase_users"),
      expr("theta_intersect_estimate(sk_v, sk_p)").as("both_users"),
      expr("theta_union_estimate(sk_v, sk_p)").as("either_users"))
  }

  /** LISTAGG / string_agg — the Redshift report-formatting staple: ordered,
    * delimited member list per group. Spark has no ordered string_agg, so
    * the engine composes array_join(sort_array(collect_list(...))) — the
    * explicit ORDER BY inside the aggregate is what makes the result
    * deterministic on both engines. Group payload is bounded by the group's
    * member count; at 100 TB LISTAGG over an unbounded group is a bug in
    * the QUERY, not the engine (cap with a windowed top-N first). */
  private val stringConcat = CatalogEntry.dialect(
    "agg_string_concat",
    duckdb = """SELECT c_nationkey,
               |       CAST(COUNT(*) AS BIGINT) AS n,
               |       string_agg(c_name, ',' ORDER BY c_name) AS members
               |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    spark = """SELECT c_nationkey,
              |       COUNT(*) AS n,
              |       array_join(sort_array(collect_list(c_name)), ',') AS members
              |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) {
    (spark, sfDir) =>
    Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        array_join(sort_array(collect_list(col("c_name"))), ",").as("members"))
      .orderBy(col("c_nationkey"))
  }

  /** Shannon entropy of each group's event-type distribution — the
    * data-quality "is this segment degenerate" probe (entropy 0 = one
    * event type; ln(5) ≈ 1.609 = uniform over the 5 types). Two keyed
    * aggregations, integer counts until the final ln. The per-group sum
    * folds a type-SORTED list on the Spark side (§2.0.3 float-sum rule);
    * ln agreement at round(…,4) is the accepted `text_idf_topterms`
    * class. */
  private val entropyAgg = CatalogEntry.dialect(
    "agg_entropy",
    duckdb = """WITH c AS (
               |  SELECT user_id % 10 AS g, event_type, COUNT(*) AS c
               |  FROM events GROUP BY user_id % 10, event_type
               |), t AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY g)
               |SELECT c.g, t.n,
               |       ROUND(-SUM((c.c * CAST(1.0 AS DOUBLE) / t.n)
               |                  * ln(c.c * CAST(1.0 AS DOUBLE) / t.n)), 4) AS entropy
               |FROM c JOIN t USING (g)
               |GROUP BY c.g, t.n ORDER BY c.g""".stripMargin,
    spark = """WITH c AS (
              |  SELECT user_id % 10 AS g, event_type, COUNT(*) AS c
              |  FROM events GROUP BY user_id % 10, event_type
              |), t AS (SELECT g, SUM(c) AS n FROM c GROUP BY g)
              |SELECT c.g, t.n,
              |       ROUND(-SUM((c.c * CAST(1.0 AS DOUBLE) / t.n)
              |                  * ln(c.c * CAST(1.0 AS DOUBLE) / t.n)), 4) AS entropy
              |FROM c JOIN t USING (g)
              |GROUP BY c.g, t.n ORDER BY c.g""".stripMargin) { (spark, sfDir) =>
    val c = Tables.events(spark, sfDir)
      .groupBy((col("user_id") % 10).as("g"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val t = c.groupBy(col("g")).agg(sum(col("c")).as("n"))
    c.join(t, "g")
      .select(col("g"), col("n"), col("event_type"),
        ((col("c") * lit(1.0) / col("n")) * log(col("c") * lit(1.0) / col("n"))).as("term"))
      .groupBy(col("g"), col("n"))
      .agg(collect_list(struct(col("event_type"), col("term"))).as("xs"))
      .select(col("g"), col("n"),
        round(-aggregate(transform(array_sort(col("xs")), e => e.getField("term")),
          lit(0.0), (a, x) => a + x), 4).as("entropy"))
      .orderBy(col("g"))
  }

  /** Ordinary-least-squares aggregates — the SQL-standard REGR_* family
    * (price-vs-quantity slope, intercept, R² per return flag). Both
    * engines compute from the same co-moment accumulators; drift is the
    * accepted float-agg class (`agg_stats`), hidden by round(…,4). One
    * partial-aggregated shuffle of 5 co-moments per group — regression
    * over 100 TB costs exactly a COUNT(*) GROUP BY. */
  private val regression = CatalogEntry.ansi(
    "agg_regression",
    """SELECT l_returnflag,
      |       ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      |       ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
      |       ROUND(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
      |       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (spark, sfDir) =>
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("icept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 4).as("r2"),
        expr("regr_count(l_extendedprice, l_quantity)").cast("long").as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Boolean-aggregate battery (Redshift BOOL_AND/BOOL_OR + COUNT_IF):
    * predicate roll-ups per group. One hash-agg shuffle with map-side
    * combine — booleans partial-aggregate as AND/OR, counts as sums. */
  private val boolCountIf = CatalogEntry.dialect(
    "agg_bool_count_if",
    duckdb = """SELECT user_id,
               |       bool_and(value > 1.0) AS all_above,
               |       bool_or(event_type = 'purchase') AS any_purchase,
               |       count(*) FILTER (WHERE event_type = 'error') AS n_errors
               |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    spark = """SELECT user_id,
              |       bool_and(value > 1.0) AS all_above,
              |       bool_or(event_type = 'purchase') AS any_purchase,
              |       count_if(event_type = 'error') AS n_errors
              |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
    (spark, sfDir) =>
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        bool_and(col("value") > 1.0).as("all_above"),
        bool_or(col("event_type") === "purchase").as("any_purchase"),
        count_if(col("event_type") === "error").as("n_errors"))
      .orderBy(col("user_id"))
  }

  /** Quantity-weighted average discount per supplier — the weighted-mean
    * pattern every pricing rollup needs. Numerator and denominator are
    * exact decimal sums (order-free); the one double division of exact
    * operands is correctly rounded identically on both engines (§2.0.3). */
  private val weightedAvg = CatalogEntry.ansi(
    "agg_weighted_avg",
    """SELECT l_suppkey,
      |       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) /
      |             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 6) AS wavg_discount
      |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin) {
    (spark, sfDir) =>
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_suppkey"))
      .agg(round(
        sum(dec(col("l_discount")) * dec(col("l_quantity"))).cast("double") /
          sum(dec(col("l_quantity"))).cast("double"), 6).as("wavg_discount"))
      .orderBy(col("l_suppkey"))
  }

  /** GROUPING_ID-labeled ROLLUP — the composed-bitmask twin of
    * `agg_grouping_sets`'s single-column grouping() flags. Both engines put
    * the LEFTMOST grouping column in the MOST significant bit (verified in
    * DuckDB: (g1,g2)=(1,1) → id 3), so the id and its CASE decode to level
    * names transfer directly; cast to INT since Spark's grouping_id() is
    * BIGINT and DuckDB's is also wider than INT32. */
  private val groupingIdRollup = CatalogEntry.ansi(
    "agg_grouping_id",
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(grouping_id(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
      |       CASE CAST(grouping_id(o_orderstatus, o_orderpriority) AS INTEGER)
      |            WHEN 0 THEN 'detail' WHEN 1 THEN 'status' ELSE 'total' END AS lvl,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS tot
      |FROM orders
      |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) {
    (spark, sfDir) =>
      val gid = grouping_id().cast("int")
      Tables.orders(spark, sfDir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(gid.as("gid"),
          when(gid === 0, "detail").when(gid === 1, "status").otherwise("total").as("lvl"),
          count(lit(1)).as("n"),
          decOut(sum(dec(col("o_totalprice")))).as("tot"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
  }

  /** Inverse-distribution PERCENTILE_DISC — the discrete companion of
    * `agg_percentile_exact`'s interpolating percentile_cont: returns an
    * actual member value (first value with cume_dist ≥ fraction, the SQL
    * standard both engines implement), so the result is exact with no
    * rounding guard needed. One shuffle on the group key; the sort is
    * per-group inside the aggregate. */
  private val percentileDisc = CatalogEntry.ansi(
    "agg_percentile_disc",
    """SELECT o_orderstatus,
      |       percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS q1_disc,
      |       percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS med_disc,
      |       percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90_disc,
      |       COUNT(*) AS n
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (spark, sfDir) =>
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)").as("q1_disc"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("med_disc"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
  }

  /** Equi-DEPTH histogram — NTILE(10) bucket bounds per status group
    * (`agg_histogram_fixed` is equi-WIDTH: fixed bounds, varying counts;
    * this is the dual — equal counts, data-driven bounds — and it is the
    * histogram query optimizers collect, because equal-mass buckets bound
    * selectivity error where equi-width collapses on skew). The window is
    * partitioned by the group key, so each NTILE sorts one group's rows —
    * at 100 TB the per-group sort is the price of exact bounds; the
    * approximate path at scale is `agg_kll_quantiles`' mergeable sketch,
    * the documented twin pairing. The orderkey tie-break pins rows that
    * share a price to one bucket deterministically. */
  private val histogramEquidepth = CatalogEntry.ansi(
    "agg_histogram_equidepth",
    """WITH b AS (
      |  SELECT o_orderstatus AS st, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
      |         NTILE(10) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS bkt
      |  FROM orders
      |)
      |SELECT st, CAST(bkt AS BIGINT) AS bkt, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(MIN(v) AS DOUBLE) AS lo, CAST(MAX(v) AS DOUBLE) AS hi
      |FROM b GROUP BY st, bkt ORDER BY st, bkt""".stripMargin) { (spark, sfDir) =>
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_orderstatus").as("st"),
        col("o_totalprice").cast("decimal(18,2)").as("v"),
        ntile(10).over(w).as("bkt"))
      .groupBy(col("st"), col("bkt").cast("long").as("bkt"))
      .agg(count(lit(1)).cast("long").as("n"),
        decOut(min(col("v"))).as("lo"), decOut(max(col("v"))).as("hi"))
      .orderBy(col("st"), col("bkt"))
  }

  /** Gini coefficient — concentration of positive account balances via the
    * sorted-rank identity G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n (the inequality
    * measure concentration dashboards report; the pairwise |xᵢ−xⱼ|
    * definition is O(n²), the rank identity is one sort + one pass — the
    * same quadratic-to-linear restatement the dedup twins document).
    * Ranks come from ROW_NUMBER with a key tie-break, i·x stays DECIMAL
    * so both Σ terms are exact, and only the final ratio is double.
    *
    * The global rank is computed as a COMPOSITE rank (the 100-TB shape the
    * r9 verdict asked for): rows bucket by value range (bucketing is a
    * pure function of v, so (v, key) ordering is bucket-monotone), each
    * bucket ranks locally under a bucket-partitioned window, and a prefix
    * sum over the tiny per-bucket count table (B=16 rows — bounded by the
    * bucket count, not the data) supplies each bucket's global offset via
    * a broadcast join. No row of the fact table crosses a single-partition
    * window; composite rank = offset + local rank is exactly the global
    * ROW_NUMBER the oracle states. At 100 TB the fixed-width bounds would
    * come from a KLL/approx-quantile sketch instead — the identity and the
    * plan shape are unchanged. */
  private val giniCoefficient = CatalogEntry.ansi(
    "agg_gini_coefficient",
    """WITH x AS (
      |  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS v
      |  FROM customer WHERE c_acctbal > 0
      |), r AS (
      |  SELECT v, ROW_NUMBER() OVER (ORDER BY v, c_custkey) AS i FROM x
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |       ROUND((2.0 * SUM(i * v)) / (COUNT(*) * SUM(v)) - (COUNT(*) + 1.0) / COUNT(*), 4) AS gini
      |FROM r""".stripMargin) { (spark, sfDir) =>
    val x = Tables.customer(spark, sfDir)
      .where(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_acctbal").cast("decimal(18,2)").as("v"))
      // acctbal ∈ (0, 10000): 16 equal-width value buckets; every v in
      // bucket b is < every v in bucket b+1, so local ranks compose
      .withColumn("bkt", floor(col("v") / 625).cast("int"))
    val wOff = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = x.groupBy(col("bkt"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select(col("bkt"), col("off"))
    val wLoc = Window.partitionBy(col("bkt"))
      .orderBy(col("v"), col("c_custkey"))
    x.join(broadcast(offsets), "bkt")
      .withColumn("i", col("off") + row_number().over(wLoc))
      .agg(count(lit(1)).cast("long").as("n"),
        round((lit(2.0) * sum(col("i") * col("v"))) / (count(lit(1)) * sum(col("v")))
          - (count(lit(1)) + lit(1.0)) / count(lit(1)), 4).as("gini"))
      .select(col("n"), col("gini"))
  }

  /** Median absolute deviation — the robust two-pass dispersion statistic
    * (median of |x − median|, the outlier-resistant stddev every data-QA
    * sweep prefers when tails are wild). Inherently two passes — the
    * inner median must be KNOWN before deviations exist — so the plan is
    * two group-keyed aggregations with a broadcast-able per-group median
    * join between them; both passes shuffle on the same group key. The
    * MAX(m) in the output leg is a no-op carry (m is constant per group),
    * matching the oracle's spelling exactly. */
  private val madRobust = CatalogEntry.dialect(
    "agg_mad_robust",
    duckdb = """WITH med AS (
               |  SELECT l_returnflag, percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS m
               |  FROM lineitem GROUP BY l_returnflag
               |)
               |SELECT l.l_returnflag,
               |       ROUND(MAX(med.m), 4) AS median_qty,
               |       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(l.l_quantity - med.m)), 4) AS mad
               |FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
               |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,
    spark = """WITH med AS (
              |  SELECT l_returnflag, percentile(l_quantity, 0.5) AS m
              |  FROM lineitem GROUP BY l_returnflag
              |)
              |SELECT l.l_returnflag,
              |       ROUND(MAX(med.m), 4) AS median_qty,
              |       ROUND(percentile(abs(l.l_quantity - med.m), 0.5), 4) AS mad
              |FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
              |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin) { (spark, sfDir) =>
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_quantity"))
    val med = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("m"))
    li.join(broadcast(med), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(round(max(col("m")), 4).as("median_qty"),
        round(expr("percentile(abs(l_quantity - m), 0.5)"), 4).as("mad"))
      .orderBy(col("l_returnflag"))
  }

  /** Cohort retention — the signup-cohort × activity-age matrix (the BI
    * staple: of customers whose FIRST order fell in year Y, how many were
    * active Y+k years later). Two passes, both customer-keyed: min-year
    * per customer (the cohort), then one distinct (customer, year) join
    * back — the join is on the same key as both aggregations, so a 100-TB
    * plan shuffles once on customer and reuses the partitioning
    * throughout; the matrix itself is tiny (|years|² rows). Age 0 row per
    * cohort doubles as the cohort-size denominator. */
  private val cohortRetention = CatalogEntry.ansi(
    "agg_cohort_retention",
    """WITH f AS (
      |  SELECT o_custkey, MIN(year(o_orderdate)) AS cohort FROM orders GROUP BY o_custkey
      |), act AS (
      |  SELECT DISTINCT o.o_custkey, f.cohort, year(o.o_orderdate) AS yr
      |  FROM orders o JOIN f ON o.o_custkey = f.o_custkey
      |)
      |SELECT CAST(cohort AS BIGINT) AS cohort, CAST(yr - cohort AS BIGINT) AS age,
      |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active
      |FROM act GROUP BY cohort, age ORDER BY cohort, age""".stripMargin) { (spark, sfDir) =>
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
    val f = orders.groupBy(col("o_custkey")).agg(min(col("yr")).as("cohort"))
    orders.join(f, "o_custkey")
      .select(col("o_custkey"), col("cohort"), col("yr")).distinct()
      .groupBy(col("cohort").cast("long").as("cohort"),
        (col("yr") - col("cohort")).cast("long").as("age"))
      .agg(countDistinct(col("o_custkey")).cast("long").as("n_active"))
      .orderBy(col("cohort"), col("age"))
  }

  /** LISTAGG DISTINCT — the deduplicating variant of `agg_string_concat`
    * (Redshift's LISTAGG(DISTINCT x, ',') WITHIN GROUP (ORDER BY x)):
    * the member list collapses duplicates before joining, which is the
    * form catalog/label rollups actually use. Spark spells it
    * `array_join(array_sort(collect_set(x)))` — collect_set is safe here
    * because the sort happens AFTER collection, so partition order never
    * leaks into the output; state is bounded by the distinct-value count
    * per group (tiny for enum-like columns), the same bound the DISTINCT
    * keyword itself implies. */
  private val listaggDistinct = CatalogEntry.dialect(
    "agg_listagg_distinct",
    duckdb = """SELECT c_nationkey,
               |       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segs
               |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    spark = """SELECT c_nationkey,
              |       array_join(array_sort(collect_set(c_mktsegment)), ',') AS segs
              |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (spark, sfDir) =>
    Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey"))
      .agg(array_join(array_sort(collect_set(col("c_mktsegment"))), ",").as("segs"))
      .orderBy(col("c_nationkey"))
  }

  /** Higher-moment distribution shape — population skewness and excess
    * kurtosis per group, completing the `agg_stats` family upward (stddev/
    * corr are 2nd-moment; these are 3rd/4th). Spark's built-ins compute the
    * population definitions (g₁ = m₃/m₂^1.5, g₂ = m₄/m₂² − 3 over central
    * moments mₖ = Σ(x−μ)ᵏ/n); the oracle states those formulas explicitly
    * rather than trusting DuckDB's differently-bias-corrected built-ins —
    * the restated form IS the semantics pin. One co-moment shuffle in
    * Spark (the built-ins merge partial moment sums — the mergeable-partial
    * 100-TB shape, same as `agg_regression`); round-4 absorbs the
    * accumulation-order FP drift per the established convention. */
  private val skewKurt = CatalogEntry.dialect(
    "agg_skew_kurt",
    duckdb = """WITH m AS (
               |  SELECT l_returnflag, l_quantity,
               |         AVG(l_quantity) OVER (PARTITION BY l_returnflag) AS mu
               |  FROM lineitem
               |)
               |SELECT l_returnflag,
               |       ROUND((SUM(POW(l_quantity - mu, 3)) / COUNT(*)) /
               |             POW(SUM(POW(l_quantity - mu, 2)) / COUNT(*), 1.5), 4) + 0.0 AS skew,
               |       ROUND((SUM(POW(l_quantity - mu, 4)) / COUNT(*)) /
               |             POW(SUM(POW(l_quantity - mu, 2)) / COUNT(*), 2) - 3, 4) + 0.0 AS kurt
               |FROM m GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    spark = """SELECT l_returnflag,
              |       ROUND(skewness(l_quantity), 4) + 0.0D AS skew,
              |       ROUND(kurtosis(l_quantity), 4) + 0.0D AS kurt
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (spark, sfDir) =>
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(Util.znorm(skewness(col("l_quantity")), 4).as("skew"),
        Util.znorm(kurtosis(col("l_quantity")), 4).as("kurt"))
      .orderBy(col("l_returnflag"))
  }

  /** Pairwise Pearson correlation matrix over the four lineitem measures,
    * emitted long-form (var1, var2, corr). One single-pass co-moment
    * aggregation computes all six cells (map-side combinable), then a
    * 1-row STACK unpivots — the scan is never repeated. ROUND(,4) absorbs
    * co-moment summation-order ulp, same accepted class as
    * `agg_regression`; the oracle restates the same single scan with six
    * 1-row projections. */
  private val corrMatrix = CatalogEntry.ansi(
    "agg_corr_matrix",
    """WITH m AS (
      |  SELECT CORR(l_quantity, l_extendedprice) AS qp, CORR(l_quantity, l_discount) AS qd,
      |         CORR(l_quantity, l_tax) AS qt, CORR(l_extendedprice, l_discount) AS pd,
      |         CORR(l_extendedprice, l_tax) AS pt, CORR(l_discount, l_tax) AS dt
      |  FROM lineitem
      |)
      |SELECT 'quantity' AS var1, 'extendedprice' AS var2, ROUND(qp, 4) + 0.0 AS corr_v FROM m
      |UNION ALL SELECT 'quantity', 'discount', ROUND(qd, 4) + 0.0 FROM m
      |UNION ALL SELECT 'quantity', 'tax', ROUND(qt, 4) + 0.0 FROM m
      |UNION ALL SELECT 'extendedprice', 'discount', ROUND(pd, 4) + 0.0 FROM m
      |UNION ALL SELECT 'extendedprice', 'tax', ROUND(pt, 4) + 0.0 FROM m
      |UNION ALL SELECT 'discount', 'tax', ROUND(dt, 4) + 0.0 FROM m
      |ORDER BY var1, var2""".stripMargin) { (spark, sfDir) =>
    Tables.lineitem(spark, sfDir)
      .agg(
        corr(col("l_quantity"), col("l_extendedprice")).as("qp"),
        corr(col("l_quantity"), col("l_discount")).as("qd"),
        corr(col("l_quantity"), col("l_tax")).as("qt"),
        corr(col("l_extendedprice"), col("l_discount")).as("pd"),
        corr(col("l_extendedprice"), col("l_tax")).as("pt"),
        corr(col("l_discount"), col("l_tax")).as("dt"))
      .selectExpr(
        """stack(6,
          |  'quantity', 'extendedprice', round(qp, 4) + 0.0D,
          |  'quantity', 'discount', round(qd, 4) + 0.0D,
          |  'quantity', 'tax', round(qt, 4) + 0.0D,
          |  'extendedprice', 'discount', round(pd, 4) + 0.0D,
          |  'extendedprice', 'tax', round(pt, 4) + 0.0D,
          |  'discount', 'tax', round(dt, 4) + 0.0D) AS (var1, var2, corr_v)""".stripMargin)
      .orderBy(col("var1"), col("var2"))
  }

  /** Winsorized + trimmed means — the robust-mean pair every metrics
    * pipeline wants beside `agg_mad_robust` (Redshift-genre data QA: tame
    * the tails before averaging). Two passes like MAD: per-segment p05/p95
    * interpolated bounds first (both engines share `agg_percentile_exact`'s
    * proven linear-interpolation spelling), then one broadcast join back
    * for the clamp/filter aggregation — both passes shuffle on the same
    * segment key, and the bounds frame is |segments| rows, so at 100 TB
    * this is two map-side-combined aggregations plus a broadcast.
    * Boundary determinism: an interpolated bound only ever EQUALS a data
    * value when the rank lands on an integer index, and then both engines
    * return that value exactly (frac = 0 is exact in FP), so the
    * BETWEEN/clamp membership never straddles an engine-specific ulp. */
  private val winsorized = CatalogEntry.dialect(
    "agg_winsorized",
    duckdb = """WITH b AS (
               |  SELECT c_mktsegment,
               |         percentile_cont(0.05) WITHIN GROUP (ORDER BY c_acctbal) AS lo,
               |         percentile_cont(0.95) WITHIN GROUP (ORDER BY c_acctbal) AS hi
               |  FROM customer GROUP BY c_mktsegment)
               |SELECT c.c_mktsegment,
               |       CAST(COUNT(*) AS BIGINT) AS n,
               |       ROUND(AVG(c.c_acctbal), 4) AS mean_raw,
               |       ROUND(AVG(CASE WHEN c.c_acctbal BETWEEN b.lo AND b.hi THEN c.c_acctbal END), 4) AS mean_trim,
               |       ROUND(AVG(LEAST(GREATEST(c.c_acctbal, b.lo), b.hi)), 4) AS mean_wins
               |FROM customer c JOIN b ON c.c_mktsegment = b.c_mktsegment
               |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    spark = """WITH b AS (
              |  SELECT c_mktsegment,
              |         percentile(c_acctbal, 0.05) AS lo,
              |         percentile(c_acctbal, 0.95) AS hi
              |  FROM customer GROUP BY c_mktsegment)
              |SELECT c.c_mktsegment,
              |       CAST(COUNT(*) AS BIGINT) AS n,
              |       ROUND(AVG(c.c_acctbal), 4) AS mean_raw,
              |       ROUND(AVG(CASE WHEN c.c_acctbal BETWEEN b.lo AND b.hi THEN c.c_acctbal END), 4) AS mean_trim,
              |       ROUND(AVG(LEAST(GREATEST(c.c_acctbal, b.lo), b.hi)), 4) AS mean_wins
              |FROM customer c JOIN b ON c.c_mktsegment = b.c_mktsegment
              |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin) { (spark, sfDir) =>
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment"), col("c_acctbal"))
    val bounds = cust.groupBy(col("c_mktsegment"))
      .agg(expr("percentile(c_acctbal, 0.05)").as("lo"),
        expr("percentile(c_acctbal, 0.95)").as("hi"))
    cust.join(broadcast(bounds), "c_mktsegment")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        round(avg(col("c_acctbal")), 4).as("mean_raw"),
        round(avg(when(col("c_acctbal").between(col("lo"), col("hi")), col("c_acctbal"))), 4)
          .as("mean_trim"),
        round(avg(least(greatest(col("c_acctbal"), col("lo")), col("hi"))), 4).as("mean_wins"))
      .orderBy(col("c_mktsegment"))
  }

  /** Market-basket association rules — support / confidence / lift over
    * part-family co-occurrence within an order (the retail-analytics
    * staple the co-occurrence GRAPH entries don't give: directionless
    * pair metrics with frequency thresholds). All-integer counts, so every
    * metric is an exact IEEE division of exact longs — no FP drift — and
    * the ROUND(lift,4) DESC, x, y ordering is total.
    *
    * Plan (r17 100× rewrite — 61.8 s → see BASELINE.md): ONE shuffle.
    * The old spelling self-joined the distinct (basket, item) projection
    * on basket — linear work (pairs-per-basket is bounded by the ~7-line
    * order cap) but THREE full-width shuffles of the 100×-scale item
    * frame (distinct, join left, join right). Now the baskets groupBy
    * collects each basket's sorted distinct item set in the only
    * data-sized shuffle; pair generation is map-side array algebra
    * (combinations via nested transform/slice over the ≤7-element set),
    * partial-aggregated straight into the ≤C(50,2)-row (x, y) key space,
    * and nb/cnt read the same cached basket frame (harness sweep owns
    * the unpersist). The support threshold prunes before the broadcast
    * stage; the a-priori refinement (filter items below min-support
    * BEFORE pairing) drops into `cnt` if item cardinality ever grows. */
  private val assocRules = CatalogEntry.ansi(
    "agg_assoc_rules",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS basket, l_partkey % 50 AS item FROM lineitem
      |), nb AS (SELECT CAST(COUNT(DISTINCT basket) AS DOUBLE) AS n FROM items),
      |cnt AS (SELECT item, CAST(COUNT(*) AS DOUBLE) AS c FROM items GROUP BY item),
      |pairs AS (
      |  SELECT a.item AS x, b.item AS y, COUNT(*) AS xy
      |  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
      |  GROUP BY a.item, b.item)
      |SELECT CAST(p.x AS BIGINT) AS x, CAST(p.y AS BIGINT) AS y, CAST(p.xy AS BIGINT) AS n_xy,
      |       ROUND(p.xy / nb.n, 6) AS support,
      |       ROUND(p.xy / cx.c, 6) AS confidence,
      |       ROUND(p.xy * nb.n / (cx.c * cy.c), 4) AS lift
      |FROM pairs p CROSS JOIN nb
      |JOIN cnt cx ON p.x = cx.item JOIN cnt cy ON p.y = cy.item
      |WHERE p.xy >= 5
      |ORDER BY lift DESC, x, y LIMIT 100""".stripMargin) { (spark, sfDir) =>
    val baskets = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("basket"), (col("l_partkey") % 50).as("item"))
      .groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("its"))
      .cache()
    val nb = baskets.agg(count(lit(1)).cast("double").as("n"))
    val cnt = baskets.select(explode(col("its")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).cast("double").as("c"))
    // all x < y combinations of the sorted set, generated map-side. The
    // CASE guard makes the expression total: sequence(0, size-2) steps
    // BACKWARDS for a 1-item basket ([0,-1] → its[-1] ANSI error), and
    // relying on the where(size>=2) filter staying beneath the Generate
    // is a plan-rewrite hazard, not a contract
    val pairExpr = expr(
      "CASE WHEN size(its) >= 2 THEN " +
        "flatten(transform(sequence(0, size(its) - 2), i -> " +
        "transform(slice(its, i + 2, size(its)), y -> struct(its[i] AS x, y AS y)))) " +
        "ELSE array() END")
    baskets.where(size(col("its")) >= 2)
      .select(explode(pairExpr).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y")).agg(count(lit(1)).as("xy"))
      .where(col("xy") >= 5)
      .crossJoin(broadcast(nb))
      .join(broadcast(cnt.withColumnRenamed("item", "x").withColumnRenamed("c", "cx")), "x")
      .join(broadcast(cnt.withColumnRenamed("item", "y").withColumnRenamed("c", "cy")), "y")
      .select(
        col("x").cast("long").as("x"), col("y").cast("long").as("y"),
        col("xy").cast("long").as("n_xy"),
        round(col("xy") / col("n"), 6).as("support"),
        round(col("xy") / col("cx"), 6).as("confidence"),
        round(col("xy") * col("n") / (col("cx") * col("cy")), 4).as("lift"))
      .orderBy(col("lift").desc, col("x"), col("y"))
      .limit(100)
  }

  /** Fixed-domain BITMAP distinct counting (`functions/BitmapSketch.scala`)
    * — the EXACT mergeable-distinct member beside the estimating HLL/theta:
    * one bit per dictionary id, per-partition bitmaps OR-merged in any
    * topology, popcount at the end. The rollup leg proves mergeability the
    * way `agg_hll_sketch_merge` does — per-segment bitmaps are built ONCE
    * and the ALL row is their `bitmap_merge_agg` union, never a re-scan.
    * At 100 TB this is the shape for dense dictionary ids (the buffer is
    * domain/8 bytes, row-count-independent); unbounded domains stay with
    * the sketches. Oracle = plain COUNT(DISTINCT) — bitmaps are exact, so
    * the whole entry is hash-checkable, unlike the estimating family. */
  private val bitmapDistinct = CatalogEntry.ansi(
    "agg_bitmap_distinct",
    """SELECT seg, n_buyers FROM (
      |  SELECT c_mktsegment AS seg, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_buyers
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment
      |  UNION ALL
      |  SELECT 'ALL' AS seg, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_buyers
      |  FROM orders
      |) t ORDER BY seg""".stripMargin) { (spark, sfDir) =>
    graft.functions.SketchFunctions.ensureRegistered(spark)
    // dictionary bound derived from the dimension itself, not hard-coded:
    // custkeys are dense 1..150000·SF, so the max-key probe (1-row plan
    // control, same class as the centroid collects) sizes the bitmap at any
    // SF; the next-power-of-two pad keeps the bound stable under small
    // key-gap drift while the fail-fast contract still catches genuinely
    // out-of-dictionary ids. 2^18 was the old hard-coded value — wrong
    // above SF≈1.75 (ADVICE r10).
    val maxKey = Tables.customer(spark, sfDir)
      .agg(max(col("c_custkey"))).head().getLong(0)
    val maxId = java.lang.Long.highestOneBit(math.max(maxKey, 1L)) * 2
    val joined = Tables.orders(spark, sfDir).select(col("o_custkey"))
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
    if (maxId <= graft.functions.BitmapOps.MaxDomain) {
      val perSeg = joined.groupBy(col("c_mktsegment").as("seg"))
        .agg(expr(s"bitmap_distinct_agg(o_custkey, $maxId)").as("bm"))
        .cache()
      val segRows = perSeg.select(col("seg"), expr("bitmap_count(bm)").as("n_buyers"))
      val allRow = perSeg.agg(expr("bitmap_merge_agg(bm)").as("bm"))
        .select(lit("ALL").as("seg"), expr("bitmap_count(bm)").as("n_buyers"))
      segRows.unionAll(allRow).orderBy(col("seg"))
    } else {
      // dictionary-applicability guard (r17): the probe found a key space
      // the fixed-size bitmap cannot hold (sparse/offset ids — e.g. the
      // synth corpora's replica-offset keys reach ~10⁹). The operator's
      // contract is EXACT distinct, so route to the exact COUNT(DISTINCT)
      // plan over the same joined frame — identical output, still
      // oracle-hash-checkable; the bitmap stays the dense-dictionary fast
      // path (row-count-independent buffers), the same adaptive-probe
      // pattern as vec_knn_graph_lsh's dup-ratio gate.
      val segRows = joined.groupBy(col("c_mktsegment").as("seg"))
        .agg(countDistinct(col("o_custkey")).as("n_buyers"))
      val allRow = joined.agg(countDistinct(col("o_custkey")).as("n_buyers"))
        .select(lit("ALL").as("seg"), col("n_buyers"))
      segRows.unionAll(allRow).orderBy(col("seg"))
    }
  }

  /** Welch's unequal-variance t-test between two customer segments — the
    * A/B-analysis inference primitive (does segment A's balance differ
    * from B's?) the descriptive-stats family (`agg_stats`, `agg_skew_kurt`)
    * stops short of. One filtered grouped aggregation computes both
    * segments' (n, Σx, Σx²) — map-side combinable, a 2-row frame at any
    * scale — then the closed forms: vᵢ = (Σx² − (Σx)²/n)/(n−1),
    * t = (m₁−m₂)/√(v₁/n₁+v₂/n₂), Welch–Satterthwaite df. Sums ride
    * DECIMAL for the means; the second moment is the one double sum
    * (ROUND(,4)-absorbed, the `agg_stats` accepted class); t goes through
    * the −0.0 pin since close means can round a signed zero. */
  private val welchTtest = CatalogEntry.ansi(
    "agg_welch_ttest",
    """WITH s AS (
      |  SELECT c_mktsegment AS seg, CAST(COUNT(*) AS DOUBLE) AS n,
      |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sm,
      |         SUM(c_acctbal * c_acctbal) AS ss
      |  FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
      |  GROUP BY c_mktsegment
      |), w AS (
      |  SELECT MAX(CASE WHEN seg = 'AUTOMOBILE' THEN n END) AS na,
      |         MAX(CASE WHEN seg = 'AUTOMOBILE' THEN sm END) AS sa,
      |         MAX(CASE WHEN seg = 'AUTOMOBILE' THEN ss END) AS ssa,
      |         MAX(CASE WHEN seg = 'BUILDING' THEN n END) AS nb,
      |         MAX(CASE WHEN seg = 'BUILDING' THEN sm END) AS sb,
      |         MAX(CASE WHEN seg = 'BUILDING' THEN ss END) AS ssb
      |  FROM s
      |), v AS (
      |  SELECT na, nb, sa / na AS ma, sb / nb AS mb,
      |         (ssa - sa * sa / na) / (na - 1) / na AS qa,
      |         (ssb - sb * sb / nb) / (nb - 1) / nb AS qb
      |  FROM w
      |)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |       ROUND(ma, 4) AS mean_a, ROUND(mb, 4) AS mean_b,
      |       ROUND((ma - mb) / sqrt(qa + qb), 4) + 0.0 AS t_stat,
      |       ROUND((qa + qb) * (qa + qb) /
      |             (qa * qa / (na - 1) + qb * qb / (nb - 1)), 4) AS df
      |FROM v""".stripMargin) { (spark, sfDir) =>
    val s = Tables.customer(spark, sfDir)
      .where(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).cast("double").as("n"),
        decOut(sum(dec(col("c_acctbal")))).as("sm"),
        sum(col("c_acctbal") * col("c_acctbal")).as("ss"))
    def pick(seg: String, c: String) =
      max(when(col("seg") === seg, col(c))).as(s"${c}_${seg.take(1)}")
    val w = s.agg(
      pick("AUTOMOBILE", "n"), pick("AUTOMOBILE", "sm"), pick("AUTOMOBILE", "ss"),
      pick("BUILDING", "n"), pick("BUILDING", "sm"), pick("BUILDING", "ss"))
    val (na, sa, ssa) = (col("n_A"), col("sm_A"), col("ss_A"))
    val (nb, sb, ssb) = (col("n_B"), col("sm_B"), col("ss_B"))
    val ma = sa / na; val mb = sb / nb
    val qa = (ssa - sa * sa / na) / (na - 1) / na
    val qb = (ssb - sb * sb / nb) / (nb - 1) / nb
    w.select(
      na.cast("long").as("n_a"), nb.cast("long").as("n_b"),
      round(ma, 4).as("mean_a"), round(mb, 4).as("mean_b"),
      Util.znorm((ma - mb) / sqrt(qa + qb), 4).as("t_stat"),
      round((qa + qb) * (qa + qb) /
        (qa * qa / (na - 1) + qb * qb / (nb - 1)), 4).as("df"))
  }

  /** Deterministic Poisson bootstrap — 95% CI for each segment's mean
    * balance from B=50 resampled replicates, completing the inference
    * family ([[welchTtest]] compares two groups; the bootstrap puts an
    * interval on ONE statistic with no normality assumption). The
    * classic blocker — rand() — is replaced by the md5 draw the split/
    * sample entries standardized: row i's weight in replicate b is
    * Poisson(1) via inverse-CDF on u = first 6 md5 hex chars of "i#b",
    * and the CDF cuts are PRE-COMPUTED 6-hex-char string constants
    * (⌊cdf·16⁶⌋), so weight assignment is pure string comparison —
    * engine-exact, no floating point anywhere until the replicate means.
    * Poisson bootstrap is also the 100-TB shape (each row draws its
    * weight independently — no global resample pass, the streaming-
    * bootstrap standard). Weighted sums ride DECIMAL×int (exact); the
    * percentile over 50 replicate means uses the proven interpolation
    * spelling. */
  private val bootstrapCi = CatalogEntry.dialect(
    "agg_bootstrap_ci",
    duckdb = """WITH r AS (SELECT unnest(range(0, 50)) AS b),
               |d AS (SELECT c_mktsegment AS seg, c_custkey,
               |             CAST(c_acctbal AS DECIMAL(18,4)) AS x FROM customer),
               |w AS (
               |  SELECT seg, b, x,
               |    CASE WHEN h < '5e2d58' THEN 0 WHEN h < 'bc5ab1' THEN 1
               |         WHEN h < 'eb715e' THEN 2 WHEN h < 'fb2397' THEN 3
               |         WHEN h < 'ff1025' THEN 4 WHEN h < 'ffd90f' THEN 5
               |         ELSE 6 END AS wt
               |  FROM (SELECT d.seg, d.x, r.b,
               |          substring(md5(CAST(d.c_custkey AS VARCHAR) || '#' || CAST(r.b AS VARCHAR)), 1, 6) AS h
               |        FROM d CROSS JOIN r)
               |), rep AS (
               |  SELECT seg, b, CAST(SUM(wt * x) AS DOUBLE) / NULLIF(SUM(wt), 0) AS m
               |  FROM w GROUP BY seg, b
               |), base AS (
               |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_rows,
               |         CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mean_bal
               |  FROM d GROUP BY seg
               |)
               |SELECT base.seg, base.n_rows, ROUND(base.mean_bal, 4) AS mean_bal,
               |       ROUND(percentile_cont(0.025) WITHIN GROUP (ORDER BY rep.m), 4) AS ci_lo,
               |       ROUND(percentile_cont(0.975) WITHIN GROUP (ORDER BY rep.m), 4) AS ci_hi
               |FROM rep JOIN base USING (seg)
               |GROUP BY base.seg, base.n_rows, base.mean_bal
               |ORDER BY 1""".stripMargin,
    spark = """WITH r AS (SELECT explode(sequence(0, 49)) AS b),
              |d AS (SELECT c_mktsegment AS seg, c_custkey,
              |             CAST(c_acctbal AS DECIMAL(18,4)) AS x FROM customer),
              |w AS (
              |  SELECT seg, b, x,
              |    CASE WHEN h < '5e2d58' THEN 0 WHEN h < 'bc5ab1' THEN 1
              |         WHEN h < 'eb715e' THEN 2 WHEN h < 'fb2397' THEN 3
              |         WHEN h < 'ff1025' THEN 4 WHEN h < 'ffd90f' THEN 5
              |         ELSE 6 END AS wt
              |  FROM (SELECT d.seg, d.x, r.b,
              |          substring(md5(CAST(d.c_custkey AS STRING) || '#' || CAST(r.b AS STRING)), 1, 6) AS h
              |        FROM d CROSS JOIN r)
              |), rep AS (
              |  SELECT seg, b, CAST(SUM(wt * x) AS DOUBLE) / NULLIF(SUM(wt), 0) AS m
              |  FROM w GROUP BY seg, b
              |), base AS (
              |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_rows,
              |         CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mean_bal
              |  FROM d GROUP BY seg
              |)
              |SELECT base.seg, base.n_rows, ROUND(base.mean_bal, 4) AS mean_bal,
              |       ROUND(percentile(rep.m, 0.025), 4) AS ci_lo,
              |       ROUND(percentile(rep.m, 0.975), 4) AS ci_hi
              |FROM rep JOIN base USING (seg)
              |GROUP BY base.seg, base.n_rows, base.mean_bal
              |ORDER BY 1""".stripMargin) { (spark, sfDir) =>
    val d = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment").as("seg"), col("c_custkey"), dec(col("c_acctbal")).as("x"))
    val reps = spark.range(0, 50).toDF("b")
    val h = substring(
      md5(concat(col("c_custkey").cast("string"), lit("#"), col("b").cast("string"))), 1, 6)
    val wt = when(h < "5e2d58", 0).when(h < "bc5ab1", 1).when(h < "eb715e", 2)
      .when(h < "fb2397", 3).when(h < "ff1025", 4).when(h < "ffd90f", 5).otherwise(6)
    val rep = d.crossJoin(broadcast(reps))
      .select(col("seg"), col("b"), col("x"), wt.as("wt"))
      .groupBy(col("seg"), col("b"))
      .agg((sum(col("wt") * col("x")).cast("double") /
        nullif(sum(col("wt")), lit(0))).as("m"))
    val base = d.groupBy(col("seg"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        (sum(col("x")).cast("double") / count(lit(1))).as("mean_bal"))
    rep.join(base, "seg")
      .groupBy(col("seg"), col("n_rows"), col("mean_bal"))
      .agg(
        round(expr("percentile(m, 0.025)"), 4).as("ci_lo"),
        round(expr("percentile(m, 0.975)"), 4).as("ci_hi"))
      .select(col("seg"), col("n_rows"), round(col("mean_bal"), 4).as("mean_bal"),
        col("ci_lo"), col("ci_hi"))
      .orderBy(col("seg"))
  }

  /** Chi-square test of independence — market segment × order priority
    * contingency, the categorical counterpart of [[welchTtest]]'s
    * two-sample inference (is priority mix independent of segment?). The
    * contingency table is one grouped count (map-side combinable); margins
    * ride window sums over the |segments|×|priorities| frame — 25 rows at
    * ANY corpus size, so the unpartitioned windows are plan control, not a
    * data sort. Expected counts e = r·c/N divide identical integers on
    * both engines; the 25-term χ² sum is ROUND(,4)-absorbed (agg_stats
    * class). Emits n_cells so a sparse contingency (a zero cell would
    * silently drop from the observed-only frame) fails the compare instead
    * of skewing the statistic. */
  private val chi2Independence = CatalogEntry.ansi(
    "agg_chi2_independence",
    """WITH j AS (
      |  SELECT c_mktsegment AS seg, o_orderpriority AS pri
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |), ct AS (
      |  SELECT seg, pri, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY seg, pri
      |), tot AS (
      |  SELECT seg, pri, n,
      |         SUM(n) OVER (PARTITION BY seg) AS rs,
      |         SUM(n) OVER (PARTITION BY pri) AS cs,
      |         SUM(n) OVER () AS nn
      |  FROM ct
      |)
      |SELECT CAST(MAX(nn) AS BIGINT) AS n_total,
      |       CAST(COUNT(*) AS BIGINT) AS n_cells,
      |       CAST((COUNT(DISTINCT seg) - 1) * (COUNT(DISTINCT pri) - 1) AS BIGINT) AS df,
      |       ROUND(SUM((n - CAST(rs AS DOUBLE) * cs / nn)
      |                 * (n - CAST(rs AS DOUBLE) * cs / nn)
      |                 / (CAST(rs AS DOUBLE) * cs / nn)), 4) AS chi2
      |FROM tot""".stripMargin) { (spark, sfDir) =>
    val j = Tables.orders(spark, sfDir).select(col("o_custkey"), col("o_orderpriority"))
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
    val ct = j.groupBy(col("seg"), col("pri")).agg(count(lit(1)).cast("long").as("n"))
    val tot = ct
      .withColumn("rs", sum(col("n")).over(Window.partitionBy(col("seg"))))
      .withColumn("cs", sum(col("n")).over(Window.partitionBy(col("pri"))))
      .withColumn("nn", sum(col("n")).over(Window.partitionBy()))
    val e = col("rs").cast("double") * col("cs") / col("nn")
    tot.agg(
      max(col("nn")).cast("long").as("n_total"),
      count(lit(1)).cast("long").as("n_cells"),
      ((countDistinct(col("seg")) - 1) * (countDistinct(col("pri")) - 1))
        .cast("long").as("df"),
      round(sum((col("n") - e) * (col("n") - e) / e), 4).as("chi2"))
  }

  /** Seasonality-adjusted anomaly detection — daily revenue z-scored
    * against its same-weekday baseline (the day-of-week effect is the
    * dominant seasonality in order data; a plain global z would flag
    * every weekend). Weekday is epoch-day mod 7 — pure arithmetic, no
    * engine calendars (house policy per `date_business_days`). The
    * baseline is a 7-row aggregate joined back broadcast; daily revenue
    * sums ride DECIMAL (exact), the second moment is the only double sum
    * and perturbs z at ~1e-14 — invisible at ROUND(,4). Two shuffles on
    * (day) and (dow), both map-side combined; linear at any scale. */
  private val seasonalAnomaly = CatalogEntry.dialect(
    "agg_seasonal_anomaly",
    duckdb = """WITH d AS (
               |  SELECT l_shipdate AS d, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev,
               |         datediff('day', DATE '1970-01-01', l_shipdate) % 7 AS dow
               |  FROM lineitem GROUP BY l_shipdate
               |), base AS (
               |  SELECT dow, CAST(COUNT(*) AS DOUBLE) AS n,
               |         CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE) AS s,
               |         SUM(rev * rev) AS ss
               |  FROM d GROUP BY dow
               |)
               |SELECT d.d, d.rev, CAST(d.dow AS BIGINT) AS dow,
               |       ROUND((d.rev - s / n) / NULLIF(sqrt(ss / n - (s / n) * (s / n)), 0.0), 4) + 0.0 AS z,
               |       CASE WHEN abs((d.rev - s / n) / NULLIF(sqrt(ss / n - (s / n) * (s / n)), 0.0)) > 2.0
               |            THEN 1 ELSE 0 END AS is_anomaly
               |FROM d JOIN base ON d.dow = base.dow ORDER BY d.d""".stripMargin,
    spark = """WITH d AS (
              |  SELECT l_shipdate AS d, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev,
              |         datediff(l_shipdate, DATE '1970-01-01') % 7 AS dow
              |  FROM lineitem GROUP BY l_shipdate
              |), base AS (
              |  SELECT dow, CAST(COUNT(*) AS DOUBLE) AS n,
              |         CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE) AS s,
              |         SUM(rev * rev) AS ss
              |  FROM d GROUP BY dow
              |)
              |SELECT d.d, d.rev, CAST(d.dow AS BIGINT) AS dow,
              |       ROUND((d.rev - s / n) / NULLIF(sqrt(ss / n - (s / n) * (s / n)), 0.0), 4) + 0.0D AS z,
              |       CASE WHEN abs((d.rev - s / n) / NULLIF(sqrt(ss / n - (s / n) * (s / n)), 0.0)) > 2.0
              |            THEN 1 ELSE 0 END AS is_anomaly
              |FROM d JOIN base ON d.dow = base.dow ORDER BY d.d""".stripMargin) { (spark, sfDir) =>
    val daily = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_shipdate").as("d"))
      .agg(decOut(sum(dec(col("l_extendedprice")))).as("rev"))
      .withColumn("dow", datediff(col("d"), to_date(lit("1970-01-01"))) % 7)
    val base = daily.groupBy(col("dow"))
      .agg(count(lit(1)).cast("double").as("n"),
        decOut(sum(dec(col("rev")))).as("s"),
        sum(col("rev") * col("rev")).as("ss"))
    val mean = col("s") / col("n")
    val sd = nullif(sqrt(col("ss") / col("n") - mean * mean), lit(0.0))
    val zExpr = (col("rev") - mean) / sd
    daily.join(broadcast(base), "dow")
      .select(col("d"), col("rev"), col("dow").cast("long").as("dow"),
        Util.znorm(zExpr, 4).as("z"),
        when(abs(zExpr) > 2.0, 1).otherwise(0).as("is_anomaly"))
      .orderBy(col("d"))
  }

  def entries: Seq[CatalogEntry] = Seq(
    corrMatrix,
    pricingSummary, countDistinctExact, multiDistinct, approxHll,
    hllSketchUnion, groupingSets,
    rollupTree, cubeFlags, havingFilter, filteredAgg, statsAgg, collectSorted,
    percentileExact, approxPctl, minMaxBy, saltedSkewAgg, hllSketchMerge, sampledQuantiles,
    kllQuantiles, modeFreq, topkSketch, histogramFixed, cmsFreq, thetaSets,
    stringConcat, entropyAgg, regression, boolCountIf, weightedAvg,
    groupingIdRollup, percentileDisc, skewKurt, listaggDistinct,
    cohortRetention, madRobust, giniCoefficient, histogramEquidepth,
    winsorized, assocRules, bitmapDistinct, seasonalAnomaly, welchTtest,
    chi2Independence, bootstrapCi)
}
