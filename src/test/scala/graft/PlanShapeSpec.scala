package graft

/** SURVEY §5.3.4 — physical-plan shape assertions.
  *
  * These are the 100-TB guarantees: dims broadcast, fact-fact joins
  * sort-merge, predicates and projections reach the parquet scan, and
  * correlated subqueries decorrelate to joins. A regression here doesn't
  * break correctness at sf0.01 — it breaks the engine at scale.
  */
class PlanShapeSpec extends SparkSpecBase {

  private def planOf(key: String): String =
    Catalog.byKey(key).run(spark, sfDir).queryExecution.executedPlan.toString

  test("join_bhj_dims broadcasts the dimension side") {
    assert(planOf("join_bhj_dims").contains("BroadcastHashJoin"))
  }

  test("graph shared-edge memo: one cached frame serves the family (r14)") {
    // pagerank + degree_stats start from the SAME memo'd txn edge frame,
    // and triangle's distinct pairs are a projection over the weighted
    // co-part memo that jaccard consumes — the memo returns the identical
    // DataFrame object per (session, sfDir), and both consumer plans read
    // an InMemoryRelation instead of re-running the discovery join.
    val e1 = graft.queries.GraphQueries.txnEdges(spark, sfDir)
    val e2 = graft.queries.GraphQueries.txnEdges(spark, sfDir)
    assert(e1 eq e2, "txnEdges must memo per (session, sfDir)")
    val p1 = graft.queries.GraphQueries.coPartPairs(spark, sfDir)
    assert(p1 eq graft.queries.GraphQueries.coPartPairs(spark, sfDir))
    e1.count(); p1.count() // materialize (Bench does this via warmShared)
    // degree_stats is the clean plan signal: it has NO entry-local cache,
    // so an InMemoryTableScan in its plan can only be the shared memo
    // (pagerank/jaccard cache per-entry frames and would pass vacuously)
    assert(planOf("graph_degree_stats").contains("InMemoryTableScan"),
      "graph_degree_stats must read the shared edge memo, not re-derive it")
    assert(Catalog.byKey("graph_degree_stats").run(spark, sfDir).count() > 0)
  }

  test("join_smj_facts sort-merge-joins the two facts") {
    assert(planOf("join_smj_facts").contains("SortMergeJoin"))
  }

  test("join_star_multiway broadcasts all three dims") {
    val p = planOf("join_star_multiway")
    assert(p.contains("BroadcastHashJoin"))
    // the fact-fact edge (lineitem ⋈ orders) must NOT be broadcast at scale;
    // at sf0.001 AQE may broadcast it legitimately, so only assert presence
    // of a join, not its kind, on that edge.
  }

  test("src_scan_project pushes the filter into the parquet scan") {
    val p = planOf("src_scan_project")
    assert(p.contains("PushedFilters: [") && p.contains("LessThan(l_shipdate"),
      s"expected pushed l_shipdate filter in:\n$p")
  }

  test("src_scan_project prunes columns at the scan (no full-row read)") {
    val p = planOf("src_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice"),
      s"scan reads pruned column: $readSchema")
  }

  test("subq_correlated_exists decorrelates to a semi join") {
    assert(planOf("subq_correlated_exists").toLowerCase.contains("semi"))
  }

  test("subq_in becomes a semi join, not a per-row subquery") {
    assert(planOf("subq_in").toLowerCase.contains("semi"))
  }

  test("join_left_anti plans an anti join") {
    assert(planOf("join_left_anti").toLowerCase.contains("anti"))
  }

  test("subq_not_in_nulls plans a NULL-aware anti join for the nullable set") {
    // the null_not_in flavor must NOT degrade to a plain anti join — Spark
    // prints BroadcastHashJoinExec's isNullAwareAntiJoin flag as a trailing
    // bare `true` on the LeftAnti node (no "NAAJ" label in 4.1's toString)
    val p = planOf("subq_not_in_nulls")
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"no null-aware anti join in:\n${p.take(4000)}")
  }

  test("subq_recursive_cte runs the iterative union loop, not a cartesian") {
    val p = planOf("subq_recursive_cte")
    assert(!p.contains("CartesianProduct"), s"cartesian in recursion:\n${p.take(2000)}")
  }

  test("vec_cosine_knn broadcasts the query vector side") {
    assert(planOf("vec_cosine_knn").contains("Broadcast"))
  }

  test("sort_multi_limit uses TakeOrderedAndProject (no global sort)") {
    assert(planOf("sort_multi_limit").contains("TakeOrderedAndProject"))
  }

  test("sink_bucketed_join sort-merge-joins without a shuffle on either side") {
    // textual walk (the plan sits inside AdaptiveSparkPlan, which collect()
    // does not descend into): everything printed after the SortMergeJoin
    // line is its subtree — the bucketed scans — and must hold no Exchange
    val plan = Catalog.byKey("sink_bucketed_join").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    val atJoin = plan.indexOf("SortMergeJoin")
    assert(atJoin >= 0, s"expected SortMergeJoin in:\n$plan")
    val subtree = plan.substring(atJoin)
    assert(subtree.contains("Bucketed: true"), s"scan not bucketed:\n$subtree")
    assert(!subtree.contains("Exchange"), s"bucketed join still shuffles:\n$subtree")
  }

  test("partitioned sink readback prunes partitions on the year predicate") {
    // the sink entry lays out /o_year=YYYY/ dirs; a year-filtered read
    // must show the predicate as a PartitionFilter (directory pruning),
    // not a data filter
    Catalog.byKey("sink_partitioned_write").run(spark, sfDir).collect()
    val sink = graft.queries.Util.scratchDir("partitioned_sink", sfDir)
    val pruned = spark.read.parquet(sink)
      .where(org.apache.spark.sql.functions.col("o_year") === 1997)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"),
      s"no partition pruning in:\n$plan")
    val pf = plan.linesIterator.mkString
    assert(pf.indexOf("1997") > pf.indexOf("PartitionFilters"),
      s"year predicate not in PartitionFilters:\n$plan")
  }

  test("flagship pipeline stays inside WholeStageCodegen spans") {
    // codegen subtrees are only visible in CodegenMode (the pre-AQE
    // formatted plan hides them behind AdaptiveSparkPlan)
    val cg = Catalog.byKey("agg_pricing_summary").run(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(cg.contains("WholeStageCodegen"), s"no codegen span in:\n$cg")
  }

  test("runtime bloom filter prunes the fact side of a filtered shuffle join (VERDICT r2 #8)") {
    // Finding first, then the assertion: with DEFAULT confs, injectRuntimeFilter
    // can never fire at local test scale — the application side must scan
    // > spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold
    // (default 10GB) and the join must be a shuffle join (our dims broadcast
    // below the 10MB autoBroadcastJoinThreshold). At 100 TB both conditions
    // hold naturally on join_smj_facts-shaped plans. To document the behavior
    // executably, a sibling session lowers the scan threshold and disables
    // broadcast: Spark then plans bloom_filter_agg on the filtered creation
    // side and BloomFilterMightContain ahead of the fact scan — the runtime
    // row-level pruning that cuts shuffle volume before the join.
    // r20 note: this test pins the SCALE posture, where the scan-parallelism
    // floor (graft.tables.minParallelism) is structurally absent — a
    // warehouse scan has thousands of splits, so Tables.load inserts no
    // Repartition. Locally the floor's Repartition node would block
    // InjectRuntimeFilter (the rule's application-side pattern does not
    // traverse Repartition), so pin minParallelism=0 here; the interaction
    // is local-only by construction and documented in OPTIMIZATION_r20.md.
    val s = spark.newSession()
    s.conf.set("graft.tables.minParallelism", "0")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val o = Tables.orders(s, sfDir)
    val c = Tables.customer(s, sfDir)
      .where(org.apache.spark.sql.functions.col("c_mktsegment") === "BUILDING")
    val joined = o.join(c,
      org.apache.spark.sql.functions.col("o_custkey") ===
        org.apache.spark.sql.functions.col("c_custkey"))
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(optimized.contains("might_contain") || optimized.contains("bloom_filter"),
      s"no bloom runtime filter injected:\n$optimized")
    // and with default thresholds the same shape must NOT inject (documents
    // why join_smj_facts shows no bloom filter at sf0.1)
    val s2 = spark.newSession()
    s2.conf.set("graft.tables.minParallelism", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined2 = Tables.orders(s2, sfDir).join(
      Tables.customer(s2, sfDir)
        .where(org.apache.spark.sql.functions.col("c_mktsegment") === "BUILDING"),
      org.apache.spark.sql.functions.col("o_custkey") ===
        org.apache.spark.sql.functions.col("c_custkey"))
    val optimized2 = joined2.queryExecution.optimizedPlan.toString
    assert(!optimized2.contains("might_contain") && !optimized2.contains("bloom_filter"),
      s"bloom filter unexpectedly injected at default thresholds:\n$optimized2")
  }

  test("z-order layout skips more row groups than a linear sort on a 2-D box (SURVEY §8.1.5)") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_zorder_proof"
    // many small files -> one row group each -> row-group stats ARE file
    // stats; both layouts get identical file counts so only ORDER differs.
    // Granularity matters: simulated on this data, the z layout only beats
    // the linear sort from ~48 chunks up (curve fragmentation dominates
    // below that) — 96 files gives a stable margin (~820 vs ~1510 rows)
    graft.queries.ScanQueries.withZKey(li, "l_partkey", "l_suppkey")
      .repartitionByRange(96, col("zkey")).sortWithinPartitions(col("zkey"))
      .drop("zkey")
      .write.mode("overwrite").parquet(s"$tmp/z")
    li.repartitionByRange(96, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite").parquet(s"$tmp/linear")

    // scan numOutputRows counts rows in the row groups that SURVIVED
    // parquet min/max pruning (the Filter node re-filters above the scan);
    // no exchange in a filter+collect plan, so no AQE wrapper to unwrap
    def rowsScanned(path: String): Long = {
      val df = spark.read.parquet(path)
        .where(col("l_partkey").between(50, 99) && col("l_suppkey").between(2, 4))
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, "no FileSourceScanExec in plan")
      scans.map(_.metrics("numOutputRows").value).sum
    }
    val z = rowsScanned(s"$tmp/z")
    val linear = rowsScanned(s"$tmp/linear")
    // the linear layout prunes on l_partkey only (its leading column);
    // the z layout's row groups bound BOTH columns, so strictly fewer
    // rows survive pruning for the same 2-D box
    assert(z < linear,
      s"z-order scanned $z rows vs linear $linear — no 2-D skipping benefit")
  }

  test("agg_pricing_summary runs a partial (map-side) aggregate") {
    val p = planOf("agg_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected partial aggregation in:\n$p")
  }

  test("etl_incremental_load broadcasts the 1-row watermark, not the source") {
    // the hwm aggregate must reach the `> hwm` filter as a broadcast of ONE
    // row; if the orders side were broadcast instead the plan dies at 100 TB
    val p = planOf("etl_incremental_load")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast of the watermark row in:\n$p")
    // and the initial-load leg's date predicate is pushed into the scan
    assert(p.contains("PushedFilters: [") && p.contains("o_orderdate"),
      s"expected pushed o_orderdate filter in:\n$p")
  }

  test("etl_cdc_diff full-outer-joins on the key (shuffle join, not nested loop)") {
    val p = planOf("etl_cdc_diff")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected a keyed shuffle join in:\n$p")
    assert(p.contains("FullOuter"), s"expected FullOuter join type in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"CDC diff must not degrade to a nested-loop join:\n$p")
  }

  test("join_asof_sorted contains NO join — single-shuffle carry-forward window") {
    // the whole point of the sorted-merge as-of: same result as the
    // join+rank decomposition with zero per-user fan-out
    val p = planOf("join_asof_sorted")
    assert(!p.contains("Join"), s"sorted as-of must not plan a join:\n$p")
    assert(p.contains("Window"), s"expected the carry-forward window in:\n$p")
  }

  test("agg_topk_sketch aggregates the sketch with a partial (map-side) phase") {
    // TypedImperativeAggregate plans as ObjectHashAggregate; the partial
    // phase is what keeps the shuffle at |cells|×capacity counters instead
    // of the raw key stream — the sketch's whole reason to exist at 100 TB
    val p = planOf("agg_topk_sketch")
    assert(p.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$p")
    assert(p.contains("partial_topk_sketch_agg"),
      s"expected partial sketch aggregation in:\n$p")
  }

  test("join_skew_salted joins on the salted key and never broadcasts") {
    // the pattern targets dims past the broadcast threshold: the join keys
    // must carry the salt (that's what spreads the hot key over 16 tasks)
    // and neither side may be broadcast — a broadcast would mean the salt
    // machinery exercised nothing
    val p = planOf("join_skew_salted")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"expected a shuffle join in:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"salted join must not broadcast:\n$p")
    assert(p.contains("fsalt"), s"expected the salt in the join keys:\n$p")
  }

  test("dedup_exact_substring is join-linear: no self-join of the corpus") {
    // cross-doc span detection must come from the inverted gram count, not
    // doc×doc pairing — the entry's whole claim is linearity in tokens
    val p = planOf("dedup_exact_substring")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span dedup must not pair documents:\n$p")
    assert(p.contains("partial_count"), s"expected map-side combine in:\n$p")
  }

  test("etl_shard_export windows per shard, not over a global order") {
    // a global-order window (empty partition spec) serializes the corpus
    // through one task — the export must hash-partition by shard
    val p = planOf("etl_shard_export")
    assert(p.contains("hashpartitioning(shard"),
      s"expected shard hash partitioning in:\n$p")
  }

  test("subq_correlated_scalar decorrelates to an aggregate + outer join") {
    // per-customer MAX lookup must become ONE pre-aggregated join, not
    // |customer| re-scans of orders
    val p = planOf("subq_correlated_scalar")
    assert(p.contains("Join"), s"expected the decorrelated join in:\n$p")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"expected the pre-aggregated subquery side in:\n$p")
  }

  test("join_range_bucketed equi-joins on the bucket grid — no nested loop, no broadcast") {
    // the entry's claim: a range join both of whose sides are fact-sized
    // still plans as a keyed shuffle join via interval bucketing
    val p = planOf("join_range_bucketed")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"expected a keyed shuffle join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bucketed range join must not nested-loop:\n$p")
    assert(p.contains("bucket"), s"expected the bucket key in:\n$p")
  }

  test("join_interval_overlap sweep-counts — no pair join, bucketed windows only") {
    // r18 shape: n_concurrent comes from two endpoint ranks (A − B − 1),
    // never from materializing overlapping session pairs (the former grid
    // join grew quadratically in a fixed time window — cliff 9, caught by
    // CliffCanarySpec). Pins: no nested loop, the rank windows are
    // bucket-PARTITIONED (the only unpartitioned window allowed is the
    // cumulative offset over the small per-bucket aggregate), and no
    // session-pair equi-join survives anywhere.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = Catalog.byKey("join_interval_overlap").run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval overlap must sweep-count, not nested-loop:\n$p")
    assert(p.contains("bucket"), s"expected the bucket key in:\n$p")
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case q => q
    }
    plan.collect { case w: WindowExec => w }
      .filter(_.partitionSpec.isEmpty).foreach { w =>
        val aggsBelow = w.child.collect { case a: BaseAggregateExec => a }
        assert(aggsBelow.nonEmpty,
          s"unpartitioned WindowExec over unaggregated session rows:\n$p")
      }
  }

  test("udf_sql_function inlines to pure expressions — no UDF call in the plan") {
    // the entry's claim: a SQL-defined function is an abstraction with
    // zero execution cost — Catalyst resolves the body into the plan, so
    // nothing UDF-shaped survives (contrast udf_scalar_expr, which keeps
    // its ScalaUDF node and breaks codegen)
    val p = planOf("udf_sql_function")
    assert(!p.contains("ScalaUDF"), s"SQL function body not inlined:\n$p")
    val scalaUdfPlan = planOf("udf_scalar_expr")
    assert(scalaUdfPlan.contains("UDF"), // the contrast is real, not vacuous
      s"expected the JVM UDF exemplar to retain its UDF node:\n$scalaUdfPlan")
  }

  test("join_spatial_grid equi-joins on cell keys — no nested loop") {
    // the entry's claim: 2-D proximity planned as a keyed join over grid
    // cells (3×3 neighborhood explode on the small side), never a
    // cartesian distance filter
    val p = planOf("join_spatial_grid")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected a keyed join on the cell grid in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"spatial grid join must not nested-loop:\n$p")
  }

  test("join_null_safe plans the null-safe key as a hash join") {
    val p = planOf("join_null_safe")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"null-safe equality must stay a keyed join:\n$p")
  }

  test("graph_pagerank aggregates contributions with no collect_list buffering") {
    // the 100-TB guarantee: a hot node's in-neighborhood is combined
    // map-side by a plain long SUM partial aggregate — never materialized
    // into a per-node array
    val p = planOf("graph_pagerank")
    assert(!p.contains("collect_list"),
      s"pagerank must not buffer per-node contribution lists:\n$p")
    assert(p.contains("partial_sum"),
      s"expected map-side combine of contributions in:\n$p")
  }

  test("text_unigram_logprob broadcasts only the 1-row total") {
    // the token-count join is token-keyed (both sides shuffled); the only
    // broadcast is the single-row corpus total
    val p = planOf("text_unigram_logprob")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected the 1-row total broadcast in:\n$p")
    assert(p.contains("partial_count"), s"expected map-side combine in:\n$p")
  }

  test("vec_hamming_knn broadcasts the query side — corpus never shuffles for the join") {
    val p = planOf("vec_hamming_knn")
    assert(p.contains("BroadcastExchange"),
      s"expected broadcast query side in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"hamming scan must not shuffle the corpus for the join:\n$p")
  }

  test("vec_prefix_rerank broadcasts q; pair stream sheds vectors before the windows") {
    // r20 contract (the pre-r20 shape OOM'd at 100×: 238M pair rows ×
    // ~1.2 KB of carried vectors spilling through two window sorts):
    //  - the q side rides broadcast joins only (stage1 AND the qv rerank
    //    join-back) — no shuffle keyed on qid pairs;
    //  - the window input projects only (qid, cid, psim, salt) — neither
    //    vector column may appear under a window sort;
    //  - ONE corpus-keyed shuffle is allowed and expected: the cid
    //    join-back that rehydrates cv for the ≤50-per-query survivors
    //    (O(n) rows once, vs O(n²/167) pair rows with vectors).
    val p = planOf("vec_prefix_rerank")
    assert(p.contains("BroadcastExchange"),
      s"expected broadcast query side in:\n$p")
    // the shed projection: a Project carrying psim but NO vector column
    // must sit between stage1 and the windows
    val shed = p.linesIterator.exists(l =>
      l.contains("Project [") && l.contains("psim") &&
        !l.contains("qv") && !l.contains("cv") &&
        !l.contains("qp") && !l.contains("cp"))
    assert(shed,
      s"expected a vector-free (qid, cid, psim, salt) projection before the windows:\n$p")
    // the rehydration join: cv re-enters keyed on cid AFTER the cuts
    val rehydrate = p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin [cid") || l.contains("ShuffledHashJoin [cid")
        || l.contains("BroadcastHashJoin [cid")))
    assert(rehydrate,
      s"expected the post-shortlist cid join-back for cv:\n$p")
  }

  test("etl_sessionize_batch runs both windows and the rollup on one user_id shuffle") {
    // two stacked windows + the session rollup must all reuse the single
    // hashpartitioning(user_id) exchange; the only other exchange is the
    // output ORDER BY's range partitioning
    val p = planOf("etl_sessionize_batch")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx in:\n$p")
  }

  test("etl_pack_sequences windows per source — never a global running sum") {
    val p = planOf("etl_pack_sequences")
    assert(p.contains("windowspecdefinition(source"),
      s"expected the cumsum window partitioned by source in:\n$p")
    assert(p.contains("Exchange hashpartitioning(source"),
      s"expected a source-keyed exchange, not SinglePartition, in:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"packing must not funnel through one partition:\n$p")
  }

  test("win_gaps_islands collapses runs with windows only — no self-join") {
    val p = planOf("win_gaps_islands")
    assert(!p.toLowerCase.contains("join"),
      s"gaps-and-islands must not self-join on date+1:\n$p")
  }

  test("text_chunk_windows is generate-only — no shuffle before the output sort") {
    val p = planOf("text_chunk_windows")
    assert(p.contains("Generate explode"), s"expected chunk explode in:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 0,
      s"chunking must be per-row only (no hash exchange), got $hashEx in:\n$p")
  }

  test("etl_late_arriving_dim broadcasts the dim and keeps facts streaming") {
    val p = planOf("etl_late_arriving_dim")
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast dim left join in:\n$p")
  }

  test("etl_fk_orphans broadcasts the dims on the audit edges") {
    val p = planOf("etl_fk_orphans")
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast dim joins in:\n$p")
  }

  test("win_drawdown stacks all three window functions on one user_id sort") {
    val p = planOf("win_drawdown")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx in:\n$p")
  }

  test("agg_mad_robust broadcasts the per-group medians between passes") {
    val p = planOf("agg_mad_robust")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the tiny median frame broadcast in:\n$p")
  }

  test("etl_checksum_reconcile hashes rows map-side — no shuffle before the rollup") {
    // the per-row polynomial hash must fold inside the scan's projection;
    // the only hash exchange is the per-year rollup
    val p = planOf("etl_checksum_reconcile")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash exchange (the rollup), got $hashEx in:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side combine in:\n$p")
  }

  test("win_yoy_growth windows the rollup, never the fact table") {
    // the year aggregation must come BEFORE the unpartitioned lag window:
    // the plan's single-partition exchange feeds a frame of |years| rows.
    // Assert on the structured plan (not text indices): every WindowExec's
    // subtree must contain an aggregate node — i.e. the window consumes the
    // rollup, not the raw facts.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val plan = Catalog.byKey("win_yoy_growth").run(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan // AQE root is a leaf
        case p => p
      }
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected a WindowExec in:\n$plan")
    windows.foreach { w =>
      val aggsBelow = w.child.collect { case a: BaseAggregateExec => a }
      assert(aggsBelow.nonEmpty,
        s"WindowExec must consume the year rollup, not the fact table:\n$plan")
    }
  }

  test("pipeline_quota_sample: three-level salted top-k, first cut never raw lang") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = Catalog.byKey("pipeline_quota_sample").run(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    // windows collect root-first; the plan executes bottom-up, so the LAST
    // collected window is the level-0 cut that sees the raw documents
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.length == 3, s"expected the 3-level reduction tree in:\n$plan")
    assert(windows.count(_.partitionSpec.length == 2) == 2 &&
      windows.count(_.partitionSpec.length == 1) == 1,
      s"expected two salted cuts + one final per-lang rank in:\n$plan")
    assert(windows.last.partitionSpec.length == 2,
      s"the window touching raw documents must be salted, got:\n$plan")
  }

  test("agg_gini_coefficient composite ranks — no unpartitioned window over the facts") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val plan = Catalog.byKey("agg_gini_coefficient").run(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected window ranks in:\n$plan")
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      // the only allowed unpartitioned window is the B-row prefix-offset
      // scan — its input must be an aggregate (per-bucket counts), never
      // the customer fact rows
      val aggsBelow = w.child.collect { case a: BaseAggregateExec => a }
      assert(aggsBelow.nonEmpty,
        s"unpartitioned WindowExec consumes unaggregated facts:\n$plan")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      s"expected the bucket-partitioned local-rank window in:\n$plan")
  }

  test("agg_histogram_equidepth ntiles per status group — no single global sort of the facts") {
    val p = planOf("agg_histogram_equidepth")
    assert(p.contains("Exchange hashpartitioning(o_orderstatus") ||
      p.contains("Exchange hashpartitioning(st"),
      s"expected the group-keyed exchange for the ntile window in:\n$p")
  }

  test("vec_kmeans_lloyd assignment is join-free (broadcast-literal centroids)") {
    // the returned frame is assign₂+update₂: one generate + one keyed agg.
    // A join anywhere would mean the centroids were NOT a k×d broadcast —
    // the exact shape that stops scaling at 100 TB.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec}
    val plan = Catalog.byKey("vec_kmeans_lloyd").run(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.isEmpty, s"k-means assignment must not join:\n$plan")
  }

  test("graph_triangle_count closes wedges with equi-joins only") {
    // degree-ordered orientation keeps the closure a hash-join on (u, v)
    // pairs; a nested-loop over DATA is the quadratic failure mode. The
    // only allowed nested loops are the final 1-row metric crosses — every
    // BNLJ build side must be a scalar (ungrouped) aggregate.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // the entry materializes its 1-row result and returns a local frame
    // (round-12 cache hygiene), so assert on the closure plan via the
    // triangleSummary test seam instead of the returned DataFrame
    val (summary, caches) = graft.queries.GraphQueries.triangleSummary(spark, sfDir)
    val plan = summary
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    caches.foreach(_.unpersist(blocking = false))
    assert(!plan.toString.contains("CartesianProduct"))
    plan.collect { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
      val scalarAgg = j.right.collect {
        case a: BaseAggregateExec if a.groupingExpressions.isEmpty => a
      }
      assert(scalarAgg.nonEmpty,
        s"nested-loop join over non-scalar data in triangle closure:\n$plan")
    }
  }

  test("agg_winsorized broadcasts the per-segment bounds back to the facts") {
    assert(planOf("agg_winsorized").contains("BroadcastHashJoin"),
      "the |segments|-row bounds frame must broadcast, not shuffle the facts")
  }

  test("agg_assoc_rules pairs baskets with an equi-join, counts broadcast") {
    val p = planOf("agg_assoc_rules")
    assert(!p.contains("CartesianProduct"),
      s"basket pairing must be keyed on basket, not enumerated:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the |items|-row count frames must broadcast:\n$p")
  }

  test("win_rolling_corr window is month-partitioned (never a global sort)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = Catalog.byKey("win_rolling_corr").run(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"expected only partitioned windows in:\n$plan")
  }

  test("etl_k_anonymize group-size window partitions by the QID key") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = Catalog.byKey("etl_k_anonymize").run(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.size >= 3),
      s"expected the 3-column QID-partitioned count window in:\n$plan")
  }

  test("vec_knn_graph ranks per src (partitioned window over the pair frame)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = Catalog.byKey("vec_knn_graph").run(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"expected the src-partitioned top-k window in:\n$plan")
  }
  test("sink_bloom_write pushes the IN-list probe into the bloomed scan") {
    // the probe must reach the readback scan as PushedFilters (In on
    // l_orderkey) — that is the hook the parquet reader's per-row-group
    // bloom consult hangs off; a post-scan filter would read every group
    val p = planOf("sink_bloom_write")
    assert(p.contains("PushedFilters: [") && p.contains("In(l_orderkey"),
      s"expected pushed In(l_orderkey) probe in:\n$p")
  }
  test("CostBasedJoinReorder flips a stats-bad syntactic join order (SURVEY §4)") {
    // the one §4 behavior never exercised before round 11: with ANALYZE-
    // computed stats and CBO on, the optimizer must rewrite the syntactic
    // (lineitem ⋈ orders) ⋈ σ(customer) chain — two facts first, the worst
    // order — into lineitem ⋈ (orders ⋈ σ(customer)), because the filtered
    // dim collapses the orders side before the fact join. Without CBO the
    // syntactic order survives, proving the flip is stats-driven.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def leafTables(p: LogicalPlan): Set[String] = p.collectLeaves().flatMap {
      case r: LogicalRelation => r.catalogTable.map(_.identifier.table)
      case _ => None
    }.toSet
    def innermostJoinTables(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.nonEmpty, "no join in the optimized plan")
      // the innermost join contains no further join below it
      val inner = joins.filter(j => j.collect { case jj: Join => jj }.size == 1)
      assert(inner.size == 1, s"expected one innermost join, got ${inner.size}")
      leafTables(inner.head)
    }
    val sql = """SELECT l.l_orderkey, o.o_custkey, c.c_mktsegment
                |FROM cbo_lineitem l
                |JOIN cbo_orders o ON l.l_orderkey = o.o_orderkey
                |JOIN cbo_customer c ON o.o_custkey = c.c_custkey
                |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin
    val s = spark.newSession()
    try {
      Tables.lineitem(s, sfDir).select("l_orderkey", "l_partkey", "l_quantity")
        .write.mode("overwrite").saveAsTable("cbo_lineitem")
      Tables.orders(s, sfDir).select("o_orderkey", "o_custkey")
        .write.mode("overwrite").saveAsTable("cbo_orders")
      Tables.customer(s, sfDir).select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").saveAsTable("cbo_customer")
      for (t <- Seq("cbo_lineitem", "cbo_orders", "cbo_customer")) {
        s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
        s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      // without CBO: the syntactic fact-fact join stays innermost
      s.conf.set("spark.sql.cbo.enabled", "false")
      assert(innermostJoinTables(s.sql(sql)) == Set("cbo_lineitem", "cbo_orders"),
        "baseline: expected the syntactic order without CBO")
      // with CBO + computed stats: the selective dim join moves innermost
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      assert(innermostJoinTables(s.sql(sql)) == Set("cbo_orders", "cbo_customer"),
        "CBO with stats should join orders to the filtered customer first")
    } finally {
      for (t <- Seq("cbo_lineitem", "cbo_orders", "cbo_customer"))
        s.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
  test("text_vocab_growth broadcasts the 10-row cutoff frame (bounded expansion)") {
    // the decile join is an inequality (doc_id < cutoff) — a nested-loop
    // by nature. Correct at scale ONLY because the loop side is the 10-row
    // cutoff table, broadcast: the corpus streams once with a x10 bounded
    // fan-out, never a corpus-vs-corpus product
    val p = planOf("text_vocab_growth")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast NLJ on the cutoff frame in:\n$p")
  }

  test("AQE skew-join splits the hot partition of an SMJ (round 13, SkewProbe twin)") {
    import org.apache.spark.sql.functions._
    // Finding first (measured at 10x, BASELINE.md round-13 skew-join
    // probe): OptimizeSkewedJoin fires only when BOTH SMJ children are
    // Sort <- ShuffleQueryStage with ENSURE_REQUIREMENTS, and only past
    // cluster-sized byte thresholds.
    // Here the thresholds are lowered to spec scale and the dim side is a
    // parquet round-trip (a .distinct() dim leaves a post-shuffle agg under
    // the Sort and DISABLES skew handling - pinned as part 2).
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1k")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512b")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    // repartition(8): sf0.001 lineitem is ONE parquet file = ONE map task,
    // and a skewed reduce partition fed by a single map output has no
    // map-range to split along - OptimizeSkewedJoin can then never fire.
    // (At real scale the fact side always has many mappers; this pins the
    // same multi-mapper shape at spec scale.)
    def skewedFact(sess: org.apache.spark.sql.SparkSession) =
      Tables.lineitem(sess, sfDir).select(col("l_orderkey"), col("l_quantity"))
        .repartition(8)
        .withColumn("k", when(pmod(col("l_orderkey"), lit(10)) < 9, lit(0L))
          .otherwise(col("l_orderkey")))
    // per-run path (applicationId suffix): a fixed name let two concurrent
    // test JVMs on one host clobber each other's parquet mid-read
    val dimPath = s"${sys.props("java.io.tmpdir")}/graft_skewspec_dim_" +
      s.sparkContext.applicationId
    skewedFact(s).select(col("k")).distinct()
      .withColumn("w", pmod(col("k"), lit(97)).cast("long"))
      .write.mode("overwrite").parquet(dimPath)
    val j = skewedFact(s).join(s.read.parquet(dimPath), "k")
      .select(count(lit(1)).as("n"), sum(col("l_quantity") * col("w")).as("v"))
    val row = j.collect()(0) // execute THIS queryExecution (head() would run its own)
    val planStr = j.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(planStr.contains("skew=true"), s"no skew split in final plan:\n$planStr")
    // part 2 - the silent-disable gotcha: an in-plan .distinct() dim puts a
    // HashAggregate between the join's Sort and the shuffle stage, and the
    // rule no longer matches even though the fact side is just as skewed
    val jBlocked = skewedFact(s).join(
      skewedFact(s).select(col("k")).distinct()
        .withColumn("w", pmod(col("k"), lit(97)).cast("long")), "k")
      .select(count(lit(1)).as("n"), sum(col("l_quantity") * col("w")).as("v"))
    val rowB = jBlocked.collect()(0)
    val planB = jBlocked.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(!planB.contains("skew=true"),
      s"skew split unexpectedly fired through the aggregated dim:\n$planB")
    // both spellings agree on the result regardless of the split
    assert(row.getLong(0) == rowB.getLong(0) && row.getDouble(1) == rowB.getDouble(1))
  }
  test("opt_cbo_stats_join: collected stats flip the static first-join SMJ→BHJ with no hint") {
    // Twin PARTITIONED catalog tables with NO statistics: a partitioned
    // catalog table's CatalogFileIndex reports
    // spark.sql.defaultSizeInBytes = Long.Max until ANALYZE runs (an
    // unpartitioned data-source table would leak its real size through
    // the file listing — verified while building this test), so the
    // STATIC planner can only choose SortMergeJoin. AQE could convert it
    // at runtime — but only after the first shuffle is written, which is
    // the 100-TB cost the stats exist to avoid.
    import org.apache.spark.sql.functions.col
    val (_, _, custCold, ordsCold) =
      graft.queries.JoinQueries.cboTables(spark, sfDir)
    val cold = spark.table(ordsCold)
      .join(spark.table(custCold), col("o_custkey") === col("c_custkey"))
    val coldPlan = cold.queryExecution.sparkPlan.toString
    assert(coldPlan.contains("SortMergeJoin"),
      s"without stats the static planner must fall back to SMJ:\n$coldPlan")
    assert(!coldPlan.contains("BroadcastHashJoin"))
    // The entry stages ANALYZEd twins of the same tables: the static plan
    // must pick BroadcastHashJoin from the collected sizeInBytes alone —
    // the entry's code carries no broadcast() and no hint.
    val hot = Catalog.byKey("opt_cbo_stats_join").run(spark, sfDir)
    val hotPlan = hot.queryExecution.sparkPlan.toString
    assert(hotPlan.contains("BroadcastHashJoin"),
      s"with collected stats the static planner must pick BHJ un-hinted:\n$hotPlan")
    assert(hot.count() > 0)
  }

  test("etl_pipeline_e2e returns the export readback and reuses the staged landing zone") {
    // Artifact-flow contract (VERDICT r16 #4): the returned frame must be
    // the SINK READBACK (a parquet scan of the export dir — proving what
    // landed), never a recomputation of the rollup from the source tables.
    val df1 = Catalog.byKey("etl_pipeline_e2e").run(spark, sfDir)
    val plan1 = df1.queryExecution.executedPlan.toString
    assert(plan1.contains("graft_e2e_export_"),
      s"final plan must scan the partitioned export, got:\n$plan1")
    assert(!plan1.contains("orders.parquet") && !plan1.contains("customer.parquet"),
      s"final plan recomputes from source tables instead of reading the sink:\n$plan1")
    assert(df1.count() > 0)
    // Landing-zone write-once: the CSV staging is the UPSTREAM feed, not
    // the pipeline's product — a second invocation must consume the same
    // files, not rewrite them (mtime-stable), while the export rewrite is
    // the pipeline's job and does happen per run.
    val csvDir = new java.io.File(
      graft.queries.Util.scratchDir("e2e_orders_csv", sfDir))
    assert(csvDir.isDirectory, s"landing zone missing at $csvDir")
    val before = csvDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    val df2 = Catalog.byKey("etl_pipeline_e2e").run(spark, sfDir)
    assert(df2.count() > 0)
    val after = csvDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == before,
      s"landing zone rewritten on second invocation: before=$before after=$after")
  }

  test("dedup_containment: pair probe on a non-coalesced exchange, repCounts broadcast, one-job dictionary") {
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, REPARTITION_BY_NUM, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    object aqe extends AdaptiveSparkPlanHelper
    // (streamed, build) children of a broadcast hash join
    def sides(j: BroadcastHashJoinExec): (SparkPlan, SparkPlan) =
      if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight) (j.left, j.right)
      else (j.right, j.left)
    // the benchmark posture: tables cached, and a fresh session per run, so
    // the encode memo is cold and the parquet schema is already known
    val docs = Tables.documents(spark, sfDir)
    docs.cache(); docs.count()
    // the two encodings: the entry (mask path on this corpus) and the
    // general sorted-array builder
    val builds = Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      "mask" -> Catalog.byKey("dedup_containment").run,
      "general" -> graft.queries.TextQueries.containmentGeneral)
    // runs a build in a fresh session; returns the output, the executed
    // plan and the number of jobs the builder ran
    def run(path: String, confs: (String, String)*): (Seq[String], SparkPlan, Int) = {
      val session = spark.newSession()
      confs.foreach { case (k, v) => session.conf.set(k, v) }
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val df = try {
        val d = builds(path)(session, sfDir)
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        d
      } finally spark.sparkContext.removeSparkListener(listener)
      val built = jobs.get
      val out = rowsOf(df) // AQE finalizes the plan
      (out, df.queryExecution.executedPlan, built)
    }
    try {
      // both encodings, at Spark's default broadcast threshold (the sf0.001
      // documents fit it, so the broadcast plan runs)
      val outs = for ((path, maxJobs) <- Seq("mask" -> 1, "general" -> 0)) yield {
        val (out, plan, built) = run(path)
        val tag = s"$path path"
        // the mask builder's only job is the token dictionary (the load
        // reuses the table's schema and the mask frame is cached lazily);
        // the general path's builder runs none
        assert(built <= maxJobs, s"$tag: builder ran $built jobs, expected <= $maxJobs")
        val pairs = aqe.collect(plan) {
          case j: BroadcastHashJoinExec if j.joinType == Inner => j
        }
        assert(pairs.size == 1, s"$tag: expected one pair join in:\n$plan")
        val (probe, _) = sides(pairs.head)
        // 1. the probe side sits under a REPARTITION_BY_NUM exchange (AQE
        // never coalesces it), so the probe runs at the full shuffle width
        val probeEx = aqe.collectFirst(probe) { case e: ShuffleExchangeLike => e }
        assert(probeEx.exists(_.shuffleOrigin == REPARTITION_BY_NUM),
          s"$tag: pair probe is not under a REPARTITION_BY_NUM exchange:\n$plan")
        assert(probe.outputPartitioning.numPartitions ==
            spark.sessionState.conf.numShufflePartitions,
          s"$tag: pair probe runs on fewer partitions than spark.sql.shuffle.partitions:\n$plan")
        // 2. repCounts reaches the doc-level join-back as a broadcast
        val joinBack = aqe.collect(plan) {
          case j: BroadcastHashJoinExec if j.joinType == LeftOuter => j
        }
        assert(joinBack.exists(j => aqe.find(sides(j)._2) {
            case p: BroadcastHashJoinExec => p.joinType == Inner
            case _ => false
          }.nonEmpty),
          s"$tag: repCounts does not reach the join-back through a broadcast:\n$plan")
        // 3. the stage feeding the output sort holds no pair work, so the
        // range-partition sample job re-reads the docs only
        def stageLocal(p: SparkPlan): Seq[SparkPlan] = p match {
          case _: QueryStageExec | _: ShuffleExchangeLike | _: BroadcastExchangeLike => Nil
          case _ => p +: p.children.flatMap(stageLocal)
        }
        val sortEx = aqe.collectFirst(plan) {
          case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
        }
        assert(sortEx.nonEmpty, s"$tag: no range exchange for the output sort in:\n$plan")
        assert(!stageLocal(sortEx.get.child).exists {
            case j: BroadcastHashJoinExec => j.joinType == Inner
            case _ => false
          }, s"$tag: the pair join runs inside the stage that feeds the output sort:\n$plan")
        out
      }
      assert(outs(0) == outs(1), "mask and general paths disagree")
      // with size-based broadcasts off, both paths fall back to Spark's own
      // join choice: nothing is broadcast, and the output is unchanged
      for (path <- Seq("mask", "general")) {
        val (out, plan, _) = run(path, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        assert(aqe.collect(plan) { case b: BroadcastExchangeLike => b }.isEmpty,
          s"$path path: broadcast despite autoBroadcastJoinThreshold=-1:\n$plan")
        assert(out == outs(0), s"$path path: fallback plan changed the output")
      }
    } finally docs.unpersist(blocking = true)
  }
}
