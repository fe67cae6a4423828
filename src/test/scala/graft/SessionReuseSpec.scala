package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated classes compile once per JVM, not once per session or per
  * pass. Three settings of the engine's session builder ([[GraftSession]])
  * make that hold, and this spec pins the settings and their effect:
  *  - artifact isolation off: Spark's codegen cache is keyed by class
  *    loader, and with per-session isolation every `newSession()` child
  *    gets its own executor class loader;
  *  - the codegen cache sized to 4096 classes: it is a JVM-wide LRU, and at
  *    Spark's default of 100 one pass over a handful of entries evicts
  *    classes the next pass needs;
  *  - no stage id in generated class names: AQE numbers codegen stages in
  *    a racy order, so the same plan could generate a different class. */
class SessionReuseSpec extends SparkSpecBase {

  test("the engine's session builder turns artifact isolation off") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.newSession().conf.get("spark.sql.artifact.isolation.enabled") == "false",
      "a newSession() child does not inherit the setting")
  }

  test("the engine's session builder sizes the codegen cache and drops stage ids from class names") {
    val child = spark.newSession()
    Seq("spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.sql.codegen.useIdInClassName" -> "false").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"the shared session has $k=${spark.conf.get(k)}")
      assert(child.conf.get(k) == v, s"a newSession() child has $k=${child.conf.get(k)}")
    }
  }

  /** Compilations (codegen cache misses) while `keys` run in a fresh child
    * session, builders included. */
  private def compilationsInChild(keys: Seq[String]): Long = {
    val child = spark.newSession()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    keys.foreach { key =>
      Catalog.byKey(key).run(child, sfDir).queryExecution.toRdd.count()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second child session compiles no generated class") {
    val first = compilationsInChild(Seq("dedup_containment"))
    val second = compilationsInChild(Seq("dedup_containment"))
    assert(second == 0,
      s"the second child compiled $second classes (the first compiled $first)")
  }

  /** The benchmark's two workloads (perfbench/workloads.py): the nine
    * `sql_etl` entries and the four `llm_dedup` entries. None is left out:
    * none reads staged input (`stream_tumbling_agg` is a batch aggregate over
    * `events`), and at the spec's scale all thirteen run in seconds. */
  private val benchmarkEntries = Seq(
    "src_scan_project", "scalar_case_when", "join_inner_equi",
    "agg_pricing_summary", "win_topk_per_group", "sort_multi_limit",
    "subq_in", "sink_partitioned_write", "stream_tumbling_agg",
    "dedup_containment", "vec_cosine_knn", "vec_range_search", "vec_ivf_knn")

  test("a second child session running the benchmark's entries compiles no generated class") {
    val first = compilationsInChild(benchmarkEntries)
    val second = compilationsInChild(benchmarkEntries)
    assert(second == 0,
      s"the second child compiled $second classes (the first compiled $first)")
  }
}
