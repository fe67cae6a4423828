package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated classes compile once per JVM, not once per session. Spark's
  * codegen cache is keyed by class loader, and with per-session artifact
  * isolation every `newSession()` child gets its own executor class loader,
  * so each child would re-compile every class its plans generate. The
  * engine's session builder turns the isolation off ([[GraftSession]]), and
  * this spec pins both the setting and its effect. */
class SessionReuseSpec extends SparkSpecBase {

  test("the engine's session builder turns artifact isolation off") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.newSession().conf.get("spark.sql.artifact.isolation.enabled") == "false",
      "a newSession() child does not inherit the setting")
  }

  test("a second child session compiles no generated class") {
    // compilations (codegen cache misses) while the entry runs in a fresh
    // child session, builder included
    def compilationsInChild(): Long = {
      val child = spark.newSession()
      // AQE numbers whole-stage codegen stages in the order their query
      // stages are created, which races between sibling shuffles, and the
      // number is part of the generated class name: without this the same
      // plan can miss the cache on stage numbering alone
      child.conf.set("spark.sql.codegen.useIdInClassName", "false")
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Catalog.byKey("dedup_containment").run(child, sfDir).queryExecution.toRdd.count()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compilationsInChild()
    val second = compilationsInChild()
    assert(second == 0,
      s"the second child compiled $second classes (the first compiled $first)")
  }
}
