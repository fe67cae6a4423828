package graft

import org.apache.spark.sql.SparkSession

/** The declarative deployment route: `spark.sql.extensions=graft.
  * GraftExtensions` must register the full SQL function surface and the
  * HOF-fusion optimizer rule WITHOUT any imperative install call — this is
  * how a spark-submit cluster picks the engine up. The imperative
  * [[GraftSession.install]] path is exercised by every other spec; both
  * consume [[graft.functions.GraftFunctionDefs]], and this spec is what
  * keeps the declarative leg honest. */
class ExtensionsSpec extends SparkSpecBase {

  test("GraftExtensions (spark.sql.extensions entry point) wires functions + rule") {
    val orig = spark // materialize the shared session (and its context) first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // `spark.sql.extensions` is a STATIC conf read off the SparkContext at
      // its creation, so it cannot be exercised on the suite's shared
      // context; Builder.withExtensions feeds the SAME SparkSessionExtensions
      // object through the same injectFunction/injectOptimizerRule path —
      // what this spec pins is GraftExtensions' wiring, not Spark's conf
      // plumbing.
      val s = GraftSession.builder("local[4]", 4)
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(s ne orig, "builder returned the pre-existing session; extensions untested")

      // every function resolves with NO ensureRegistered call on this session
      assert(math.abs(s.sql(
        "SELECT cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c")
        .head.getDouble(0) - 1.0) < 1e-12)
      assert(s.sql(
        "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head.getDouble(0) == 11.0)
      assert(s.sql(
        "SELECT sorted_intersect_size(array('a','b','c'), array('b','c','d')) AS n")
        .head.getInt(0) == 2)
      val q = s.sql(
        """SELECT kll_quantile(kll_sketch_agg(v, 64), 0.5) AS p50
          |FROM VALUES (1.0d), (2.0d), (3.0d), (4.0d), (5.0d) AS t(v)""".stripMargin)
        .head.getDouble(0)
      assert(q == 3.0, s"kll p50 over 1..5 was $q")
      val top = s.sql(
        """SELECT topk_extract(topk_sketch_agg(k, 8), 1) AS t
          |FROM VALUES ('a'), ('b'), ('b') AS t(k)""".stripMargin)
        .selectExpr("t[0].key AS key", "t[0].cnt AS cnt").head
      assert(top.getString(0) == "b" && top.getLong(1) == 2L)

      // the optimizer rule fires on the idiomatic HOF dot product — inputs
      // come from a parquet scan so neither ConstantFolding nor
      // ConvertToLocalRelation can pre-evaluate the projection
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, sfDir)
        .select(col("embedding").cast("array<double>").as("v")).limit(4)
        .select(aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("d"))
      assert(emb.queryExecution.optimizedPlan.toString.contains("dot_product"),
        s"fusion rule did not rewrite the HOF dot:\n${emb.queryExecution.optimizedPlan}")
      assert(emb.count() == 4)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }
}
