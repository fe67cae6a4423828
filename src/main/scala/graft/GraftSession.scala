package graft

import org.apache.spark.sql.SparkSession

/** The engine's session factory — one place for the configuration that
  * makes the catalog correct and scale-shaped, whether the caller is the
  * local harness (local[32]) or a production cluster (spark-submit sets
  * master/memory; the SQL knobs below still apply).
  *
  * Knobs and why:
  *  - shuffle.partitions: sized to cores locally; on a real cluster set
  *    ~2-3× total executor cores, or leave AQE coalescing to trim (it is
  *    on by default in Spark 4 and we keep it on).
  *  - session timezone UTC: the determinism contract (SURVEY §1.3) — all
  *    oracle comparisons assume it.
  *  - parquet TIMESTAMP_MICROS: int64 µs is the physical type every
  *    reader in the toolchain (DuckDB, pyarrow, Spark) maps 1:1.
  *  - files.maxPartitionBytes stays default (128 MB): right for the
  *    100 TB design point — ~800k input splits over 1000 executors; do
  *    NOT shrink it for small local files, AQE already coalesces tiny
  *    post-shuffle partitions.
  *  - artifact isolation off: Spark 4 otherwise gives every session,
  *    including each `newSession()` child, its own executor class loader,
  *    and the codegen cache is keyed by class loader, so every child
  *    re-compiles every generated class and runs it before the JIT has
  *    compiled it. Off, one loader serves every session of the JVM and a
  *    generated class compiles once. Safe here: nothing in graft adds
  *    per-session artifacts (no `addArtifact`, `addJar` or `ADD JAR`),
  *    and graft is not a Spark Connect server. The setting is read only
  *    when a session is created, so an extension cannot set it: a session
  *    graft does not build (the `spark.sql.extensions=graft.GraftExtensions`
  *    route) needs `--conf spark.sql.artifact.isolation.enabled=false` on
  *    spark-submit. A multi-tenant deployment that adds JARs per session
  *    should keep isolation on.
  *  - codegen cache sized to the catalog (`spark.sql.codegen.cache.maxEntries`
  *    4096; Spark's default is 100): the cache of compiled generated
  *    classes is a JVM-wide LRU, and one entry's cold run alone compiles
  *    dozens of classes, so at the default every later pass evicts classes
  *    and compiles them again, then runs them in the interpreter until the
  *    JIT catches up. A full-catalog pass at sf0.001 on local[4] compiles
  *    3,087 distinct classes, and 4096 keeps them all with headroom; a
  *    second pass in a child session then compiles 32 (5,147 at the
  *    default). Metaspace read 251 MB after the first pass (242 MB at the
  *    default) and 255 MB after the second (269 MB). This is a static
  *    conf that Spark reads once per JVM, when `CodeGenerator` first
  *    loads, so it takes effect only if the first session of the JVM sets
  *    it: a session graft does not build needs
  *    `--conf spark.sql.codegen.cache.maxEntries=4096` on spark-submit.
  *  - no stage id in generated class names
  *    (`spark.sql.codegen.useIdInClassName=false`): AQE numbers
  *    whole-stage codegen stages in the order it creates query stages,
  *    which races between sibling shuffles, and the number is part of the
  *    class text, so the same plan could miss the cache on numbering
  *    alone. A runtime SQL conf; on spark-submit pass it with `--conf` too.
  *
  * `install` wires in the engine's session-scoped extensions (native
  * vector functions + the HOF-fusion optimizer rule) — callable on ANY
  * session, including ones the harness built itself.
  */
object GraftSession {

  /** The engine's session configuration, as a builder. Callers add only
    * what differs: their master and shuffle partitions here, and anything
    * else (extensions) on the returned builder. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  /** Local-mode core count for the engine's mains (`Bench`, `Verify`, the
    * tools): `SPARK_GRAFT_CPUS`, else the machine's cores capped at 32, the
    * reference host's count — never more threads than the machine has. */
  def localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  def build(master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
            shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    install(s)
    s
  }

  /** Idempotently attach the engine's extensions to an existing session.
    * Declarative twin: `spark.sql.extensions=graft.GraftExtensions`
    * ([[GraftExtensions]]) for clusters where session construction isn't
    * ours — both paths read the same function-definition list. */
  def install(spark: SparkSession): Unit = {
    graft.functions.GraftFunctionDefs.ensureRegistered(spark)
    graft.plans.GraftPlans.ensureInstalled(spark)
  }
}
