package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table loaders for the star-schema test corpus (SURVEY.md §1, FIXTURES.md).
  *
  * All inputs are parquet at `\$sfDir/<name>.parquet`. Parquet carries its own
  * schema, so no inference drift is possible; the vectorized columnar reader
  * plus Catalyst pushdown/pruning make these scans 100-TB-shaped by
  * construction — filters and projections land in the scan node.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The base-table relation, memoized per (session, sfDir, table,
    * scan-parallelism floor) in [[SessionMemo]] — fixed-overhead control
    * (VERDICT r12 #3). Every catalog entry used to rebuild its source
    * DataFrames from `spark.read.parquet`, re-paying file listing, footer
    * schema read, and analysis for the SAME immutable input on every
    * invocation; across the 274-entry bench that re-planning is pure
    * per-action floor. DataFrames are immutable and reusable across
    * queries within a session, so handing every caller the same analyzed
    * relation changes no semantics (the testdata dirs never mutate
    * mid-session). The build caches nothing, so the memo owns no frame
    * here: a caller's own `.cache()` of the relation survives a memo
    * reset. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // scan-parallelism floor (r20 optimization round — rationale and the
    // scale-adaptivity argument live on GraftConf.tablesMinParallelism);
    // resolved here so the memo key carries the posture and an A/B flip
    // of the conf mid-session can never serve the other posture's frame
    val minP = GraftConf.tablesMinParallelism(spark)
    SessionMemo(spark, ("load", sfDir, name, minP)) { _ => doLoad(spark, sfDir, name, minP) }
  }

  private def doLoad(spark: SparkSession, sfDir: String, name: String,
      minParallelism: Int): DataFrame = {
    val base = doRead(spark, sfDir, name)
    // round-robin spread up to the parallelism floor, only when the scan
    // is under it (single-row-group local files → 1 split; at warehouse
    // scale the split count exceeds the floor and this is a no-op). The
    // plan-time getNumPartitions probe launches no job.
    if (minParallelism > 1 && base.rdd.getNumPartitions < minParallelism)
      base.repartition(minParallelism)
    else base
  }

  /** Parquet schemas inferred once per table state and handed to every
    * later read, across sessions. [[load]]'s memo is per session, so each new
    * session's `spark.read.parquet` would otherwise run a footer-inference
    * Spark job per table; this pays off where many sessions share one JVM.
    * The key is the path plus the length and modification time of the
    * path itself (one status call, no listing: the sf directories are
    * immutable, and a table rewritten through Spark replaces its files,
    * which moves the directory's mtime), and the nanosAsLong posture the
    * caller read under (it decides whether a NANOS column infers as
    * LongType). A read with a given schema plans the same relation, so it
    * still hits the shared table cache. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, String), StructType]()

  private def readParquet(spark: SparkSession, path: String, posture: String = "")
      : DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return spark.read.parquet(path) // Spark's own missing-path error
    val st = fs.getFileStatus(p)
    val key = (path, st.getLen, st.getModificationTime, posture)
    Option(schemaCache.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => // infer once, through the read the caller gets
        val df = spark.read.parquet(path)
        if (schemaCache.size > 512) schemaCache.clear()
        schemaCache.put(key, df.schema)
        df
    }
  }

  /** events.ts has shipped in two parquet spellings across testdata
    * generations: TIMESTAMP(NANOS) (which Spark cannot read as a timestamp
    * at all — inference and explicit schema both fail) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (a plain TIMESTAMP_NTZ read). Sniff which one
    * this file is from the inferred schema under `nanosAsLong`: a nanos file
    * surfaces `ts` as LongType (rebuild it by truncating to µs — bit-identical
    * to how DuckDB reads the same column), a µs file surfaces TIMESTAMP_NTZ
    * (take it as-is; DuckDB reads the very same µs values).
    *
    * Either way the column the engine sees is TIMESTAMP_NTZ (round-2 fix,
    * VERDICT.md r1 #2): session-tz TimestampType writes parquet as
    * isAdjustedToUTC=true, which DuckDB's naive TIMESTAMP schema-mismatches.
    * Building from the NTZ epoch via timestampadd is timezone-independent by
    * construction, so every derived timestamp (window bounds, date_trunc,
    * lag) stays naive end-to-end and matches DuckDB's reading.
    */
  private def doRead(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = readParquet(spark, s"$sfDir/events.parquet",
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"))
      raw.schema("ts").dataType match {
        case LongType => // TIMESTAMP(NANOS) read as raw nanos: truncate to µs
          raw.withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
        case TimestampNTZType => raw // TIMESTAMP(MICROS) NTZ: what the engine wants
        case other => // e.g. session-tz TimestampType from isAdjustedToUTC=true —
          // would silently offset every derived timestamp vs DuckDB; fail fast.
          throw new IllegalStateException(
            s"events.ts read as $other; expected raw NANOS (LongType under " +
              "nanosAsLong) or TIMESTAMP_NTZ. Regenerate the fixture with " +
              "isAdjustedToUTC=false (naive µs) — see Tables.scala scaladoc.")
      }
    } else readParquet(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def events(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Register the named tables as temp views (for spark.sql-based
    * operators). An entry names only the tables its SQL reads: each load
    * plans a relation and, in a fresh session, infers or reads its schema,
    * and loading `events` sets `spark.sql.legacy.parquet.nanosAsLong` on
    * the session. */
  def register(spark: SparkSession, sfDir: String, tables: String*): Unit =
    tables.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Register every table as a temp view. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    register(spark, sfDir, names: _*)
}
