package graft.queries

import graft.{CatalogEntry, GraftConf, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import Util._

/** Category K — streaming (SURVEY.md §2.1.K).
  *
  * Strategy: every oracle-checked entry is the *batch equivalent* of the
  * stream (event-time windows are deterministic functions of `ts`); the
  * genuine Structured Streaming paths (watermark dedup, late data,
  * foreachBatch upsert) run file-source → Trigger.AvailableNow → sink and
  * are no-oracle (tier E). At 100 TB the batch and stream entries share
  * the same logical plan — that is Structured Streaming's whole point.
  */
object StreamQueries {

  /** Per-hour tumbling counts/sums — batch `window()` twin; the window
    * struct is flattened to its start so the output is a flat column. */
  private val tumblingAgg = CatalogEntry.dialect(
    "stream_tumbling_agg",
    duckdb = """SELECT date_trunc('hour', ts) AS win_start, COUNT(*) AS n,
               |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
               |FROM events
               |GROUP BY win_start
               |ORDER BY win_start""".stripMargin,
    // NTZ pin on the Spark twin (date_trunc coerces NTZ → session-tz)
    spark = """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP_NTZ) AS win_start, COUNT(*) AS n,
              |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
              |FROM events
              |GROUP BY win_start
              |ORDER BY win_start""".stripMargin) { (spark, sfDir) =>
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("win"))
      .agg(count(lit(1)).as("n"), decOut(sum(dec(col("value")))).as("sum_val"))
      .select(col("win.start").as("win_start"), col("n"), col("sum_val"))
      .orderBy(col("win_start"))
  }

  /** 1-hour windows sliding every 30 min — each event lands in exactly two
    * windows; the oracle reproduces the hop algebra with time_bucket. */
  private val slidingAgg = CatalogEntry.dialect(
    "stream_sliding_agg",
    duckdb = """SELECT win_start, COUNT(*) AS n,
               |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
               |FROM (
               |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS win_start, value FROM events
               |  UNION ALL
               |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS win_start, value FROM events
               |)
               |GROUP BY win_start
               |ORDER BY win_start""".stripMargin,
    spark = """SELECT win_start, COUNT(*) AS n,
              |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
              |FROM (
              |  SELECT window(ts, '1 hour', '30 minutes').start AS win_start, value FROM events
              |)
              |GROUP BY win_start
              |ORDER BY win_start""".stripMargin) { (spark, sfDir) =>
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"))
      .agg(count(lit(1)).as("n"), decOut(sum(dec(col("value")))).as("sum_val"))
      .select(col("win.start").as("win_start"), col("n"), col("sum_val"))
      .orderBy(col("win_start"))
  }

  /** Sessionization with a 30-min inactivity gap — gaps-and-islands: flag
    * gap starts with lag(ts), number sessions with a running sum. Both
    * sides run the identical window algebra on µs timestamps. */
  private val sessionGaps = CatalogEntry.dialect(
    "stream_session_gaps",
    duckdb = """WITH flagged AS (
               |  SELECT user_id, event_id, ts,
               |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               |                   > INTERVAL '30 minutes'
               |              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               |              THEN 1 ELSE 0 END AS new_session
               |  FROM events
               |), numbered AS (
               |  SELECT user_id, event_id, ts,
               |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
               |  FROM flagged
               |)
               |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               |       min(ts) AS session_start, max(ts) AS session_end, COUNT(*) AS n_events
               |FROM numbered
               |GROUP BY user_id, session_id
               |ORDER BY user_id, session_id""".stripMargin,
    spark = """WITH flagged AS (
              |  SELECT user_id, event_id, ts,
              |         CASE WHEN unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
              |                   > 1800000000
              |              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              |              THEN 1 ELSE 0 END AS new_session
              |  FROM events
              |), numbered AS (
              |  SELECT user_id, event_id, ts,
              |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              |  FROM flagged
              |)
              |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              |       min(ts) AS session_start, max(ts) AS session_end, COUNT(*) AS n_events
              |FROM numbered
              |GROUP BY user_id, session_id
              |ORDER BY user_id, session_id""".stripMargin) { (spark, sfDir) =>
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(byUser)
    Tables.events(spark, sfDir)
      .withColumn("new_session",
        when(prev.isNull
          || unix_micros(col("ts").cast("timestamp")) - unix_micros(prev.cast("timestamp")) > 1800000000L, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("session_id"))
  }

  // ---------------------------------------------------------------- tier E
  // Genuine Structured Streaming paths. Each stages the events table into a
  // tmp dir (the "incoming" directory a real pipeline would watch), runs a
  // readStream → transform → writeStream with Trigger.AvailableNow, and
  // returns the sink contents as the result DataFrame.

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Stage events (with µs ts) as the streaming source dir — ONCE per
    * sfDir per JVM. The staged copy is an immutable function of sfDir and
    * every tier-E entry reads it (each stream keeps its own checkpoint and
    * sink), so re-writing it five times per catalog run bought nothing but
    * five table-sized parquet writes. */
  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stageSource(spark: SparkSession, sfDir: String): String =
    stagedDirs.computeIfAbsent(sfDir, { dir =>
      val out = s"${sys.props("java.io.tmpdir")}/graft_stream_src_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Tables.events(spark, dir).write.mode("overwrite").parquet(out)
      out
    })

  /** Pre-stage the shared streaming source dir (see [[stageSource]]) —
    * called by Bench's warm phase so the first tier-E entry doesn't carry
    * the one-time staging write in its timed path. */
  def warmStaging(spark: SparkSession, sfDir: String): Unit = {
    stageSource(spark, sfDir); ()
  }

  /** Run `body` under streaming-sized configs, restored afterwards:
    *
    *  - shuffle partitions (= state-store instances per stateful op) come
    *    from [[graft.GraftConf.streamShufflePartitions]] — sized to input
    *    rate, not cores; every store pays per-micro-batch commit IO.
    *  - `skipNoDataBatch` disables the trailing no-data micro-batch. That
    *    batch exists to advance the watermark so (a) append-mode windowed
    *    aggregations can emit closed windows and (b) state is evicted.
    *    Operators that emit on arrival (inner stream-stream join,
    *    dropDuplicates) get NOTHING from it — for a Trigger.AvailableNow
    *    run it is a full extra planning+execution cycle (measured ~1.2-2.9 s
    *    here) spent evicting state the terminating query discards anyway.
    *    Watermark-gated emitters (stream_late_data) MUST keep it. */
  private def withStreamingConf[T](spark: SparkSession, skipNoDataBatch: Boolean)(
      body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), GraftConf.streamShufflePartitions(spark).toString)
    if (skipNoDataBatch) spark.conf.set(keys(1), "false")
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** A fresh, empty directory for one stream run's sink, checkpoint or
    * target: `name` suffixed by the sanitized `key` (an sfDir or a path
    * derived from one), so concurrent runs at different scale factors never
    * share one, under a per-JVM root named by the application id, so two
    * JVMs running the same sfDir never share a sink or a state store (a
    * shared checkpoint fails the other JVM's query with
    * STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY). The root is deleted at JVM
    * exit, so per-JVM directories do not pile up in tmp. Fresh on every run
    * — a stale sink would accumulate duplicate appends once its checkpoint
    * is gone. */
  private def runDir(spark: SparkSession, name: String, key: String): String = {
    val root = new org.apache.hadoop.fs.Path(
      s"${sys.props("java.io.tmpdir")}/graft_stream_${spark.sparkContext.applicationId}")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    fs.deleteOnExit(root)
    val dir = new org.apache.hadoop.fs.Path(root, s"${name}_${key.replaceAll("[^A-Za-z0-9]", "_")}")
    fs.delete(dir, true)
    dir.toString
  }

  private def runStream(spark: SparkSession, name: String, src: String,
      skipNoDataBatch: Boolean = false)(
      transform: DataFrame => DataFrame): DataFrame =
    withStreamingConf(spark, skipNoDataBatch) {
    val sink = runDir(spark, s"sink_$name", src)
    val ckpt = runDir(spark, s"ckpt_$name", src)
    val in = spark.readStream.schema(eventsSchema).parquet(src)
    val q = transform(in).writeStream
      .format("parquet").option("path", sink).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(sink)
  }

  /** Streaming exactly-once dedup: watermark + dropDuplicates on event_id.
    * Batch-equivalence is asserted in StreamSpec. */
  private val dedupWatermark = CatalogEntry.noOracle("stream_dedup_watermark") {
    (spark, sfDir) =>
      val src = stageSource(spark, sfDir)
      // dropDuplicates emits each first-seen row on arrival — the
      // watermark/no-data batch would only evict state we're done with
      runStream(spark, "dedup", src, skipNoDataBatch = true) { in =>
        // watermarks require TimestampType (not NTZ) — cast through the
        // session-UTC identity and back so the sink stays naive
        in.withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "1 hour").dropDuplicates("event_id")
          .withColumn("ts", col("ts").cast("timestamp_ntz"))
      }.orderBy(col("event_id"))
  }

  /** Late-data accounting: watermarked tumbling counts in append mode —
    * only windows the watermark has passed are final; comparing to the
    * batch result exposes which windows were still open. */
  private val lateData = CatalogEntry.noOracle("stream_late_data") { (spark, sfDir) =>
    val src = stageSource(spark, sfDir)
    runStream(spark, "late", src) { in =>
      in.withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour").as("win"))
        .agg(count(lit(1)).as("n"))
        .select(col("win.start").cast("timestamp_ntz").as("win_start"), col("n"))
    }.orderBy(col("win_start"))
  }

  /** foreachBatch incremental MERGE into a parquet target — the streaming
    * twin of etl_merge_upsert (staged micro-batch COPY analog). */
  private val foreachBatchUpsert = CatalogEntry.noOracle("stream_foreachbatch_upsert") {
    (spark, sfDir) => withStreamingConf(spark, skipNoDataBatch = false) {
      val src = stageSource(spark, sfDir)
      val target = runDir(spark, "target_upsert", sfDir)
      val ckpt = runDir(spark, "ckpt_upsert", sfDir)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val in = spark.readStream.schema(eventsSchema).parquet(src)
      val q = in.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val incoming = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_seen"))
        val merged =
          if (fs.exists(new org.apache.hadoop.fs.Path(target))) {
            val cur = batch.sparkSession.read.parquet(target)
              .select(col("user_id").as("t_user"), col("n_events").as("t_n"),
                col("last_seen").as("t_ls"))
            incoming.join(cur, col("user_id") === col("t_user"), "full")
              .select(
                coalesce(col("user_id"), col("t_user")).as("user_id"),
                (coalesce(col("n_events"), lit(0L)) + coalesce(col("t_n"), lit(0L))).as("n_events"),
                greatest(coalesce(col("last_seen"), col("t_ls")),
                  coalesce(col("t_ls"), col("last_seen"))).as("last_seen"))
          } else incoming
        val tmpOut = target + "_next"
        merged.write.mode("overwrite").parquet(tmpOut)
        val next = new org.apache.hadoop.fs.Path(tmpOut)
        val tgt = new org.apache.hadoop.fs.Path(target)
        fs.delete(tgt, true); fs.rename(next, tgt); ()
      }.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(target).orderBy(col("user_id"))
    }
  }

  /** Native session_window aggregation — Spark's built-in sessionization
    * operator (window end = last event + gap). The oracle reproduces the
    * merge with gaps-and-islands algebra, so the built-in is oracle-checked
    * against first principles. */
  private val sessionWindowAgg = CatalogEntry.dialect(
    "stream_session_window",
    duckdb = """WITH flagged AS (
               |  SELECT user_id, event_id, ts,
               |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               |                   > INTERVAL '30 minutes'
               |              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               |              THEN 1 ELSE 0 END AS new_session
               |  FROM events
               |), numbered AS (
               |  SELECT user_id, ts,
               |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               |  FROM flagged
               |)
               |SELECT user_id, min(ts) AS win_start,
               |       max(ts) + INTERVAL '30 minutes' AS win_end,
               |       COUNT(*) AS n_events
               |FROM numbered GROUP BY user_id, sid
               |ORDER BY user_id, win_start""".stripMargin,
    spark = """WITH flagged AS (
              |  SELECT user_id, event_id, ts,
              |         CASE WHEN unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
              |                   > 1800000000
              |              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              |              THEN 1 ELSE 0 END AS new_session
              |  FROM events
              |), numbered AS (
              |  SELECT user_id, ts,
              |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              |  FROM flagged
              |)
              |SELECT user_id, min(ts) AS win_start,
              |       max(ts) + INTERVAL 30 MINUTE AS win_end,
              |       COUNT(*) AS n_events
              |FROM numbered GROUP BY user_id, sid
              |ORDER BY user_id, win_start""".stripMargin) { (spark, sfDir) =>
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("win"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("win.start").as("win_start"),
        col("win.end").as("win_end"), col("n_events"))
      .orderBy(col("user_id"), col("win_start"))
  }

  /** Custom-state streaming: flatMapGroupsWithState sessionizer over the
    * KeyValueGroupedDataset API — the extension point for state Spark's
    * built-ins can't express. Under Trigger.AvailableNow the single batch
    * carries each user's full history, so the sessionizer emits every
    * session at batch end; StreamSpec asserts it equals the SQL
    * gaps-and-islands twin. In a live stream the GroupState would carry
    * the open session across micro-batches (same function body). */
  private val statefulSessions = CatalogEntry.noOracle("stream_stateful_sessions") {
    (spark, sfDir) => withStreamingConf(spark, skipNoDataBatch = false) {
      import spark.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val src = stageSource(spark, sfDir)
      val sink = runDir(spark, "sink_stateful", sfDir)
      val ckpt = runDir(spark, "ckpt_stateful", sfDir)
      val in = spark.readStream.schema(eventsSchema).parquet(src)
        .select(col("user_id"), col("event_id"), col("ts"))
      val gapMicros = 1800000000L
      // ts is TIMESTAMP_NTZ → JVM type LocalDateTime; epoch-µs arithmetic
      // is done explicitly against UTC (tz-independent by construction)
      def us(t: java.time.LocalDateTime): Long =
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
      val sessions = in
        .as[(Long, Long, java.time.LocalDateTime)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[Long, (Long, java.time.LocalDateTime, java.time.LocalDateTime, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, evs: Iterator[(Long, Long, java.time.LocalDateTime)], state: GroupState[Long]) =>
            // sort this batch's events, split on >30min inactivity gaps
            val sorted = evs.toSeq.sortBy(e => (us(e._3), e._2))
            if (sorted.isEmpty) Iterator.empty
            else {
              val out = scala.collection.mutable.ArrayBuffer
                .empty[(Long, java.time.LocalDateTime, java.time.LocalDateTime, Long)]
              var start = sorted.head._3; var last = sorted.head._3; var n = 1L
              sorted.tail.foreach { e =>
                if (us(e._3) - us(last) > gapMicros) {
                  out += ((uid, start, last, n)); start = e._3; n = 0
                }
                last = e._3; n += 1
              }
              out += ((uid, start, last, n))
              out.iterator
            }
        }
        .toDF("user_id", "session_start", "session_end", "n_events")
      val q = sessions.writeStream
        .format("parquet").option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(sink).orderBy(col("user_id"), col("session_start"))
    }
  }

  /** Stream-stream interval join: each error event joined to the same
    * user's purchases in the preceding hour. Both sides carry watermarks
    * so state is bounded (the 100-TB requirement: without the time bound
    * + watermark, stream-stream join state grows forever). Under
    * AvailableNow the single batch yields the full deterministic result;
    * StreamSpec asserts equality with the batch interval join. */
  private val streamStreamJoin = CatalogEntry.noOracle("stream_stream_join") {
    (spark, sfDir) =>
      val src = stageSource(spark, sfDir)
      // inner join emits matches on arrival; see runStream's skip rationale
      runStream(spark, "ssjoin", src, skipNoDataBatch = true) { in =>
        val tz = in.withColumn("ts", col("ts").cast("timestamp"))
        val errors = tz.where(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
            col("ts").as("err_ts"))
          .withWatermark("err_ts", "2 hours")
        val purchases = tz.where(col("event_type") === "purchase")
          .select(col("event_id").as("purch_id"), col("user_id").as("purch_user"),
            col("ts").as("purch_ts"))
          .withWatermark("purch_ts", "2 hours")
        errors.join(purchases,
          col("err_user") === col("purch_user")
            && col("purch_ts") >= col("err_ts") - expr("INTERVAL 1 HOUR")
            && col("purch_ts") <= col("err_ts"))
          .withColumn("err_ts", col("err_ts").cast("timestamp_ntz"))
          .withColumn("purch_ts", col("purch_ts").cast("timestamp_ntz"))
      }.orderBy(col("err_id"), col("purch_id"))
  }

  /** Stream-static join — the streaming dimension-enrichment staple: each
    * micro-batch of the event stream inner-joins the BATCH customer
    * dimension (broadcast: the static side is read per micro-batch, never
    * shuffled as state). Stateless, so no watermark and no state store —
    * and therefore DETERMINISTIC under Trigger.AvailableNow, which makes
    * this the one tier-E join with a full DuckDB oracle rather than an
    * equivalence spec. At 100 TB the same plan holds: stream side scales
    * with input rate, dim side broadcasts (or bucket-joins if the dim
    * outgrows broadcast). */
  private val staticJoin = CatalogEntry.ansi(
    "stream_static_join",
    """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, e.value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin) { (spark, sfDir) =>
    val src = stageSource(spark, sfDir)
    val dim = broadcast(Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment")))
    // stateless inner join emits on arrival — nothing gained from the
    // trailing no-data micro-batch
    runStream(spark, "static_join", src, skipNoDataBatch = true) { in =>
      in.join(dim, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"),
          col("c_mktsegment").as("segment"), col("value"))
    }.orderBy(col("event_id"))
  }

  /** Checkpoint resume with exactly-once file tracking — the incremental
    * ingestion loop every streaming ETL runs in production: a first
    * AvailableNow pass drains the files present, the source dir then GROWS,
    * and a second pass with the SAME checkpoint processes only the new
    * files. The file source's seen-file log in the checkpoint is what makes
    * the append sink exactly-once across runs; a reprocessed file would
    * duplicate event_ids and fail the oracle's row count, so the full
    * DuckDB compare IS the exactly-once proof (stateless pass-through ⇒
    * deterministic ⇒ oracle-checkable, same reasoning as
    * `stream_static_join`). At 100 TB this is the nightly-landing pattern:
    * object-store partitions arrive, the resumed query picks up the delta,
    * nothing is re-read. */
  private val incrementalResume = CatalogEntry.ansi(
    "stream_incremental_resume",
    """SELECT event_id, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin) { (spark, sfDir) =>
    withStreamingConf(spark, skipNoDataBatch = true) {
      val base = runDir(spark, "resume", sfDir)
      val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
      val ev = Tables.events(spark, sfDir)
      def runOnce(): Unit = {
        val in = spark.readStream.schema(eventsSchema).parquet(src)
        val q = in.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      ev.where(col("event_id") % 2 === 0).write.mode("overwrite").parquet(src)
      runOnce()
      // the source dir grows between runs — the delta the resume must catch
      ev.where(col("event_id") % 2 === 1).write.mode("append").parquet(src)
      runOnce()
      spark.read.parquet(sink).orderBy(col("event_id"))
    }
  }

  /** Update-mode windowed aggregation on the RocksDB state store — the
    * production configuration for large state (HDFSBackedStateStore keeps
    * every version on the executor heap; RocksDB spills to local disk and
    * is the 100-TB default). `maxFilesPerTrigger=8` forces MULTIPLE
    * micro-batches over the staged source so state genuinely persists and
    * re-updates across commits; update mode re-emits a window every time
    * it changes, and the foreachBatch sink upserts latest-per-window, so
    * the final target equals the batch aggregate REGARDLESS of file
    * batching order (cumulative state ⇒ each window's last emission is its
    * complete value). No watermark on purpose: watermarked update mode
    * DROPS updates older than the mark, and parquet file order is
    * arbitrary — completeness here, eviction semantics in
    * `stream_late_data`. Full DuckDB oracle = the tumbling batch query. */
  private val updateRocksdb = CatalogEntry.dialect(
    "stream_update_rocksdb",
    duckdb = """SELECT date_trunc('hour', ts) AS win_start, COUNT(*) AS n,
               |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
               |FROM events
               |GROUP BY win_start
               |ORDER BY win_start""".stripMargin,
    spark = """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP_NTZ) AS win_start, COUNT(*) AS n,
              |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
              |FROM events
              |GROUP BY win_start
              |ORDER BY win_start""".stripMargin) { (spark, sfDir) =>
    withStreamingConf(spark, skipNoDataBatch = true) {
      val src = stageSource(spark, sfDir)
      val target = runDir(spark, "target_rocks", sfDir)
      val ckpt = runDir(spark, "ckpt_rocks", sfDir)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val in = spark.readStream.schema(eventsSchema)
          .option("maxFilesPerTrigger", "8").parquet(src)
        val agg = in
          .groupBy(window(col("ts"), "1 hour").as("win"))
          .agg(count(lit(1)).as("n"), decOut(sum(dec(col("value")))).as("sum_val"))
          .select(col("win.start").as("win_start"), col("n"), col("sum_val"))
        val q = agg.writeStream.outputMode("update")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val incoming = batch.persist()
            val merged =
              if (fs.exists(new org.apache.hadoop.fs.Path(target))) {
                val cur = batch.sparkSession.read.parquet(target)
                cur.join(incoming.select(col("win_start").as("k")),
                    col("win_start") === col("k"), "left_anti")
                  .unionByName(incoming)
              } else incoming
            val tmpOut = target + "_next"
            merged.write.mode("overwrite").parquet(tmpOut)
            incoming.unpersist()
            val next = new org.apache.hadoop.fs.Path(tmpOut)
            val tgt = new org.apache.hadoop.fs.Path(target)
            fs.delete(tgt, true); fs.rename(next, tgt); ()
          }
          .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
      spark.read.parquet(target).orderBy(col("win_start"))
    }
  }

  /** Per-user event-type census over transformWithState: updates a typed
    * MapState[event_type → count] across batches and emits a running
    * snapshot (total, n_types, top_type) per user per batch. */
  private class TypeCensusProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, Long, Long, String)] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, String)] = {
      rows.foreach { case (_, t) =>
        val c = if (counts.containsKey(t)) counts.getValue(t) else 0L
        counts.updateValue(t, c + 1)
      }
      val m = counts.iterator().toList
      val total = m.map(_._2).sum
      // deterministic argmax: count desc, then type asc
      val top = m.minBy { case (t, c) => (-c, t) }._1
      Iterator.single((key, total, m.size.toLong, top))
    }
  }

  /** Arbitrary typed state via `transformWithState` (SPARK-40434, the
    * Spark 4 successor to flatMapGroupsWithState): a `StatefulProcessor`
    * holding a typed `MapState[event_type → count]` per user, updated
    * across MULTIPLE micro-batches (`maxFilesPerTrigger=8` under
    * AvailableNow) on the RocksDB state store the API requires. What's new
    * vs `stream_stateful_sessions` is the state model itself: named,
    * individually-typed state variables (Value/List/Map) with per-variable
    * TTL, readable/updatable point-wise — per-KEY-AND-FIELD state access
    * instead of one opaque blob per key, which at 100-TB state sizes is
    * the difference between a point read and deserializing everything.
    * Each batch emits a running per-user snapshot; snapshots are strictly
    * increasing in `total`, so keeping each user's max-total row yields
    * the final census no matter how the file listing batched — that
    * batching-invariance is exactly what StreamSpec's batch-twin equality
    * asserts. No oracle: the census itself is trivially SQL, but snapshot
    * emission under arbitrary batch splits is not a fixed row set;
    * StreamSpec pins the reduced result to the batch aggregate. */
  private val transformState = CatalogEntry.noOracle("stream_transform_state") {
    (spark, sfDir) => withStreamingConf(spark, skipNoDataBatch = true) {
      import spark.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val src = stageSource(spark, sfDir)
      val sink = runDir(spark, "sink_tws", src)
      val ckpt = runDir(spark, "ckpt_tws", src)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val in = spark.readStream.schema(eventsSchema)
          .option("maxFilesPerTrigger", "8").parquet(src)
          .select(col("user_id"), col("event_type"))
          .as[(Long, String)]
        val snapshots = in.groupByKey(_._1)
          .transformWithState(new TypeCensusProcessor,
            TimeMode.None(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long, String)]])
          .toDF("user_id", "total", "n_types", "top_type")
        val q = snapshots.writeStream
          .format("parquet").option("path", sink).option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
      // each user's snapshots strictly increase in total — the max-total
      // row is the complete census (struct max: total is the first field;
      // ties impossible within a user)
      spark.read.parquet(sink)
        .groupBy(col("user_id"))
        .agg(max(struct(col("total"), col("n_types"), col("top_type"))).as("s"))
        .select(col("user_id"), col("s.total").as("total"),
          col("s.n_types").as("n_types"), col("s.top_type").as("top_type"))
        .orderBy(col("user_id"))
    }
  }

  def entries: Seq[CatalogEntry] = Seq(
    tumblingAgg, slidingAgg, sessionGaps, sessionWindowAgg, statefulSessions,
    dedupWatermark, lateData, foreachBatchUpsert, streamStreamJoin, staticJoin,
    incrementalResume, updateRocksdb, transformState)
}
