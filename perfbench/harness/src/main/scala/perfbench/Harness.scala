package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}

/** The benchmark's engine JVM.
  *
  * One run: set the engine up (JVM start to ready), run a cold pass over
  * the workload's entries in that session, then warm rounds (a fresh child
  * session each, so the session-keyed memos are rebuilt) until `seconds`
  * have passed, then write every entry's output for the checks. One entry
  * runs at a time. An entry is timed as the builder call plus
  * `queryExecution.toRdd.count()`; with `trace` on, the builder, the
  * executed-plan forcing and the toRdd action are recorded as separate
  * spans, with a SparkListener's counts attached to the entry span.
  *
  * Usage: Harness <dataDir> <outDir> <entries> <seed> <seconds> <trace 0|1>
  *        <tables> <staging> <workload>
  * where <entries> are catalog keys, <tables> the tables set-up caches and
  * <staging> the `warmStaging` modules the entries read (scan, stream,
  * join; possibly empty), all comma-separated.
  */
object Harness {

  /** Warm rounds run at least this often, whatever `seconds` says, so each
    * entry's median has two samples. */
  val MinRounds = 2

  final class Span(val id: Int, val parent: Int, val name: String,
      val round: String, val key: String, val startNs: Long, var endNs: Long = 0L) {
    val counts = scala.collection.mutable.LinkedHashMap[String, Double]()
  }

  /** Spans kept in memory and written out once at the end. */
  final class Tracer(on: Boolean) {
    val spans = ArrayBuffer[Span]()
    def apply[T](name: String, parent: Span, round: String, key: String)(
        body: Span => T): T = {
      if (!on) return body(null)
      val s = new Span(spans.size + 1, if (parent == null) 0 else parent.id,
        name, round, key, System.nanoTime())
      spans += s
      try body(s) finally s.endNs = System.nanoTime()
    }
  }

  /** Job, stage and task counts with the task metrics. Jobs keep their
    * submission time, so jobs submitted before the builder returned can be
    * told apart (`build.jobs`). */
  final class Counters extends SparkListener {
    val jobSubmitMs = ArrayBuffer[Long]()
    var stages = 0
    val tasks = ArrayBuffer[Map[String, Double]]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(jobSubmitMs += e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val i = e.taskInfo
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      val mb = 1024.0 * 1024.0
      val v = Map(
        "spark.sched_delay_s" -> math.max(0L, sched) / 1e3,
        "spark.task_deser_s" -> m.executorDeserializeTime / 1e3,
        "spark.task_run_s" -> m.executorRunTime / 1e3,
        "spark.task_cpu_s" -> m.executorCpuTime / 1e9,
        "spark.shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / mb,
        "spark.shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / mb,
        "spark.spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / mb,
        "spark.peak_exec_mem_mb" -> m.peakExecutionMemory / mb,
        "write.output_mb" -> m.outputMetrics.bytesWritten / mb,
        "write.output_records" -> m.outputMetrics.recordsWritten.toDouble)
      synchronized(tasks += v)
    }
    def clear(): Unit = synchronized { jobSubmitMs.clear(); stages = 0; tasks.clear() }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs: Long = jit.getTotalCompilationTime
  private def cpuNs: Long = os.getProcessCpuTime

  /** Seconds a fixed single-thread integer loop takes, best of three: the
    * box's CPU speed at that moment, for normalizing the run's times. */
  private def calibrate(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var acc = 0L; var i = 0L
    while (i < 100000000L) { acc += i * i; i += 1 }
    if (acc == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }.min

  private def vmHwmMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Regular files under `dirs`, outside `skip`, modified at or after `ms`:
    * the files an entry left behind (sinks, staged copies, warehouse
    * tables), not Spark's shuffle and block files. */
  private def filesNewerThan(dirs: Seq[Path], skip: Path, ms: Long): Int =
    dirs.filter(Files.isDirectory(_)).map { d =>
      val st = Files.walk(d)
      try st.iterator().asScala.count(p => !p.startsWith(skip) &&
        Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= ms)
      finally st.close()
    }.sum

  def main(args: Array[String]): Unit = {
    val uptimeAtMain = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val Array(dataDir, outDir, entryList, seedS, secondsS, traceS, tableList,
      stagingList, workload) = args
    val tables = tableList.split(',').toSeq
    val staging = stagingList.split(',').filter(_.nonEmpty).toSet
    val entries = entryList.split(',').toSeq
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traceOn = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val tmpDir = Paths.get(sys.props("java.io.tmpdir"))
    val warehouse = Paths.get(sys.props("spark.sql.warehouse.dir"))
    val sparkLocal = Paths.get(sys.props("spark.local.dir"))
    val catalog = SparkEntry.queries
    val missing = entries.filterNot(catalog.contains)
    require(missing.isEmpty, s"unknown catalog entries: ${missing.mkString(",")}")

    val tracer = new Tracer(traceOn)
    val counters = new Counters
    val rng = new scala.util.Random(seed)
    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer[String]()

    // ---- set-up: JVM start to ready
    val sfDir = Paths.get(dataDir).toAbsolutePath.toString
    var spark: SparkSession = null
    val setup = tracer("setup", null, "setup", "") { root =>
      val t0 = System.nanoTime()
      // the engine's own session factory; the run's scratch locations
      // (spark.local.dir, spark.sql.warehouse.dir) come in as -D system
      // properties, which SparkConf picks up
      spark = tracer("setup.session", root, "setup", "")(_ => GraftSession.build())
      val t1 = System.nanoTime()
      tracer("setup.tables", root, "setup", "") { _ =>
        // one caching job per table, submitted together: each job is
        // mostly fixed per-job cost, which the pool overlaps
        val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
        try {
          tables.map { n =>
            pool.submit(new java.util.concurrent.Callable[Long] {
              def call(): Long = {
                val df = Tables.load(spark, sfDir, n)
                df.cache(); df.count()
              }
            })
          }.foreach(_.get())
        } finally pool.shutdown()
      }
      val t2 = System.nanoTime()
      tracer("setup.staging", root, "setup", "") { _ =>
        if (staging("scan")) graft.queries.ScanQueries.warmStaging(spark, sfDir)
        if (staging("stream")) graft.queries.StreamQueries.warmStaging(spark, sfDir)
        if (staging("join")) graft.queries.JoinQueries.warmStaging(spark, sfDir)
      }
      val t3 = System.nanoTime()
      if (root != null) root.counts("jvm_start_s") = uptimeAtMain
      Map(
        "session_s" -> ((t1 - t0) / 1e9 + uptimeAtMain),
        "tables_s" -> (t2 - t1) / 1e9,
        "staging_s" -> (t3 - t2) / 1e9,
        "total_s" -> ((t3 - t0) / 1e9 + uptimeAtMain))
    }
    val tableRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    if (traceOn) spark.sparkContext.addSparkListener(counters)

    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!tableRdds.contains(id)) rdd.unpersist(blocking = true)
      }

    /** Run one entry; returns the wall and process CPU seconds of its timed
      * region, or None if it threw. */
    def runEntry(session: SparkSession, round: String, key: String)
        : Option[(Double, Double)] = {
      attempted += 1
      val fn = catalog(key)
      counters.clear()
      val wallMs0 = System.currentTimeMillis()
      val jit0 = jitMs; val gc0 = gcMs
      var buildEndMs = 0L
      var entrySpan: Span = null
      val res = tracer("entry", null, round, key) { span =>
        entrySpan = span
        val t0 = System.nanoTime()
        val c0 = cpuNs
        try {
          val df: DataFrame = tracer("build", span, round, key)(_ => fn(session, sfDir))
          buildEndMs = System.currentTimeMillis()
          tracer("plan", span, round, key)(_ => df.queryExecution.executedPlan)
          tracer("exec", span, round, key)(_ => df.queryExecution.toRdd.count())
          val dt = (System.nanoTime() - t0) / 1e9
          val cpu = (cpuNs - c0) / 1e9
          if (span != null) {
            val ph = df.queryExecution.tracker.phases
            Seq("analysis", "optimization", "planning").foreach { p =>
              span.counts(s"plan.${p}_s") = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
            }
          }
          Some((dt, cpu))
        } catch {
          case scala.util.control.NonFatal(e) =>
            failed += 1
            failures += s"$round $key: ${e.toString.take(300)}"
            None
        }
      }
      if (traceOn) {
        val span = entrySpan
        span.counts("jvm.jit_s") = (jitMs - jit0) / 1e3
        span.counts("jvm.gc_s") = (gcMs - gc0) / 1e3
        org.apache.spark.PerfbenchBus.drain(session.sparkContext)
        counters.synchronized {
          span.counts("spark.jobs") = counters.jobSubmitMs.size.toDouble
          span.counts("build.jobs") = counters.jobSubmitMs.count(_ <= buildEndMs).toDouble
          span.counts("spark.stages") = counters.stages.toDouble
          span.counts("spark.tasks") = counters.tasks.size.toDouble
          counters.tasks.foreach(_.foreach { case (k, v) =>
            if (k == "spark.peak_exec_mem_mb")
              span.counts(k) = math.max(span.counts.getOrElse(k, 0.0), v)
            else span.counts(k) = span.counts.getOrElse(k, 0.0) + v
          })
        }
        span.counts("write.files") =
          filesNewerThan(Seq(tmpDir, warehouse), sparkLocal, wallMs0).toDouble
      }
      sweep()
      res
    }

    val calib = ArrayBuffer(calibrate())
    // a full collection before each pass, outside the timed regions, so
    // every pass starts from the same heap (once per pass, not per entry:
    // a full collection of this heap costs a few tenths of a second)
    System.gc()

    // ---- cold pass: each entry once, in a seeded order
    val cold = rng.shuffle(entries).map(k => k -> runEntry(spark, "cold", k).map(_._1))

    // ---- warm rounds: a child session per round, a new order per round
    val warm = ArrayBuffer[Seq[(String, Option[Double])]]()
    val roundCpu = ArrayBuffer[Double]()
    val w0 = System.nanoTime()
    while (warm.size < MinRounds || (System.nanoTime() - w0) / 1e9 < seconds) {
      val child = spark.newSession()
      GraftSession.install(child)
      val round = s"warm-${warm.size + 1}"
      System.gc()
      val timed = rng.shuffle(entries).map(k => k -> runEntry(child, round, k))
      warm += timed.map { case (k, r) => k -> r.map(_._1) }
      roundCpu += timed.flatMap(_._2).map(_._2).sum
      calib += calibrate()
    }
    val warmSeconds = (System.nanoTime() - w0) / 1e9
    val rssPeak = vmHwmMb

    // ---- outputs for the checks (untimed), from a fresh child session
    val checkDir = Paths.get(outDir, "check")
    val checkSession = spark.newSession()
    GraftSession.install(checkSession)
    // untimed, so the writes overlap: one job per entry, submitted together
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val written = try {
      entries.map { k =>
        k -> pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] =
            try {
              catalog(k)(checkSession, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(checkDir.resolve(k).toString)
              Some(k)
            } catch {
              case scala.util.control.NonFatal(e) =>
                failures.synchronized(failures += s"check $k: ${e.toString.take(300)}")
                None
            }
        })
      }.flatMap(_._2.get())
    } finally pool.shutdown()
    spark.stop()

    // ---- results
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def timings(xs: Seq[(String, Option[Double])]): String =
      xs.map { case (k, v) => s"${str(k)}:${v.map(num).getOrElse("null")}" }
        .mkString("{", ",", "}")
    val oracle = entries.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _))
    val json =
      s"""{"workload":${str(workload)},"cores":$cores,""" +
      s""""setup":${setup.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")},""" +
      s""""cold":${timings(cold)},"warm":${warm.map(timings).mkString("[", ",", "]")},""" +
      s""""round_cpu_s":${roundCpu.map(num).mkString("[", ",", "]")},""" +
      s""""calib_s":${calib.map(num).mkString("[", ",", "]")},""" +
      s""""warm_seconds":${num(warmSeconds)},"rss_peak_mb":${num(rssPeak)},""" +
      s""""attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(str).mkString("[", ",", "]")},""" +
      s""""written":${written.map(str).mkString("[", ",", "]")},""" +
      s""""oracle":${oracle.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(outDir, "result.json"), json)
    if (traceOn) {
      val spans = tracer.spans.map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},""" +
        s""""workload":${str(workload)},"round":${str(s.round)},"key":${str(s.key)},""" +
        s""""start_s":${num(s.startNs / 1e9)},"end_s":${num(s.endNs / 1e9)},""" +
        s""""counts":${s.counts.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")}}"""
      }
      Files.writeString(Paths.get(outDir, "trace.json"),
        spans.mkString("{\"spans\":[\n", ",\n", "\n]}\n"))
    }
  }
}
