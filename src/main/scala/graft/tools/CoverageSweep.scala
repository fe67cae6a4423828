package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import graft.queries.Util

/** Single-rep 100×-coverage cliff sweep (r17) — dev tool.
  *
  * Purpose-built for the full-catalog coverage leg: runs each key ONCE
  * against one corpus (tables cached up front, persistent-RDD sweep +
  * gc between entries, same warm convention as ScaleProof), printing a
  * `[cov] key rows seconds` line per entry and never aborting on a
  * failing entry. One rep is the right cost/fidelity point for cliff
  * DETECTION (a 15×-bar breach is 10-100× the noise band); entries the
  * sweep flags graduate to the 2-rep phased ScaleProof methodology for
  * the quoted BASELINE.md numbers. Base-side comparison numbers come
  * from the round's bench anchor at the same warm convention.
  *
  * Usage: SCALE_DIR=/tmp/sfsynth2 runMain graft.tools.CoverageSweep key1 key2 ...
  */
object CoverageSweep {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SCALE_DIR", "/tmp/sfsynth2")
    val cpus = GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cpus]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tables = ScaleProof.cacheTables(spark, dir)
    // single-thread CPU calib (Bench's): printed before and after so a
    // sweep taken in a degraded host window is adjudicable
    println(f"[cov] calib_start=${Bench.calibSeconds()}%.3f s")
    args.foreach { key =>
      Util.sweepEntryCaches(spark, tables)
      System.gc()
      val t0 = System.nanoTime()
      try {
        val n = SparkEntry.queries(key)(spark, dir).queryExecution.toRdd.count()
        println(f"[cov] $key%-28s rows=$n%10d ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      } catch {
        // NonFatal only — a fatal JVM error (OOM) taints every later
        // same-JVM measurement; crash instead of sweeping on (ADVICE r17)
        case scala.util.control.NonFatal(e) =>
          println(s"[cov] $key FAILED: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }
    println(f"[cov] calib_end=${Bench.calibSeconds()}%.3f s")
    spark.stop()
  }
}
