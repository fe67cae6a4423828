package graft.tools

import graft.{Bench, GraftSession, SparkEntry, Tables}

/** Same-JVM scale measurement (VERDICT r11 #1; phased mode r15) — dev tool.
  *
  * Interleaved mode (default): for each catalog key, times the entry
  * against TWO SF directories in one JVM, strictly interleaved (base,
  * synth, base, synth), two reps per pair. Cross-boot totals are
  * host-noise-dominated (BASELINE.md methodology), so interleaving is the
  * layout from which a 10×-class growth ratio may be quoted.
  *
  * Phased mode (`SCALE_PHASED=1`, for the 100× leg): at 100× the
  * interleaved layout DISTORTS the base side — holding the 100× corpus
  * cached in heap GC-inflates the tiny base runs ~20× (measured r15:
  * dedup_cluster_lsh base 111 s interleaved with the 100× corpus resident
  * vs 4-14 s in every lean-heap run since r8), which makes ratios
  * meaningless. Phased layout: all synth reps first with ONLY the synth
  * tables cached, then a full unpersist + gc, then all base reps with ONLY
  * the base tables cached — one JVM, one boot, one JIT state; each side
  * timed in its natural heap. Synth-first ordering gives the BASE phase
  * the fuller JIT warm, which biases the quoted ratio UP — the
  * conservative direction. A calib constant is printed after each phase so
  * phase-to-phase host drift is visible in the log.
  *
  * Both modes: tables are cached up front (same warm the bench does — scan
  * cost is excluded; what's measured is the operator's own work), and
  * persistent RDDs are swept before EVERY run so entry-internal caches
  * can't make a rep dishonest. Driver-side model memos (PQ codebooks, BPE
  * merge tables) are keyed by sfDir: rep1 carries the full training cost,
  * rep2 shows the memoized steady state — both are printed.
  *
  * Usage:
  *   SCALE_BASE=/root/testdata/sf0.1 SCALE_SYNTH=/tmp/sfsynth1 \
  *     runMain graft.tools.ScaleProof key1 key2 ...
  */
object ScaleProof {
  def main(args: Array[String]): Unit = {
    val base  = sys.env.getOrElse("SCALE_BASE", "/root/testdata/sf0.1")
    val synth = sys.env.getOrElse("SCALE_SYNTH", "/tmp/sfsynth1")
    val phased = sys.env.getOrElse("SCALE_PHASED", "0") == "1"
    val cpus = GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cpus]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (!phased) {
      val cached = Seq(base, synth).flatMap { dir =>
        Tables.names.map { n =>
          val df = Tables.load(spark, dir, n); df.cache(); df.count(); df
        }
      }

      def time(key: String, dir: String): Double = {
        // sweep entry-internal persists, but NOT the warmed table cache
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        cached.foreach(_.cache())
        cached.foreach(_.count())
        val t0 = System.nanoTime()
        try {
          val n = SparkEntry.queries(key)(spark, dir).queryExecution.toRdd.count()
          val s = (System.nanoTime() - t0) / 1e9
          println(f"[scale] $key%-24s ${if (dir == base) "base " else "synth"} " +
            f"rows=$n%9d $s%8.2f s")
          s
        } catch {
          // NonFatal only: after an OOM or other fatal JVM error the heap
          // state is suspect and every later timing in this JVM would be
          // distorted yet reported as valid — let fatals crash the sweep
          case scala.util.control.NonFatal(e) =>
            println(s"[scale] $key FAILED (${if (dir == base) "base" else "synth"}): " +
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
            Double.NaN
        }
      }

      val rows = args.map { key =>
        val b1 = time(key, base);  val s1 = time(key, synth)
        val b2 = time(key, base);  val s2 = time(key, synth)
        val (bw, sw) = (math.min(b1, b2), math.min(s1, s2))
        println(f"[scale:summary] $key%-24s base=$bw%7.2f s  synth=$sw%7.2f s  " +
          f"ratio=${sw / bw}%6.2fx  (rep1 $b1%.2f/$s1%.2f, rep2 $b2%.2f/$s2%.2f)")
        (key, b1, s1, b2, s2)
      }
      println("key,base1,synth1,base2,synth2")
      rows.foreach { case (k, b1, s1, b2, s2) =>
        println(f"$k,$b1%.2f,$s1%.2f,$b2%.2f,$s2%.2f")
      }
    } else {
      // ---- phased mode ----
      def runPhase(dir: String, label: String): Map[String, Double] = {
        val cached = Tables.names.map { n =>
          val df = Tables.load(spark, dir, n); df.cache(); df.count(); df
        }
        def time(key: String): Double = {
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          cached.foreach(_.cache())
          cached.foreach(_.count())
          System.gc()
          val t0 = System.nanoTime()
          try {
            val n = SparkEntry.queries(key)(spark, dir).queryExecution.toRdd.count()
            val s = (System.nanoTime() - t0) / 1e9
            println(f"[scale] $key%-24s $label rows=$n%9d $s%8.2f s")
            s
          } catch {
            // NonFatal only — same tainted-JVM rationale as interleaved mode
            case scala.util.control.NonFatal(e) =>
              println(s"[scale] $key FAILED ($label): " +
                s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
              Double.NaN
          }
        }
        val best = args.map { key =>
          val r1 = time(key); val r2 = time(key)
          key -> math.min(r1, r2)
        }.toMap
        // release this phase's corpus entirely before the next
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        spark.sqlContext.clearCache()
        System.gc()
        println(f"[scale] phase $label done, calib=${Bench.calibSeconds()}%.3f s")
        best
      }
      val synthBest = runPhase(synth, "synth")
      val baseBest = runPhase(base, "base ")
      args.foreach { key =>
        val bw = baseBest(key); val sw = synthBest(key)
        println(f"[scale:summary] $key%-24s base=$bw%7.2f s  synth=$sw%7.2f s  " +
          f"ratio=${sw / bw}%6.2fx (phased)")
      }
    }
    spark.stop()
  }
}
