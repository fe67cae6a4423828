package graft.queries

import org.apache.spark.sql.Column

/** Shared determinism helpers (SURVEY.md §2.0). */
object Util {
  /** The canonical exact numeric type for money/measure aggregation.
    * All source measures are DOUBLE; decimal addition is exact and
    * associative in both Spark and DuckDB, so every SUM/AVG that feeds a
    * hash-compared output goes through this cast (§2.0.3).
    */
  val DecT = "decimal(18,4)"

  def dec(c: Column): Column = c.cast(DecT)

  /** Final-output pin (round-2 policy, VERDICT.md r1 fix #1): decimal math
    * stays internal — every decimal column that reaches a query's OUTPUT is
    * cast to DOUBLE on both sides. The driver's hash-compare distrusts
    * decimal physical representation (27/30 decimal-output queries failed
    * with bit-equal values in round 1), while doubles pass 64/64. Converting
    * the same exact DECIMAL(18,4) value to double is correctly rounded and
    * identical in Spark (BigDecimal.doubleValue) and DuckDB (scaled int /
    * 10^4) for |scaled| < 2^53 — which holds at every test SF.
    * Matching oracle columns are wrapped in CAST(… AS DOUBLE).
    */
  def decOut(c: Column): Column = c.cast("double")

  /** −0.0 pin for rounded DOUBLE outputs (round-11 policy, VERDICT r10
    * fix #1): Spark's HALF_UP BigDecimal round normalizes a tiny negative
    * value to +0.0 while DuckDB's ROUND preserves the sign bit — the two
    * are numerically equal but byte-hash unequal, which failed
    * `vec_kmeans_lloyd` at sf0.01. IEEE `x + 0.0` rewrites −0.0 to +0.0
    * (round-to-nearest: −0.0 + 0.0 = +0.0) and is exact for every other
    * double, on both engines. Every rounded DOUBLE output whose argument
    * can be a centered/differenced quantity (means of signed data,
    * z-scores, correlations, drifts) goes through this helper, and the
    * matching oracle column spells `ROUND(x, n) + 0.0`. NegZeroSpec greps
    * every declared output for surviving negative zeros. */
  def znorm(c: Column, scale: Int): Column = {
    import org.apache.spark.sql.functions.{lit, round}
    round(c, scale) + lit(0.0)
  }

  /** Scratch sink/checkpoint directory for write-path entries, suffixed by
    * the sanitized sfDir: two concurrent runs at different scale factors
    * (or interleaved test suites) must never read each other's staged
    * output. Mirrors the spelling `stream_incremental_resume` pioneered.
    */
  def scratchDir(name: String, sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${name}_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** Write-once staging under `base`: a `_staged_for` marker records which
    * sfDir the staged files were built from and is written only AFTER
    * `stage` completes, so a fresh JVM (the driver's per-round Bench) finds
    * valid files — the marker names this sfDir and every one of `parts`
    * exists under `base` — and skips the writes. Otherwise the stale marker
    * is deleted first and `stage` runs. Returns true when the files on disk
    * were already valid (nothing was written). */
  def stagedOnDisk(spark: org.apache.spark.sql.SparkSession, base: String,
      sfDir: String, parts: String*)(stage: => Unit): Boolean = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(basePath, "_staged_for")
    val valid = fs.exists(marker) && {
      val in = fs.open(marker)
      val staged = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      staged == sfDir && parts.forall(p => fs.exists(new org.apache.hadoop.fs.Path(basePath, p)))
    }
    if (!valid) {
      if (fs.exists(marker)) fs.delete(marker, false)
      stage
      val out = fs.create(marker, true)
      try out.write(sfDir.getBytes("UTF-8")) finally out.close()
    }
    valid
  }

  /** Entry-cache sweep: query bodies `.cache()` intermediates (LSH
    * canonicalization, PQ codebooks, edge lists…) that are correct within
    * one query but must not accumulate across a catalog-wide run — by the
    * alphabetical tail of a 150+-query pass the executor heap is otherwise
    * GC-bound on dead cached blocks. Entries return LAZY DataFrames (the
    * cache materializes only when the caller evaluates), so the unpersist
    * has to happen harness-side after evaluation, not in a try/finally
    * inside the entry. Blocks are freed; CacheManager registrations stay,
    * so a later identical plan (the shared PQ model) transparently
    * re-materializes instead of breaking. `keep` names RDD ids that stay
    * cached (a harness's warmed tables); `blocking` waits for the blocks
    * to be freed, so none survive into a timed region that follows. */
  def sweepEntryCaches(spark: org.apache.spark.sql.SparkSession,
      keep: Set[Int] = Set.empty, blocking: Boolean = false): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking)
    }
}
