package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.GraftSession
import org.apache.spark.sql.functions._
import graft.Tables

/** Scale-proof corpus synthesizer (VERDICT r11 #1) — dev tool, not catalog.
  *
  * Builds an sfN-like dataset by unioning `replicas` key-offset copies of a
  * source SF directory, so the heavy-tail entries (LSH dedup, connected
  * components, graph metrics, BPE) can be timed at 10× bench scale and the
  * 100-TB design claims (candidate-linear banding, contraction, bounded
  * model collects) checked empirically instead of by argument.
  *
  * Replica design choices, per table:
  *   - every synthetic key space is disjoint (offset = i × 10,000,000 —
  *     far above any real key at sf≤1), so FK joins stay 1:1 per replica
  *     and the customer↔supplier graph becomes `replicas` disjoint copies
  *     of the sf0.1 graph: the cleanest possible input for verifying the
  *     O(E^1.5) triangle bound and per-iteration CC/PageRank cost.
  *   - documents text gets a per-replica suffix token (" rN", N≥1): exact
  *     replica copies would collapse in the canonicalize-first minhash
  *     (one rep per distinct token set) and the "10×" run would measure
  *     the sf0.1 rep population again. The suffix keeps each replica a
  *     NEAR-duplicate of its original (Jaccard ≳ 0.9 for typical doc
  *     lengths) — reps scale ×N and the LSH/CC paths see both deeper
  *     buckets and larger components, the honest stress.
  *   - embeddings keep identical vectors under offset vec_ids: SRP/IVF
  *     buckets get N-deep co-located points, which stresses candidate
  *     generation exactly like a near-dup-heavy embedding corpus.
  *
  * Usage: runMain graft.tools.SynthScale <srcSfDir> <outDir> <replicas>
  */
object SynthScale {
  private val Off = 10000000L

  private def replicate(df: DataFrame, replicas: Int)(
      per: (DataFrame, Long) => DataFrame): DataFrame =
    (0 until replicas).map(i => per(df, i * Off)).reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1); val replicas = args(2).toInt
    val cpus = GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cpus]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def shiftCols(df: DataFrame, off: Long, cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(off)))

    def write(name: String, df: DataFrame, files: Int): Unit = {
      df.repartition(files).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$name.parquet")
      println(s"[synth] $name written (${replicas}x)")
    }

    // dims stay single-copy: nation/region are lookup enums, not scaled data
    Seq("nation", "region").foreach { n =>
      write(n, Tables.load(spark, src, n), 1)
    }
    write("customer", replicate(Tables.customer(spark, src), replicas) {
      (d, off) => shiftCols(d, off, "c_custkey")
    }, 4)
    write("supplier", replicate(Tables.supplier(spark, src), replicas) {
      (d, off) => shiftCols(d, off, "s_suppkey")
    }, 1)
    write("part", replicate(Tables.part(spark, src), replicas) {
      (d, off) => shiftCols(d, off, "p_partkey")
    }, 4)
    write("orders", replicate(Tables.orders(spark, src), replicas) {
      (d, off) => shiftCols(d, off, "o_orderkey", "o_custkey")
    }, 16)
    write("lineitem", replicate(Tables.lineitem(spark, src), replicas) {
      (d, off) => shiftCols(d, off, "l_orderkey", "l_partkey", "l_suppkey")
    }, 32)
    write("events", replicate(Tables.events(spark, src), replicas) {
      (d, off) => shiftCols(d, off, "event_id", "user_id")
    }, 8)
    write("documents", replicate(Tables.documents(spark, src), replicas) {
      (d, off) =>
        val shifted = shiftCols(d, off, "doc_id")
        if (off == 0L) shifted
        else shifted
          .withColumn("text", concat(col("text"), lit(s" r${off / Off}")))
          .withColumn("n_chars", length(col("text")).cast("long"))
    }, 8)
    write("embeddings", replicate(Tables.embeddings(spark, src), replicas) {
      (d, off) => shiftCols(d, off, "vec_id")
    }, 8)
    spark.stop()
  }
}
