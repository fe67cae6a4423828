package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distinct-value pre-aggregation toolkit — the ONE structural answer
  * to the degeneracy behind every 100×-only cliff found rounds 15-17
  * (seven of seven: simhash banding, phash banding, theta/range band
  * joins, hamming k-NN, knn-graph LSH, assoc rules): a pairing or banded
  * join whose per-bucket occupancy grows with DATA SIZE while the bucket
  * count stays fixed, because the banded/paired quantity has a constant
  * (or clone-clique-deep) value domain. Joined rows then grow
  * quadratically with the corpus even though the distance/predicate being
  * evaluated depends ONLY on the two VALUES.
  *
  * The cure is always the same and lives here exactly once: collapse to
  * DISTINCT values first (carrying member counts or bounded member
  * samples), run the pairing at the value level — occupancy collapses
  * from clique depth to distinct-value count — and fan back out (or roll
  * up by count algebra) only at the contract boundary. New banded/blocked
  * entries MUST build on these helpers; `CliffCanarySpec` runs every
  * banded catalog entry against a clique-heavy fixture and fails the
  * build if a doc-level pairing reappears.
  *
  * The LSH banding mechanisms these helpers pair up with are each written
  * once too: MinHash signatures and band keys
  * (`TextQueries.minhashSignature`, `TextQueries.minhashBands`), the full
  * within-bucket expansion (`TextQueries.bucketPairs`), the linear chain
  * candidates (`TextQueries.chainNeighbours`), the rep-space cluster tail
  * (`TextQueries.repClusters`) and the SRP hyperplane tables
  * (`VectorQueries.srpTables`).
  */
object DistinctValue {

  /** DISTINCT (value, count): the collapse that turns a row-level pairing
    * into a value-level one. With an unbounded value domain this is a
    * pass-through (|values| ≈ |rows|) and costs one map-side-combined
    * aggregation; with a constant domain it is the difference between a
    * quadratic join and a constant-size one (join_theta_range /
    * join_range_bucketed, BASELINE.md cliffs 5-6). */
  def valueCounts(df: DataFrame, valueCol: String, countName: String): DataFrame =
    df.groupBy(col(valueCol)).agg(count(lit(1)).as(countName))

  /** Per distinct value: the k smallest member ids, sorted ascending —
    * the bounded member sample that makes value-level top-k cuts EXACT
    * when ranks tie-break by member id (vec_hamming_knn's 5-smallest-
    * member guarantee: only a value's k smallest members can ever reach
    * a global top-k). Members are ranked with a row_number window and
    * cut to k BEFORE collect_list, so no aggregation buffer ever holds
    * more than k ids — a 10⁶-deep clone clique costs the same buffer as
    * a 10-deep one (the window sort shuffles and spills; an unbounded
    * collect_list does not). */
  def smallestMembers(df: DataFrame, valueCol: String, idCol: String,
      k: Int, membersName: String): DataFrame = {
    val w = Window.partitionBy(col(valueCol)).orderBy(col(idCol))
    df.select(col(valueCol), col(idCol))
      .withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .groupBy(col(valueCol))
      .agg(sort_array(collect_list(col(idCol))).as(membersName))
  }

  /** Banded self-join over DISTINCT values with first-agreeing-block pair
    * dedup — the shared core of the simhash and phash Hamming-ball
    * candidate generators.
    *
    * Input: one row per DISTINCT value (caller guarantees distinctness —
    * usually via [[valueCounts]]); extra columns ride along. Each value
    * explodes into `nBlocks` (block-index, block-key) rows; the self-join
    * on (block, key) is pigeonhole-COMPLETE for any pair agreeing on at
    * least one block (for Hamming balls: distance ≤ d pairs agree on one
    * of d+1 equal-width blocks). A pair agreeing on several blocks is
    * emitted ONCE, from its first agreeing block: for join block b,
    * blocks 0..b-1 must disagree — pure bit math on the two values,
    * evaluated map-side inside the join, so no global DISTINCT (the 420
    * M-row shuffle the r16 simhash cliff paid) survives anywhere.
    *
    * Output: one row per unordered value pair with `valueCol_a <
    * valueCol_b`, every carried column suffixed `_a`/`_b`. Distance
    * filters (e.g. `bit_count(a XOR b) <= d`) stay with the caller —
    * banding only bounds the CANDIDATE set.
    *
    * @param blockOf block extractor: (value column, block index) → block
    *                key; must be deterministic and side-effect-free (it
    *                is re-evaluated inside the first-agree predicate)
    */
  def bandedValuePairs(vals: DataFrame, valueCol: String, nBlocks: Int,
      blockOf: (Column, Int) => Column): DataFrame = {
    require(nBlocks >= 1, s"nBlocks must be >= 1, got $nBlocks")
    val carried = vals.columns.toSeq.filter(_ != valueCol)
    val blocked = vals.select(
      (col(valueCol) +: carried.map(col)) :+
        posexplode(array((0 until nBlocks).map(b => blockOf(col(valueCol), b)): _*))
          .as(Seq("__block", "__bkey")): _*)
    def side(suffix: String) = blocked.select(
      col("__block") +: col("__bkey") +:
        (valueCol +: carried).map(c => col(c).as(s"$c$suffix")): _*)
    val a = s"${valueCol}_a"; val b = s"${valueCol}_b"
    val firstAgree = (0 until nBlocks).map { blk =>
      col("__block") === blk && (0 until blk)
        .map(j => blockOf(col(a), j) =!= blockOf(col(b), j))
        .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    side("_a").join(side("_b"), Seq("__block", "__bkey"))
      .where(col(a) < col(b) && firstAgree)
      .drop("__block", "__bkey")
  }

  /** Equal-width block extractor for packed 64-bit fingerprints: block b
    * = bits [b·width, (b+1)·width). The pigeonhole guarantee for Hamming
    * balls needs nBlocks = maxDistance + 1 blocks of width 64/nBlocks. */
  def bitBlock(width: Int)(c: Column, b: Int): Column =
    shiftrightunsigned(c, b * width).bitwiseAND(lit((1L << width) - 1))
}
