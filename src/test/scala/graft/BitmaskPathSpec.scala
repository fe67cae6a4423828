package graft

import graft.queries.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** r19: the token-set pair entries (dedup_containment,
  * text_jaccard_tokens) pick between an adaptive 64-bit-bitmask encoding
  * and the general sorted-array spelling by the corpus' counted global
  * vocabulary (TextQueries.tokenMasks); dedup_ngram_jaccard and
  * dedup_containment_prefix pick dictionary-id encodings the same way.
  * The two physical paths must be output-IDENTICAL — this spec pins that
  * three ways:
  *
  *  1. on the graded corpus (31-token vocabulary → encoded path taken),
  *     the entry and a direct call to its general-path builder produce
  *     equal sorted outputs;
  *  2. on a >64-vocab fixture the entry must FALL BACK (the mask
  *     encoding would be lossy there — two tokens per bit);
  *  3. the fallback's output equals the general path's (trivially — it
  *     IS the general path — asserted by comparing collected row outputs
  *     against a direct call to the general-path builder, to catch a
  *     future branch that forgets to route).
  */
class BitmaskPathSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  for ((key, general) <- Seq[(String, (SparkSession, String) => DataFrame)](
      "dedup_containment" -> TextQueries.containmentGeneral,
      "text_jaccard_tokens" -> TextQueries.jaccardTokensGeneral,
      "dedup_ngram_jaccard" -> TextQueries.ngramJaccardGeneral,
      // r20: the prefix twin's dictionary-encoded verify (long-id arrays)
      // must match the string verify row for row
      "dedup_containment_prefix" ->
        ((s, d) => TextQueries.containmentPrefixFlags(s, d, dictVerify = false)))) {
    test(s"$key: encoded path (auto) equals general path (off) on the graded corpus") {
      val fast = rows(Catalog.byKey(key).run(spark, sf))
      val slow = rows(general(spark, sf))
      assert(fast == slow, s"$key: encoded and general paths diverge")
      assert(fast.nonEmpty, s"$key produced no rows at sf0.001")
    }
  }

  test("null-text docs: (0,0) containment rows and NULL-jaccard pairs on both paths") {
    // pre-r19 contract (pinned by the prefix twin's scaladoc): a null-text
    // doc pairs with nothing but still appears in the containment roll-up
    // with zero counts; in the pair entry its blocked pairs carry NULL
    // jaccard. The r19 prune + encoding must preserve both.
    val dir = java.nio.file.Files.createTempDirectory("bitmasknull").toString
    import org.apache.spark.sql.types._
    val data = Seq(
      org.apache.spark.sql.Row(0L, "a b c", "en", "synth", 5L),
      org.apache.spark.sql.Row(1L, "a b c", "en", "synth", 5L),
      org.apache.spark.sql.Row(2L, null, "en", "synth", 5L),
      org.apache.spark.sql.Row(3L, null, "en", "synth", 5L))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    type Build = (SparkSession, String) => DataFrame
    for ((mode, containment, jaccard) <- Seq[(String, Build, Build)](
        ("auto", Catalog.byKey("dedup_containment").run, Catalog.byKey("text_jaccard_tokens").run),
        ("off", TextQueries.containmentGeneral, TextQueries.jaccardTokensGeneral))) {
      val cont = containment(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(cont == Seq((0L, 1L, 1L), (1L, 1L, 1L), (2L, 0L, 0L), (3L, 0L, 0L)),
        s"containment null-text contract broken under $mode: ${cont.mkString(",")}")
      val jac = jaccard(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
      // all 6 blocked pairs emitted; pairs touching a null-text doc carry
      // NULL jaccard, the clone pair carries 1.0
      assert(jac.size == 6 && jac.contains((0L, 1L, Some(1.0)))
          && jac.count(_._3.isEmpty) == 5,
        s"jaccard null-text contract broken under $mode: ${jac.mkString(",")}")
    }
  }

  test("auto falls back to the general path above 64 distinct tokens") {
    // >64-vocab corpus: 80 single-token docs, one token each
    val dir = java.nio.file.Files.createTempDirectory("bitmaskvocab").toString
    import org.apache.spark.sql.types._
    val rows80 = (0 until 80).map { i =>
      org.apache.spark.sql.Row(i.toLong, s"word$i common", "en", "synth", 12L)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows80, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val auto = rows(Catalog.byKey("dedup_containment").run(spark, dir))
    val general = rows(TextQueries.containmentGeneral(spark, dir))
    assert(auto == general, "auto did not match the general path on >64 vocab")
    // every doc shares token 'common' (81-token vocab): with 2-token sets,
    // 0.95-containment needs the full set, so n_containers = n_supersets = 0
    assert(auto.size == 80)
  }
}
