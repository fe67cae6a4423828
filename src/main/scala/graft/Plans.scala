package graft

/** Dev utility: dump formatted physical plans of representative catalog
  * entries (the `.explain("formatted")` review loop, captured as an
  * artifact — see PLANS.md). Usage: runMain graft.Plans <sfDir> <outFile>
  *
  * NOTE: PLANS.md ends with hand-written prose sections (e.g. "Global
  * windows at 100 TB") that this tool does NOT emit — when regenerating
  * in place, re-append everything after the last generated block. */
object Plans {
  val representative: Seq[String] = Seq(
    "src_scan_project", "agg_pricing_summary", "join_bhj_dims",
    "join_smj_facts", "join_star_multiway", "subq_correlated_exists",
    "win_topk_per_group", "sink_bucketed_join", "vec_pairwise_topk",
    "dedup_minhash_lsh", "stream_tumbling_agg", "mm_decode_features",
    "agg_topk_sketch", "etl_incremental_load", "etl_cdc_diff",
    "join_spatial_grid")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outFile = args(1)
    // optional trailing keys: dump only those, EXECUTED first, so the
    // AQE-final plan (isFinalPlan=true, runtime join strategy) is shown
    val only = args.drop(2)
    val cores = GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    val keys = if (only.nonEmpty) only.toSeq else representative
    keys.foreach { key =>
      val df = Catalog.byKey(key).run(spark, sfDir)
      if (only.nonEmpty) { val t0 = System.nanoTime(); df.collect()
        sb.append(f"\n## $key (${(System.nanoTime() - t0) / 1e9}%.2f s executed)\n\n```\n") }
      else sb.append(s"\n## $key\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    spark.stop()
  }
}
