package graft.tools

import graft.{Catalog, GraftSession, SparkEntry}

/** Canonical output fingerprint for A/B-ing no-oracle entries across
  * refactors (the DistinctValue helper extraction must be bit-identical):
  * runs each key, sorts rows by every column, prints rowcount + a 64-bit
  * fold of the row strings. Two trees printing the same line for a key
  * produced the SAME multiset of rows.
  *
  * Usage: runMain graft.tools.OutputHash <sfDir> [key1 key2 ...]
  * With no keys it hashes every no-oracle entry of the catalog.
  */
object OutputHash {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cpus]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val keys = if (args.length > 1) args.drop(1).toSeq
      else Catalog.all.filter(_.duckdbSql.isEmpty).map(_.key)
    keys.foreach { key =>
      val df = SparkEntry.queries(key)(spark, sfDir)
      val rows = df.orderBy(df.columns.map(org.apache.spark.sql.functions.col): _*)
        .collect()
      var h = 1125899906842597L
      rows.foreach { r => h = h * 31 + r.toString.hashCode }
      println(s"[abhash] $key rows=${rows.length} hash=$h")
      graft.queries.Util.sweepEntryCaches(spark)
    }
    spark.stop()
  }
}
