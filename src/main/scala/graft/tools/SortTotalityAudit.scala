package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._

import graft.{Catalog, GraftSession}

/** r20 optimization round — mechanical audit of presentation-sort
  * totality. The scan-parallelism floor exposed four entries whose final
  * ORDER BY was not a total order (the synthetic lineitem fixture holds
  * duplicate (l_orderkey, l_linenumber) pairs), so their row order — and
  * the driver's ordered hash compare — silently depended on single-
  * partition scan order. Luck-based PASSes are not acceptable evidence,
  * so every oracle-checked entry is checked MECHANICALLY by [[tieGroups]].
  * The suite runs the check at sf0.001 (`sort-total: <key>` in
  * ConformanceSpec); this main runs it at any SF. Output: one line per
  * flagged entry; exit count in the summary line.
  *
  * Usage: runMain graft.tools.SortTotalityAudit [sfDir]
  */
object SortTotalityAudit {

  /** Find the topmost Sort of `df`'s analyzed plan, group `df`'s output
    * rows, read from `out` (`df` itself, or a local relation over rows
    * already collected from it), by the sort keys, and count the tie
    * groups that contain more than one DISTINCT row (identical duplicate
    * rows are order-irrelevant to a value compare). None when the plan
    * has no Sort. Throws when a key cannot be re-expressed over the
    * output: SortOrder.child.sql round-trips through the parser (Spark 4
    * removed the Column(Expression) constructor), so keys that reference
    * pruned sub-plan attributes do not resolve. Keys are resolved by
    * column name alone, as a local relation carries no scan qualifiers. */
  def tieGroups(df: DataFrame, out: DataFrame): Option[Long] =
    df.queryExecution.analyzed.collectFirst { case s: Sort => s }.map { s =>
      val keys = s.order.zipWithIndex.map { case (o, i) =>
        expr(o.child.transform { case a: AttributeReference => a.withQualifier(Nil) }.sql)
          .as(s"k$i")
      }
      val allCols = struct(out.columns.map(col).toIndexedSeq: _*)
      out.select(keys :+ allCols.as("row"): _*)
        .groupBy(keys.indices.map(i => col(s"k$i")): _*)
        .agg(countDistinct(col("row")).as("nd"))
        .where(col("nd") > 1)
        .count()
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val cpus = GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cpus]", sys.env.getOrElse("SPARK_GRAFT_SP", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = 0; var checked = 0; var noSort = 0
    Catalog.stamped.filter(_.duckdbSql.isDefined).foreach { e =>
      try {
        val df = e.run(spark, sfDir)
        tieGroups(df, df) match {
          case None => noSort += 1
          case Some(bad) =>
            checked += 1
            if (bad > 0) {
              flagged += 1
              println(s"[sort-audit] UNDERDETERMINED ${e.key}: $bad tie groups " +
                "with >1 distinct row under the final sort keys")
            }
        }
      } catch { case ex: Throwable =>
        println(s"[sort-audit] ERROR ${e.key}: ${ex.getMessage.take(120)}")
      }
    }
    println(s"[sort-audit] summary: checked=$checked flagged=$flagged noSort=$noSort sf=$sfDir")
    spark.stop()
  }
}
