package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs — built from the engine's session
  * configuration ([[GraftSession.builder]], as Verify and Bench are) with
  * small shuffle partitions, so tests rehearse the graded path. */
object SparkSpecBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  def spark: SparkSession = SparkSpecBase.spark
  def sfDir: String = SparkSpecBase.sfDir

  /** Collect to a canonical comparable form (Row.toString is stable for the
    * flat types the catalog outputs). */
  def rowsOf(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)
}
