package graft

import graft.queries.VectorQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CacheManager, CachedData}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel

/** [[SessionMemo]]: nested builds, per-session reuse, and the bound
  * reset's ownership rule — it unpersists exactly the frames the memo's
  * builds cached, never a frame the caller cached. */
class SessionMemoSpec extends SparkSpecBase {

  /** Jobs launched while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a nested build completes: residual PQ -> cell centroids -> embeddings") {
    val child = spark.newSession()
    val (cents, codes) = VectorQueries.pqModel(child, sfDir, residual = true)
    assert(cents.count() > 0 && codes.count() > 0)
  }

  test("a second lookup in the same session returns the same reference and runs no job") {
    val child = spark.newSession()
    val first = VectorQueries.pqModel(child, sfDir, residual = true)
    first._2.count()
    val (second, jobs) = jobsDuring(VectorQueries.pqModel(child, sfDir, residual = true))
    assert(first eq second, "the PQ model was built again")
    assert(jobs == 0, s"the second lookup ran $jobs jobs")
    assert(Tables.embeddings(child, sfDir) eq Tables.embeddings(child, sfDir))
  }

  test("a newSession() child misses") {
    val (a, b) = (spark.newSession(), spark.newSession())
    assert(!(Tables.embeddings(a, sfDir) eq Tables.embeddings(b, sfDir)))
    assert(!(VectorQueries.pqModel(a, sfDir) eq VectorQueries.pqModel(b, sfDir)))
  }

  /** Cache-manager entries whose plan reads a file under `dir`. */
  private def cachedOver(dir: String): Int = {
    val field = classOf[CacheManager].getDeclaredField("cachedData")
    field.setAccessible(true)
    field.get(spark.sharedState.cacheManager).asInstanceOf[IndexedSeq[CachedData]]
      .count(_.plan.exists {
        case r: LogicalRelation => r.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toString.contains(dir))
          case _ => false
        }
        case _ => false
      })
  }

  test("a bound reset unpersists every frame the memo owns and no frame the caller cached") {
    // a private copy of the corpus: no other spec's cached plan reads it
    val dir = java.nio.file.Files.createTempDirectory("graft_session_memo_spec").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(sfDir, "embeddings.parquet"),
      java.nio.file.Paths.get(dir, "embeddings.parquet"))
    val child = spark.newSession()
    val table: DataFrame = Tables.embeddings(child, dir)
    table.cache(); table.count() // the Bench / harness posture
    try {
      // the coarse quantizer, both PQ models (the residual one nested) and,
      // on a duplicate-bearing corpus, the kNN-graph canonicalization frames
      VectorQueries.warmShared(child, dir)
      assert(cachedOver(dir) > 1, "the index builds cached nothing")
      (0 to SessionMemo.bound).foreach(i => SessionMemo(child, ("SessionMemoSpec", i))(_ => i))
      assert(cachedOver(dir) == 1,
        s"${cachedOver(dir) - 1} memo-built relations are still cached after the reset")
      assert(table.storageLevel != StorageLevel.NONE, "the caller's cached table was unpersisted")
    } finally {
      table.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
