package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one driver-side memo of derived values: base-table
  * relations ([[Tables.load]]), the graph edge frames, the text encodings,
  * the BPE merge table, the vector index artifacts and corpus counts. Each
  * is a pure function of an immutable input directory, so a session builds
  * it once and every later query in that session starts from it — the
  * warehouse posture of a hot derived structure with one owner.
  *
  * Entries are keyed by the session REFERENCE (SparkSession does not
  * override equals) plus a caller key that starts with a tag naming the
  * memo and carries every conf-derived part the value depends on. A
  * `newSession()` child therefore misses and builds its own copy.
  *
  * One eviction policy:
  *  - each lookup drops the entries of stopped contexts (their blocks died
  *    with the context);
  *  - at [[bound]] entries the map is emptied by iterator removal — a JVM
  *    that churns `newSession()` children off one live context never stops
  *    a context, so stopped-context eviction alone cannot bound it — and
  *    each dropped entry unpersists exactly the frames its build registered
  *    through `own`. Frames a build returns without owning them (the
  *    [[Tables.load]] relations, which Bench and the benchmark harness
  *    `.cache()` themselves) are never unpersisted here.
  *
  * A build runs OUTSIDE the map's own locking, in a per-key lazy cell: it
  * may look up other keys (residual PQ → cell centroids → embeddings),
  * which `ConcurrentHashMap.computeIfAbsent` forbids for its mapping
  * function, and each value is still built at most once per key. A build
  * that throws leaves the cell empty, so the next lookup retries. */
object SessionMemo {
  /** Registers a frame the build cached; returns it unchanged. */
  type Own = DataFrame => DataFrame

  private[graft] val bound = 512

  private final class Cell(build: Own => Any) {
    private val owned = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    @volatile private var released = false
    // a frame owned after release (a build still running when the bound
    // reset dropped its cell) is unpersisted at once, so it cannot leak
    private val own: Own = { df =>
      owned.add(df)
      if (released) unpersist(df)
      df
    }
    lazy val value: Any = build(own)
    def release(): Unit = { released = true; owned.forEach(unpersist(_)) }
  }

  private def unpersist(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped) df.unpersist(false)

  private val cells = new java.util.concurrent.ConcurrentHashMap[(SparkSession, Any), Cell]()

  def apply[T](spark: SparkSession, key: Any)(build: Own => T): T = {
    cells.keySet.removeIf(_._1.sparkContext.isStopped)
    if (cells.size >= bound) {
      val it = cells.values.iterator
      while (it.hasNext) { it.next().release(); it.remove() }
    }
    cells.computeIfAbsent((spark, key), _ => new Cell(build)).value.asInstanceOf[T]
  }
}
