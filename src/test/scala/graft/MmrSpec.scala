package graft

import org.apache.spark.sql.functions._

/** Equivalence + invariant spec for the round-10 graph/vector additions.
  *
  * `vec_mmr_diversify` is exempt from the conformance harness's SQL-twin
  * check (the greedy needs LATERAL + list-state recursion Spark SQL cannot
  * state), so this spec carries its in-repo equivalence evidence: an
  * independent plain-Scala replay of the WHOLE pipeline — cosines from
  * raw collected embeddings, the same ⌊·1e6+0.5⌋ quantization, the same
  * integer 7·qrel−3·qsim_max greedy — with no shared code with the entry.
  */
class MmrSpec extends SparkSpecBase {

  /** (vec_id → embedding as doubles), query excluded. */
  private def corpus(): (Array[Double], Seq[(Long, Array[Double])]) = {
    val rows = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val q = rows.find(_._1 == 0L).get._2
    (q, rows.filter(_._1 != 0L).toSeq)
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def q6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  test("vec_mmr_diversify equals an independent greedy replay") {
    val (qv, docs) = corpus()
    val shortlist = docs.map { case (id, v) => (id, q6(cos(qv, v)), v) }
      .sortBy { case (id, qrel, _) => (-qrel, id) }
      .take(30)
    val sims = (for {
      (i, _, vi) <- shortlist; (j, _, vj) <- shortlist if i != j
    } yield ((i, j), q6(cos(vi, vj)))).toMap
    var chosen = Vector.empty[(Long, Long)]
    var remaining = shortlist.map { case (id, qrel, _) => (id, qrel) }
    while (chosen.size < 10) {
      val pick =
        if (chosen.isEmpty) remaining.minBy { case (id, qrel) => (-qrel, id) }
        else remaining.minBy { case (id, qrel) =>
          val maxSim = chosen.map(s => sims((id, s._1))).max
          (-(7L * qrel - 3L * maxSim), id)
        }
      chosen :+= pick
      remaining = remaining.filterNot(_._1 == pick._1)
    }
    val expected = chosen.zipWithIndex
      .map { case ((id, qrel), i) => s"[${i + 1},$id,${qrel.toDouble / 1e6}]" }
    val got = Catalog.byKey("vec_mmr_diversify").run(spark, sfDir)
    assert(rowsOf(got) == expected)
  }

  test("vec_mmr_diversify actually diversifies (differs from plain top-10)") {
    val got = Catalog.byKey("vec_mmr_diversify").run(spark, sfDir)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val top10 = Catalog.byKey("vec_cosine_knn").run(spark, sfDir)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got != top10, "MMR selection should trade relevance for diversity")
  }

  test("vec_kmeans_lloyd invariants: full assignment, stable sizes, bounded centroids") {
    val out = Catalog.byKey("vec_kmeans_lloyd").run(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    // per-cluster size is constant across its 64 positions
    val byCluster = out.groupBy(_.getLong(0))
    byCluster.foreach { case (cid, rows) =>
      assert(rows.map(_.getLong(3)).distinct.length == 1, s"cluster $cid sizes vary by pos")
      assert(rows.map(_.getInt(1)).sorted.toSeq == (0 until 64), s"cluster $cid missing dims")
    }
    // sizes partition the corpus
    assert(byCluster.values.map(_.head.getLong(3)).sum == n)
    assert(byCluster.keySet.subsetOf((0L until 8L).toSet))
    // unit-norm corpus ⇒ centroid coordinates are small
    assert(out.map(r => math.abs(r.getDouble(2))).max <= 1.0)
  }

  test("vec_kmeans_lloyd is deterministic across runs") {
    val a = rowsOf(Catalog.byKey("vec_kmeans_lloyd").run(spark, sfDir))
    val b = rowsOf(Catalog.byKey("vec_kmeans_lloyd").run(spark, sfDir))
    assert(a == b)
  }

  test("graph_triangle_count equals an independent adjacency-set count") {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).values
    val edges = byOrder.flatMap { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val tri = edges.toSeq.map { case (a, b) =>
      (adj(a) intersect adj(b)).count(_ > b)
    }.sum
    val got = Catalog.byKey("graph_triangle_count").run(spark, sfDir).collect().head
    assert(got.getLong(1) == edges.size, "edge count")
    assert(got.getLong(2) == tri.toLong, "triangle count")
    assert(got.getDouble(3) >= 0.0 && got.getDouble(3) <= 1.0, "clustering coefficient range")
  }

  test("graph_degree_stats masses: Σ degree·n_nodes = 2·|edges| split by side") {
    val out = Catalog.byKey("graph_degree_stats").run(spark, sfDir).collect()
    val mass = out.groupBy(_.getString(0))
      .map { case (s, rows) => s -> rows.map(r => r.getLong(1) * r.getLong(2)).sum }
    val nEdges = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().count()
    // bipartite: each edge contributes one endpoint to each family
    assert(mass("customer") == nEdges && mass("supplier") == nEdges)
  }

  test("graph_jaccard_neighbors: similarity bounds and count consistency") {
    val out = Catalog.byKey("graph_jaccard_neighbors").run(spark, sfDir).collect()
    assert(out.length == 50)
    out.foreach { r =>
      val (common, uni, jac) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(common >= 1 && uni >= common)
      assert(jac > 0.0 && jac <= 1.0)
      assert(math.abs(jac - common.toDouble / uni) < 1e-5)
    }
  }
}
