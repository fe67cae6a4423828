package graft

import org.apache.spark.sql.functions._

/** Equivalence spec for `dedup_cluster_cc` — the entry exempted from
  * SelfCheckSpec's SQL-twin harness (Spark 4.1 cannot state the CC
  * fixpoint in SQL: UNION-distinct recursion is unsupported and UNION ALL
  * closure diverges on cycles). Ground truth is a driver-side union-find
  * over the SAME edge predicate, computed in plain Scala — an
  * implementation with no shared code or algorithmic shape with the
  * distributed label-propagation under test.
  */
class CcSpec extends SparkSpecBase {

  private def edges(): Seq[(Long, Long)] = {
    val t = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(split(col("text"), " ")).as("toks"))
    val a = t.select(col("doc_id").as("src"), col("lang").as("lang_a"),
      col("n_chars").as("nc_a"), col("toks").as("toks_a"))
    val b = t.select(col("doc_id").as("dst"), col("lang").as("lang_b"),
      col("n_chars").as("nc_b"), col("toks").as("toks_b"))
    val inter = size(array_intersect(col("toks_a"), col("toks_b")))
    a.join(b,
        col("lang_a") === col("lang_b") && col("src") < col("dst")
          && col("nc_b").between(col("nc_a") - 20, col("nc_a") + 20))
      .where(round(inter * 1.0 / (size(col("toks_a")) + size(col("toks_b")) - inter), 4)
        >= 0.5)
      .select(col("src"), col("dst"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
  }

  /** Plain union-find with path compression; components labeled by min id. */
  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("dedup_cluster_cc equals union-find ground truth") {
    val es = edges()
    assert(es.nonEmpty, "edge set empty — spec would be vacuous")
    val expected = unionFind(es)
    val got = Catalog.byKey("dedup_cluster_cc").run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == expected.keySet,
      s"node sets differ: only-spark=${(got.keySet -- expected.keySet).take(5)} " +
        s"only-truth=${(expected.keySet -- got.keySet).take(5)}")
    val bad = got.collect { case (n, c) if expected(n) != c => (n, c, expected(n)) }
    assert(bad.isEmpty, s"label mismatches (node, got, want): ${bad.take(10)}")
  }

  test("dedup_cluster_lsh refines the exact clustering with pair recall >= 0.9") {
    def coClusteredPairs(labels: Map[Long, Long]): Set[(Long, Long)] =
      labels.groupBy(_._2).values.flatMap { members =>
        val ids = members.keys.toSeq.sorted
        for (i <- ids.indices; j <- (i + 1) until ids.size) yield (ids(i), ids(j))
      }.toSet
    val exact = Catalog.byKey("dedup_cluster_cc").run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Catalog.byKey("dedup_cluster_lsh").run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactPairs = coClusteredPairs(exact)
    val lshPairs = coClusteredPairs(lsh)
    assert(exactPairs.nonEmpty, "exact clustering empty — spec would be vacuous")
    // precision 1.0 / refinement: every LSH edge is exactly verified under
    // the same predicate, so LSH can only ever merge what exact merges
    val extra = lshPairs -- exactPairs
    assert(extra.isEmpty, s"LSH co-clustered pairs outside exact clusters: ${extra.take(5)}")
    // recall floor: banding misses edges with P(1-0.5)^16 per pair — but a
    // missed EDGE only splits a cluster when no other path joins it, so
    // pair recall is well above the per-edge bound
    val recall = (exactPairs & lshPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.9, s"co-clustered pair recall $recall < 0.9 " +
      s"(exact=${exactPairs.size}, lsh=${lshPairs.size})")
  }

  test("dedup_cluster_cc identical under reliable-checkpoint mode") {
    // graft.cc.checkpointDir switches the propagation loop from
    // localCheckpoint (executor-local blocks) to reliable checkpoint
    // files — the cluster fault-tolerance mode must be result-identical
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_chk").toString
    val local = Catalog.byKey("dedup_cluster_cc").run(spark, sfDir).collect().toSeq
    spark.conf.set("graft.cc.checkpointDir", dir)
    try {
      val reliable = Catalog.byKey("dedup_cluster_cc").run(spark, sfDir).collect().toSeq
      assert(reliable == local, "reliable-checkpoint labels differ from local mode")
    } finally {
      spark.conf.unset("graft.cc.checkpointDir")
      // best-effort scratch cleanup; checkpoint files are per-test temp
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("dedup_simhash_cluster equals union-find over the pair spelling's graph") {
    // The cluster spelling's contract (VERDICT r16 #2): its components are
    // EXACTLY the connected components of dedup_simhash's pair graph (the
    // pigeonhole banding is a complete candidate generator, so neither
    // spelling is sampled). Ground truth = driver-side union-find over the
    // emitted pairs — no shared code with the distributed propagation.
    // Pinned at TWO scale factors: clone-clique shapes differ across them.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val pairs = Catalog.byKey("dedup_simhash").run(spark, dir)
        .select(col("doc_a"), col("doc_b"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.nonEmpty, s"$dir: simhash pair set empty — spec would be vacuous")
      val expected = unionFind(pairs)
      val got = Catalog.byKey("dedup_simhash_cluster").run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val gotLabels = got.map(t => t._1 -> t._2).toMap
      // node sets: every doc in a qualifying pair is clustered (size >= 2
      // is implied by edge membership), and nothing else is
      assert(gotLabels.keySet == expected.keySet,
        s"$dir: node sets differ: only-cluster=${(gotLabels.keySet -- expected.keySet).take(5)} " +
          s"only-truth=${(expected.keySet -- gotLabels.keySet).take(5)}")
      val bad = gotLabels.collect { case (n, c) if expected(n) != c => (n, c, expected(n)) }
      assert(bad.isEmpty, s"$dir: label mismatches (node, got, want): ${bad.take(10)}")
      // cluster_size matches the true component size on every row
      val truthSizes = expected.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
      val badSize = got.collect {
        case (n, c, s) if truthSizes(c) != s => (n, c, s, truthSizes(c))
      }
      assert(badSize.isEmpty, s"$dir: size mismatches (node, comp, got, want): ${badSize.take(10)}")
    }
  }

  test("dedup_cluster_cc labels are component minima and edge-consistent") {
    val es = edges()
    val got = Catalog.byKey("dedup_cluster_cc").run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every edge's endpoints share a label
    val split = es.filter { case (u, v) => got(u) != got(v) }
    assert(split.isEmpty, s"edges across components: ${split.take(5)}")
    // each label is the min doc_id of its members
    got.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.keys.min == comp,
        s"component $comp labeled above its min member ${members.keys.min}")
    }
  }

  test("chainNeighbours pairs each row with its next two inside its partition only") {
    // partitions of 5, 3, 2 and 1 rows; ord is a permutation so the
    // expected order is known, and rows arrive shuffled across 3 slices
    val sizes = Seq("a" -> 5, "b" -> 3, "c" -> 2, "d" -> 1)
    val rows = for ((p, m) <- sizes; k <- 0 until m)
      yield (p, ((k * 7) % m).toLong, s"$p$k")
    val session = spark
    import session.implicits._
    val df = spark.sparkContext.parallelize(new scala.util.Random(7).shuffle(rows), 3)
      .toDF("p", "ord", "id")
    val got = graft.queries.TextQueries.chainNeighbours(df, Seq(col("p")),
        Seq(col("ord")), Seq("id", "p"))
      .collect().map(r => (r.getAs[String]("p"), r.getAs[String]("id"),
        r.getAs[String]("nb_p"), r.getAs[String]("nb_id"))).toSeq
    assert(got.forall { case (p, _, nbp, _) => p == nbp }, s"pair across partitions: $got")
    val expected = sizes.flatMap { case (p, m) =>
      val sorted = rows.filter(_._1 == p).sortBy(_._2).map(_._3)
      (1 to 2).flatMap(k => sorted.zip(sorted.drop(k))).map { case (x, y) => (p, x, p, y) }
    }
    assert(got.sorted == expected.sorted, s"got ${got.sorted}, want ${expected.sorted}")
    sizes.foreach { case (p, m) =>
      assert(got.count(_._1 == p) == math.max(0, 2 * m - 3), s"partition $p of $m rows")
    }
  }

  test("minhashSignature equals the driver-side min of XxHash64(seed, element)") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val sets = Seq[(Long, Seq[String])](1L -> Seq("a", "b", "c"), 2L -> Seq("b"),
      3L -> Seq("x", "y", "a", "b", "z"), 4L -> Seq(), 5L -> null)
    val nHashes = 8
    val session = spark
    import session.implicits._
    val df = spark.sparkContext.parallelize(sets, 2).toDF("id", "toks")
    val got = graft.queries.TextQueries.minhashSignature(df, "id", "toks", nHashes, Some("n"))
      .collect().map(r => r.getAs[Long]("id") ->
        ((0 until nHashes).map(i => r.getAs[Long](s"h$i")) :+ r.getAs[Long]("n"))).toMap
    val expected = sets.collect { case (id, toks) if toks != null && toks.nonEmpty =>
      id -> ((0 until nHashes).map(i => toks.map(t =>
        new XxHash64(Seq(Literal(i), Literal(t))).eval().asInstanceOf[Long]).min) :+ toks.size.toLong)
    }.toMap
    // null and empty sets have no signature
    assert(got == expected, s"got $got, want $expected")
  }
}
