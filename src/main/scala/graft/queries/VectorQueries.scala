package graft.queries

import graft.{CatalogEntry, Tables}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Category J — vector / similarity operators (SURVEY.md §2.1.J).
  *
  * All math in double over `CAST(embedding AS ARRAY<DOUBLE>)`. The hot
  * pairwise paths use the native codegen'd [[graft.functions.CosineSimilarity]]
  * expression (one fused loop per pair); `vec_norm_project` keeps the
  * higher-order-function formulation to exercise that surface too. Both
  * engines fold the 64-element arrays left-to-right, so dot products agree
  * bit-for-bit; ROUND(…,4) guards the residual ulp.
  *
  * Scale design: `vec_cosine_knn` broadcasts the query vector (the 100-TB
  * ANN baseline: one pass, map-side top-k via TakeOrderedAndProject);
  * `vec_pairwise_topk` blocks the O(n²) self-join by label — the same move
  * an IVF index makes with centroids-as-labels.
  */
object VectorQueries {

  private def vdouble(c: Column): Column = c.cast("array<double>")

  private def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** L2 norm per vector (the corpus is unit-norm by construction, so this
    * doubles as a sanity probe — everything rounds to 1.0). */
  private val normProject = CatalogEntry.dialect(
    "vec_norm_project",
    duckdb = """SELECT vec_id,
               |       ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 4) AS l2
               |FROM embeddings ORDER BY vec_id""".stripMargin,
    spark = """SELECT vec_id,
              |       ROUND(sqrt(aggregate(transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)), 4) AS l2
              |FROM embeddings ORDER BY vec_id""".stripMargin) { (spark, sfDir) =>
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), round(norm(vdouble(col("embedding"))), 4).as("l2"))
      .orderBy(col("vec_id"))
  }

  /** Brute-force cosine top-10 for one query vector — the ANN baseline.
    * The query vector is a literal (broadcast by construction); ordering on
    * the rounded sim + vec_id tie-break keeps the cut deterministic. */
  private val cosineKnn = CatalogEntry.dialect(
    "vec_cosine_knn",
    duckdb = """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
               |SELECT e.vec_id,
               |       ROUND(list_sum(list_transform(range(1, 65), i -> qv[i] * CAST(embedding AS DOUBLE[])[i])) /
               |             (sqrt(list_sum(list_transform(qv, x -> x * x))) *
               |              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))), 4) AS sim
               |FROM embeddings e, q
               |WHERE e.vec_id <> 0
               |ORDER BY sim DESC, vec_id
               |LIMIT 10""".stripMargin,
    spark = """WITH q AS (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qv FROM embeddings WHERE vec_id = 0)
              |SELECT e.vec_id,
              |       ROUND(aggregate(zip_with(qv, CAST(embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) /
              |             (sqrt(aggregate(transform(qv, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) *
              |              sqrt(aggregate(transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))), 4) AS sim
              |FROM embeddings e CROSS JOIN q
              |WHERE e.vec_id <> 0
              |ORDER BY sim DESC, vec_id
              |LIMIT 10""".stripMargin) { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") === 0)
      .select(vdouble(col("embedding")).as("qv"))
    emb.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("v", vdouble(col("embedding")))
      .select(col("vec_id"), round(expr("cosine_sim(qv, v)"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Brute-force cosine top-10 for an arbitrary query id — the ground
    * truth PropertySpec scores ANN mean recall against. */
  private[graft] def bruteTopK(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, qid: Long): org.apache.spark.sql.DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") === qid)
      .select(vdouble(col("embedding")).as("qv"))
    emb.where(col("vec_id") =!= qid && col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("v", vdouble(col("embedding")))
      .select(col("vec_id"), round(expr("cosine_sim(qv, v)"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Top-20 most-similar pairs within each label block (IVF-shaped
    * blocking: n²/|labels| pairs instead of n²). */
  private val pairwiseTopk = CatalogEntry.dialect(
    "vec_pairwise_topk",
    duckdb = """WITH t AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               |p AS (
               |  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
               |         ROUND(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
               |               (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
               |                sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) AS sim
               |  FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
               |)
               |SELECT label, vec_a, vec_b, sim FROM (
               |  SELECT label, vec_a, vec_b, sim,
               |         ROW_NUMBER() OVER (PARTITION BY label ORDER BY sim DESC, vec_a, vec_b) AS rn
               |  FROM p
               |) WHERE rn <= 20
               |ORDER BY label, sim DESC, vec_a, vec_b""".stripMargin,
    spark = """WITH t AS (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings),
              |p AS (
              |  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
              |         ROUND(aggregate(zip_with(a.v, b.v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) /
              |               (sqrt(aggregate(transform(a.v, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) *
              |                sqrt(aggregate(transform(b.v, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))), 4) AS sim
              |  FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
              |)
              |SELECT label, vec_a, vec_b, sim FROM (
              |  SELECT label, vec_a, vec_b, sim,
              |         ROW_NUMBER() OVER (PARTITION BY label ORDER BY sim DESC, vec_a, vec_b) AS rn
              |  FROM p
              |) WHERE rn <= 20
              |ORDER BY label, sim DESC, vec_a, vec_b""".stripMargin) { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val t = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), vdouble(col("embedding")).as("v"))
    val a = t.select(col("label"), col("vec_id").as("vec_a"), col("v").as("va"))
    val b = t.select(col("label").as("label_b"), col("vec_id").as("vec_b"), col("v").as("vb"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("sim").desc, col("vec_a"), col("vec_b"))
    a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .withColumn("sim", round(expr("cosine_sim(va, vb)"), 4))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 20)
      .select(col("label"), col("vec_a"), col("vec_b"), col("sim"))
      .orderBy(col("label"), col("sim").desc, col("vec_a"), col("vec_b"))
  }

  /** Element-wise mean vector per label, emitted long-form (label, pos,
    * value) so the compare sees flat columns. posexplode ↔ zipped
    * unnest/generate_subscripts. */
  private val centroidPerLabel = CatalogEntry.dialect(
    "vec_centroid_per_label",
    duckdb = """SELECT label, pos, ROUND(AVG(v), 4) + 0.0 AS c_val FROM (
               |  SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
               |         CAST(unnest(embedding) AS DOUBLE) AS v
               |  FROM embeddings
               |)
               |GROUP BY label, pos
               |ORDER BY label, pos""".stripMargin,
    spark = """SELECT label, pos, ROUND(AVG(v), 4) + 0.0D AS c_val
              |FROM (SELECT label, posexplode(CAST(embedding AS ARRAY<DOUBLE>)) AS (pos, v) FROM embeddings)
              |GROUP BY label, pos
              |ORDER BY label, pos""".stripMargin) { (spark, sfDir) =>
    Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(vdouble(col("embedding"))).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(Util.znorm(avg(col("v")), 4).as("c_val"))
      .orderBy(col("label"), col("pos"))
  }

  /** Text ⋈ vectors (doc_id = vec_id): per-(label, lang) doc counts + avg
    * length — the multimodal-columns join pattern. */
  private val multimodalJoin = CatalogEntry.ansi(
    "multimodal_join",
    """SELECT label, lang, COUNT(*) AS n_docs,
      |       ROUND(SUM(n_chars) * CAST(1.0 AS DOUBLE) / COUNT(*), 4) AS avg_chars
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |GROUP BY label, lang
      |ORDER BY label, lang""".stripMargin) { (spark, sfDir) =>
    Tables.documents(spark, sfDir)
      .join(Tables.embeddings(spark, sfDir), col("doc_id") === col("vec_id"))
      .groupBy(col("label"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("n_chars")) * 1.0 / count(lit(1)), 4).as("avg_chars"))
      .orderBy(col("label"), col("lang"))
  }

  /** Embedding-cosine near-duplicate detection: pairs with rounded cosine
    * ≥ 0.995 inside label blocks — the vector-space twin of the text
    * near-dup operators, same blocked-join scale shape. */
  private val dedupEmbedding = CatalogEntry.dialect(
    "dedup_embedding_cosine",
    duckdb = """WITH t AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
               |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               |       ROUND(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
               |             (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
               |              sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) AS sim
               |FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
               |WHERE ROUND(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
               |            (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
               |             sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) >= 0.995
               |ORDER BY vec_a, vec_b""".stripMargin,
    spark = """WITH t AS (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings),
              |p AS (
              |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |         ROUND(aggregate(zip_with(a.v, b.v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) /
              |               (sqrt(aggregate(transform(a.v, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) *
              |                sqrt(aggregate(transform(b.v, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))), 4) AS sim
              |  FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
              |)
              |SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.995
              |ORDER BY vec_a, vec_b""".stripMargin) { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val t = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), vdouble(col("embedding")).as("v"))
    val a = t.select(col("label"), col("vec_id").as("vec_a"), col("v").as("va"))
    val b = t.select(col("label").as("label_b"), col("vec_id").as("vec_b"), col("v").as("vb"))
    a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .withColumn("sim", round(expr("cosine_sim(va, vb)"), 4))
      .where(col("sim") >= 0.995)
      .select(col("vec_a"), col("vec_b"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** IVF-style ANN: labels act as the coarse quantizer (the real system
    * would k-means its own centroids — same plan shape). Probe order:
    * 1. per-label centroids (tiny — collected to the driver),
    * 2. rank centroids against the query, keep nprobe=3,
    * 3. scan ONLY those labels' vectors for the top-10.
    * At 100 TB the label partitioning prunes ~70% of the scan here, and
    * more with more cells; recall vs brute force is property-tested. */
  private val ivfKnn = CatalogEntry.noOracle("vec_ivf_knn") { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), vdouble(col("embedding")).as("v"))
    // shared coarse quantizer (memo'd — same offline artifact ivf_pq probes)
    val centroids = cellCentroidsOf(spark, sfDir)
    val q = emb.where(col("vec_id") === 0).select(col("v").as("qv"))
    // nprobe is the recall/cost dial — spark.conf `graft.ann.ivf.nprobe`
    val probeLabels = centroids.crossJoin(broadcast(q))
      .select(col("label"), expr("cosine_sim(cv, qv)").as("csim"))
      .orderBy(col("csim").desc, col("label"))
      .limit(graft.GraftConf.ivfNprobe(spark))
      .collect().map(_.getInt(0)).toSeq
    emb.where(col("vec_id") =!= 0 && col("label").isin(probeLabels: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(expr("cosine_sim(v, qv)"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Effective SRP bits per table for a corpus of n vectors: the
    * configured floor raised to ceil(log2(n / targetBucket)), capped at
    * 30. Pinning expected bucket occupancy makes co-bucket candidate
    * counts LINEAR in n (occupancy × n × tables / 2) where fixed-width
    * tables degrade quadratically — the round-12 scale proof measured
    * exactly that cliff (77× cost at 10× data) before this adaptation.
    * At every test SF (n ≤ 2000) this resolves to the configured 4 bits,
    * so recall floors and bench baselines are untouched; the count that
    * feeds it is a single-long driver probe, the accepted plan-control
    * class (same as the IVF probe labels). */
  private def srpEffectiveBits(spark: SparkSession, n: Long): Int = {
    val floor = graft.GraftConf.lshAnnBits(spark)
    val target = graft.GraftConf.lshAnnTargetBucket(spark)
    val scaled = math.ceil(
      math.log(math.max(1.0, n.toDouble / target)) / math.log(2.0)).toInt
    math.min(30, math.max(floor, scaled))
  }

  /** Embeddings-corpus row count per (session, sfDir), memoized in
    * [[graft.SessionMemo]] — the single-long probe feeding
    * [[srpEffectiveBits]]. Without the memo, every invocation of
    * `vec_lsh_ann` / `vec_knn_graph_lsh` paid one extra scan-and-count
    * driver action — including every bench rep, where the result is always
    * the configured floor anyway (ADVICE r12). The count is immutable for a
    * given parquet dir within a session. */
  private def embCorpusCount(spark: SparkSession, sfDir: String): Long =
    graft.SessionMemo(spark, ("embCount", sfDir)) { _ =>
      Tables.embeddings(spark, sfDir).count()
    }

  /** APPROXIMATE distinct-embedding count per (session, sfDir), memoized
    * like [[embCorpusCount]] — the duplicate-ratio probe gating
    * `vec_knn_graph_lsh`'s canonicalization stages (VERDICT r15 #5). One
    * HLL pass over a 64-bit value hash; ±5% rsd is plenty for a ≥0.98
    * ratio gate whose both branches are correct (the gate trades the
    * ~+1-3 s group machinery against quadratic-in-dup-depth co-bucket
    * joins — a boundary misread only costs the smaller of the two
    * overheads). */
  private def embDistinctCount(spark: SparkSession, sfDir: String): Long =
    graft.SessionMemo(spark, ("embDistinct", sfDir)) { _ =>
      Tables.embeddings(spark, sfDir)
        .agg(approx_count_distinct(xxhash64(vdouble(col("embedding")))).as("d"))
        .head().getLong(0)
    }

  /** SRP signature tables: per id of `vecs` (columns `idCol`, `v`),
    * `nTables` rows `(tbl, bucket)`, bucket = the sign bits of `bits`
    * hyperplane projections packed into an int. ONE posexplode + groupBy
    * pass computes all nTables×bits projection sums codegen'd (the MinHash
    * signature trick of [[TextQueries.minhashSignature]] — no interpreted
    * HOF per plane). Hyperplane component (plane p, dim i): xxhash64-
    * derived uniform in [-1, 1] — deterministic, no stored model
    * (Rademacher-ish is enough for SRP; Gaussianity is not required for
    * the collision bound). */
  private def srpTables(vecs: org.apache.spark.sql.DataFrame, idCol: String,
      bits: Int, nTables: Int): org.apache.spark.sql.DataFrame = {
    def rcomp(p: Int): Column =
      (pmod(xxhash64(lit(p), col("pos")), lit(2001L)) - lit(1000L)) / lit(1000.0)
    val sumExprs = (0 until nTables * bits).map(p => sum(col("x") * rcomp(p)).as(s"s$p"))
    val sigs = vecs.select(col(idCol), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col(idCol)).agg(sumExprs.head, sumExprs.tail: _*)
    val bucketCols = (0 until nTables).map { t =>
      (0 until bits).map { b =>
        when(col(s"s${t * bits + b}") >= 0, lit(1 << b)).otherwise(lit(0))
      }.reduce(_ + _).as(s"bkt$t")
    }
    sigs.select((col(idCol) +: bucketCols): _*)
      .select(col(idCol),
        posexplode(array((0 until nTables).map(t => col(s"bkt$t")): _*))
          .as(Seq("tbl", "bucket")))
  }

  /** Random-hyperplane (signed-random-projection) LSH ANN — the
    * DATA-INDEPENDENT counterpart to [[ivfKnn]]: no centroid pass, no
    * training; buckets come from sign(v·r) under deterministic
    * pseudo-random hyperplanes, so new vectors index in O(1) without
    * touching the corpus (the property IVF lacks when the corpus
    * drifts). nTables hash tables of nBits each; a pair at angle θ
    * agrees on one bit w.p. 1-θ/π, on a table w.p. (1-θ/π)^nBits, on
    * ANY table w.p. 1-(1-(1-θ/π)^nBits)^nTables.
    *
    * Honest physics on THIS corpus: the query's true neighbours sit at
    * ~70° (cos ≈ 0.3 — near-uniform random vectors), so useful recall
    * needs wide probing: defaults (8 tables × 4 bits) scan ~40% of the
    * corpus here. That is the real SRP trade at low similarity — the
    * knobs scale as nBits ≈ log2(n / target_bucket) as the corpus
    * grows, and corpora with actual near-dups (the dedup use case) sit
    * on the cheap side of the S-curve. Recall vs brute force is
    * property-tested, same floor as the IVF entry.
    *
    * Plan shape: the one-pass codegen'd [[srpTables]] signature
    * aggregation; buckets broadcast-join against the query's. */
  private val lshAnn = CatalogEntry.noOracle("vec_lsh_ann") { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val nTables = graft.GraftConf.lshAnnTables(spark)
    val bits = srpEffectiveBits(spark, embCorpusCount(spark, sfDir))
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
    val tabled = srpTables(emb, "vec_id", bits, nTables)
    val qBuckets = tabled.where(col("vec_id") === 0)
      .select(col("tbl"), col("bucket"))
    val candIds = tabled.where(col("vec_id") =!= 0)
      .join(broadcast(qBuckets), Seq("tbl", "bucket"))
      .select(col("vec_id")).distinct()
    val q = emb.where(col("vec_id") === 0).select(col("v").as("qv"))
    emb.join(candIds, "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(expr("cosine_sim(v, qv)"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Product-quantization ANN (the third index family after IVF cells and
    * SRP-LSH): split each 64-dim vector into M=8 subvectors of D=8 dims,
    * learn K=16 centroids per subspace (2 deterministic Lloyd rounds),
    * encode the corpus as 8 small codes, and answer a query by
    * asymmetric-distance (ADC) lookup — distance(query, doc) ≈ sum over
    * subspaces of the precomputed distance(query-subvector, doc's
    * centroid). At 100 TB this is THE memory move: 64 doubles (512 B)
    * become 8 code bytes per vector, and the scan costs 8 table lookups
    * per candidate instead of a 64-dim dot product. The corpus is
    * unit-norm, so L2-ADC ranking equals cosine ranking.
    *
    * Determinism (partition-invariance is tested for every entry): k-means
    * seeding is md5-ranked (no rand()), and every floating-point MEAN and
    * SUM folds a sorted collect_list instead of a shuffle-ordered agg —
    * plain avg()/sum() over doubles varies in the low bits with partition
    * count, which flips ADC ranks at the round(…,4) boundary. Cells here
    * are ≤ |corpus|/K values, so the lists are small by construction.
    * Recall@10 vs the brute-force baseline is property-tested
    * (PropertySpec, same ≥ 0.5 floor as IVF/SRP on this near-orthogonal
    * corpus). No oracle (iterative k-means is not SQL-expressible). */
  private val pqM = 8; private val pqD = 8; private val pqK = 64
  private val pqRounds = 3

  private def pqSlices(v: Column): Column =
    array((0 until pqM).map(s => slice(v, s * pqD + 1, pqD)): _*)

  private def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Per-label mean centroids (label, cv) — the IVF coarse quantizer shared
    * by `vec_ivf_knn`, `vec_ivf_pq`, and residual-PQ training. Memoized and
    * cached per (session, sfDir) like the PQ models below: the coarse
    * quantizer is part of the same offline index artifact. */
  private def cellCentroidsOf(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    graft.SessionMemo(spark, ("cellCentroids", sfDir)) { own =>
      own(Tables.embeddings(spark, sfDir)
        .select(col("label"), posexplode(vdouble(col("embedding"))).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("c"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("label"), expr("transform(pc, p -> p.c)").as("cv"))
        .cache())
    }

  /** Materialize the train-once index artifacts (Bench load-phase hook,
    * same materialized-view posture as GraphQueries.warmShared): the IVF
    * coarse quantizer and both PQ codebook/code sets are offline artifacts
    * in production (the pqModel scaladoc below) — a search benchmark
    * measures the QUERY path against a built index, not index training. */
  def warmShared(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    cellCentroidsOf(spark, sfDir).count()
    Seq(false, true).foreach { residual =>
      val (cents, codes) = pqModel(spark, sfDir, residual)
      cents.count(); codes.count()
    }
    // knn-graph canonicalization frames only exist on duplicate-bearing
    // corpora (the dup-ratio gate skips them otherwise — no point warming
    // frames the entry will never touch)
    if (!embAllDistinct(spark, sfDir)) {
      val (ranked, groups) = knnFpFrames(spark, sfDir)
      ranked.count(); groups.count()
    }
  }

  /** Train-once PQ model per (session, sfDir, sample modulus, residual):
    * (codebooks, corpus codes), both cached DataFrames. Training is a pure
    * function of the corpus, so the two PQ entries (`vec_pq_ann`,
    * `vec_ivf_pq`) share one model — in production the codebooks are an
    * offline artifact; whichever entry runs first pays the Lloyd rounds,
    * the other rides the memo ([[graft.SessionMemo]], which owns every
    * frame the training caches: the subvectors, the seed and every round's
    * centroids, and the codes).
    *
    * `residual = true` trains codebooks on vector − cell-centroid residuals
    * (the standard FAISS IVF-PQ accuracy lever): residuals concentrate near
    * the origin with far less cross-cell variance than raw vectors, so the
    * same M×K codebook budget spends its resolution on the differences that
    * matter inside a probed cell. The residual model is a distinct trained
    * artifact from the raw one (`vec_pq_ann` keeps raw codes — its queries
    * are not cell-routed), hence the key discriminator. */
  private[graft] def pqModel(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, residual: Boolean = false)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val trainMod = graft.GraftConf.pqTrainSampleMod(spark)
    graft.SessionMemo(spark, ("pq", sfDir, trainMod, residual)) { own =>
      VectorFunctions.ensureRegistered(spark)
      val embRaw = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("label"), vdouble(col("embedding")).as("v"))
      val emb =
        if (!residual) embRaw.select(col("vec_id"), col("v"))
        else embRaw.join(broadcast(cellCentroidsOf(spark, sfDir)), "label")
          .select(col("vec_id"),
            zip_with(col("v"), col("cv"), (a, b) => a - b).as("v"))
      val sub = own(emb.where(col("vec_id") =!= 0)
        .select(col("vec_id"), posexplode(pqSlices(col("v"))).as(Seq("s", "sv")))
        .withColumn("sv2", expr("dot_product(sv, sv)"))
        .cache()) // every Lloyd round and the final encode read this frame
      // Lloyd rounds train on a deterministic 1/mod sample (vec_id mod —
      // ids are dense, so this is a uniform draw): k-means centroids are a
      // statistic of the distribution, not the corpus, and sample-training
      // is the standard FAISS move — at 100 TB nobody Lloyd-iterates every
      // vector. Only the one-time final encode below touches all rows, so
      // training cost drops ~mod× with the same recall floor (PropertySpec).
      val subTrain =
        if (trainMod <= 1) sub else sub.where(col("vec_id") % trainMod === 1)
      // deterministic seeding: the subvectors of the K docs ranked first by
      // md5(vec_id) — a reproducible pseudo-random draw (SURVEY §2.0.6)
      val seedW = Window.partitionBy(col("s"))
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      var cents = own(subTrain
        .withColumn("c", row_number().over(seedW) - 1)
        .where(col("c") < pqK)
        .select(col("s"), col("c"), col("sv").as("cent"))
        .cache())
      // assign touches |rows|×K candidate rows per round — the hot path.
      // l2² = |sv|² + |cent|² − 2·(sv·cent) with the native codegen'd
      // dot_product (the interpreted zip_with fold here measured 12 s for
      // the whole entry at sf0.1; the norms are precomputed once per side)
      def assign(rows: org.apache.spark.sql.DataFrame,
          cs: org.apache.spark.sql.DataFrame) = {
        val csn = cs.withColumn("c2", expr("dot_product(cent, cent)"))
        rows.join(broadcast(csn), "s")
          .withColumn("dist",
            col("sv2") + col("c2") - lit(2.0) * expr("dot_product(sv, cent)"))
          .groupBy(col("vec_id"), col("s"))
          .agg(min(struct(col("dist"), col("c"))).getField("c").as("c"))
      }
      (1 to pqRounds).foreach { _ =>
        // per-cell mean in ONE grouped pass: collect the cell's subvectors,
        // sort by member id, fold each dimension in that fixed order (same
        // summation sequence as the former posexplode formulation — bit-
        // identical means — minus its 128k-row shuffle and second groupBy)
        cents = own(assign(subTrain, cents).join(subTrain, Seq("vec_id", "s"))
          .groupBy(col("s"), col("c"))
          .agg(collect_list(struct(col("vec_id").as("i"), col("sv").as("sv"))).as("xs"))
          .select(col("s"), col("c"), expr(
            s"""transform(sequence(1, $pqD), d ->
               |  aggregate(transform(array_sort(xs), e -> e.sv[d-1]),
               |            cast(0.0 as double), (a, x) -> a + x) / size(xs))""".stripMargin)
            .as("cent"))
          // cache, not localCheckpoint: each round's broadcast would otherwise
          // re-run every earlier round's plan (broadcast materializes its
          // subtree), and the eager per-round checkpoint jobs cost more than
          // the ≤ M×K rows they pin (measured 11.5 s → see BASELINE.md)
          .cache())
      }
      (cents, own(assign(sub, cents).cache()))
    }
  }

  /** Shared PQ query path: ADC lookup table from the codebooks, shortlist
    * the candidate codes by approximate distance, exact-rerank the top 50
    * (PQ is a COMPRESSOR, not the final ranker — only the shortlist ever
    * touches full vectors again). */
  private def pqSearch(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      cents: org.apache.spark.sql.DataFrame,
      candCodes: org.apache.spark.sql.DataFrame,
      qid: Long = 0L): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
    val q = emb.where(col("vec_id") === qid)
      .select(posexplode(pqSlices(col("v"))).as(Seq("s", "qsv")))
    val adc = q.join(cents, "s")
      .select(col("s"), col("c"), l2(col("qsv"), col("cent")).as("qd"))
    val shortlist = candCodes.where(col("vec_id") =!= qid)
      .join(broadcast(adc), Seq("s", "c"))
      .groupBy(col("vec_id"))
      .agg(collect_list(struct(col("s").as("s"), col("qd").as("qd"))).as("ds"))
      .select(col("vec_id"),
        round(aggregate(transform(array_sort(col("ds")), e => e.getField("qd")),
          lit(0.0), (acc, x) => acc + x), 4).as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(50)
    val qv = emb.where(col("vec_id") === qid).select(col("v").as("qv"))
    shortlist.join(emb.where(col("vec_id") =!= qid), "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), round(expr("cosine_sim(qv, v)"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  private val pqAnn = CatalogEntry.noOracle("vec_pq_ann") { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val (cents, codes) = pqModel(spark, sfDir)
    pqSearch(spark, sfDir, cents, codes)
  }

  /** Generalized IVF-PQ search — `qid` parameterizes the query vector so
    * PropertySpec can measure MEAN recall over many queries (single-query
    * recall@10 swings ±0.2 on this near-orthogonal corpus — too noisy to
    * pin a floor on). Codes are residual-encoded and scored by per-cell
    * ADC (see [[ivfPq]]). */
  private[graft] def ivfPqTopK(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, qid: Long)
      : org.apache.spark.sql.DataFrame = {
    VectorFunctions.ensureRegistered(spark)
    val (cents, codes) = pqModel(spark, sfDir, residual = true)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), vdouble(col("embedding")).as("v"))
    val cellCentroids = cellCentroidsOf(spark, sfDir)
    val q = emb.where(col("vec_id") === qid).select(col("v").as("qv"))
    // IVF-PQ probes MORE cells than plain IVF at equal recall: the PQ
    // quantization loss stacks on the cell-miss loss, and widening the
    // probe is the standard (and cheap — codes, not vectors) compensation
    val probeLabels = cellCentroids.crossJoin(broadcast(q))
      .select(col("label"), expr("cosine_sim(cv, qv)").as("csim"))
      .orderBy(col("csim").desc, col("label"))
      .limit(graft.GraftConf.ivfNprobe(spark) + 2)
      .collect().map(_.getInt(0)).toSeq
    val members = emb
      .where(col("vec_id") =!= qid && col("vec_id") =!= 0 &&
        col("label").isin(probeLabels: _*))
      .select(col("vec_id"), col("label"))
    // per-cell ADC: query residual vs each probed cell's centroid
    val qr = cellCentroids.where(col("label").isin(probeLabels: _*))
      .crossJoin(broadcast(q))
      .select(col("label"),
        posexplode(pqSlices(zip_with(col("qv"), col("cv"), (a, b) => a - b)))
          .as(Seq("s", "qsv")))
    val adc = qr.join(cents, "s")
      .select(col("label"), col("s"), col("c"), l2(col("qsv"), col("cent")).as("qd"))
    val shortlist = codes.join(members, "vec_id")
      .join(broadcast(adc), Seq("label", "s", "c"))
      .groupBy(col("vec_id"))
      .agg(collect_list(struct(col("s").as("s"), col("qd").as("qd"))).as("ds"))
      .select(col("vec_id"),
        round(aggregate(transform(array_sort(col("ds")), e => e.getField("qd")),
          lit(0.0), (acc, x) => acc + x), 4).as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(50)
    shortlist.join(emb.where(col("vec_id") =!= qid), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(expr("cosine_sim(qv, v)"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF-PQ — the production ANN composition: the IVF coarse quantizer
    * (labels as cells, per-label mean centroids) prunes the corpus to
    * nprobe cells, and RESIDUAL-encoded PQ codes answer within the probed
    * cells. Residual encoding (r10, the standard FAISS accuracy lever):
    * codes quantize v − centroid(cell(v)), not v — residuals cluster near
    * the origin with the cross-cell variance already explained by the
    * coarse quantizer, so the codebooks spend their M×K resolution on
    * within-cell structure. The ADC is therefore PER CELL: the query's
    * residual against each probed cell's centroid yields that cell's
    * distance table (nprobe×M×K rows — tiny, broadcast), and each
    * candidate is scored against its own cell's table, exactly how FAISS
    * scans an IVF-PQ list. Only the ~50-row shortlist touches full
    * vectors for the exact cosine rerank. The residual model is its own
    * train-once artifact (see [[pqModel]]); `vec_pq_ann` keeps the raw
    * model — un-routed queries have no cell to residualize against.
    * Measured over 10 queries at sf0.001 against a raw-code arm (since
    * removed): residual and raw codes scored IDENTICAL 0.44 mean recall@10
    * here, because this corpus's labels are unclustered — per-cell centroids sit near the
    * origin, so residual ≈ raw by construction. The lever only pays on
    * clustered embeddings (every real corpus); the plan cost of carrying
    * it is one extra sample-trained Lloyd pass. PropertySpec pins the
    * MEAN recall floor over 10 queries — single-query recall@10 swings
    * ±0.2 on this corpus and proves nothing. */
  private val ivfPq = CatalogEntry.noOracle("vec_ivf_pq") { (spark, sfDir) =>
    ivfPqTopK(spark, sfDir, qid = 0L)
  }

  /** Threshold range search — ANN's other query shape: ALL corpus vectors
    * within cosine ≥ 0.2 of the query, not a fixed top-k. Same one-pass
    * broadcast-query scan as `vec_cosine_knn`, but the selection is a
    * pushed filter instead of TakeOrderedAndProject, so the result size
    * follows the data (radius queries back recall-oriented retrieval and
    * near-dup range sweeps). Threshold compares the round(…,4) value on
    * both sides — no boundary straddle. */
  private val rangeSearch = CatalogEntry.dialect(
    "vec_range_search",
    duckdb = """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
               |SELECT vec_id, sim FROM (
               |  SELECT e.vec_id,
               |         ROUND(list_sum(list_transform(range(1, 65), i -> qv[i] * CAST(embedding AS DOUBLE[])[i])) /
               |               (sqrt(list_sum(list_transform(qv, x -> x * x))) *
               |                sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))), 4) AS sim
               |  FROM embeddings e, q
               |  WHERE e.vec_id <> 0
               |) WHERE sim >= 0.2
               |ORDER BY sim DESC, vec_id""".stripMargin,
    spark = """WITH q AS (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qv FROM embeddings WHERE vec_id = 0)
              |SELECT vec_id, sim FROM (
              |  SELECT e.vec_id,
              |         ROUND(aggregate(zip_with(qv, CAST(embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) /
              |               (sqrt(aggregate(transform(qv, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) *
              |                sqrt(aggregate(transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))), 4) AS sim
              |  FROM embeddings e CROSS JOIN q
              |  WHERE e.vec_id <> 0
              |) WHERE sim >= 0.2
              |ORDER BY sim DESC, vec_id""".stripMargin) { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") === 0)
      .select(vdouble(col("embedding")).as("qv"))
    emb.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("v", vdouble(col("embedding")))
      .select(col("vec_id"), round(expr("cosine_sim(qv, v)"), 4).as("sim"))
      .where(col("sim") >= 0.2)
      .orderBy(col("sim").desc, col("vec_id"))
  }

  /** Scalar (int8) quantization ANN — the fourth index family beside
    * IVF/LSH/PQ, and the only one that is fully ORACLE-CHECKED: the affine
    * per-dimension quantizer is deterministic arithmetic both engines can
    * state exactly (⌊x+0.5⌋ rounding chosen for that reason). Codes pack
    * into one BINARY per vector (8× smaller than the double array — at
    * 100 TB the candidate scan fits in memory where raw vectors spill),
    * and the scan runs through the native codegen'd `sq8_cosine`, which
    * decodes each byte inline and never materializes a decoded array. The
    * top-50 shortlist by quantized cosine is exact-reranked to a top-10,
    * PQ-style. Stats → encode → scan is three narrow passes, all
    * broadcast-joined — no shuffle touches the corpus beyond the
    * per-dimension min/max aggregation. */
  private val sqInt8 = CatalogEntry.dialect(
    "vec_sq_int8",
    duckdb = """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               |stats AS (
               |  SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
               |  FROM base, (SELECT unnest(range(1, 65)) AS d) dims
               |  WHERE vec_id <> 0 GROUP BY d
               |),
               |arrs AS (
               |  SELECT list(mn ORDER BY d) AS mins, list((mx - mn) / 255.0 ORDER BY d) AS scales FROM stats
               |),
               |qq AS (SELECT v AS qv FROM base WHERE vec_id = 0),
               |dec AS (
               |  SELECT vec_id, list_transform(range(1, 65), i ->
               |     mins[i] + CASE WHEN scales[i] > 0 THEN scales[i] *
               |       least(greatest(CAST(floor((v[i] - mins[i]) / scales[i] + 0.5) AS BIGINT), 0), 255)
               |       ELSE 0 END) AS dv
               |  FROM base, arrs WHERE vec_id <> 0
               |),
               |approx AS (
               |  SELECT vec_id,
               |    ROUND(list_sum(list_transform(range(1, 65), i -> qv[i] * dv[i])) /
               |          (sqrt(list_sum(list_transform(qv, x -> x * x))) *
               |           sqrt(list_sum(list_transform(dv, x -> x * x)))), 4) AS asim
               |  FROM dec, qq
               |),
               |short AS (SELECT vec_id FROM approx ORDER BY asim DESC, vec_id LIMIT 50)
               |SELECT b.vec_id,
               |  ROUND(list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) /
               |        (sqrt(list_sum(list_transform(qv, x -> x * x))) *
               |         sqrt(list_sum(list_transform(v, x -> x * x)))), 4) AS sim
               |FROM base b JOIN short USING (vec_id), qq
               |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    spark = """WITH base AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings),
              |stats AS (
              |  SELECT d, min(element_at(v, d)) AS mn, max(element_at(v, d)) AS mx
              |  FROM base CROSS JOIN (SELECT explode(sequence(1, 64)) AS d) dims
              |  WHERE vec_id <> 0 GROUP BY d
              |),
              |arrs AS (
              |  SELECT transform(array_sort(collect_list(struct(d, mn))), e -> e.mn) AS mins,
              |         transform(array_sort(collect_list(struct(d, mx, mn))), e -> (e.mx - e.mn) / 255.0) AS scales
              |  FROM stats
              |),
              |qq AS (SELECT v AS qv FROM base WHERE vec_id = 0),
              |dec AS (
              |  SELECT vec_id, transform(sequence(1, 64), i ->
              |     element_at(mins, i) + CASE WHEN element_at(scales, i) > 0 THEN element_at(scales, i) *
              |       least(greatest(CAST(floor((element_at(v, i) - element_at(mins, i)) / element_at(scales, i) + 0.5) AS BIGINT), 0), 255)
              |       ELSE CAST(0 AS BIGINT) END) AS dv
              |  FROM base CROSS JOIN arrs WHERE vec_id <> 0
              |),
              |approx AS (
              |  SELECT vec_id,
              |    ROUND(aggregate(zip_with(qv, dv, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x) /
              |          (sqrt(aggregate(transform(qv, x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x)) *
              |           sqrt(aggregate(transform(dv, x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x))), 4) AS asim
              |  FROM dec CROSS JOIN qq
              |),
              |short AS (SELECT vec_id FROM approx ORDER BY asim DESC, vec_id LIMIT 50)
              |SELECT b.vec_id,
              |  ROUND(aggregate(zip_with(qv, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x) /
              |        (sqrt(aggregate(transform(qv, x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x)) *
              |         sqrt(aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x))), 4) AS sim
              |FROM base b JOIN short USING (vec_id) CROSS JOIN qq
              |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.where(col("vec_id") =!= 0)
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
    // per-dimension affine range, folded to two broadcastable arrays
    val stats = corpus.select(posexplode(col("v")).as(Seq("d0", "x")))
      .groupBy(col("d0")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(d0, mn))), e -> e.mn)").as("mins"),
        expr("transform(array_sort(collect_list(struct(d0, mx, mn))), e -> (e.mx - e.mn) / 255.0)").as("scales"))
    val enc = corpus.crossJoin(broadcast(stats))
      .select(col("vec_id"), expr("sq8_encode(v, mins, scales)").as("codes"),
        col("mins"), col("scales"))
    val q = emb.where(col("vec_id") === 0)
      .select(vdouble(col("embedding")).as("qv"))
    val short = enc.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(expr("sq8_cosine(qv, codes, mins, scales)"), 4).as("asim"))
      .orderBy(col("asim").desc, col("vec_id")).limit(50)
    corpus.join(short.select(col("vec_id")), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(expr("cosine_sim(qv, v)"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .orderBy(col("sim").desc, col("vec_id"))
  }

  /** Per-dimension z-score standardization — the feature-normalization ETL
    * step upstream of any distance-based index. Corpus-wide per-dim
    * mean/stddev (64 groups, map-side partial agg) broadcast-joined back to
    * a bounded probe slice, emitted long-form like `vec_centroid_per_label`.
    * 100-TB shape: linear explode + 64-row broadcast — no all-pairs, no
    * driver state; the probe filter bounds only the OUTPUT, stats cover the
    * full corpus. ROUND(,4) absorbs summation-order ulp (same guard as the
    * centroid entry); STDDEV_SAMP spelled explicitly since `stddev` defaults
    * agree today but the sample/population choice is the dialect trap. */
  private val standardize = CatalogEntry.dialect(
    "vec_standardize",
    duckdb = """WITH e AS (
               |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
               |         CAST(unnest(embedding) AS DOUBLE) AS v
               |  FROM embeddings
               |), s AS (
               |  SELECT pos, AVG(v) AS mu, STDDEV_SAMP(v) AS sigma FROM e GROUP BY pos
               |)
               |SELECT e.vec_id, e.pos, ROUND((e.v - s.mu) / s.sigma, 4) + 0.0 AS z
               |FROM e JOIN s ON e.pos = s.pos
               |WHERE e.vec_id < 20
               |ORDER BY e.vec_id, e.pos""".stripMargin,
    spark = """WITH e AS (
              |  SELECT vec_id, posexplode(CAST(embedding AS ARRAY<DOUBLE>)) AS (pos, v) FROM embeddings
              |), s AS (
              |  SELECT pos, AVG(v) AS mu, STDDEV_SAMP(v) AS sigma FROM e GROUP BY pos
              |)
              |SELECT e.vec_id, e.pos, ROUND((e.v - s.mu) / s.sigma, 4) + 0.0D AS z
              |FROM e JOIN s ON e.pos = s.pos
              |WHERE e.vec_id < 20
              |ORDER BY e.vec_id, e.pos""".stripMargin) { (spark, sfDir) =>
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), posexplode(vdouble(col("embedding"))).as(Seq("pos", "v")))
    val stats = e.groupBy(col("pos"))
      .agg(avg(col("v")).as("mu"), stddev_samp(col("v")).as("sigma"))
    e.where(col("vec_id") < 20)
      .join(broadcast(stats), "pos")
      .select(col("vec_id"), col("pos"),
        Util.znorm((col("v") - col("mu")) / col("sigma"), 4).as("z"))
      .orderBy(col("vec_id"), col("pos"))
  }

  /** Binary-embedding k-NN — Hamming distance over sign-bit vectors, the
    * 5th index family beside IVF/LSH/PQ/SQ8 and the only BINARIZED one:
    * each 64-dim float vector collapses to ONE 64-bit word (256 bytes →
    * 8, a 32× compression), and the whole distance computation is a
    * codegen'd `XOR` + `bit_count` (POPCNT) per pair — no floats touched
    * at query time, which is why binary rerank-then-refine is the standard
    * first stage of billion-scale retrieval. Packing is a one-time linear
    * prepass (the interpreted fold runs once per ROW, not per pair; dims
    * > 64 would pack to an array of words compared via `zip_with`). The
    * tiny query side broadcasts, and the per-query top-k goes through the
    * same two-level salted window as `pipeline_quota_sample`: level 1
    * keeps each (query, salt-of-16)'s local top-k, level 2 re-ranks the
    * ≤ 16k survivors — bit-identical to a single global window (a global
    * top-k row is top-k in its bucket too), but no query ever funnels its
    * full candidate stream through one partition's sort. The oracle
    * restates Hamming distance as the count of sign disagreements on the
    * raw float arrays — same integers, no packing required in SQL.
    *
    * Scale spelling (r17 100× fix — 98.7 s → see BASELINE.md): the %167
    * query cut selects a FRACTION, so query×candidate pairs grow
    * quadratically with the corpus (~238 M at 100×). Hamming distance
    * depends only on the two packed words, so the scan runs canonicalize-
    * first over DISTINCT words — the `vec_knn_graph_lsh` pattern: each
    * candidate word keeps its 5 smallest member ids (only those can ever
    * reach a global top-5 — cids are unique, so for any value in the true
    * top-5 its min-cid member ranks at or above the 5th result), value
    * pairs rank per query word by (hamming, min cid) with rank ≤ 5 (any
    * value contributing a top-5 member has its (hamming, min_cid) ≤ the
    * 5th member's pair, and at most 5 such values exist), the ≤25
    * surviving members re-rank exactly, and per-word results fan out to
    * the queries sharing the word. On a duplicate-free corpus the
    * distinct-word scan IS the row scan (value-level never exceeds
    * row-level work); the tiny distinct-query-word side broadcasts. */
  private val hammingKnn = CatalogEntry.dialect(
    "vec_hamming_knn",
    duckdb = """WITH q AS (
               |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 167 = 0
               |), c AS (
               |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 167 <> 0
               |), pairs AS (
               |  SELECT qid, cid,
               |         CAST(len(list_filter(range(1, 65),
               |              i -> (qv[i] > 0) <> (cv[i] > 0))) AS BIGINT) AS hamming
               |  FROM q, c
               |), ranked AS (
               |  SELECT qid, cid, hamming,
               |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, cid) AS rk
               |  FROM pairs
               |)
               |SELECT qid, CAST(rk AS BIGINT) AS rk, cid, hamming
               |FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    spark = """WITH q AS (
              |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 167 = 0
              |), c AS (
              |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 167 <> 0
              |), pairs AS (
              |  SELECT qid, cid,
              |         CAST(size(filter(sequence(0, 63),
              |              i -> (qv[i] > CAST(0.0 AS FLOAT)) != (cv[i] > CAST(0.0 AS FLOAT)))) AS BIGINT) AS hamming
              |  FROM q CROSS JOIN c
              |), ranked AS (
              |  SELECT qid, cid, hamming,
              |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, cid) AS rk
              |  FROM pairs
              |)
              |SELECT qid, CAST(rk AS BIGINT) AS rk, cid, hamming
              |FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin) { (spark, sfDir) =>
    // sign-bit pack: one long per 64-dim vector (bit i = embedding[i] > 0;
    // the corpus has no exact zeros, so the sign convention is total)
    val packed = expr(
      "aggregate(sequence(0, 63), 0L, (acc, i) -> acc | IF(embedding[i] > 0.0, shiftleft(1L, i), 0L))")
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), packed.as("w"))
    val q = emb.where(col("vec_id") % 167 === 0)
      .select(col("vec_id").as("qid"), col("w").as("qw"))
    val c = emb.where(col("vec_id") % 167 =!= 0)
      .select(col("vec_id").as("cid"), col("w").as("cw"))
    // per distinct candidate word: its 5 smallest member ids — the only
    // members that can ever appear in any query's exact top-5; the helper
    // window-ranks before collecting, so the aggregation buffer is ≤5 ids
    // at any clone depth
    val cvals = DistinctValue.smallestMembers(c, "cw", "cid", 5, "cids")
      .withColumn("mincid", element_at(col("cids"), 1))
    val qvals = q.select(col("qw")).distinct()
    val vp = cvals.crossJoin(broadcast(qvals))
      .select(col("qw"), col("cids"), col("mincid"),
        bit_count(col("qw").bitwiseXOR(col("cw"))).cast("long").as("hamming"))
    // value-level rank-5 cut (exact — see doc), then member-level re-rank
    val wv = Window.partitionBy(col("qw")).orderBy(col("hamming"), col("mincid"))
    val w2 = Window.partitionBy(col("qw")).orderBy(col("hamming"), col("cid"))
    val perWord = vp
      .withColumn("rv", row_number().over(wv)).where(col("rv") <= 5)
      .select(col("qw"), col("hamming"), explode(col("cids")).as("cid"))
      .withColumn("rk", row_number().over(w2).cast("long")).where(col("rk") <= 5)
    q.join(perWord, "qw")
      .select(col("qid"), col("rk"), col("cid"), col("hamming"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Prefix-dimension shortlist + full-dimension rerank — the
    * matryoshka-retrieval shape (coarse scoring on the first 16 of 64 dims,
    * exact rerank of the survivors), and unlike the trained index families
    * (IVF/LSH/PQ/SQ8) it is fully deterministic end-to-end, so it gets a
    * complete DuckDB oracle rather than a recall floor: both engines
    * compute the same rounded prefix scores, cut the same 50-candidate
    * shortlist (round-4 score + cid tie-break makes the boundary exact),
    * and rerank with the same full cosine (`cosine_sim` is a sequential
    * left fold, bit-identical to the SQL twins' aggregate/zip_with
    * spelling — pinned by FunctionSpec's 16-dim-prefix bit-exact test, so
    * a round-4 psim boundary cannot cut a different shortlist than the
    * oracle). Cost shape: the prefix stage
    * touches 16/64 dims (4× less arithmetic and, with a dim-sliced layout,
    * 4× less IO), the full vectors are only read for 50 rows per query.
    * Per-query top-k goes through the same two-level salted window as
    * `vec_hamming_knn` — no query funnels its full candidate stream through
    * one partition's sort. */
  private val prefixRerank = CatalogEntry.dialect(
    "vec_prefix_rerank",
    duckdb = """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               |q AS (SELECT vec_id AS qid, v AS qv FROM t WHERE vec_id % 167 = 0),
               |c AS (SELECT vec_id AS cid, v AS cv FROM t WHERE vec_id % 167 <> 0),
               |stage1 AS (
               |  SELECT qid, cid, cv, qv,
               |         ROUND(list_sum(list_transform(range(1, 17), i -> qv[i] * cv[i])) /
               |               (sqrt(list_sum(list_transform(range(1, 17), i -> qv[i] * qv[i]))) *
               |                sqrt(list_sum(list_transform(range(1, 17), i -> cv[i] * cv[i])))), 4) AS psim
               |  FROM q, c
               |), short AS (
               |  SELECT qid, cid, cv, qv,
               |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY psim DESC, cid) AS prk
               |  FROM stage1
               |), rer AS (
               |  SELECT qid, cid,
               |         ROUND(list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
               |               (sqrt(list_sum(list_transform(qv, x -> x * x))) *
               |                sqrt(list_sum(list_transform(cv, x -> x * x)))), 4) AS sim
               |  FROM short WHERE prk <= 50
               |)
               |SELECT qid, CAST(rk AS BIGINT) AS rk, cid, sim FROM (
               |  SELECT qid, cid, sim,
               |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
               |  FROM rer
               |) r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    spark = """WITH t AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings),
              |q AS (SELECT vec_id AS qid, v AS qv FROM t WHERE vec_id % 167 = 0),
              |c AS (SELECT vec_id AS cid, v AS cv FROM t WHERE vec_id % 167 <> 0),
              |stage1 AS (
              |  SELECT qid, cid, cv, qv,
              |         ROUND(aggregate(zip_with(slice(qv, 1, 16), slice(cv, 1, 16), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) /
              |               (sqrt(aggregate(transform(slice(qv, 1, 16), x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) *
              |                sqrt(aggregate(transform(slice(cv, 1, 16), x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))), 4) AS psim
              |  FROM q CROSS JOIN c
              |), short AS (
              |  SELECT qid, cid, cv, qv,
              |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY psim DESC, cid) AS prk
              |  FROM stage1
              |), rer AS (
              |  SELECT qid, cid,
              |         ROUND(aggregate(zip_with(qv, cv, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) /
              |               (sqrt(aggregate(transform(qv, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) *
              |                sqrt(aggregate(transform(cv, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))), 4) AS sim
              |  FROM short WHERE prk <= 50
              |)
              |SELECT qid, CAST(rk AS BIGINT) AS rk, cid, sim FROM (
              |  SELECT qid, cid, sim,
              |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
              |  FROM rer
              |) r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin) { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val t = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
    val q = t.where(col("vec_id") % 167 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        slice(col("v"), 1, 16).as("qp"))
    val c = t.where(col("vec_id") % 167 =!= 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        slice(col("v"), 1, 16).as("cp"))
    val wS1a = Window.partitionBy(col("qid"), col("salt"))
      .orderBy(col("psim").desc, col("cid"))
    val wS1b = Window.partitionBy(col("qid"))
      .orderBy(col("psim").desc, col("cid"))
    // r20 (first 100× stamp OOM'd): the pair stream must not carry
    // vectors through the shortlist windows — at 100× that is 238 M rows
    // × ~1.2 KB of qv/cv/qp/cp spilling through two sorts. psim is
    // computed IN the broadcast-join stage (vectors never leave it) and
    // only (qid, cid, psim, salt) — ~40 B/row — is shuffled; the full
    // vectors re-enter by key join for the ≤50-per-query survivors only.
    // Output identical: same psim, same cuts, same rerank inputs.
    val short = c.select(col("cid"), col("cp"))
      .join(broadcast(q.select(col("qid"), col("qp"))))
      .withColumn("psim", round(expr("cosine_sim(qp, cp)"), 4))
      .withColumn("salt", pmod(xxhash64(col("cid")), lit(16)))
      .select(col("qid"), col("cid"), col("psim"), col("salt"))
      .withColumn("rk1", row_number().over(wS1a)).where(col("rk1") <= 50)
      .withColumn("prk", row_number().over(wS1b)).where(col("prk") <= 50)
    val wS2 = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    short
      .join(c.select(col("cid"), col("cv")), "cid")
      .join(broadcast(q.select(col("qid"), col("qv"))), "qid")
      .withColumn("sim", round(expr("cosine_sim(qv, cv)"), 4))
      .withColumn("rk", row_number().over(wS2).cast("long")).where(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("cid"), col("sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Embedding-distribution drift — per-label cosine between the centroid
    * of one corpus half and the other (halves split by vec_id parity —
    * standing in for yesterday/today batches): the monitoring check
    * embedding pipelines run to catch encoder or upstream-data drift
    * before retraining on a shifted distribution. Near-orthogonal labels
    * drift toward 0; a stable pipeline holds each label's half-cosine
    * steady, so the row set IS the drift dashboard. Same long-form mean
    * shape as `vec_centroid_per_label` (posexplode → per-(label, half,
    * pos) AVG), then a pos-keyed self-join folds the two halves into one
    * dot product per label — all group-keyed shuffles, nothing driver-
    * side. */
  private val centroidDrift = CatalogEntry.dialect(
    "vec_centroid_drift",
    duckdb = """WITH h AS (
               |  SELECT label, vec_id % 2 AS half,
               |         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
               |         CAST(unnest(embedding) AS DOUBLE) AS x
               |  FROM embeddings
               |), c AS (
               |  SELECT label, half, pos, AVG(x) AS m FROM h GROUP BY label, half, pos
               |), p AS (
               |  SELECT a.label, SUM(a.m * b.m) AS dot,
               |         sqrt(SUM(a.m * a.m)) AS na, sqrt(SUM(b.m * b.m)) AS nb
               |  FROM c a JOIN c b ON a.label = b.label AND a.pos = b.pos
               |                   AND a.half = 0 AND b.half = 1
               |  GROUP BY a.label
               |)
               |SELECT label, ROUND(dot / (na * nb), 4) + 0.0 AS half_cosine
               |FROM p ORDER BY label""".stripMargin,
    spark = """WITH h AS (
              |  SELECT label, vec_id % 2 AS half, pos + 1 AS pos, x
              |  FROM (SELECT label, vec_id,
              |          posexplode(CAST(embedding AS ARRAY<DOUBLE>)) AS (pos, x)
              |        FROM embeddings)
              |), c AS (
              |  SELECT label, half, pos, AVG(x) AS m FROM h GROUP BY label, half, pos
              |), p AS (
              |  SELECT a.label, SUM(a.m * b.m) AS dot,
              |         sqrt(SUM(a.m * a.m)) AS na, sqrt(SUM(b.m * b.m)) AS nb
              |  FROM c a JOIN c b ON a.label = b.label AND a.pos = b.pos
              |                   AND a.half = 0 AND b.half = 1
              |  GROUP BY a.label
              |)
              |SELECT label, ROUND(dot / (na * nb), 4) + 0.0D AS half_cosine
              |FROM p ORDER BY label""".stripMargin) { (spark, sfDir) =>
    val c = Tables.embeddings(spark, sfDir)
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(vdouble(col("embedding"))).as(Seq("pos", "x")))
      .groupBy(col("label"), col("half"), col("pos"))
      .agg(avg(col("x")).as("m"))
    val a = c.where(col("half") === 0)
      .select(col("label"), col("pos"), col("m").as("ma"))
    val b = c.where(col("half") === 1)
      .select(col("label").as("lb"), col("pos").as("pb"), col("m").as("mb"))
    a.join(b, col("label") === col("lb") && col("pos") === col("pb"))
      .groupBy(col("label"))
      .agg(sum(col("ma") * col("mb")).as("dot"),
        sqrt(sum(col("ma") * col("ma"))).as("na"),
        sqrt(sum(col("mb") * col("mb"))).as("nb"))
      .select(col("label"),
        Util.znorm(col("dot") / (col("na") * col("nb")), 4).as("half_cosine"))
      .orderBy(col("label"))
  }

  /** Distributed k-means (k=8, 2 Lloyd iterations, init = the first k
    * vectors by id). The 100-TB shape is the textbook one: centroids are a
    * k×d broadcast (512 doubles), assignment is one map-side pass with the
    * codegen'd [[graft.functions.QuantizedL2]] per (row, centroid) and an
    * argmin via `least(struct(qdist, cid))`, and the update is a
    * per-(cluster, pos) partial aggregation — no all-pairs join, no
    * per-node state, one tiny driver collect per iteration to refresh the
    * broadcast (the same plan-control class as the IVF nprobe collects).
    *
    * Determinism (§2.0.3): every cross-engine sum is integer. Distances
    * quantize each term `⌊(x−c)²·1e12+0.5⌋` into a long (so argmin over
    * (qdist, cid) cannot flip on summation order), and centroid means
    * divide an exact long sum `⌊v·1e12+0.5⌋` — both spelled with FLOOR,
    * the dialect-stable rounding [[graft.functions.Sq8Encode]] pinned.
    * Empty clusters simply drop out of the output on both engines.
    */
  private val kmeansLloyd = CatalogEntry.dialect(
    "vec_kmeans_lloyd",
    duckdb = """WITH e AS (
               |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
               |         CAST(unnest(embedding) AS DOUBLE) AS v
               |  FROM embeddings
               |), c0 AS (
               |  SELECT vec_id AS cid, pos, v AS c FROM e WHERE vec_id < 8
               |), qd1 AS (
               |  SELECT e.vec_id, c0.cid,
               |         SUM(CAST(FLOOR((e.v - c0.c)*(e.v - c0.c)*1e12 + 0.5) AS BIGINT)) AS qd
               |  FROM e JOIN c0 ON e.pos = c0.pos
               |  GROUP BY e.vec_id, c0.cid
               |), a1 AS (
               |  SELECT vec_id, cid FROM (
               |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY qd, cid) AS rn
               |    FROM qd1) t WHERE rn = 1
               |), c1 AS (
               |  SELECT a1.cid, e.pos,
               |         (CAST(SUM(CAST(FLOOR(e.v*1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12) / COUNT(*) AS c
               |  FROM a1 JOIN e ON a1.vec_id = e.vec_id
               |  GROUP BY a1.cid, e.pos
               |), qd2 AS (
               |  SELECT e.vec_id, c1.cid,
               |         SUM(CAST(FLOOR((e.v - c1.c)*(e.v - c1.c)*1e12 + 0.5) AS BIGINT)) AS qd
               |  FROM e JOIN c1 ON e.pos = c1.pos
               |  GROUP BY e.vec_id, c1.cid
               |), a2 AS (
               |  SELECT vec_id, cid FROM (
               |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY qd, cid) AS rn
               |    FROM qd2) t WHERE rn = 1
               |), c2 AS (
               |  SELECT a2.cid, e.pos,
               |         (CAST(SUM(CAST(FLOOR(e.v*1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12) / COUNT(*) AS c,
               |         COUNT(*) AS n_members
               |  FROM a2 JOIN e ON a2.vec_id = e.vec_id
               |  GROUP BY a2.cid, e.pos
               |)
               |SELECT cid AS cluster_id, pos, ROUND(c, 4) + 0.0 AS c_val, n_members
               |FROM c2 ORDER BY cluster_id, pos""".stripMargin,
    spark = """WITH e AS (
              |  SELECT vec_id, posexplode(CAST(embedding AS ARRAY<DOUBLE>)) AS (pos, v) FROM embeddings
              |), c0 AS (
              |  SELECT vec_id AS cid, pos, v AS c FROM e WHERE vec_id < 8
              |), qd1 AS (
              |  SELECT e.vec_id, c0.cid,
              |         SUM(CAST(FLOOR((e.v - c0.c)*(e.v - c0.c)*1e12 + 0.5) AS BIGINT)) AS qd
              |  FROM e JOIN c0 ON e.pos = c0.pos
              |  GROUP BY e.vec_id, c0.cid
              |), a1 AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY qd, cid) AS rn
              |    FROM qd1) t WHERE rn = 1
              |), c1 AS (
              |  SELECT a1.cid, e.pos,
              |         (CAST(SUM(CAST(FLOOR(e.v*1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12) / COUNT(*) AS c
              |  FROM a1 JOIN e ON a1.vec_id = e.vec_id
              |  GROUP BY a1.cid, e.pos
              |), qd2 AS (
              |  SELECT e.vec_id, c1.cid,
              |         SUM(CAST(FLOOR((e.v - c1.c)*(e.v - c1.c)*1e12 + 0.5) AS BIGINT)) AS qd
              |  FROM e JOIN c1 ON e.pos = c1.pos
              |  GROUP BY e.vec_id, c1.cid
              |), a2 AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY qd, cid) AS rn
              |    FROM qd2) t WHERE rn = 1
              |), c2 AS (
              |  SELECT a2.cid, e.pos,
              |         (CAST(SUM(CAST(FLOOR(e.v*1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12) / COUNT(*) AS c,
              |         COUNT(*) AS n_members
              |  FROM a2 JOIN e ON a2.vec_id = e.vec_id
              |  GROUP BY a2.cid, e.pos
              |)
              |SELECT cid AS cluster_id, pos, ROUND(c, 4) + 0.0D AS c_val, n_members
              |FROM c2 ORDER BY cluster_id, pos""".stripMargin) { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val k = 8
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), vdouble(col("embedding")).as("v")).cache()
    // init: first k vectors by id — deterministic, k×d driver values
    var cents: Array[(Long, Seq[Double])] = emb.where(col("vec_id") < k)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))

    def assign = {
      val structs = cents.map { case (cid, arr) =>
        struct(
          call_function("ql2_dist", col("v"), typedLit(arr)).as("qd"),
          lit(cid).as("cid"))
      }
      emb.withColumn("best", least(structs: _*))
        .select(col("vec_id"), col("v"), col("best.cid").as("cluster_id"))
    }
    def update = assign
      .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "val")))
      .groupBy(col("cluster_id"), col("pos"))
      // ×1e12 fixed-point (deterministic long sum, same convention as the
      // pagerank quantizer): |val| > ~9.2e6 would overflow the per-element
      // long — unreachable here (embeddings are unit-scale, |val| ≤ ~1),
      // and the SUM itself has ~9.2e18/1e12 ≈ 9.2e6 rows of headroom/unit
      .agg(sum(floor(col("val") * 1e12 + 0.5).cast("long")).as("sq"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("pos"),
        ((col("sq").cast("double") / 1e12) / col("n_members")).as("c"),
        col("n_members"))

    // iteration 1: refresh the centroid broadcast (tiny k×d collect)
    cents = update.collect()
      .groupBy(_.getLong(0)).toArray
      .map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }.sortBy(_._1)
    // iteration 2: the returned (lazy) frame is assign₂ + update₂
    update.select(col("cluster_id"), col("pos"),
        Util.znorm(col("c"), 4).as("c_val"), col("n_members"))
      .orderBy(col("cluster_id"), col("pos"))
  }

  /** Maximal-marginal-relevance diversified retrieval: top-30 cosine
    * shortlist for the query vector, then the greedy MMR re-rank
    * (λ=0.7) picks 10 — `score = 0.7·rel − 0.3·max_{s∈chosen} sim(·,s)`,
    * the standard redundancy-suppressing rerank for RAG retrieval. The
    * shortlist scan and the 30×29 pairwise sims are distributed; the
    * greedy loop itself runs over ~900 collected scalars (plan control,
    * the rerank analog of the nprobe label collects — at any corpus size
    * the greedy input is O(shortlist²), never O(n)).
    *
    * Determinism: sims quantize to integers (`⌊cos·1e6+0.5⌋`), the greedy
    * objective is the integer `7·qrel − 3·qsim_max` (λ scaled ×10), ties
    * break on vec_id — so the selection is engine-exact, and the DuckDB
    * oracle can replay it verbatim as a recursive CTE carrying the chosen
    * list. A Spark-SQL twin cannot exist (the greedy step needs LATERAL +
    * list-state recursion Spark 4.1 rejects) — MmrSpec holds the in-repo
    * equivalence evidence, same exemption class as `dedup_cluster_cc`.
    */
  private val mmrDiversify = CatalogEntry.duckdbOnly(
    "vec_mmr_diversify",
    duckdb = """WITH RECURSIVE
               |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
               |base AS (
               |  SELECT e.vec_id,
               |         CAST(FLOOR(list_sum(list_transform(range(1, 65), i -> qv[i] * CAST(embedding AS DOUBLE[])[i])) /
               |              (sqrt(list_sum(list_transform(qv, x -> x * x))) *
               |               sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))) * 1e6 + 0.5) AS BIGINT) AS qrel,
               |         CAST(embedding AS DOUBLE[]) AS v
               |  FROM embeddings e, q
               |  WHERE e.vec_id <> 0
               |  ORDER BY qrel DESC, e.vec_id
               |  LIMIT 30
               |),
               |pairs AS (
               |  SELECT a.vec_id AS i, b.vec_id AS j,
               |         CAST(FLOOR(list_sum(list_transform(range(1, 65), k -> a.v[k] * b.v[k])) /
               |              (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
               |               sqrt(list_sum(list_transform(b.v, x -> x * x)))) * 1e6 + 0.5) AS BIGINT) AS qsim
               |  FROM base a JOIN base b ON a.vec_id <> b.vec_id
               |),
               |sel AS (
               |  SELECT 1 AS rnk, vec_id, qrel, [vec_id] AS chosen
               |  FROM (SELECT vec_id, qrel FROM base ORDER BY qrel DESC, vec_id LIMIT 1) s0
               |  UNION ALL
               |  SELECT s.rnk + 1, nxt.vec_id, nxt.qrel, list_append(s.chosen, nxt.vec_id)
               |  FROM sel s, LATERAL (
               |    SELECT b.vec_id, b.qrel
               |    FROM base b
               |    WHERE NOT list_contains(s.chosen, b.vec_id)
               |    ORDER BY 7 * b.qrel - 3 * (SELECT MAX(p.qsim) FROM pairs p
               |                               WHERE p.i = b.vec_id AND list_contains(s.chosen, p.j)) DESC,
               |             b.vec_id
               |    LIMIT 1) nxt
               |  WHERE s.rnk < 10
               |)
               |SELECT rnk, vec_id, CAST(qrel AS DOUBLE) / 1e6 AS rel
               |FROM sel ORDER BY rnk""".stripMargin) { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
    val q = emb.where(col("vec_id") === 0).select(col("v").as("qv"))
    val base = emb.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"),
        floor(expr("cosine_sim(qv, v)") * 1e6 + 0.5).cast("long").as("qrel"))
      .orderBy(col("qrel").desc, col("vec_id")).limit(30)
      .cache()
    val pairs = base.as("a")
      .join(base.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        floor(expr("cosine_sim(a.v, b.v)") * 1e6 + 0.5).cast("long").as("qsim"))
    // O(shortlist²) scalars to the driver; greedy replay in exact integers
    val cand = base.select(col("vec_id"), col("qrel")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sim = pairs.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val remaining = scala.collection.mutable.LinkedHashMap(cand.sortBy(c => (-c._2, c._1)): _*)
    while (chosen.size < 10 && remaining.nonEmpty) {
      val pick =
        if (chosen.isEmpty) remaining.head
        else remaining.maxBy { case (id, rel) =>
          val maxSim = chosen.map(s => sim((id, s._1))).max
          (7L * rel - 3L * maxSim, -id)
        }
      chosen += ((pick._1, pick._2))
      remaining.remove(pick._1)
    }
    val rows = chosen.toSeq.zipWithIndex.map { case ((id, qrel), i) =>
      (i + 1, id, qrel.toDouble / 1e6)
    }
    spark.createDataFrame(rows).toDF("rnk", "vec_id", "rel")
      .orderBy(col("rnk"))
  }

  /** k-NN GRAPH construction — the per-node top-k neighbor edge list (the
    * primitive under semantic dedup clustering, label propagation, and
    * graph-based retrieval; distinct from `vec_pairwise_topk`, which keeps
    * a GLOBAL top-k of pairs, and from `vec_cosine_knn`, which ranks one
    * query). Exact all-pairs at test scale with the codegen'd cosine
    * expression and a per-src ROW_NUMBER cut — this is the documented
    * ground-truth twin: the 100-TB path generates candidates from LSH /
    * IVF buckets first (exactly `dedup_cluster_lsh`'s banded shape, or
    * `vec_ivf_knn`'s cells) and reranks only in-bucket pairs, making the
    * build linear in bucket sizes instead of quadratic in n. Rank ties at
    * the rounded sim are broken by dst id — total order, both engines. */
  private val knnGraph = CatalogEntry.dialect(
    "vec_knn_graph",
    duckdb = """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               |p AS (
               |  SELECT a.vec_id AS src, b.vec_id AS dst,
               |         ROUND(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
               |               (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
               |                sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) AS sim
               |  FROM t a JOIN t b ON a.vec_id <> b.vec_id)
               |SELECT src, CAST(rn AS BIGINT) AS rn, dst, sim FROM (
               |  SELECT src, dst, sim,
               |         ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rn
               |  FROM p
               |) WHERE rn <= 5 ORDER BY src, rn""".stripMargin,
    spark = """WITH t AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings),
              |p AS (
              |  SELECT a.vec_id AS src, b.vec_id AS dst,
              |         ROUND(aggregate(zip_with(a.v, b.v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) /
              |               (sqrt(aggregate(transform(a.v, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) *
              |                sqrt(aggregate(transform(b.v, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))), 4) AS sim
              |  FROM t a JOIN t b ON a.vec_id <> b.vec_id)
              |SELECT src, CAST(rn AS BIGINT) AS rn, dst, sim FROM (
              |  SELECT src, dst, sim,
              |         ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rn
              |  FROM p
              |) WHERE rn <= 5 ORDER BY src, rn""".stripMargin) { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val t = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), vdouble(col("embedding")).as("v"))
    val a = t.select(col("vec_id").as("src"), col("v").as("va"))
    val b = t.select(col("vec_id").as("dst"), col("v").as("vb"))
    val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    a.join(b, col("src") =!= col("dst"))
      .withColumn("sim", round(expr("cosine_sim(va, vb)"), 4))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(col("src"), col("rn").cast("long").as("rn"), col("dst"), col("sim"))
      .orderBy(col("src"), col("rn"))
  }

  /** Shared SRP candidate machinery for [[knnGraphLsh]]'s two branches:
    * per-id signatures over `nTables` tables of `bits` hyperplanes, the
    * co-bucket candidate self-join, and the exact-cosine rerank input.
    * Input schema (id, v); output (ida, idb, sim) in BOTH directions so
    * each endpoint ranks the other among ITS neighbors. */
  private def srpSimPairs(vecs: org.apache.spark.sql.DataFrame,
      bits: Int, nTables: Int): org.apache.spark.sql.DataFrame = {
    val tabled = srpTables(vecs, "id", bits, nTables)
    val cand = tabled.as("a")
      .join(tabled.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .distinct()
    val pairs = cand.unionByName(cand.select(col("idb").as("ida"), col("ida").as("idb")))
    val va = vecs.select(col("id").as("ida"), col("v").as("va"))
    val vb = vecs.select(col("id").as("idb"), col("v").as("vb"))
    pairs.join(va, "ida").join(vb, "idb")
      .select(col("ida"), col("idb"),
        round(expr("cosine_sim(va, vb)"), 4).as("sim"))
  }

  /** Memoized canonicalization frames for [[knnGraphLsh]]'s group branch:
    * (`ranked` = fp + per-group row_number, `groups` = rep + 6-smallest-id
    * prefix per group), both cached. The memo ([[graft.SessionMemo]]) IS
    * the unpersist owner the r15 spelling lacked (VERDICT r15): entry-local
    * `.cache()` calls on a lazily returned plan had nobody to release
    * them, so a long-lived service invoking the entry repeatedly
    * accumulated cached blocks. */
  private def knnFpFrames(spark: SparkSession, sfDir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    graft.SessionMemo(spark, ("knnFp", sfDir)) { own =>
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), vdouble(col("embedding")).as("v"))
      // exact-duplicate grouping: 96-bit hash pair over the double array —
      // deterministic, collision odds ~2^-96 per pair (no full-array
      // compare needed; a collision would only merge two groups'
      // candidate sets)
      val withFp = emb.withColumn("fp",
        struct(xxhash64(col("v")).as("h1"), hash(col("v")).as("h2")))
      // per-group 6-smallest-id prefix via a bounded window (never a full
      // per-group collect: group depth is unbounded at 100 TB)
      val wfp = Window.partitionBy(col("fp")).orderBy(col("vec_id"))
      val ranked = own(withFp.withColumn("grn", row_number().over(wfp)).cache())
      val groups = own(ranked.where(col("grn") <= 6)
        .groupBy(col("fp"))
        .agg(min(col("vec_id")).as("rep"),
          array_sort(collect_list(col("vec_id"))).as("prefix"))
        .cache())
      (ranked, groups)
    }

  /** True when the embeddings corpus is (approximately) all-distinct —
    * the duplicate-ratio probe gating [[knnGraphLsh]]'s canonicalization
    * (VERDICT r15 #5). Exposed for warmShared so the group-branch frames
    * are only pre-built when the entry will actually use them. */
  private[graft] def embAllDistinct(spark: SparkSession, sfDir: String): Boolean =
    embDistinctCount(spark, sfDir) >= (0.98 * embCorpusCount(spark, sfDir)).toLong

  /** k-NN graph via SRP-LSH candidate generation — the 100-TB SCALE PATH
    * that [[knnGraph]]'s scaladoc promises (that entry is the exact
    * all-pairs ground-truth twin; this one builds the same per-node top-k
    * edge list from co-bucketed candidates only). Pipeline: the one-pass
    * codegen'd SRP signature aggregation of [[srpTables]] (nTables×nBits
    * projection sums, deterministic xxhash64 hyperplanes — no stored
    * model) → co-bucket pairs per (table, bucket) deduped across tables →
    * exact cosine rerank of candidates → per-src ROW_NUMBER top-5. Work is
    * candidate-linear in bucket sizes — no all-pairs product ever forms,
    * and bucket width now AUTO-TUNES with corpus size (srpEffectiveBits
    * pins expected occupancy, so candidate pairs grow linearly in n — the
    * round-12 scale proof is the receipt).
    * Honest physics on THIS near-orthogonal corpus (same note as lshAnn):
    * true neighbors sit at ~70°, so 8×4-bit tables leave wide buckets —
    * corpora with genuine near-dup structure sit on the cheap side of the
    * SRP S-curve. No oracle (bucketing is probabilistic by design);
    * PropertySpec pins mean per-node edge recall vs the exact twin.
    *
    * Canonicalize-first (r15 100× fix): occupancy pinning bounds bucket
    * width for DISTINCT vectors, but identical vectors share the exact
    * signature in EVERY table — no number of bits can split them, so a
    * corpus with g-deep exact-duplicate embedding groups (the norm in web
    * corpora: duplicate docs → identical embeddings) made the co-bucket
    * self-join quadratic in g (measured at the 100× leg: 100-deep groups
    * → 413 s vs a ~4 s base). Same playbook as the text dedup family:
    * group identical vectors by a (xxhash64, murmur) pair over the value,
    * run SRP + rerank on one representative per group (candidate pairs
    * linear again), then fan the graph back out with BOUNDED per-group
    * id prefixes — a member's true top-k starts with its g−1 duplicate
    * siblings at cosine exactly 1.0 (tie-break id ASC, so the 6 smallest
    * member ids cover every member's 5 sibling slots), then the rep-level
    * neighbors' smallest-id members. For an all-distinct corpus (every
    * group a singleton) this reduces exactly to the previous pipeline. */
  private val knnGraphLsh = CatalogEntry.noOracle("vec_knn_graph_lsh") { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    val nTables = graft.GraftConf.lshAnnTables(spark)
    // occupancy-pinned bucket width (see srpEffectiveBits): candidate
    // pairs stay linear in vector count; both count probes are memoized
    // per (session, sfDir)
    val bits = srpEffectiveBits(spark, embCorpusCount(spark, sfDir))
    // Duplicate-ratio gate (VERDICT r15 #5): on an all-distinct corpus the
    // canonicalization machinery reduces to the direct pipeline anyway —
    // skip its 5 extra stages (fp window, group-prefix agg, two fan-out
    // joins) and recover the ~+1-3 s small-scale price. A ±5% HLL misread
    // near the 0.98 boundary picks a branch that is still CORRECT (group
    // depth ≈ 1 is harmless to the direct branch; singleton groups are
    // harmless to the group branch) — the gate is purely a cost trade.
    if (embAllDistinct(spark, sfDir)) {
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), vdouble(col("embedding")).as("v"))
      val w = Window.partitionBy(col("ida")).orderBy(col("sim").desc, col("idb"))
      srpSimPairs(emb, bits, nTables)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("ida").as("src"), col("rn").cast("long").as("rn"),
          col("idb").as("dst"), col("sim"))
        .orderBy(col("src"), col("rn"))
    } else {
      val (ranked, groups) = knnFpFrames(spark, sfDir)
      val reps = ranked.where(col("grn") === 1)
        .select(col("vec_id").as("id"), col("v"))
      // rep-level top-5 neighbor GROUPS per source group (exact cosine
      // rerank, identical to the per-node rerank when groups are
      // singletons), kept by rank() over (sim desc) so ALL groups tied at
      // the 5th-group boundary survive (ADVICE r16: the previous
      // row_number <= 6 absorbed a 2-way rounded-cosine tie but a 3-or-
      // more-way tie could still drop a tied group whose members carry
      // smaller ids than a kept group's). Ties beyond rank 5 are rare
      // (cosines are rounded to 4 decimals, and reps are DISTINCT
      // vectors) and each tied group contributes a bounded ≤5-member
      // prefix, so the candidate set stays small; the member-level
      // re-rank below then applies the exact twin's (sim desc, dst asc)
      // order over the complete tied candidate set.
      val wRep = Window.partitionBy(col("srep")).orderBy(col("sim").desc)
      val repEdges = srpSimPairs(reps, bits, nTables)
        .select(col("ida").as("srep"), col("idb").as("drep"), col("sim"))
        .withColumn("rk", rank().over(wRep))
        .where(col("rk") <= 5)
        .select(col("srep"), col("drep"), col("sim"))
      // fan back out: per-GROUP candidate list (≤6 groups × ≤5 smallest-id
      // members + ≤6 own-group siblings at sim 1.0 — cosine_sim(v,v) rounds
      // to exactly 1.0, so the literal matches what the exact twin computes
      // for a duplicate pair), then members rank their ≤36 candidates
      val gsel = groups.select(col("fp"), col("rep"), col("prefix"))
      val crossCand = repEdges
        .join(gsel.select(col("rep").as("srep"), col("fp").as("sfp")), "srep")
        .join(gsel.select(col("rep").as("drep"), col("prefix").as("dprefix")), "drep")
        .select(col("sfp"), explode(slice(col("dprefix"), 1, 5)).as("dst"), col("sim"))
      val ownCand = gsel.select(col("fp").as("sfp"),
        explode(col("prefix")).as("dst"), lit(1.0).as("sim"))
      val cands = crossCand.unionByName(ownCand)
      val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
      ranked.select(col("fp").as("sfp"), col("vec_id").as("src"))
        .join(cands, "sfp")
        .where(col("dst") =!= col("src"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("src"), col("rn").cast("long").as("rn"), col("dst"), col("sim"))
        .orderBy(col("src"), col("rn"))
    }
  }

  /** Distributed PCA, top principal component by power iteration — the
    * dimensionality/whitening primitive (embedding drift axes, energy
    * compaction ahead of `vec_prefix_rerank`-style truncation). The
    * distributed part is ONE pass: `outer_acc_agg` folds quantized
    * centered vectors into a d(d+1)/2 Gram triangle per partition and
    * merges partials by exact long addition — the scatter matrix reaches
    * the driver as a single 17 KB row regardless of corpus size (the
    * mergeable-sketch shape, but exact). The driver then power-iterates
    * the d×d matrix (200 steps from 1/√d, sign-fixed at the largest
    * component) — O(d²) work, data-size-independent, the legitimate
    * driver-side plan-control scale class. Projections broadcast v₁ back
    * as a literal. Quantization (⌊x·10⁴+0.5⌋ after exact integer-mean
    * centering) makes the Gram bit-identical across partitionings —
    * PcaSpec pins repartition-invariance, the eigenpair residual, and
    * Rayleigh-quotient dominance. No oracle by design: the eigenvector
    * is not SQL-expressible; every downstream number is property-tested. */
  private val pcaPower = CatalogEntry.noOracle("vec_pca_power") { (spark, sfDir) =>
    VectorFunctions.ensureRegistered(spark)
    graft.functions.SketchFunctions.ensureRegistered(spark)
    val q = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(round(x * 10000) AS BIGINT))").as("q"))
    // exact per-dim quantized means (integer division floors toward zero —
    // identical everywhere); 64 rows, one tiny shuffle
    val sums = q.select(posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("pos")).collect()
    val meanQ = sums.map(r => r.getLong(1) / r.getLong(2))
    val centered = q.withColumn("c", expr(
      s"zip_with(q, array(${meanQ.mkString("L,")}L), (a, b) -> a - b)"))
    val gramRow = centered.agg(expr("outer_acc_agg(c)").as("g")).head()
    val (d, n, tri) = graft.functions.OuterProductAgg.decode(gramRow.getAs[Array[Byte]](0))
    val cov = graft.functions.OuterProductAgg.toMatrix(d, tri).map(_.map(_ / n))
    // power iteration on the d×d matrix — deterministic: fixed start, fixed
    // step count (200 ≈ ratio^200 < 1e-9 even at the flat spectrum a
    // near-random corpus has; cost is d² per step, data-size-independent),
    // sign anchored at the largest-magnitude component
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    (1 to 200).foreach { _ =>
      val w = Array.tabulate(d)(i => {
        var s = 0.0; var j = 0
        while (j < d) { s += cov(i)(j) * v(j); j += 1 }
        s
      })
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nrm)
      lambda = nrm
    }
    val anchor = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(anchor) < 0) v = v.map(x => -x)
    val vLit = v.map(x => s"CAST($x AS DOUBLE)").mkString(",")
    centered
      .select(col("vec_id"), col("label"),
        round(expr(
          s"aggregate(zip_with(c, array($vLit), (a, b) -> CAST(a AS DOUBLE) * b), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / 10000.0"), 4)
          .as("pc1"))
      .orderBy(col("vec_id"))
  }

  def entries: Seq[CatalogEntry] = Seq(
    normProject, cosineKnn, pairwiseTopk, centroidPerLabel, multimodalJoin,
    dedupEmbedding, ivfKnn, lshAnn, pqAnn, rangeSearch, ivfPq, sqInt8,
    standardize, hammingKnn, prefixRerank, centroidDrift, kmeansLloyd,
    mmrDiversify, knnGraph, knnGraphLsh, pcaPower)
}
