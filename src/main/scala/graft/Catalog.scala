package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator of the engine's surface (SURVEY.md §2 inventory).
  *
  * @param key       stable name; becomes the `SparkEntry.queries` map key
  * @param duckdbSql DuckDB SQL the driver's oracle runs on the same tables
  *                  (None for non-SQL-expressible / sketch-based entries —
  *                  those get a weaker rows-only check)
  * @param sparkSql  Spark-SQL-dialect twin of `duckdbSql`, used by the
  *                  in-repo self-check harness; equal to `duckdbSql` wherever
  *                  the dialects agree, a translated spelling otherwise
  * @param run       the Spark-first implementation over the tables at sfDir
  */
final case class CatalogEntry(
    key: String,
    duckdbSql: Option[String],
    sparkSql: Option[String],
    run: (SparkSession, String) => DataFrame,
    scalePath: Option[String] = None,
    banded: Boolean = false)

object CatalogEntry {
  /** Entry whose oracle SQL parses identically in DuckDB and Spark. */
  def ansi(key: String, sql: String)(run: (SparkSession, String) => DataFrame): CatalogEntry =
    CatalogEntry(key, Some(sql), Some(sql), run)

  /** Entry needing a DuckDB-specific spelling + a Spark-SQL twin for tests. */
  def dialect(key: String, duckdb: String, spark: String)(
      run: (SparkSession, String) => DataFrame): CatalogEntry =
    CatalogEntry(key, Some(duckdb), Some(spark), run)

  /** No-oracle entry (BENCH + property tests only). */
  def noOracle(key: String)(run: (SparkSession, String) => DataFrame): CatalogEntry =
    CatalogEntry(key, None, None, run)

  /** Entry whose oracle is expressible in DuckDB SQL but NOT in Spark SQL
    * (e.g. recursive fixpoints — Spark 4.1 rejects UNION-distinct inside
    * recursive CTEs, and UNION ALL closure diverges on cyclic graphs).
    * The driver still gets the full DuckDB hash-compare; the in-repo
    * equivalence check lives in a dedicated spec (exempted, with
    * justification, from the conformance harness's twin-coverage test). */
  def duckdbOnly(key: String, duckdb: String)(
      run: (SparkSession, String) => DataFrame): CatalogEntry =
    CatalogEntry(key, Some(duckdb), None, run)
}

/** The full operator catalog. Categories mirror SURVEY.md §2.1 A–L. */
object Catalog {

  /** Machine-readable scale-path routing (the 100-TB consumer's map):
    * key → the twin entry that carries the family's 100× scale number.
    * Three reasons an entry routes here, each documented in its scaladoc:
    *   - documented-quadratic ground-truth twin (its OUTPUT or verify
    *     step is quadratic by contract; the twin is the candidate-driven
    *     spelling) — these are the CoverageSweep exemptions, now derived
    *     from the catalog instead of a hand-maintained list;
    *   - pair-output contract entry (dedup_simhash: output grows with
    *     true near-dup pair mass; the cluster spelling is linear);
    *   - deliberate-redundancy spec pin (src_xml_extract: the 7-parse
    *     xpath battery pins XPath semantics; the parse-once from_xml
    *     twin is the identical-output spelling a wide extraction runs
    *     at scale — r18 VERDICT #4).
    * Validated against the key set at catalog build. */
  val scalePaths: Map[String, String] = Map(
    "dedup_cluster_cc"       -> "dedup_cluster_lsh",
    "dedup_ngram_jaccard"    -> "dedup_ngram_lsh",
    "dedup_containment"      -> "dedup_containment_prefix",
    "dedup_embedding_cosine" -> "vec_lsh_ann",
    "dedup_simhash"          -> "dedup_simhash_cluster",
    "src_xml_extract"        -> "src_xml_extract_once",
    "text_jaccard_tokens"    -> "dedup_minhash_lsh",
    "text_levenshtein_block" -> "text_levenshtein_lsh",
    "vec_knn_graph"          -> "vec_knn_graph_lsh",
    "vec_pairwise_topk"      -> "vec_knn_graph_lsh",
    // r20: the matryoshka rerank's stage1 is a brute q×c prefix scoring —
    // O(n²/167) by its deterministic-oracle contract; at scale the
    // shortlist comes from an index, and vec_ivf_knn IS that same
    // coarse-score → exact-rerank shape with a sub-linear candidate stage
    "vec_prefix_rerank"      -> "vec_ivf_knn")

  /** Candidate-pairing entries: anything whose plan contains a banded /
    * blocked / bucket-grid self- or cross-join — the plan family where
    * all seven 100×-only cliffs lived (constant value domain or deep
    * clone cliques grow per-bucket occupancy with data while the bucket
    * count stays fixed). Every key here is exercised by CliffCanarySpec
    * against a clique-heavy fixture at two depths; adding a new banded
    * entry without listing it fails that spec's coverage test. */
  val bandedKeys: Set[String] = Set(
    "dedup_simhash", "dedup_simhash_cluster", "dedup_minhash_lsh",
    "dedup_cluster_lsh", "dedup_ngram_lsh", "text_levenshtein_lsh",
    "dedup_containment_prefix", "dedup_exact_substring",
    "dedup_chunk_exact", "text_span_dedup", "mm_phash_dedup",
    "vec_hamming_knn", "vec_lsh_ann", "vec_knn_graph_lsh",
    "join_theta_range", "join_range_bucketed",
    "join_spatial_grid", "join_interval_overlap")

  lazy val all: Seq[CatalogEntry] =
    graft.queries.ScanQueries.entries ++
    graft.queries.ScalarQueries.entries ++
    graft.queries.JoinQueries.entries ++
    graft.queries.AggQueries.entries ++
    graft.queries.WindowQueries.entries ++
    graft.queries.SetSortQueries.entries ++
    graft.queries.SubqueryQueries.entries ++
    graft.queries.EtlQueries.entries ++
    graft.queries.TextQueries.entries ++
    graft.queries.VectorQueries.entries ++
    graft.queries.StreamQueries.entries ++
    graft.queries.UdfQueries.entries ++
    graft.queries.MultimodalQueries.entries ++
    graft.queries.GraphQueries.entries

  lazy val byKey: Map[String, CatalogEntry] = {
    val m = stamped.map(e => e.key -> e).toMap
    require(m.size == stamped.size, "duplicate catalog keys")
    m
  }

  /** [[all]] with the scale-path / banded markers applied and validated:
    * every routing key and twin must name a real entry, and a twin must
    * not itself route elsewhere (one hop reaches the scale number). */
  lazy val stamped: Seq[CatalogEntry] = {
    val keys = all.map(_.key).toSet
    scalePaths.foreach { case (k, twin) =>
      require(keys(k), s"scalePaths key $k is not a catalog entry")
      require(keys(twin), s"scalePaths twin $twin is not a catalog entry")
      require(!scalePaths.contains(twin), s"scalePaths twin $twin re-routes")
    }
    bandedKeys.foreach(k => require(keys(k), s"bandedKeys $k is not a catalog entry"))
    all.map(e => e.copy(scalePath = scalePaths.get(e.key), banded = bandedKeys(e.key)))
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(e => e.key -> e.run).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(e => e.duckdbSql.map(e.key -> _)).toMap
}
