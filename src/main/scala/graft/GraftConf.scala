package graft

import org.apache.spark.sql.SparkSession

/** Runtime-tunable knobs for the scale-sensitive operators, read from
  * `spark.conf` (settable per session / per job, no recompile) with the
  * round-1-profiled values as defaults.
  *
  * Why these are config and not constants (VERDICT.md r1, "Performance"):
  * LSH banding (`P(candidate) = 1-(1-j^r)^b`), SimHash block count, IVF
  * nprobe, and the pair-verifier blocking width are all corpus-dependent —
  * the right values at 100 TB depend on the dup-rate and length
  * distribution of THAT corpus, so a deployment must be able to retune
  * them without patching the engine.
  */
object GraftConf {
  private def get(spark: SparkSession, key: String, default: String): String =
    spark.conf.getOption(key).getOrElse(default)

  /** MinHash signature length. More hashes → tighter Jaccard estimate. */
  def minhashHashes(spark: SparkSession): Int =
    get(spark, "graft.dedup.minhash.hashes", "40").toInt

  /** LSH band count b (rows per band r = hashes/b). The (b, r) pair sets
    * the S-curve: candidate probability 1-(1-j^r)^b. Defaults (5, 8)
    * target threshold ~0.9: P≈0.94 at j=0.9, P≈0.02 at j=0.5. */
  def minhashBands(spark: SparkSession): Int =
    get(spark, "graft.dedup.minhash.bands", "5").toInt

  /** Exact-Jaccard verification threshold applied to LSH candidates. */
  def minhashThreshold(spark: SparkSession): Double =
    get(spark, "graft.dedup.minhash.threshold", "0.9").toDouble

  /** Independent chain orders per band for dedup_minhash_lsh's linear
    * candidate spelling (cluster form). Each salt contributes one more
    * O(m log m) window pass and ≤ 2(m-1) candidates per bucket — still
    * linear in bucket depth; more salts → higher connectivity recall on
    * the verified pair graph (measured at sf0.001 vs the quadratic
    * expansion's components: co-clustered pair recall 0.91 at s=4,
    * 0.94 at s=6 — the default; precision is structurally 1.0). */
  def minhashChainSalts(spark: SparkSession): Int = {
    val v = get(spark, "graft.dedup.minhash.chainSalts", "6").toInt
    // mirrors containmentCandCap's guard: 0/negative would make the
    // (0 until salts).map(...).reduce in minhashRepStage throw an opaque
    // empty-collection UnsupportedOperationException far from the knob
    require(v >= 1, s"graft.dedup.minhash.chainSalts=$v must be >= 1")
    v
  }

  /** Storage level for the graph family's cached frames (the shared edge
    * memos and the entry-local degree / oriented-edge / top-k-neighbor
    * frames). Default MEMORY_AND_DISK_SER — the r18 posture experiment
    * (min-of-2 interleaved reps, one JVM, clean calib; BASELINE.md
    * round-18 "Graph one-box heap attribution") tested the r17 heap
    * attribution for the one-box 100× graph residuals and CONFIRMED it: triangle 287.5 → 201.8 s (×0.70),
    * jaccard 246.8 → 190.1 s (×0.77) at 100×, and neutral-to-faster at
    * sf0.1 too (label_prop 5.2 → 3.8 s, others −0.3-0.4 s, none slower)
    * — the serialized blocks relieve exactly the GC tax the exponent was
    * attributed to, at no small-scale cost. MEMORY_ONLY restores the
    * plain `.cache()` posture for A/B. Results identical either way. */
  def graphStorageLevel(spark: SparkSession): org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.fromString(
      get(spark, "graft.graph.storageLevel", "MEMORY_AND_DISK_SER"))

  /** SimHash: max Hamming distance accepted as near-dup. Block count for
    * candidate generation is derived: maxHamming+1 blocks (pigeonhole —
    * a pair within the bound must agree on at least one block).
    *
    * Validated: maxHamming+1 must divide the 64 fingerprint bits, so the
    * legal values are 1, 3, 7, 15, 31, 63. Without the check, 0 derives
    * blockBits=64 → blockMask=(1L<<64)-1==0 → every doc lands in ONE
    * bucket and the "blocked" join silently degrades to a full O(n²)
    * self-join; a non-divisor leaves the high bits out of every block, so
    * near-dup pairs differing only there would be silently missed. */
  def simhashMaxHamming(spark: SparkSession): Int = {
    val v = get(spark, "graft.dedup.simhash.maxHamming", "3").toInt
    require(v >= 1 && 64 % (v + 1) == 0,
      s"graft.dedup.simhash.maxHamming=$v invalid: maxHamming+1 must divide 64 " +
        "(legal values: 1, 3, 7, 15, 31, 63)")
    v
  }

  /** Candidate-generator banding for the exact-verify twins
    * (`dedup_ngram_lsh`, `text_levenshtein_lsh`): signature length and
    * band count for [[graft.queries.TextQueries.lshCandidates]].
    * r = hashes/bands sets the S-curve 1-(1-j^r)^b; the defaults (16, 16)
    * give r=1 — the right shape for the twins' permissive thresholds
    * (bigram j ≥ 0.2 ⇒ P ≈ 0.97). Validated: bands must divide hashes. */
  def verifyHashes(spark: SparkSession): Int =
    get(spark, "graft.dedup.verify.hashes", "16").toInt

  def verifyBands(spark: SparkSession): Int = {
    val h = verifyHashes(spark)
    val b = get(spark, "graft.dedup.verify.bands", "16").toInt
    require(b >= 1 && h % b == 0,
      s"graft.dedup.verify.bands=$b invalid: must be >= 1 and divide hashes=$h")
    b
  }

  /** LSH bucket-size cap for the candidate generator: buckets larger than
    * this hold a stop-gram (a super-common shingle that happened to be the
    * min-hash) and are dropped as non-discriminative rather than joined
    * quadratically. An ABSOLUTE count on purpose — at any corpus size a
    * bucket this large carries no similarity signal, while the quadratic
    * cost of joining it grows without bound. */
  def verifyMaxBucket(spark: SparkSession): Int = {
    val v = get(spark, "graft.dedup.verify.maxBucket", "64").toInt
    require(v >= 2, s"graft.dedup.verify.maxBucket=$v invalid: must be >= 2")
    v
  }

  /** Streaming shuffle partitions = state-store instances per stateful
    * operator. Sized to sustained input rate, not to cores: every store
    * pays per-micro-batch checkpoint commit IO, so oversizing taxes each
    * batch. Safe to vary per deployment because each of our streaming
    * entries starts from a fresh checkpoint (the count is pinned only for
    * the life of a checkpoint). */
  def streamShufflePartitions(spark: SparkSession): Int =
    get(spark, "graft.stream.shufflePartitions", "8").toInt

  /** IVF probe width: how many coarse cells the query scans. */
  def ivfNprobe(spark: SparkSession): Int =
    get(spark, "graft.ann.ivf.nprobe", "3").toInt

  /** PQ Lloyd-training sample modulus: rounds train on vectors with
    * `vec_id % mod == 1` (ids are dense, so a uniform 1/mod draw); 1 =
    * train on the full corpus. Only training is sampled — the final
    * encode always covers every vector. */
  def pqTrainSampleMod(spark: SparkSession): Int =
    get(spark, "graft.ann.pq.trainSampleMod", "4").toInt

  /** SRP-LSH ANN (`vec_lsh_ann`): number of hash tables and bits per
    * table. Recall rises with tables, candidate count falls with bits —
    * scale nBits ≈ log2(corpus / target_bucket_size) as data grows; the
    * defaults suit the ~10³-vector test corpus. */
  def lshAnnTables(spark: SparkSession): Int =
    get(spark, "graft.ann.lsh.tables", "8").toInt

  def lshAnnBits(spark: SparkSession): Int = {
    val v = get(spark, "graft.ann.lsh.bits", "4").toInt
    require(v >= 1 && v <= 30, s"graft.ann.lsh.bits=$v out of [1,30]")
    v
  }

  /** Target SRP bucket occupancy: the effective bits per table are raised
    * above `graft.ann.lsh.bits` to ceil(log2(n / target)) as the corpus
    * grows, keeping expected bucket size — and with it the co-bucket
    * candidate count per point — CONSTANT in n. Without this the bucket
    * population grows linearly and co-bucket pair enumeration goes
    * quadratic: the round-12 10× scale proof measured vec_knn_graph_lsh
    * at 77× cost for 10× data under fixed 4-bit tables, vs candidate
    * counts linear in n once the occupancy is pinned. */
  def lshAnnTargetBucket(spark: SparkSession): Int = {
    val v = get(spark, "graft.ann.lsh.targetBucket", "128").toInt
    require(v >= 2, s"graft.ann.lsh.targetBucket=$v invalid: must be >= 2")
    v
  }

  /** Per-representative candidate cap for dedup_containment_prefix (the
    * linear containment twin): each contained-side rep verifies at most
    * this many prefix-filter candidates. An ABSOLUTE count like
    * verifyMaxBucket — the cap is what bounds the entry linear on
    * dup-heavy corpora where true witnesses (and so uncapped candidates)
    * grow quadratically in clique depth; recall under the cap is
    * floor-tested against the blocked ground truth. */
  def containmentCandCap(spark: SparkSession): Int = {
    val v = get(spark, "graft.dedup.containment.candCap", "64").toInt
    require(v >= 1, s"graft.dedup.containment.candCap=$v invalid: must be >= 1")
    v
  }

  /** Pair-verifier blocking: char-length band half-width (docs pair only
    * within ±width chars) and the derived bucket width. At 100 TB this is
    * the knob that bounds intra-bucket quadratic cost — narrow it as the
    * corpus grows, or skip blocking entirely and feed LSH candidates
    * (see TextQueries.verifyCandidates, the compose-with-LSH path). */
  def pairLengthBand(spark: SparkSession): Int =
    get(spark, "graft.dedup.pair.lengthBand", "20").toInt

  /** Scan-parallelism floor for the base-table loaders (r20 optimization
    * round; guide §2 "make partitioning scale-adaptive"). The test corpus
    * ships each table as ONE single-row-group parquet file, so every scan
    * is structurally 1 partition no matter what `files.maxPartitionBytes`
    * / `minPartitionNum` say (row-group granularity) — and every
    * map-heavy first stage (tokenize/from_json/decimal partial-agg) plus
    * every broadcast-join probe side ran SERIALIZED on one core
    * (bench_r20_final cpu_sec: vec_knn_graph 5.5 s wall at 1.1 avg
    * cores). [[graft.Tables.load]] therefore round-robin-repartitions a
    * loaded table up to this floor WHEN the scan has fewer partitions.
    * Scale-adaptive by construction: at warehouse scale a table scan has
    * thousands of splits (≥ this floor), the gate never fires, and the
    * plan is byte-identical to today's — the repartition exists only
    * where the input layout under-parallelizes the box.
    *   "auto" (default) → min(spark.sql.shuffle.partitions,
    *                      sparkContext.defaultParallelism). The floor
    *                      aligns scan parallelism with the REDUCE
    *                      parallelism the session is already sized for,
    *                      capped by the core count so the driver's
    *                      low-core bench legs scale down with the master.
    *                      Floor-to-all-cores was measured and REJECTED:
    *                      the full-catalog 3-posture interleaved A/B
    *                      (repart_ab3_r20.json; 0 vs 8 vs 32 on local[32],
    *                      sp=8) read sum-of-best 227.7 / 178.7 / 209.0 s —
    *                      32-way map concurrency over this corpus is
    *                      bimodal on the allocation-heavy entries
    *                      (src_xml_extract 0.6-29 s, dedup_cluster_lsh
    *                      15-24 s under 32 vs 0.8-0.9 / 6.7-8.3 under 8)
    *                      while 8 keeps ~90% of the serialized-class win;
    *   "0"              → off (the pre-r20 behavior, A/B lever);
    *   N                → explicit floor (the A/B sweep lever).
    * Row-order invariance: every oracle-checked entry is ORDER BY-final
    * and engine-portable (the DuckDB oracle already executes in a foreign
    * row order), so partitioning cannot move any checked output; the
    * sf0.001+sf0.01 verify gates were re-run green under the active floor
    * before this shipped, SortTotalityAudit flags zero under-determined
    * final sorts, and RepartitionInvarianceSpec pins representative
    * entries equal under auto vs off. */
  def tablesMinParallelism(spark: SparkSession): Int =
    get(spark, "graft.tables.minParallelism", "auto") match {
      case "auto" =>
        math.min(
          spark.sessionState.conf.numShufflePartitions,
          spark.sparkContext.defaultParallelism)
      case s =>
        val v = s.toInt
        require(v >= 0, s"graft.tables.minParallelism=$v invalid: must be >= 0 or 'auto'")
        v
    }
}
