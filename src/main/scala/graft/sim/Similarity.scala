package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.TopKAgg
import org.apache.spark.sql.graft.VectorExpressions.{dotF32, normF32, roundedCosine}


/** Similarity search over an `ArrayType(FloatType)` embedding column
  * (SURVEY.md §2.C).
  *
  * Baseline: brute-force cosine — a broadcast of the (small) query set
  * against a full scan; per-partition top-k then a global merge, which is
  * exactly what `orderBy.limit` / a row_number window compiles to under
  * AQE. Embarrassingly parallel; at 100 TB it is bound by scan bandwidth.
  *
  * Scale paths:
  *  - [[annLshTopK]]: sign-random-projection buckets with multi-probe —
  *    candidate generation is an equi-join on a small bucket id.
  *  - [[cosineNearDupPairs]]: EXACT all-pairs ≥ τ via a blocked (grid)
  *    self-join — the communication-optimal exact plan when τ is low.
  *  - [[srpNearDupPairs]]: banded-SRP candidates + exact verify — the
  *    sub-quadratic approximate plan when τ is high (≥ ~0.9).
  *
  * Every vector top-k path — the brute and SRP paths here, the IVF and
  * PQ indexes, the catalog's quantized/binary/prefix screens and the
  * streaming ANN sinks — keeps its own candidate generator and shares
  * the pieces that carry the oracle contract (cosine rounded HALF_UP to
  * 6 dp from precomputed norms; top-k by score desc, then id asc):
  *  - `VectorExpressions.roundedCosine`, the one rounded cosine;
  *  - `TopKAgg.topKRows`, the one bounded-heap top-k tail;
  *  - [[cosineTopK]], the exact re-rank of (query, vector) candidates;
  *  - [[rerankScreen]], the screen → exact-cosine re-rank;
  *  - [[srpIndex]] / [[srpProbes]], the SRP bucket sides, and
  *    [[IvfIndex.nearestCells]], the IVF cell probe.
  */
object Similarity {
  /** Broadcast-hint `df` only when the optimizer's size estimate fits
    * the session's autoBroadcastJoinThreshold. The catalog's tiny probe
    * sets still broadcast; a million-row query batch would NOT — it
    * falls back to Spark's shuffle/cartesian chunking instead of
    * OOMing the driver with a forced broadcast (a hard `broadcast()`
    * overrides the threshold entirely, so it must not be unconditional).
    * The gate is the STATIC optimizedPlan estimate, read at plan-build
    * time — deliberately conservative: a heavily-filtered-but-tiny probe
    * side may keep its parent's size estimate and miss the hint, in
    * which case AQE's runtime join selection still converts the shuffle
    * join to broadcast from observed sizes. Missing the hint costs only
    * performance, never correctness or driver memory.
    */
  private[graft] def broadcastIfSmall(df: DataFrame): DataFrame = {
    val thresh = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (thresh > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= thresh) broadcast(df)
    else df
  }

  /** The exact re-rank every candidate generator ends in: `pairs`
    * carries (query_id, query_vec, __qn) beside (vec_id, embedding, __n);
    * self-matches drop, the rounded cosine scores each pair, and the
    * bounded-heap top-k keeps `k` per (query_id, `keys`). Map-side
    * partial heaps mean the shuffle carries O(queries × k × partitions),
    * never all candidates of a query into one reducer.
    * Output: query_id, keys…, vec_id, cosine_sim, rnk.
    */
  private[graft] def cosineTopK(pairs: DataFrame, k: Int, keys: Column*): DataFrame =
    TopKAgg.topKRows(
      pairs.filter(col("vec_id") =!= col("query_id"))
        .withColumn("cosine_sim",
          roundedCosine(col("embedding"), col("query_vec"), col("__n"), col("__qn"))),
      col("query_id") +: keys, "cosine_sim", "vec_id", k)

  /** The window twin of the top-k tail: `rnk` by (cosine_sim desc,
    * vec_id) per query, cut at `k`.
    */
  private[graft] def rankByCosine(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cosine_sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  private[graft] def withNorms(embeddings: DataFrame, queries: DataFrame): (DataFrame, DataFrame) =
    (embeddings.withColumn("__n", normF32(col("embedding"))),
      queries.withColumn("__qn", normF32(col("query_vec"))))

  /** Exact top-k cosine neighbors for every vector in `queries`
    * (a small DataFrame of (query_id, query_vec)); excludes self-matches
    * by id. Output: query_id, vec_id, cosine_sim (rounded for stable
    * cross-engine ordering), rnk.
    */
  def knnJoin(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // Precompute each side's norm once before the join — cosine inside the
    // pair loop then costs a single dot product, not three.
    val (e, q) = withNorms(embeddings, queries)
    rankByCosine(e
      .crossJoin(broadcastIfSmall(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        roundedCosine(col("embedding"), col("query_vec"), col("__n"), col("__qn"))
          .as("cosine_sim")), k)
  }

  /** knnJoin re-expressed with the custom top-k aggregate
    * (o.a.s.sql.graft.TopKAgg): map-side bounded heaps mean the shuffle
    * carries O(queries × k) rows per partition instead of the whole
    * similarity matrix — the formulation that survives a 100× scale-up.
    * Identical results to [[knnJoin]] (same score rounding, same
    * tie-break by vec_id).
    */
  def knnJoinAgg(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val (e, q) = withNorms(embeddings, queries)
    cosineTopK(e.crossJoin(broadcastIfSmall(q)), k)
  }

  /** Screen → exact re-rank: the `screenK` best candidates per query by
    * the screen's own `score` column (desc, vec_id asc), then ranked by
    * the exact rounded cosine (desc, vec_id) and cut at `k`. `screen` is
    * (query_id, vec_id, score); only the survivors pay a float cosine.
    * Output, ordered by (query_id, rnk): query_id, vec_id, score (as
    * double), cosine_sim, rnk.
    */
  private[graft] def rerankScreen(screen: DataFrame, score: String, corpus: DataFrame,
      queries: DataFrame, screenK: Int, k: Int): DataFrame = {
    val top = TopKAgg.topKRows(screen, Seq(col("query_id")), score, "vec_id", screenK)
    rankByCosine(withExactCosine(top, corpus, queries)
      .select(col("query_id"), col("vec_id"), col(score), col("cosine_sim")), k)
      .orderBy("query_id", "rnk")
  }

  /** Candidate survivors `top` (query_id, vec_id, …) joined back to the
    * raw `corpus` (vec_id, embedding) and `queries` (query_id,
    * query_vec), with their exact rounded `cosine_sim`. The survivors
    * and the query panel are small, so both joins broadcast them.
    */
  private[graft] def withExactCosine(top: DataFrame, corpus: DataFrame,
      queries: DataFrame): DataFrame = {
    val (c, q) = withNorms(corpus.select("vec_id", "embedding"),
      queries.select("query_id", "query_vec"))
    c.join(broadcast(top), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine_sim",
        roundedCosine(col("embedding"), col("query_vec"), col("__n"), col("__qn")))
  }

  /** Deterministic hyperplanes for sign-random-projection LSH: gaussian
    * components from a fixed-seed PRNG, so bucket ids are stable across
    * runs while the planes are properly isotropic (a structured/low-
    * discrepancy grid gives correlated planes and poor recall).
    */
  def hyperplanes(numPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(42)
    Array.fill(numPlanes, dim)(rng.nextGaussian())
  }

  /** Bucket id = sign bits of the dot products with `numPlanes`
    * hyperplanes. Pure column arithmetic — stays in codegen.
    */
  def bucketId(embCol: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val planeCol = array(p.map(x => lit(x.toFloat)): _*)
      when(dotF32(embCol, planeCol) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All XOR masks over `numPlanes` bits with popcount ≤ `maxHamming` —
    * the multi-probe offset set. C(6,0)+C(6,1)+C(6,2) = 22 masks at the
    * defaults, enumerated on the driver (tiny, data-independent).
    */
  def probeMasks(numPlanes: Int, maxHamming: Int): Seq[Long] =
    (0L until (1L << numPlanes)).filter(m => java.lang.Long.bitCount(m) <= maxHamming)

  /** The SRP index side: each corpus vector with its `bucket` (sign bits
    * against the fixed-seed planes) and its norm `__n`.
    */
  private[graft] def srpIndex(corpus: DataFrame, numPlanes: Int, dim: Int): DataFrame =
    corpus
      .withColumn("bucket", bucketId(col("embedding"), hyperplanes(numPlanes, dim)))
      .withColumn("__n", normF32(col("embedding")))

  /** The SRP probe side: each query vector with its norm `__qn`,
    * EXPLODED to its probe buckets — its own bucket XOR every mask
    * within the Hamming radius.
    */
  private[graft] def srpProbes(queries: DataFrame, numPlanes: Int, probeHamming: Int,
      dim: Int): DataFrame = {
    val masks = probeMasks(numPlanes, probeHamming)
    queries
      .withColumn("qbucket", bucketId(col("query_vec"), hyperplanes(numPlanes, dim)))
      .withColumn("__qn", normF32(col("query_vec")))
      .withColumn("bucket", explode(array(masks.map(m => col("qbucket").bitwiseXOR(lit(m))): _*)))
  }

  /** ANN top-k for the query vectors: each query EXPLODES to its probe
    * bucket ids, then candidates come from an equi-join on `bucket` —
    * the shuffle/broadcast key is the small bucket id, never a pair
    * predicate. At 1000 executors this hash-joins co-located by bucket;
    * no per-pair scan exists anywhere in the plan (asserted in
    * PlanAssertionsSpec). Exact cosine re-ranks within the probed
    * buckets.
    */
  def annLshTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 6, probeHamming: Int = 2, dim: Int = 64): DataFrame =
    // No broadcast hint: AQE picks broadcast-vs-shuffle from the probe
    // side's RUNTIME size — the equi-join on `bucket` supports both, so
    // a huge query batch shuffles instead of OOMing the driver.
    cosineTopK(srpIndex(embeddings, numPlanes, dim)
      .join(srpProbes(queries, numPlanes, probeHamming, dim), Seq("bucket")), k)

  /** EXACT embedding-cosine near-duplicate pairs (a < b, cosine ≥
    * threshold) via a blocked grid self-join — no CartesianProduct/BNLJ
    * node in the plan.
    *
    * Why not LSH here: measured on the test embeddings (isotropic,
    * cosine of a random pair ~ N(0, 1/64)), a τ as low as 0.45 sits in
    * the distribution's tail with NO margin (nearest non-pair at 0.4494
    * vs nearest pair at 0.4516). The SRP per-bit agreement at τ=0.45 is
    * only 1 - arccos(0.45)/π ≈ 0.649, so any (rows, bands) choice with
    * near-certain recall passes >99.9 % of all pairs as candidates —
    * LSH cannot prune at low τ, it can only add a shuffle. Exact output
    * at low τ is intrinsically Θ(n²) work (so is the DuckDB oracle); the
    * scale-correct EXACT plan is the communication-optimal blocked join
    * below (each side replicated ~B/2 times ⇒ O(n·B) shuffle, B(B+1)/2
    * independent equi-join tasks of (n/B)² codegen'd dot products each;
    * pick B ≈ √(2·parallelism)). For high τ, use [[srpNearDupPairs]].
    */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double,
      numBlocks: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // All (bi, bj) block pairs with bi <= bj — the upper triangle of the
    // grid, B(B+1)/2 rows, broadcast to both replication joins.
    val blockPairs = broadcast(
      (for { i <- 0 until numBlocks; j <- i until numBlocks } yield (i, j))
        .toDF("__bi", "__bj"))
    val e = embeddings.select(
      col("vec_id"), col("embedding"), normF32(col("embedding")).as("__n"),
      pmod(col("vec_id"), lit(numBlocks)).cast("int").as("__blk"))
    val a = e.toDF("vec_id_a", "ea", "__na", "__bi").join(blockPairs, Seq("__bi"))
    val b = e.toDF("vec_id_b", "eb", "__nb", "__bj").join(blockPairs, Seq("__bj"))
    // Every unordered vector pair {x, y} lands in exactly one (bi, bj)
    // cell (its blocks, ordered); the diagonal cells need the id filter
    // to halve themselves. Ids are canonicalized a < b afterwards —
    // cosine is symmetric, so only the ids swap.
    a.join(b, Seq("__bi", "__bj"))
      .filter(col("__bi") =!= col("__bj") || col("vec_id_a") < col("vec_id_b"))
      .select(
        least(col("vec_id_a"), col("vec_id_b")).as("vec_id_a"),
        greatest(col("vec_id_a"), col("vec_id_b")).as("vec_id_b"),
        roundedCosine(col("ea"), col("eb"), col("__na"), col("__nb")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** Approximate near-dup pairs for HIGH thresholds (τ ≥ ~0.9) via
    * banded sign-random-projection candidates + exact cosine verify —
    * the SRP mirror of Dedup.minHashNearDup, and the sub-quadratic path
    * when the similarity regime supports it.
    *
    * Per-band signature = `planesPerBand` sign bits; candidates = pairs
    * colliding in ≥ 1 band (equi-join on (band, sig)); exact cosine ≥ τ
    * decides membership, so false candidates cost work but never change
    * results. Recall: with per-bit agreement p = 1 - arccos(τ)/π, a true
    * pair at τ is missed with prob (1 - p^r)^L — at the defaults
    * (r=8, L=24) that is ~2e-6 for τ=0.95 and falls steeply above it,
    * while a random isotropic pair (p≈0.5) collides in a band with prob
    * 2⁻⁸, keeping candidates ~L/2^r ≈ 9 % of the pair space. Scale L
    * with ln(corpus) to hold recall at larger n.
    */
  /** Occupancy-targeted SRP banding parameters for a corpus of `n`
    * vectors at threshold `tau`: (numBands L, planesPerBand r).
    *
    * Fixed (r, L) do NOT survive scale-up: expected bucket occupancy is
    * n/2^r, so random-pair candidates per band grow ~n·occupancy/2 —
    * QUADRATIC in n once occupancy grows with the corpus (measured: the
    * q40 defaults run 41× slower on 8× the vectors). Holding occupancy
    * constant instead makes candidate work O(L·n·occupancy/2) =
    * O(n log n):
    *
    *   r = max(8, ⌈log₂(n / targetOccupancy)⌉)       (occupancy pinned)
    *   L = ⌈ln(missProb) / ln(1 − p^r)⌉,  p = 1 − arccos(τ)/π
    *     (true-pair miss probability (1−p^r)^L ≤ missProb at τ)
    *
    * r grows with log n and L with p^−r, so both stay small: n=4 000 →
    * (22 bands × 10 bits); n=32 000 → (32 × 13); n=10⁹ → (~600 × 28) —
    * ~40 k plane dots per vector, trivially less than one candidate scan.
    */
  /** Hard ceiling on bands: beyond this the plane table (bands × bits ×
    * dim floats, broadcast to every task) and the bands-per-vector blowup
    * stop being "trivially less than one candidate scan". The L formula
    * is exponential in bits for fixed p, so low-τ + huge-n corpora can
    * demand 10⁴–10⁵ bands — that regime is NOT a banding problem (use the
    * prefix-filter / blocked-grid exact families instead), and silently
    * building a multi-million-row broadcast would be an OOM cliff in the
    * production entry point. 1024 admits the documented n=10⁹ / τ=0.9
    * design point (~700 × 28 ≈ 20 k plane dots per vector) while
    * rejecting the τ→0.8⁺ regime, whose L blows past 10⁴.
    */
  val MaxSrpBands = 1024

  def srpParams(n: Long, tau: Double, targetOccupancy: Double = 4.0,
      missProb: Double = 1e-4): (Int, Int) = {
    require(tau > 0.8 && tau < 1.0, s"SRP banding needs a high-similarity regime, got $tau")
    val bits = math.max(8, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2)).toInt).min(40)
    val p = 1.0 - math.acos(tau) / math.Pi
    val bands = math.max(8,
      math.ceil(math.log(missProb) / math.log1p(-math.pow(p, bits))).toInt)
    if (bands > MaxSrpBands) {
      // Practical τ floor at this n: the largest band count we allow still
      // has to reach missProb, i.e. (1 − p^bits)^MaxSrpBands ≤ missProb.
      val pFloor = math.pow(1.0 - math.pow(missProb, 1.0 / MaxSrpBands), 1.0 / bits)
      val tauFloor = math.cos(math.Pi * (1.0 - pFloor))
      throw new IllegalArgumentException(
        f"srpParams(n=$n, tau=$tau): occupancy-pinned banding needs $bands bands " +
          f"(> $MaxSrpBands cap) to hold missProb=$missProb at $bits bits. At this corpus " +
          f"size SRP banding is only efficient for tau >= $tauFloor%.3f; below that use the " +
          "exact prefix-filter (Dedup.jaccardPairsPrefix) or blocked-grid families, or relax missProb.")
    }
    (bands, bits)
  }

  /** [[srpNearDupPairs]] with parameters chosen by [[srpParams]] from the
    * corpus size — the production entry point. The count() is one
    * columnar scan (parquet row-group metadata at best); at 100 TB the
    * corpus cardinality is always known anyway and can be passed down.
    */
  def srpNearDupPairsAuto(embeddings: DataFrame, threshold: Double,
      dim: Int = 64): DataFrame = {
    val n = embeddings.count()
    val (bands, bits) = srpParams(n, threshold)
    srpNearDupPairs(embeddings, threshold, bands, bits, dim)
  }

  def srpNearDupPairs(embeddings: DataFrame, threshold: Double,
      numBands: Int = 24, planesPerBand: Int = 8, dim: Int = 64,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val planes = hyperplanes(numBands * planesPerBand, dim)
    val e = embeddings.select(
      col("vec_id"), col("embedding"), normF32(col("embedding")).as("__n"))
    // (vec_id, band, sig) — one row per band per vector, all signatures
    // from ONE native single-pass expression (bit-exact twin of the
    // bucketId column formulation, which at 192 planes degrades codegen
    // and cost ~13 ms/row interpreted — see SrpBandSigs).
    val allBanded = e.select(col("vec_id"),
      posexplode(org.apache.spark.sql.graft.SrpBandSigs.sigs(col("embedding"), planes, planesPerBand))
        .as(Seq("band", "sig")))
    // Hot-bucket occupancy ceiling: with PINNED (bands, bits) the sig
    // space is fixed (numBands * 2^bits buckets), so occupancy — and the
    // in-bucket candidate self-join, quadratic in it — grows linearly
    // with the corpus (measured: 556 s at 32x the gate corpus,
    // SCALING.md round-12 addendum). A bucket hotter than `maxBucket`
    // carries no discriminative signal at high τ (the banding is
    // saturated, not similar), so it is dropped BEFORE the self-join:
    // total pair work is then ≤ buckets · maxBucket²/2 regardless of n.
    // The window's (band, sig) shuffle is the same key the self-join
    // needs, so the cap adds no extra exchange. The capacity-aware
    // production rule (srpParams / srpNearDupPairsAuto) keeps occupancy
    // pinned instead; this ceiling is the guard for pinned-parameter
    // uses like q98. Recall tradeoff: a true pair whose EVERY band lands
    // in a saturated bucket is missed — at τ ≥ 0.9 twins collide in all
    // bands, so any one sub-cap bucket keeps the pair.
    val banded =
      if (maxBucket == Int.MaxValue) allBanded
      else allBanded
        .withColumn("__occ", count(lit(1)).over(Window.partitionBy("band", "sig")))
        .filter(col("__occ") <= maxBucket)
        .drop("__occ")
    val ca = banded.select(col("band"), col("sig"), col("vec_id").as("vec_id_a"))
    val cb = banded.select(col("band"), col("sig"), col("vec_id").as("vec_id_b"))
    val candidates = ca.join(cb, Seq("band", "sig"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .select("vec_id_a", "vec_id_b")
      .distinct()
    // Exact verify: join the embeddings back by id (equi-joins), compute
    // the true cosine, threshold decides membership.
    candidates
      .join(e.toDF("vec_id_a", "ea", "__na"), Seq("vec_id_a"))
      .join(e.toDF("vec_id_b", "eb", "__nb"), Seq("vec_id_b"))
      .select(col("vec_id_a"), col("vec_id_b"),
        roundedCosine(col("ea"), col("eb"), col("__na"), col("__nb")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** SemDeDup (q108's operator) with the cluster count derived from the
    * corpus size — the production entry point. Pair work inside a cell
    * is |cell|², so a FIXED k means 8× the corpus costs 64× the pairs
    * (measured: q108's pinned k=16 runs 11× slower at the 8× corpus);
    * pinning the OCCUPANCY instead (k = ⌈n / targetCell⌉) keeps the
    * per-cell quadratic constant and total pair work linear in n.
    *
    * k is capped by the training-sample size (init centroids are the
    * first k sample vectors); at 100 TB, raise sampleN with k — the
    * sample is still one bounded driver-side collect.
    *
    * Returns (vec_id, kept_by, cosine_sim): one row per DROPPED vector,
    * kept_by = its smallest lower-id cell-mate with cosine ≥ tau.
    */
  def semanticDedup(embeddings: DataFrame, tau: Double,
      targetCell: Int = 128, sampleN: Int = 2048): DataFrame = {
    val n = embeddings.count()
    val k = math.max(1, math.min(sampleN, math.ceil(n.toDouble / targetCell).toInt))
    semanticDedupK(embeddings, tau, k, sampleN)
  }

  /** SemDeDup at an explicit cluster count (q108 pins k=16 so its
    * DuckDB oracle can replay the centroid argmin): nearest-init-
    * centroid assignment, then the keep-lowest-id rule over exact
    * cosine WITHIN cells only.
    *
    * Past `hierSwitchK` centroids the flat argmin's O(n·k·dim) scan
    * dominates (SCALING.md's measured crossover is ~10¹¹ multiply-adds
    * — k in the thousands at occupancy-scaled corpus sizes), so
    * assignment switches to the multi-probe hierarchical router
    * ([[IvfIndex.assignHierarchical]]): (√k + nProbe·√k)·dim work per
    * row. The routing is approximate ONLY near coarse-cell boundaries
    * — a boundary vector landing one cell over changes the heuristic
    * partition, not correctness (every reported pair still passes the
    * exact cosine ≥ tau verify) — and SimilaritySpec's planted-cluster
    * benchmark pins the agreement rate on clustered data, the regime
    * SemDeDup actually runs in.
    */
  def semanticDedupK(embeddings: DataFrame, tau: Double, k: Int,
      sampleN: Int = 2048, hierSwitchK: Int = 4096): DataFrame = {
    val model = IvfIndex.train(embeddings, k = k, iters = 0, sampleN = sampleN)
    val assigned =
      if (k > hierSwitchK) IvfIndex.assignHierarchical(embeddings, model, nProbe = 4)
      else IvfIndex.assign(embeddings, model)
    dedupWithinCells(assigned, tau)
  }

  /** SemDeDup over FULL-CORPUS-TRAINED cells — the production trainer
    * composed into the production dedup: [[semanticDedupK]] partitions
    * with the iters=0 init codebook (the q108 oracle convention), but
    * real SemDeDup wants Lloyd-TIGHTENED cells — tight cells are what
    * make residual-style locality hold, balance the per-cell quadratic
    * constant, and put near-dup pairs in one cell. Training runs via
    * [[IvfIndex.trainDistributed]] (every round sees the corpus; k is
    * NOT capped by a driver sample), and past `hierSwitchK` BOTH the
    * per-round training assignment and the final dedup assignment go
    * through the multi-probe hierarchical router — the full pipeline is
    * sublinear in k per row. Exact-semantics note: routing
    * approximation only moves boundary vectors between heuristic
    * cells; every reported pair still passes the exact cosine ≥ tau
    * verify. `init` is pluggable ([[IvfIndex.initHash]] default —
    * unbiased at corpus scale; the q163 gate entry passes
    * [[IvfIndex.initFirst]] so DuckDB can replay the seed set).
    */
  def semanticDedupTrained(embeddings: DataFrame, tau: Double, k: Int,
      iters: Int = 2, hierSwitchK: Int = 4096,
      init: (DataFrame, Int) => IvfIndex.Model = IvfIndex.initHash): DataFrame = {
    val assigner: (DataFrame, IvfIndex.Model) => DataFrame =
      if (k > hierSwitchK) (df, m) => IvfIndex.assignHierarchical(df, m, nProbe = 4)
      else IvfIndex.assign
    val model = IvfIndex.trainDistributed(embeddings, init(embeddings, k), iters,
      assigner = assigner)
    dedupWithinCells(assigner(embeddings, model), tau)
  }

  /** The keep-lowest-id rule over exact cosine WITHIN cells: one
    * cluster equi-join, pairs verified exactly, smallest qualifying
    * exemplar per dropped id.
    */
  private def dedupWithinCells(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned
      .select(col("vec_id"), col("cluster"), col("embedding"),
        normF32(col("embedding")).as("__n"))
    a.as("x").join(a.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.vec_id") < col("y.vec_id"))
      .select(col("y.vec_id").as("vec_id"), col("x.vec_id").as("kept_by"),
        roundedCosine(col("x.embedding"), col("y.embedding"), col("x.__n"), col("y.__n"))
          .as("cosine_sim"))
      .filter(col("cosine_sim") >= tau)
      .groupBy("vec_id")
      .agg(min(struct(col("kept_by"), col("cosine_sim"))).as("m"))
      .select(col("vec_id"), col("m.kept_by").as("kept_by"),
        col("m.cosine_sim").as("cosine_sim"))
  }

  /** DIVERSITY-CAPPED exact top-k: the best `k` candidates per query
    * subject to at most `perGroup` results from any one group — the
    * result-diversification contract of a retrieval API ("no more than
    * m hits per source/domain/cluster"). Greedy-equivalent by exchange
    * argument: taking each group's `perGroup` best and then the global
    * top-k of the survivors yields exactly the scan-in-score-order
    * greedy result. The per-group stage rides the bounded-heap
    * aggregate (map-side, O(groups x perGroup) out of the shuffle —
    * the 100 TB path); the final stage is a window over the
    * <= |groups| x perGroup survivors per query (bounded, partitioned).
    */
  def diverseTopK(embeddings: DataFrame, queries: DataFrame, groupCol: String,
      k: Int, perGroup: Int): DataFrame = {
    val (e, q) = withNorms(embeddings, queries)
    rankByCosine(cosineTopK(e.crossJoin(broadcastIfSmall(q)), perGroup, col(groupCol))
      .drop("rnk"), k)
  }

  /** MAXIMAL-MARGINAL-RELEVANCE rerank over a bounded per-query
    * candidate pool: greedily pick argmax of
    * `lambda * rel(c) - mu * max(0, max_{s in S} sim(c, s))`
    * (`mu` is passed EXPLICITLY rather than computed as 1 − lambda:
    * Scala's `1.0 - 0.7` is 0.30000000000000004 while a SQL engine's
    * decimal-literal subtraction folds to exactly-0.3-as-double — the
    * caller picks one double for each coefficient and the oracle quotes
    * the same literals)
    * (hinged at 0 — orthogonal-or-opposed candidates incur no
    * redundancy penalty), ties by vec_id. `pool` carries
    * (query_id, vec_id, cosine_sim, embedding) with a BOUNDED pool per
    * query (serving-side rerank: k' candidates from the ANN stage —
    * tens, never data-scale), so the per-query greedy runs inside one
    * `flatMapGroups` task: embarrassingly parallel across queries, and
    * the O(pool^2) candidate-candidate similarity matrix is a few KB.
    * All arithmetic mirrors the catalog's portable conventions
    * (sequential double dot/norm like dot_f32, HALF_UP 6-dp cosine
    * rounding), so a SQL oracle replays the selection exactly.
    */
  def mmrRerank(pool: DataFrame, lambda: Double, mu: Double, k: Int): DataFrame = {
    val spark = pool.sparkSession
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def nrm(a: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val v = a(i).toDouble; s += v * v; i += 1 }
      math.sqrt(s)
    }
    pool.select(col("query_id"), col("vec_id"), col("cosine_sim"), col("embedding"))
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cand = it.toArray.sortBy(c => (-c._3, c._2))
        val n = cand.length
        val norms = cand.map(c => nrm(c._4))
        val sim = Array.tabulate(n, n) { (i, j) =>
          if (i == j) 1.0 else r6(dot(cand(i)._4, cand(j)._4) / (norms(i) * norms(j)))
        }
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
        var step = 0
        while (step < math.min(k, n)) {
          var best = -1; var bestScore = 0.0
          var i = 0
          while (i < n) {
            if (!selected.contains(i)) {
              var ms = 0.0
              selected.foreach { s0 => if (sim(i)(s0) > ms) ms = sim(i)(s0) }
              val sc = lambda * cand(i)._3 - mu * ms
              val better = best < 0 || sc > bestScore ||
                (sc == bestScore && cand(i)._2 < cand(best)._2)
              if (better) { best = i; bestScore = sc }
            }
            i += 1
          }
          selected += best
          // RAW score, deliberately unrounded: both engines compute the
          // identical double (lambda*rel - mu*ms over identically-rounded
          // inputs), but 0.7*(a 6-dp value) sits EXACTLY on a decimal
          // half-way point whenever rel's last digit is odd, where Spark
          // and DuckDB round(x, 6) disagree — rounding here is the only
          // thing that can diverge
          out += ((qid, (step + 1).toLong, cand(best)._2, bestScore))
          step += 1
        }
        out.iterator
      }.toDF("query_id", "rnk", "vec_id", "mmr_score")
  }
}
