package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.{NearestCentroid, TopKAgg, VectorExpressions}

/** Product quantization (PQ) — the classic ANN *compression* path
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011) next to the pruning paths already in the engine (SRP-LSH
  * buckets, IVF cells): split the d-dim embedding into M subspaces of
  * d/M dims, learn a small per-subspace codebook (ksub centroids), and
  * store each vector as M small codes. A 64-dim float32 embedding
  * (256 bytes) becomes M = 8 bytes + one shared codebook.
  *
  * Scale shape: the query-time scan reads the CODES column only —
  * 32× less bandwidth than the raw vectors — and the corpus embedding
  * column is touched again only for the final exact re-rank of the k
  * winners per query. At 100 TB the ANN scan is bandwidth-bound, so
  * the compressed scan is the win; compute per row stays M·(d/M) = d
  * multiply-adds in this formulation (asymmetric distance: exact query
  * subvector vs quantized corpus subvector). The further at-scale
  * compute optimization — precompute each query's M×ksub distance
  * table once and turn the per-row work into M table lookups — needs
  * the bounded query batch driver-side (the IvfIndex.train sample
  * convention) and is documented rather than taken here so the whole
  * query stays a two-sided DataFrame plan.
  *
  * Deterministic end to end (the q34/q41 IVF convention): codebook
  * training is driver-side over the first sampleN vectors by vec_id
  * (init = the first ksub subvectors; optional fixed-count Lloyd
  * rounds), encoding is the native [[NearestCentroid]] argmin per
  * subspace (first-index ties), and ADC distances accumulate in
  * index order in doubles — all replayable in DuckDB SQL.
  */
object PqIndex {
  /** codebooks(m)(j) = the j-th centroid of subspace m (length d/M). */
  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def numSub: Int = codebooks.length
    def ksub: Int = codebooks(0).length
    def subDim: Int = codebooks(0)(0).length
  }

  /** Driver-side per-subspace k-means over a deterministic sample
    * (ordered by vec_id, ≤ sampleN rows — at 100 TB codebooks are
    * always trained on a bounded sample, never the corpus). iters = 0
    * keeps the init codebook (subvectors of the first ksub sample
    * vectors), which the SQL oracle can replay without a Lloyd loop.
    */
  def train(embeddings: DataFrame, numSub: Int, ksub: Int,
      iters: Int = 0, sampleN: Int = 2048): Model =
    trainFromSample(collectSample(embeddings, sampleN), numSub, ksub, iters)

  /** PQ over IVF-cell RESIDUALS (x − centroid[cell(x)]) — the faiss
    * IVF-PQ default: residual magnitudes are a fraction of raw vector
    * magnitudes, so a fixed code budget quantizes them far more finely.
    * The residual sample is computed driver-side in doubles (codebook
    * constants need no float rounding; the ENCODING input column is
    * float — the engine's storage type — and both engines replay that
    * cast explicitly).
    */
  def trainResiduals(embeddings: DataFrame, ivf: IvfIndex.Model, numSub: Int,
      ksub: Int, iters: Int = 0, sampleN: Int = 2048): Model = {
    val sample = collectSample(embeddings, sampleN)
    val res = sample.map { v =>
      val c = ivf.centroids(IvfIndex.nearestCentroidIdx(ivf.centroids, v))
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    trainFromSample(res, numSub, ksub, iters)
  }

  private def collectSample(embeddings: DataFrame, sampleN: Int): Array[Array[Double]] =
    embeddings
      .orderBy("vec_id").limit(sampleN)
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))

  private def trainFromSample(sample: Array[Array[Double]], numSub: Int,
      ksub: Int, iters: Int): Model = {
    require(sample.length >= ksub, s"need at least $ksub sample vectors, got ${sample.length}")
    val dim = sample(0).length
    require(dim % numSub == 0, s"dim $dim not divisible into $numSub subspaces")
    val subDim = dim / numSub

    val codebooks = Array.tabulate(numSub) { m =>
      val sub = sample.map(v => v.slice(m * subDim, (m + 1) * subDim))
      var cb = sub.take(ksub).map(_.clone())
      (1 to iters).foreach { _ =>
        val sums = Array.fill(ksub, subDim)(0.0)
        val counts = new Array[Long](ksub)
        sub.foreach { v =>
          val c = nearestIdx(cb, v)
          counts(c) += 1
          var i = 0
          while (i < subDim) { sums(c)(i) += v(i); i += 1 }
        }
        cb = Array.tabulate(ksub) { c =>
          if (counts(c) == 0) cb(c) else sums(c).map(_ / counts(c))
        }
      }
      cb
    }
    Model(codebooks)
  }

  private def nearestIdx(cb: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cb.length) {
      var d = 0.0
      var i = 0
      while (i < v.length) { val t = v(i) - cb(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The M per-subspace codes for one embedding column: each is the
    * native [[NearestCentroid]] argmin over that subspace's codebook
    * applied to the subvector slice (the |c|² − 2·e·c score with
    * first-index ties — exactly what the oracle replays). One narrow
    * array<int> column; at scale this is the materialized index
    * column and the raw embedding need not be read again.
    */
  def codesCol(emb: Column, model: Model): Column = {
    val sd = model.subDim
    array((0 until model.numSub).map { m =>
      NearestCentroid.nearest(slice(emb, m * sd + 1, sd), model.codebooks(m))
    }: _*)
  }

  /** Embeddings plus their `codes` column. */
  def encode(embeddings: DataFrame, model: Model): DataFrame =
    embeddings.withColumn("codes", codesCol(col("embedding"), model))

  /** The rounded ADC distance column: approximate squared distance from
    * `query_vec` to the quantized corpus vector behind `codes` =
    * Σ_m ‖q_m − codebook_m[code_m]‖², accumulated subspace-by-subspace
    * then component-by-component in doubles (fixed fold order both
    * engines replay). Codebook entries go through the same double→float
    * cast as [[NearestCentroid]]'s literals.
    */
  private def adcDist(model: Model): Column = {
    val sd = model.subDim
    val cbLit: IndexedSeq[Column] = (0 until model.numSub).map { m =>
      array(model.codebooks(m).map(entry =>
        array(entry.map(x => lit(x.toFloat)): _*)): _*)
    }
    val subDists: Seq[Column] = (0 until model.numSub).map { m =>
      val qSub = slice(col("query_vec"), m * sd + 1, sd)
      val cEntry = element_at(cbLit(m), element_at(col("codes"), m + 1) + 1)
      aggregate(
        zip_with(qSub, cEntry, (a, b) => {
          val d = a.cast("double") - b.cast("double")
          d * d
        }),
        lit(0.0),
        (acc, x) => acc + x)
    }
    round(subDists.foldLeft(lit(0.0))(_ + _), 6)
  }

  /** Rank ADC candidates by (distance asc, vec_id) through the
    * bounded-heap top-k aggregate — the shuffle carries k rows per
    * query per partition — then join ONLY the k winners back to the raw
    * embeddings for the exact rounded-cosine re-rank column.
    */
  private def rankAndRerank(candidates: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val top = TopKAgg.topKRows(
        candidates.select(col("query_id"), col("vec_id"), (-col("adc_dist")).as("adc_dist")),
        Seq(col("query_id")), "adc_dist", "vec_id", k)
      .withColumn("adc_dist", -col("adc_dist"))
    Similarity.withExactCosine(top, corpus, queries)
      .select("query_id", "vec_id", "adc_dist", "cosine_sim", "rnk")
  }

  /** Flat (exhaustive-codes) ADC top-k: every corpus row's codes are
    * scanned for every query — the compressed-scan baseline.
    */
  def adcTopK(encoded: DataFrame, queries: DataFrame, model: Model, k: Int): DataFrame =
    adcTopKSplit(encoded, encoded, queries, model, k)

  /** [[adcTopK]] with the codes table and the raw-embedding corpus as
    * SEPARATE inputs — the persisted-artifact shape: the compressed
    * codes table (M bytes/vector) is the scan side, and the full
    * embeddings are touched only to re-rank the k winners per query.
    *
    * Since round 11 this routes through the LOOKUP-TABLE kernel
    * ([[adcTopKSplitLut]] semantics): the query batch is driver-bounded
    * by the serving convention, so the per-candidate work is M array
    * reads instead of d multiply-adds — bit-equal distances (PqSpec
    * pins full-result equality against [[adcTopKSplitExpr]]), so every
    * oracle replays unchanged.
    */
  def adcTopKSplit(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      model: Model, k: Int): DataFrame =
    adcTopKSplitLut(codes, corpus, queries, model, k)

  /** The expression-arithmetic formulation (d multiply-adds per
    * candidate row, no driver-side query collect) — the path for
    * UNBOUNDED query batches, and the cross-check reference the LUT
    * kernel is spec-pinned against.
    */
  def adcTopKSplitExpr(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      model: Model, k: Int): DataFrame = {
    val candidates = codes
      .select(col("vec_id"), col("codes"))
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), adcDist(model).as("adc_dist"))
    rankAndRerank(candidates, corpus, queries, k)
  }

  /** LEARNED OPQ rotation (Ge et al., "Optimized Product Quantization",
    * CVPR 2013) — the alternating refinement past the fixed/statistical
    * permutations the catalog carries (q154 transpose, q157
    * variance-balanced snake): repeat, for a fixed opqIters,
    *   1. fix R, Lloyd-fit the per-subspace codebooks to X·R;
    *   2. fix the codebooks, quantize Y = q(X·R), and set R to the
    *      ORTHOGONAL Procrustes minimizer of ‖X·R − Y‖² — the
    *      orthogonal polar factor of M = XᵀY, computed here as
    *      M·(MᵀM)^(−1/2) via a fixed-sweep cyclic Jacobi
    *      eigendecomposition (deterministic by construction: no
    *      library dispatch, no pivoting, fixed iteration order —
    *      rerunning on the same sample reproduces R bit-for-bit,
    *      which the spec pins).
    * Runs on the bounded ordered sample (the PQ-trainer convention —
    * at 100 TB rotations and codebooks are always fit on a sample);
    * the corpus-scale application of R is [[rotateCol]], one narrow
    * map. Deliberately NOT a catalog entry: the Procrustes step is an
    * SVD, which the DuckDB oracle cannot replay, so the learned
    * variant is spec-verified (orthogonality, determinism, recall ≥
    * the q157 allocation on the energy fixture) while q154/q157 keep
    * the oracle-replayed bracket around it.
    */
  def trainOpq(embeddings: DataFrame, numSub: Int, ksub: Int, opqIters: Int = 8,
      pqIters: Int = 4, sampleN: Int = 2048): (Array[Array[Double]], Model) = {
    val x = collectSample(embeddings, sampleN)
    val d = x(0).length
    // Init = the variance-balanced snake PERMUTATION (the q157
    // allocation, computed from this sample) as a rotation matrix —
    // Ge et al.'s eigenvalue-allocation initialization idea: start the
    // alternation from a rotation that already balances energy across
    // subspaces, instead of identity (identity starts in the
    // all-the-energy-in-one-subspace local basin the fixture is built
    // to punish, and alternation was measured to plateau below the
    // permutation baseline from there).
    val vars = Array.tabulate(d) { i =>
      val n = x.length
      var s1 = 0.0; var s2 = 0.0
      x.foreach { v => s1 += v(i); s2 += v(i) * v(i) }
      (s2 - s1 * s1 / n) / n
    }
    var r = snakeRotation(vars, numSub)
    def rotated: Array[Array[Double]] = x.map { v =>
      Array.tabulate(d)(p => { var s = 0.0; var j = 0; while (j < d) { s += v(j) * r(j)(p); j += 1 }; s })
    }
    (1 to opqIters).foreach { _ =>
      val xr = rotated
      val m0 = trainFromSample(xr, numSub, ksub, pqIters)
      val sd = m0.subDim
      val y = xr.map { v =>
        val out = new Array[Double](d)
        var mm = 0
        while (mm < numSub) {
          val sub = v.slice(mm * sd, (mm + 1) * sd)
          val e = m0.codebooks(mm)(nearestIdx(m0.codebooks(mm), sub))
          System.arraycopy(e, 0, out, mm * sd, sd)
          mm += 1
        }
        out
      }
      val mtx = Array.ofDim[Double](d, d) // M = Xᵀ·Y
      var row = 0
      while (row < x.length) {
        var i = 0
        while (i < d) {
          val xi = x(row)(i)
          var p = 0
          while (p < d) { mtx(i)(p) += xi * y(row)(p); p += 1 }
          i += 1
        }
        row += 1
      }
      r = polarOrtho(mtx)
    }
    (r, trainFromSample(rotated, numSub, ksub, pqIters))
  }

  /** The corpus-scale application of a learned rotation: one narrow
    * map through the native row-vector×matrix expression; output is
    * float — interchangeable with a stored embedding column, so
    * [[encode]]/[[adcTopKSplit]] run on it unchanged.
    */
  def rotateCol(emb: Column, r: Array[Array[Double]]): Column =
    VectorExpressions.matVecF32(emb, r)

  /** The q157 variance-balanced snake allocation as a rotation matrix:
    * dims ranked by variance descending (ties to the lower index), dealt
    * boustrophedon over the numSub subspaces — Ge et al.'s
    * eigenvalue-allocation init, shared by [[trainOpq]] (sample
    * variances) and [[trainOpqDistributed]] (corpus variances).
    */
  private def snakeRotation(vars: Array[Double], numSub: Int): Array[Array[Double]] = {
    val d = vars.length
    val sd0 = d / numSub
    val order = vars.zipWithIndex.sortBy { case (v, i) => (-v, i) }.map(_._2)
    val bySub = Array.fill(numSub)(scala.collection.mutable.ArrayBuffer.empty[Int])
    order.zipWithIndex.foreach { case (dim, rank) =>
      val m = if ((rank / numSub) % 2 == 0) rank % numSub else numSub - 1 - rank % numSub
      bySub(m) += dim
    }
    val perm: Array[Int] = bySub.flatMap(_.toArray) // position p ← original dim perm(p)
    require(perm.length == d && sd0 * numSub == d, s"dim $d not divisible into $numSub subspaces")
    Array.tabulate(d, d)((i, p) => if (perm(p) == i) 1.0 else 0.0)
  }

  /** FULL-CORPUS OPQ — [[trainOpq]]'s alternation with every
    * corpus-touching step a Spark aggregation, so k·numSub codebook
    * capacity is no longer limited by what a 2048-row driver sample can
    * populate (the [[IvfIndex.trainDistributed]] argument, applied to
    * the rotation trainer). Per OPQ iteration:
    *
    *  1. rotate: one narrow [[rotateCol]] map (d² multiply-adds/row,
    *     float output — the engine's embedding storage type);
    *  2. codebook fit: pqIters Lloyd rounds, each ONE corpus pass —
    *     per-subspace assignment via the native [[NearestCentroid]]
    *     argmin on the subvector slice, then per-(subspace, code)
    *     component sums;
    *  3. rotation update: the Procrustes cross-covariance M = XᵀY
    *     NEVER materializes per-row outer products (d² values/row —
    *     64× the corpus for d=64): because Y's subspace-m columns are
    *     the codebook entry c_{m,code_m(x)}, M factors as
    *     M[:, sub m] = Σ_j S_{m,j} ⊗ c_{m,j} with S_{m,j} = Σ of the
    *     FULL original x over rows whose subspace-m code is j — so one
    *     more corpus pass of keyed VECTOR sums (numSub·ksub·d bounded
    *     stats), and the d×d assembly + polar factor run driver-side
    *     on metadata-scale state, exactly like trainDistributed's
    *     k×dim centroid collect.
    *
    * Bit-deterministic under any partitioning (hence spec-pinnable):
    * every double sum — the init variances, the per-(m, code) subspace
    * sums, the S_{m,j} Procrustes sums — is the repo's TWO-PHASE
    * ordered fold (fold each 512-id bucket in vec_id order, then the
    * bucket partials in bucket order); assignment is the deterministic
    * first-index-tie argmin; the polar factor is the fixed-sweep
    * one-sided Jacobi. A production variant can drop the ordered folds
    * for plain map-side-combined sums (partitioning-dependent last-ulp
    * drift — the trainDistributed trade-off, same note).
    *
    * Cost: opqIters × (pqIters + 2) linear corpus passes, driver state
    * d² + numSub·ksub·d doubles — independent of corpus size. Init R is
    * the corpus-variance snake ([[snakeRotation]] — same rationale as
    * [[trainOpq]]: identity init plateaus below the permutation
    * baseline on energy-concentrated data).
    */
  def trainOpqDistributed(embeddings: DataFrame, numSub: Int, ksub: Int,
      opqIters: Int = 4, pqIters: Int = 2,
      bucketSize: Long = 512L): (Array[Array[Double]], Model) = {
    import org.apache.spark.sql.functions.{aggregate => aggr}
    val d = embeddings.select(size(col("embedding"))).head().getInt(0)
    require(d % numSub == 0, s"dim $d not divisible into $numSub subspaces")
    val sd = d / numSub
    val zero = array_repeat(lit(0.0), lit(d))

    // corpus variances by two-phase ordered fold → snake init rotation
    val vrows = embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"),
      expr(s"vec_id div $bucketSize").as("bucket"))
    val vp1 = vrows.groupBy("bucket").agg(count(lit(1)).as("cnt"),
      aggr(array_sort(collect_list(struct(col("vec_id"), col("v")))), zero,
        (acc, s) => zip_with(acc, s.getField("v"), (a, b) => a + b)).as("s1"),
      aggr(array_sort(collect_list(struct(col("vec_id"), col("v")))), zero,
        (acc, s) => zip_with(acc, s.getField("v"), (a, b) => a + b * b)).as("s2"))
    val vRow = vp1.agg(sum("cnt").as("n"),
      aggr(array_sort(collect_list(struct(col("bucket"), col("s1")))), zero,
        (acc, s) => zip_with(acc, s.getField("s1"), (a, b) => a + b)).as("s1"),
      aggr(array_sort(collect_list(struct(col("bucket"), col("s2")))), zero,
        (acc, s) => zip_with(acc, s.getField("s2"), (a, b) => a + b)).as("s2"))
      .head()
    val n = vRow.getLong(0)
    require(n >= ksub, s"need at least $ksub vectors, got $n")
    val s1 = vRow.getSeq[Double](1)
    val s2 = vRow.getSeq[Double](2)
    val vars = Array.tabulate(d)(i => (s2(i) - s1(i) * s1(i) / n) / n)
    var r = snakeRotation(vars, numSub)

    // one Lloyd/stats pass: per-(m, code) counts + ordered-fold sums of
    // `valueCol` (the rotated subvector for codebook rounds; the full
    // original x for the Procrustes pass) — numSub·ksub bounded rows.
    def passStats(rot: DataFrame, cb: Array[Array[Array[Double]]], full: Boolean)
        : Map[(Int, Int), (Long, Array[Double])] = {
      val codes = array((0 until numSub).map { m =>
        org.apache.spark.sql.graft.NearestCentroid.nearest(
          slice(col("rv"), m * sd + 1, sd), cb(m))
      }: _*)
      val width = if (full) d else sd
      val zeroW = array_repeat(lit(0.0), lit(width))
      val ex = rot.select(col("vec_id"), col("rv"), col("xv"),
          expr(s"vec_id div $bucketSize").as("bucket"),
          posexplode(codes).as(Seq("m", "code")))
        .select(col("m"), col("code"), col("bucket"), col("vec_id"),
          (if (full) col("xv")
           else transform(slice(col("rv"), col("m") * lit(sd) + lit(1), lit(sd)),
             x => x.cast("double"))).as("sv"))
      val p1 = ex.groupBy("m", "code", "bucket").agg(count(lit(1)).as("cnt"),
        aggr(array_sort(collect_list(struct(col("vec_id"), col("sv")))), zeroW,
          (acc, s) => zip_with(acc, s.getField("sv"), (a, b) => a + b)).as("psum"))
      val p2 = p1.groupBy("m", "code").agg(sum("cnt").as("cnt"),
        aggr(array_sort(collect_list(struct(col("bucket"), col("psum")))), zeroW,
          (acc, s) => zip_with(acc, s.getField("psum"), (a, b) => a + b)).as("ssum"))
      p2.collect().map { row =>
        (row.getInt(0), row.getInt(1)) ->
          (row.getLong(2), row.getSeq[Double](3).toArray)
      }.toMap
    }

    def rotDf = embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("xv"),
      VectorExpressions.matVecF32(col("embedding"), r).as("rv"))

    // init codebooks for one alternation: subvectors of the first ksub
    // rotated vectors in vec_id order (trainFromSample's init rule)
    def initCb(rot: DataFrame): Array[Array[Array[Double]]] = {
      val first = rot.orderBy("vec_id").limit(ksub).select("rv").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      Array.tabulate(numSub)(m => first.map(v => v.slice(m * sd, (m + 1) * sd)))
    }

    def lloyd(rot: DataFrame): Array[Array[Array[Double]]] = {
      var cb = initCb(rot)
      (1 to pqIters).foreach { _ =>
        val st = passStats(rot, cb, full = false)
        cb = Array.tabulate(numSub) { m =>
          Array.tabulate(ksub) { j =>
            st.get((m, j)) match {
              case Some((cnt, s)) if cnt > 0 => s.map(_ / cnt)
              case _ => cb(m)(j) // empty cell keeps its previous entry
            }
          }
        }
      }
      cb
    }

    (1 to opqIters).foreach { _ =>
      val rot = rotDf
      val cb = lloyd(rot)
      val sStats = passStats(rot, cb, full = true)
      // M[:, p ∈ sub m] = Σ_j S_{m,j} ⊗ c_{m,j}
      val mtx = Array.ofDim[Double](d, d)
      var m = 0
      while (m < numSub) {
        var j = 0
        while (j < ksub) {
          sStats.get((m, j)).foreach { case (_, sVec) =>
            val c = cb(m)(j)
            var i = 0
            while (i < d) {
              var pl = 0
              while (pl < sd) { mtx(i)(m * sd + pl) += sVec(i) * c(pl); pl += 1 }
              i += 1
            }
          }
          j += 1
        }
        m += 1
      }
      r = polarOrtho(mtx)
    }
    (r, Model(lloyd(rotDf)))
  }

  /** Orthogonal polar factor of M (the Procrustes minimizer R = U·Vᵀ
    * from M = UΣVᵀ) by ONE-SIDED cyclic Jacobi SVD: rotate column
    * pairs of A (initialized to M) until all columns are mutually
    * orthogonal, accumulating the rotations in V; then U = A with
    * columns normalized and R = U·Vᵀ. One-sided Jacobi works on M
    * itself — not MᵀM, whose squared condition number loses the small
    * singular subspaces' orientation exactly in the energy-concentrated
    * regime OPQ exists for (measured: the eigendecomposition route left
    * ‖RᵀR−I‖∞ ≈ 2.6e-3 on the fixture; this one ≤ 1e-13). Fixed sweep
    * order, fixed relative threshold, capped sweep count, early exit on
    * a rotation-free sweep — deterministic by construction. Requires M
    * nonsingular (true whenever the sample spans the space — asserted).
    */
  private def polarOrtho(m: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var rotated = true
    while (sweep < 60 && rotated) {
      rotated = false
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          var app = 0.0; var aqq = 0.0; var apq = 0.0
          var k = 0
          while (k < d) {
            val x = a(k)(p); val y = a(k)(q)
            app += x * x; aqq += y * y; apq += x * y
            k += 1
          }
          if (math.abs(apq) > 1e-15 * math.sqrt(app * aqq)) {
            val theta = (aqq - app) / (2.0 * apq)
            val t = if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                    else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            k = 0
            while (k < d) {
              val ap = a(k)(p); val aq = a(k)(q)
              a(k)(p) = c * ap - s * aq
              a(k)(q) = s * ap + c * aq
              val vp = v(k)(p); val vq = v(k)(q)
              v(k)(p) = c * vp - s * vq
              v(k)(q) = s * vp + c * vq
              k += 1
            }
            rotated = true
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val sig = Array.tabulate(d) { j =>
      var s = 0.0
      var k = 0
      while (k < d) { s += a(k)(j) * a(k)(j); k += 1 }
      math.sqrt(s)
    }
    require(sig.min > 0.0, "polarOrtho: singular cross-covariance — sample does not span the space")
    // R = U·Vᵀ with U = A·diag(1/σ)
    Array.tabulate(d, d) { (i, j) =>
      var s = 0.0
      var k = 0
      while (k < d) { s += (a(i)(k) / sig(k)) * v(j)(k); k += 1 }
      s
    }
  }

  /** The M×ksub ADC lookup table for one query vector: lut(m)(j) =
    * ‖q_m − codebook_m[j]‖², accumulated component-by-component in
    * index order over the SAME float-cast inputs as [[adcDist]]
    * (query floats; codebook entries double→float→double), so every
    * cell is bit-equal to the HOF formulation's subspace distance.
    */
  private def queryLut(q: Array[Float], model: Model): Seq[Seq[Double]] = {
    val sd = model.subDim
    (0 until model.numSub).map { m =>
      model.codebooks(m).toSeq.map { entry =>
        var s = 0.0
        var i = 0
        while (i < sd) {
          val d = q(m * sd + i).toDouble - entry(i).toFloat.toDouble
          s += d * d
          i += 1
        }
        s
      }
    }
  }

  /** [[adcTopKSplit]] through the LOOKUP-TABLE formulation — the
    * at-scale compute path the adcDist doc reserves: the query batch is
    * bounded (the IvfIndex.train sample convention), so each query's
    * M×ksub table is precomputed ONCE driver-side and broadcast; the
    * per-candidate-row work drops from d multiply-adds + per-row HOF
    * array allocations to M array reads (the native
    * [[org.apache.spark.sql.graft.AdcLookup]] expression). Distances
    * are BIT-EQUAL to [[adcTopKSplit]] (same per-cell and cross-cell
    * accumulation order, same rounding — PqSpec pins full-result
    * equality), so the q119/q153 oracles replay this path verbatim.
    */
  def adcTopKSplitLut(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      model: Model, k: Int): DataFrame =
    lutRank(codes.select(col("vec_id"), col("codes"))
      .crossJoin(broadcast(queryLuts(queries, model))), corpus, queries, k)

  /** Each query's M×ksub table, built once driver-side from the bounded
    * query batch: (query_id, __lut).
    */
  private def queryLuts(queries: DataFrame, model: Model): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select("query_id", "query_vec").collect()
      .map(r => (r.getLong(0), queryLut(r.getSeq[Float](1).toArray, model)))
      .toSeq.toDF("query_id", "__lut")
  }

  /** The LUT paths' shared tail: `pairs` carry (query_id, vec_id, codes,
    * __lut); self-matches drop, the native lookup scores each pair, and
    * [[rankAndRerank]] ranks them.
    */
  private def lutRank(pairs: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame =
    rankAndRerank(pairs.filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(org.apache.spark.sql.graft.AdcLookup.adc(col("codes"), col("__lut")), 6)
          .as("adc_dist")), corpus, queries, k)

  /** Persist the PQ index artifacts: `$path/codebooks` holds
    * (m, j, centroid array<double>) — numSub×ksub rows, and
    * `$path/codes` holds the pure compressed index (vec_id,
    * codes array<int>) — the M-bytes-per-vector table an ADC scan
    * reads INSTEAD of the embeddings; raw vectors are only needed to
    * re-rank winners ([[adcTopKSplit]]). Doubles/ints round-trip
    * parquet bit-exactly, so a loaded index searches identically
    * (PqSpec pins saved == fresh).
    */
  def save(encoded: DataFrame, model: Model, path: String): Unit = {
    val spark = encoded.sparkSession
    import spark.implicits._
    model.codebooks.zipWithIndex.flatMap { case (cb, m) =>
      cb.zipWithIndex.map { case (entry, j) => (m, j, entry.toSeq) }
    }.toSeq.toDF("m", "j", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    encoded.select("vec_id", "codes")
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Load a saved PQ index: (model, codes table). */
  def load(spark: SparkSession, path: String): (Model, DataFrame) = {
    val rows = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getAs[Int]("m"), r.getAs[Int]("j"), r.getAs[Seq[Double]]("centroid").toArray))
    val byM = rows.groupBy(_._1)
    val codebooks = Array.tabulate(byM.size) { m =>
      val entries = byM(m).map(t => t._2 -> t._3).toMap
      Array.tabulate(entries.size)(entries)
    }
    (Model(codebooks), spark.read.parquet(s"$path/codes"))
  }

  /** The float-rounded residual of `emb` against its `cluster`'s IVF
    * centroid: zip_with(x, centroid, (a,b) → float(double(a)−double(b))).
    * Float is the engine's array storage type, and the cast is explicit
    * so the oracle replays it exactly (CAST(xd − cd AS REAL)).
    */
  def residualCol(emb: Column, cluster: Column, ivf: IvfIndex.Model): Column = {
    val centLit = array(ivf.centroids.map(c =>
      array(c.map(x => lit(x.toFloat)): _*)): _*)
    zip_with(emb, element_at(centLit, cluster + 1),
      (a, b) => (a.cast("double") - b.cast("double")).cast("float"))
  }

  /** Residual IVF-PQ search — the faiss default composition: the PQ
    * codes quantize each vector's RESIDUAL against its cell centroid
    * (train with [[trainResiduals]], encode the [[residualCol]]), and
    * at query time the ADC distance compares the QUERY's residual
    * against the probed cell to the candidate's residual codes.
    * Residual PQ beats raw-vector PQ exactly when the coarse cells are
    * tight (residual magnitude ≪ vector magnitude — clustered data,
    * trained centroids); on isotropic data with init-point cells the
    * residuals are LARGER than the vectors and it measurably loses
    * (q126's panel: 0.06 vs 0.26 recall@10) — quantify before
    * composing. Same plan shape as [[adcTopKIvf]]: keyed cell
    * equi-join, 8-byte code scan, exact re-rank of the winners against
    * the raw vectors.
    */
  def adcTopKIvfResidual(indexed: DataFrame, queries: DataFrame,
      ivf: IvfIndex.Model, pq: Model, k: Int, nprobe: Int): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    // Probe selection and per-cell query residuals stay IN-PLAN (the
    // engine's own float arithmetic picks the cells), then the
    // |queries|×nprobe probe rows — driver-bounded by the serving
    // convention — collect once and each becomes a per-(query, cell)
    // M×ksub lookup table, so the per-candidate work in the probed
    // cells is M array reads (bit-equal to the expression path —
    // PqSpec pins full-result equality).
    val probeRows = residualProbes(queries, ivf, nprobe)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        queryLut(r.getSeq[Float](2).toArray, pq)))
    val lutDf = probeRows.toSeq.toDF("query_id", "cluster", "__lut")
    lutRank(indexed.select(col("vec_id"), col("cluster"), col("codes"))
      .join(broadcast(lutDf), Seq("cluster")), indexed, queries, k)
  }

  /** Expression-arithmetic residual IVF-PQ (unbounded query batches /
    * the LUT cross-check reference).
    */
  def adcTopKIvfResidualExpr(indexed: DataFrame, queries: DataFrame,
      ivf: IvfIndex.Model, pq: Model, k: Int, nprobe: Int): DataFrame = {
    val candidates = indexed
      .select(col("vec_id"), col("cluster"), col("codes"))
      .join(residualProbes(queries, ivf, nprobe), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), adcDist(pq).as("adc_dist"))
    rankAndRerank(candidates, indexed, queries, k)
  }

  /** Each probe row carries the query's residual AGAINST THAT CELL as
    * its ADC query vector: (query_id, cluster, query_vec = residual).
    */
  private def residualProbes(queries: DataFrame, ivf: IvfIndex.Model,
      nprobe: Int): DataFrame = {
    queries
      .withColumn("cluster", explode(IvfIndex.nearestCells(col("query_vec"), ivf.centroids, nprobe)))
      .select(col("query_id"), col("cluster"),
        residualCol(col("query_vec"), col("cluster"), ivf).as("query_vec"))
  }

  /** IVF-PQ (the faiss composite index): candidates come from the
    * query's nprobe nearest IVF cells ONLY (a keyed equi-join on the
    * cell id — per query, nprobe/k of the corpus is read), and within
    * the probed cells the scan reads the 8-byte PQ codes, not the raw
    * vectors. Pruning × compression in one plan: at 100 TB the ANN
    * query touches (nprobe/k) of the rows × 1/32 of the bytes, then
    * re-ranks k winners exactly. `indexed` must carry both `cluster`
    * (from [[IvfIndex.assign]]) and `codes` (from [[encode]]).
    */
  def adcTopKIvf(indexed: DataFrame, queries: DataFrame,
      ivf: IvfIndex.Model, pq: Model, k: Int, nprobe: Int): DataFrame =
    // Raw-vector PQ: the lookup table depends on the query alone (not
    // the probed cell), so one M×ksub table per query broadcasts next
    // to the in-plan probe join — per-candidate work is M array reads.
    lutRank(indexed.select(col("vec_id"), col("cluster"), col("codes"))
      .join(ivfProbes(queries, ivf, nprobe), Seq("cluster"))
      .join(broadcast(queryLuts(queries, pq)), Seq("query_id")), indexed, queries, k)

  /** Expression-arithmetic IVF-PQ (unbounded query batches / the LUT
    * cross-check reference).
    */
  def adcTopKIvfExpr(indexed: DataFrame, queries: DataFrame,
      ivf: IvfIndex.Model, pq: Model, k: Int, nprobe: Int): DataFrame = {
    val candidates = indexed
      .select(col("vec_id"), col("cluster"), col("codes"))
      .join(ivfProbes(queries, ivf, nprobe), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), adcDist(pq).as("adc_dist"))
    rankAndRerank(candidates, indexed, queries, k)
  }

  private def ivfProbes(queries: DataFrame, ivf: IvfIndex.Model,
      nprobe: Int): DataFrame = {
    // No broadcast hint: AQE sizes the probe side at runtime (the
    // IvfIndex.annTopK convention — a huge query batch shuffles on
    // `cluster` instead of OOMing the driver).
    queries.select(col("query_id"), col("query_vec"),
      explode(IvfIndex.nearestCells(col("query_vec"), ivf.centroids, nprobe)).as("cluster"))
  }
}
