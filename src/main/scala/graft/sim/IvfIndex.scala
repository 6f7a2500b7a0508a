package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.VectorExpressions.{dotF32, normF32}

/** IVF-style ANN: partition the vector space with k-means centroids,
  * assign every vector to its nearest centroid (the "inverted file"),
  * probe only the query's nprobe nearest cells, exact re-rank inside.
  *
  * Scale shape: training runs on a bounded sample (driver-side Lloyd
  * iterations over ≤ sampleN vectors — at 100 TB you train on a sample,
  * never the corpus); assignment is a narrow per-row argmin over k dot
  * products (codegen'd DotF32 against broadcast centroid literals); the
  * probe is a cluster-id filter pushed at the scan, so a query touches
  * nprobe/k of the data.
  *
  * Deterministic end to end: init takes the first k vectors by id, Lloyd
  * iterations are fixed-count, ties in argmin resolve to the first index.
  */
object IvfIndex {
  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  /** Driver-side Lloyd k-means over a deterministic sample. */
  def train(embeddings: DataFrame, k: Int, iters: Int = 10, sampleN: Int = 2048): Model = {
    val sample: Array[Array[Double]] = embeddings
      .orderBy("vec_id").limit(sampleN)
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(sample.length >= k, s"need at least $k sample vectors, got ${sample.length}")

    var centroids = sample.take(k).map(_.clone())
    val dim = centroids(0).length
    (1 to iters).foreach { _ =>
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearest(centroids, v)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c) // empty cell keeps its centroid
        else sums(c).map(_ / counts(c))
      }
    }
    Model(centroids)
  }

  /** First-k-by-vec_id init — exactly [[train]]'s seed set, factored out
    * so the distributed trainer can share it (the equality spec pins
    * trainDistributed(initFirst, …) == train(…) on a single-bucket
    * corpus). TakeOrderedAndProject + a k×dim collect — bounded.
    */
  def initFirst(embeddings: DataFrame, k: Int): Model = {
    val rows = embeddings.orderBy("vec_id").limit(k).select("embedding").collect()
    require(rows.length >= k, s"need at least $k vectors, got ${rows.length}")
    Model(rows.map(_.getSeq[Float](0).toArray.map(_.toDouble)))
  }

  /** Deterministic HASH-ORDERED init: the k vectors with the smallest
    * (affineHash(vec_id), vec_id) keys. First-k init is biased when
    * vec_id correlates with ingestion time or source (the first k rows
    * of a 100 TB corpus are one crawl shard, not a spread); the hash
    * gives an unbiased pseudo-random seed set that is still a pure
    * function of the id space — reproducible across runs, engines and
    * repartitionings, and replayable in the DuckDB oracle. The hash is
    * the MinHash-family affine permutation (a·x + b) mod 2³¹−1, NOT
    * asciiPolyHash of the decimal string: the polynomial hash never
    * wraps the modulus for short strings, so over ids 0…1e9 it is
    * ORDER-PRESERVING — "hash order" would collapse back to first-k,
    * the very bias this init removes (IvfSpec pins the difference).
    * x reduces mod p before the multiply so products stay < 2⁶² for
    * any Long id. Centroid index = rank in hash order.
    */
  def initHash(embeddings: DataFrame, k: Int): Model = {
    val p = graft.functions.PortableHash.MinHashP
    val (a, b) = graft.functions.PortableHash.minHashCoeffs(0)
    val h = (pmod(col("vec_id"), lit(p)) * lit(a) + lit(b)) % lit(p)
    val rows = embeddings
      .select(col("vec_id"), h.as("__h"), col("embedding"))
      .orderBy(col("__h"), col("vec_id")).limit(k) // TakeOrderedAndProject
      .select("embedding").collect()
    require(rows.length >= k, s"need at least $k vectors, got ${rows.length}")
    Model(rows.map(_.getSeq[Float](0).toArray.map(_.toDouble)))
  }

  /** FULL-CORPUS Lloyd training as Spark aggregations — the scale path
    * past [[train]]'s bounded 2048-row driver sample: at faiss-scale k
    * (occupancy rule ⌈n/targetCell⌉ — thousands of cells) a 2048-point
    * sample cannot populate the codebook, so each iteration must see the
    * corpus. Per round: assign via the native
    * [[org.apache.spark.sql.graft.NearestCentroid]] (one codegen-adjacent
    * node, k×dim multiply-adds/row), then per-cell component sums, then
    * a k×dim-bounded collect of the new centroids — round cost is one
    * corpus pass + one k-row collect, INDEPENDENT of corpus size beyond
    * the linear scan (no growing state, no driver-side data).
    *
    * Bit-deterministic under any partitioning, hence oracle-replayable:
    * double sums are order-sensitive, so the per-cell sum is the repo's
    * TWO-PHASE ordered fold (q137/q142's prefix-sum convention) — phase
    * 1 folds each (cell, 512-id bucket)'s vectors in vec_id order
    * (collect_list → array_sort → aggregate/zip_with, ≤512 rows in
    * memory per group), phase 2 folds the bucket partials in bucket
    * order (|corpus|/512 partials spread over k cells — metadata scale).
    * DuckDB replays both folds with list_sum(list(x ORDER BY …)).
    * A production variant that doesn't need cross-engine bit equality
    * can drop the ordered fold for a plain posexplode + groupBy(cell,
    * component).sum — map-side partial aggregation, shuffle k×dim rows
    * per partition instead of the corpus — at the cost of
    * partitioning-dependent last-ulp drift.
    *
    * Empty cells keep their previous centroid ([[train]]'s rule). Note
    * the assignment uses clusterCol's float-cast score form (the
    * production index path), where [[train]]'s sample loop uses full
    * double distances — identical argmins on any data without
    * sub-float-ulp centroid/point coincidences (the equality spec pins
    * the two trainers bit-equal on the test corpus).
    */
  /** `assigner` picks the per-round assignment operator: the default
    * flat [[assign]] pays n·k·dim multiply-adds per round — fine at
    * small k, THE wall at occupancy-scaled k (⌈n/targetCell⌉ —
    * thousands of cells at real scale, the SCALING.md crossover the
    * repo already measured for SemDeDup). Pass
    * [[assignHierarchicalExact]] to route through ~√k coarse cells
    * first: per-row work drops to (√k + nProbe·√k)·dim. With
    * exhaustive routing (nProbe = coarseK) the argmin — hence the
    * trained model — is BIT-EQUAL to the flat trainer (IvfSpec pins
    * it); production approximate routing (nProbe < coarseK) trades
    * boundary-vector assignments for the sublinear-in-k round cost,
    * which moves centroids the way faiss's coarse-quantized training
    * does — acceptable because Lloyd is itself a heuristic descent.
    */
  def trainDistributed(embeddings: DataFrame, init: Model, iters: Int,
      bucketSize: Long = 512L,
      assigner: (DataFrame, Model) => DataFrame = assign): Model = {
    var model = init
    val dim = init.centroids(0).length
    (1 to iters).foreach { _ =>
      val zero = array_repeat(lit(0.0), lit(dim))
      val assigned = assigner(embeddings, model).select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        col("cluster").as("cell"),
        expr(s"vec_id div $bucketSize").as("bucket"))
      val phase1 = assigned.groupBy("cell", "bucket")
        .agg(count(lit(1)).as("cnt"),
          aggregate(array_sort(collect_list(struct(col("vec_id"), col("v")))), zero,
            (acc, s) => zip_with(acc, s.getField("v"), (a, b) => a + b)).as("psum"))
      val phase2 = phase1.groupBy("cell")
        .agg(sum("cnt").as("cnt"),
          aggregate(array_sort(collect_list(struct(col("bucket"), col("psum")))), zero,
            (acc, s) => zip_with(acc, s.getField("psum"), (a, b) => a + b)).as("ssum"))
      val rows = phase2.collect() // ≤ k rows of k×dim — bounded
      val next = model.centroids.map(_.clone())
      rows.foreach { r =>
        val c = r.getInt(0)
        val n = r.getLong(1)
        next(c) = r.getSeq[Double](2).map(_ / n).toArray
      }
      model = Model(next)
    }
    model
  }

  private[sim] def nearestCentroidIdx(centroids: Array[Array[Double]], v: Array[Double]): Int =
    nearest(centroids, v)

  private def nearest(centroids: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0
      var i = 0
      val ctr = centroids(c)
      while (i < v.length) { val t = v(i) - ctr(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Cluster assignment: squared distance to centroid c is
    * |e|² - 2·e·c + |c|²; |e|² is constant across the argmin so only
    * -2·e·c + |c|² matters. First-index tie-break.
    *
    * Evaluated by the native
    * [[org.apache.spark.sql.graft.NearestCentroid]] expression — one
    * node doing k × dim primitive multiply-adds. The previous column
    * formulation (array_position(array_min) over k score columns with
    * k embedded array literals) is its bit-exact twin (spec-enforced in
    * IvfSpec) but builds a k-wide expression tree that dominates the
    * scan once k is occupancy-scaled (⌈n/targetCell⌉ — thousands at
    * real scale).
    */
  def clusterCol(emb: Column, model: Model): Column =
    org.apache.spark.sql.graft.NearestCentroid.nearest(emb, model.centroids)

  /** The column-arithmetic twin of [[clusterCol]], kept for the
    * equivalence spec: array_position of the min of k per-centroid
    * score columns.
    */
  private[graft] def clusterColTwin(emb: Column, model: Model): Column = {
    val scores: Seq[Column] = model.centroids.toSeq.map { ctr =>
      val cLit = array(ctr.map(x => lit(x.toFloat)): _*)
      val normSq = ctr.map(x => x * x).sum
      lit(normSq) - lit(2.0) * dotF32(emb, cLit)
    }
    val arr = array(scores: _*)
    (array_position(arr, array_min(arr)) - 1).cast("int")
  }

  /** Embeddings with their inverted-file cell id. At scale this is the
    * materialized index table (partition/bucket by `cluster`).
    */
  def assign(embeddings: DataFrame, model: Model): DataFrame =
    embeddings.withColumn("cluster", clusterCol(col("embedding"), model))

  /** Hierarchical (coarse-quantizer) assignment for LARGE k — the
    * faiss-style IVF-on-IVF routing SCALING.md names as the step past
    * the flat argmin's O(n·k): route each row to its `nProbe` nearest
    * of ~√k coarse centroids (one small literal score array, the
    * annTopK probe pattern), then argmin over only those coarse cells'
    * fine centroids ([[org.apache.spark.sql.graft.NearestCentroidDyn]]
    * reading each group's matrix from a broadcast mapping row), keeping
    * the best (score, id) across probes. Per-row work drops from k·dim
    * to (√k + nProbe·k/√k)·dim multiply-adds.
    *
    * APPROXIMATE near coarse boundaries: a vector may probe no coarse
    * cell containing its global argmin (with coarseK = 1, or nProbe ≥
    * coarseK, routing is exhaustive and the result is exact — the
    * equivalence spec pins this). Higher nProbe buys agreement
    * linearly in work; isotropic data is the worst case, clustered
    * embeddings route nearly perfectly. For SemDeDup-style clustering
    * a boundary vector landing one cell over changes the heuristic
    * partition, not correctness; exact-assignment consumers (the
    * q34/q41 oracles) keep the flat [[assign]].
    *
    * The coarse codebook is deterministic: Lloyd over the fine
    * centroids themselves, init = first coarseK, fixed 5 iterations.
    * Requires a unique row key column (`keyCol`) to reduce the probe
    * fan-out back to one row per input row.
    */
  def assignHierarchical(embeddings: DataFrame, model: Model,
      coarseK0: Int = 0, nProbe: Int = 4, keyCol: String = "vec_id"): DataFrame = {
    val pts = model.centroids
    val k = pts.length
    val dim = pts(0).length
    val coarseK = math.min(k, if (coarseK0 > 0) coarseK0
      else math.max(1, math.round(math.sqrt(k.toDouble)).toInt))
    val probes = math.min(coarseK, nProbe)
    var coarse = pts.take(coarseK).map(_.clone())
    (1 to 5).foreach { _ =>
      val sums = Array.fill(coarseK, dim)(0.0)
      val counts = new Array[Long](coarseK)
      pts.foreach { v =>
        val c = nearest(coarse, v)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      coarse = Array.tabulate(coarseK) { c =>
        if (counts(c) == 0) coarse(c) else sums(c).map(_ / counts(c))
      }
    }
    val groups: Seq[(Int, Array[Int])] = pts.indices
      .groupBy(i => nearest(coarse, pts(i)))
      .map { case (c, is) => (c, is.toArray) }.toSeq.sortBy(_._1)
    val spark = embeddings.sparkSession
    import spark.implicits._
    // __norms = |c|² over the ORIGINAL doubles (NearestCentroid's normSq
    // convention) so the routed argmin scores are bit-equal to the flat
    // expression's, not last-ulp off through a float-cast norm.
    val mapping = groups.map { case (cid, fineIds) =>
      (cid, fineIds.toSeq.map(i => pts(i).toSeq.map(_.toFloat)), fineIds.toSeq,
        fineIds.toSeq.map(i => pts(i).map(x => x * x).sum))
    }.toDF("__coarse", "__matrix", "__ids", "__norms")
    // coarseK is ~√k, so the probe's literal tree stays small
    val cand = embeddings
      .withColumn("__coarse", explode(nearestCells(col("embedding"), coarse, probes)))
      .join(broadcast(mapping), Seq("__coarse"))
      .withColumn("__cand", org.apache.spark.sql.graft.NearestCentroidDyn.nearest(
        col("embedding"), col("__matrix"), col("__ids"), col("__norms")))
      .groupBy(col(keyCol))
      .agg(min(col("__cand")).as("__best")) // (score, id) lexicographic = flat tie-break
      .select(col(keyCol), col("__best.id").as("cluster"))
    embeddings.join(cand, Seq(keyCol), "left")
  }

  /** [[assignHierarchical]] pinned to EXHAUSTIVE routing (probe every
    * coarse cell): the argmin is exact — bit-equal to [[assign]] — but
    * the plan keeps the hierarchical shape (coarse scores + per-group
    * dynamic argmin), so it drops into [[trainDistributed]]'s
    * `assigner` slot as the oracle-replayable configuration; the
    * production variant is `assignHierarchical(_, _, …)` partially
    * applied at nProbe < coarseK.
    */
  def assignHierarchicalExact(embeddings: DataFrame, model: Model): DataFrame = {
    val coarseK = math.max(1, math.round(math.sqrt(model.k.toDouble)).toInt)
    assignHierarchical(embeddings, model, coarseK0 = coarseK, nProbe = coarseK)
  }

  /** Persist the index as parquet ARTIFACTS — the missing half of the
    * index lifecycle (build → SAVE → serve → maintain): `$path/centroids`
    * holds (cell, centroid array<double>) — k rows, and `$path/codes`
    * holds the assigned vector table written PARTITIONED BY cluster, so
    * a probe of nprobe cells becomes a partition-pruned scan — the
    * on-disk analogue of the in-plan cluster equi-join (with a broadcast
    * probe side, dynamic partition pruning skips every unprobed cell's
    * files). Round-trips bit-exactly: centroids stay parquet DOUBLE,
    * embeddings stay FLOAT, so a loaded index searches identically to
    * the fresh one (IvfSpec pins saved == fresh).
    */
  def save(assigned: DataFrame, model: Model, path: String): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    model.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(s"$path/codes")
  }

  /** Incremental APPEND to a persisted index — the maintenance path
    * BETWEEN refreshes (daily ingest vs weekly retrain): assign the new
    * vectors under the SAVED, FROZEN centroids and append their rows to
    * the partitioned codes table. No retrain, no rewrite of existing
    * codes — the write touches only the appended rows' cell partitions,
    * so maintenance cost is O(delta · k·dim assignment + delta IO),
    * independent of index size. Searches over the reloaded index see
    * base ∪ delta exactly as if the union had been assigned fresh under
    * the same model (frozen-centroid semantics — cell ids keep meaning
    * their epoch's centroids, the refreshArtifact invariant), because
    * [[assign]] is a pure per-row function of (embedding, centroids).
    *
    * Atomicity: the append goes through Spark's FileCommitProtocol
    * (task files stage under `_temporary`, visible only at job commit),
    * so a crashed append leaves no partial rows on HDFS/ABFS/local —
    * the same guarantee every sink in the repo leans on; for S3A see
    * ArtifactIO's caveat. Accumulated appends skew cell occupancy over
    * time; q192's drift audit decides when the next full refresh
    * ([[refreshArtifact]]) is due.
    *
    * Returns the frozen model the delta was assigned under.
    */
  def appendToArtifact(spark: SparkSession, path: String, newVectors: DataFrame): Model = {
    val (model, _) = load(spark, path)
    assign(newVectors, model)
      .write.mode("append").partitionBy("cluster").parquet(s"$path/codes")
    model
  }

  /** Load a saved index: (model, codes). The codes DataFrame is the
    * partitioned on-disk table — feed it straight to [[annTopK]].
    */
  def load(spark: SparkSession, path: String): (Model, DataFrame) = {
    val rows = spark.read.parquet(s"$path/centroids").collect()
    val byCell = rows.map(r => r.getAs[Int]("cell") -> r.getAs[Seq[Double]]("centroid").toArray).toMap
    val model = Model(Array.tabulate(byCell.size)(byCell))
    (model, spark.read.parquet(s"$path/codes"))
  }

  /** Versioned CENTROID REFRESH for a persisted index — the last step
    * of the artifact lifecycle (build → save → serve/maintain →
    * REFRESH): retrain on the current corpus with [[trainDistributed]],
    * [[save]] model + re-assigned codes under `$base/v<next>`, then
    * atomically re-point `$base/CURRENT` (write-temp + atomic move).
    * Never in place: codes encode cell ids against their epoch's
    * centroids, so readers of v<n> stay correct mid-refresh and a
    * crashed refresh leaves CURRENT untouched (the cdcCompact
    * version-floor reasoning). Old versions are retired by deleting
    * their directories once readers drain — deliberately not automated
    * here.
    */
  /** All artifact control-plane IO (listing, the CURRENT pointer) goes
    * through the Hadoop FileSystem API ([[graft.core.ArtifactIO]]) —
    * at 100 TB these artifacts live on an object store, where
    * `java.io.File` sees nothing. Atomicity: version directories become
    * visible ONLY via the CURRENT pointer (a crashed refresh leaves an
    * orphan v<n> no reader selects), and the pointer update is
    * write-temp + FileContext OVERWRITE rename — atomic on
    * HDFS/ABFS/local; see ArtifactIO's doc for the S3A caveat.
    */
  /** `assigner` reaches both the per-round training assignment and the
    * saved codes (default flat; pass [[assignHierarchicalExact]] — or
    * the approximate production router — when the refreshed index runs
    * at occupancy-scaled k, so a refresh never pays the flat n·k wall).
    */
  def refreshArtifact(base: String, embeddings: DataFrame, k: Int, iters: Int,
      init: (DataFrame, Int) => Model = initHash,
      assigner: (DataFrame, Model) => DataFrame = assign): Model = {
    val spark = embeddings.sparkSession
    graft.core.ArtifactIO.mkdirs(spark, base)
    val next = 1 + graft.core.ArtifactIO.list(spark, base)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
      .foldLeft(0L)(math.max)
    val model = trainDistributed(embeddings, init(embeddings, k), iters, assigner = assigner)
    save(assigner(embeddings, model), model, s"$base/v$next")
    graft.core.ArtifactIO.writeAtomicString(spark, s"$base/CURRENT", s"v$next")
    model
  }

  /** Load whatever version `CURRENT` points at. */
  def loadCurrent(spark: SparkSession, base: String): (Model, DataFrame) = {
    val v = graft.core.ArtifactIO.readString(spark, s"$base/CURRENT").trim
    load(spark, s"$base/$v")
  }

  /** Recall-targeted nprobe selection — the probing analogue of
    * Similarity.srpParams' occupancy rule: instead of hand-picking
    * nprobe, measure recall@k against exact kNN on a SAMPLED query
    * panel (recall evaluation is always a sampled audit — q112/q126's
    * convention) and take the smallest power-of-two probe count meeting
    * the target. Terminates with recall 1.0 at nprobe = k, where
    * probing every cell makes the candidate set the full corpus.
    * Deterministic: the panel, the index, and every per-step search are
    * deterministic, so the tuned nprobe is reproducible. The panel
    * should be small (tens of queries) — each step costs one ANN run
    * over the panel plus nothing corpus-sized beyond the probe join.
    *
    * Returns (nprobe, measured panel recall at that nprobe).
    */
  def tuneNprobe(embeddings: DataFrame, model: Model, queries: DataFrame,
      k: Int, targetRecall: Double): (Int, Double) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    val assigned = assign(embeddings, model).persist()
    try {
      val exact = Similarity.knnJoinAgg(embeddings, queries, k)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def recallAt(np: Int): Double = {
        val got = annTopK(assigned, queries, model, k, np)
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        exact.map { case (qid, want) =>
          (got.getOrElse(qid, Set.empty) & want).size.toDouble / want.size
        }.sum / exact.size
      }
      val candidates = (Iterator.iterate(1)(_ * 2).takeWhile(_ < model.k).toSeq :+ model.k)
      candidates.iterator
        .map(np => (np, recallAt(np)))
        .find { case (np, r) => r >= targetRecall || np == model.k }
        .get
    } finally assigned.unpersist()
  }

  /** The `nprobe` cells nearest `vec` among `centroids`, nearest first
    * (by |c|² − 2·v·c, ties by cell id), as an array of cell ids — the
    * probe every IVF lookup routes through.
    */
  def nearestCells(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column = {
    val scores = centroids.toSeq.zipWithIndex.map { case (ctr, j) =>
      val cLit = array(ctr.map(x => lit(x.toFloat)): _*)
      struct((lit(ctr.map(x => x * x).sum) - lit(2.0) * dotF32(vec, cLit)).as("s"), lit(j).as("c"))
    }
    transform(slice(array_sort(array(scores: _*)), 1, nprobe), _.getField("c"))
  }

  /** Top-k neighbors for the query vectors, probing each query's nprobe
    * nearest cells only, exact cosine re-rank within (bounded-heap
    * top-k aggregate). The candidate join is (cluster ⋈ cluster) against
    * the broadcast probe table — per query, only nprobe cells are read.
    */
  def annTopK(assigned: DataFrame, queries: DataFrame, model: Model,
      k: Int, nprobe: Int): DataFrame = {
    val probes = queries.select(col("query_id"), col("query_vec"),
      explode(nearestCells(col("query_vec"), model.centroids, nprobe)).as("cluster"),
      normF32(col("query_vec")).as("__qn"))
    // No broadcast hint: AQE picks broadcast-vs-shuffle from the probe
    // side's RUNTIME size — a huge query batch shuffles on `cluster`
    // instead of OOMing the driver.
    Similarity.cosineTopK(assigned.withColumn("__n", normF32(col("embedding")))
      .join(probes, Seq("cluster")), k)
  }
}
