package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.sim.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.core.Tables(spark, sf("sf0.001"), "embeddings")

  test("cosine: identical vectors score 1, orthogonal score 0") {
    val df = Seq((Seq(1f, 0f), Seq(1f, 0f), Seq(0f, 1f))).toDF("a", "b", "c")
    val r = df.select(
      round(VectorOps.cosine(col("a"), col("b")), 9).as("same"),
      round(VectorOps.cosine(col("a"), col("c")), 9).as("orth")).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("knnJoin excludes self and returns exactly k neighbors per query") {
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val r = Similarity.knnJoin(emb, q, 5)
    assert(r.count() == 15)
    assert(r.filter(col("vec_id") === col("query_id")).count() == 0)
  }

  test("ANN LSH top-k has decent recall vs brute force") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = Similarity.knnJoin(emb, q, 10).select("vec_id").as[Long].collect().toSet
    val ann = Similarity.annLshTopK(emb, q, 10).select("vec_id").as[Long].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low; ann=$ann exact=$exact")
  }

  test("ANN LSH recall >= 0.9 on clustered embeddings (the regime LSH serves)") {
    // The parquet test embeddings are isotropic noise, where any sign-bit
    // scheme's recall is bounded by bit-agreement concentration (measured
    // 0.4-0.8 at these params) — real embedding corpora are clustered,
    // which is the regime LSH exists for. Plant that regime: 20 tight
    // clusters; a query's true top-10 are its cluster mates at cos≈0.98,
    // whose buckets sit within the Hamming-2 probe w.p. ~0.998 each.
    val rng = new scala.util.Random(19)
    val centers = Array.fill(20, 64)(rng.nextGaussian().toFloat)
    val pts = (0 until 20).flatMap { c =>
      (0 until 30).map { i =>
        (c * 30L + i, centers(c).map(x => x + 0.1f * rng.nextGaussian().toFloat).toSeq)
      }
    }
    val df = pts.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = Similarity.knnJoin(df, q, 10).select("vec_id").as[Long].collect().toSet
    val ann = Similarity.annLshTopK(df, q, 10).select("vec_id").as[Long].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"clustered recall $recall < 0.9; ann=$ann exact=$exact")
  }

  test("broadcastIfSmall gates the hint on the optimizer size estimate") {
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      Similarity.broadcastIfSmall(df).queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    val q = emb.select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
      assert(!hinted(q), "a probe set above the threshold must NOT be force-broadcast")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      assert(hinted(q), "a small probe set should keep the broadcast fast path")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ANN probe join above the broadcast threshold stays a keyed equi-join (no BNLJ/cartesian)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    try {
      // ALL 500 vectors as queries — far beyond 1KB, so a forced
      // broadcast would be the driver-OOM shape at real query scale.
      val q = emb.select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val r = Similarity.annLshTopK(emb, q, 5)
      assert(r.count() > 0)
      def expand(p: org.apache.spark.sql.execution.SparkPlan): String = {
        val kids = p match {
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(qs.plan)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case _ => p.children
        }
        p.nodeName + "\n" + kids.map(expand).mkString("\n")
      }
      val plan = expand(r.queryExecution.executedPlan)
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"candidate generation must stay keyed:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"an over-threshold probe side must shuffle, not broadcast:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("cosineNearDupPairs emits each unordered pair once (a < b)") {
    val pairs = Similarity.cosineNearDupPairs(emb, 0.4)
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.distinct.length == pairs.length)
  }

  test("blocked near-dup pairs == brute-force twin (every block size)") {
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id_a", "vec_id_b", "cosine_sim").as[(Long, Long, Double)].collect().sorted.toSeq
    val brute = key(Oracles.cosineNearDupPairsBrute(emb, 0.35))
    assert(brute.nonEmpty, "twin test needs a non-empty pair set")
    for (blocks <- Seq(1, 3, 16))
      assert(key(Similarity.cosineNearDupPairs(emb, 0.35, numBlocks = blocks)) == brute,
        s"blocked ($blocks blocks) diverged from brute force")
  }

  test("srpNearDupPairs finds exactly the planted high-sim pairs") {
    // Planted regime: 40 random unit-ish base vectors plus 10 near-copies
    // (tiny noise => cosine ~0.99); random 64-dim pairs sit near 0. At
    // tau=0.95 the SRP bands' miss probability is ~1e-9 per true pair.
    val rng = new scala.util.Random(7)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = (0L until 40L).map(i => (i, vec()))
    val dups = (0L until 10L).map { i =>
      (100L + i, base(i.toInt)._2.map(x => x + 0.02f * rng.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id_a", "vec_id_b", "cosine_sim").as[(Long, Long, Double)].collect().sorted.toSeq
    val brute = key(Oracles.cosineNearDupPairsBrute(df, 0.95))
    assert(brute.size >= 10, s"expected the 10 planted pairs, brute found ${brute.size}")
    assert(key(Similarity.srpNearDupPairs(df, 0.95)) == brute)
  }

  test("maxBucket ceiling binds nothing below it, drops saturated buckets above it") {
    // Ceiling semantics (q98's scale guard, round-13): with a cap above
    // every bucket's occupancy the output is bit-identical to uncapped;
    // with a cap below a saturated bucket's occupancy, that bucket's
    // candidates vanish — UNLESS the pair also collides in a sub-cap
    // bucket of another band (twins collide in all bands, so dropping
    // one band's bucket never loses them while any other stays live).
    val rng = new scala.util.Random(21)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = (0L until 40L).map(i => (i, vec()))
    val dups = (0L until 10L).map { i =>
      (100L + i, base(i.toInt)._2.map(x => x + 0.02f * rng.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id_a", "vec_id_b", "cosine_sim").as[(Long, Long, Double)].collect().sorted.toSeq
    val uncapped = key(Similarity.srpNearDupPairs(df, 0.95))
    assert(uncapped.size >= 10)
    // 50 vectors total: occupancy can never exceed 50, so cap=50 is a
    // no-op by construction — identical output.
    assert(key(Similarity.srpNearDupPairs(df, 0.95, maxBucket = 50)) == uncapped)
    // Twins collide in EVERY band; at cap=2 only buckets holding exactly
    // a twin pair (occupancy 2) survive, so the 10 planted pairs are
    // still found — saturated buckets (organic collisions beyond the
    // pair) are dropped without losing them.
    assert(key(Similarity.srpNearDupPairs(df, 0.95, maxBucket = 2)) == uncapped)
    // cap=1 degenerates every bucket (a pair needs occupancy >= 2):
    // the ceiling provably reaches the candidate stage.
    assert(Similarity.srpNearDupPairs(df, 0.95, maxBucket = 1).isEmpty)
  }

  test("q98's ceiling clears the gate fixture's max occupancy with headroom") {
    // The catalog entry's cap (128) must bind NOTHING at gate scales or
    // the hash would shift; this pins the invariant on the spec fixture
    // the same way SCALING.md's round-13 "Cliff #2 CLOSED" section
    // measured it on the sf dirs
    // (max occupancy 14/12/42 at sf0.001/0.01/0.1).
    val (bands, bits) = Similarity.srpParams(graft.queries.QueriesSim.Q98DesignN,
      graft.queries.QueriesSim.Q98Tau)
    val planes = Similarity.hyperplanes(bands * bits, 64)
    val maxOcc = emb.select(
        org.apache.spark.sql.functions.posexplode(
          org.apache.spark.sql.graft.SrpBandSigs.sigs($"embedding", planes, bits))
          .as(Seq("band", "sig")))
      .groupBy("band", "sig").count()
      .agg(org.apache.spark.sql.functions.max("count")).as[Long].head()
    assert(maxOcc * 2 <= graft.queries.QueriesSim.Q98MaxBucket,
      s"gate fixture max occupancy $maxOcc too close to the cap ${graft.queries.QueriesSim.Q98MaxBucket}")
  }

  test("srpParams pins bucket occupancy and true-pair recall as n grows") {
    for (n <- Seq(1000L, 10000L, 100000L, 10000000L, 1000000000L); tau <- Seq(0.9, 0.95, 0.99)) {
      val (bands, bits) = Similarity.srpParams(n, tau)
      // occupancy bound: 2^bits buckets keep expected n/2^bits ≤ 2× target
      assert(n.toDouble / math.pow(2, bits) <= 8.0 + 1e-9,
        s"occupancy unbounded at n=$n: bits=$bits")
      // recall bound: a true pair at tau is missed with prob (1-p^bits)^bands
      val p = 1.0 - math.acos(tau) / math.Pi
      val miss = math.pow(1.0 - math.pow(p, bits), bands)
      assert(miss <= 1.1e-4, s"miss prob $miss too high at n=$n tau=$tau ($bands×$bits)")
    }
    // parameters grow with n (log-scale), never shrink
    val (b1, r1) = Similarity.srpParams(4000, 0.95)
    val (b2, r2) = Similarity.srpParams(32000, 0.95)
    assert(r2 > r1 && b2 >= b1, s"params must scale with n: ($b1,$r1) vs ($b2,$r2)")
  }

  test("srpParams fails loudly (with the tau floor) outside the banding-efficient regime") {
    // tau just above the 0.8 floor at web scale: the L formula demands
    // tens of thousands of bands — a multi-million-row broadcast plane
    // table if built. The production entry point must refuse with the
    // practical tau floor, not OOM.
    val e = intercept[IllegalArgumentException] {
      Similarity.srpParams(1000000000L, 0.81)
    }
    assert(e.getMessage.contains("tau >="), e.getMessage)
    assert(e.getMessage.contains("prefix-filter"), e.getMessage)
    // Every accepted parameter pair stays under the cap by construction.
    for (n <- Seq(1000L, 1000000L, 1000000000L); tau <- Seq(0.92, 0.95, 0.99)) {
      val (bands, _) = Similarity.srpParams(n, tau)
      assert(bands <= Similarity.MaxSrpBands)
    }
  }

  test("srpNearDupPairsAuto == brute force on the planted regime") {
    val rng = new scala.util.Random(13)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = (0L until 40L).map(i => (i, vec()))
    val dups = (0L until 10L).map { i =>
      (100L + i, base(i.toInt)._2.map(x => x + 0.02f * rng.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id_a", "vec_id_b", "cosine_sim").as[(Long, Long, Double)].collect().sorted.toSeq
    val brute = key(Oracles.cosineNearDupPairsBrute(df, 0.95))
    assert(brute.size >= 10)
    assert(key(Similarity.srpNearDupPairsAuto(df, 0.95)) == brute)
  }

  test("q108 semantic dedup == the brute-force SemDeDup rule per cell") {
    // Recompute the keep/drop decision in plain Scala: a vector is
    // dropped iff a lower-id cell-mate has round(cosine, 6) >= 0.45,
    // and its kept_by is the SMALLEST such exemplar.
    val model = graft.sim.IvfIndex.train(emb, k = 16, iters = 0)
    val assigned = graft.sim.IvfIndex.assign(emb, model)
      .select("vec_id", "cluster", "embedding")
      .as[(Long, Int, Seq[Float])].collect().sortBy(_._1)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = (for {
      (idB, cB, vB) <- assigned
      hit <- assigned.iterator
        .filter { case (idA, cA, _) => cA == cB && idA < idB }
        .map { case (idA, _, vA) => (idA, cos(vA, vB)) }
        .filter(_._2 >= 0.45)
        .reduceOption((x, y) => if (x._1 <= y._1) x else y)
    } yield (idB, hit._1, hit._2)).toSeq.sortBy(_._1)
    val got = graft.queries.QueriesSim.q108_semantic_dedup(spark, sf("sf0.001"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(expected.nonEmpty, "fixture must contain at least one in-cell near-dup")
    assert(got == expected)
  }

  test("semanticDedup (occupancy-scaled k) == the brute rule at its derived k") {
    val rng = new scala.util.Random(29)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = (0L until 48L).map(i => (i, vec().toSeq))
    val dups = (0L until 12L).map { i =>
      (100L + i, base(i.toInt)._2.map(x => x + 0.015f * rng.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val n = base.size + dups.size
    val targetCell = 8
    val k = math.ceil(n.toDouble / targetCell).toInt // what semanticDedup derives
    val model = graft.sim.IvfIndex.train(df, k = k, iters = 0)
    val assigned = graft.sim.IvfIndex.assign(df, model)
      .select("vec_id", "cluster", "embedding")
      .as[(Long, Int, Seq[Float])].collect().sortBy(_._1)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = (for {
      (idB, cB, vB) <- assigned
      hit <- assigned.iterator
        .filter { case (idA, cA, _) => cA == cB && idA < idB }
        .map { case (idA, _, vA) => (idA, cos(vA, vB)) }
        .filter(_._2 >= 0.9)
        .reduceOption((x, y) => if (x._1 <= y._1) x else y)
    } yield (idB, hit._1, hit._2)).toSeq.sortBy(_._1)
    val got = graft.sim.Similarity.semanticDedup(df, tau = 0.9, targetCell = targetCell)
      .orderBy("vec_id").as[(Long, Long, Double)].collect().toSeq
    assert(expected.size >= 10, s"planted dups must mostly share cells (got ${expected.size})")
    assert(got == expected)
  }

  test("semanticDedupTrained: routed == flat on trained cells; trained partition finds the planted dups") {
    val df = SparkSpec.plantedClusters(spark, n = 1000, c = 20, dim = 16)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id", "kept_by", "cosine_sim")
        .as[(Long, Long, Double)].collect().toSeq.sorted
    // same TRAINED model, two assignment strategies: on separated
    // clusters the routed path must reproduce the flat path exactly
    // (the semanticDedupK hierSwitch argument, now over Lloyd-moved
    // centroids)
    val flat = rows(Similarity.semanticDedupTrained(df, tau = 0.99, k = 20, iters = 2))
    val routed = rows(Similarity.semanticDedupTrained(df, tau = 0.99, k = 20, iters = 2,
      hierSwitchK = 8))
    assert(flat == routed, "routed trained dedup must match flat on separated clusters")
    assert(flat.nonEmpty, "planted near-dups must be found")
    // the trained partition must find essentially the same DROPPED set
    // as the init-codebook path — both recover the planted clusters;
    // only genuine boundary vectors (a handful per thousand on this
    // fixture) may land in different heuristic cells
    val initPath = rows(Similarity.semanticDedupK(df, tau = 0.99, k = 20, sampleN = 1000))
    val (fd, id) = (flat.map(_._1).toSet, initPath.map(_._1).toSet)
    assert((fd & id).size >= (0.99 * id.size).toInt,
      s"trained partition misses too many planted duplicates: ${(id -- fd).size} of ${id.size}")
    // deterministic
    assert(flat == rows(Similarity.semanticDedupTrained(df, tau = 0.99, k = 20, iters = 2)))
  }

  test("SrpBandSigs == the bucketId column formulation, incl. degenerate inputs") {
    import org.apache.spark.sql.functions._
    val planes = Similarity.hyperplanes(24 * 8, 64)
    val rng = new scala.util.Random(11)
    val good = (0L until 50L).map(i => (i, Seq.fill(64)(rng.nextGaussian().toFloat).map(Option(_))))
    val degenerate = Seq(
      (900L, null.asInstanceOf[Seq[Option[Float]]]),          // NULL array
      (901L, Seq.fill(64)(Option(0.5f)).updated(3, None)),    // NULL element
      (902L, Seq.fill(10)(Option(1.0f))))                     // ragged (dim mismatch)
    val df = (good ++ degenerate).toDF("vec_id", "embedding")
    val twin: Seq[org.apache.spark.sql.Column] = (0 until 24).map { b =>
      Similarity.bucketId(col("embedding"), planes.slice(b * 8, (b + 1) * 8))
    }
    val rows = df.select(col("vec_id"),
      org.apache.spark.sql.graft.SrpBandSigs.sigs(col("embedding"), planes, 8).as("fast"),
      array(twin: _*).as("slow"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    rows.foreach { case (id, fast, slow) =>
      assert(fast == slow, s"vec $id: native sigs $fast != column-formulated $slow")
    }
    assert(rows.length == 53)
  }

  test("diverseTopK: greedy-equivalent diversification, cap respected, degenerate cap = plain top-k") {
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = Similarity.diverseTopK(emb, q, "label", k = 10, perGroup = 2)
      .select("query_id", "vec_id", "label", "cosine_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // cap: never more than 2 per (query, label)
    got.groupBy(t => (t._1, t._3)).foreach { case (k0, rs) =>
      assert(rs.length <= 2, s"cap violated at $k0")
    }
    // greedy reference: scan candidates in (score desc, id) order,
    // skip saturated labels, stop at 10
    val all = Similarity.knnJoin(emb, q, Int.MaxValue)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select("query_id", "vec_id", "label", "cosine_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    all.groupBy(_._1).foreach { case (qid, cands) =>
      val taken = scala.collection.mutable.Map.empty[Int, Int]
      val greedy = cands.sortBy(c => (-c._4, c._2)).iterator.filter { c =>
        val n = taken.getOrElse(c._3, 0)
        if (n < 2) { taken(c._3) = n + 1; true } else false
      }.take(10).map(_._2).toSeq
      val mine = got.filter(_._1 == qid).sortBy(t => (-t._4, t._2)).map(_._2).toSeq
      assert(mine == greedy, s"query $qid: diverseTopK != greedy scan")
    }
    // with the cap above k the constraint is vacuous: equals plain top-k
    val uncapped = Similarity.diverseTopK(emb, q, "label", k = 5, perGroup = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Similarity.knnJoinAgg(emb, q, 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == plain)
  }

  test("mmrRerank: first pick is argmax relevance; a redundant near-duplicate is demoted") {
    // planted fixture (validated numerically): 101 (rel .771) and its
    // near-copy 100 (rel .725, sim(100,101) = .998), plus a diverse
    // 200 (rel .689, orthogonal to 100). Plain top-2 = (101, 100); MMR
    // at lambda .7 picks 101 first (argmax rel), then DEMOTES the
    // near-copy: score(100) = .7*.725 - .3*.998 = .21 loses to
    // score(200) = .7*.689 - .3*.07 = .46 -> order (101, 200, 100).
    val vecs = Seq(
      (100L, Array(1.000f, 0.00f, 0.00f)),
      (101L, Array(0.998f, 0.07f, 0.00f)),
      (200L, Array(0.000f, 1.00f, 0.00f)))
    val qv = Array(1.0f, 0.95f, 0.0f)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val pool = vecs.map { case (id, v) => (0L, id, BigDecimal(cos(v, qv))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, v) }
      .toDF("query_id", "vec_id", "cosine_sim", "embedding")
    val picks = Similarity.mmrRerank(pool, lambda = 0.7, mu = 0.3, k = 3)
      .orderBy("rnk").collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(picks.map(_._2).toSeq == Seq(101L, 200L, 100L),
      s"expected diverse order (101, 200, 100), got ${picks.toSeq}")
    // first pick's score is exactly lambda * its relevance
    val rel101 = pool.filter(col("vec_id") === 101).select("cosine_sim").head.getDouble(0)
    assert(picks(0)._3 == 0.7 * rel101)
    // selections are distinct and exactly k
    assert(picks.map(_._2).distinct.length == 3)
  }

  test("exhaustive SRP and IVF probes equal knnJoin row for row, exact ties broken by vec_id") {
    // Crafted corpus: 24 gaussian vectors, then exact copies under new
    // ids — 3 copies of vector 0 (a tie inside the top-4) and 5 copies of
    // vector 1 (a tie that crosses the k = 4 cut) — so cosines tie
    // bit for bit and only the vec_id tie-break decides the order.
    val rng = new scala.util.Random(7)
    val base = (0 until 24).map(i => (i.toLong, Seq.fill(64)(rng.nextGaussian().toFloat)))
    val copies = (Seq.fill(3)(0) ++ Seq.fill(5)(1)).zipWithIndex
      .map { case (src, j) => (100L + j, base(src)._2) }
    val corpus = (base ++ copies).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id").isin(0L, 1L, 5L, 102L))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val k = 4
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "cosine_sim", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(r => (r._1, r._4)).toSeq
    val exact = rows(Similarity.knnJoin(corpus, queries, k))
    assert(exact.length == 4 * k)
    // the fixture really ties: query 0 sees its 3 copies at cosine 1.0,
    // query 1 keeps the 4 lowest ids of its 5 copies
    assert(exact.filter(_._1 == 0L).take(3).map(r => (r._2, r._3)) ==
      Seq((100L, 1.0), (101L, 1.0), (102L, 1.0)))
    assert(exact.filter(_._1 == 1L).map(_._2) == Seq(103L, 104L, 105L, 106L))
    // pruning off: every SRP bucket probed, every IVF cell probed
    val lsh = Similarity.annLshTopK(corpus, queries, k, numPlanes = 6, probeHamming = 6)
    assert(rows(lsh) == exact)
    val model = graft.sim.IvfIndex.train(corpus, k = 4, iters = 0)
    val ivf = graft.sim.IvfIndex.annTopK(graft.sim.IvfIndex.assign(corpus, model), queries,
      model, k, nprobe = model.k)
    assert(rows(ivf) == exact)
  }
}
