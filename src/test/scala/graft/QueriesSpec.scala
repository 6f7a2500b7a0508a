package graft

import graft.queries.Queries

/** Smoke for the whole catalog: every declared query runs on sf0.001,
  * returns rows, and every oracle-covered query declares identical column
  * names to its SQL (the driver hashes columns by sorted name — a rename
  * on either side silently fails the gate; SURVEY.md §5).
  */
class QueriesSpec extends SparkSpec {

  /** Queries allowed to plan a nested-loop/cartesian node — each one a
    * BOUNDED broadcast cross join by construction (a grid, an epoch
    * table, a fixed query panel), audited in PlanAssertionsSpec or the
    * entry's own doc. Everything else in the catalog must stay keyed.
    */
  private val BoundedCrossJoinAllowed: Set[String] = QueriesSpec.BoundedCrossJoinAllowed

  Queries.all.foreach { case (name, fn) =>
    test(s"$name runs and returns rows on sf0.001") {
      val df = fn(spark, sf("sf0.001"))
      assert(df.count() > 0, s"$name returned no rows")
      // Catalog-wide plan lint: no query may plan an unkeyed pair scan
      // unless it is on the bounded-cross-join whitelist above. Planning
      // only — the execution above already proved the query runs.
      if (!BoundedCrossJoinAllowed(name)) {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unkeyed pair join (not on the bounded whitelist)")
      }
      // Catalog-wide WINDOW lint (the round-9 q141 finding): an
      // UNPARTITIONED Window single-partitions its whole input — the
      // classic scale-killer when the input is data-scale. Every query
      // must either partition its windows or sit on the audited
      // whitelist of bounded frames (shard manifests, stage funnels,
      // ≤shuffle.partitions offset tables, fixture-bounded replays,
      // post-limit panels).
      if (!QueriesSpec.BoundedGlobalWindowAllowed(name)) {
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.window.WindowExec
        def kids(p: SparkPlan): Seq[SparkPlan] = p match {
          case q: QueryStageExec => Seq(q.plan)
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case _ => p.children
        }
        def globalWindow(p: SparkPlan): Boolean =
          (p match {
            case w: WindowExec => w.partitionSpec.isEmpty
            case _ => false
          }) || kids(p).exists(globalWindow)
        assert(!globalWindow(df.queryExecution.executedPlan),
          s"$name plans an unpartitioned Window (not on the bounded-frame whitelist)")
      }
    }
  }

  test("whitelisted cross joins are actually bounded: min side <= 10k rows at runtime") {
    // The whitelist above claims each nested-loop node cross-joins
    // against a panel/grid/epoch table that is bounded BY CONSTRUCTION.
    // This test makes the claim empirical: execute each whitelisted
    // query, read the runtime numOutputRows metric nearest each
    // nested-loop node's children, and assert the smaller side stayed
    // tiny (observed max 62 at sf0.001; the 10k bound leaves room for
    // larger grids without ever admitting a data x data join).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => p.children
    }
    // Nearest descendant with a populated numOutputRows — the row count
    // feeding the join from that side. -1 = unexecuted/reused subtree
    // with no metric (no evidence either way; skipped).
    def nearestRows(p: SparkPlan): Long = {
      var frontier = Seq(p)
      while (frontier.nonEmpty) {
        val vals = frontier.flatMap(_.metrics.get("numOutputRows").map(_.value))
        if (vals.nonEmpty) return vals.min
        frontier = frontier.flatMap(kids)
      }
      -1L
    }
    val offenders = QueriesSpec.BoundedCrossJoinAllowed.toSeq.sorted.flatMap { name =>
      val df = Queries.all(name)(spark, sf("sf0.001"))
      df.collect()
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
      var measured = List.empty[Long]
      def walk(p: SparkPlan): Unit = if (seen.add(p)) {
        val cn = p.getClass.getSimpleName
        if (cn.contains("BroadcastNestedLoopJoin") || cn.contains("CartesianProduct")) {
          val m = p.children.map(nearestRows).filter(_ >= 0)
          if (m.nonEmpty) measured = m.min :: measured
        }
        kids(p).foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      spark.catalog.clearCache()
      if (measured.isEmpty) Seq(s"$name: no measurable nested-loop node (stale whitelist entry?)")
      else measured.filter(_ > 10000L).map(v => s"$name: bounded side had $v rows")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every query has a DuckDB oracle") {
    assert(Queries.all.keySet -- Queries.oracles.keySet == Set.empty)
    // one registry entry per query: a Map literal would drop a duplicate
    // key silently, the list keeps it for this check to see
    val names = Queries.registry.map(_.name)
    assert(names.diff(names.distinct).isEmpty, "duplicate registry names")
    assert(Queries.registry.size == 234)
    assert(Queries.registry.filter(_.oracleSql.trim.isEmpty).map(_.name).isEmpty)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("every catalog output schema is gate-safe (primitive, no raw decimals)") {
    // The driver's correctness gate loads outputs into pandas, sorts, and
    // hashes. That pipeline crashes on array/map/struct columns (round-6
    // q57: "unhashable type: numpy.ndarray") and is dtype-sensitive for
    // DECIMAL (round-6 q60: same value, different widths, hash mismatch).
    // Gate-safe = string / integral / float / boolean / date / timestamp.
    // Present sets as sorted joined strings, decimals as STRING or a type
    // pinned identically in the oracle SQL.
    import org.apache.spark.sql.types._
    val ok: DataType => Boolean = {
      case _: StringType | BooleanType | ByteType | ShortType |
           IntegerType | LongType | FloatType | DoubleType |
           DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    val bad = Queries.all.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, sf("sf0.001")).schema.fields.collect {
        case f if !ok(f.dataType) => s"$name.${f.name}: ${f.dataType.sql}"
      }
    }
    assert(bad.isEmpty,
      s"gate-unsafe output columns (driver hasher would choke):\n  ${bad.mkString("\n  ")}")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q152: each epoch is a distinct permutation of the same sequence multiset") {
    import org.apache.spark.sql.functions._
    val df = Queries.all("q152_epoch_shuffle")(spark, sf("sf0.001"))
      .select("epoch", "pos", "source", "seq_id").cache()
    try {
      def order(e: Int) = df.filter(col("epoch") === e).orderBy("pos")
        .select("source", "seq_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val (e0, e1) = (order(0), order(1))
      assert(e0.sorted == e1.sorted, "epochs must hold the same sequence multiset")
      assert(e0 != e1, "epoch orders must differ (distinct permutations)")
      // positions are dense 1..n within each epoch
      Seq(0, 1).foreach { e =>
        val r = df.filter(col("epoch") === e)
          .agg(min("pos"), max("pos"), count(lit(1))).head()
        assert(r.getLong(0) == 1L && r.getLong(1) == r.getLong(2), s"epoch $e positions not dense")
      }
    } finally df.unpersist()
  }

  test("portable modulo: (x % n + n) % n == pmod(x, n) on NEGATIVE keys") {
    // The q48/q59 oracles rewrite Spark's pmod as (x % n + n) % n because
    // DuckDB's % keeps the dividend's sign. Spark's % has the SAME
    // dividend-sign semantics, so this identity over negative ids is an
    // executable twin of the cross-engine contract — current test data is
    // all non-negative, which is exactly why this needs its own fixture.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ids = Seq(-23L, -10L, -7L, -3L, -1L, 0L, 1L, 7L, 10L, 23L, Long.MinValue + 1).toDF("id")
    for (n <- Seq(2, 10, 997)) {
      val bad = ids.select(col("id"),
          pmod(col("id"), lit(n)).as("pm"),
          ((col("id") % n + n) % n).as("rewrite"))
        .filter(col("pm") =!= col("rewrite") || col("pm") < 0 || col("pm") >= n)
        .collect()
      assert(bad.isEmpty, s"portable-modulo contract broken at n=$n: ${bad.mkString(",")}")
    }
  }

  test("q103 redaction is total: zero residual matches, every planted doc counted") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.QueriesPipeline.q103_pii_redact(spark, sf("sf0.01"))
    val agg = out.agg(
      sum("n_residual").as("residual"),
      sum("n_docs_pii").as("pii"),
      sum("n_emails").as("emails"),
      sum("n_phones").as("phones"),
      sum("chars_removed").as("removed")).first()
    assert(agg.getLong(0) == 0, "redacted text still matches a PII pattern")
    // Every third doc gets exactly one planted email + one planted phone.
    val planted = graft.core.Tables(spark, sf("sf0.01"), "documents")
      .filter(col("doc_id") % 3 === 0).count()
    assert(agg.getLong(1) >= planted, s"planted docs uncounted: ${agg.getLong(1)} < $planted")
    assert(agg.getLong(2) >= planted && agg.getLong(3) >= planted)
    // Redaction must shrink: planted address+phone are longer than the tags.
    assert(agg.getLong(4) > 0)
  }

  test("q94's A-ES weighting actually biases the sample toward heavy documents") {
    import org.apache.spark.sql.functions._
    val sampledAvg = graft.queries.QueriesPipeline.q94_weighted_sample(spark, sf("sf0.01"))
      .agg(avg("n_chars")).first().getDouble(0)
    val corpusAvg = graft.core.Tables(spark, sf("sf0.01"), "documents")
      .agg(avg("n_chars")).first().getDouble(0)
    // With w = n_chars, inclusion probability rises with length; on this
    // fixed corpus + hash the sampled mean must sit clearly above the
    // corpus mean (deterministic, so this is a regression pin, not a flake).
    assert(sampledAvg > corpusAvg * 1.1,
      s"weighted sample not biased: sampled avg $sampledAvg vs corpus $corpusAvg")
  }

  test("q71's moment-sum correlation matches Spark's corr() aggregate") {
    import org.apache.spark.sql.functions._
    val li = graft.core.Tables(spark, sf("sf0.01"), "lineitem")
    val builtin = li
      .select(col("l_returnflag"), col("l_quantity").as("x"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("y"))
      .groupBy("l_returnflag").agg(corr("x", "y").as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val fromMoments = Queries.all("q71_price_correlation")(spark, sf("sf0.01"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(builtin.keySet == fromMoments.keySet)
    builtin.foreach { case (k, c) =>
      assert(math.abs(c - fromMoments(k)) < 1e-6,
        s"corr() and the moment formula disagree for $k: $c vs ${fromMoments(k)}")
    }
  }
}

object QueriesSpec {
  /** Every member's nested-loop node has a BOUNDED broadcast side —
    * a fixed query panel, a calendar/bin grid, an epoch/weights/sketch
    * table — never data × data. Grouped by the bounded table that
    * justifies membership; any query NOT listed here is asserted to
    * plan keyed joins only.
    */
  val BoundedCrossJoinAllowed: Set[String] = Set(
    // fixed query panel × corpus (the brute-force / serving baselines)
    "q17_cosine_knn", "q26_knn_join", "q83_nearest_centroid",
    "q93_payload_knn", "q110_bm25", "q112_ann_recall", "q119_pq_ann",
    "q121_sq_ann", "q124_sparse_cosine", "q126_compressed_recall",
    "q127_pq_trained", "q134_hard_negatives", "q138_residual_clustered",
    "q139_hybrid_rrf", "q153_pq_saved", "q154_pq_rotated",
    "q157_pq_balanced", "q160_pq_lut",
    // calendar / grid / bin tables (gapfill, histograms, windows)
    "q63_gapfill_hours", "q68_price_histogram", "q84_locf_daily",
    "q115_equidepth", "q129_sliding_kmv",
    // broadcast model/weight/offset tables (sketches, LM, sampling,
    // projections)
    "q114_bigram_logprob", "q117_kmv_rollup", "q130_mixture_sample",
    "q135_jl_projection", "q137_negative_sampling",
    "q182_dsir_select" /* 1-row totals + B-row log-ratio table */,
    "q183_ppl_buckets" /* q114's 1-row |V| table */,
    "q184_feature_drift" /* |sources|x1024 bucket grid + 1-row total */,
    "q185_temporal_drift" /* days x event-type category grid + 1-row K */,
    "q186_text_index" /* 4-row seed-centroid panel */,
    // 2-row epoch / W-row worker tables (the loader family)
    "q152_epoch_shuffle", "q155_worker_slices", "q161_loader_read",
    "q166_loader_resume", "q171_clean_loader",
    // fixed query panel × corpus (diversified retrieval)
    "q199_diverse_topk", "q200_mmr_rerank" /* 5-query panel; pool join keyed */,
    "q204_retrieval_metrics" /* 5-query panel via knnJoinAgg; metric joins keyed */,
    // fixed query panel × corpus (quantized / multi-vector serving)
    "q208_binary_ann" /* 5-query sig panel; rerank joins keyed */,
    "q209_maxsim" /* 2x4 query-token panel broadcast onto the corpus */,
    "q210_matryoshka_ann" /* 5-query prefix panel; rerank joins keyed */,
    "q207_leakage_safe_split" /* two 1-row audit totals broadcast onto 3 split rows */,
    // 1-row |V|/n_train scalars + C-row class table broadcast onto the
    // held-out docs (the trained-NB serving grid)
    "q229_nb_langid", "q231_nb_stream_ivm",
    "q232_nb_planted" /* same NB serving grid as q229, planted fixture */)

  /** Queries allowed to plan an UNPARTITIONED Window — each frame runs
    * over a table bounded by construction (named per entry), never over
    * corpus-/fact-scale rows. Everything else must partition its
    * windows; see the per-query lint above. Populated by auditing the
    * catalog's executed plans at sf0.001 and checking each offender's
    * frame input in source.
    */
  val BoundedGlobalWindowAllowed: Set[String] = Set(
    "q104_skyline" /* per-price-bucket minima: |price domain / 100| rows */,
    "q118_user_drift" /* lag over the ~30-row daily table (calendar-bounded) */,
    "q136_curriculum_order" /* order_idx over 60 rows post-limit */,
    "q137_negative_sampling" /* 52-row first-letter offset table */,
    "q141_zipf_fit" /* <= shuffle.partitions range-partition offset table */,
    "q156_shard_manifest" /* running offsets over the |shards| manifest */,
    "q165_domain_mix" /* per-source totals: |sources| rows */,
    "q168_pipeline_attrition" /* 5-row stage funnel lag */,
    "q175_temp_mix" /* q165's |sources|-row totals, temperature-scaled */,
    "q192_cell_drift" /* corpus total over the k=16-row cell panel */,
    "q193_waterfill_mix" /* waterfill level over the |sources|-row cap table */)
}
