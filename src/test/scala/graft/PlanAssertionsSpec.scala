package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The plans we claim, asserted — not just eyeballed with explain():
  * predicate pushdown and column pruning reach the parquet scan, small
  * dimensions broadcast, partial aggregation precedes the shuffle.
  */
class PlanAssertionsSpec extends SparkSpec {

  private def executedPlanString(df: DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    def expand(p: SparkPlan): String = {
      val kids = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      p.nodeName + "\n" + p.toString + "\n" + kids.map(expand).mkString("\n")
    }
    expand(df.queryExecution.executedPlan)
  }

  test("q07: shipdate predicate is pushed to the parquet scan and columns pruned") {
    val plan = executedPlanString(graft.queries.QueriesRelational.q07_pricing_summary(spark, sf("sf0.001")))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"pushdown missing:\n${plan.take(2000)}")
    assert(!plan.contains("l_orderkey"), "unused column not pruned from the q07 scan")
  }

  test("q01: scan reads only the text column") {
    val plan = executedPlanString(graft.queries.QueriesText.q01_wordcount(spark, sf("sf0.001")))
    assert(plan.contains("ReadSchema: struct<text:string>"), s"schema not pruned:\n${plan.take(2000)}")
  }

  test("q08: dimension joins broadcast; no cartesian products") {
    val plan = executedPlanString(graft.queries.QueriesRelational.q08_nation_revenue(spark, sf("sf0.001")))
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins for dimensions")
    assert(!plan.contains("CartesianProduct"), "unexpected cartesian product")
  }

  test("q01: aggregation is partial (map-side) before the shuffle") {
    val plan = executedPlanString(graft.queries.QueriesText.q01_wordcount(spark, sf("sf0.001")))
    assert(plan.contains("partial_count"), "expected map-side partial aggregation")
  }

  test("q20: blocked near-dup join has no cartesian/BNLJ node") {
    val plan = executedPlanString(graft.queries.QueriesSim.q20_embedding_neardup(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q20 must not build a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q20 must not nested-loop over all pairs")
  }

  test("q27: ANN candidate generation is a bucket equi-join, not a BNLJ") {
    val plan = executedPlanString(graft.queries.QueriesSim.q27_ann_lsh(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q27 must not build a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q27 must not scan all (vector, query) pairs")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), "q27 candidates must come from an equi-join on bucket")
  }

  test("q97: payload→feature→ANN composition keeps the bucket equi-join end-to-end") {
    // The multimodal composition must inherit q27's scale shape: feature
    // extraction is a narrow projection over the documents scan, and ANN
    // candidates come from an equi-join on the bucket id — no node in the
    // whole plan may enumerate (document, query) pairs.
    val plan = executedPlanString(graft.queries.QueriesBinary.q97_payload_ann(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q97 must not build a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q97 must not scan all (doc, query) pairs")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), "q97 candidates must come from an equi-join on bucket")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"q97 scan must read only doc_id+text:\n${plan.take(2000)}")
  }

  test("q98: srpParams-derived banding joins on (band, sig), never pairs") {
    val plan = executedPlanString(graft.queries.QueriesSim.q98_srp_params(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q98 must not build a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q98 must not nested-loop over vector pairs")
  }

  test("q99: payload→IVF composition probes cells via equi-join, never pairs") {
    val plan = executedPlanString(graft.queries.QueriesBinary.q99_payload_ivf(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q99 must not build a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q99 must not scan all (doc, query) pairs")
  }

  test("q100: ingest dedup joins on the digest — document text never a join key") {
    val plan = executedPlanString(graft.queries.QueriesDedup.q100_ingest_novel(spark, sf("sf0.001")))
    // Joins/exchanges must be keyed by the sha2 digest (or doc_id), never
    // by the text payload: at 100 TB the corpus text must not shuffle.
    val keyLines = plan.linesIterator.filter(l =>
      l.contains("Join") || l.contains("Exchange hashpartitioning")).mkString("\n")
    assert(!keyLines.contains("text"),
      s"document text appears in a join/shuffle key:\n$keyLines")
  }

  test("q39: interval-join equi keys include the 30-min time bucket") {
    val plan = executedPlanString(graft.queries.QueriesRelational.q39_event_followups(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "q39 must not enumerate unkeyed pairs")
    // The join node's key lists must carry the bucket column — i.e. the
    // range predicate is a residual on a (user_id, bucket) equi-join,
    // not a filter over all same-user pairs.
    val joinLine = plan.linesIterator.find(l =>
      l.contains("SortMergeJoin [") || l.contains("ShuffledHashJoin [") || l.contains("BroadcastHashJoin ["))
    assert(joinLine.exists(_.contains("__bl")),
      s"q39 join keys must include the time bucket, got: $joinLine")
  }

  test("q16: the near-dup pipeline never joins on document content") {
    val df = graft.queries.QueriesDedup.q16_minhash_neardup(spark, sf("sf0.001"))
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val joinsOnText = joins.exists(_.condition.exists(_.find {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name == "text"
      case _ => false
    }.isDefined))
    assert(joins.nonEmpty && !joinsOnText, "join keys must be hashes/bands, never the text payload")
  }

  test("q50: salted join keys include the salt column") {
    val plan = executedPlanString(graft.queries.QueriesRelational.q50_salted_join(spark, sf("sf0.001")))
    val joinLine = plan.linesIterator.find(l =>
      l.contains("SortMergeJoin [") || l.contains("ShuffledHashJoin [") || l.contains("BroadcastHashJoin ["))
    assert(joinLine.exists(_.contains("__salt")),
      s"q50 join keys must include the salt, got: $joinLine")
  }

  /** All nodes of a physical plan, descending into AQE stages. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => p.children
    }
    p +: kids.flatMap(planNodes)
  }

  /** Every node of the EXECUTED plan, descending into AQE stages. */
  private def collectPlanNodes(df: DataFrame): Seq[SparkPlan] = {
    df.write.format("noop").mode("overwrite").save()
    planNodes(df.queryExecution.executedPlan)
  }

  private def hashShuffleCount(nodes: Seq[SparkPlan]): Int = nodes.count {
    case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
      e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
    case _ => false
  }

  test("q51: trailing range window runs on ONE hash shuffle (user_id), value-bounded frame") {
    val df = graft.queries.QueriesRelational.q51_trailing_window(spark, sf("sf0.001"))
    val nodes = collectPlanNodes(df)
    val windows = nodes.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, "expected a Window node")
    assert(windows.exists(w => w.toString.contains("RangeFrame") || w.toString.contains("RANGE BETWEEN")),
      s"frame must be value-based (RANGE), not ROWS: ${windows.head.toString.take(400)}")
    assert(hashShuffleCount(nodes) == 1,
      s"expected exactly the user_id shuffle, got ${hashShuffleCount(nodes)}")
  }

  test("q52: repetition score is a pure map — no hash shuffle at all") {
    val nodes = collectPlanNodes(graft.queries.QueriesText.q52_repetition_score(spark, sf("sf0.001")))
    assert(hashShuffleCount(nodes) == 0,
      "per-document scoring must not shuffle (only the final sort range-partitions)")
  }

  test("partitioned write + read prunes partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toFile.getAbsolutePath
    graft.core.Tables.events(spark, sf("sf0.001"))
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
    // collect() (not a fresh write plan) so metrics land on THIS plan's scan
    assert(pruned.collect().nonEmpty)
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a v1 parquet scan")
    assert(scans.head.partitionFilters.exists(_.toString.contains("event_type")),
      s"partition filter not applied at scan: ${scans.head.partitionFilters}")
    // the executed scan must have read only the one matching partition's file
    assert(scans.head.metrics("numFiles").value == 1,
      s"scan read ${scans.head.metrics("numFiles").value} files; pruning should leave 1")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The 100 TB shuffle-reduction feature: when a dim side is filtered
    // selectively, Catalyst injects bloom_filter_agg on the dim keys and
    // a might_contain predicate on the FACT side scan, so non-matching
    // fact rows die before the shuffle. Thresholds are tuned for TB
    // inputs, so pin them down to make the tiny fixture eligible.
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // broadcast would subsume the filter
      val l = graft.core.Tables(spark, sf("sf0.001"), "lineitem")
      val o = graft.core.Tables(spark, sf("sf0.001"), "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected an injected bloom filter on the fact side:\n${optimized.take(1500)}")
      assert(optimized.contains("bloom_filter_agg"),
        "expected bloom_filter_agg built from the filtered dim keys")
      // and the filtered plan still computes the right answer
      val n = joined.collect().map(_.getLong(1)).sum
      val expected = l.join(o, l("l_orderkey") === o("o_orderkey")).count()
      assert(n == expected, s"bloom-filtered join changed the result: $n vs $expected")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // The other half of the skew story next to Skew.saltedJoin (q50):
    // when one key dominates a shuffle join, AQE detects the oversized
    // partition after the map stage and splits it across tasks
    // (isSkewJoin on the SMJ). Thresholds are TB-tuned; pin them down so
    // the fixture-sized hot key qualifies.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val restore = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      import org.apache.spark.sql.functions._
      // one hot key (50k rows) over a uniform tail; dim side uniform
      val left = spark.range(50000).select(lit(0L).as("k"), col("id").as("payload"))
        .union(spark.range(5000).select((col("id") % 100).as("k"), col("id").as("payload")))
      val right = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // skew marking happens as AQE re-plans DURING execution, so drive
      // THIS Dataset's own queryExecution (a write would build a fresh,
      // unexecuted one) and inspect the finalized adaptive plan.
      assert(joined.collect().length == 55000) // every left row matches its one dim row
      val nodes = planNodes(joined.queryExecution.executedPlan)
      val smjs = nodes.collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(smjs.nonEmpty, s"expected a sort-merge join, got: ${nodes.map(_.nodeName).distinct}")
      assert(smjs.exists(_.isSkewJoin), "AQE did not mark the skewed partition for splitting")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q64: fuzzy-match candidates come from the deletion-key equi-join, never a name cross join") {
    val plan = executedPlanString(graft.queries.QueriesDedup.q64_typo_pairs(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q64 must not cross-join the name set")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q64 must not nested-loop over all name pairs")
    val joinLine = plan.linesIterator.find(l =>
      l.contains("SortMergeJoin [") || l.contains("ShuffledHashJoin [") || l.contains("BroadcastHashJoin ["))
    assert(joinLine.exists(_.contains("k#")),
      s"q64 join key must be the deletion variant, got: $joinLine")
  }

  test("q65: triangle enumeration is keyed self-joins on node ids, no unkeyed pair scan") {
    val plan = executedPlanString(graft.queries.QueriesDedup.q65_triangles(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q65 must not build a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q65 must not nested-loop over edge pairs")
  }

  test("q63: the per-event work is one keyed aggregation; only the bounded grid cross-joins") {
    // hours × types is an intentional cartesian of two GENERATED
    // broadcast-sized frames (its size is range × cardinality, independent
    // of the event count); the events themselves must only ever meet a
    // groupBy and an equi-join on (hour, event_type).
    val df = graft.queries.QueriesRelational.q63_gapfill_hours(spark, sf("sf0.001"))
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val equiOnGridKeys = joins.filter(_.condition.exists(c =>
      c.toString.contains("hour") && c.toString.contains("event_type")))
    assert(equiOnGridKeys.nonEmpty, "expected the grid↔counts equi-join on (hour, event_type)")
  }

  test("q78: both sides aggregate to day grain BEFORE the full-outer join") {
    val plan = executedPlanString(graft.queries.QueriesAnalytics.q78_daily_recon(spark, sf("sf0.001")))
    assert(plan.contains("FullOuter"), "expected a full-outer join on day")
    assert(plan.contains("partial_count"), "daily aggregates must be partial before their shuffle")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the reconciliation join must stay keyed on day")
  }

  test("q79: hopping windows expand in place; one hash shuffle for the keyed count") {
    val nodes = collectPlanNodes(graft.queries.QueriesAnalytics.q79_hopping_windows(spark, sf("sf0.001")))
    assert(nodes.exists(_.nodeName.contains("Expand")),
      "window(slide) must be an Expand node, not a join against a window table")
    assert(hashShuffleCount(nodes) == 1,
      s"expected only the (window, type) count shuffle, got ${hashShuffleCount(nodes)}")
  }

  test("q82: the lang-partitioned read-back prunes non-selected partitions at the scan") {
    val df = graft.queries.QueriesAnalytics.q82_partitioned_roundtrip(spark, sf("sf0.001"))
    assert(df.collect().nonEmpty)
    val scans = planNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a v1 parquet scan of the partitioned layout")
    assert(scans.head.partitionFilters.exists(_.toString.contains("lang")),
      s"lang predicate must prune partitions, got: ${scans.head.partitionFilters}")
  }

  test("q161: the loader's shard read scans ONLY the needed shard partitions") {
    // The data-loader contract's physical half: the worker's
    // budget-prefix needs a handful of shards, and the scan of the
    // written shard table must carry a shard_id partition filter AND
    // physically read fewer partitions than exist — seek, not sweep.
    val (df, out) = graft.queries.QueriesPipeline.loaderRead(
      spark, sf("sf0.001"), W = 4, worker = 1, budget = 20000L)
    assert(df.collect().nonEmpty)
    val scans = planNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(
          new java.io.File(out).getName)) => f
    }
    assert(scans.nonEmpty, "expected a v1 parquet scan of the shard table")
    assert(scans.head.partitionFilters.exists(_.toString.contains("shard_id")),
      s"shard_id must prune partitions, got: ${scans.head.partitionFilters}")
    val totalShards = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("shard_id="))
    val readParts = scans.head.metrics("numPartitions").value
    assert(readParts < totalShards,
      s"loader read $readParts of $totalShards shard partitions — nothing was pruned")
  }

  test("q166: the mid-epoch resume read is partition-pruned and disjoint from the consumed prefix") {
    // Resume must seek: the scan of the shard table carries a shard_id
    // partition filter and reads fewer partitions than exist, and the
    // resumed stretch never re-serves a shard of the consumed prefix
    // (checkpoint-exactness at the slice level).
    val (prefix, _) = graft.queries.QueriesPipeline.loaderRead(
      spark, sf("sf0.001"), W = 4, worker = 1, budget = 20000L)
    // materialize the prefix BEFORE the resume call re-writes the same
    // tmp shard layout (overwrite invalidates the first plan's files)
    val served = prefix.select("epoch", "pos").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val (df, out) = graft.queries.QueriesPipeline.loaderRead(
      spark, sf("sf0.001"), W = 4, worker = 1, budget = 20000L, consumed = 20000L)
    val resumed = df.collect()
    assert(resumed.nonEmpty, "resume stretch empty — fixture budget too large")
    val again = resumed.map(r => (r.getInt(0), r.getLong(1))).filter(served)
    assert(again.isEmpty, s"resume re-served slice positions: ${again.mkString(", ")}")
    val scans = planNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(
          new java.io.File(out).getName)) => f
    }
    assert(scans.nonEmpty, "expected a v1 parquet scan of the shard table")
    assert(scans.head.partitionFilters.exists(_.toString.contains("shard_id")),
      s"shard_id must prune partitions, got: ${scans.head.partitionFilters}")
    val totalShards = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("shard_id="))
    assert(scans.head.metrics("numPartitions").value < totalShards,
      "resume read swept every shard partition — nothing was pruned")
  }

  test("q164: the eval fingerprint broadcasts; the corpus window scan never shuffles") {
    // Decontamination's scale contract: the only join is a broadcast
    // LEFT SEMI against the eval-set hash fingerprint — the corpus side
    // must not sort-merge or shuffle for the contamination check (the
    // lone exchange is the per-doc hit-count aggregation).
    val df = graft.queries.QueriesDedup.q164_decontaminate(spark, sf("sf0.001"))
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"eval fingerprint must broadcast into a left-semi join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side must never shuffle-join for the contamination check:\n$plan")
  }

  test("q83: centroid pairing broadcasts the tiny centroid table; argmin is partial") {
    val plan = executedPlanString(graft.queries.QueriesAnalytics.q83_nearest_centroid(spark, sf("sf0.001")))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the |labels|-row centroid table must broadcast, never shuffle the vectors against it")
    assert(!plan.contains("SortMergeJoin"), "no shuffle join may touch the vector×centroid pairing")
    assert(plan.contains("partial_min"),
      "per-vector argmin must partial-aggregate map-side (one candidate per vector per task)")
  }

  test("q84: events meet only keyed aggregation and the (user_id, day) grid equi-join") {
    val df = graft.queries.QueriesAnalytics.q84_locf_daily(spark, sf("sf0.001"))
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val equiOnGridKeys = joins.filter(_.condition.exists(c =>
      c.toString.contains("user_id") && c.toString.contains("day")))
    assert(equiOnGridKeys.nonEmpty, "expected the grid↔daily equi-join on (user_id, day)")
  }

  test("q88: every predicate pushes into the parquet scan; no shuffle before the final agg") {
    val plan = executedPlanString(graft.queries.QueriesRelational.q88_forecast_revenue(spark, sf("sf0.001")))
    assert(plan.contains("PushedFilters: [IsNotNull"), "expected pushed filters on the lineitem scan")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(plan.linesIterator.exists(l => l.contains("PushedFilters") && l.contains(c)),
        s"$c predicate must reach the scan's PushedFilters")
    assert(plan.contains("partial_"), "global aggregate must still be partial+final")
  }

  test("q89: top-10 is a bounded TakeOrderedAndProject, customers broadcast post-filter") {
    val plan = executedPlanString(graft.queries.QueriesRelational.q89_shipping_priority(spark, sf("sf0.001")))
    assert(plan.contains("TakeOrderedAndProject"),
      "ORDER BY + LIMIT must plan as a bounded top-k, not a global sort")
    assert(plan.contains("BroadcastHashJoin"), "the filtered customer dim must broadcast")
  }

  test("q94: the weighted sample is a bounded top-k, never a global sort") {
    val plan = executedPlanString(graft.queries.QueriesPipeline.q94_weighted_sample(spark, sf("sf0.001")))
    assert(plan.contains("TakeOrderedAndProject"),
      "A-ES sampling must plan as TakeOrderedAndProject (O(k) per partition)")
    assert(!plan.contains("Exchange rangepartitioning"),
      "no range-partitioned global sort may back the sample")
  }

  test("q96: the snapshot diff joins digests on the key; the text payload is never read") {
    val df = graft.queries.QueriesAnalytics.q96_snapshot_diff(spark, sf("sf0.001"))
    val plan = executedPlanString(df)
    assert(plan.contains("FullOuter"), "expected the full-outer key join")
    assert(!plan.contains("text"), "the diff must never scan or shuffle the document payload")
  }

  test("q95: the merged-schema read surfaces the absent v1 column as NULL, not a failure") {
    val out = graft.queries.QueriesSources.q95_schema_evolution(spark, sf("sf0.001"))
    val rows = out.collect()
    assert(rows.nonEmpty && rows.map(_.getLong(2)).sum > 0,
      "v1-generation rows must appear with the evolved column NULL")
  }

  test("q44: the cleaning chain's dedup joins on the id, never the text payload") {
    val df = graft.queries.QueriesPipeline.q44_clean_corpus(spark, sf("sf0.001"))
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val joinsOnText = joins.exists(_.condition.exists(_.find {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name == "text"
      case _ => false
    }.isDefined))
    assert(joins.nonEmpty && !joinsOnText,
      "at 100 TB the document text must never be a shuffle/join key")
  }

  test("q104: the skyline is prefix-min windows + equi-joins — no pairwise dominance compare") {
    // The naive skyline is an O(n²) self-join (dominated-by EXISTS); this
    // plan must instead be the two-level prefix-min decomposition, whose
    // only joins are equi-joins back on price/bucket.
    val plan = executedPlanString(graft.queries.QueriesAnalytics.q104_skyline(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q104 must not pair parts with parts")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q104 must not nested-loop over part pairs")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      "q104's frontier must come from window prefix-mins")
  }

  test("q105: the CMS probe broadcasts the fixed-size sketch; counts partial-aggregate") {
    // The sketch is 1,024 cells regardless of corpus size — the probe
    // side must consume it as a broadcast, and both the word count and
    // the cell sums must partial-aggregate before their shuffles.
    val plan = executedPlanString(graft.queries.QueriesText.q105_cms_heavy(spark, sf("sf0.001")))
    assert(plan.contains("BroadcastHashJoin"), "q105 must broadcast the 1,024-cell sketch")
    assert(!plan.contains("CartesianProduct"), "q105 must not cross words with cells")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "q105's counts must partial-aggregate map-side")
  }

  test("q108: semantic dedup pairs come from the cell equi-join, never a global self-join") {
    // SemDeDup's whole point at scale: candidates are keyed by cluster
    // id (work = sum of |cell|^2, with |cell| a design parameter), so
    // the plan must contain no unkeyed pair enumeration.
    val plan = executedPlanString(graft.queries.QueriesSim.q108_semantic_dedup(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q108 must not pair vectors globally")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q108 must not nested-loop the corpus")
  }

  test("q111: both dimension predicates reach the z-layout read-back scan") {
    val plan = executedPlanString(
      graft.queries.QueriesSources.q111_zorder_scan(spark, sf("sf0.001")))
    for (c <- Seq("pb", "ob"))
      assert(plan.linesIterator.exists(l => l.contains("PushedFilters") && l.contains(c)),
        s"$c predicate must reach the z-layout scan's PushedFilters")
  }

  test("q115: quartile boundaries come from a distributed aggregate, never a global window") {
    // ANSI PERCENTILE_DISC as an aggregate partial-merges; the naive
    // cume_dist formulation (the oracle's replay) would be a
    // single-partition window over the whole table.
    val plan = executedPlanString(graft.queries.QueriesAnalytics.q115_equidepth(spark, sf("sf0.001")))
    assert(!plan.contains("Window"), "q115 must not sort the table into one window partition")
    assert(plan.contains("partial_percentile_disc") || plan.contains("percentile_disc"),
      "boundaries must come from the percentile_disc aggregate")
  }

  test("q116: the bucketed join itself runs with zero shuffles (only the agg exchanges)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
    try {
      // q116's plan carries exactly 2 exchanges: the aggregation hash
      // and the final sort's range partitioning — the join adds NONE.
      val bucketed = Oracles.shuffleExchangeCount(
        graft.queries.QueriesSources.q116_bucketed_join(spark, sf("sf0.001")))
      assert(bucketed <= 2,
        s"bucket co-location must eliminate the join shuffles (got $bucketed exchanges)")
      // the same query over the raw tables pays both join-side shuffles
      import org.apache.spark.sql.functions._
      val raw = Oracles.shuffleExchangeCount(
        graft.core.Tables(spark, sf("sf0.001"), "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .join(graft.core.Tables(spark, sf("sf0.001"), "customer")
            .select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("nation"))
      assert(raw >= bucketed + 2,
        s"raw join must pay the two join-side shuffles ($raw vs $bucketed)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q107: every pagerank round is a broadcast join + keyed agg; edges never re-shuffle") {
    // The rank vector broadcasts onto the persisted edge list each round:
    // the plan may contain no shuffle of the edge table per iteration and
    // no unkeyed pair enumeration anywhere.
    val plan = executedPlanString(graft.queries.QueriesAnalytics.q107_pagerank(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q107 must not cross nodes with nodes")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q107 must not nested-loop the graph")
    assert(plan.contains("BroadcastHashJoin"), "q107 iterations must broadcast the rank vector")
  }

  test("q120: the compaction plan reads only (lang, doc_id, text-length); no join at all") {
    val plan = executedPlanString(graft.queries.QueriesSources.q120_compaction_plan(spark, sf("sf0.001")))
    assert(!plan.contains("Join"), "the planner is windows + aggregation over the inventory — no join")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
      s"inventory scan not pruned:\n${plan.take(2000)}")
  }

  test("q122: IVF-PQ candidates come from the cell equi-join; no pair scan anywhere") {
    val plan = executedPlanString(graft.queries.QueriesSim.q122_ivfpq_ann(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q122 must not cross corpus with queries")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), "q122 candidates must come from the cluster equi-join")
  }

  test("q124: sparse cosine candidates come from the term equi-join; no pair scan") {
    val plan = executedPlanString(graft.queries.QueriesText.q124_sparse_cosine(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q124 must not enumerate doc pairs")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "q124 aggregations must partial-aggregate before the shuffle")
  }

  test("q125: the quantile sketch partial-aggregates (TopKAgg merge = sketch merge)") {
    val plan = executedPlanString(graft.queries.QueriesAnalytics.q125_sketch_quantiles(spark, sf("sf0.001")))
    assert(plan.contains("partial_topk") || plan.contains("partial"),
      s"q125's bottom-k sample must merge map-side:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), "q125 is a pure keyed aggregation")
  }

  test("q128: residual IVF-PQ candidates come from the cell equi-join; no pair scan") {
    val plan = executedPlanString(graft.queries.QueriesSim.q128_ivfpq_residual(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q128 must not cross corpus with queries")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), "q128 candidates must come from the cluster equi-join")
  }

  test("q123: the pipeline's dedup/decontamination joins never key on the text payload") {
    val plan = executedPlanString(graft.queries.QueriesPipeline.q123_full_pipeline(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q123 must not enumerate doc pairs")
    // every join keys on digests, shingle hashes, or doc ids — a join
    // whose key expression mentions the raw text column would ship
    // document bodies through an exchange
    val joinKeyLines = plan.linesIterator.filter(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin")).mkString("\n")
    assert(!joinKeyLines.contains("text#"), s"text used as a join key:\n$joinKeyLines")
  }

  test("q131: span windows are hashed before the explode; text never in a join/shuffle key") {
    val plan = executedPlanString(graft.queries.QueriesDedup.q131_span_dedup(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q131 must not enumerate doc pairs")
    val keyLines = plan.linesIterator.filter(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin") ||
        l.contains("Exchange hashpartitioning")).mkString("\n")
    assert(!keyLines.contains("text#"), s"text in a join/shuffle key:\n$keyLines")
    assert(plan.contains("partial_count"), "window df must partial-aggregate map-side")
  }

  test("q132: pair counting explodes the vocabulary table, not the corpus") {
    val plan = executedPlanString(graft.queries.QueriesText.q132_bpe_pairs(spark, sf("sf0.001")))
    // two aggregates: word freq (over corpus tokens) then pair counts —
    // both must partial-aggregate before their exchanges, and the final
    // top-25 must be a bounded TakeOrdered, not a global sort
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "expected map-side partial aggregation")
    assert(plan.contains("TakeOrderedAndProject"), "top-25 cut must be TakeOrdered, not Sort+Limit")
  }

  test("q133: chunking is projection + explode — no join, no pre-sort exchange beyond the output order") {
    val plan = executedPlanString(graft.queries.QueriesText.q133_chunk_docs(spark, sf("sf0.001")))
    assert(!plan.contains("Join"), "q133 must not join")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must read only doc_id+text:\n${plan.take(2000)}")
  }

  test("q134: the query panel broadcasts; negatives come from the per-pair filter, not a shuffle") {
    val plan = executedPlanString(graft.queries.QueriesSim.q134_hard_negatives(spark, sf("sf0.001")))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "query panel must broadcast")
    assert(!plan.contains("CartesianProduct"), "q134 must not build a cartesian product")
    assert(plan.contains("objHashAggregate") || plan.contains("partial_topk") ||
      plan.contains("TopKAgg") || plan.contains("topk"),
      s"bounded-heap top-k aggregate expected in:\n${plan.take(1500)}")
  }

  test("q135: the projection is map-only native dots; no sort-merge join in the audit") {
    val plan = executedPlanString(graft.queries.QueriesSim.q135_jl_projection(spark, sf("sf0.001")))
    assert(!plan.contains("SortMergeJoin"), "45-pair audit panel must broadcast, not SMJ")
    assert(plan.contains("dot_f32(embedding"),
      "projection must be native dot_f32 over the embedding column")
    assert(!plan.contains("zip_with(embedding") && !plan.contains("transform(embedding"),
      "no interpreted HOF over the 64-dim embedding column (16-dim proj HOFs are fine)")
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]"),
      "panel filter must reach the scan")
  }

  test("q136: source ranks come from a lang-partitioned window; global order is TakeOrdered") {
    val plan = executedPlanString(graft.queries.QueriesPipeline.q136_curriculum_order(spark, sf("sf0.001")))
    assert(plan.contains("TakeOrderedAndProject"), "top-60 must be TakeOrdered, not a full sort")
    // the only unpartitioned window must run AFTER the limit (60 rows)
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, "expected window operators")
  }

  test("q137: the vocabulary cumsum is letter-partitioned; no single-partition window over the vocab") {
    val plan = executedPlanString(graft.queries.QueriesPipeline.q137_negative_sampling(spark, sf("sf0.001")))
    // the vocab-sized window must carry the letter partition key
    assert(plan.contains("hashpartitioning(letter"),
      s"vocab cumsum must partition by letter:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), "draw join must broadcast, not cartesian")
  }

  test("q138: both PQ variants draw candidates from the cell equi-join; no cartesian anywhere") {
    // The exact ground-truth side is the bounded 5-row query-panel
    // broadcast (knnJoinAgg — BNLJ over a broadcast panel is its
    // documented shape); the ADC candidate sides must stay keyed.
    val plan = executedPlanString(graft.queries.QueriesSim.q138_residual_clustered(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q138 must not cross corpus with queries")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), "q138 candidates must come from the cluster equi-join")
  }

  test("q139: both rankers read pruned scans; fusion never enumerates pairs") {
    val plan = executedPlanString(graft.queries.QueriesText.q139_hybrid_rrf(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "q139 must not build a cartesian product")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"BM25 side must read only doc_id+text:\n${plan.take(2000)}")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "tf/df aggregation must partial-aggregate before the shuffle")
  }

  test("q142: packing offsets come from partitioned windows — never a corpus-wide single partition") {
    val plan = executedPlanString(graft.queries.QueriesPipeline.q142_pack_sequences(spark, sf("sf0.001")))
    assert(plan.contains("hashpartitioning(source"),
      s"the running-offset windows must carry the source partition key:\n${plan.take(2000)}")
    assert(!plan.contains("Exchange SinglePartition"),
      "no stage may funnel the corpus into one partition")
  }

  test("q143: the BPE merge fold runs on the vocabulary and broadcasts back to occurrences") {
    val plan = executedPlanString(graft.queries.QueriesText.q143_bpe_encode(spark, sf("sf0.001")))
    assert(plan.contains("BroadcastHashJoin"),
      "encoded vocabulary must broadcast back to the occurrence stream")
    assert(!plan.contains("CartesianProduct"), "q143 must not build a cartesian product")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must read only doc_id+text:\n${plan.take(2000)}")
  }

  test("q144: label-propagation rounds are keyed joins with partial-aggregated counts") {
    val plan = executedPlanString(graft.queries.QueriesDedup.q144_label_prop(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"), "LP rounds must join on node ids, never pair-scan")
    assert(plan.contains("partial_count"),
      "neighbor-label counting must partial-aggregate before the shuffle")
  }

  /** Output attribute names of every shuffle exchange in the executed
    * plan — for asserting WHAT each shuffle physically carries, not just
    * that node kinds exist.
    */
  private def shuffleOutputs(df: DataFrame): Seq[Seq[String]] = {
    df.write.format("noop").mode("overwrite").save()
    // Dedupe by node identity: AQE re-references shared stages, so the
    // same physical exchange can be reached through several paths.
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          buf += e.output.map(_.name)
        case _ => ()
      }
      val kids = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      kids.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    buf.toSeq
  }

  test("q173: boilerplate frequency machinery shuffles longs; text moves at most once, doc_id-keyed") {
    // The df count, threshold set, and removal positions all travel as
    // (doc_id, ci, h, df) longs; the only exchange allowed to carry the
    // token payload is the final doc_id-keyed join that rebuilds the
    // text (the q149 convention: text moves ONCE, never on content).
    val exchanges = shuffleOutputs(graft.dedup.Dedup.removeBoilerplate(
      graft.core.Tables(spark, sf("sf0.001"), "documents"), c = 5, minDocs = 3))
    assert(exchanges.nonEmpty, "expected the df-count and removal shuffles")
    val textish = exchanges.filter(_.exists(n =>
      n.startsWith("text") || n.startsWith("toks") || n.startsWith("chs") ||
        n.startsWith("kept") || n.startsWith("clean_text")))
    assert(textish.size <= 1,
      s"token payload may cross at most the one reconstruction join: $exchanges")
    exchanges.filterNot(textish.contains).foreach { e =>
      assert(e.forall(n => n.startsWith("doc_id") || n.startsWith("ci") ||
        n.startsWith("h") || n.startsWith("df") || n.startsWith("rem") ||
        n.startsWith("count") || n.startsWith("buf")), // buf = collect_set
        s"frequency-machinery exchange carries unexpected columns: $e") // partial-agg buffer of int positions
    }
  }

  test("q176: the clean-then-dedup composition never builds a cartesian product") {
    // Pairs come from the shingle equi-join over the CLEANED text;
    // cluster labeling is keyed joins; the arg-max is a cluster-
    // partitioned window — end to end, no pairwise enumeration.
    val plan = executedPlanString(
      graft.queries.QueriesDedup.q176_boiler_exemplar(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"),
      "q176 must not build a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "q176 must not fall back to a nested-loop join")
  }

  test("q151: text never shuffles, and only the vocabulary reduce shuffles words") {
    // The shard writer's contract: after encoding, everything that moves
    // between stages is doc-level longs. The document text is consumed
    // map-side (tokenize+explode over the scan); the one string-keyed
    // shuffle is the vocabulary word-count reduce; the per-doc reduce
    // and the two-phase offset machinery carry (doc_id, n_bpe, bucket).
    val exchanges = shuffleOutputs(
      graft.queries.QueriesPipeline.q151_assignment(spark, sf("sf0.001")))
    assert(exchanges.nonEmpty, "expected at least the vocabulary and per-doc shuffles")
    assert(!exchanges.exists(_.exists(_.startsWith("text"))),
      s"document text must never shuffle: $exchanges")
    // word-carrying exchanges must be VOCABULARY-shaped (the word-count
    // reduce — one distinct word per row), never OCCURRENCE-shaped: a
    // shuffle carrying (doc_id, word) would move the exploded corpus.
    val wordShuffles = exchanges.filter(_.exists(_.startsWith("word")))
    assert(wordShuffles.nonEmpty, "expected the vocabulary reduce")
    assert(wordShuffles.forall(e => !e.exists(_.startsWith("doc_id"))),
      s"occurrence rows (doc_id, word) must never shuffle: $exchanges")
    assert(wordShuffles.toSet.size == 1,
      s"all word shuffles must be the one vocabulary-reduce shape: $exchanges")
  }

  test("q208: every join broadcasts (5-query panel screen + bounded rerank) — no sort-merge join") {
    val plan = executedPlanString(
      graft.queries.QueriesSim.q208_binary_ann(spark, sf("sf0.001")))
    assert(!plan.contains("SortMergeJoin"),
      "the binary-ANN path must never shuffle-join: panel and top-20 sides broadcast")
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast rerank joins")
    // the packed signatures reduce map-side: the bounded-heap top-k is partial
    assert(plan.contains("partial_topkagg") || plan.contains("partial_topk"),
      s"expected a partial (map-side) bounded-heap screen:\n${plan.take(1500)}")
  }

  test("q214: the governed read is map-only — no join, no hash shuffle") {
    val exchanges = shuffleOutputs(
      graft.queries.QueriesAnalytics.q214_column_masking(spark, sf("sf0.001")))
    // only the final ORDER BY's range exchange may move rows
    val plan = executedPlanString(
      graft.queries.QueriesAnalytics.q214_column_masking(spark, sf("sf0.001")))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
      !plan.contains("CartesianProduct"),
      "policy masking must not join at this spelling (the policy is inlined)")
    assert(plan.contains("rangepartitioning"),
      "expected only the ORDER BY range exchange")
    assert(exchanges.size <= 1, s"governed read must not hash-shuffle: $exchanges")
  }

  test("q216: probe and liveness joins are keyed (cluster equi / left-semi) — no unkeyed pair scan") {
    val plan = executedPlanString(
      graft.queries.QueriesSim.q216_cdc_index_maint(spark, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "CDC index maintenance must stay keyed end-to-end")
    assert(plan.contains("LeftSemi"), "expected the (vec_id, rev) liveness semi-join")
  }

  test("q217: document text never shuffles — the keeper join moves fingerprints only") {
    val exchanges = shuffleOutputs(
      graft.queries.QueriesText.q217_data_card(spark, sf("sf0.001")))
    assert(exchanges.nonEmpty, "expected the keeper-join and card-aggregate shuffles")
    assert(!exchanges.exists(_.exists(_.startsWith("text"))),
      s"document text must never shuffle in the data-card build: $exchanges")
  }

  test("q218: the 100x replica grid never shuffles — only (lang, b) aggregates move") {
    val exchanges = shuffleOutputs(
      graft.queries.QueriesPipeline.q218_bootstrap_ci(spark, sf("sf0.001")))
    assert(exchanges.nonEmpty, "expected the (lang, b) aggregate and lang-window shuffles")
    assert(!exchanges.exists(e => e.exists(_.startsWith("doc_id")) || e.exists(_ == "u") || e.exists(_ == "w")),
      s"per-(doc, replica) weight rows must reduce map-side, never shuffle: $exchanges")
  }
}
