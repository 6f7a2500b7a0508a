package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.text.Text

/** Round-6 analytics layer: join/window/sampling shapes the earlier
  * catalog does not yet cover — full-outer reconciliation, hopping
  * windows, array-function surface, winsorized robust aggregation, a
  * partitioned-layout write/read roundtrip (partition pruning), nearest-
  * centroid classification, LOCF gap filling, and ratio-to-report
  * windows. Every query keeps the catalog's scale rules: joins are keyed
  * or broadcast, aggregations are partial+final, and nothing pairs fact
  * rows with fact rows.
  */
object QueriesAnalytics {
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  private def daySec(c: org.apache.spark.sql.Column) =
    floor(c.cast("timestamp").cast("long").cast("double") / 86400).cast("long")

  /** Daily order-vs-purchase reconciliation: FULL OUTER join of two
    * independently keyed daily aggregates, zero-filled on both sides —
    * the ledger-vs-telemetry diff report. Each side aggregates BEFORE
    * the join, so the outer join sees one row per day per side (grid-
    * sized), never event volume.
    */
  def q78_daily_recon(s: SparkSession, dir: String): DataFrame = {
    val od = t(s, dir, "orders")
      .select(daySec(col("o_orderdate")).as("day"), col("o_totalprice"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("order_total"))
    val pd = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(daySec(col("ts")).as("day"), col("value"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_purchases"), sum("value").as("purchase_total"))
    od.join(pd, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        round(coalesce(col("order_total"), lit(0.0)), 2).as("order_total"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        round(coalesce(col("purchase_total"), lit(0.0)), 2).as("purchase_total"))
      .orderBy("day")
  }

  val q78Sql: String =
    """WITH od AS (
  SELECT CAST(floor(floor(epoch(o_orderdate)) / 86400) AS BIGINT) AS day,
         count(*) AS n_orders, sum(o_totalprice) AS order_total
  FROM orders GROUP BY 1),
pd AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
         count(*) AS n_purchases, sum(value) AS purchase_total
  FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT coalesce(od.day, pd.day) AS day,
       coalesce(n_orders, 0) AS n_orders,
       round(coalesce(order_total, 0.0), 2) AS order_total,
       coalesce(n_purchases, 0) AS n_purchases,
       round(coalesce(purchase_total, 0.0), 2) AS purchase_total
FROM od FULL OUTER JOIN pd ON od.day = pd.day
ORDER BY day"""

  /** Hopping-window event rates: 1-hour windows sliding every 30
    * minutes (each event lands in exactly 2 windows). Spark's `window()`
    * generator expands in place (an Expand node, no data movement); the
    * only shuffle is the keyed count on (window, type). The batch twin
    * of the streaming sliding-window job in graft.streaming.
    */
  def q79_hopping_windows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .groupBy(col("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("timestamp").cast("long").as("win_start"),
        col("event_type"), col("n"))
      .orderBy("win_start", "event_type")

  val q79Sql: String =
    """WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type FROM events),
w AS (SELECT (CAST(floor(sec / 1800) AS BIGINT) - k) * 1800 AS win_start, event_type
      FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k) hops)
SELECT win_start, event_type, count(*) AS n
FROM w GROUP BY win_start, event_type ORDER BY win_start, event_type"""

  /** Array-function surface over the token arrays: distinct+sort,
    * intersect/except against a literal vocabulary, slice and join —
    * all narrow per-row projections that stay inside whole-stage
    * codegen; there is no shuffle at all besides the final sort.
    */
  def q80_array_zoo(s: SparkSession, dir: String): DataFrame = {
    val markers = array(Text.EnglishMarkers.map(lit): _*)
    t(s, dir, "documents")
      .select(col("doc_id"),
        array_sort(array_distinct(Text.tokens(col("text")))).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_distinct"),
        size(array_intersect(col("toks"), markers)).cast("long").as("n_markers"),
        size(array_except(col("toks"), markers)).cast("long").as("n_content"),
        array_join(slice(col("toks"), 1, 5), " ").as("first5"))
      .orderBy("doc_id")
  }

  val q80Sql: String = {
    val markers = Text.EnglishMarkers.map(m => s"'$m'").mkString("[", ", ", "]")
    raw"""WITH t AS (SELECT doc_id, list_sort(list_distinct(${QueriesText.ToksSql})) AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_distinct,
       len(list_filter(toks, x -> list_contains($markers, x))) AS n_markers,
       len(list_filter(toks, x -> NOT list_contains($markers, x))) AS n_content,
       array_to_string(toks[1:5], ' ') AS first5
FROM t ORDER BY doc_id"""
  }

  /** Winsorized per-brand price stats: exact p05/p95 per brand, values
    * clamped into that range, then re-aggregated — the robust-mean
    * recipe that survives fat-tailed prices. Brands are low-cardinality,
    * so the percentile table is broadcast back onto the scan; the fact
    * table is read once per pass and never pairs with itself.
    */
  def q81_winsorized_price(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val pct = p.groupBy("p_brand").agg(
      expr("percentile(p_retailprice, 0.05)").as("lo"),
      expr("percentile(p_retailprice, 0.95)").as("hi"))
    val clamped = least(greatest(col("p_retailprice"), col("lo")), col("hi"))
    p.join(broadcast(pct), Seq("p_brand"))
      .select(col("p_brand"), col("p_retailprice"), col("lo"), col("hi"),
        clamped.as("w"),
        (col("p_retailprice") < col("lo") || col("p_retailprice") > col("hi"))
          .cast("long").as("clipped"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum("clipped").as("n_clipped"),
        round(avg("p_retailprice"), 6).as("raw_avg"),
        round(avg("w"), 6).as("wins_avg"),
        round(min("lo"), 6).as("p05"),
        round(max("hi"), 6).as("p95"))
      .orderBy("p_brand")
  }

  val q81Sql: String =
    """WITH pct AS (
  SELECT p_brand, quantile_cont(p_retailprice, 0.05) AS lo, quantile_cont(p_retailprice, 0.95) AS hi
  FROM part GROUP BY p_brand)
SELECT p.p_brand, count(*) AS n,
       CAST(sum(CASE WHEN p_retailprice < lo OR p_retailprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       round(avg(p_retailprice), 6) AS raw_avg,
       round(avg(least(greatest(p_retailprice, lo), hi)), 6) AS wins_avg,
       round(min(lo), 6) AS p05, round(max(hi), 6) AS p95
FROM part p JOIN pct ON p.p_brand = pct.p_brand
GROUP BY p.p_brand ORDER BY p.p_brand"""

  /** Partitioned-layout roundtrip: write the documents table as
    * lang-partitioned parquet (the layout a 100 TB corpus actually
    * lives in), read it back with a partition-key predicate, and
    * aggregate the survivors. The read plans a PartitionFilters entry —
    * non-matching lang directories are never opened (asserted in
    * PlanAssertionsSpec) — so the scan cost is proportional to the
    * selected partitions, not the corpus.
    */
  def q82_partitioned_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_q82_docs_" + java.lang.Integer.toHexString(dir.hashCode)).getAbsolutePath
    t(s, dir, "documents").write.mode("overwrite").partitionBy("lang").parquet(out)
    s.read.parquet(out)
      .filter(col("lang").isin("en", "fr"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
      .orderBy("lang", "source")
  }

  val q82Sql: String =
    """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM documents WHERE lang IN ('en', 'fr')
GROUP BY lang, source ORDER BY lang, source"""

  /** Nearest-centroid classification over the embeddings: per-label
    * centroids (elementwise mean — the long-form twin of q53), every
    * vector assigned to its nearest centroid by squared L2 (rounded to 6
    * decimals BEFORE the argmin so cross-engine float reorder cannot
    * flip assignments), reported as a label × predicted confusion
    * matrix. Centroids are |labels| rows — broadcast; the per-vector
    * argmin is a partial-aggregated min(struct), so the shuffle carries
    * one candidate per vector per task, and the confusion matrix itself
    * is |labels|² regardless of corpus size.
    */
  def q83_nearest_centroid(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val cent = e
      .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("clabel", "pos").agg(avg("x").as("c"))
      .groupBy("clabel")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("clabel"), expr("transform(pc, p -> p.c)").as("cv"))
    val d = round(
      aggregate(zip_with(col("v"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x), 6)
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("clabel"), d.as("d"))
      .groupBy("vec_id", "label")
      .agg(min(struct(col("d"), col("clabel"))).as("m"))
      .select(col("label"), col("m.clabel").as("predicted"))
      .groupBy("label", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "predicted")
  }

  val q83Sql: String =
    """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
idx AS (SELECT unnest(range(1, (SELECT max(len(v)) FROM e) + 1)) AS i),
cm AS (SELECT label AS clabel, i, avg(v[i]) AS cx FROM e CROSS JOIN idx GROUP BY label, i),
cent AS (SELECT clabel, list(cx ORDER BY i) AS cv FROM cm GROUP BY clabel),
scored AS (SELECT e.vec_id, e.label, cent.clabel,
                  round(list_sum(list_transform(range(1, len(e.v) + 1),
                        i -> (e.v[i] - cv[i]) * (e.v[i] - cv[i]))), 6) AS d
           FROM e CROSS JOIN cent),
a AS (SELECT vec_id, label, clabel FROM (
        SELECT vec_id, label, clabel,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
        FROM scored)
      WHERE rn = 1)
SELECT label, clabel AS predicted, count(*) AS n
FROM a GROUP BY label, clabel ORDER BY label, predicted"""

  /** LOCF (last-observation-carried-forward) gap fill: the dense
    * (user × day) grid with each user's latest observed event value
    * carried across silent days — what a feature-store daily snapshot
    * job emits. The day's representative observation is a partial-
    * aggregated max(struct(sec,event_id,value)) (deterministic: (sec,
    * event_id) is unique), the calendar is generated from one min/max
    * row, and the carry is a running last(ignoreNulls) over the per-user
    * day order — one shuffle on user_id. Output is grid-sized,
    * O(users × days), by definition of the snapshot.
    */
  def q84_locf_daily(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp").cast("long").as("sec"), col("value"))
      .withColumn("day", floor(col("sec").cast("double") / 86400).cast("long"))
    val daily = ev.groupBy("user_id", "day")
      .agg(max(struct(col("sec"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("day"), col("m.value").as("v"))
    val bounds = ev.agg(min("day").as("lo"), max("day").as("hi"))
    val days = bounds.select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val users = ev.select("user_id").distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    users.crossJoin(days)
      .join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        round(last("v", ignoreNulls = true).over(w), 2).as("locf_value"))
      .orderBy("user_id", "day")
  }

  val q84Sql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day, value FROM events),
daily AS (SELECT user_id, day, value AS v FROM (
            SELECT user_id, day, value,
                   row_number() OVER (PARTITION BY user_id, day ORDER BY sec DESC, event_id DESC) AS rn
            FROM e)
          WHERE rn = 1),
b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
days AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
users AS (SELECT DISTINCT user_id FROM e)
SELECT u.user_id, d.day,
       round(last_value(v IGNORE NULLS) OVER (PARTITION BY u.user_id ORDER BY d.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS locf_value
FROM users u CROSS JOIN days d
LEFT JOIN daily ON daily.user_id = u.user_id AND daily.day = d.day
ORDER BY u.user_id, d.day"""

  /** Snapshot diff (dataset versioning / CDC reconciliation): old and
    * new generations of the documents table keyed on doc_id, classified
    * added / removed / changed / unchanged via ONE full-outer join on
    * the key with a digest comparison — the shape behind "what changed
    * between yesterday's corpus and today's". The new generation is
    * derived deterministically (every 7th doc deleted, every 10th
    * re-chunked to a different n_chars, a shifted-id block added), so
    * both engines construct identical versions. Payloads never join:
    * the change test compares a per-row digest, so at 100 TB the
    * shuffle carries (key, 32-byte digest), not documents.
    */
  def q96_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val oldGen = base
    val newGen = base.filter(col("doc_id") % 7 =!= 0)
      .withColumn("n_chars",
        when(col("doc_id") % 10 === 0, col("n_chars") + 17).otherwise(col("n_chars")))
      .unionByName(base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("lang"), col("n_chars")))
    def digest(d: DataFrame) = d.select(col("doc_id"), col("lang"),
      sha2(concat_ws("|", col("lang"), col("n_chars")), 256).as("dg"))
    val o = digest(oldGen).withColumnRenamed("dg", "dg_old").withColumnRenamed("lang", "lang_old")
    val n = digest(newGen).withColumnRenamed("dg", "dg_new").withColumnRenamed("lang", "lang_new")
    o.join(n, Seq("doc_id"), "full_outer")
      .select(coalesce(col("lang_old"), col("lang_new")).as("lang"),
        when(col("dg_old").isNull, "added")
          .when(col("dg_new").isNull, "removed")
          .when(col("dg_old") =!= col("dg_new"), "changed")
          .otherwise("unchanged").as("change"))
      .groupBy("lang", "change")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "change")
  }

  val q96Sql: String =
    """WITH old_gen AS (SELECT doc_id, lang, n_chars FROM documents),
new_gen AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 10 = 0 THEN n_chars + 17 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 1000000, lang, n_chars FROM documents WHERE doc_id % 13 = 0),
o AS (SELECT doc_id, lang AS lang_old, sha256(lang || '|' || CAST(n_chars AS VARCHAR)) AS dg_old FROM old_gen),
n AS (SELECT doc_id, lang AS lang_new, sha256(lang || '|' || CAST(n_chars AS VARCHAR)) AS dg_new FROM new_gen),
d AS (SELECT coalesce(lang_old, lang_new) AS lang,
             CASE WHEN dg_old IS NULL THEN 'added'
                  WHEN dg_new IS NULL THEN 'removed'
                  WHEN dg_old <> dg_new THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM o FULL OUTER JOIN n USING (doc_id))
SELECT lang, change, count(*) AS n FROM d GROUP BY lang, change ORDER BY lang, change"""

  /** Ratio-to-report: each nation's share of its region's revenue, plus
    * its rank within the region. The share/rank windows run over the
    * pre-aggregated (region, nation) table — at most |nations| rows —
    * so the window cost is nil at any fact-table scale; dimension joins
    * broadcast.
    */
  def q85_revenue_share(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    val agg = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    val w = Window.partitionBy("r_name")
    agg.select(col("r_name"), col("n_name"), col("revenue"),
        round(col("revenue") / sum("revenue").over(w), 6).as("share"),
        rank().over(w.orderBy(col("revenue").desc, col("n_name"))).cast("long").as("rnk"))
      .orderBy("r_name", "rnk")
  }

  val q85Sql: String =
    """WITH agg AS (
  SELECT r_name, n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name)
SELECT r_name, n_name, revenue,
       round(revenue / sum(revenue) OVER (PARTITION BY r_name), 6) AS share,
       CAST(rank() OVER (PARTITION BY r_name ORDER BY revenue DESC, n_name) AS BIGINT) AS rnk
FROM agg ORDER BY r_name, rnk"""

  /** 2-D skyline (Pareto frontier): parts where no other part is both
    * cheaper-or-equal and smaller-or-equal (with one strict). Computed as
    * a DISTRIBUTED PREFIX-MIN, never a pairwise compare: (1) min size per
    * distinct price — keyed agg; (2) running min WITHIN each coarse price
    * bucket — window partitioned by bucket, parallel across buckets;
    * (3) running min ACROSS buckets — a global window over the per-bucket
    * minima only (|distinct buckets| rows, bounded by the price domain,
    * not the row count); (4) each part checks `least(within, below)`.
    * The only global-ordered structure is bucket-sized, so the plan holds
    * at any fact-table scale — the classic two-level scan decomposition.
    * NULL-free sentinel (`Int.MaxValue`) instead of null-skipping
    * `least`, whose NULL semantics differ across engines.
    */
  def q104_skyline(s: SparkSession, dir: String): DataFrame = {
    val big = lit(2147483647L)
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    // (1) one row per distinct price; bucket = floor(price / 100)
    val pp = p.groupBy("p_retailprice").agg(min("p_size").cast("long").as("msize"))
      .withColumn("bucket", floor(col("p_retailprice") / 100).cast("long"))
    // (2) strictly-cheaper min within the bucket (distinct prices, so
    // ROWS ... 1 PRECEDING == strictly lower price)
    val wIn = Window.partitionBy("bucket").orderBy("p_retailprice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = pp.withColumn("min_within", coalesce(min("msize").over(wIn), big))
    // (3) min over all strictly-lower buckets (tiny: one row per bucket)
    val wB = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val perBucket = pp.groupBy("bucket").agg(min("msize").as("bmin"))
      .withColumn("min_below", coalesce(min("bmin").over(wB), big))
      .select("bucket", "min_below")
    // (4) frontier test per part row
    within.join(perBucket, Seq("bucket"))
      .withColumn("best_lt", least(col("min_within"), col("min_below")))
      .join(p, Seq("p_retailprice"))
      .where(col("p_size").cast("long") === col("msize") && col("p_size") < col("best_lt"))
      .select(col("p_partkey"), round(col("p_retailprice"), 2).as("price"),
        col("p_size").cast("long").as("size"))
      .orderBy("p_partkey")
  }

  val q104Sql: String =
    """WITH pp AS (
  SELECT p_retailprice, CAST(min(p_size) AS BIGINT) AS msize,
         CAST(floor(p_retailprice / 100) AS BIGINT) AS bucket
  FROM part GROUP BY p_retailprice),
w AS (
  SELECT p_retailprice, msize, bucket,
         coalesce(min(msize) OVER (PARTITION BY bucket ORDER BY p_retailprice
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 2147483647) AS min_within
  FROM pp),
pb AS (
  SELECT bucket,
         coalesce(min(bmin) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 2147483647) AS min_below
  FROM (SELECT bucket, min(msize) AS bmin FROM pp GROUP BY bucket))
SELECT p_partkey, round(p_retailprice, 2) AS price, CAST(p_size AS BIGINT) AS size
FROM part
JOIN w USING (p_retailprice)
JOIN pb USING (bucket)
WHERE CAST(p_size AS BIGINT) = msize AND p_size < least(min_within, min_below)
ORDER BY p_partkey"""

  /** Robust anomaly detection: median / MAD (median absolute deviation)
    * per event type, flagging values beyond 3 MADs — the outlier screen
    * that survives the heavy tails a mean/stddev z-score (q67) does not.
    * Two grouped EXACT percentiles with a broadcast join of the 5-row
    * median table between them; the comparison reuses q35's proven
    * percentile ≡ quantile_cont interpolation parity, and both engines
    * compute |value − med| on identical doubles, so the 3·MAD boundary
    * is bit-deterministic. At 100 TB the same plan runs with
    * approx_percentile for med/mad (the only change is the agg function);
    * exact percentile is kept here because the oracle can replay it.
    */
  def q106_mad_outliers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"), col("value"))
    val med = e.groupBy("event_type").agg(expr("percentile(value, 0.5)").as("med"))
    val dev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type").agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(when(col("adev") > lit(3.0) * col("mad"), true)).as("n_outliers"),
        round(min("med"), 6).as("med"),
        round(min("mad"), 6).as("mad"))
      .orderBy("event_type")
  }

  val q106Sql: String =
    """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)),
mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
SELECT event_type, count(*) AS n,
       count(*) FILTER (WHERE adev > 3.0 * mad) AS n_outliers,
       round(min(med), 6) AS med,
       round(min(mad), 6) AS mad
FROM dev JOIN mad USING (event_type)
GROUP BY event_type ORDER BY event_type"""

  /** PageRank over the customer-nation → supplier-nation trade graph,
    * 5 iterations, damping 0.85 — iterative graph compute as keyed
    * join + aggregate per round (the Pregel-by-join pattern, same shape
    * as ConnectedComponents). All arithmetic is FIXED-POINT on scaled
    * longs (rank₀ = 10¹², contribution = (rank·w) div outW, update =
    * base + (85·inbound) div 100): integer ops are associative and
    * identical across engines, so five iterations stay bit-deterministic
    * where float contributions would drift with partition sum order.
    * The edge aggregation is the only fact-scale shuffle; iterations run
    * on the |nations|² edge list. At extreme weights (rank·w near 2⁶³)
    * drop SCALE a decimal digit per 10× edge-weight growth.
    */
  def q107_pagerank(s: SparkSession, dir: String): DataFrame = {
    val l  = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o  = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val c  = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val sp = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    // Persist the AGGREGATED edge list (|nations|² rows): it feeds the
    // out-weight table, the node set (twice, via the union) and every
    // iteration — without the persist the fact-scale 3-join re-runs for
    // each of those consumers.
    val edges = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(sp), l("l_suppkey") === sp("s_suppkey"))
      .groupBy(col("c_nationkey").cast("long").as("src"), col("s_nationkey").cast("long").as("dst"))
      .agg(count(lit(1)).as("w"))
      .persist()
    val outW = edges.groupBy("src").agg(sum("w").as("ow"))
    val e2 = edges.join(broadcast(outW), Seq("src"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    // The rank vector is |nations|-sized, so each iteration BROADCASTS it
    // onto the (persisted, src-partitioned) edge list: the per-round work
    // is a map-side join + one tiny keyed agg — the edge table never
    // re-shuffles. Each round is localCheckpoint()ed (Rounds.iterate):
    // a broadcast collects its input eagerly, so without truncation every
    // round would re-execute all previous rounds' lineage — compounding.
    // For graphs whose node set outgrows a broadcast, drop the hints and
    // the same loop runs as co-partitioned shuffle joins.
    val (ranks, _) = graft.core.Rounds.iterate(
        nodes.withColumn("pr", lit(1000000000000L)).localCheckpoint(), 5) { prev =>
      val contrib = e2.join(broadcast(prev), e2("src") === prev("node"))
        .select(col("dst"), expr("(pr * w) div ow").as("c"))
        .groupBy("dst").agg(sum("c").as("inbound"))
      nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          expr("150000000000 + (85 * coalesce(inbound, 0)) div 100").as("pr"))
    }(_ => false)
    ranks.join(broadcast(t(s, dir, "nation")),
        col("node") === col("n_nationkey"))
      .select(col("n_name"), col("pr").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("n_name"))
  }

  val q107Sql: String = {
    val iter = (1 to 5).map { i =>
      s"""r$i AS (SELECT n.node,
       CAST(150000000000 + (85 * coalesce(s.inbound, 0)) // 100 AS BIGINT) AS pr
       FROM nodes n LEFT JOIN (
         SELECT e.dst, CAST(sum((r.pr * e.w) // e.ow) AS BIGINT) AS inbound
         FROM e JOIN r${i - 1} r ON e.src = r.node GROUP BY e.dst) s
       ON s.dst = n.node)"""
    }.mkString(",\n")
    s"""WITH edges AS (
  SELECT CAST(c_nationkey AS BIGINT) AS src, CAST(s_nationkey AS BIGINT) AS dst, count(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2),
ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
e AS (SELECT edges.src, dst, CAST(w AS BIGINT) AS w, ow FROM edges JOIN ow USING (src)),
nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS pr FROM nodes),
$iter
SELECT n_name, pr AS rank_fp
FROM r5 JOIN nation ON node = n_nationkey
ORDER BY rank_fp DESC, n_name"""
  }

  /** Day-over-day audience drift: the MinHash-estimated vs exact Jaccard
    * of consecutive days' active-user sets — the corpus-drift monitor a
    * data pipeline runs to notice distribution shift WITHOUT comparing
    * raw sets. The estimator is the classic signature-agreement
    * fraction: J ≈ |{k : sig_k(A) = sig_k(B)}| / K.
    *
    * Scale shape: signatures are one MinHashAgg pass (K=64 longs per
    * day, partial-aggregated); the day-over-day comparison is a lag
    * window over the ~30-row daily table (bounded by the calendar, the
    * q104 argument) and a zip_with over two 64-long arrays. The exact
    * Jaccard columns exist as the demo's ground truth and cost a keyed
    * self-join on (h, adjacent-day) — a production monitor drops them
    * and ships 64 longs per day per table, which is the point: drift
    * detection from sketches alone, no raw-set retention.
    */
  def q118_user_drift(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val K = 64
    val h = PortableHash.asciiPolyHash(col("user_id").cast("string"))
    val ev = Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), h.as("h"))
      .distinct()
    val sigs = ev.groupBy("day")
      .agg(org.apache.spark.sql.graft.MinHashAgg.minhash(col("h"), K).as("sig"),
        count(lit(1)).as("n"))
    val w = Window.orderBy("day") // ~30 rows: bounded by the calendar
    val adj = sigs
      .withColumn("prev_day", lag("day", 1).over(w))
      .withColumn("prev_sig", lag("sig", 1).over(w))
      .withColumn("prev_n", lag("n", 1).over(w))
      .filter(col("prev_day").isNotNull)
    val inter = ev.as("a")
      .join(ev.as("b"), col("a.h") === col("b.h"))
      .groupBy(col("a.day").as("day"), col("b.day").as("bday"))
      .agg(count(lit(1)).as("ni"))
    adj.join(inter,
        adj("day") === inter("day") && adj("prev_day") === col("bday"), "left")
      .select(adj("day"),
        round(size(filter(zip_with(col("sig"), col("prev_sig"), (a, b) => a === b),
          x => x)).cast("double") / K, 6).as("est_jaccard"),
        round(coalesce(col("ni"), lit(0L)).cast("double")
          / (col("n") + col("prev_n") - coalesce(col("ni"), lit(0L))), 6).as("exact_jaccard"))
      .orderBy("day")
  }

  val q118Sql: String = {
    val ph = QueriesDedup.polyHashSql("CAST(user_id AS VARCHAR)")
    raw"""WITH hh AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, $ph AS h FROM events),
ks AS (SELECT k, ((k * 2654435761 + 1013904223) % 2147483646 + 1) | 1 AS a,
              (k * 1103515245 + 12345) % 2147483647 AS b
       FROM (SELECT unnest(range(0, 64)) AS k)),
sig AS (SELECT day, k, min((a * h + b) % 2147483647) AS m
        FROM hh CROSS JOIN ks GROUP BY day, k),
sizes AS (SELECT day, count(*) AS n FROM hh GROUP BY day),
days AS (SELECT day, lag(day) OVER (ORDER BY day) AS prev_day FROM sizes),
agree AS (SELECT d.day, count(*) FILTER (s1.m = s2.m) AS eq
          FROM days d
          JOIN sig s1 ON s1.day = d.day
          JOIN sig s2 ON s2.day = d.prev_day AND s2.k = s1.k
          WHERE d.prev_day IS NOT NULL GROUP BY d.day),
inter AS (SELECT d.day, count(*) AS ni
          FROM days d
          JOIN hh a ON a.day = d.day
          JOIN hh b ON b.day = d.prev_day AND b.h = a.h
          GROUP BY d.day)
SELECT d.day,
       round(CAST(agree.eq AS DOUBLE) / 64, 6) AS est_jaccard,
       round(CAST(coalesce(inter.ni, 0) AS DOUBLE)
             / (sa.n + sb.n - coalesce(inter.ni, 0)), 6) AS exact_jaccard
FROM days d
JOIN agree ON agree.day = d.day
JOIN sizes sa ON sa.day = d.day
JOIN sizes sb ON sb.day = d.prev_day
LEFT JOIN inter ON inter.day = d.day
WHERE d.prev_day IS NOT NULL
ORDER BY d.day"""
  }

  /** Equi-depth (quantile-bucketed) histogram of order totals — the
    * feature-binning / data-balancing primitive an ML pipeline uses
    * where q68's equi-WIDTH bins would put 90 % of rows in two buckets.
    * Boundaries come from ANSI PERCENTILE_DISC (quartiles), which picks
    * ACTUAL data values (smallest value with cume_dist ≥ q) — no
    * interpolation, so the cut points are bit-identical across engines;
    * rows then bucket by comparison against the one broadcast boundary
    * row.
    *
    * Scale shape: percentile_disc is a distributed aggregate (sort
    * within partial state, merge — never a global window), the
    * boundary row broadcasts, and the bucket assignment is a narrow
    * projection into a 4-group partial aggregate. The oracle replays
    * the ANSI definition explicitly (cume_dist CTE) rather than trust
    * DuckDB's quantile_disc indexing convention, which differs from
    * ANSI at some (n mod 4) counts.
    */
  def q115_equidepth(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "orders").agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)").as("b1"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("b2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)").as("b3"))
    t(s, dir, "orders").select(col("o_totalprice").as("x"))
      .crossJoin(broadcast(b)) // one row: the quartile boundaries
      .withColumn("bucket",
        when(col("x") <= col("b1"), 0L).when(col("x") <= col("b2"), 1L)
          .when(col("x") <= col("b3"), 2L).otherwise(3L))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        min("x").as("lo"), max("x").as("hi"),
        sum(round(col("x") * 100).cast("long")).as("total_cents"))
      .orderBy("bucket")
  }

  /** Mergeable hash-sample quantile sketch — the quantile member of the
    * sketch family (KMV q45/q117 for distincts, CMS q105 for heavy
    * hitters): per group, keep the 512 rows with the SMALLEST permuted
    * portable hash of the row key (a uniform row sample, deterministic
    * given the hash), estimate p50/p95 from the sample, and report the
    * exact percentiles beside them as the demo's ground truth.
    *
    * Mergeable by the KMV argument: the k hash-smallest rows of a union
    * are the k smallest of the per-partition k-smallest — so partial
    * aggregation (TopKAgg's merge) IS the sketch merge, the shuffle
    * carries O(groups × k) pairs regardless of row count, and daily
    * sketches roll up to monthly ones without re-scanning raw data
    * (exactly q117's pattern, for quantiles). The hash goes through the
    * affine permutation (q45's lesson: raw polynomial hashes of short
    * ids concentrate near 0 and break uniformity).
    *
    * A production rollup drops the exact columns; they are the point of
    * the demonstration here — at the gate corpus the 512-sample
    * estimates land within a few percent of the exact cents.
    */
  def q125_sketch_quantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val k = 512
    val h = PortableHash.minHashPerm(
      PortableHash.asciiPolyHash(col("o_orderkey").cast("string")), 0)
    val base = t(s, dir, "orders")
      .select(col("o_orderpriority").as("prio"), h.as("h"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val idx = (q: Double) =>
      greatest(lit(1), ceil(size(col("vals")) * lit(q)).cast("int"))
    // the exact columns ride the sample's aggregate; the regroup by the
    // same keys reads its partitioning, so the plan keeps one exchange
    org.apache.spark.sql.graft.TopKAgg.topKRows(base.withColumn("negh", -col("h").cast("double")),
        Seq(col("prio")), "negh", "cents", k,
        count(lit(1)).as("n_orders"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").cast("long").as("exact_p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").cast("long").as("exact_p95"))
      .groupBy("prio", "n_orders", "exact_p50", "exact_p95")
      .agg(array_sort(collect_list(col("cents"))).as("vals"))
      .select(col("prio"), col("n_orders"),
        size(col("vals")).cast("long").as("n_sample"),
        element_at(col("vals"), idx(0.5)).as("est_p50"),
        element_at(col("vals"), idx(0.95)).as("est_p95"),
        col("exact_p50"), col("exact_p95"))
      .orderBy("prio")
  }

  val q125Sql: String = {
    val poly = QueriesDedup.polyHashSql("CAST(o_orderkey AS VARCHAR)")
    raw"""WITH b AS (SELECT o_orderpriority AS prio,
         ($poly * 1013904225 + 12345) % 2147483647 AS h,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
r AS (SELECT prio, cents, row_number() OVER (PARTITION BY prio ORDER BY h, cents) AS rn FROM b),
smp AS (SELECT prio, list(cents ORDER BY cents) AS vals FROM r WHERE rn <= 512 GROUP BY prio),
cd AS (SELECT prio, cents, cume_dist() OVER (PARTITION BY prio ORDER BY cents) AS cd FROM b),
ex AS (SELECT prio, min(CASE WHEN cd >= 0.5 THEN cents END) AS exact_p50,
              min(CASE WHEN cd >= 0.95 THEN cents END) AS exact_p95 FROM cd GROUP BY prio),
cnt AS (SELECT prio, count(*) AS n_orders FROM b GROUP BY prio)
SELECT smp.prio, cnt.n_orders, CAST(len(vals) AS BIGINT) AS n_sample,
       vals[greatest(1, CAST(ceil(len(vals) * 0.5) AS INT))] AS est_p50,
       vals[greatest(1, CAST(ceil(len(vals) * 0.95) AS INT))] AS est_p95,
       ex.exact_p50, ex.exact_p95
FROM smp JOIN ex USING (prio) JOIN cnt USING (prio) ORDER BY prio"""
  }

  val q115Sql: String =
    """WITH cd AS (SELECT o_totalprice AS x, cume_dist() OVER (ORDER BY o_totalprice) AS cd FROM orders),
b AS (SELECT min(CASE WHEN cd >= 0.25 THEN x END) AS b1,
             min(CASE WHEN cd >= 0.5  THEN x END) AS b2,
             min(CASE WHEN cd >= 0.75 THEN x END) AS b3 FROM cd),
bk AS (SELECT x, CASE WHEN x <= b1 THEN 0 WHEN x <= b2 THEN 1 WHEN x <= b3 THEN 2 ELSE 3 END AS bucket
       FROM (SELECT o_totalprice AS x FROM orders) CROSS JOIN b)
SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_orders,
       min(x) AS lo, max(x) AS hi,
       CAST(sum(CAST(round(x * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM bk GROUP BY bucket ORDER BY bucket"""

  /** MULTI-TABLE incremental view maintenance through the gate: the
    * orders ⋈ lineitem revenue-per-priority view is built by REPLAYING
    * a fixed four-batch upsert schedule through the join-IVM sinks
    * (`StreamingJobs.joinMaintLeftSink`/`joinMaintRightSink` — delta
    * maintenance, never a recompute: left upserts move R(k) between
    * groups, right upserts send value deltas through the current left
    * snapshot), then reading the maintained view. Batches interleave
    * the two sides (left half → right half → left rest → right rest) so
    * every delta path executes, including right details arriving before
    * their left row. Values are integer CENTS (round(price·(1−disc)·100)
    * — exact in doubles up to 2⁵³), so the ±-delta accumulation is
    * EXACT integer arithmetic and the maintained view hash-matches a
    * from-scratch recompute bit-for-bit — which is precisely the oracle:
    * since each key is delivered exactly once per side, the final
    * maintained state equals the plain join-aggregate over the full
    * tables. Deterministic under reruns: the fixed batch ids rebuild
    * the version chain from v=0 regardless of leftovers (the replay
    * contract), and duplicate physical lineitem rows get distinct
    * detail keys with identical payloads, so the view is invariant to
    * their tie order.
    */
  def q162_join_ivm(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingJobs
    // a FIXED 400-order key window (the recall-panel convention): the
    // demo-scale sinks rewrite full snapshots per batch (the documented
    // simplification of the transactional-table MERGE), so the entry
    // pins the delta SEMANTICS on a bounded fixture instead of paying
    // 4× snapshot rewrites of the whole fact table every bench run
    val orders = t(s, dir, "orders").filter(col("o_orderkey") < 400)
    val lineitem = t(s, dir, "lineitem").filter(col("l_orderkey") < 400)
      .withColumn("rk",
        row_number().over(Window.orderBy("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey", "l_extendedprice", "l_discount")).cast("long"))
      .persist()
    def leftRows(df: DataFrame, ts: Long) = df.select(
      col("o_orderkey").as("k"), timestamp_seconds(lit(ts)).as("ts"),
      col("o_orderpriority").as("grp"))
    def rightRows(df: DataFrame, ts: Long) = df.select(
      col("rk"), col("l_orderkey").as("k"), timestamp_seconds(lit(ts)).as("ts"),
      round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0).as("v"))
    val out = QueriesSources.tmp("graft_q162_ivm_", dir)
    StreamingJobs.joinMaintLeftSink(out)(leftRows(orders.filter(col("o_orderkey") % 2 === 0), 100L), 0L)
    StreamingJobs.joinMaintRightSink(out)(rightRows(lineitem.filter(col("rk") % 2 === 0), 100L), 1L)
    StreamingJobs.joinMaintLeftSink(out)(leftRows(orders.filter(col("o_orderkey") % 2 =!= 0), 200L), 2L)
    StreamingJobs.joinMaintRightSink(out)(rightRows(lineitem.filter(col("rk") % 2 =!= 0), 200L), 3L)
    StreamingJobs.joinMaintView(s, out)
      .select(col("grp"), col("total_v").cast("long").as("total_cents"), col("n_items"))
      .orderBy("grp")
  }

  /** Oracle: the maintained view's fixpoint — every key delivered once
    * per side, so the final state is the plain join-aggregate; cents
    * keep the ±-delta path exact, hence hashable.
    */
  val q162Sql: String =
    """SELECT o.o_orderpriority AS grp,
       CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       count(*) AS n_items
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey < 400
GROUP BY o.o_orderpriority ORDER BY grp"""

  /** TEMPORAL drift monitor — q184's PSI on the time axis: for every
    * day, the population-stability index between that day's EVENT-TYPE
    * mix and the previous calendar day's (add-one smoothing over the
    * observed type set K, so a type absent on one side still
    * contributes), with the standard <0.1 / 0.1–0.2 / >0.2 reading.
    * This is the "did today's traffic composition shift" alarm an event
    * pipeline pages on — the third drift axis next to q184 (between
    * sources) and q118 (per-user behavioral drift).
    *
    * Scale shape: one events scan into (day, type) counts; the PSI
    * support is the bounded days×types grid (types is a broadcast
    * category table); day-over-day pairing is a keyed equi-join of the
    * grid against itself shifted by one day. Days without a previous
    * calendar day report nothing (inner join — no fabricated baseline).
    */
  def q185_temporal_drift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(daySec(col("ts")).as("day"), col("event_type"))
    val cnt = ev.groupBy("day", "event_type").agg(count(lit(1)).as("c"))
    val types = cnt.select("event_type").distinct()
    val kRow = types.agg(count(lit(1)).cast("double").as("k")) // one row
    val grid = cnt.select("day").distinct().crossJoin(broadcast(types))
    val tot = cnt.groupBy("day").agg(sum("c").as("n"))
    val p = grid.join(cnt, Seq("day", "event_type"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .join(tot, Seq("day"))
      .crossJoin(broadcast(kRow))
      .select(col("day"), col("event_type"), col("n"),
        ((col("c") + lit(1.0)) / (col("n") + col("k"))).as("p"))
    val prev = p.select((col("day") + 1).as("day"), col("event_type"), col("p").as("q"))
    p.join(prev, Seq("day", "event_type"))
      .groupBy("day")
      .agg(min("n").cast("long").as("n_events"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"))
      .withColumn("verdict",
        when(col("psi") > 0.2, "drift")
          .when(col("psi") > 0.1, "moderate").otherwise("stable"))
      .select("day", "n_events", "psi", "verdict")
      .orderBy("day")
  }

  /** Oracle: the q67 day arithmetic, the same days×types grid with
    * c = 0 smoothing, the same shifted self-join and PSI sum.
    */
  val q185Sql: String =
    raw"""WITH ev AS (SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day, event_type FROM events),
cnt AS (SELECT day, event_type, count(*) AS c FROM ev GROUP BY day, event_type),
types AS (SELECT DISTINCT event_type FROM cnt),
kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM types),
grid AS (SELECT d.day, t.event_type FROM (SELECT DISTINCT day FROM cnt) d CROSS JOIN types t),
tot AS (SELECT day, sum(c) AS n FROM cnt GROUP BY day),
p AS (SELECT g.day, g.event_type, tot.n,
             (coalesce(cnt.c, 0) + 1.0) / (tot.n + kk.k) AS p
      FROM grid g LEFT JOIN cnt ON cnt.day = g.day AND cnt.event_type = g.event_type
      JOIN tot ON tot.day = g.day CROSS JOIN kk),
pr AS (SELECT day + 1 AS day, event_type, p AS q FROM p),
j AS (SELECT p.day, p.n, p.p, pr.q FROM p JOIN pr ON pr.day = p.day AND pr.event_type = p.event_type),
agg AS (SELECT day, CAST(min(n) AS BIGINT) AS n_events,
               round(sum((p - q) * ln(p / q)), 6) AS psi
        FROM j GROUP BY day)
SELECT day, n_events, psi,
       CASE WHEN psi > 0.2 THEN 'drift'
            WHEN psi > 0.1 THEN 'moderate' ELSE 'stable' END AS verdict
FROM agg ORDER BY day"""

  /** CHANGE DATA FEED over a maintained sink state
    * ([[graft.streaming.DeltaState.changesBetween]]) — the delta-log's
    * second dividend after time travel (q162's sibling): four upsert
    * batches maintain the per-user latest-event snapshot (LWW keys
    * table), and the feed reports exactly which users appeared or
    * changed between version 1 and version 3, with pre/post images —
    * what a downstream cache, search index, or audit consumer reads
    * instead of re-diffing two O(state) snapshots. The range is
    * uncompacted here, so the feed takes the SLICED path: touched keys
    * come from the retained delta files of v2/v3 alone and the two
    * as-of states are probed only at those keys — O(changes in range),
    * never O(state); the sliced == full-diff equality, the compaction
    * fallback and the below-floor refusal are spec-pinned
    * (StreamingSpec "change data feed").
    *
    * The oracle replays both endpoint snapshots (per-user winner by
    * (ts, event_id) over the delivered batch prefix — the late-arrival
    * guard makes the maintained snapshot equal that global argmax) and
    * diffs them; winners are unique per event_id, so "any value column
    * changed" is exactly "a different winning event".
    */
  def q197_state_cdf(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingJobs
    val e = t(s, dir, "events").select(col("user_id"), col("event_id"), col("ts"),
      col("event_type"),
      // integral values: the +/- delta maintenance sums doubles; integer
      // payloads keep maintained == recomputed bit-exact at any scale
      round(col("value")).as("value"),
      pmod(col("event_id"), lit(4)).as("b"))
    val out = QueriesSources.tmp("graft_q197_cdf_", dir)
    graft.core.ArtifactIO.delete(s, out) // fresh chain per run
    (0 to 3).foreach(i =>
      StreamingJobs.aggMaintSink(out)(e.filter(col("b") === i).drop("b"), i.toLong))
    StreamingJobs.aggMaintKeyChanges(s, out, 1L, 3L).get
      .select(col("user_id"), col("change"),
        col("pre_event_id"), col("post_event_id"),
        col("pre_event_type"), col("post_event_type"),
        col("pre_value").cast("long").as("pre_value_l"),
        col("post_value").cast("long").as("post_value_l"))
      .orderBy("user_id")
  }

  val q197Sql: String =
    raw"""WITH e AS (SELECT user_id, event_id, ts, event_type, round(value) AS value, event_id % 4 AS b FROM events),
w1 AS (SELECT user_id, event_id, event_type, value FROM (
         SELECT user_id, event_id, event_type, value,
                row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         FROM e WHERE b <= 1) WHERE rn = 1),
w3 AS (SELECT user_id, event_id, event_type, value FROM (
         SELECT user_id, event_id, event_type, value,
                row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         FROM e WHERE b <= 3) WHERE rn = 1)
SELECT COALESCE(w1.user_id, w3.user_id) AS user_id,
       CASE WHEN w1.user_id IS NULL THEN 'insert'
            WHEN w3.user_id IS NULL THEN 'delete' ELSE 'update' END AS change,
       w1.event_id AS pre_event_id, w3.event_id AS post_event_id,
       w1.event_type AS pre_event_type, w3.event_type AS post_event_type,
       CAST(w1.value AS BIGINT) AS pre_value_l, CAST(w3.value AS BIGINT) AS post_value_l
FROM w1 FULL JOIN w3 ON w1.user_id = w3.user_id
WHERE w1.event_id IS DISTINCT FROM w3.event_id
ORDER BY user_id"""

  /** K-ANONYMITY AUDIT — the governance/privacy check a training-data
    * release runs before publishing a table with quasi-identifiers
    * (Sweeney 2002): group by the QI tuple (nation, market segment,
    * account-balance band), report each equivalence class's size, and
    * flag classes below k = 5 — the rows a release must suppress or
    * generalize. The audit also evaluates ONE generalization step
    * (drop the balance band) per class, so the output shows whether
    * coarsening the QI rescues the failing classes — the
    * suppress-vs-generalize decision table. Scale: two keyed
    * aggregations over the same scan (both map-side partial) and a
    * broadcast-sized join on the coarse QI — the audit costs one pass
    * regardless of table size; class counts are integers, so the
    * output is exact everywhere.
    */
  def q211_k_anonymity(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / lit(2000.0)).as("bal_band"))
    val g0 = c.groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("n"))
    val g1 = c.groupBy("c_nationkey", "c_mktsegment").agg(count(lit(1)).as("gen_n"))
    g0.join(g1, Seq("c_nationkey", "c_mktsegment"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_band"),
        col("n"), (col("n") >= 5).cast("long").as("anon_k5"),
        col("gen_n"), (col("gen_n") >= 5).cast("long").as("gen_anon_k5"))
      .orderBy("c_nationkey", "c_mktsegment", "bal_band")
  }

  val q211Sql: String =
    raw"""WITH c AS (SELECT c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band FROM customer),
g0 AS (SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS n FROM c GROUP BY 1, 2, 3),
g1 AS (SELECT c_nationkey, c_mktsegment, count(*) AS gen_n FROM c GROUP BY 1, 2)
SELECT g0.c_nationkey, g0.c_mktsegment, g0.bal_band, g0.n,
       CAST(g0.n >= 5 AS BIGINT) AS anon_k5,
       g1.gen_n, CAST(g1.gen_n >= 5 AS BIGINT) AS gen_anon_k5
FROM g0 JOIN g1 ON g1.c_nationkey = g0.c_nationkey AND g1.c_mktsegment = g0.c_mktsegment
ORDER BY g0.c_nationkey, g0.c_mktsegment, g0.bal_band"""

  /** DECLARATIVE DATA-QUALITY EXPECTATION SUITE — the Deequ / Great
    * Expectations shape: a battery of named constraints evaluated in
    * as few passes as the constraints allow, emitting one row per
    * expectation with exact integer pass/fail counts and a ppm pass
    * rate (integer floor-division — no float ratio under the hash).
    * Analyzer fusion is the scale story: the three lineitem row-level
    * checks share ONE scan (conditional aggregates), the two orders
    * checks share another; only the uniqueness expectation shuffles
    * (keyed on the candidate key) and the referential check is a keyed
    * join — at 100 TB the battery costs two scans + one keyed agg +
    * one keyed join no matter how many row-level expectations are
    * declared.
    */
  def q212_expectations(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    def flag(c: Column) = sum(when(c, 1L).otherwise(0L))
    val liBattery = li.agg(count(lit(1)).as("n"),
        flag(col("l_quantity") >= 1 && col("l_quantity") <= 50).as("p1"),
        flag(col("l_discount") >= 0 && col("l_discount") <= 0.1).as("p2"),
        flag(col("l_extendedprice") > 0).as("p3"))
      .selectExpr(
        """stack(3, 'lineitem.quantity_in_1_50', p1,
          |          'lineitem.discount_in_0_0.1', p2,
          |          'lineitem.price_positive', p3) AS (expectation, pass_n)""".stripMargin,
        "n")
    val uq = li.groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n"),
        sum(when(col("c") === 1, col("c")).otherwise(0L)).as("pass_n"))
      .select(lit("lineitem.pk_unique").as("expectation"), col("pass_n"), col("n"))
    val fk = li.select(col("l_orderkey"))
      .join(ord.select(col("o_orderkey")).distinct(),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n"), flag(col("o_orderkey").isNotNull).as("pass_n"))
      .select(lit("lineitem.fk_orders").as("expectation"), col("pass_n"), col("n"))
    val oBattery = ord.agg(count(lit(1)).as("n"),
        flag(col("o_orderstatus").isin("F", "O", "P")).as("p1"),
        flag(col("o_orderdate") >= lit("1992-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp")).as("p2"))
      .selectExpr(
        """stack(2, 'orders.status_domain', p1,
          |          'orders.date_in_bounds', p2) AS (expectation, pass_n)""".stripMargin,
        "n")
    liBattery.select("expectation", "pass_n", "n")
      .union(uq.select("expectation", "pass_n", "n"))
      .union(fk.select("expectation", "pass_n", "n"))
      .union(oBattery.select("expectation", "pass_n", "n"))
      .select(col("expectation"), col("n"), col("pass_n"),
        (col("n") - col("pass_n")).as("fail_n"),
        expr("(pass_n * 1000000) div n").as("pass_ppm"))
      .orderBy("expectation")
  }

  val q212Sql: String =
    raw"""WITH u AS (
SELECT 'lineitem.quantity_in_1_50' AS expectation, count(*) AS n,
       sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 ELSE 0 END) AS pass_n FROM lineitem
UNION ALL
SELECT 'lineitem.discount_in_0_0.1', count(*),
       sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1 THEN 1 ELSE 0 END) FROM lineitem
UNION ALL
SELECT 'lineitem.price_positive', count(*),
       sum(CASE WHEN l_extendedprice > 0 THEN 1 ELSE 0 END) FROM lineitem
UNION ALL
SELECT 'lineitem.pk_unique', sum(c), sum(CASE WHEN c = 1 THEN c ELSE 0 END)
FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
UNION ALL
SELECT 'lineitem.fk_orders', count(*),
       sum(CASE WHEN ok.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
FROM lineitem li LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) ok
  ON ok.o_orderkey = li.l_orderkey
UNION ALL
SELECT 'orders.status_domain', count(*),
       sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 1 ELSE 0 END) FROM orders
UNION ALL
SELECT 'orders.date_in_bounds', count(*),
       sum(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
                 AND o_orderdate < TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END) FROM orders)
SELECT expectation, CAST(n AS BIGINT) AS n, CAST(pass_n AS BIGINT) AS pass_n,
       CAST(n - pass_n AS BIGINT) AS fail_n,
       CAST((pass_n * 1000000) // n AS BIGINT) AS pass_ppm
FROM u ORDER BY expectation"""

  /** POLICY-DRIVEN COLUMN MASKING + ROW-LEVEL SECURITY — the governed
    * read every lakehouse catalog (Unity/Ranger-style) applies between
    * the storage layer and the consumer: a per-source policy (allow /
    * mask / deny, here source-number mod 3 — in production a broadcast
    * policy table) filters DENIED rows out entirely, rewrites the
    * sensitive column of MASKED rows to a deterministic fingerprint
    * token (irreversible, but stable for joins/dedup — the q103 PII
    * redaction's table-level sibling), and coarsens the numeric
    * side-channel (n_chars banded to 100s) so masked rows leak no
    * exact lengths. The output audits every surviving row — action,
    * masked-text length and banded metadata plus the content
    * fingerprint — so the gate hashes the policy decisions AND the
    * mask arithmetic. Scale: the governed read is MAP-ONLY (plan-
    * asserted in PlanAssertionsSpec: no join, no hash shuffle) — deny
    * is a plain filter (it reaches the scan's PushedFilters when the
    * policy is a stored column rather than this fixture's derived
    * one), mask is a projection, and a real policy table broadcasts.
    */
  def q214_column_masking(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
      col("text"), col("n_chars"),
      expr("CAST(substring(source, 4) AS INT) % 3").as("p"),
      PortableHash.asciiPolyHash(concat_ws(" ", Text.tokens(col("text")))).as("fp"))
    d.filter(col("p") =!= 2)
      .select(col("doc_id"), col("source"),
        when(col("p") === 0, lit("allow")).otherwise(lit("mask")).as("action"),
        when(col("p") === 0, col("text"))
          .otherwise(concat(lit("masked:"), col("fp").cast("string"))).as("text_out"),
        when(col("p") === 0, col("n_chars"))
          .otherwise(expr("(n_chars div 100) * 100")).as("n_chars_out"),
        col("fp"))
      .select(col("doc_id"), col("source"), col("action"),
        length(col("text_out")).cast("long").as("out_len"),
        col("n_chars_out"), col("fp"))
      .orderBy("doc_id")
  }

  val q214Sql: String =
    raw"""WITH d AS (SELECT doc_id, source, text, n_chars,
                 CAST(substr(source, 4) AS INTEGER) % 3 AS p,
                 ${QueriesDedup.polyHashSql(s"array_to_string(${QueriesText.ToksSql}, ' ')")} AS fp
           FROM documents),
m AS (SELECT doc_id, source,
             CASE WHEN p = 0 THEN 'allow' ELSE 'mask' END AS action,
             CASE WHEN p = 0 THEN text ELSE 'masked:' || CAST(fp AS VARCHAR) END AS text_out,
             CASE WHEN p = 0 THEN n_chars ELSE (n_chars // 100) * 100 END AS n_chars_out,
             fp
      FROM d WHERE p <> 2)
SELECT doc_id, source, action, CAST(length(text_out) AS BIGINT) AS out_len,
       n_chars_out, fp
FROM m ORDER BY doc_id"""

  /** POINT-IN-TIME-CORRECT FEATURE-STORE JOIN — the training-set
    * assembly contract (the "time travel join" every feature store
    * sells): each label row (a purchase) is enriched with the latest
    * feature SNAPSHOT whose timestamp is at-or-before the label's —
    * never a later one, so no feature computed from post-label events
    * can leak into training. Features here are daily per-user
    * cumulative snapshots derived from the same event stream (count +
    * integral value sum, published at end-of-day, so a label inside
    * day d sees at most day d−1's snapshot), plus a second profile
    * feature (account age from the signup event) guarded to −1 when
    * the signup hasn't happened yet — both leakage-safe by
    * construction and both under the hash. Scale: the snapshot build
    * is two keyed aggregations; the as-of join is
    * [[graft.operators.AsOf]]'s single-shuffle union + running-last
    * plan (no pair blow-up); the profile join is keyed. Labels,
    * features and the join all partition by user — nothing data-scale
    * ever single-partitions.
    */
  def q215_feature_store(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("timestamp").cast("long").as("sec"),
        round(col("value")).cast("long").as("v"))
    val daily = ev.groupBy(col("user_id"), floor(col("sec") / 86400).as("day"))
      .agg(count(lit(1)).as("n_day"), sum("v").as("v_day"))
    val wU = Window.partitionBy("user_id").orderBy("day")
    val snaps = daily
      .withColumn("n_cum", sum("n_day").over(wU))
      .withColumn("v_cum", sum("v_day").over(wU))
      .select(col("user_id"), ((col("day") + 1) * 86400).as("snap_ts"),
        col("n_cum"), col("v_cum"))
    val labels = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("label_id"), col("sec").as("label_ts"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("sec").as("signup_ts"))
    graft.operators.AsOf
      .asOfJoinBackward(labels, snaps, "user_id", "label_ts", "snap_ts", rightPrefix = "f_")
      .join(signup, Seq("user_id"), "left")
      .select(col("label_id"), col("user_id"), col("label_ts"),
        coalesce(col("f_snap_ts"), lit(-1L)).as("feat_ts"),
        coalesce(col("f_n_cum"), lit(0L)).as("n_events_cum"),
        coalesce(col("f_v_cum"), lit(0L)).as("value_cum"),
        when(col("signup_ts").isNull || col("signup_ts") > col("label_ts"), lit(-1L))
          .otherwise(expr("(label_ts - signup_ts) div 86400")).as("account_age_days"))
      .orderBy("label_id")
  }

  val q215Sql: String =
    raw"""WITH ev AS (SELECT user_id, event_id, event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                  CAST(round(value) AS BIGINT) AS v FROM events),
daily AS (SELECT user_id, sec // 86400 AS day, count(*) AS n_day, sum(v) AS v_day
          FROM ev GROUP BY 1, 2),
snaps AS (SELECT user_id, (day + 1) * 86400 AS snap_ts,
                 sum(n_day) OVER (PARTITION BY user_id ORDER BY day) AS n_cum,
                 sum(v_day) OVER (PARTITION BY user_id ORDER BY day) AS v_cum
          FROM daily),
labels AS (SELECT user_id, event_id AS label_id, sec AS label_ts FROM ev
           WHERE event_type = 'purchase'),
su AS (SELECT user_id, min(sec) AS signup_ts FROM ev WHERE event_type = 'signup' GROUP BY 1),
j AS (SELECT l.label_id, l.user_id, l.label_ts, s.snap_ts, s.n_cum, s.v_cum
      FROM labels l ASOF LEFT JOIN snaps s
        ON l.user_id = s.user_id AND l.label_ts >= s.snap_ts)
SELECT j.label_id, j.user_id, j.label_ts,
       COALESCE(j.snap_ts, CAST(-1 AS BIGINT)) AS feat_ts,
       CAST(COALESCE(j.n_cum, 0) AS BIGINT) AS n_events_cum,
       CAST(COALESCE(j.v_cum, 0) AS BIGINT) AS value_cum,
       CASE WHEN su.signup_ts IS NULL OR su.signup_ts > j.label_ts THEN CAST(-1 AS BIGINT)
            ELSE (j.label_ts - su.signup_ts) // 86400 END AS account_age_days
FROM j LEFT JOIN su ON su.user_id = j.user_id
ORDER BY j.label_id"""

  /** STREAMING FEATURE-STORE MAINTENANCE — q215's snapshot table kept
    * current by INCREMENTAL VIEW MAINTENANCE instead of recompute:
    * four event batches each write only their ADDITIVE delta of the
    * per-(user, day) daily aggregate into a [[graft.streaming.DeltaState]]
    * Sum-kind chain (O(batch) IO per batch; the same delta-log that
    * backs the q197 CDF and time travel), the read side folds the
    * chain by per-key summation, and the point-in-time training-set
    * assembly runs UNCHANGED on the folded view. The oracle is
    * EXACTLY q215's one-shot SQL — hash equality IS the maintenance
    * contract (folded increments == recompute), on top of the replay /
    * redelivery / compaction guarantees DeltaState already carries
    * from StreamingSpec. At 100 TB: per-ingest-batch feature upkeep
    * costs the batch's own aggregate, never a state rewrite, and the
    * serve path is identical to the batch twin's.
    */
  def q219_stream_features(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DeltaState
    import DeltaState.{Sum, Table}
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("timestamp").cast("long").as("sec"),
        round(col("value")).cast("long").as("v"),
        pmod(col("event_id"), lit(4)).as("b"))
    val out = QueriesSources.tmp("graft_q219_feat_", dir)
    graft.core.ArtifactIO.delete(s, out) // fresh chain per run
    val layout = Seq(Table("daily", Sum(Seq("user_id", "day"))))
    (0 to 3).foreach { i =>
      val delta = ev.filter(col("b") === i)
        .groupBy(col("user_id"), floor(col("sec") / 86400).as("day"))
        .agg(count(lit(1)).as("n_day"), sum("v").as("v_day"))
      DeltaState.writeDelta(s, out, i.toLong, layout, Seq("daily" -> delta))
    }
    val daily = DeltaState.asOf(s, out, Table("daily", Sum(Seq("user_id", "day")))).get
    val wU = Window.partitionBy("user_id").orderBy("day")
    val snaps = daily
      .withColumn("n_cum", sum("n_day").over(wU))
      .withColumn("v_cum", sum("v_day").over(wU))
      .select(col("user_id"), ((col("day") + 1) * 86400).as("snap_ts"),
        col("n_cum"), col("v_cum"))
    val labels = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("label_id"), col("sec").as("label_ts"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("sec").as("signup_ts"))
    graft.operators.AsOf
      .asOfJoinBackward(labels, snaps, "user_id", "label_ts", "snap_ts", rightPrefix = "f_")
      .join(signup, Seq("user_id"), "left")
      .select(col("label_id"), col("user_id"), col("label_ts"),
        coalesce(col("f_snap_ts"), lit(-1L)).as("feat_ts"),
        coalesce(col("f_n_cum"), lit(0L)).as("n_events_cum"),
        coalesce(col("f_v_cum"), lit(0L)).as("value_cum"),
        when(col("signup_ts").isNull || col("signup_ts") > col("label_ts"), lit(-1L))
          .otherwise(expr("(label_ts - signup_ts) div 86400")).as("account_age_days"))
      .orderBy("label_id")
  }

  /** Oracle: q215's one-shot SQL verbatim — the hash match certifies
    * folded-incremental == recompute through the identical serve path.
    */
  val q219Sql: String = q215Sql

  // ─── PII detection & redaction, per-document ledger (q230) ──────────
  //
  // q103_pii_redact is the corpus-level audit (email/phone counts +
  // residual-zero per lang); q230 is its PER-DOCUMENT release ledger —
  // the artifact a downstream store checks itself against: span counts
  // per doc for THREE pattern families (emails, IPv4 literals, long
  // digit runs — the latter two absent from q103), and the REDACTED
  // text's md5 fingerprint, so "does the serving copy equal the
  // scrubbed copy?" is one hash-join, not a re-scan. Patterns stay in
  // the syntax subset where java.util.regex and RE2 (DuckDB) agree
  // exactly — character classes, bounded counted repeats, \b — no
  // backreferences or lookaround, so both engines find identical spans.
  //
  // The synthetic corpus contains no digits at all, so the scan would be
  // vacuous on raw fixtures: every 7th document is enriched IN-PLAN with
  // a deterministic contact line derived from its own doc_id (the oracle
  // replays the same concat), and the other 6/7 prove the patterns are
  // false-positive-free on clean text.
  //
  // Scale shape: a pure per-row projection — map-only over the corpus,
  // no shuffle before the presentation sort; at 100 TB this is one
  // codegen'd scan pass, the cheapest possible governance audit.

  private[graft] val PiiEmailRe = raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
  private[graft] val PiiIpRe    = raw"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
  private[graft] val PiiNumRe   = raw"\d{7,}"

  def q230_pii_redaction(s: SparkSession, dir: String): DataFrame =
    piiLedger(Tables(s, dir, "documents"))

  /** The q230 ledger over any (doc_id, text) table — split out so the
    * spec can pin the one-span-per-family invariant on ids PAST the
    * fixture's range (a 7-digit doc_id is where a digit-encoded email
    * local part would have started double-matching `\d{7,}`).
    */
  private[graft] def piiLedger(d: DataFrame): DataFrame = {
    // the email local part encodes doc_id as LETTERS (translate digit →
    // a..j): with raw digits, a 7-digit doc_id would also match the
    // \d{7,} family inside the email, silently breaking the
    // one-span-per-family invariant past 10^6 docs (ADVICE r12)
    val contact = concat(col("text"),
      lit(" contact user"),
      translate(col("doc_id").cast("string"), "0123456789", "abcdefghij"),
      lit("@example"), (col("doc_id") % 10).cast("string"),
      lit(".com tel "), lpad(col("doc_id").cast("string"), 10, "7"),
      lit(" ip "), (col("doc_id") % 256).cast("string"),
      lit("."), ((col("doc_id") * 7) % 256).cast("string"),
      lit("."), ((col("doc_id") * 13) % 256).cast("string"),
      lit("."), ((col("doc_id") * 29) % 256).cast("string"))
    val enriched = d.select(col("doc_id"),
      when(col("doc_id") % 7 === 0, contact).otherwise(col("text")).as("text"))
    // redaction order: emails first (the widest pattern), then IPs, then
    // bare digit runs — identical chain in the oracle
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), PiiEmailRe, "<EMAIL>"),
        PiiIpRe, "<IP>"),
      PiiNumRe, "<NUM>")
    enriched.select(col("doc_id"),
        regexp_count(col("text"), lit(PiiEmailRe)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(PiiIpRe)).cast("long").as("n_ip"),
        regexp_count(col("text"), lit(PiiNumRe)).cast("long").as("n_num"),
        length(redacted).cast("long").as("redacted_len"),
        md5(redacted.cast("binary")).as("fingerprint"))
      .orderBy("doc_id")
  }

  val q230Sql: String =
    raw"""WITH enr AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           text || ' contact user' || translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')
                || '@example' || CAST(doc_id % 10 AS VARCHAR)
                || '.com tel ' || lpad(CAST(doc_id AS VARCHAR), 10, '7')
                || ' ip ' || CAST(doc_id % 256 AS VARCHAR)
                || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
                || '.' || CAST((doc_id * 29) % 256 AS VARCHAR)
         ELSE text END AS text
  FROM documents),
r AS (
  SELECT doc_id, text,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '$PiiEmailRe', '<EMAIL>', 'g'),
             '$PiiIpRe', '<IP>', 'g'),
           '$PiiNumRe', '<NUM>', 'g') AS red
  FROM enr)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '$PiiEmailRe')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '$PiiIpRe')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(text, '$PiiNumRe')) AS BIGINT) AS n_num,
       CAST(length(red) AS BIGINT) AS redacted_len,
       md5(red) AS fingerprint
FROM r ORDER BY doc_id"""
}
