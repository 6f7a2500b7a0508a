package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dedup.Dedup
import graft.functions.PortableHash
import graft.text.Text

/** Training-data curation pipeline queries (SURVEY.md §2.C): the
  * composition layer a 100 TB corpus build actually runs — deterministic
  * split assignment and the language/quality/length/dedup cleaning chain
  * — expressed as single declarative plans over the `documents` table.
  */
object QueriesPipeline {
  import QueriesText.ToksSql

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** Deterministic train/valid/test corpus split: slot = portable
    * polynomial hash of the document id, mod 100 → 80/10/10. The
    * industrial-correct way to split at scale — no RNG, so assignment is
    * reproducible across engines, runs, and repartitionings, and any
    * late-arriving copy of a document lands in the same split. A narrow
    * per-row projection + one partial-aggregated groupBy; no shuffle
    * carries the payload.
    */
  def q43_hash_split(s: SparkSession, dir: String): DataFrame = {
    val slot = pmod(PortableHash.asciiPolyHash(col("doc_id").cast("string")), lit(100))
    docs(s, dir)
      .select(col("doc_id"), col("n_chars"), slot.as("slot"))
      .withColumn("split",
        when(col("slot") < 80, "train").when(col("slot") < 90, "valid").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
      .orderBy("split")
  }

  val q43Sql: String =
    raw"""WITH s AS (SELECT doc_id, n_chars,
         ${QueriesDedup.polyHashSql("CAST(doc_id AS VARCHAR)")} % 100 AS slot FROM documents),
b AS (SELECT doc_id, n_chars,
             CASE WHEN slot < 80 THEN 'train' WHEN slot < 90 THEN 'valid' ELSE 'test' END AS split
      FROM s)
SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM b GROUP BY split ORDER BY split"""

  /** Approximate distinct users per event type via the KMV bottom-k
    * sketch (o.a.s.sql.graft.KmvAgg): the sketch state is the 256
    * smallest distinct portable-hash values, so the shuffle carries
    * O(groups × k) longs where exact count(distinct) shuffles every
    * distinct value — the 100 TB way to count uniques. Estimator
    * (k−1)·D/v_k from exact integers, so the DuckDB oracle replays it
    * bit-for-bit. n_exact is included for demonstration; a production
    * run would drop that column. The sketch hashes through the affine
    * permutation (a bijection onto [0, 2³¹−1)) because the raw
    * polynomial hash of short ids concentrates near 0, violating the
    * estimator's uniformity assumption — see q117, whose oracle caught
    * exactly that bias.
    */
  def q45_kmv_distinct(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val hashSpace = PortableHash.MinHashP.toDouble
    val h = PortableHash.minHashPerm(
      PortableHash.asciiPolyHash(col("user_id").cast("string")), 0)
    Tables.events(s, dir)
      .select(col("event_type"), col("user_id"), h.as("h"))
      .groupBy("event_type")
      .agg(org.apache.spark.sql.graft.KmvAgg.kmv(col("h"), k).as("mins"),
        countDistinct("user_id").as("n_exact"))
      .select(col("event_type"),
        size(col("mins")).cast("long").as("n_mins"),
        col("n_exact"),
        when(size(col("mins")) < k, size(col("mins")).cast("double"))
          .otherwise(round(lit((k - 1).toDouble) * lit(hashSpace)
            / element_at(col("mins"), k).cast("double"), 3))
          .as("n_distinct_est"))
      .orderBy("event_type")
  }

  val q45Sql: String =
    raw"""WITH h AS (SELECT DISTINCT event_type,
                     (${QueriesDedup.polyHashSql("CAST(user_id AS VARCHAR)")} * 1013904225 + 12345) % 2147483647 AS hv
            FROM events),
r AS (SELECT event_type, hv, row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h),
m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_mins,
             max(CASE WHEN rn = 256 THEN hv END) AS v_k
      FROM r WHERE rn <= 256 GROUP BY event_type),
x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type)
SELECT m.event_type, m.n_mins, x.n_exact,
       CASE WHEN m.n_mins < 256 THEN CAST(m.n_mins AS DOUBLE)
            ELSE round(255.0 * 2147483647 / v_k, 3) END AS n_distinct_est
FROM m JOIN x ON x.event_type = m.event_type ORDER BY m.event_type"""

  /** KMV sketch ALGEBRA — the reusable-partials pattern that makes
    * sketches matter at 100 TB: per-day k-minimum-values sketches of
    * distinct users, then the month total computed by MERGING the daily
    * sketches (explode + the SAME KmvAgg over the hash values), never
    * re-scanning raw events. Correct because the k smallest of the
    * union of per-day k-min sets IS the global k-min set (any globally
    * k-smallest hash is k-smallest within its own day) — so the merged
    * estimate equals the direct global estimate exactly, and the oracle
    * can replay it as the global k-th smallest distinct hash. k=64 so
    * the estimator branch (not the exact small-set branch) is what the
    * gate exercises at sf0.01.
    *
    * The sketch hash is the affine permutation of the polynomial hash
    * (minHashPerm: a·h+b mod 2³¹−1, a bijection): the raw polynomial
    * hash of SHORT ids concentrates near 0 (a 3-char id stays below
    * 31³), which violates KMV's uniformity assumption and inflates the
    * estimate by orders of magnitude — the permuted values are spread
    * over the full modulus, and the estimator reads k/v_k against THAT
    * space. (Found by this query's own oracle: the unpermuted estimate
    * came out 35 M for 135 true distinct.)
    */
  def q117_kmv_rollup(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val hashSpace = PortableHash.MinHashP.toDouble
    val h = PortableHash.minHashPerm(
      PortableHash.asciiPolyHash(col("user_id").cast("string")), 0)
    def est(mins: org.apache.spark.sql.Column) =
      when(size(mins) < k, size(mins).cast("double"))
        .otherwise(round(lit((k - 1).toDouble) * lit(hashSpace)
          / element_at(mins, k).cast("double"), 3))
    val ev = Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"), h.as("h"))
    val daily = ev.groupBy("day")
      .agg(org.apache.spark.sql.graft.KmvAgg.kmv(col("h"), k).as("mins"),
        countDistinct("user_id").as("n_exact"))
    val dayRows = daily.select(col("day").as("scope"),
      est(col("mins")).as("n_distinct_est"), col("n_exact"))
    val merged = daily.select(explode(col("mins")).as("h"))
      .agg(org.apache.spark.sql.graft.KmvAgg.kmv(col("h"), k).as("mins"))
    val totalExact = Tables.events(s, dir).agg(countDistinct("user_id").as("n_exact"))
    val totalRow = merged.crossJoin(totalExact) // two one-row sides
      .select(lit("TOTAL").as("scope"), est(col("mins")).as("n_distinct_est"), col("n_exact"))
    dayRows.unionByName(totalRow).orderBy("scope")
  }

  val q117Sql: String =
    raw"""WITH h AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
                     (${QueriesDedup.polyHashSql("CAST(user_id AS VARCHAR)")} * 1013904225 + 12345) % 2147483647 AS hv
            FROM events),
r AS (SELECT day, hv, row_number() OVER (PARTITION BY day ORDER BY hv) AS rn FROM h),
m AS (SELECT day, CAST(count(*) AS BIGINT) AS n_mins, max(CASE WHEN rn = 64 THEN hv END) AS v_k
      FROM r WHERE rn <= 64 GROUP BY day),
x AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1),
days AS (SELECT m.day AS scope,
                CASE WHEN m.n_mins < 64 THEN CAST(m.n_mins AS DOUBLE)
                     ELSE round(63.0 * 2147483647 / v_k, 3) END AS n_distinct_est,
                x.n_exact
         FROM m JOIN x ON x.day = m.day),
gh AS (SELECT DISTINCT hv FROM h),
gr AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM gh),
gm AS (SELECT CAST(count(*) AS BIGINT) AS n_mins, max(CASE WHEN rn = 64 THEN hv END) AS v_k
       FROM gr WHERE rn <= 64),
total AS (SELECT 'TOTAL' AS scope,
                 CASE WHEN n_mins < 64 THEN CAST(n_mins AS DOUBLE)
                      ELSE round(63.0 * 2147483647 / v_k, 3) END AS n_distinct_est,
                 (SELECT count(DISTINCT user_id) FROM events) AS n_exact
          FROM gm)
SELECT scope, n_distinct_est, n_exact FROM days
UNION ALL SELECT scope, n_distinct_est, n_exact FROM total
ORDER BY scope"""

  /** Deterministic stratified sample: exactly k documents per language,
    * chosen as the k smallest portable-hash values of doc_id — balanced
    * subsampling across strata with no RNG, reproducible anywhere. Uses
    * the bounded-heap top-k aggregate on the negated hash, so the
    * shuffle carries O(strata × k) rows (a row_number window would
    * shuffle every document into its stratum's reducer first). Hash ties
    * break by doc_id — fully total order.
    */
  def q47_stratified_sample(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val h = PortableHash.asciiPolyHash(col("doc_id").cast("string"))
    val negh = docs(s, dir).select(col("lang"), col("doc_id"), (-h.cast("double")).as("negh"))
    org.apache.spark.sql.graft.TopKAgg.topKRows(negh, Seq(col("lang")), "negh", "doc_id", k)
      .select(col("lang"), col("doc_id"), (-col("negh")).cast("long").as("h"), col("rnk"))
      .orderBy("lang", "rnk")
  }

  val q47Sql: String =
    raw"""WITH h AS (SELECT lang, doc_id,
         ${QueriesDedup.polyHashSql("CAST(doc_id AS VARCHAR)")} AS hv FROM documents),
r AS (SELECT lang, doc_id, hv,
             row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rnk
      FROM h)
SELECT lang, doc_id, CAST(hv AS BIGINT) AS h, rnk FROM r WHERE rnk <= 10 ORDER BY lang, rnk"""

  /** Deterministic WEIGHTED sampling (Efraimidis–Spirakis A-ES): key =
    * u^(1/w) with u a portable-hash uniform in (0,1] and w = n_chars —
    * longer documents proportionally likelier, exactly the
    * quality/length-weighted subsampling a curation pipeline runs. No
    * RNG: u is derived from doc_id, so the sample is reproducible
    * across engines/runs/repartitionings and the DuckDB oracle replays
    * it bit-for-bit (keys rounded to 9 decimals BEFORE ranking, doc_id
    * tie-break, so a last-ulp pow() divergence cannot flip the cut).
    * The global top-k by key is a TakeOrderedAndProject — O(k) per
    * partition, one tiny final merge; nothing sorts the corpus.
    */
  def q94_weighted_sample(s: SparkSession, dir: String): DataFrame = {
    val k = 20
    val h = PortableHash.asciiPolyHash(col("doc_id").cast("string"))
    val u = (h.cast("double") + 1.0) / (lit(PortableHash.Mod.toDouble) + 1.0)
    docs(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(pow(u, lit(1.0) / col("n_chars").cast("double")), 9).as("key"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(k)
  }

  val q94Sql: String =
    raw"""WITH s AS (SELECT doc_id, lang, n_chars,
         round(pow((${QueriesDedup.polyHashSql("CAST(doc_id AS VARCHAR)")} + 1.0) / 1000000008.0,
                   1.0 / n_chars), 9) AS key
      FROM documents)
SELECT doc_id, lang, n_chars, key FROM s ORDER BY key DESC, doc_id LIMIT 20"""

  /** Sliding-window KMV rollup — the sketch ALGEBRA completing q117's
    * day→month merge: trailing 7-day distinct-user counts where every
    * window is built by MERGING the 7 daily sketches (each daily k-min
    * set fans out to the 7 windows it belongs to; re-aggregating the
    * union through the SAME KmvAgg is exact sketch merge, because the
    * k smallest of a union are the k smallest of the per-day k-min
    * sets). The shuffle carries O(days × 7 × k) longs however many
    * events exist — the raw table is scanned ONCE for the daily
    * sketches and never again; the exact n_exact column (a range join
    * back to raw events) is the demo's ground truth, dropped in the
    * production form exactly as in q117.
    */
  def q129_sliding_kmv(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val hashSpace = PortableHash.MinHashP.toDouble
    val h = PortableHash.minHashPerm(
      PortableHash.asciiPolyHash(col("user_id").cast("string")), 0)
    def est(mins: org.apache.spark.sql.Column) =
      when(size(mins) < k, size(mins).cast("double"))
        .otherwise(round(lit((k - 1).toDouble) * lit(hashSpace)
          / element_at(mins, k).cast("double"), 3))
    val ev = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"), h.as("h"))
    val daily = ev.groupBy("day")
      .agg(org.apache.spark.sql.graft.KmvAgg.kmv(col("h"), k).as("mins"))
    val grid = daily.select(col("day").as("win_end"))
    val windows = daily
      .select(col("day"), explode(expr("sequence(0, 6)")).as("off"), col("mins"))
      .select(date_add(col("day"), col("off")).as("win_end"), explode(col("mins")).as("h"))
      .join(grid, Seq("win_end"), "left_semi") // only windows ending on an event day
      .groupBy("win_end")
      .agg(org.apache.spark.sql.graft.KmvAgg.kmv(col("h"), k).as("mins"))
    val exact = ev.select(col("day"), col("user_id")).distinct()
      .join(broadcast(grid),
        datediff(col("win_end"), col("day")).between(0, 6))
      .groupBy("win_end")
      .agg(countDistinct("user_id").as("n_exact"))
    windows.join(exact, Seq("win_end"))
      .select(date_format(col("win_end"), "yyyy-MM-dd").as("win_end"),
        est(col("mins")).as("n_distinct_est"), col("n_exact"))
      .orderBy("win_end")
  }

  val q129Sql: String =
    raw"""WITH h AS (SELECT DISTINCT CAST(ts AS DATE) AS day,
                     (${QueriesDedup.polyHashSql("CAST(user_id AS VARCHAR)")} * 1013904225 + 12345) % 2147483647 AS hv
            FROM events),
r AS (SELECT day, hv, row_number() OVER (PARTITION BY day ORDER BY hv) AS rn FROM h),
dm AS (SELECT day, hv FROM r WHERE rn <= 64),
grid AS (SELECT DISTINCT day AS win_end FROM h),
ud AS (SELECT DISTINCT g.win_end, dm.hv
       FROM grid g JOIN dm ON dm.day BETWEEN g.win_end - 6 AND g.win_end),
wr AS (SELECT win_end, hv, row_number() OVER (PARTITION BY win_end ORDER BY hv) AS rn FROM ud),
wm AS (SELECT win_end, CAST(count(*) AS BIGINT) AS n_mins,
              max(CASE WHEN rn = 64 THEN hv END) AS v_k
       FROM wr WHERE rn <= 64 GROUP BY win_end),
eu AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
ex AS (SELECT g.win_end, count(DISTINCT e.user_id) AS n_exact
       FROM grid g JOIN eu e ON e.day BETWEEN g.win_end - 6 AND g.win_end GROUP BY 1)
SELECT strftime(wm.win_end, '%Y-%m-%d') AS win_end,
       CASE WHEN wm.n_mins < 64 THEN CAST(wm.n_mins AS DOUBLE)
            ELSE round(63.0 * 2147483647 / v_k, 3) END AS n_distinct_est,
       ex.n_exact
FROM wm JOIN ex ON ex.win_end = wm.win_end ORDER BY win_end"""

  /** Data-mixture sampling — the "mix web/books/code at target ratios"
    * step of a training-corpus build, with the part the simple
    * stratified sample (q47) lacks: a TOTAL budget allocated to strata
    * by integer share, capacity-capped per stratum, and the unfilled
    * remainder redistributed once to strata with spare capacity
    * (proportionally to spare capacity, capped by it — pure integer
    * arithmetic end to end, so both engines agree exactly). The actual
    * sample is then the q43/q47 deterministic rule: rank by portable
    * hash within the stratum, keep the allocation. The three fixture
    * scales exercise all three regimes: leftover-larger-than-capacity
    * (take everything, undershoot the budget), partial redistribution,
    * and zero leftover.
    */
  def q130_mixture_sample(s: SparkSession, dir: String): DataFrame = {
    val budget = 600L
    val shares = Seq(("de", 10L), ("en", 50L), ("es", 15L), ("fr", 15L), ("zh", 10L))
    import s.implicits._
    val tgt = shares.toDF("lang", "pct")
    val h = PortableHash.asciiPolyHash(col("doc_id").cast("string"))
    val d = docs(s, dir).select(col("lang"), col("doc_id"), h.as("hv"))
    val quotas = d.groupBy("lang").agg(count(lit(1)).as("n_available"))
      .join(broadcast(tgt), Seq("lang"))
      .withColumn("quota", expr(s"cast($budget * pct div 100 as bigint)"))
      .withColumn("take1", least(col("quota"), col("n_available")))
      .withColumn("rem_cap", col("n_available") - col("take1"))
    val totals = quotas.agg(sum("take1").as("t1"), sum("rem_cap").as("rc"))
    val takes = quotas.crossJoin(broadcast(totals)) // one row: global totals
      .withColumn("extra",
        when(col("rc") > 0,
          least(expr(s"cast(($budget - t1) * rem_cap div rc as bigint)"), col("rem_cap")))
          .otherwise(0L))
      .withColumn("n_take", col("take1") + col("extra"))
      .select("lang", "n_available", "quota", "n_take")
    import org.apache.spark.sql.expressions.Window
    val ranked = d.withColumn("rnk",
      row_number().over(Window.partitionBy("lang").orderBy(col("hv"), col("doc_id"))))
    ranked.join(broadcast(takes), Seq("lang"))
      .filter(col("rnk") <= col("n_take"))
      .groupBy(col("lang"), col("n_available"), col("quota"), col("n_take"))
      .agg(count(lit(1)).as("n_taken"), sum("doc_id").as("id_checksum"))
      .orderBy("lang")
  }

  val q130Sql: String =
    raw"""WITH tgt AS (SELECT * FROM (VALUES ('de', 10), ('en', 50), ('es', 15), ('fr', 15), ('zh', 10)) t(lang, pct)),
h AS (SELECT lang, doc_id, ${QueriesDedup.polyHashSql("CAST(doc_id AS VARCHAR)")} AS hv FROM documents),
avail AS (SELECT lang, count(*) AS n_available FROM h GROUP BY lang),
q1 AS (SELECT a.lang, a.n_available,
              CAST(600 * t.pct // 100 AS BIGINT) AS quota,
              least(CAST(600 * t.pct // 100 AS BIGINT), a.n_available) AS take1
       FROM avail a JOIN tgt t USING (lang)),
tot AS (SELECT CAST(sum(take1) AS BIGINT) AS t1, CAST(sum(n_available - take1) AS BIGINT) AS rc FROM q1),
tk AS (SELECT q1.lang, q1.n_available, q1.quota,
              q1.take1 + CASE WHEN tot.rc > 0
                THEN least(CAST((600 - tot.t1) * (q1.n_available - q1.take1) // tot.rc AS BIGINT),
                           q1.n_available - q1.take1)
                ELSE 0 END AS n_take
       FROM q1, tot),
r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rnk FROM h),
smp AS (SELECT r.lang, r.doc_id FROM r JOIN tk ON tk.lang = r.lang AND r.rnk <= tk.n_take)
SELECT tk.lang, tk.n_available, tk.quota, tk.n_take,
       CAST(s.n AS BIGINT) AS n_taken, CAST(s.cs AS BIGINT) AS id_checksum
FROM tk JOIN (SELECT lang, count(*) AS n, sum(doc_id) AS cs FROM smp GROUP BY lang) s USING (lang)
ORDER BY lang"""

  /** The END-TO-END curation pipeline as ONE declarative plan — the
    * composition a 100 TB corpus build actually ships, with every stage
    * an operator the catalog already proves in isolation: quality/
    * length/stopword gates (q44's scoring), exact dedup keeping the
    * smallest doc_id per text (q15's digest rule), a one-hop near-dup
    * drop via the prefix-filtered exact 5-gram Jaccard join at τ=0.8
    * (q90's production plan — any doc with a lower-id verified neighbor
    * is dropped), benchmark decontamination against the held-out eval
    * source `src0` via df-capped rare 8-grams (q54's rule), then the
    * deterministic portable-hash 80/10/10 split (q43). Per (split,
    * lang): doc/token counts and an id checksum.
    *
    * Scale shape: text enters no join key anywhere — exact dedup joins
    * on the digest, near-dup on rare-shingle hashes, decontamination on
    * df-capped shingles; every stage is a keyed semi/anti join, so the
    * whole pipeline is one DAG of partial-aggregated shuffles over
    * narrow keys. Catalyst sees all six stages at once and pipelines
    * the scans; nothing is materialized between stages.
    */
  /** q123's chain with every intermediate stage exposed — (stage name,
    * surviving docs) in pipeline order, so q123 (final splits) and q168
    * (per-stage attrition funnel) share one definition. Each stage
    * DataFrame carries n_tokens.
    */
  private[graft] def pipelineStages(s: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    val evalSource = "src0"
    val all = docs(s, dir)
    val toks = Text.tokens(col("text"))
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
    val scored = all
      .select(col("doc_id"), col("source"), col("lang"), col("text"), col("n_chars"),
        alpha.as("alpha"),
        size(toks).cast("long").as("n_tokens"),
        Text.markerCount(toks, Text.EnglishMarkers).as("n_stop"))
      .withColumn("alpha_ratio",
        when(col("n_chars") === 0, 0.0).otherwise(col("alpha").cast("double") / col("n_chars")))
      .withColumn("stopword_ratio",
        when(col("n_tokens") === 0, 0.0).otherwise(col("n_stop").cast("double") / col("n_tokens")))
      .withColumn("avg_tok_len",
        when(col("n_tokens") === 0, 0.0).otherwise(col("alpha").cast("double") / col("n_tokens")))
      .withColumn("quality",
        round(col("alpha_ratio") * 0.4
          + least(col("avg_tok_len") / 10.0, lit(1.0)) * 0.3
          + (lit(1.0) - col("stopword_ratio")) * 0.3, 6))
    val gated = scored.filter(col("source") =!= evalSource &&
      col("n_stop") >= 1 && col("quality") >= 0.6 && col("n_tokens").between(10, 120))
    val deduped = Dedup.exactKeepFirst(gated, "text", "doc_id")
    val nearDropped = Dedup.ngramJaccardPairsPrefix(
        deduped.select("doc_id", "text"), shingleN = 5, threshold = 0.8)
      .select(col("doc_id_b").as("doc_id")).distinct()
    val surv = deduped.join(nearDropped, Seq("doc_id"), "left_anti")
    // decontamination: df over ALL documents (q54's boilerplate guard),
    // eval shingles from the full eval source (benchmark text is fixed
    // regardless of what the training gates keep)
    val sh = all.select(col("doc_id"), col("source"),
      explode(Text.shingles(Text.tokens(col("text")), 8)).as("sh"))
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 25).select("sh")
    val keptSh = sh.join(rare, Seq("sh"), "left_semi")
    val evalSh = keptSh.filter(col("source") === evalSource).select("sh").distinct()
    val contaminated = keptSh.filter(col("source") =!= evalSource)
      .join(evalSh, Seq("sh"), "left_semi").select("doc_id").distinct()
    val clean = surv.join(contaminated, Seq("doc_id"), "left_anti")
    Seq("raw" -> scored, "quality_gate" -> gated, "exact_dedup" -> deduped,
      "near_dedup" -> surv, "decontaminated" -> clean)
  }

  def q123_full_pipeline(s: SparkSession, dir: String): DataFrame = {
    val clean = pipelineStages(s, dir).last._2
    val slot = pmod(PortableHash.asciiPolyHash(col("doc_id").cast("string")), lit(100))
    clean
      .withColumn("split",
        when(slot < 80, "train").when(slot < 90, "valid").otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("doc_id").as("id_checksum"))
      .orderBy("split", "lang")
  }

  /** The oracle chain through `clean` — shared by q123 and q168. */
  private val pipelineChainSql: String =
    raw"""t AS (
  SELECT doc_id, source, lang, text, n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         len($ToksSql) AS n_tokens,
         len(list_filter($ToksSql, w -> list_contains(['the', 'a', 'and', 'of', 'is'], w))) AS n_stop
  FROM documents),
r AS (
  SELECT doc_id, source, lang, text, n_tokens, n_stop,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_chars END AS alpha_ratio,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stopword_ratio,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_tokens END AS avg_tok_len
  FROM t),
q AS (
  SELECT doc_id, source, lang, text, n_tokens,
         round(alpha_ratio * 0.4 + least(avg_tok_len / 10.0, 1.0) * 0.3 + (1.0 - stopword_ratio) * 0.3, 6) AS quality,
         n_stop
  FROM r),
gated AS (
  SELECT * FROM q WHERE source <> 'src0' AND n_stop >= 1 AND quality >= 0.6 AND n_tokens BETWEEN 10 AND 120),
dd AS (
  SELECT doc_id, lang, n_tokens FROM (
    SELECT doc_id, lang, n_tokens, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM gated)
  WHERE rn = 1),
toks5 AS (SELECT d.doc_id, $ToksSql AS t FROM documents JOIN dd d USING (doc_id)),
sh5 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s5
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM toks5 WHERE len(t) >= 5)),
sz5 AS (SELECT doc_id, count(*) AS n FROM sh5 GROUP BY doc_id),
com AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
        FROM sh5 a JOIN sh5 b ON a.s5 = b.s5 AND a.doc_id < b.doc_id GROUP BY 1, 2),
ndrop AS (SELECT DISTINCT db AS doc_id FROM com
          JOIN sz5 sa ON sa.doc_id = da JOIN sz5 sb ON sb.doc_id = db
          WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8),
surv AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM ndrop)),
toks8 AS (SELECT doc_id, source, $ToksSql AS t FROM documents),
sh8 AS (SELECT DISTINCT doc_id, source, array_to_string(t[i:i+7], ' ') AS s8
        FROM (SELECT doc_id, source, t, unnest(range(1, len(t) - 6)) AS i FROM toks8 WHERE len(t) >= 8)),
rare AS (SELECT s8 FROM sh8 GROUP BY s8 HAVING count(*) <= 25),
keptsh AS (SELECT sh8.doc_id, sh8.source, sh8.s8 FROM sh8 JOIN rare USING (s8)),
contam AS (SELECT DISTINCT k.doc_id
           FROM keptsh k JOIN (SELECT DISTINCT s8 FROM keptsh WHERE source = 'src0') ev USING (s8)
           WHERE k.source <> 'src0'),
clean AS (SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM contam))"""

  val q123Sql: String =
    raw"""WITH $pipelineChainSql,
sp AS (SELECT lang, n_tokens, doc_id,
              CASE WHEN ${QueriesDedup.polyHashSql("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
                   WHEN ${QueriesDedup.polyHashSql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'valid'
                   ELSE 'test' END AS split
       FROM clean)
SELECT split, lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM sp GROUP BY 1, 2 ORDER BY split, lang"""

  /** The C4-style cleaning chain as ONE plan: language gate (≥ 2 English
    * marker tokens), quality gate (q23's score ≥ 0.74 ≈ corpus median),
    * length gate (15–95 tokens), then exact dedup keeping the smallest
    * doc_id per identical text (digest semi-join — the text itself never
    * shuffles). Per-source survivor stats; min/max of the rounded quality
    * instead of avg keeps the aggregate order-independent, so the DuckDB
    * hash-match is exact.
    */
  def q44_clean_corpus(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
    val scored = docs(s, dir)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"),
        alpha.as("alpha"),
        size(toks).cast("long").as("n_tokens"),
        Text.markerCount(toks, Text.EnglishMarkers).as("n_stop"))
      .select(col("doc_id"), col("source"), col("text"), col("n_tokens"), col("n_stop"),
        when(col("n_chars") === 0, 0.0)
          .otherwise(col("alpha").cast("double") / col("n_chars")).as("alpha_ratio"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("alpha").cast("double") / col("n_tokens")).as("avg_tok_len"))
      .withColumn("quality",
        round(col("alpha_ratio") * 0.4
          + least(col("avg_tok_len") / 10.0, lit(1.0)) * 0.3
          + (lit(1.0) - col("stopword_ratio")) * 0.3, 6))
    val cleaned = scored
      .filter(col("n_stop") >= 2 && col("quality") >= 0.74 &&
        col("n_tokens").between(15, 95))
    Dedup.exactKeepFirst(cleaned, "text", "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("quality").as("min_quality"),
        max("quality").as("max_quality"))
      .orderBy("source")
  }

  /** PII scrub pass — the redaction step every training-corpus build runs
    * before anything else sees the text. The synthetic corpus carries no
    * organic PII, so the query PLANTS a deterministic contact line on
    * every third document (derived from doc_id — the oracle replays the
    * plant exactly), then redacts emails and phone-shaped tokens with the
    * regex families and reports per-language audit stats, including a
    * residual match count that must be 0 after redaction.
    *
    * Scale shape: one narrow per-row projection (regexp_* are codegen'd
    * string expressions — no UDF), then a partial-aggregated per-lang
    * groupBy; the document text never enters a shuffle key. The regexes
    * stay inside the RE2 ∩ java.util.regex common subset (character
    * classes, bounded repeats, no backrefs/lookaround) so both engines
    * match identically — the same portability constraint a cross-engine
    * production pipeline must respect.
    */
  def q103_pii_redact(s: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "555-[0-9]{4}"
    val planted = docs(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("raw",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" Reach user"), col("doc_id").cast("string"),
            lit("@example.com or 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")))
    planted
      .select(col("lang"), col("raw"),
        size(regexp_extract_all(col("raw"), lit(email), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("raw"), lit(phone), lit(0))).cast("long").as("n_phone"),
        regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"), phone, "<PHONE>").as("red"))
      .select(col("lang"), col("n_email"), col("n_phone"),
        (length(col("raw")) - length(col("red"))).cast("long").as("delta"),
        (size(regexp_extract_all(col("red"), lit(email), lit(0)))
          + size(regexp_extract_all(col("red"), lit(phone), lit(0)))).cast("long").as("residual"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_email") + col("n_phone") > 0, 1L).otherwise(0L)).as("n_docs_pii"),
        sum("n_email").as("n_emails"),
        sum("n_phone").as("n_phones"),
        sum("delta").as("chars_removed"),
        sum("residual").as("n_residual"))
      .orderBy("lang")
  }

  val q103Sql: String =
    raw"""WITH p AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' Reach user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS raw
  FROM documents),
m AS (
  SELECT lang, raw,
         len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
         len(regexp_extract_all(raw, '555-[0-9]{4}')) AS n_phone,
         regexp_replace(regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                        '555-[0-9]{4}', '<PHONE>', 'g') AS red
  FROM p),
r AS (
  SELECT lang, n_email, n_phone,
         length(raw) - length(red) AS delta,
         len(regexp_extract_all(red, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
           + len(regexp_extract_all(red, '555-[0-9]{4}')) AS residual
  FROM m)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii,
       CAST(sum(n_email) AS BIGINT) AS n_emails,
       CAST(sum(n_phone) AS BIGINT) AS n_phones,
       CAST(sum(delta) AS BIGINT) AS chars_removed,
       CAST(sum(residual) AS BIGINT) AS n_residual
FROM r GROUP BY lang ORDER BY lang"""

  val q44Sql: String =
    raw"""WITH t AS (
  SELECT doc_id, source, text, n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         len($ToksSql) AS n_tokens,
         len(list_filter($ToksSql, w -> list_contains(['the', 'a', 'and', 'of', 'is'], w))) AS n_stop
  FROM documents),
r AS (
  SELECT doc_id, source, text, n_tokens, n_stop,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_chars END AS alpha_ratio,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stopword_ratio,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_tokens END AS avg_tok_len
  FROM t),
q AS (
  SELECT doc_id, source, text, n_tokens, n_stop,
         round(alpha_ratio * 0.4 + least(avg_tok_len / 10.0, 1.0) * 0.3 + (1.0 - stopword_ratio) * 0.3, 6) AS quality
  FROM r),
cleaned AS (
  SELECT * FROM q WHERE n_stop >= 2 AND quality >= 0.74 AND n_tokens BETWEEN 15 AND 95),
kept AS (
  SELECT source, n_tokens, quality FROM (
    SELECT source, n_tokens, quality, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM cleaned)
  WHERE rn = 1)
SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(quality) AS min_quality, max(quality) AS max_quality
FROM kept GROUP BY source ORDER BY source"""

  /** Data-quality profile (the Deequ-style audit a pipeline runs before
    * trusting a 100 TB drop): ONE scan of lineitem computes completeness
    * per column, distinctness, primary-key duplicate count, min/max
    * ranges, and domain/range constraint-violation counts, emitted as
    * narrow (metric, value) rows.
    *
    * Scale shape: everything partial-aggregates map-side into a single
    * row; the only caveat is the exact COUNT(DISTINCT) trio, which
    * Spark plans as one Expand (row multiplied per distinct group) —
    * the exact-audit contract. When approximate distinctness suffices,
    * swap in the KMV sketch (q45) and the Expand disappears.
    */
  def q109_data_profile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    def viol(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L)).cast("double")
    val epochDay = floor(unix_timestamp(col("l_shipdate")) / 86400).cast("double")
    val agg = li.agg(
      count(lit(1)).cast("double").as("row_count"),
      (count("l_quantity") / count(lit(1))).as("completeness_l_quantity"),
      (count("l_returnflag") / count(lit(1))).as("completeness_l_returnflag"),
      (count("l_shipdate") / count(lit(1))).as("completeness_l_shipdate"),
      countDistinct(col("l_returnflag")).cast("double").as("distinct_l_returnflag"),
      countDistinct(col("l_linestatus")).cast("double").as("distinct_l_linestatus"),
      (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber")))
        .cast("double").as("pk_duplicates"),
      min("l_quantity").as("min_l_quantity"),
      max("l_quantity").as("max_l_quantity"),
      min("l_extendedprice").as("min_l_extendedprice"),
      max("l_extendedprice").as("max_l_extendedprice"),
      min(epochDay).as("min_shipdate_epoch_day"),
      max(epochDay).as("max_shipdate_epoch_day"),
      viol(!col("l_quantity").between(1, 50)).as("viol_quantity_range"),
      viol(!col("l_discount").between(0, 0.1)).as("viol_discount_range"),
      viol(col("l_extendedprice") <= 0).as("viol_price_nonpositive"),
      viol(!col("l_returnflag").isin("A", "N", "R")).as("viol_returnflag_domain"))
    val metrics = Seq(
      "row_count", "completeness_l_quantity", "completeness_l_returnflag",
      "completeness_l_shipdate", "distinct_l_returnflag", "distinct_l_linestatus",
      "pk_duplicates", "min_l_quantity", "max_l_quantity", "min_l_extendedprice",
      "max_l_extendedprice", "min_shipdate_epoch_day", "max_shipdate_epoch_day",
      "viol_quantity_range", "viol_discount_range", "viol_price_nonpositive",
      "viol_returnflag_domain")
    val stackArgs = metrics.map(m => s"'$m', `$m`").mkString(", ")
    agg.select(expr(s"stack(${metrics.length}, $stackArgs) as (metric, value)"))
      .select(col("metric"), round(col("value"), 6).as("value"))
      .orderBy("metric")
  }

  val q109Sql: String =
    """WITH a AS (
  SELECT CAST(count(*) AS DOUBLE) AS row_count,
         CAST(count(l_quantity) AS DOUBLE) / count(*) AS completeness_l_quantity,
         CAST(count(l_returnflag) AS DOUBLE) / count(*) AS completeness_l_returnflag,
         CAST(count(l_shipdate) AS DOUBLE) / count(*) AS completeness_l_shipdate,
         CAST(count(DISTINCT l_returnflag) AS DOUBLE) AS distinct_l_returnflag,
         CAST(count(DISTINCT l_linestatus) AS DOUBLE) AS distinct_l_linestatus,
         CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE) AS pk_duplicates,
         min(l_quantity) AS min_l_quantity,
         max(l_quantity) AS max_l_quantity,
         min(l_extendedprice) AS min_l_extendedprice,
         max(l_extendedprice) AS max_l_extendedprice,
         CAST(min(floor(epoch(l_shipdate) / 86400)) AS DOUBLE) AS min_shipdate_epoch_day,
         CAST(max(floor(epoch(l_shipdate) / 86400)) AS DOUBLE) AS max_shipdate_epoch_day,
         CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS DOUBLE) AS viol_quantity_range,
         CAST(sum(CASE WHEN l_discount NOT BETWEEN 0 AND 0.1 THEN 1 ELSE 0 END) AS DOUBLE) AS viol_discount_range,
         CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS DOUBLE) AS viol_price_nonpositive,
         CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS DOUBLE) AS viol_returnflag_domain
  FROM lineitem)
SELECT metric, round(value, 6) AS value FROM (
  SELECT 'row_count' AS metric, row_count AS value FROM a
  UNION ALL SELECT 'completeness_l_quantity', completeness_l_quantity FROM a
  UNION ALL SELECT 'completeness_l_returnflag', completeness_l_returnflag FROM a
  UNION ALL SELECT 'completeness_l_shipdate', completeness_l_shipdate FROM a
  UNION ALL SELECT 'distinct_l_returnflag', distinct_l_returnflag FROM a
  UNION ALL SELECT 'distinct_l_linestatus', distinct_l_linestatus FROM a
  UNION ALL SELECT 'pk_duplicates', pk_duplicates FROM a
  UNION ALL SELECT 'min_l_quantity', min_l_quantity FROM a
  UNION ALL SELECT 'max_l_quantity', max_l_quantity FROM a
  UNION ALL SELECT 'min_l_extendedprice', min_l_extendedprice FROM a
  UNION ALL SELECT 'max_l_extendedprice', max_l_extendedprice FROM a
  UNION ALL SELECT 'min_shipdate_epoch_day', min_shipdate_epoch_day FROM a
  UNION ALL SELECT 'max_shipdate_epoch_day', max_shipdate_epoch_day FROM a
  UNION ALL SELECT 'viol_quantity_range', viol_quantity_range FROM a
  UNION ALL SELECT 'viol_discount_range', viol_discount_range FROM a
  UNION ALL SELECT 'viol_price_nonpositive', viol_price_nonpositive FROM a
  UNION ALL SELECT 'viol_returnflag_domain', viol_returnflag_domain FROM a)
ORDER BY metric"""

  /** Curriculum / mixture-ordered interleaving: assign every document an
    * integer VIRTUAL TIME v = src_rank × (150 / pct) — the classic
    * weighted-fair-queuing rule — so that sorting by v interleaves the
    * language sources in exactly the q130 mixture proportions (en docs
    * arrive every 3 ticks, de/zh every 15) without any sampling: the
    * deterministic data ORDER a curriculum-scheduled training run reads.
    * Emits the first 60 scheduled docs with their global order index.
    *
    * Scale shape: src_rank is a window partitioned BY SOURCE (each
    * source sorts independently — the per-source sort distributes);
    * virtual times are exact integers (150 is the shares' LCM, so
    * 150/pct divides evenly — no float ordering risk cross-engine), and
    * the global interleave is a TakeOrdered top-60, never a full sort.
    * A full 100 TB materialization would instead range-partition on v
    * and write per-partition ordered shards (the q111 layout pattern);
    * the final tiny row_number here runs on 60 rows post-limit.
    */
  def q136_curriculum_order(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val tgt = Seq(("de", 10L), ("en", 50L), ("es", 15L), ("fr", 15L), ("zh", 10L))
      .toDF("lang", "pct")
    val h = PortableHash.asciiPolyHash(col("doc_id").cast("string"))
    val ranked = docs(s, dir).select(col("lang"), col("doc_id"), h.as("hv"))
      .withColumn("src_rank",
        row_number().over(Window.partitionBy("lang").orderBy(col("hv"), col("doc_id")))
          .cast("long"))
    val top = ranked.join(broadcast(tgt), Seq("lang"))
      .withColumn("vtime", col("src_rank") * (lit(150L) / col("pct")).cast("long"))
      .orderBy(col("vtime"), col("lang"), col("doc_id"))
      .limit(60)
    top.withColumn("order_idx",
      row_number().over(Window.orderBy(col("vtime"), col("lang"), col("doc_id")))
        .cast("long"))
      .select("order_idx", "vtime", "lang", "doc_id", "src_rank")
      .orderBy("order_idx")
  }

  val q136Sql: String =
    raw"""WITH tgt AS (SELECT * FROM (VALUES ('de', 10), ('en', 50), ('es', 15), ('fr', 15), ('zh', 10)) t(lang, pct)),
h AS (SELECT lang, doc_id, ${QueriesDedup.polyHashSql("CAST(doc_id AS VARCHAR)")} AS hv FROM documents),
r AS (SELECT lang, doc_id,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS BIGINT) AS src_rank
      FROM h),
v AS (SELECT r.lang, r.doc_id, r.src_rank,
             r.src_rank * CAST(150 // t.pct AS BIGINT) AS vtime
      FROM r JOIN tgt t USING (lang)),
top AS (SELECT * FROM v ORDER BY vtime, lang, doc_id LIMIT 60)
SELECT CAST(row_number() OVER (ORDER BY vtime, lang, doc_id) AS BIGINT) AS order_idx,
       vtime, lang, doc_id, src_rank
FROM top ORDER BY order_idx"""

  /** Smoothed-unigram negative sampling (the word2vec/contrastive
    * noise distribution): 100 deterministic draws from
    * P(w) ∝ count(w)^0.75 by integer inverse-CDF — weights are rounded
    * to integer micro-units BEFORE the cumulative sum (the q94 rule:
    * round before ranking so pow() ulps can't flip a boundary), draw
    * positions come from a two-round Lehmer hash reduced mod the total
    * weight, and each draw picks the token whose [cum_lo, cum_hi)
    * interval contains it — every comparison exact integer arithmetic,
    * bit-identical across engines.
    *
    * Scale shape: the cumulative sum over the vocabulary is TWO-PHASE —
    * a window partitioned by first letter (distributes across the
    * vocabulary), then a 52-row per-letter offset table cumulated and
    * broadcast — so no single-partition global window ever exists (the
    * naive `ORDER BY w` cumsum the oracle uses is exactly the
    * scale-killer this plan avoids). The 100-draw panel broadcasts into
    * an interval-containment join against vocabulary rows: work is
    * O(vocab × draws) with vocab-sized parallelism.
    */
  def q137_negative_sampling(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val P = 2147483647L
    val counts = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("wt", round(pow(col("cnt").cast("double"), lit(0.75)) * 1e6).cast("long"))
    val local = counts.withColumn("letter", substring(col("w"), 1, 1))
      .withColumn("lcum", sum("wt").over(Window.partitionBy("letter").orderBy("w")))
    val offsets = local.groupBy("letter").agg(sum("wt").as("ltot"))
      .withColumn("off", coalesce(
        sum("ltot").over(Window.orderBy("letter")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("letter", "off") // ≤52 rows — the only global window
    val cum = local.join(broadcast(offsets), Seq("letter"))
      .withColumn("cum_hi", col("lcum") + col("off"))
      .withColumn("cum_lo", col("cum_hi") - col("wt"))
    val total = cum.agg(max("cum_hi").as("tw"))
    val draws = s.range(100).select(col("id").as("draw_id"))
      .withColumn("h1", ((col("draw_id") + 1) * 48271L) % P)
      .withColumn("h2", (col("h1") * 48271L) % P)
    val u = draws.crossJoin(broadcast(total)) // one row: the total weight
      .withColumn("u", (col("h1") * (P - 1) + col("h2")) % col("tw"))
      .select("draw_id", "u")
    cum.join(broadcast(u),
        col("u") >= col("cum_lo") && col("u") < col("cum_hi"))
      .select(col("draw_id"), col("w").as("token"), col("cnt"), col("wt"))
      .orderBy("draw_id")
  }

  val q137Sql: String =
    raw"""WITH c AS (SELECT w, count(*) AS cnt
          FROM (SELECT unnest($ToksSql) AS w FROM documents) GROUP BY w),
wt AS (SELECT w, cnt, CAST(round(pow(CAST(cnt AS DOUBLE), 0.75) * 1000000) AS BIGINT) AS wt FROM c),
cum AS (SELECT w, cnt, wt, CAST(sum(wt) OVER (ORDER BY w) AS BIGINT) AS cum_hi FROM wt),
cum2 AS (SELECT *, cum_hi - wt AS cum_lo FROM cum),
t AS (SELECT max(cum_hi) AS tw FROM cum2),
d AS (SELECT i AS draw_id, ((i + 1) * 48271) % 2147483647 AS h1
      FROM (SELECT unnest(range(0, 100)) AS i)),
d2 AS (SELECT draw_id, h1, (h1 * 48271) % 2147483647 AS h2 FROM d),
u AS (SELECT draw_id, (h1 * 2147483646 + h2) % t.tw AS u FROM d2, t)
SELECT u.draw_id, c2.w AS token, c2.cnt, c2.wt
FROM u JOIN cum2 c2 ON u.u >= c2.cum_lo AND u.u < c2.cum_hi
ORDER BY u.draw_id"""

  /** Training-sequence packing (the GPT-style pre-tokenization layout):
    * per source, documents are concatenated in doc_id order and sliced
    * into 2048-token training sequences; each document is assigned to
    * the sequence containing its START offset, and the report audits
    * per-sequence document count, token mass, and fill ratio — the
    * numbers that decide whether a corpus needs short-doc packing or
    * long-doc chunking (compose with q133) before training.
    *
    * Scale shape: the running token offset is the one irreducibly
    * sequential quantity, so it is computed the q137 TWO-PHASE way —
    * a window inside each (source, 512-doc bucket), then a
    * buckets-per-source offset table (metadata-scale: |docs|/512 rows)
    * cumulated and broadcast back — no single-partition corpus-wide
    * window ever exists. The oracle uses the naive per-source global
    * cumsum, which is exactly the plan this avoids.
    */
  /** q142's DOC-level assignment (doc_id, source, n_tokens, seq_id) —
    * factored so the loader read path (q161) can map documents to the
    * sequences a worker slice selects without recomputing packing.
    */
  private[graft] def q142_doc_assignment(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 2048L
    val dl = docs(s, dir).select(col("doc_id"), col("source"),
      size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("bucket", expr("doc_id div 512"))
    val local = dl.withColumn("lcum", coalesce(
      sum("n_tokens").over(Window.partitionBy("source", "bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offsets = dl.groupBy("source", "bucket").agg(sum("n_tokens").as("btot"))
      .withColumn("off", coalesce(
        sum("btot").over(Window.partitionBy("source").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "bucket", "off") // |docs|/512 rows — metadata scale
    local.join(broadcast(offsets), Seq("source", "bucket"))
      .withColumn("seq_id", expr(s"(lcum + off) div $B"))
      .select("doc_id", "source", "n_tokens", "seq_id")
  }

  def q142_pack_sequences(s: SparkSession, dir: String): DataFrame =
    q142_doc_assignment(s, dir)
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .withColumn("fill", round(col("n_tokens").cast("double") / 2048L, 6))
      .orderBy("source", "seq_id")

  val q142Sql: String =
    raw"""WITH dl AS (SELECT doc_id, source, CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM documents),
c AS (SELECT doc_id, source, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      FROM dl),
a AS (SELECT source, doc_id, n_tokens, start_off // 2048 AS seq_id FROM c)
SELECT source, CAST(seq_id AS BIGINT) AS seq_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       round(CAST(sum(n_tokens) AS DOUBLE) / 2048, 6) AS fill
FROM a GROUP BY source, seq_id ORDER BY source, seq_id"""

  /** The pipeline's TERMINAL operator — tokenized-shard writing: BPE-
    * encode the corpus (q143's trainer + vocab-level encode), lay
    * documents out in doc_id order, cut 8192-token shards by start
    * offset (q142's two-phase prefix sum, global instead of
    * per-source), WRITE the doc→shard assignment as parquet partitioned
    * by shard_id — the artifact a training job actually reads — and
    * report per-shard metadata from the READ-BACK files (the q82
    * roundtrip convention: the gate hashes what was physically
    * written). Token counts are exact integers end to end.
    *
    * Scale shape: encoding joins occurrences to the broadcast vocab
    * encoding (text never in a join key), the per-doc reduce is the
    * one corpus shuffle, and everything after it — bucket windows,
    * offsets, shard cut — moves only (doc_id, n_bpe, bucket) longs;
    * the global offsets table is |docs|/512 rows (metadata scale).
    * The write itself shuffles nothing (partitionBy on the computed
    * column within existing tasks).
    */
  /** The doc→shard assignment pipeline of q151, factored so
    * PlanAssertionsSpec can assert its executed plan (the catalog entry
    * returns the read-back of the WRITTEN files, whose plan is just the
    * final aggregate).
    */
  private[graft] def q151_assignment(s: SparkSession, dir: String): DataFrame =
    assignmentOf(docs(s, dir))

  /** q151's doc→shard assignment over an ARBITRARY (doc_id, text)
    * corpus — shared by q151/q156/q161/q166 (raw documents) and q170
    * (the curated corpus).
    */
  private[graft] def assignmentOf(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val S = 8192L
    // Per-row word counts (TokenCounts — guide §2.3 aggregate before the
    // shuffle): one (word, cnt) row per DISTINCT word per doc instead of
    // one row per occurrence; vocabulary freq and per-doc BPE mass are
    // exact multiplicity sums, so values are unchanged.
    val occ = d
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.TokenCounts.counts(Text.tokens(col("text")))).as("e"))
      .select(col("doc_id"), col("e.word").as("word"), col("e.cnt").as("cnt"))
    // NOT persisted: the BPE trainer checkpoints its own working set (so
    // vocab is computed once there), the encode pass is one more
    // vocabulary reduce over an already-cached or raw-scan input, and a
    // persist here would hide the vocabulary-reduce exchange behind an
    // InMemoryTableScan boundary — breaking the q151 plan assertion that
    // words shuffle exactly once, vocabulary-shaped.
    val vocab = occ.groupBy("word").agg(sum("cnt").as("freq"))
    val merges = graft.text.Bpe.train(vocab, rounds = 5)
    val enc = vocab.select(col("word"),
      size(graft.text.Bpe.encode(graft.text.Bpe.initialSymbols(col("word")), merges))
        .cast("long").as("n_syms"))
    val perDoc = occ.join(broadcast(enc), Seq("word"))
      .groupBy("doc_id").agg(sum(col("n_syms") * col("cnt")).cast("long").as("n_bpe"))
    val dl = perDoc.withColumn("bucket", expr("doc_id div 512"))
    val local = dl.withColumn("lcum", coalesce(
      sum("n_bpe").over(Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offsets = dl.groupBy("bucket").agg(sum("n_bpe").as("btot"))
      .withColumn("off", coalesce(
        sum("btot").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "off") // |docs|/512 rows — metadata scale
    local.join(broadcast(offsets), Seq("bucket"))
      .withColumn("shard_id", expr(s"(lcum + off) div $S"))
      .select("doc_id", "n_bpe", "shard_id")
  }

  def q151_token_shards(s: SparkSession, dir: String): DataFrame = {
    val S = 8192L
    val assigned = q151_assignment(s, dir)
    val out = QueriesSources.tmp("graft_q151_shards_", dir)
    // repartition by the partition column before the partitioned write
    // (guide §6): without it the AQE-coalesced upstream leaves each task
    // holding rows of MANY shards — 2+ part-files per shard dir, created
    // serially by few tasks — and the read-back pays one tiny-file task
    // per file. One exchange of (doc_id, n_bpe, shard_id) longs buys
    // one file per shard dir, written in parallel.
    // explicit task count (cluster parallelism): a keyless-count
    // repartition(col) is AQE-coalesced to ONE post-shuffle partition at
    // small volumes — the write then creates every shard dir serially
    // (measured 1.5-2 s single-task WriteFiles); REPARTITION_BY_NUM is
    // exempt from coalescing, so file creation runs cores-wide while
    // each shard's rows still land in exactly one task (one file/dir).
    assigned.repartition(s.sparkContext.defaultParallelism, col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(out)
    // explicit schema on the read-back — kills the per-file footer
    // inference job (see the q170 site)
    s.read.schema(assigned.schema).parquet(out)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe").cast("long").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .withColumn("fill", round(col("n_tokens").cast("double") / S, 6))
      .select(col("shard_id").cast("long").as("shard_id"), col("n_docs"),
        col("n_tokens"), col("first_doc"), col("last_doc"), col("fill"))
      .orderBy("shard_id")
  }

  /** Oracle: q143's five SQL BPE rounds give per-word symbol counts;
    * the naive global cumsum in doc_id order is the two-phase plan's
    * semantic twin (exact integers, q142's argument); shards group by
    * start_off // 8192.
    */
  /** Shared oracle prefix: BPE per-doc token counts, the naive global
    * cumsum, and the shard assignment `a` — reused by q151 and q156,
    * parameterized on the docs relation for q170.
    */
  private def shardAssignSqlFrom(docsRel: String): String =
    raw"""occ AS (SELECT doc_id, unnest($ToksSql) AS word FROM $docsRel),
vocab AS (SELECT word, count(*) AS freq FROM occ GROUP BY word),
w0 AS (SELECT word, freq, regexp_replace(word, '(.)', '[\1]', 'g') AS s FROM vocab),
${QueriesText.bpeRoundSql(1, 0)},
${QueriesText.bpeRoundSql(2, 1)},
${QueriesText.bpeRoundSql(3, 2)},
${QueriesText.bpeRoundSql(4, 3)},
${QueriesText.bpeRoundSql(5, 4)},
enc AS (SELECT word, len(regexp_extract_all(s, '\[([A-Za-z]+)\]', 1)) AS n_syms FROM w5),
pd AS (SELECT o.doc_id, CAST(sum(e.n_syms) AS BIGINT) AS n_bpe
       FROM occ o JOIN enc e ON e.word = o.word GROUP BY o.doc_id),
cum AS (SELECT doc_id, n_bpe,
               CAST(coalesce(sum(n_bpe) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        FROM pd),
a AS (SELECT doc_id, n_bpe, start_off // 8192 AS shard_id FROM cum)"""

  private val shardAssignSql: String = shardAssignSqlFrom("documents")

  val q151Sql: String =
    raw"""WITH $shardAssignSql
SELECT CAST(shard_id AS BIGINT) AS shard_id, count(*) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       round(CAST(sum(n_bpe) AS DOUBLE) / 8192, 6) AS fill
FROM a GROUP BY shard_id ORDER BY shard_id"""

  /** The shard MANIFEST — the artifact a training data-loader actually
    * opens first: per shard, document count, token mass, and the
    * [start_off, end_off) global token range, so a loader can seek any
    * token offset to a shard without touching the data. Boundaries are
    * a cumsum over the SHARD table (|tokens|/8192 rows — metadata
    * scale; the only corpus-sized work is q151's assignment itself).
    */
  def q156_shard_manifest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = q151_assignment(s, dir)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe").cast("long").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
    sh.withColumn("start_off", coalesce(
        sum("n_tokens").over(Window.orderBy("shard_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("end_off", col("start_off") + col("n_tokens"))
      .select("shard_id", "n_docs", "n_tokens", "start_off", "end_off",
        "first_doc", "last_doc")
      .orderBy("shard_id")
  }

  val q156Sql: String =
    raw"""WITH $shardAssignSql,
g AS (SELECT CAST(shard_id AS BIGINT) AS shard_id, count(*) AS n_docs,
             CAST(sum(n_bpe) AS BIGINT) AS n_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM a GROUP BY shard_id)
SELECT shard_id, n_docs, n_tokens,
       CAST(coalesce(sum(n_tokens) OVER (ORDER BY shard_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off,
       CAST(coalesce(sum(n_tokens) OVER (ORDER BY shard_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + n_tokens AS BIGINT) AS end_off,
       first_doc, last_doc
FROM g ORDER BY shard_id"""

  /** Deterministic MULTI-EPOCH global shuffle of the packed sequences:
    * epoch k's order is a pure function of (corpus, seed, k) — the
    * portable-hash permutation convention (q43/q47/q94) extended with
    * an epoch mix, so training can re-shuffle every epoch with zero
    * RNG state: key(seq, epoch) = affine((polyhash(source:seq_id) +
    * epoch·2654435761) mod p), order by (key, source, seq_id). Every
    * epoch is provably a permutation of the same multiset (the spec
    * asserts it), epochs differ, and any worker can compute its own
    * slice from the formula alone — no shuffle file, no coordinator.
    *
    * Scale shape: the global POSITION is materialized the two-phase
    * way (q142): rank within (epoch, 1024-wide key bucket) by window,
    * plus a cumulated per-bucket offset table (epochs × 1024 rows) —
    * no corpus-wide window. The oracle's naive global row_number is
    * the semantic twin.
    */
  def q152_epoch_shuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = PortableHash.MinHashP
    val (a, b) = PortableHash.minHashCoeffs(0)
    val seqs = q142_pack_sequences(s, dir).select("source", "seq_id")
    val withKey = seqs
      .crossJoin(broadcast(epochDf(s)))
      .withColumn("base", PortableHash.asciiPolyHash(
        concat_ws(":", col("source"), col("seq_id").cast("string"))))
      .withColumn("h",
        ((pmod(col("base") + col("epoch") * lit(2654435761L), lit(p))) * lit(a) + lit(b)) % lit(p))
      // divisor = ceil(p/1024) so kb ∈ [0, 1023] for every h < p — with
      // floor(p/1024) the top sliver of the hash range spills into a
      // 1025th bucket. Bucketing is internal (pos comes from the actual
      // buckets), but the metadata-scale claim below should be exact.
      .withColumn("kb", expr(s"h div ${(p + 1023) / 1024}"))
    val local = withKey.withColumn("lrn",
      row_number().over(Window.partitionBy("epoch", "kb")
        .orderBy(col("h"), col("source"), col("seq_id"))).cast("long"))
    val offsets = withKey.groupBy("epoch", "kb").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(
        sum("bn").over(Window.partitionBy("epoch").orderBy("kb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("epoch", "kb", "off") // epochs × ≤1024 rows — metadata scale
    local.join(broadcast(offsets), Seq("epoch", "kb"))
      .select(col("epoch"), (col("lrn") + col("off")).as("pos"),
        col("source"), col("seq_id"))
      .orderBy("epoch", "pos")
  }

  private def epochDf(s: SparkSession) = { import s.implicits._; Seq(0, 1).toDF("epoch") }

  // q152's affine key constants, mirrored into the oracle SQL
  private val (idHashSqlA, idHashSqlB) = PortableHash.minHashCoeffs(0)
  private val IdHashSqlA = idHashSqlA
  private val IdHashSqlB = idHashSqlB

  val q152Sql: String =
    raw"""WITH dl AS (SELECT doc_id, source, CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM documents),
c AS (SELECT doc_id, source, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      FROM dl),
sq AS (SELECT DISTINCT source, CAST(start_off // 2048 AS BIGINT) AS seq_id FROM c),
ep AS (SELECT unnest(range(0, 2)) AS epoch),
k AS (SELECT s.source, s.seq_id, CAST(ep.epoch AS INTEGER) AS epoch,
             ((((${QueriesDedup.polyHashSql("s.source || ':' || CAST(s.seq_id AS VARCHAR)")}
                + ep.epoch * 2654435761) % 2147483647 + 2147483647) % 2147483647)
              * $IdHashSqlA + $IdHashSqlB) % 2147483647 AS h
      FROM sq s, ep),
r AS (SELECT epoch, source, seq_id,
             CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, source, seq_id) AS BIGINT) AS pos
      FROM k)
SELECT epoch, pos, source, seq_id FROM r ORDER BY epoch, pos"""

  /** The data-loader's contract, closed: compose the epoch shuffle
    * (q152) with a W-way WORKER SHARDING — worker w reads the
    * sequences at positions ≡ w (mod W) of its epoch's permutation
    * (round-robin over the shuffled order: balanced to ±1 sequence by
    * construction, epoch-deterministic, and computable by any worker
    * from the formula alone — no coordinator, no shuffle file, the
    * q43/q152 zero-RNG convention). The report audits what each
    * worker actually gets per epoch: sequence count and token mass —
    * the numbers that tell you whether worker batches are balanced
    * BEFORE a 1000-GPU job starts. Token mass joins back from q142's
    * per-sequence report by (source, seq_id) — metadata-scale tables
    * end to end.
    */
  def q155_worker_slices(s: SparkSession, dir: String): DataFrame = {
    val W = 4
    val order = q152_epoch_shuffle(s, dir)
    val seqTokens = q142_pack_sequences(s, dir).select("source", "seq_id", "n_tokens")
    order.withColumn("worker", pmod(col("pos"), lit(W)).cast("int"))
      .join(seqTokens, Seq("source", "seq_id"))
      .groupBy("epoch", "worker")
      .agg(count(lit(1)).as("n_seqs"), sum("n_tokens").as("n_tokens"),
        min("pos").as("first_pos"), max("pos").as("last_pos"))
      .orderBy("epoch", "worker")
  }

  val q155Sql: String =
    raw"""WITH dl AS (SELECT doc_id, source, CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM documents),
c AS (SELECT doc_id, source, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      FROM dl),
sq AS (SELECT source, CAST(start_off // 2048 AS BIGINT) AS seq_id, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       FROM c GROUP BY source, start_off // 2048),
ep AS (SELECT unnest(range(0, 2)) AS epoch),
k AS (SELECT s.source, s.seq_id, s.n_tokens, CAST(ep.epoch AS INTEGER) AS epoch,
             ((((${QueriesDedup.polyHashSql("s.source || ':' || CAST(s.seq_id AS VARCHAR)")}
                + ep.epoch * 2654435761) % 2147483647 + 2147483647) % 2147483647)
              * $IdHashSqlA + $IdHashSqlB) % 2147483647 AS h
      FROM sq s, ep),
r AS (SELECT epoch, source, seq_id, n_tokens,
             CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, source, seq_id) AS BIGINT) AS pos
      FROM k),
w AS (SELECT epoch, CAST(pos % 4 AS INTEGER) AS worker, pos, n_tokens FROM r)
SELECT epoch, worker, count(*) AS n_seqs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(pos) AS first_pos, max(pos) AS last_pos
FROM w GROUP BY epoch, worker ORDER BY epoch, worker"""

  /** The data-loader READ path, closing the loop the write-side entries
    * open (q151 shards, q152 epochs, q155 worker slices, q156
    * manifest): given (epoch, worker, token budget), serve exactly the
    * worker's budget-prefix of its epoch slice, touching ONLY the shard
    * partitions it needs. The slice contract is q152/q155's — epoch
    * order = affine(polyhash(key) + epoch·2654435761), worker w owns
    * pos ≡ w (mod W), any worker computes its slice from the formula
    * alone — applied at SHARD granularity, because that is the only
    * granularity a shuffled read can prune: q151 shards are cut in
    * doc_id order, so a permutation of 2048-token SEQUENCES scatters
    * each worker's prefix across essentially every shard (measured: 14
    * of 14 touched at sf0.001) — which is exactly why production
    * loaders shuffle shards globally and samples only within a bounded
    * read buffer. Steps:
    *  1. shard stats from the manifest (built once at write time —
    *     metadata scale), epoch-keyed hash order, worker slice, and
    *     the inclusive running token sum's budget prefix — all on the
    *     |shards|-row table (tokens/8192 — the q156 window argument);
    *  2. the ONLY data-scale read: the written shard table filtered to
    *     the selected ids — a static partition filter, so the scan's
    *     PartitionFilters prune every other shard's files
    *     (plan-asserted in PlanAssertionsSpec);
    *  3. the report audits each served shard from the READ-BACK files
    *     (the q151 roundtrip convention): doc count, BPE token mass,
    *     doc range — in epoch/pos order, the loader's consumption
    *     order.
    */
  private[graft] def loaderRead(s: SparkSession, dir: String, W: Int,
      worker: Int, budget: Long, consumed: Long = 0L): (DataFrame, String) =
    loaderReadOf(s, q151_assignment(s, dir), dir, "graft_q161_shards_",
      W, worker, budget, consumed)

  /** The loader serve path over an ARBITRARY shard assignment — shared
    * by q161/q166 (raw-corpus shards) and q171 (curated-corpus shards).
    */
  private[graft] def loaderReadOf(s: SparkSession, assignment: DataFrame,
      dir: String, tmpPrefix: String, W: Int,
      worker: Int, budget: Long, consumed: Long = 0L): (DataFrame, String) = {
    import org.apache.spark.sql.expressions.Window
    val p = PortableHash.MinHashP
    val (a, b) = PortableHash.minHashCoeffs(0)
    val out = QueriesSources.tmp(tmpPrefix, dir)
    // Persist AFTER the repartition-by-shard (round 15): the cache's
    // partitioning is then the shard clustering the partitioned write
    // wants (one file per shard dir — guide §6), the cache build runs
    // PARALLEL (the unrepartitioned cached plan was AQE-coalesced to a
    // single partition — measured 1.5-2 s of serial cache build per
    // run), and the manifest still comes from the writer's frame
    // (metadata-scale — never a read-back sweep of the table).
    // explicit task count — same AQE-coalesce exemption as the q151/q170
    // write sites (keyless-count repartition serialized the write)
    val assignDf = assignment
      .repartition(s.sparkContext.defaultParallelism, col("shard_id")).persist()
    assignDf.write.mode("overwrite").partitionBy("shard_id").parquet(out)
    // Eager localCheckpoint BEFORE the unpersist: the manifest is
    // |shards| rows, but lazily it still hangs off the full assignment
    // DAG — unpersisting first would recompute that DAG at every
    // downstream action (the slice collect AND the final result).
    val manifest = assignDf.groupBy("shard_id").agg(sum("n_bpe").as("sh_tokens"))
      .localCheckpoint()
    assignDf.unpersist()
    val slice = manifest
      .crossJoin(broadcast(epochDf(s)))
      .withColumn("base", PortableHash.asciiPolyHash(
        concat(lit("shard:"), col("shard_id").cast("string"))))
      .withColumn("h",
        ((pmod(col("base") + col("epoch") * lit(2654435761L), lit(p))) * lit(a) + lit(b)) % lit(p))
      .withColumn("pos", row_number().over(
        Window.partitionBy("epoch").orderBy(col("h"), col("shard_id"))).cast("long"))
      .filter(pmod(col("pos"), lit(W)) === worker)
      .withColumn("cum", sum("sh_tokens").over(Window.partitionBy("epoch").orderBy("pos")))
      // resume support (q166): skip the slice prefix already consumed.
      // consumed = 0 keeps q161's exact original predicate.
      .filter(col("cum") <= consumed + budget &&
        (if (consumed > 0) col("cum") > consumed else lit(true)))
      .select("epoch", "pos", "shard_id", "cum")
    val needed = slice.select("shard_id").distinct()
      .collect().map(_.getLong(0)) // ≤ budget/8192 per epoch — bounded by budget
    // explicit schema (the writer's own): parquet inference otherwise
    // submits a one-task-per-file footer job before the pruned read
    val pruned = s.read.schema(assignment.schema).parquet(out)
      .filter(col("shard_id").isin(needed.map(java.lang.Long.valueOf).toSeq: _*))
    val result = broadcast(slice)
      .join(pruned.withColumn("shard_id", col("shard_id").cast("long")), Seq("shard_id"))
      .groupBy("epoch", "pos", "shard_id", "cum")
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe").cast("long").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .select("epoch", "pos", "shard_id", "cum", "n_docs", "n_tokens",
        "first_doc", "last_doc")
      .orderBy("epoch", "pos")
    (result, out)
  }

  def q161_loader_read(s: SparkSession, dir: String): DataFrame =
    loaderRead(s, dir, W = 4, worker = 1, budget = 20000L)._1
      .select("epoch", "pos", "shard_id", "n_docs", "n_tokens", "first_doc", "last_doc")

  /** Oracle: q151's shard assignment grouped to per-shard stats, the
    * q152 hash order keyed by 'shard:<id>', the q155 worker rule, and
    * the inclusive running-sum budget prefix — the oracle reads
    * everything; partition pruning is the PHYSICAL property the plan
    * assertion covers.
    */
  val q161Sql: String =
    raw"""WITH $shardAssignSql,
g AS (SELECT CAST(shard_id AS BIGINT) AS shard_id, count(*) AS n_docs,
             CAST(sum(n_bpe) AS BIGINT) AS n_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM a GROUP BY shard_id),
ep AS (SELECT unnest(range(0, 2)) AS epoch),
k AS (SELECT g.*, CAST(ep.epoch AS INTEGER) AS epoch,
             ((((${QueriesDedup.polyHashSql("'shard:' || CAST(g.shard_id AS VARCHAR)")}
                + ep.epoch * 2654435761) % 2147483647 + 2147483647) % 2147483647)
              * $IdHashSqlA + $IdHashSqlB) % 2147483647 AS h
      FROM g, ep),
r AS (SELECT epoch, shard_id, n_docs, n_tokens, first_doc, last_doc,
             CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, shard_id) AS BIGINT) AS pos
      FROM k),
ws AS (SELECT * FROM r WHERE pos % 4 = 1),
bp AS (SELECT *, sum(n_tokens) OVER (PARTITION BY epoch ORDER BY pos) AS cum FROM ws)
SELECT epoch, pos, shard_id, n_docs, n_tokens, first_doc, last_doc
FROM bp WHERE cum <= 20000 ORDER BY epoch, pos"""

  /** DOMAIN MIXTURE to a token budget — the static-mixing-weights step
    * every corpus assembly runs (The Pile's per-source weights, DoReMi's
    * output): each source domain gets a WEIGHT (here a config stand-in:
    * weight 3 for every 4th source index, 1 otherwise), the global
    * budget T = 20000 tokens splits per-domain as ⌊T·w/Σw⌋ (integer
    * arithmetic — exact), and within a domain documents are admitted in
    * the deterministic affine-hash order (the q43/q152 zero-RNG
    * convention: any worker recomputes the selection from the formula
    * alone) until the inclusive running token sum passes the domain
    * budget (the q161 inclusive-prefix rule). The report audits, per
    * domain: weight, budget, docs and tokens admitted, budget
    * utilization — the numbers that decide whether the mix is
    * achievable BEFORE a 100 TB materialization runs.
    *
    * Scale shape: the per-domain running sum is NOT one window over
    * each domain (a domain can be most of the corpus — the skew wall):
    * it is the q152 two-phase form — rank/cumsum within (source,
    * 1024-wide hash-key bucket), plus a per-(source, bucket) offset
    * table (|domains|×1024 rows — metadata scale) broadcast back. The
    * weight/budget table is |domains| rows end to end. The oracle's
    * naive per-domain window is the semantic twin (exact integers).
    */
  def q165_domain_mix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val T = 20000L
    val dl = docs(s, dir).select(col("doc_id"), col("source"),
      size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    val wcol = when(pmod(expr("CAST(substring(source, 4) AS INT)"), lit(4)) === 0,
      lit(3L)).otherwise(lit(1L))
    val dom = dl.select("source").distinct().withColumn("w", wcol)
      .withColumn("sw", sum("w").over(
        Window.orderBy("source").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("dom_budget", expr(s"($T * w) div sw"))
      .select("source", "w", "dom_budget") // |domains| rows — metadata scale
    budgetAdmitReport(dl, dom)
  }

  /** Shared tail of the domain-mixing entries (q165 static weights,
    * q175 temperature weights): admit each domain's documents in the
    * deterministic affine-hash order until its token budget is spent,
    * the running sum in the q152 two-phase (source, 1024-wide hash
    * bucket) form — no domain-sized window partition anywhere — and
    * report per-domain selection counts and budget utilization.
    * `dom` is (source, w, dom_budget), metadata-scale by construction.
    * `extraCols` are the dom columns the report carries between `source`
    * and the admission stats (default q165/q175's weight column; q193
    * passes its cap/saturation panel instead).
    */
  private def budgetAdmitReport(dl: DataFrame, dom: DataFrame,
      extraCols: Seq[String] = Seq("w")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = PortableHash.MinHashP
    val (a, b) = PortableHash.minHashCoeffs(0)
    val withKey = dl
      .withColumn("h", (pmod(col("doc_id"), lit(p)) * lit(a) + lit(b)) % lit(p))
      .withColumn("kb", expr(s"h div ${(p + 1023) / 1024}"))
    val local = withKey.withColumn("lcum",
      sum("n_tokens").over(Window.partitionBy("source", "kb")
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val offsets = withKey.groupBy("source", "kb").agg(sum("n_tokens").as("bt"))
      .withColumn("off", coalesce(
        sum("bt").over(Window.partitionBy("source").orderBy("kb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "kb", "off") // |domains| × ≤1024 rows — metadata scale
    val admitted = local.join(broadcast(offsets), Seq("source", "kb"))
      .withColumn("cum", col("lcum") + col("off"))
      .join(broadcast(dom), Seq("source"))
      .filter(col("cum") <= col("dom_budget"))
    admitted.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sel_tokens"))
      .join(dom, Seq("source"), "right")
      .withColumn("n_docs", coalesce(col("n_docs"), lit(0L)))
      .withColumn("sel_tokens", coalesce(col("sel_tokens"), lit(0L)))
      .withColumn("util", round(col("sel_tokens").cast("double") / col("dom_budget"), 6))
      .select((Seq("source") ++ extraCols ++ Seq("dom_budget", "n_docs", "sel_tokens", "util"))
        .map(col): _*)
      .orderBy("source")
  }

  /** Oracle: the naive per-domain window cumsum in (affine hash,
    * doc_id) order — the two-phase plan's semantic twin (exact
    * integers); weights/budgets replayed in integer SQL.
    */
  val q165Sql: String =
    raw"""WITH dl AS (SELECT doc_id, source, CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM documents),
dom AS (SELECT DISTINCT source,
               CAST(CASE WHEN CAST(substring(source, 4) AS INT) % 4 = 0 THEN 3 ELSE 1 END AS BIGINT) AS w
        FROM dl),
bud AS (SELECT source, w, CAST((20000 * w) // (SELECT sum(w) FROM dom) AS BIGINT) AS dom_budget FROM dom),
k AS (SELECT dl.*, ((doc_id % 2147483647) * $IdHashSqlA + $IdHashSqlB) % 2147483647 AS h FROM dl),
c AS (SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM k),
sel AS (SELECT c.source, c.doc_id, c.n_tokens FROM c JOIN bud USING (source)
        WHERE c.cum <= bud.dom_budget),
agg AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sel_tokens
        FROM sel GROUP BY source)
SELECT b.source, b.w, b.dom_budget,
       CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(coalesce(a.sel_tokens, 0) AS BIGINT) AS sel_tokens,
       round(CAST(coalesce(a.sel_tokens, 0) AS DOUBLE) / b.dom_budget, 6) AS util
FROM bud b LEFT JOIN agg a USING (source) ORDER BY b.source"""

  /** TEMPERATURE-scaled domain mixing — q165's admission machinery with
    * DATA-DRIVEN weights w_d ∝ tokens_d^(1/2), the α = 0.5 sampling
    * exponent of the multilingual-LM recipe (XLM / mBERT): small
    * domains are upweighted relative to proportional sampling, large
    * ones damped, without any hand-set weight table. The exponent is
    * realized as the INTEGER isqrt — w_d = ⌊√tokens_d⌋ via the
    * correctly-rounded IEEE sqrt, exact for token counts far below
    * 2^52 — so every downstream number (Σw, budgets, admission) stays
    * in the exact-integer regime both engines reproduce bit-for-bit;
    * a fractional exponent through pow() would not be portable.
    *
    * Scale shape: identical to q165 — per-domain token sums are one
    * keyed aggregation, the weight/budget table is |domains| rows, and
    * admission reuses the two-phase running sum (no domain-sized
    * window partition).
    */
  def q175_temp_mix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val T = 20000L
    val dl = docs(s, dir).select(col("doc_id"), col("source"),
      size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    val dom = dl.groupBy("source").agg(sum("n_tokens").as("tok"))
      .withColumn("w", floor(sqrt(col("tok").cast("double"))).cast("long"))
      .withColumn("sw", sum("w").over(
        Window.orderBy("source").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("dom_budget", expr(s"($T * w) div sw"))
      .select("source", "w", "dom_budget") // |domains| rows — metadata scale
    budgetAdmitReport(dl, dom)
  }

  /** Oracle: q165's replay with the isqrt weight derivation — floor of
    * the IEEE sqrt on both engines, then identical integer arithmetic.
    */
  val q175Sql: String =
    raw"""WITH dl AS (SELECT doc_id, source, CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM documents),
ds AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok FROM dl GROUP BY source),
dom AS (SELECT source, CAST(floor(sqrt(CAST(tok AS DOUBLE))) AS BIGINT) AS w FROM ds),
bud AS (SELECT source, w, CAST((20000 * w) // (SELECT sum(w) FROM dom) AS BIGINT) AS dom_budget FROM dom),
k AS (SELECT dl.*, ((doc_id % 2147483647) * $IdHashSqlA + $IdHashSqlB) % 2147483647 AS h FROM dl),
c AS (SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM k),
sel AS (SELECT c.source, c.doc_id, c.n_tokens FROM c JOIN bud USING (source)
        WHERE c.cum <= bud.dom_budget),
agg AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sel_tokens
        FROM sel GROUP BY source)
SELECT b.source, b.w, b.dom_budget,
       CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(coalesce(a.sel_tokens, 0) AS BIGINT) AS sel_tokens,
       round(CAST(coalesce(a.sel_tokens, 0) AS DOUBLE) / b.dom_budget, 6) AS util
FROM bud b LEFT JOIN agg a USING (source) ORDER BY b.source"""

  /** WATERFILLING domain mix — the third mixing policy next to q165's
    * hand-set weights and q175's temperature weights: spread a global
    * token budget B (here ⌊Σcap/2⌋) as EVENLY as possible across
    * domains subject to each domain's capacity cap_d (its total
    * tokens): alloc_d = min(cap_d, λ) with the water level λ chosen so
    * Σ alloc = B. This is the "uniform but capped" allocation corpus
    * assemblers use when small domains must not be over-asked and the
    * remainder spreads uniformly over the large ones (the capped
    * variant of uniform sampling; equivalently temperature α → 0 with
    * capacity constraints). Closed form, zero iteration: sort domains
    * by cap ascending; after the j−1 smallest saturate, the candidate
    * level is λ_j = (B − S_{j−1})/(n−j+1), and the true level is λ_{j*}
    * at the FIRST j where λ_j ≤ cap_j (always exists while B < Σcap).
    * All λ arithmetic is exact-integer-in-double (same IEEE division
    * both engines); saturated domains get their exact integer cap,
    * unsaturated ones ⌊λ⌋. Admission then reuses q165's two-phase
    * deterministic-hash machinery unchanged.
    *
    * Scale shape: the waterfill math runs entirely on the |domains|-row
    * cap table (metadata scale — the unpartitioned windows are
    * whitelisted on that bound); the corpus is touched once for the
    * per-domain token sums and once for admission, both keyed.
    */
  def q193_waterfill_mix(s: SparkSession, dir: String): DataFrame = {
    val dl = docs(s, dir).select(col("doc_id"), col("source"),
      size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    val caps = dl.groupBy("source").agg(sum("n_tokens").as("cap"))
    budgetAdmitReport(dl, waterfillDoms(caps), extraCols = Seq("cap", "saturated"))
  }

  /** The closed-form waterfill over a (source, cap) table: per domain,
    * dom_budget = min(cap, λ) with the level λ chosen so allocations
    * sum to the budget (⌊Σcap/2⌋ by default; `budget` overrides for
    * the property spec — it must be < Σcap so the level exists).
    * Saturated domains keep their exact integer cap; unsaturated ones
    * get ⌊λ⌋. All windows run on the |domains|-row cap table. Exact
    * IEEE double divisions on integers — the oracle replays them
    * verbatim.
    */
  private[graft] def waterfillDoms(caps: DataFrame, budget: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCap = Window.orderBy("cap", "source")
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    caps
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("budget", budget.map(lit).getOrElse(expr("(sum(cap) over ()) div 2")))
      .withColumn("j", row_number().over(byCap))
      .withColumn("s_prev", coalesce(
        sum("cap").over(byCap.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("lam_j",
        (col("budget") - col("s_prev")).cast("double") /
          (col("n") - col("j") + lit(1L)).cast("double"))
      .withColumn("jstar", min(when(col("lam_j") <= col("cap"), col("j"))).over(all))
      .withColumn("lam", max(when(col("j") === col("jstar"), col("lam_j"))).over(all))
      .withColumn("saturated", when(col("j") < col("jstar"), lit(1L)).otherwise(lit(0L)))
      .withColumn("dom_budget", when(col("saturated") === 1L, col("cap"))
        .otherwise(floor(col("lam"))))
      .select("source", "cap", "saturated", "dom_budget")
  }

  /** Oracle: the same closed-form waterfill over the |domains| cap
    * table (identical IEEE double divisions), then q165's naive
    * per-domain admission window.
    */
  val q193Sql: String =
    raw"""WITH dl AS (SELECT doc_id, source, CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM documents),
caps AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS cap FROM dl GROUP BY source),
t AS (SELECT CAST(sum(cap) AS BIGINT) // 2 AS budget, count(*) AS n FROM caps),
ord AS (SELECT source, cap,
               row_number() OVER (ORDER BY cap, source) AS j,
               CAST(coalesce(sum(cap) OVER (ORDER BY cap, source
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s_prev
        FROM caps),
lev AS (SELECT o.source, o.cap, o.j, o.s_prev,
               CAST(t.budget - o.s_prev AS DOUBLE) / CAST(t.n - o.j + 1 AS DOUBLE) AS lam_j
        FROM ord o, t),
pick AS (SELECT min(CASE WHEN lam_j <= cap THEN j END) AS jstar FROM lev),
lamv AS (SELECT l.lam_j AS lam FROM lev l, pick WHERE l.j = pick.jstar),
bud AS (SELECT l.source, l.cap,
               CAST(CASE WHEN l.j < pick.jstar THEN 1 ELSE 0 END AS BIGINT) AS saturated,
               CAST(CASE WHEN l.j < pick.jstar THEN l.cap ELSE floor(lamv.lam) END AS BIGINT) AS dom_budget
        FROM lev l, pick, lamv),
k AS (SELECT dl.*, ((doc_id % 2147483647) * $IdHashSqlA + $IdHashSqlB) % 2147483647 AS h FROM dl),
c AS (SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM k),
sel AS (SELECT c.source, c.doc_id, c.n_tokens FROM c JOIN bud USING (source)
        WHERE c.cum <= bud.dom_budget),
agg AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sel_tokens
        FROM sel GROUP BY source)
SELECT b.source, b.cap, b.saturated, b.dom_budget,
       CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(coalesce(a.sel_tokens, 0) AS BIGINT) AS sel_tokens,
       round(CAST(coalesce(a.sel_tokens, 0) AS DOUBLE) / b.dom_budget, 6) AS util
FROM bud b LEFT JOIN agg a USING (source) ORDER BY b.source"""

  /** MID-EPOCH LOADER RESUME — the crash-recovery half of the q161 read
    * path: a worker that already consumed the first 20000 tokens of its
    * epoch slice restarts with (consumed = 20000, budget = 20000) and
    * must be served exactly the NEXT 20000-token stretch — no replayed
    * shard, no skipped shard. The slice contract is q161's verbatim
    * (epoch-keyed hash order over shards, pos ≡ w mod W, inclusive
    * running token sum); resume just bounds the prefix from both ends:
    * consumed < cum ≤ consumed + budget. Because the running sum lives
    * on the MANIFEST (|shards| rows), seeking to the resume point costs
    * metadata-scale work — the whole point of carrying [start_off,
    * end_off) in q156 — and the data-scale read stays partition-pruned
    * to exactly the shards of the resumed stretch (plan-asserted like
    * q161). slice_cum in the output is the consumption offset after
    * each served shard — the checkpoint value a loader would persist.
    */
  def q166_loader_resume(s: SparkSession, dir: String): DataFrame =
    loaderRead(s, dir, W = 4, worker = 1, budget = 20000L, consumed = 20000L)._1
      .withColumnRenamed("cum", "slice_cum")
      .select("epoch", "pos", "shard_id", "slice_cum", "n_docs", "n_tokens",
        "first_doc", "last_doc")

  /** q161's oracle with the resume window predicate and the slice_cum
    * checkpoint column.
    */
  val q166Sql: String =
    raw"""WITH $shardAssignSql,
g AS (SELECT CAST(shard_id AS BIGINT) AS shard_id, count(*) AS n_docs,
             CAST(sum(n_bpe) AS BIGINT) AS n_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM a GROUP BY shard_id),
ep AS (SELECT unnest(range(0, 2)) AS epoch),
k AS (SELECT g.*, CAST(ep.epoch AS INTEGER) AS epoch,
             ((((${QueriesDedup.polyHashSql("'shard:' || CAST(g.shard_id AS VARCHAR)")}
                + ep.epoch * 2654435761) % 2147483647 + 2147483647) % 2147483647)
              * $IdHashSqlA + $IdHashSqlB) % 2147483647 AS h
      FROM g, ep),
r AS (SELECT epoch, shard_id, n_docs, n_tokens, first_doc, last_doc,
             CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, shard_id) AS BIGINT) AS pos
      FROM k),
ws AS (SELECT * FROM r WHERE pos % 4 = 1),
bp AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY epoch ORDER BY pos) AS BIGINT) AS slice_cum FROM ws)
SELECT epoch, pos, shard_id, slice_cum, n_docs, n_tokens, first_doc, last_doc
FROM bp WHERE slice_cum > 20000 AND slice_cum <= 40000 ORDER BY epoch, pos"""

  /** HyperLogLog n-gram-diversity rollup — the REGISTER-MAX sketch
    * algebra beside the bottom-k KMV family (q45/q117/q129): per
    * (lang, source) the native [[org.apache.spark.sql.graft.HllAgg]]
    * builds 512 byte registers over the portable 3-gram-shingle hashes
    * (one pass, m bytes of partial state per group per task — the
    * shuffle carries registers, never shingles), then the per-LANG
    * sketch is the ELEMENTWISE MAX of its sources' registers —
    * associative, commutative, idempotent, so per-shard/per-day
    * sketches persist and roll up in any order without re-scanning text
    * (the warehouse pattern that makes approx-distinct viable at
    * 100 TB). Distinct n-gram count is a standard corpus-diversity
    * statistic (repetitive corpora have few distinct n-grams per
    * token), and unlike the 31-word synthetic vocabulary it has real
    * cardinality — thousands of shingles even at sf0.001 — so the raw
    * estimator runs in its home regime. The report puts the HLL
    * estimate next to the exact distinct count and its relative error —
    * the sketch-health check a pipeline runs before trusting the
    * estimator at scale.
    *
    * Determinism/oracle: register transitions are pure integer
    * arithmetic on the ~30-bit portable hash (idx = h mod 512, rho =
    * leading-zero rank in the 21-bit quotient window), and the raw
    * estimate αm·m²/Σ2^(−M_j) is all dyadic — exact in doubles,
    * fold-order-independent — so DuckDB replays registers AND estimate
    * bit-for-bit with no transcendental (the linear-counting
    * small-range correction needs ln(); production adds it below 2.5m —
    * at this entry's cardinalities the raw estimator is already home).
    */
  def q167_hll_distinct(s: SparkSession, dir: String): DataFrame = {
    val P = 9
    val words = docs(s, dir).select(col("lang"), col("source"),
      explode(Text.shingles(Text.tokens(col("text")), 3)).as("word"))
    val hashed = words.withColumn("h", PortableHash.asciiPolyHash(col("word")))
    val perSource = hashed.groupBy("lang", "source")
      .agg(org.apache.spark.sql.graft.HllAgg.hll(col("h"), P).as("regs"))
    val merged = perSource
      .select(col("lang"), posexplode(col("regs")).as(Seq("idx", "r")))
      .groupBy("lang", "idx").agg(max("r").as("r")) // 512 rows/lang — metadata scale
      .groupBy("lang")
      .agg(sum(when(col("r") > 0, 1L).otherwise(0L)).as("n_regs_set"),
        sum(lit(1.0) / expr("shiftleft(cast(1 as bigint), r)").cast("double")).as("ssum"))
    val exact = words.groupBy("lang").agg(countDistinct("word").as("n_exact"))
    merged.join(exact, Seq("lang"))
      .withColumn("est_raw",
        (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(512.0)))
          * lit(512.0) * lit(512.0) / col("ssum"))
      .select(col("lang"), round(col("est_raw"), 6).as("hll_est"),
        col("n_exact"),
        round(abs(col("est_raw") - col("n_exact")) / col("n_exact"), 6).as("rel_err"),
        col("n_regs_set"))
      .orderBy("lang")
  }

  /** Oracle: the registers recomputed in integer SQL (idx = h mod 512;
    * rho via length(bin(q)) — exact floor-log2), the same register-max
    * rollup, and the identical dyadic estimate expression. The oracle's
    * register table carries only TOUCHED registers, so the zero
    * registers enter the sum as the (512 − count) correction term —
    * same exact value.
    */
  val q167Sql: String =
    raw"""WITH tk AS (SELECT lang, source, $ToksSql AS t FROM documents),
toks AS (SELECT lang, source, array_to_string(t[i:i+2], ' ') AS word
         FROM (SELECT lang, source, t, unnest(range(1, len(t) - 1)) AS i FROM tk WHERE len(t) >= 3)),
hh AS (SELECT lang, source, ${QueriesDedup.polyHashSql("word")} AS h FROM toks),
reg AS (SELECT lang, source, h % 512 AS idx,
               max(CASE WHEN h // 512 = 0 THEN 22
                        ELSE 21 - (length(bin(h // 512)) - 1) END) AS r
        FROM hh GROUP BY lang, source, h % 512),
mg AS (SELECT lang, idx, max(r) AS r FROM reg GROUP BY lang, idx),
s AS (SELECT lang,
             sum(1.0 / CAST(1 << r AS DOUBLE)) + (512 - count(*)) * 1.0 AS ssum,
             CAST(count(*) AS BIGINT) AS n_regs_set
      FROM mg GROUP BY lang),
x AS (SELECT lang, count(DISTINCT word) AS n_exact FROM toks GROUP BY lang),
e AS (SELECT s.lang, (0.7213 / (1 + 1.079 / 512.0)) * 512.0 * 512.0 / s.ssum AS est_raw,
             s.n_regs_set, x.n_exact
      FROM s JOIN x USING (lang))
SELECT lang, round(est_raw, 6) AS hll_est, CAST(n_exact AS BIGINT) AS n_exact,
       round(abs(est_raw - n_exact) / n_exact, 6) AS rel_err, n_regs_set
FROM e ORDER BY lang"""

  /** The ATTRITION FUNNEL of the q123 curation pipeline — the
    * per-stage observability report every production corpus build ships
    * with: for each stage (raw → quality gate → exact dedup → near-dup
    * → decontamination), surviving docs and token mass, docs dropped by
    * that stage, and the stage's drop fraction. q123 reports only the
    * end state; a pipeline owner watching a 100 TB build needs to know
    * WHERE the corpus went — a quality gate suddenly eating 40 % of a
    * crawl is the alarm this report exists for.
    *
    * Scale shape: the stages are [[pipelineStages]]'s single shared DAG
    * (each stage a keyed semi/anti join off the previous — Catalyst
    * sees all five aggregates over common subplans); each stage
    * contributes ONE (count, sum) row, and the funnel arithmetic (lag,
    * drop fraction) runs on the 5-row result. Nothing new is
    * materialized: the report costs the pipeline's own DAG plus five
    * partial-aggregated counts.
    */
  def q168_pipeline_attrition(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stages = pipelineStages(s, dir)
    val rows = stages.zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_tokens"), lit(0L)).cast("long").as("n_tokens"))
        .select(lit(name).as("stage"), lit(i).as("stage_order"),
          col("n_docs"), col("n_tokens"))
    }
    val u = rows.reduce(_ unionByName _)
    val w = Window.orderBy("stage_order") // 5 rows — a driver-scale window
    u.withColumn("prev", lag("n_docs", 1).over(w))
      .withColumn("dropped", coalesce(col("prev") - col("n_docs"), lit(0L)))
      .withColumn("drop_frac",
        round(when(col("prev").isNull || col("prev") === 0, lit(0.0))
          .otherwise(col("dropped").cast("double") / col("prev")), 6))
      .select("stage", "stage_order", "n_docs", "n_tokens", "dropped", "drop_frac")
      .orderBy("stage_order")
  }

  /** Oracle: the shared q123 chain, one UNION ALL aggregate per stage,
    * funnel arithmetic by lag over the 5-row stage table.
    */
  val q168Sql: String =
    raw"""WITH $pipelineChainSql,
st AS (SELECT 'raw' AS stage, 0 AS stage_order, count(*) AS n_docs,
              CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM q
       UNION ALL SELECT 'quality_gate', 1, count(*),
              CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM gated
       UNION ALL SELECT 'exact_dedup', 2, count(*),
              CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM dd
       UNION ALL SELECT 'near_dedup', 3, count(*),
              CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM surv
       UNION ALL SELECT 'decontaminated', 4, count(*),
              CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM clean),
f AS (SELECT *, lag(n_docs) OVER (ORDER BY stage_order) AS prev FROM st)
SELECT stage, stage_order, n_docs, n_tokens,
       CAST(coalesce(prev - n_docs, 0) AS BIGINT) AS dropped,
       round(CASE WHEN prev IS NULL OR prev = 0 THEN 0.0
                  ELSE CAST(prev - n_docs AS DOUBLE) / prev END, 6) AS drop_frac
FROM f ORDER BY stage_order"""

  /** The TERMINAL PATH OVER THE CURATED CORPUS — the join the layers
    * were built for: q123's cleaning chain decides WHAT trains, q151's
    * shard writer decides HOW it is laid out; this entry composes them,
    * running the full BPE→offsets→8192-token-shard pipeline (including
    * the BPE vocabulary TRAINED on the curated text — a cleaned corpus
    * has a different merge table than the raw one) over exactly the
    * documents that survive quality gating, exact dedup, near-dup
    * removal, and decontamination. Same write+read-back report as q151.
    * A production corpus build runs THIS, not q151-on-raw: the shards
    * a loader serves must contain only curated text.
    *
    * Scale shape: the curation chain is q123's single DAG of keyed
    * semi/anti joins; the shard path is q151's (vocabulary-bound BPE,
    * broadcast encode join, two-phase metadata-scale offsets,
    * shuffle-free partitioned write). Composing them adds one keyed
    * semi-join (docs ⋉ clean) — nothing new moves.
    */
  def q170_clean_shards(s: SparkSession, dir: String): DataFrame = {
    val S = 8192L
    // Persisted: the shard assignment consumes the curated text several
    // times (vocabulary count, encode join, per-doc reduce), and without
    // the persist each pass re-executes the whole cleaning chain — the
    // q176 lesson; at production scale this stage is a materialized
    // artifact between the curation job and the shard writer.
    val clean = pipelineStages(s, dir).last._2.select("doc_id", "text").persist()
    val assigned = assignmentOf(clean)
    val out = QueriesSources.tmp("graft_q170_shards_", dir)
    // repartition by the partition column before the partitioned write
    // (guide §6): without it the AQE-coalesced upstream leaves each task
    // holding rows of MANY shards — 2+ part-files per shard dir, created
    // serially by few tasks — and the read-back pays one tiny-file task
    // per file. One exchange of (doc_id, n_bpe, shard_id) longs buys
    // one file per shard dir, written in parallel.
    // explicit task count (cluster parallelism): a keyless-count
    // repartition(col) is AQE-coalesced to ONE post-shuffle partition at
    // small volumes — the write then creates every shard dir serially
    // (measured 1.5-2 s single-task WriteFiles); REPARTITION_BY_NUM is
    // exempt from coalescing, so file creation runs cores-wide while
    // each shard's rows still land in exactly one task (one file/dir).
    assigned.repartition(s.sparkContext.defaultParallelism, col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(out)
    // explicit schema on the read-back (the writer's own): parquet
    // schema INFERENCE otherwise submits a footer-reading job with one
    // task per file — measured 113 tasks / ~5 s task time per read at
    // sf0.1 (guide §1.2/§6). Same physical read, same values.
    s.read.schema(assigned.schema).parquet(out)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe").cast("long").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .withColumn("fill", round(col("n_tokens").cast("double") / S, 6))
      .select(col("shard_id").cast("long").as("shard_id"), col("n_docs"),
        col("n_tokens"), col("first_doc"), col("last_doc"), col("fill"))
      .orderBy("shard_id")
  }

  /** Oracle: the q123 chain selects the curated doc set, the q151
    * machinery (BPE rounds, cumsum, shard cut) runs over it via the
    * parameterized shard fragment.
    */
  val q170Sql: String =
    raw"""WITH $pipelineChainSql,
cleandocs AS (SELECT d.doc_id, d.text FROM documents d JOIN clean c USING (doc_id)),
${shardAssignSqlFrom("cleandocs")}
SELECT CAST(shard_id AS BIGINT) AS shard_id, count(*) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       round(CAST(sum(n_bpe) AS DOUBLE) / 8192, 6) AS fill
FROM a GROUP BY shard_id ORDER BY shard_id"""

  /** CURATE → SHARD → SERVE, closed end to end: the q161 loader
    * contract (epoch-keyed shard shuffle, worker slice, budget prefix,
    * partition-pruned read) over the CURATED corpus's shard layout
    * (q170's assignment). This is the full lifecycle a training job
    * actually exercises — the raw crawl never reaches a loader; the
    * cleaned shards do — and every hop is the same previously-verified
    * machinery, composed: q123's chain picks the docs, q151's writer
    * cuts the shards, q152/q155's zero-RNG slice formulas pick what
    * worker 1 reads, and the scan touches only the served shards'
    * partitions.
    */
  def q171_clean_loader(s: SparkSession, dir: String): DataFrame = {
    // Persisted for the same multi-consumer reason as q170.
    val clean = pipelineStages(s, dir).last._2.select("doc_id", "text").persist()
    loaderReadOf(s, assignmentOf(clean), dir, "graft_q171_shards_",
      W = 4, worker = 1, budget = 20000L)._1
      .select("epoch", "pos", "shard_id", "n_docs", "n_tokens", "first_doc", "last_doc")
  }

  /** Oracle: q170's curated shard assignment feeding q161's slice/
    * budget tail verbatim.
    */
  val q171Sql: String =
    raw"""WITH $pipelineChainSql,
cleandocs AS (SELECT d.doc_id, d.text FROM documents d JOIN clean c USING (doc_id)),
${shardAssignSqlFrom("cleandocs")},
g AS (SELECT CAST(shard_id AS BIGINT) AS shard_id, count(*) AS n_docs,
             CAST(sum(n_bpe) AS BIGINT) AS n_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM a GROUP BY shard_id),
ep AS (SELECT unnest(range(0, 2)) AS epoch),
k AS (SELECT g.*, CAST(ep.epoch AS INTEGER) AS epoch,
             ((((${QueriesDedup.polyHashSql("'shard:' || CAST(g.shard_id AS VARCHAR)")}
                + ep.epoch * 2654435761) % 2147483647 + 2147483647) % 2147483647)
              * $IdHashSqlA + $IdHashSqlB) % 2147483647 AS h
      FROM g, ep),
r2 AS (SELECT epoch, shard_id, n_docs, n_tokens, first_doc, last_doc,
             CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, shard_id) AS BIGINT) AS pos
      FROM k),
ws AS (SELECT * FROM r2 WHERE pos % 4 = 1),
bp AS (SELECT *, sum(n_tokens) OVER (PARTITION BY epoch ORDER BY pos) AS cum FROM ws)
SELECT epoch, pos, shard_id, n_docs, n_tokens, first_doc, last_doc
FROM bp WHERE cum <= 20000 ORDER BY epoch, pos"""

  /** HLL sketch-rollup CUBE — the warehouse pattern that makes
    * approx-distinct affordable at 100 TB: the corpus is scanned ONCE
    * to build per-(lang, source) register sketches (q167's native
    * [[org.apache.spark.sql.graft.HllAgg]] over 3-gram-shingle
    * hashes), and every coarser granularity — per-lang, per-source,
    * global — is derived from the |lang×source|-row base sketch table
    * by ELEMENTWISE register max. Because register max is associative,
    * commutative, and idempotent, the merged sketch at each level is
    * IDENTICAL to the sketch a direct scan at that grouping would
    * build — and that identity is exactly what the gate checks: the
    * oracle computes every level's registers DIRECTLY from the corpus
    * with its own GROUP BY, so the hash-match proves merged == direct,
    * register for register, estimate bit for bit (the q167 dyadic
    * estimate — no transcendental).
    *
    * Scale shape: one corpus pass (explode + partial-aggregated
    * sketch groupBy; the shuffle carries m-byte registers per group,
    * never shingles); the persisted exploded base is |groups|·512
    * rows and all three rollups aggregate THAT — the plan's only
    * data-scale stage is the base build, which is the whole point.
    */
  def q181_sketch_cube(s: SparkSession, dir: String): DataFrame = {
    val P = 9; val m = 512
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val hashed = docs(s, dir).select(col("lang"), col("source"),
        explode(Text.shingles(Text.tokens(col("text")), 3)).as("word"))
      .withColumn("h", PortableHash.asciiPolyHash(col("word")))
    val baseE = hashed.groupBy("lang", "source")
      .agg(org.apache.spark.sql.graft.HllAgg.hll(col("h"), P).as("regs"))
      .select(col("lang"), col("source"), posexplode(col("regs")).as(Seq("idx", "r")))
      .persist() // |lang×source|·512 rows — metadata scale
    def level(name: String, keys: Seq[String]): DataFrame = {
      val merged =
        if (keys.isEmpty) baseE.groupBy("idx").agg(max("r").as("r"))
        else baseE.groupBy((keys :+ "idx").map(col): _*).agg(max("r").as("r"))
      val est =
        (if (keys.isEmpty) merged.groupBy()
         else merged.groupBy(keys.map(col): _*))
          .agg(sum(when(col("r") > 0, 1L).otherwise(0L)).as("n_regs_set"),
            sum(lit(1.0) / expr("shiftleft(cast(1 as bigint), r)").cast("double")).as("ssum"))
      est.select(lit(name).as("level"),
        (if (keys.contains("lang")) col("lang") else lit("ALL")).as("lang"),
        (if (keys.contains("source")) col("source") else lit("ALL")).as("source"),
        round(alpha * lit(m.toDouble) * lit(m.toDouble) / col("ssum"), 6).as("hll_est"),
        col("n_regs_set"))
    }
    level("lang_source", Seq("lang", "source"))
      .unionByName(level("lang", Seq("lang")))
      .unionByName(level("source", Seq("source")))
      .unionByName(level("all", Seq.empty))
      .orderBy("level", "lang", "source")
  }

  /** Oracle: each level's registers computed DIRECTLY from the shingle
    * hashes with that level's GROUP BY (the q167 register replay), so
    * the comparison certifies the operator's merge-based rollup
    * against independent direct sketches. Untouched registers enter
    * each ssum as the (512 − count) correction, same exact value.
    */
  val q181Sql: String = {
    val rho = "CASE WHEN h // 512 = 0 THEN 22 ELSE 21 - (length(bin(h // 512)) - 1) END"
    def lvl(name: String, keys: Seq[String]): String = {
      val sel = Seq(
        if (keys.contains("lang")) "lang" else "'ALL' AS lang",
        if (keys.contains("source")) "source" else "'ALL' AS source").mkString(", ")
      val grp = (keys :+ "h % 512").mkString(", ")
      val regGrp = if (keys.isEmpty) "h % 512" else grp
      val sGrp = if (keys.isEmpty) "" else s"GROUP BY ${keys.mkString(", ")}"
      s"""SELECT '$name' AS level, $sel,
       round((0.7213 / (1 + 1.079 / 512.0)) * 512.0 * 512.0 /
             (sum(1.0 / CAST(1 << r AS DOUBLE)) + (512 - count(*)) * 1.0), 6) AS hll_est,
       CAST(count(*) AS BIGINT) AS n_regs_set
FROM (SELECT ${if (keys.isEmpty) "" else keys.mkString(", ") + ", "}h % 512 AS idx, max($rho) AS r
      FROM hh GROUP BY $regGrp) $sGrp"""
    }
    raw"""WITH tk AS (SELECT lang, source, $ToksSql AS t FROM documents),
toks AS (SELECT DISTINCT lang, source, array_to_string(t[i:i+2], ' ') AS word
         FROM (SELECT lang, source, t, unnest(range(1, len(t) - 1)) AS i FROM tk WHERE len(t) >= 3)),
hh AS (SELECT lang, source, ${QueriesDedup.polyHashSql("word")} AS h FROM toks)
${lvl("lang_source", Seq("lang", "source"))}
UNION ALL ${lvl("lang", Seq("lang"))}
UNION ALL ${lvl("source", Seq("source"))}
UNION ALL ${lvl("all", Seq.empty)}
ORDER BY level, lang, source"""
  }

  /** DSIR-style importance SELECTION (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): documents from
    * the selection pool (non-English here) are scored by how much a
    * TARGET distribution (the English subset) prefers their hashed
    * unigram features over the raw-pool distribution —
    * score(d) = Σ_f c_df · ln(p_target(f) / p_raw(f)), add-one
    * smoothing over B = 1024 hash buckets (q113's feature-hashing
    * domain: the paper's trick for a vocabulary-free feature space) —
    * and the top-20 by score are selected, ties to the smaller doc_id.
    * This is the importance-weighting recipe modern pipelines use to
    * fish target-domain-like documents out of a general crawl.
    *
    * Scale shape: feature counts are keyed (doc, f) / (f) aggregations
    * over hashed longs (text never shuffles); the log-ratio table is
    * B rows — broadcast back onto per-doc counts; scoring is one
    * doc-keyed aggregation; selection is orderBy+limit
    * (TakeOrderedAndProject — bounded top-k, never a global sort). The
    * transcendental follows the q114 convention: ln on exact integer
    * ratios, rounded to 6 before any ordering the gate hashes.
    */
  def q182_dsir_select(s: SparkSession, dir: String): DataFrame = {
    val B = 1024L
    val feat = docs(s, dir)
      .select(col("doc_id"), col("lang"), explode(Text.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
        pmod(PortableHash.asciiPolyHash(col("tok")), lit(B)).as("f"))
    // ONE corpus pass: the doc-level feature counts are persisted and
    // every coarser table (target, raw, totals) derives from them —
    // feat is token-scale, cdf is the much smaller doc×feature table
    // with three consumers (the q176 materialized-stage convention).
    val cdf = feat.groupBy("doc_id", "lang", "f").agg(count(lit(1)).as("c")).persist()
    val tgt = cdf.filter(col("lang") === "en").groupBy("f").agg(sum("c").as("tf"))
    val raw = cdf.groupBy("f").agg(sum("c").as("rf"))
    val totals = tgt.agg(sum("tf").as("tt")).crossJoin(raw.agg(sum("rf").as("rr")))
    val lr = raw.join(tgt, Seq("f"), "left")
      .withColumn("tf", coalesce(col("tf"), lit(0L)))
      .crossJoin(broadcast(totals)) // one row: the two totals
      .select(col("f"),
        log(((col("tf") + lit(1.0)) / (col("tt") + lit(B.toDouble)))
          / ((col("rf") + lit(1.0)) / (col("rr") + lit(B.toDouble)))).as("lr"))
    cdf.filter(col("lang") =!= "en")
      .join(broadcast(lr), Seq("f")) // B rows
      .groupBy("doc_id", "lang")
      .agg(sum("c").cast("long").as("n_feats"),
        round(sum(col("c") * col("lr")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** Oracle: identical hashed-feature counts, smoothing, ln ratio, and
    * (score DESC, doc_id) top-20.
    */
  val q182Sql: String =
    raw"""WITH feat AS (SELECT doc_id, lang, ${QueriesDedup.polyHashSql("tok")} % 1024 AS f
             FROM (SELECT doc_id, lang, unnest($ToksSql) AS tok FROM documents)),
cdf AS (SELECT doc_id, lang, f, count(*) AS c FROM feat GROUP BY doc_id, lang, f),
tgt AS (SELECT f, count(*) AS tf FROM feat WHERE lang = 'en' GROUP BY f),
rawc AS (SELECT f, count(*) AS rf FROM feat GROUP BY f),
tot AS (SELECT (SELECT sum(tf) FROM tgt) AS tt, (SELECT sum(rf) FROM rawc) AS rr),
lr AS (SELECT rawc.f,
              ln(((coalesce(tgt.tf, 0) + 1.0) / (tot.tt + 1024.0))
                 / ((rawc.rf + 1.0) / (tot.rr + 1024.0))) AS lr
       FROM rawc LEFT JOIN tgt USING (f) CROSS JOIN tot)
SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_feats,
       round(sum(c * lr), 6) AS score
FROM cdf JOIN lr USING (f)
WHERE lang <> 'en'
GROUP BY doc_id, lang
ORDER BY score DESC, doc_id LIMIT 20"""

  /** Feature-distribution DRIFT monitor — the population-stability-index
    * (PSI) report a pipeline owner reads before admitting a new crawl
    * source: for every source, PSI between ITS hashed-unigram-feature
    * distribution and the REST of the corpus's,
    * PSI_s = Σ_f (p_f − q_f)·ln(p_f / q_f) over the B = 1024 hash
    * buckets (add-one smoothing keeps every ln finite), with the
    * standard reading: < 0.1 stable, 0.1–0.2 moderate, > 0.2 drifted.
    * The complement of q180's novelty (content overlap): PSI sees
    * DISTRIBUTIONAL shift — a source can be 100 % novel text drawn
    * from the same topic mix (PSI ≈ 0) or near-duplicate text with a
    * skewed vocabulary (PSI large).
    *
    * Scale shape: one tokenize+hash pass; (source, f) counts are a
    * keyed aggregation (≤ |sources|·B rows out); the corpus-wide B-row
    * feature table broadcasts back; the PSI sum is (source)-keyed over
    * ≤ B terms. The rest-of-corpus counts are global − source — no
    * second corpus pass. ln follows the q114 rounding convention.
    */
  def q184_feature_drift(s: SparkSession, dir: String): DataFrame = {
    val B = 1024L
    val feat = docs(s, dir)
      .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      .select(col("source"), pmod(PortableHash.asciiPolyHash(col("tok")), lit(B)).as("f"))
    val sf = feat.groupBy("source", "f").agg(count(lit(1)).as("c"))
    val gf = sf.groupBy("f").agg(sum("c").as("g")) // corpus-wide, B rows
    val ns = sf.groupBy("source").agg(sum("c").as("n")) // per-source totals
    val tot = gf.agg(sum("g").as("t")) // one row
    // PSI sums over ALL B buckets — under add-one smoothing a bucket the
    // source never emits still contributes (p = 1/(n+B) vs the rest's
    // mass there), so the support is the bounded |sources|×B grid, not
    // just the observed (source, f) rows.
    val grid = ns.crossJoin(broadcast(gf))
    val p = grid.join(sf, Seq("source", "f"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n"),
        ((col("c") + lit(1.0)) / (col("n") + lit(B.toDouble))).as("p"),
        ((col("g") - col("c") + lit(1.0)) / (col("t") - col("n") + lit(B.toDouble))).as("q"))
    p.groupBy("source")
      .agg(first("n").as("n_tokens"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"))
      .withColumn("verdict",
        when(col("psi") > 0.2, "drift")
          .when(col("psi") > 0.1, "moderate").otherwise("stable"))
      .select(col("source"), col("n_tokens").cast("long").as("n_tokens"),
        col("psi"), col("verdict"))
      .orderBy("source")
  }

  /** Oracle: identical counts, the same sources×buckets grid (absent
    * features enter at c = 0, exactly as the operator's left join), and
    * the same smoothed PSI arithmetic.
    */
  val q184Sql: String =
    raw"""WITH feat AS (SELECT source, ${QueriesDedup.polyHashSql("tok")} % 1024 AS f
             FROM (SELECT source, unnest($ToksSql) AS tok FROM documents)),
sf AS (SELECT source, f, count(*) AS c FROM feat GROUP BY source, f),
gf AS (SELECT f, sum(c) AS g FROM sf GROUP BY f),
ns AS (SELECT source, sum(c) AS n FROM sf GROUP BY source),
tot AS (SELECT sum(g) AS t FROM gf),
grid AS (SELECT ns.source, ns.n, gf.f, gf.g FROM ns CROSS JOIN gf),
p AS (SELECT grid.source, grid.n,
             (coalesce(sf.c, 0) + 1.0) / (grid.n + 1024.0) AS p,
             (grid.g - coalesce(sf.c, 0) + 1.0) / (tot.t - grid.n + 1024.0) AS q
      FROM grid LEFT JOIN sf ON sf.source = grid.source AND sf.f = grid.f CROSS JOIN tot),
agg AS (SELECT source, CAST(min(n) AS BIGINT) AS n_tokens,
               round(sum((p - q) * ln(p / q)), 6) AS psi
        FROM p GROUP BY source)
SELECT source, n_tokens, psi,
       CASE WHEN psi > 0.2 THEN 'drift'
            WHEN psi > 0.1 THEN 'moderate' ELSE 'stable' END AS verdict
FROM agg ORDER BY source"""

  /** DROP ATTRIBUTION — row-level provenance through the q44 cleaning
    * chain (the "why was my document removed" column every data card
    * needs, and the row-level refinement of q168's stage funnel): each
    * document gets the FIRST failing rule in the declared order
    * length → stopwords → quality → duplicate → kept, where
    * 'duplicate' means a non-keep-first copy among the documents that
    * passed every filter (exactly q44's dedup stage). Output is the
    * (source, verdict) matrix with counts and an id-keyed checksum, so
    * the per-document labels — not just the totals — are under the
    * hash. One corpus scan + one text-keyed window over the passing
    * subset; at 100 TB the verdict column is written next to the
    * corpus and the matrix is the data card's attrition table.
    */
  def q203_drop_attribution(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
    val scored = docs(s, dir)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"),
        alpha.as("alpha"),
        size(toks).cast("long").as("n_tokens"),
        Text.markerCount(toks, Text.EnglishMarkers).as("n_stop"))
      .select(col("doc_id"), col("source"), col("text"), col("n_tokens"), col("n_stop"),
        when(col("n_chars") === 0, 0.0)
          .otherwise(col("alpha").cast("double") / col("n_chars")).as("alpha_ratio"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("alpha").cast("double") / col("n_tokens")).as("avg_tok_len"))
      .withColumn("quality",
        round(col("alpha_ratio") * 0.4
          + least(col("avg_tok_len") / 10.0, lit(1.0)) * 0.3
          + (lit(1.0) - col("stopword_ratio")) * 0.3, 6))
    val passes = col("n_tokens").between(15, 95) && col("n_stop") >= 2 &&
      col("quality") >= 0.74
    val passers = scored.filter(passes)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("text").orderBy("doc_id")))
      .select(col("doc_id"), col("__rn"))
    scored.join(passers, Seq("doc_id"), "left")
      .select(col("source"), col("doc_id"), col("n_tokens"),
        when(!col("n_tokens").between(15, 95), "length")
          .when(col("n_stop") < 2, "stopwords")
          .when(col("quality") < 0.74, "quality")
          .when(col("__rn") > 1, "duplicate")
          .otherwise("kept").as("verdict"))
      .groupBy("source", "verdict")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("doc_id") * 31 + col("n_tokens")) % 1000000007L).as("checksum"))
      .orderBy("source", "verdict")
  }

  val q203Sql: String =
    raw"""WITH t AS (
  SELECT doc_id, source, text, n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         len($ToksSql) AS n_tokens,
         len(list_filter($ToksSql, w -> list_contains(['the', 'a', 'and', 'of', 'is'], w))) AS n_stop
  FROM documents),
r AS (
  SELECT doc_id, source, text, n_tokens, n_stop,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_chars END AS alpha_ratio,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stopword_ratio,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_tokens END AS avg_tok_len
  FROM t),
q AS (
  SELECT doc_id, source, text, n_tokens, n_stop,
         round(alpha_ratio * 0.4 + least(avg_tok_len / 10.0, 1.0) * 0.3 + (1.0 - stopword_ratio) * 0.3, 6) AS quality
  FROM r),
cleaned AS (
  SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM q WHERE n_stop >= 2 AND quality >= 0.74 AND n_tokens BETWEEN 15 AND 95),
v AS (
  SELECT q.source, q.doc_id, q.n_tokens,
         CASE WHEN q.n_tokens NOT BETWEEN 15 AND 95 THEN 'length'
              WHEN q.n_stop < 2 THEN 'stopwords'
              WHEN q.quality < 0.74 THEN 'quality'
              WHEN c.rn > 1 THEN 'duplicate'
              ELSE 'kept' END AS verdict
  FROM q LEFT JOIN cleaned c ON c.doc_id = q.doc_id)
SELECT source, verdict, count(*) AS n_docs,
       CAST(sum((doc_id * 31 + n_tokens) % 1000000007) AS BIGINT) AS checksum
FROM v GROUP BY source, verdict ORDER BY source, verdict"""

  private val BootB = 100
  private val BootP = PortableHash.MinHashP
  private val bootCoeffs = PortableHash.minHashCoeffs(103)

  /** Cumulative Poisson(1) CDF scaled to [0, P) as integer thresholds,
    * computed ONCE here and embedded as literals in both engines (the
    * q204 NdcgW pattern): neither engine evaluates exp() at query
    * time, and the weight lookup is pure integer comparison.
    */
  private val BootThresholds: Seq[Long] = {
    val pmf = (0 to 7).map(k => math.exp(-1.0) / (1 to k).product)
    pmf.scanLeft(0.0)(_ + _).tail.map(c => math.round(c * BootP))
  }

  /** POISSON-BOOTSTRAP CONFIDENCE INTERVALS — the one-pass resampling
    * that works at corpus scale (classic multinomial bootstrap needs
    * sampling WITHOUT replacement across workers; Poissonization makes
    * every row's replica weight independent, so the whole bootstrap is
    * a map + aggregate): each document gets, per replica b < 100, a
    * deterministic Poisson(1) weight via an affine hash of
    * (doc_id, b) against the embedded integer CDF thresholds, and each
    * (lang, replica) emits its weighted mean document length in exact
    * integer ppm. Replica means are ranked per language — rows at
    * rnk 3 / 98 are the 2.5% / 97.5% bootstrap CI endpoints for the
    * metric, all 100 replicas under the hash. Scale: the replica grid
    * is a bounded 100-way explode (at 100 TB: a generate inside the
    * scan, no shuffle), the aggregation is map-side partial on
    * (lang, b), and the ranking windows over |langs| x 100 rows.
    */
  def q218_bootstrap_ci(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (bootA, bootBc) = bootCoeffs
    val tArr = BootThresholds.mkString(", ")
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      .select(col("*"), explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      .withColumn("u",
        (((col("doc_id") * lit(BootB.toLong) + col("b").cast("long")) % lit(BootP))
          * lit(bootA) + lit(bootBc)) % lit(BootP))
      .withColumn("w", expr(
        s"aggregate(array($tArr), CAST(0 AS BIGINT), " +
          "(acc, t) -> acc + IF(u >= t, CAST(1 AS BIGINT), CAST(0 AS BIGINT)))"))
    d.groupBy("lang", "b")
      .agg(sum("w").as("w_total"), sum(col("w") * col("n_chars")).as("wx"))
      .select(col("lang"), col("b").cast("long").as("b"), col("w_total"),
        when(col("w_total") === 0, lit(-1L))
          .otherwise(expr("(wx * 1000000) div w_total")).as("mean_ppm"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("mean_ppm"), col("b"))).cast("long"))
      .orderBy("lang", "b")
  }

  val q218Sql: String = {
    val (bootA, bootBc) = bootCoeffs
    val tArr = BootThresholds.mkString(", ")
    raw"""WITH g AS (SELECT doc_id, lang, n_chars, b
           FROM documents CROSS JOIN (SELECT unnest(range(0, $BootB)) AS b)),
u AS (SELECT lang, b, n_chars,
             ((((doc_id * $BootB + b) % $BootP) * $bootA + $bootBc) % $BootP) AS u FROM g),
w AS (SELECT lang, b, n_chars,
             list_sum(list_transform([$tArr], t -> CASE WHEN u >= t THEN 1 ELSE 0 END)) AS w
      FROM u),
m AS (SELECT lang, CAST(b AS BIGINT) AS b, CAST(sum(w) AS BIGINT) AS w_total,
             CASE WHEN sum(w) = 0 THEN CAST(-1 AS BIGINT)
                  ELSE CAST((sum(w * n_chars) * 1000000) // sum(w) AS BIGINT) END AS mean_ppm
      FROM w GROUP BY 1, 2)
SELECT lang, b, w_total, mean_ppm,
       CAST(row_number() OVER (PARTITION BY lang ORDER BY mean_ppm, b) AS BIGINT) AS rnk
FROM m ORDER BY lang, b"""
  }
}
