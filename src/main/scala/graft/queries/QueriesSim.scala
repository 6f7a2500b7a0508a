package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sim.{IvfIndex, PqIndex, Similarity}

/** Similarity-search queries over the embeddings table (SURVEY.md §2.C-D
  * Q17 and extensions Q20, Q26–Q27).
  *
  * Cosine is computed in double precision with left-to-right accumulation
  * in both engines, then rounded to 6 decimals BEFORE any ordering or
  * thresholding so cross-engine sort order is stable.
  */
object QueriesSim {
  private def emb(s: SparkSession, dir: String) = Tables(s, dir, "embeddings")

  /** The query panel: the vectors with id below `n`, as (query_id, query_vec). */
  private def panel(e: DataFrame, n: Int): DataFrame =
    e.filter(col("vec_id") < n).select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  /** DuckDB fragment: round(cosine(a, b), 6) for two double-list exprs. */
  private def cosSql(a: String, b: String): String =
    raw"""round(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))
 / (sqrt(list_sum(list_transform($a, x -> x * x))) * sqrt(list_sum(list_transform($b, x -> x * x)))), 6)"""

  def q17_cosine_knn(s: SparkSession, dir: String): DataFrame = {
    val queries = emb(s, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // knnJoinAgg, not the window twin: the bounded-heap aggregate keeps
    // the top-k merge map-side instead of shuffling every candidate of
    // the query into one row_number partition (the 100 TB bottleneck).
    Similarity.knnJoinAgg(emb(s, dir), queries, k = 10)
      .select(col("vec_id"), col("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
  }

  val q17Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
s AS (SELECT e.vec_id, ${cosSql("e.v", "qv")} AS cosine_sim FROM e, q WHERE e.vec_id <> 0)
SELECT vec_id, cosine_sim FROM s ORDER BY cosine_sim DESC, vec_id LIMIT 10"""

  /** Embedding-cosine near-duplicate pairs — EXACT, via the blocked grid
    * self-join (no cartesian/BNLJ; see Similarity.cosineNearDupPairs for
    * why LSH cannot prune at this low τ on isotropic data).
    */
  def q20_embedding_neardup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(emb(s, dir), threshold = 0.45)
      .orderBy("vec_id_a", "vec_id_b")

  val q20Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, ${cosSql("a.v", "b.v")} AS cosine_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT vec_id_a, vec_id_b, cosine_sim FROM p WHERE cosine_sim >= 0.45 ORDER BY vec_id_a, vec_id_b"""

  /** Brute-force k-NN join: top-5 neighbors for each of the first 10
    * vectors — via the custom bounded-heap top-k aggregate (map-side
    * partial top-k; the shuffle carries only k rows per query per
    * partition, not the whole similarity matrix).
    */
  def q26_knn_join(s: SparkSession, dir: String): DataFrame = {
    val queries = panel(emb(s, dir), 10)
    Similarity.knnJoinAgg(emb(s, dir), queries, k = 5)
      .select(col("query_id"), col("vec_id"), col("cosine_sim"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  val q26Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
s AS (SELECT q.query_id, e.vec_id, ${cosSql("e.v", "qv")} AS cosine_sim
      FROM e, q WHERE e.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM s)
SELECT query_id, vec_id, cosine_sim, rnk FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"""

  /** ANN via sign-random-projection LSH buckets + exact re-rank within
    * probed buckets. Approximate relative to q17, but DETERMINISTIC given
    * the fixed-seed planes — so it has a full DuckDB oracle: the SQL
    * recomputes the same sign-bit buckets from the plane literals and
    * applies the same Hamming-≤2 probe.
    */
  def q27_ann_lsh(s: SparkSession, dir: String): DataFrame = {
    val queries = emb(s, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    Similarity.annLshTopK(emb(s, dir), queries, k = 10)
      .select(col("query_id"), col("vec_id"), col("cosine_sim"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** The q27 hyperplanes as a DuckDB list-of-lists literal. Components go
    * through the same double→float cast the Spark side applies
    * (Similarity.bucketId uses lit(x.toFloat)), printed via
    * Double.toString so they parse back to the identical double.
    */
  private[queries] def planesSqlLiteral(planes: Array[Array[Double]]): String =
    planes.map(p =>
      "[" + p.map(x => java.lang.Double.toString(x.toFloat.toDouble)).mkString(", ") + "]")
      .mkString("[", ", ", "]")

  val q27Sql: String = {
    val planes = planesSqlLiteral(Similarity.hyperplanes(numPlanes = 6, dim = 64))
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
pl AS (SELECT unnest(range(0, 6)) AS j, unnest($planes) AS p),
eb AS (SELECT e.vec_id,
              CAST(sum(CASE WHEN list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * pl.p[i])) >= 0
                            THEN CAST(1 AS BIGINT) << CAST(pl.j AS INTEGER) ELSE 0 END) AS BIGINT) AS bucket
       FROM e, pl GROUP BY e.vec_id),
q AS (SELECT eb.bucket AS qbucket, e.v AS qv, e.vec_id AS qid
      FROM eb JOIN e ON e.vec_id = eb.vec_id WHERE e.vec_id = 0),
s AS (SELECT q.qid AS query_id, e.vec_id, ${cosSql("e.v", "q.qv")} AS cosine_sim
      FROM e JOIN eb ON e.vec_id = eb.vec_id, q
      WHERE bit_count(xor(eb.bucket, q.qbucket)) <= 2 AND e.vec_id <> q.qid),
r AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM s)
SELECT query_id, vec_id, cosine_sim, rnk FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""
  }

  /** Banded sign-random-projection near-dup candidates + exact-cosine
    * verify (Similarity.srpNearDupPairs) — the sub-quadratic approximate
    * pair path. The catalog instance runs at τ=0.45, this data's
    * similarity ceiling (isotropic vectors have no higher-τ pairs), so
    * the result is NON-empty and the banding + verify semantics are
    * pinned by real rows; partial recall at low τ is by design and
    * irrelevant to the oracle, which recomputes the SAME fixed-seed
    * bands in SQL. The τ ≥ 0.9 production regime (near-total recall) is
    * covered by SimilaritySpec's planted-pair test.
    */
  def q40_srp_neardup(s: SparkSession, dir: String): DataFrame =
    Similarity.srpNearDupPairs(emb(s, dir), threshold = 0.45, numBands = 16, planesPerBand = 6)
      .orderBy("vec_id_a", "vec_id_b")

  /** Oracle mirrors srpNearDupPairs bit-for-bit: per-band signature =
    * 6 sign bits against the float-cast fixed-seed planes (bit j =
    * plane b·6+j), candidates = DISTINCT colliding (a < b) pairs in any
    * band, exact rounded cosine ≥ τ decides membership.
    */
  val q40Sql: String = {
    val planes = planesSqlLiteral(Similarity.hyperplanes(numPlanes = 96, dim = 64))
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
pl AS (SELECT unnest(range(0, 96)) AS pj, unnest($planes) AS p),
sigs AS (SELECT e.vec_id, pl.pj // 6 AS band,
                CAST(sum(CASE WHEN list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * pl.p[i])) >= 0
                              THEN CAST(1 AS BIGINT) << CAST(pl.pj % 6 AS INTEGER) ELSE 0 END) AS BIGINT) AS sig
         FROM e, pl GROUP BY e.vec_id, pl.pj // 6),
cand AS (SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
         FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
p AS (SELECT c.vec_id_a, c.vec_id_b, ${cosSql("ea.v", "eb.v")} AS cosine_sim
      FROM cand c JOIN e ea ON ea.vec_id = c.vec_id_a JOIN e eb ON eb.vec_id = c.vec_id_b)
SELECT vec_id_a, vec_id_b, cosine_sim FROM p WHERE cosine_sim >= 0.45 ORDER BY vec_id_a, vec_id_b"""
  }

  /** q40's production companion: the SAME banded-SRP near-dup operator,
    * but with (bands, bits) derived by [[Similarity.srpParams]] — the
    * occupancy-pinned parameter rule that survives scale-up (fixed
    * parameters measured 41× slower at 8× the vectors; SCALING.md) —
    * instead of q40's pinned 16×6. The design point is the gate corpus:
    * n = 516 (the 500 sf0.01 embeddings + the 16 planted twins below) at
    * τ = 0.95 → srpParams gives (17 bands × 8 bits), and those DERIVED
    * values parameterize both the Spark plan and the oracle's plane
    * literals, so the rule itself is what the gate checks.
    *
    * Because isotropic test vectors have no organic pairs near τ = 0.95,
    * the fixture plants 16 exact twins (vec_id + 1_000_000, embedding
    * unchanged). Identical vectors agree with every hyperplane, so they
    * collide in ALL bands deterministically — the catalog result is the
    * 16 planted pairs at cosine 1.0, immune to banding randomness, while
    * recall at τ for near-twins (miss ≈ 4.6e-5 at the derived
    * parameters) is property-tested in SimilaritySpec.
    */
  val Q98DesignN = 516L
  val Q98Tau = 0.95
  private val q98Params: (Int, Int) = Similarity.srpParams(Q98DesignN, Q98Tau)

  /** Hot-bucket occupancy ceiling for q98's PINNED banding (round-13
    * verdict item 1, the q124 pattern): with bands×bits fixed at the
    * design point, per-bucket occupancy grows linearly with the corpus
    * and the in-bucket candidate self-join quadratically (556 s at 32×
    * before the cap; SCALING.md). 128 clears the measured max occupancy
    * at every gate scale with ≥3× headroom (SCALING.md round-13
    * "Cliff #2 CLOSED": sf0.001 max 14, sf0.01 max 12, sf0.1 max 42) —
    * the ceiling binds NOTHING at the gates, hash-verified unchanged —
    * and bounds total pair work at ≤ 17·256·128²/2 ≈ 36 M regardless of
    * corpus size (at 32×, p50 occupancy is 231, so saturated buckets
    * drop instead of exploding). Production uses srpNearDupPairsAuto,
    * which re-derives the banding from n and keeps occupancy pinned by
    * construction.
    */
  val Q98MaxBucket = 128

  def q98_srp_params(s: SparkSession, dir: String): DataFrame = {
    val (bands, bits) = q98Params
    val base = emb(s, dir).select("vec_id", "embedding")
    val planted = base.filter(col("vec_id") < 16)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.srpNearDupPairs(base.unionByName(planted), Q98Tau,
        numBands = bands, planesPerBand = bits, maxBucket = Q98MaxBucket)
      .orderBy("vec_id_a", "vec_id_b")
  }

  /** Same oracle shape as q40Sql, with the srpParams-derived band/bit
    * counts spliced in as literals, the planted-twin union in front, and
    * the hot-bucket occupancy ceiling ([[Q98MaxBucket]]) expressed as a
    * QUALIFY window count — the identical filter the Spark side applies
    * before its candidate self-join.
    */
  val q98Sql: String = {
    val (bands, bits) = q98Params
    val planes = planesSqlLiteral(Similarity.hyperplanes(bands * bits, dim = 64))
    raw"""WITH base AS (SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 16),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM base),
pl AS (SELECT unnest(range(0, ${bands * bits})) AS pj, unnest($planes) AS p),
sigs AS (SELECT e.vec_id, pl.pj // $bits AS band,
                CAST(sum(CASE WHEN list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * pl.p[i])) >= 0
                              THEN CAST(1 AS BIGINT) << CAST(pl.pj % $bits AS INTEGER) ELSE 0 END) AS BIGINT) AS sig
         FROM e, pl GROUP BY e.vec_id, pl.pj // $bits),
live AS (SELECT vec_id, band, sig FROM sigs
         QUALIFY count(*) OVER (PARTITION BY band, sig) <= $Q98MaxBucket),
cand AS (SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
         FROM live a JOIN live b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
p AS (SELECT c.vec_id_a, c.vec_id_b, ${cosSql("ea.v", "eb.v")} AS cosine_sim
      FROM cand c JOIN e ea ON ea.vec_id = c.vec_id_a JOIN e eb ON eb.vec_id = c.vec_id_b)
SELECT vec_id_a, vec_id_b, cosine_sim FROM p WHERE cosine_sim >= $Q98Tau ORDER BY vec_id_a, vec_id_b"""
  }

  /** IVF-style ANN (inverted-file cells + nprobe search) — the other
    * classic scale path next to LSH. The index cells are the k-means INIT
    * centroids (the first 16 vectors; iters=0), which keeps the whole
    * query — assignment, probe selection, re-rank — reproducible in pure
    * SQL, so q34 gets a full DuckDB oracle. Lloyd-trained centroids
    * (iters>0) exercise the identical plan and are covered by IvfSpec's
    * recall/balance/determinism tests.
    */
  def q34_ann_ivf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = IvfIndex.train(e, k = 16, iters = 0)
    val queries = panel(e, 5)
    IvfIndex.annTopK(IvfIndex.assign(e, model), queries, model, k = 10, nprobe = 4)
      .orderBy("query_id", "rnk")
  }

  /** The oracle mirrors IvfIndex exactly: centroid score = |c|² − 2·e·c
    * (|e|² is argmin-invariant), first-index tie-break, nprobe=4 nearest
    * cells per query, exact cosine re-rank, row_number ties by vec_id.
    */
  /** IVF ANN over LLOYD-TRAINED centroids (iters=2) — the production
    * path, not just the init path, DuckDB-checked. What makes the oracle
    * possible without any tolerance: every floating-point step of
    * IvfIndex.train is a SEQUENTIAL double computation in a deterministic
    * order (sample ordered by vec_id, components in index order), and
    * DuckDB can replay exactly that order — the per-cluster mean uses the
    * ordered aggregate `list(x ORDER BY vec_id)` fed to list_sum (both
    * engines then fold left-to-right in doubles), distances/dots are
    * list_transform chains mirroring DotF32's double(float)·double(float)
    * accumulation, and the final assignment applies the same
    * double→float centroid cast as clusterCol's lit(x.toFloat).
    */
  def q41_ann_ivf_trained(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    val queries = panel(e, 5)
    IvfIndex.annTopK(IvfIndex.assign(e, model), queries, model, k = 10, nprobe = 4)
      .orderBy("query_id", "rnk")
  }

  /** One Lloyd iteration as SQL CTEs: assign the sample to the nearest
    * `prev` centroid (full squared distance, sequential over components —
    * exactly IvfIndex.nearest), then per-cluster component means in
    * vec_id order (exactly train's sums/counts), empty cells keeping
    * their previous centroid.
    */
  private def lloydIterSql(n: Int, prev: String): String =
    raw"""d$n AS (SELECT s.vec_id, c.cid,
              list_sum(list_transform(range(1, 65), i -> (s.v[i] - c.c[i]) * (s.v[i] - c.c[i]))) AS d
       FROM samp s, $prev c),
a$n AS (SELECT vec_id, cid FROM (
         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d$n)
       WHERE rn = 1),
m$n AS (SELECT a.cid, idx.ii, list_sum(list(s.v[idx.ii] ORDER BY s.vec_id)) / count(*) AS mi
       FROM samp s JOIN a$n a ON a.vec_id = s.vec_id, idx
       GROUP BY a.cid, idx.ii),
n$n AS (SELECT cid, list(mi ORDER BY ii) AS c FROM m$n GROUP BY cid),
c$n AS (SELECT p.cid, coalesce(n$n.c, p.c) AS c FROM $prev p LEFT JOIN n$n ON n$n.cid = p.cid)"""

  /** Oracle: replay train(k=8, iters=2) in SQL (init = first 8 vectors,
    * sample = FIRST 2048 BY RANK of vec_id — the engine's
    * `orderBy(vec_id).limit(n)`; spelled as ORDER BY + LIMIT, not
    * `vec_id < n`, because the two only coincide on dense-from-0 id
    * spaces — the round-10 8× finding: replicated corpora carry sparse
    * ids and the `< n` spelling silently selects a different sample),
    * then the q34 search shape against the trained centroids: assignment
    * and probe score = |c|² − 2·e·c_float (the float-cast dot matching
    * clusterCol), nprobe=4, exact rounded-cosine re-rank, rnk ≤ 10.
    */
  val q41Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
samp AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 2048),
idx AS (SELECT unnest(range(1, 65)) AS ii),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 8),
${lloydIterSql(1, "c0")},
${lloydIterSql(2, "c1")},
cf AS (SELECT cid, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS f,
              list_sum(list_transform(c, x -> x * x)) AS cn FROM c2),
scores AS (SELECT e.vec_id, cf.cid,
                  cf.cn - 2.0 * list_sum(list_transform(range(1, 65), i -> e.v[i] * cf.f[i])) AS s
           FROM e, cf),
assign AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM scores)
           WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM scores WHERE vec_id < 5)
           WHERE rn <= 4),
cand AS (SELECT p.query_id, a.vec_id, ${cosSql("e.v", "qe.v")} AS cosine_sim
         FROM probes p
         JOIN assign a ON a.cluster = p.cluster
         JOIN e ON e.vec_id = a.vec_id
         JOIN e qe ON qe.vec_id = p.query_id
         WHERE a.vec_id <> p.query_id),
r AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM cand)
SELECT query_id, vec_id, cosine_sim, rnk FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""

  val q34Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cn FROM e WHERE vec_id < 16),
scores AS (SELECT e.vec_id, c.cid,
                  c.cn - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i])) AS s
           FROM e, c),
assign AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM scores)
           WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM scores WHERE vec_id < 5)
           WHERE rn <= 4),
cand AS (SELECT p.query_id, a.vec_id, ${cosSql("e.v", "qe.v")} AS cosine_sim
         FROM probes p
         JOIN assign a ON a.cluster = p.cluster
         JOIN e ON e.vec_id = a.vec_id
         JOIN e qe ON qe.vec_id = p.query_id
         WHERE a.vec_id <> p.query_id),
r AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM cand)
SELECT query_id, vec_id, cosine_sim, rnk FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""

  /** Per-label embedding centroids in long (label, dim, value) form —
    * the group-averaged vector a curation pipeline uses for cluster
    * summaries / diversity balancing. posexplode keeps it declarative:
    * scan → generate → partial-aggregated groupBy on (label, dim), so
    * the shuffle carries one partial (sum, count) per group per task,
    * never the vectors. Float values widen exactly to double before
    * averaging; centroid magnitudes (~0.1) vs reorder error (~1e-15)
    * leave 8 orders of headroom at the harness's 6-significant-digit
    * float comparison, so no rounding is needed.
    */
  def q53_label_centroids(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vectors"), avg(col("col").cast("double")).as("centroid"))
      .orderBy("label", "dim")

  val q53Sql: String =
    """WITH x AS (SELECT label, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS v FROM embeddings)
SELECT label, CAST(i - 1 AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n_vectors,
       avg(CAST(v AS DOUBLE)) AS centroid
FROM x GROUP BY label, i ORDER BY label, dim"""

  /** Array higher-order-function sweep over the embedding column:
    * filter+size, aggregate (left fold), array_max, exists, forall — the
    * lambda surface a feature-engineering pipeline leans on. Everything
    * is a narrow per-row projection (zero shuffles before the final
    * sort), and every fold runs left-to-right over doubles in BOTH
    * engines, so the values agree bit-for-bit before the 6-decimal
    * rounding. Elements widen float→double once, up front, exactly.
    */
  def q66_vector_stats(s: SparkSession, dir: String): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    emb(s, dir)
      .select(col("vec_id"), v.as("v"))
      .select(col("vec_id"),
        size(filter(col("v"), x => x > 0)).cast("long").as("n_pos"),
        round(aggregate(col("v"), lit(0.0), (acc, x) => acc + abs(x)), 6).as("l1"),
        round(array_max(col("v")), 6).as("vmax"),
        exists(col("v"), x => x > lit(2.0)).as("has_gt2"),
        forall(col("v"), x => abs(x) < lit(4.0)).as("bounded4"))
      .orderBy("vec_id")
  }

  val q66Sql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
SELECT vec_id,
       CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, x -> abs(x))),
                         (a, b) -> a + b), 6) AS l1,
       round(list_max(v), 6) AS vmax,
       len(list_filter(v, x -> x > 2.0)) > 0 AS has_gt2,
       len(list_filter(v, x -> abs(x) >= 4.0)) = 0 AS bounded4
FROM e ORDER BY vec_id"""

  /** Recall@10 of the SRP-LSH ANN index against exact brute-force kNN —
    * the index-quality evaluation every ANN deployment runs before
    * trusting the approximate path at scale. ONE plan computes both
    * sides (the probe-bucket equi-join ANN and the bounded-heap exact
    * top-k), joins them per (query, neighbor), and reports the hit
    * fraction per query. At 100 TB the exact side runs on a sampled
    * query set exactly like this fixed 8-query panel — recall
    * evaluation is always a sampled audit, never a full pass.
    */
  def q112_ann_recall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val queries = panel(e, 8)
    val ann = Similarity.annLshTopK(e, queries, k = 10).select("query_id", "vec_id")
    val exact = Similarity.knnJoinAgg(e, queries, k = 10).select("query_id", "vec_id")
    val hits = exact.join(ann, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    queries.select("query_id").join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("n_hit"), lit(0L)) / 10.0, 6).as("recall10"))
      .orderBy("query_id")
  }

  /** Oracle: the q27 bucket/probe replay for the ANN side, the q17 full
    * scan for the exact side, same (cosine DESC, vec_id) tie-break both
    * sides, then the same hit count.
    */
  val q112Sql: String = {
    val planes = planesSqlLiteral(Similarity.hyperplanes(numPlanes = 6, dim = 64))
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
pl AS (SELECT unnest(range(0, 6)) AS j, unnest($planes) AS p),
eb AS (SELECT e.vec_id,
              CAST(sum(CASE WHEN list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * pl.p[i])) >= 0
                            THEN CAST(1 AS BIGINT) << CAST(pl.j AS INTEGER) ELSE 0 END) AS BIGINT) AS bucket
       FROM e, pl GROUP BY e.vec_id),
q AS (SELECT eb.bucket AS qbucket, e.v AS qv, e.vec_id AS qid
      FROM eb JOIN e ON e.vec_id = eb.vec_id WHERE e.vec_id < 8),
anns AS (SELECT q.qid AS query_id, e.vec_id, ${cosSql("e.v", "q.qv")} AS cosine_sim
         FROM e JOIN eb ON e.vec_id = eb.vec_id, q
         WHERE bit_count(xor(eb.bucket, q.qbucket)) <= 2 AND e.vec_id <> q.qid),
annr AS (SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
           FROM anns) WHERE rnk <= 10),
ex AS (SELECT q.qid AS query_id, e.vec_id, ${cosSql("e.v", "q.qv")} AS cosine_sim
       FROM e, q WHERE e.vec_id <> q.qid),
exr AS (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
          FROM ex) WHERE rnk <= 10),
hits AS (SELECT query_id, count(*) AS n_hit
         FROM exr JOIN annr USING (query_id, vec_id) GROUP BY query_id)
SELECT qid AS query_id, round(coalesce(n_hit, 0) / 10.0, 6) AS recall10
FROM q LEFT JOIN hits ON hits.query_id = q.qid
ORDER BY query_id"""
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the embedding space, then search for
    * near-duplicates WITHIN each cluster only — the pair candidates are
    * a keyed equi-join on the cell id, never a global self-join. A
    * vector is dropped iff a lower-id cell-mate has cosine ≥ τ (the
    * deterministic keep-one-exemplar rule); the reported `kept_by` is
    * the smallest such exemplar id.
    *
    * Scale shape: assignment is a narrow per-row argmin over k dot
    * products against broadcast centroid literals (identical to q34's
    * inverted file); pair generation shuffles on `cluster`, so the work
    * is Σ|cell|² instead of n² — and at 100 TB k is sized so cells stay
    * bounded (k ≈ n / targetCellSize; SemDeDup itself runs k in the
    * tens of thousands). The catalog pins k=16 at the fixture's n so
    * the oracle can replay the centroid argmin exactly (init centroids
    * = first k vectors, the q34 convention); production callers use
    * [[graft.sim.Similarity.semanticDedup]], which derives k from the
    * corpus size to pin cell OCCUPANCY (measured at the 8× corpus:
    * pinned k=16 9.5 s vs occupancy-scaled 3.5 s — SCALING.md).
    */
  def q108_semantic_dedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedupK(emb(s, dir), tau = 0.45, k = 16).orderBy("vec_id")

  /** The oracle replays the q34 init-centroid argmin (centroid score
    * |c|² − 2·e·c, first-index tie-break), joins cell-mates, and keeps
    * the smallest qualifying exemplar per dropped id.
    */
  val q108Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cn FROM e WHERE vec_id < 16),
scores AS (SELECT e.vec_id, c.cid,
                  c.cn - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i])) AS s
           FROM e, c),
assign AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM scores)
           WHERE rn = 1),
p AS (SELECT b.vec_id AS vec_id, a.vec_id AS kept_by, ${cosSql("ea.v", "eb.v")} AS cosine_sim
      FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id),
d AS (SELECT vec_id, kept_by, cosine_sim,
             row_number() OVER (PARTITION BY vec_id ORDER BY kept_by) AS rn
      FROM p WHERE cosine_sim >= 0.45)
SELECT vec_id, kept_by, cosine_sim FROM d WHERE rn = 1 ORDER BY vec_id"""

  /** Product-quantized ANN (Jégou et al. 2011) — the ANN *compression*
    * path next to the pruning paths (q27 SRP buckets, q34/q41 IVF
    * cells): 8 subspaces × 16-entry codebooks turn the 64-dim float32
    * embedding (256 B) into 8 code bytes, and the query-time scan reads
    * ONLY the codes column (asymmetric distance to the quantized
    * corpus), re-reading raw vectors just for the exact cosine re-rank
    * of the 10 winners per query. Codebooks follow the q34 init
    * convention (subvectors of the first 16 vectors, iters = 0) so the
    * whole query — encoding argmin, ADC fold, re-rank — replays in SQL;
    * Lloyd-trained codebooks exercise the identical plan under PqSpec.
    */
  def q119_pq_ann(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = PqIndex.train(e, numSub = 8, ksub = 16, iters = 0)
    val queries = panel(e, 5)
    PqIndex.adcTopK(PqIndex.encode(e, model), queries, model, k = 10)
      .orderBy("query_id", "rnk")
  }

  /** Oracle: codebook m, entry j = subvector m of vec_id j (j < 16);
    * codes via the |c|² − 2·e·c argmin with first-index ties
    * (NearestCentroid's contract); ADC distance folds subspaces in m
    * order and components in index order — the exact double sequence of
    * PqIndex.adcTopK — then (rounded dist asc, vec_id) ranking and the
    * q17-style rounded-cosine re-rank of the winners.
    */
  val q119Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
ms AS (SELECT unnest(range(0, 8)) AS m),
cb AS (SELECT ms.m, e.vec_id AS j,
              list_transform(range(1, 9), i -> v[ms.m * 8 + i]) AS c
       FROM e, ms WHERE e.vec_id < 16),
cbn AS (SELECT m, j, c, list_sum(list_transform(c, x -> x * x)) AS cn FROM cb),
scores AS (SELECT e.vec_id, cbn.m, cbn.j,
                  cbn.cn - 2.0 * list_sum(list_transform(range(1, 9), i -> e.v[cbn.m * 8 + i] * cbn.c[i])) AS s
           FROM e, cbn),
codes AS (SELECT vec_id, m, j AS code FROM (
            SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn FROM scores)
          WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
d AS (SELECT q.query_id, cd.vec_id, cd.m,
             list_sum(list_transform(range(1, 9), i -> (q.qv[cd.m * 8 + i] - cb2.c[i]) * (q.qv[cd.m * 8 + i] - cb2.c[i]))) AS dm
      FROM codes cd JOIN cbn cb2 ON cb2.m = cd.m AND cb2.j = cd.code, q
      WHERE cd.vec_id <> q.query_id),
adc AS (SELECT query_id, vec_id, round(list_sum(list(dm ORDER BY m)), 6) AS adc_dist
        FROM d GROUP BY query_id, vec_id),
r AS (SELECT query_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rnk
      FROM adc),
f AS (SELECT r.query_id, r.vec_id, r.adc_dist, ${cosSql("e.v", "q.qv")} AS cosine_sim,
             CAST(r.rnk AS BIGINT) AS rnk
      FROM r JOIN e ON e.vec_id = r.vec_id JOIN q ON q.query_id = r.query_id
      WHERE r.rnk <= 10)
SELECT query_id, vec_id, adc_dist, cosine_sim, rnk FROM f ORDER BY query_id, rnk"""

  /** Scalar-quantized (int8) ANN screen + exact re-rank — the third
    * compression point on the ANN spectrum (float32 brute q17 → int8
    * scan here → PQ codes q119): components map SYMMETRICALLY to
    * −127..127 against the corpus-global max |x| — q = round(x/m·127),
    * so the integer dot is a²·Σxy plus bounded quantization error,
    * monotone-ish in the true dot. (An affine 0..255 shift is NOT:
    * its b²·d and b·Σx cross terms swamp the similarity signal — the
    * q126 recall eval measured that variant at recall ≈ 0 on this
    * fixture, which is why the scheme here is the symmetric one.)
    * The screen ranks by the integer quantized dot (4× less scan
    * bandwidth than float32; integer arithmetic is bit-exact across
    * engines, so the candidate set carries zero FP ambiguity), and
    * only the top-20 screen winners pay the exact float cosine for the
    * final top-10. The global bound is one broadcast max-|x| row (the
    * q81 pattern); at 100 TB it comes from column statistics instead
    * of a scan.
    */
  def q121_sq_ann(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val bounds = e.agg(
      greatest(max(array_max(col("embedding"))).cast("double"),
        -min(array_min(col("embedding"))).cast("double")).as("m"))
    val quantized = e.crossJoin(broadcast(bounds))
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          x => round(x.cast("double") / col("m") * 127).cast("int"))
          .as("qv"))
    val queries = quantized.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("qv").as("qq"))
    val screen = quantized
      .select(col("vec_id"), col("qv"))
      .crossJoin(broadcast(queries.select("query_id", "qq")))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        aggregate(zip_with(col("qv"), col("qq"), (a, b) => (a * b).cast("long")),
          lit(0L), (acc, x) => acc + x).as("qdot"))
    Similarity.rerankScreen(screen, "qdot", e, queries, screenK = 20, k = 10)
      .withColumn("qdot", col("qdot").cast("long"))
  }

  /** Oracle: same global max-|x| bound, same symmetric −127..127
    * quantization (Spark HALF_UP and DuckDB round both round halves
    * AWAY FROM ZERO, so negatives agree too), the integer-dot screen's
    * (qdot DESC, vec_id) top-20 — integer-exact, so the candidate sets
    * match bit-for-bit — then the rounded-cosine re-rank.
    */
  val q121Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
b AS (SELECT greatest(CAST(max(list_max(embedding)) AS DOUBLE),
                      -CAST(min(list_min(embedding)) AS DOUBLE)) AS m FROM embeddings),
qz AS (SELECT vec_id, v,
              list_transform(v, x -> CAST(round(x / b.m * 127) AS INTEGER)) AS qv
       FROM e, b),
q AS (SELECT vec_id AS query_id, v AS qv0, qv AS qq FROM qz WHERE vec_id < 5),
s AS (SELECT q.query_id, z.vec_id,
             CAST(list_sum(list_transform(range(1, 65), i -> CAST(z.qv[i] AS BIGINT) * q.qq[i])) AS BIGINT) AS qdot
      FROM qz z, q WHERE z.vec_id <> q.query_id),
t AS (SELECT query_id, vec_id, qdot FROM (
        SELECT query_id, vec_id, qdot,
               row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id) AS rn FROM s)
      WHERE rn <= 20),
r AS (SELECT t.query_id, t.vec_id, t.qdot, ${cosSql("z.v", "q.qv0")} AS cosine_sim
      FROM t JOIN qz z ON z.vec_id = t.vec_id JOIN q ON q.query_id = t.query_id),
f AS (SELECT query_id, vec_id, qdot, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS BIGINT) AS rnk
      FROM r)
SELECT query_id, vec_id, qdot, cosine_sim, rnk FROM f WHERE rnk <= 10 ORDER BY query_id, rnk"""

  /** IVF-PQ — the faiss composite index, end to end: queries probe
    * their nprobe=4 nearest of 16 IVF cells (q34's inverted file), and
    * within the probed cells the candidate scan reads the 8-byte PQ
    * codes (q119's codebooks), never the raw vectors, which reappear
    * only for the exact re-rank of the 10 winners. Pruning ×
    * compression in one plan: the ANN query touches nprobe/k of the
    * rows at 1/32 of the bytes. Both models follow the init convention
    * (cells = first 16 vectors, codebook m = subvectors of the first 16)
    * so every stage replays in SQL.
    */
  def q122_ivfpq_ann(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val ivf = IvfIndex.train(e, k = 16, iters = 0)
    val pq = PqIndex.train(e, numSub = 8, ksub = 16, iters = 0)
    val indexed = PqIndex.encode(IvfIndex.assign(e, ivf), pq)
    val queries = panel(e, 5)
    PqIndex.adcTopKIvf(indexed, queries, ivf, pq, k = 10, nprobe = 4)
      .orderBy("query_id", "rnk")
  }

  /** Oracle: q34's assignment/probe CTEs composed with q119's
    * codebook/encoding/ADC CTEs — candidates restricted to the probed
    * cells, ADC distance folded in subspace order, (dist asc, vec_id)
    * ranking, rounded-cosine re-rank of the winners.
    */
  val q122Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cn FROM e WHERE vec_id < 16),
iscores AS (SELECT e.vec_id, c.cid,
                   c.cn - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i])) AS s
            FROM e, c),
assign AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM iscores)
           WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM iscores WHERE vec_id < 5)
           WHERE rn <= 4),
ms AS (SELECT unnest(range(0, 8)) AS m),
cb AS (SELECT ms.m, e.vec_id AS j,
              list_transform(range(1, 9), i -> v[ms.m * 8 + i]) AS c
       FROM e, ms WHERE e.vec_id < 16),
cbn AS (SELECT m, j, c, list_sum(list_transform(c, x -> x * x)) AS cn FROM cb),
ps AS (SELECT e.vec_id, cbn.m, cbn.j,
              cbn.cn - 2.0 * list_sum(list_transform(range(1, 9), i -> e.v[cbn.m * 8 + i] * cbn.c[i])) AS s
       FROM e, cbn),
codes AS (SELECT vec_id, m, j AS code FROM (
            SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn FROM ps)
          WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
d AS (SELECT p.query_id, a.vec_id, cd.m,
             list_sum(list_transform(range(1, 9), i -> (q.qv[cd.m * 8 + i] - cb2.c[i]) * (q.qv[cd.m * 8 + i] - cb2.c[i]))) AS dm
      FROM probes p
      JOIN assign a ON a.cluster = p.cluster AND a.vec_id <> p.query_id
      JOIN codes cd ON cd.vec_id = a.vec_id
      JOIN cbn cb2 ON cb2.m = cd.m AND cb2.j = cd.code
      JOIN q ON q.query_id = p.query_id),
adc AS (SELECT query_id, vec_id, round(list_sum(list(dm ORDER BY m)), 6) AS adc_dist
        FROM d GROUP BY query_id, vec_id),
r AS (SELECT query_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rnk
      FROM adc),
f AS (SELECT r.query_id, r.vec_id, r.adc_dist, ${cosSql("e.v", "q.qv")} AS cosine_sim,
             CAST(r.rnk AS BIGINT) AS rnk
      FROM r JOIN e ON e.vec_id = r.vec_id JOIN q ON q.query_id = r.query_id
      WHERE r.rnk <= 10)
SELECT query_id, vec_id, adc_dist, cosine_sim, rnk FROM f ORDER BY query_id, rnk"""

  /** Recall@10 of the COMPRESSED ANN family against exact brute-force —
    * q112's honest-accuracy convention extended to the compression
    * paths: one plan computes exact top-10 (bounded-heap kNN) plus the
    * q119 flat-ADC, q121 int8-screen, and q122 IVF-PQ top-10s, and
    * reports the per-(method, query) hit fraction. The numbers quantify
    * what each compression point trades for its bandwidth win on this
    * isotropic fixture (the hardest case for quantizers — organic
    * clustered embeddings quantize better).
    */
  def q126_compressed_recall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val queries = panel(e, 5)
    // Persisted: the exact top-10 table (50 rows) is joined by all FIVE
    // method branches of the final union — without the cache the
    // brute-force kNN scan-aggregate re-executes per branch (guide §1.2).
    val exact = Similarity.knnJoinAgg(e, queries, k = 10)
      .select("query_id", "vec_id").persist()
    def hits(method: String, df: DataFrame): DataFrame =
      queries.select("query_id")
        .join(exact.join(df.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n_hit")), Seq("query_id"), "left")
        .select(lit(method).as("method"), col("query_id"),
          round(coalesce(col("n_hit"), lit(0L)) / 10.0, 6).as("recall10"))
    // The five method pipelines are independent CONSTRUCTIONS whose
    // bounded training collects (codebook/centroid samples) each run
    // 2-6 driver-latency-bound jobs back to back — overlap them
    // (guide §2.6; measured: the serial build spread ~5 core-seconds of
    // task time over ~54 sequential jobs).
    val Seq(pqM, pqtM, sqM, ivfpqM, ivfpqrM) =
      graft.core.ArtifactIO.inParallelMap[DataFrame](Seq(
        () => q119_pq_ann(s, dir), () => q127_pq_trained(s, dir),
        () => q121_sq_ann(s, dir), () => q122_ivfpq_ann(s, dir),
        () => q128_ivfpq_residual(s, dir)))
    val pq = hits("pq_adc", pqM)
    val pqt = hits("pq_trained", pqtM)
    val sq = hits("sq_int8", sqM)
    val ivfpq = hits("ivfpq", ivfpqM)
    val ivfpqr = hits("ivfpq_res", ivfpqrM)
    pq.unionByName(pqt).unionByName(sq).unionByName(ivfpq).unionByName(ivfpqr)
      .orderBy("method", "query_id")
  }

  /** Oracle: the exact side is q26's full-scan top-10; each method side
    * nests that method's full oracle (q119/q121/q122) as a subquery —
    * the replays are already proven row-identical by their own catalog
    * entries, so this oracle only adds the hit-count join.
    */
  // lazy: interpolates q127Sql/q128Sql, declared later in this object
  lazy val q126Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
ex AS (SELECT query_id, vec_id FROM (
         SELECT q.query_id, e.vec_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY ${cosSql("e.v", "q.qv")} DESC, e.vec_id) AS rnk
         FROM e, q WHERE e.vec_id <> q.query_id)
       WHERE rnk <= 10),
m_pq AS (SELECT query_id, vec_id FROM ($q119Sql)),
m_pqt AS (SELECT query_id, vec_id FROM ($q127Sql)),
m_sq AS (SELECT query_id, vec_id FROM ($q121Sql)),
m_ivfpq AS (SELECT query_id, vec_id FROM ($q122Sql)),
m_ivfpqr AS (SELECT query_id, vec_id FROM ($q128Sql)),
h AS (SELECT 'pq_adc' AS method, query_id, count(*) AS n_hit
      FROM ex JOIN m_pq USING (query_id, vec_id) GROUP BY query_id
      UNION ALL
      SELECT 'pq_trained', query_id, count(*) FROM ex JOIN m_pqt USING (query_id, vec_id) GROUP BY query_id
      UNION ALL
      SELECT 'sq_int8', query_id, count(*) FROM ex JOIN m_sq USING (query_id, vec_id) GROUP BY query_id
      UNION ALL
      SELECT 'ivfpq', query_id, count(*) FROM ex JOIN m_ivfpq USING (query_id, vec_id) GROUP BY query_id
      UNION ALL
      SELECT 'ivfpq_res', query_id, count(*) FROM ex JOIN m_ivfpqr USING (query_id, vec_id) GROUP BY query_id),
grid AS (SELECT m.method, q.query_id
         FROM (SELECT unnest(['pq_adc', 'pq_trained', 'sq_int8', 'ivfpq', 'ivfpq_res']) AS method) m, q)
SELECT grid.method, grid.query_id, round(coalesce(h.n_hit, 0) / 10.0, 6) AS recall10
FROM grid LEFT JOIN h ON h.method = grid.method AND h.query_id = grid.query_id
ORDER BY grid.method, grid.query_id"""

  /** One per-subspace Lloyd iteration as SQL CTEs, keyed by the
    * subspace id m — the q41 lloydIterSql generalized from one 64-dim
    * codebook to 8 independent 8-dim codebooks trained in parallel:
    * assign each sample subvector to its nearest `prev` centroid of the
    * SAME subspace (full squared distance, component order — exactly
    * PqIndex.trainFromSample's loop), then per-(m, cluster) component
    * means in vec_id order, empty cells keeping their previous entry.
    */
  private def pqLloydIterSql(n: Int, prev: String): String =
    raw"""pd$n AS (SELECT sub.vec_id, sub.m, c.cid,
               list_sum(list_transform(range(1, 9), i -> (sub.sv[i] - c.c[i]) * (sub.sv[i] - c.c[i]))) AS d
        FROM sub JOIN $prev c ON c.m = sub.m),
pa$n AS (SELECT vec_id, m, cid FROM (
          SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM pd$n)
        WHERE rn = 1),
pm$n AS (SELECT a.m, a.cid, idx.ii, list_sum(list(sub.sv[idx.ii] ORDER BY sub.vec_id)) / count(*) AS mi
        FROM sub JOIN pa$n a ON a.vec_id = sub.vec_id AND a.m = sub.m, idx
        GROUP BY a.m, a.cid, idx.ii),
pn$n AS (SELECT m, cid, list(mi ORDER BY ii) AS c FROM pm$n GROUP BY m, cid),
pc$n AS (SELECT p.m, p.cid, coalesce(pn$n.c, p.c) AS c
        FROM $prev p LEFT JOIN pn$n ON pn$n.m = p.m AND pn$n.cid = p.cid)"""

  /** PQ over LLOYD-TRAINED codebooks (iters = 2) — the production
    * training path of q119, DuckDB-checked end to end: every step of
    * PqIndex.trainFromSample is a sequential double computation in a
    * deterministic order (per-subspace, sample in vec_id order,
    * components in index order), so the oracle replays the training
    * with the per-subspace Lloyd CTEs, then the q119 encode/ADC shape
    * against the trained codebooks — with the trained entries going
    * through the same double→float cast the engine's literals take.
    */
  def q127_pq_trained(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = PqIndex.train(e, numSub = 8, ksub = 16, iters = 2)
    val queries = panel(e, 5)
    PqIndex.adcTopK(PqIndex.encode(e, model), queries, model, k = 10)
      .orderBy("query_id", "rnk")
  }

  val q127Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
samp AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 2048),
ms AS (SELECT unnest(range(0, 8)) AS m),
idx AS (SELECT unnest(range(1, 9)) AS ii),
sub AS (SELECT s.vec_id, ms.m, list_transform(range(1, 9), i -> s.v[ms.m * 8 + i]) AS sv FROM samp s, ms),
pc0 AS (SELECT m, vec_id AS cid, sv AS c FROM sub WHERE vec_id < 16),
${pqLloydIterSql(1, "pc0")},
${pqLloydIterSql(2, "pc1")},
cbn AS (SELECT m, cid AS j, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS f,
               list_sum(list_transform(c, x -> x * x)) AS cn FROM pc2),
ps AS (SELECT e.vec_id, cbn.m, cbn.j,
              cbn.cn - 2.0 * list_sum(list_transform(range(1, 9), i -> e.v[cbn.m * 8 + i] * cbn.f[i])) AS s
       FROM e, cbn),
codes AS (SELECT vec_id, m, j AS code FROM (
            SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn FROM ps)
          WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
d AS (SELECT q.query_id, cd.vec_id, cd.m,
             list_sum(list_transform(range(1, 9), i -> (q.qv[cd.m * 8 + i] - cb2.f[i]) * (q.qv[cd.m * 8 + i] - cb2.f[i]))) AS dm
      FROM codes cd JOIN cbn cb2 ON cb2.m = cd.m AND cb2.j = cd.code, q
      WHERE cd.vec_id <> q.query_id),
adc AS (SELECT query_id, vec_id, round(list_sum(list(dm ORDER BY m)), 6) AS adc_dist
        FROM d GROUP BY query_id, vec_id),
r AS (SELECT query_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rnk
      FROM adc),
f AS (SELECT r.query_id, r.vec_id, r.adc_dist, ${cosSql("e.v", "q.qv")} AS cosine_sim,
             CAST(r.rnk AS BIGINT) AS rnk
      FROM r JOIN e ON e.vec_id = r.vec_id JOIN q ON q.query_id = r.query_id
      WHERE r.rnk <= 10)
SELECT query_id, vec_id, adc_dist, cosine_sim, rnk FROM f ORDER BY query_id, rnk"""

  /** Residual IVF-PQ — the faiss DEFAULT composition, where the PQ
    * codes quantize each vector's residual against its cell centroid
    * instead of the raw vector. Its premise: residual magnitudes are a
    * fraction of vector magnitudes, so the same 8-byte code budget
    * quantizes finer. The q126 panel measures the premise FAILING on
    * this fixture — recall 0.06 vs raw IVF-PQ's 0.26 — because
    * isotropic data with init-point cells makes residuals LARGER than
    * the vectors (‖x−c‖² ≈ 2‖x‖² for independent isotropic x, c):
    * residual quantization is only as good as its coarse quantizer,
    * and the catalog keeps both variants with the measurement beside
    * them precisely because the eval, not the best-practice label, is
    * what decides at 100 TB (clustered organic embeddings with trained
    * cells are the regime where this composition earns its keep).
    * Everything stays the init convention, so the oracle replays
    * cells, assignment, DOUBLE residual codebooks (the driver trains
    * on unrounded residuals), the engine's FLOAT-rounded residual
    * column (an explicit REAL cast both sides), encoding,
    * probe-relative query residuals, ADC, and the raw-vector cosine
    * re-rank.
    */
  def q128_ivfpq_residual(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val ivf = IvfIndex.train(e, k = 16, iters = 0)
    val pqRes = PqIndex.trainResiduals(e, ivf, numSub = 8, ksub = 16, iters = 0)
    val indexed = IvfIndex.assign(e, ivf)
      .withColumn("codes", PqIndex.codesCol(
        PqIndex.residualCol(col("embedding"), col("cluster"), ivf), pqRes))
    val queries = panel(e, 5)
    PqIndex.adcTopKIvfResidual(indexed, queries, ivf, pqRes, k = 10, nprobe = 4)
      .orderBy("query_id", "rnk")
  }

  /** The residual-IVF-PQ replay from the `e` CTE (vec_id, v:double[])
    * onward — shared by q128 (raw corpus) and q169 (permuted corpus).
    */
  private val residualIvfPqBodySql: String =
    raw"""c AS (SELECT vec_id AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cn FROM e WHERE vec_id < 16),
iscores AS (SELECT e.vec_id, c.cid,
                   c.cn - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i])) AS s
            FROM e, c),
assign AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM iscores)
           WHERE rn = 1),
rvd AS (SELECT e.vec_id, list_transform(range(1, 65), i -> e.v[i] - c.cv[i]) AS rd
        FROM e JOIN assign a ON a.vec_id = e.vec_id JOIN c ON c.cid = a.cluster),
ms AS (SELECT unnest(range(0, 8)) AS m),
rcbn AS (SELECT ms.m, r.vec_id AS j,
                list_transform(range(1, 9), i -> CAST(CAST(r.rd[ms.m * 8 + i] AS REAL) AS DOUBLE)) AS f,
                list_sum(list_transform(range(1, 9), i -> r.rd[ms.m * 8 + i] * r.rd[ms.m * 8 + i])) AS cn
         FROM rvd r, ms WHERE r.vec_id < 16),
rvf AS (SELECT vec_id, list_transform(rd, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS rf FROM rvd),
ps AS (SELECT v.vec_id, rb.m, rb.j,
              rb.cn - 2.0 * list_sum(list_transform(range(1, 9), i -> v.rf[rb.m * 8 + i] * rb.f[i])) AS s
       FROM rvf v, rcbn rb),
codes AS (SELECT vec_id, m, j AS code FROM (
            SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn FROM ps)
          WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
probes AS (SELECT vec_id AS query_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM iscores WHERE vec_id < 5)
           WHERE rn <= 4),
qr AS (SELECT p.query_id, p.cluster,
              list_transform(range(1, 65), i -> CAST(CAST(q.qv[i] - c.cv[i] AS REAL) AS DOUBLE)) AS qrf
       FROM probes p JOIN q ON q.query_id = p.query_id JOIN c ON c.cid = p.cluster),
d AS (SELECT qr.query_id, a.vec_id, cd.m,
             list_sum(list_transform(range(1, 9), i -> (qr.qrf[cd.m * 8 + i] - rb.f[i]) * (qr.qrf[cd.m * 8 + i] - rb.f[i]))) AS dm
      FROM qr
      JOIN assign a ON a.cluster = qr.cluster AND a.vec_id <> qr.query_id
      JOIN codes cd ON cd.vec_id = a.vec_id
      JOIN rcbn rb ON rb.m = cd.m AND rb.j = cd.code),
adc AS (SELECT query_id, vec_id, round(list_sum(list(dm ORDER BY m)), 6) AS adc_dist
        FROM d GROUP BY query_id, vec_id),
r AS (SELECT query_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rnk
      FROM adc),
f AS (SELECT r.query_id, r.vec_id, r.adc_dist, ${cosSql("e.v", "q.qv")} AS cosine_sim,
             CAST(r.rnk AS BIGINT) AS rnk
      FROM r JOIN e ON e.vec_id = r.vec_id JOIN q ON q.query_id = r.query_id
      WHERE r.rnk <= 10)
SELECT query_id, vec_id, adc_dist, cosine_sim, rnk FROM f ORDER BY query_id, rnk"""

  val q128Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
$residualIvfPqBodySql"""

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-5 most cosine-similar vectors carrying a DIFFERENT
    * label — the "confusable but wrong" examples a contrastive or
    * reranker objective trains against (the in-batch-negatives
    * replacement used by DPR/SimCSE-style pipelines at corpus scale).
    *
    * Same scale shape as q17/q26: the query panel broadcasts, the label
    * inequality is a per-pair filter evaluated inside the broadcast join
    * (never a shuffle key), and the bounded-heap TopKAgg keeps the
    * per-query merge map-side — shuffle traffic is O(queries × k), not
    * O(candidates). At 100 TB the brute probe swaps for the q27/q34 ANN
    * candidate generators; the mining filter composes unchanged.
    */
  def q134_hard_negatives(s: SparkSession, dir: String): DataFrame = {
    val (e, queries) = Similarity.withNorms(emb(s, dir), emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("embedding").as("query_vec")))
    Similarity.cosineTopK(
        e.crossJoin(broadcast(queries)) // bounded 10-row query panel
          .filter(col("label") =!= col("query_label")), 5, col("query_label"))
      .join(emb(s, dir).select(col("vec_id"), col("label").as("neg_label")), Seq("vec_id"))
      .select(col("query_id"), col("query_label").cast("long").as("query_label"),
        col("vec_id"), col("neg_label").cast("long").as("neg_label"),
        col("cosine_sim"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** Deterministic sign matrix for the JL projection: s(j, i) ∈ {±1}
    * from pure integer arithmetic, replayed verbatim in the oracle.
    */
  private[queries] def jlSign(j: Int, i: Int): Double =
    if (((j.toLong * 2654435761L + i.toLong * 1103515245L + 12345L) % 97) % 2 == 0) 1.0 else -1.0

  /** Johnson–Lindenstrauss random projection 64 → 16 dims with an
    * Achlioptas ±1 sign matrix (scaled 1/√16), plus the distortion audit
    * that justifies using the projected space: for every pair in a
    * 10-vector panel, euclidean distance before vs after and their
    * ratio. This is the cheap "rotation ahead of quantization" that
    * actually survives an oracle — a dense data-learned OPQ rotation is
    * a 64×64 matmul per row with unreplayable training, while the JL
    * sign matrix is derived from integer arithmetic both engines
    * recompute, and serves the same pipeline role: shrink vectors
    * before PQ/IVF (q119/q122) or brute re-rank, trading bounded
    * distance distortion for 4× less bandwidth.
    *
    * Scale shape: projection is 16 native codegen'd dotF32 calls per
    * row against broadcast-literal sign vectors — map-only, no shuffle,
    * no HOF lambdas; distances use the |a|²+|b|²−2a·b identity so the
    * pair audit reuses the same accumulation order both engines define.
    */
  def q135_jl_projection(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.dotF32
    val k = 16
    val d = 64
    val signs: Array[Array[Double]] = Array.tabulate(k, d)((j, i) => jlSign(j, i))
    val projCols = signs.map { row =>
      val sv = array(row.map(x => lit(x.toFloat)): _*)
      dotF32(col("embedding"), sv) / math.sqrt(k)
    }
    val panel = emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"),
        array(projCols: _*).as("proj"),
        dotF32(col("embedding"), col("embedding")).as("ss"))
    val a = panel.select(col("vec_id").as("vec_id_a"), col("embedding").as("ea"),
      col("proj").as("pa"), col("ss").as("ssa"))
    val b = panel.select(col("vec_id").as("vec_id_b"), col("embedding").as("eb"),
      col("proj").as("pb"), col("ss").as("ssb"))
    a.crossJoin(broadcast(b)).filter(col("vec_id_a") < col("vec_id_b")) // 45-pair audit panel
      .withColumn("d_orig",
        round(sqrt(col("ssa") + col("ssb") - lit(2.0) * dotF32(col("ea"), col("eb"))), 6))
      .withColumn("d_proj",
        round(sqrt(aggregate(zip_with(col("pa"), col("pb"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v)), 6))
      .withColumn("ratio", round(col("d_proj") / col("d_orig"), 6))
      .select("vec_id_a", "vec_id_b", "d_orig", "d_proj", "ratio")
      .orderBy("vec_id_a", "vec_id_b")
  }

  val q135Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings WHERE vec_id < 10),
sg AS (SELECT j, list_transform(range(0, 64),
              i -> CASE WHEN ((j * 2654435761 + i * 1103515245 + 12345) % 97) % 2 = 0
                        THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS sv
       FROM (SELECT unnest(range(0, 16)) AS j)),
pr AS (SELECT e.vec_id, sg.j,
              list_sum(list_transform(range(1, 65), i -> e.v[i] * sg.sv[i])) / sqrt(16) AS p
       FROM e, sg),
pv AS (SELECT vec_id, list(p ORDER BY j) AS proj FROM pr GROUP BY vec_id),
ss AS (SELECT vec_id, list_sum(list_transform(v, x -> x * x)) AS ss FROM e),
pairs AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                 round(sqrt(sa.ss + sb.ss
                   - 2.0 * list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))), 6) AS d_orig,
                 round(sqrt(list_sum(list_transform(range(1, 17),
                   i -> (pa.proj[i] - pb.proj[i]) * (pa.proj[i] - pb.proj[i])))), 6) AS d_proj
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          JOIN ss sa ON sa.vec_id = a.vec_id JOIN ss sb ON sb.vec_id = b.vec_id
          JOIN pv pa ON pa.vec_id = a.vec_id JOIN pv pb ON pb.vec_id = b.vec_id)
SELECT vec_id_a, vec_id_b, d_orig, d_proj, round(d_proj / d_orig, 6) AS ratio
FROM pairs ORDER BY vec_id_a, vec_id_b"""

  val q134Sql: String =
    raw"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv FROM e WHERE vec_id < 10),
s AS (SELECT q.query_id, q.query_label, e.vec_id, e.label AS neg_label,
             ${cosSql("e.v", "qv")} AS cosine_sim
      FROM e, q WHERE e.label <> q.query_label),
r AS (SELECT query_id, query_label, vec_id, neg_label, cosine_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM s)
SELECT query_id, CAST(query_label AS BIGINT) AS query_label, vec_id,
       CAST(neg_label AS BIGINT) AS neg_label, cosine_sim, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"""

  /** The clustered-fixture twin of q138: embeddings displaced onto
    * well-separated deterministic cluster centers (one per label, the
    * center components derived from integer arithmetic both engines
    * replay) with the original vector shrunk 8× into the cluster's
    * local noise. CAST to float mirrors the engine's storage type.
    */
  private def clusteredFixture(s: SparkSession, dir: String): DataFrame = {
    val cvCol = transform(col("embedding"), (x, i) =>
      (((col("label").cast("long") * 2654435761L + i.cast("long") * 40503L) % 1000L)
        .cast("double") / 1000.0 - 0.5 + lit(0.125) * x.cast("double")).cast("float"))
    emb(s, dir).select(col("vec_id"), cvCol.as("embedding"), col("label"))
  }

  /** Per-label mean centroids over the deterministic sample (first 2048
    * rows by vec_id), accumulated in vec_id order so the oracle's
    * `list_sum(list(v[i] ORDER BY vec_id)) / count(*)` replays the same
    * left-to-right double fold. Cells ordered by label ascending.
    */
  private def labelCentroidModel(clustered: DataFrame): IvfIndex.Model = {
    val rows = clustered.orderBy("vec_id").limit(2048)
      .select(col("label"), col("embedding")).collect()
    val byLabel = scala.collection.mutable.SortedMap[Int, (Array[Double], Long)]()
    rows.foreach { r =>
      val l = r.getInt(0)
      val v = r.getSeq[Float](1)
      val (sum, n) = byLabel.getOrElse(l, (new Array[Double](v.length), 0L))
      var i = 0
      while (i < v.length) { sum(i) += v(i).toDouble; i += 1 }
      byLabel(l) = (sum, n + 1)
    }
    IvfIndex.Model(byLabel.values.map { case (s, n) => s.map(_ / n) }.toArray)
  }

  /** Residual vs raw IVF-PQ recall@10 in the regime the composition was
    * designed for — TIGHT, data-fitted coarse cells over clustered
    * vectors — closing the loop q126/q128 opened: on the isotropic
    * fixture with init-point cells, residual IVF-PQ measured 0.06 vs
    * raw's 0.26 because residuals there are LARGER than the vectors.
    * Here the cells are the per-label centroids of a deterministic
    * clustered fixture (residual magnitude = the 8×-shrunk noise), and
    * the same 8-byte code budget quantizes the noise scale instead of
    * the cluster geometry: residual recall beats raw at every fixture
    * scale (0.44 vs 0.22 mean at the 500-row corpus, 0.40 vs 0.34 at
    * 50 k). Together the two entries are the quantitative statement of
    * "residual quantization is only as good as its coarse quantizer".
    *
    * Same plan shapes as q122/q128 (keyed cell equi-join, 8-byte code
    * scan, exact re-rank of winners); the recall join is q126's.
    * Everything deterministic: integer-arithmetic cluster centers,
    * ordered-fold label centroids, init codebooks, fixed fold orders —
    * the full pipeline (fixture → cells → both PQ variants → recall)
    * replayed in SQL.
    */
  def q138_residual_clustered(s: SparkSession, dir: String): DataFrame = {
    val clustered = clusteredFixture(s, dir).persist()
    val ivf = labelCentroidModel(clustered)
    val queries = panel(clustered, 5)
    val pqRaw = PqIndex.train(clustered, numSub = 8, ksub = 16, iters = 0)
    val idxRaw = IvfIndex.assign(clustered, ivf)
      .withColumn("codes", PqIndex.codesCol(col("embedding"), pqRaw))
    val rawTop = PqIndex.adcTopKIvf(idxRaw, queries, ivf, pqRaw, k = 10, nprobe = 2)
    val pqRes = PqIndex.trainResiduals(clustered, ivf, numSub = 8, ksub = 16, iters = 0)
    val idxRes = IvfIndex.assign(clustered, ivf)
      .withColumn("codes", PqIndex.codesCol(
        PqIndex.residualCol(col("embedding"), col("cluster"), ivf), pqRes))
    val resTop = PqIndex.adcTopKIvfResidual(idxRes, queries, ivf, pqRes, k = 10, nprobe = 2)
    val exact = Similarity.knnJoinAgg(clustered, queries, k = 10).select("query_id", "vec_id")
    def hits(method: String, df: DataFrame): DataFrame =
      queries.select("query_id")
        .join(exact.join(df.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n_hit")), Seq("query_id"), "left")
        .select(lit(method).as("method"), col("query_id"),
          round(coalesce(col("n_hit"), lit(0L)) / 10.0, 6).as("recall10"))
    hits("ivfpq_raw", rawTop).unionByName(hits("ivfpq_res", resTop))
      .orderBy("method", "query_id")
  }

  val q138Sql: String =
    raw"""WITH e0 AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cv AS (SELECT vec_id, label,
         list_transform(range(1, 65), i -> CAST(CAST(
           ((label * 2654435761 + (i - 1) * 40503) % 1000) / 1000.0 - 0.5 + 0.125 * v[i]
         AS REAL) AS DOUBLE)) AS v
       FROM e0),
samp AS (SELECT vec_id, label, v FROM cv ORDER BY vec_id LIMIT 2048),
lblidx AS (SELECT label, CAST(row_number() OVER (ORDER BY label) - 1 AS BIGINT) AS cid
           FROM (SELECT DISTINCT label FROM samp)),
idx AS (SELECT unnest(range(1, 65)) AS ii),
cent AS (SELECT s.label, idx.ii, list_sum(list(s.v[idx.ii] ORDER BY s.vec_id)) / count(*) AS mi
         FROM samp s, idx GROUP BY s.label, idx.ii),
cc AS (SELECT li.cid, list(c.mi ORDER BY c.ii) AS c
       FROM cent c JOIN lblidx li ON li.label = c.label GROUP BY li.cid),
cf AS (SELECT cid, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS f,
              list_sum(list_transform(c, x -> x * x)) AS cn FROM cc),
scores AS (SELECT cvd.vec_id, cf.cid,
                  cf.cn - 2.0 * list_sum(list_transform(range(1, 65), i -> cvd.v[i] * cf.f[i])) AS s
           FROM cv cvd, cf),
assign AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM scores)
           WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM cv WHERE vec_id < 5),
probes AS (SELECT vec_id AS query_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM scores WHERE vec_id < 5)
           WHERE rn <= 2),
ms AS (SELECT unnest(range(0, 8)) AS m),
rcbraw AS (SELECT ms.m, s.vec_id AS j,
                  list_transform(range(1, 9), i -> CAST(CAST(s.v[ms.m * 8 + i] AS REAL) AS DOUBLE)) AS f,
                  list_sum(list_transform(range(1, 9), i -> s.v[ms.m * 8 + i] * s.v[ms.m * 8 + i])) AS cn
           FROM samp s, ms WHERE s.vec_id < 16),
psraw AS (SELECT c.vec_id, rb.m, rb.j,
                 rb.cn - 2.0 * list_sum(list_transform(range(1, 9), i -> c.v[rb.m * 8 + i] * rb.f[i])) AS s
          FROM cv c, rcbraw rb),
codesraw AS (SELECT vec_id, m, j AS code FROM (
               SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn FROM psraw)
             WHERE rn = 1),
draw AS (SELECT p.query_id, a.vec_id, cd.m,
                list_sum(list_transform(range(1, 9), i -> (q.qv[cd.m * 8 + i] - rb.f[i]) * (q.qv[cd.m * 8 + i] - rb.f[i]))) AS dm
         FROM probes p
         JOIN assign a ON a.cluster = p.cluster AND a.vec_id <> p.query_id
         JOIN q ON q.query_id = p.query_id
         JOIN codesraw cd ON cd.vec_id = a.vec_id
         JOIN rcbraw rb ON rb.m = cd.m AND rb.j = cd.code),
adcraw AS (SELECT query_id, vec_id, round(list_sum(list(dm ORDER BY m)), 6) AS adc_dist
           FROM draw GROUP BY query_id, vec_id),
rraw AS (SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rnk
           FROM adcraw) WHERE rnk <= 10),
rvdtr AS (SELECT c.vec_id, list_transform(range(1, 65), i -> c.v[i] - cc2.c[i]) AS rd
          FROM samp c JOIN assign a ON a.vec_id = c.vec_id JOIN cc cc2 ON cc2.cid = a.cluster
          WHERE c.vec_id < 16),
rcbres AS (SELECT ms.m, r.vec_id AS j,
                  list_transform(range(1, 9), i -> CAST(CAST(r.rd[ms.m * 8 + i] AS REAL) AS DOUBLE)) AS f,
                  list_sum(list_transform(range(1, 9), i -> r.rd[ms.m * 8 + i] * r.rd[ms.m * 8 + i])) AS cn
           FROM rvdtr r, ms),
rvf AS (SELECT c.vec_id, list_transform(range(1, 65), i -> CAST(CAST(c.v[i] - cf.f[i] AS REAL) AS DOUBLE)) AS rf
        FROM cv c JOIN assign a ON a.vec_id = c.vec_id JOIN cf ON cf.cid = a.cluster),
psres AS (SELECT v.vec_id, rb.m, rb.j,
                 rb.cn - 2.0 * list_sum(list_transform(range(1, 9), i -> v.rf[rb.m * 8 + i] * rb.f[i])) AS s
          FROM rvf v, rcbres rb),
codesres AS (SELECT vec_id, m, j AS code FROM (
               SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn FROM psres)
             WHERE rn = 1),
qr AS (SELECT p.query_id, p.cluster,
              list_transform(range(1, 65), i -> CAST(CAST(q.qv[i] - cf.f[i] AS REAL) AS DOUBLE)) AS qrf
       FROM probes p JOIN q ON q.query_id = p.query_id JOIN cf ON cf.cid = p.cluster),
dres AS (SELECT qr.query_id, a.vec_id, cd.m,
                list_sum(list_transform(range(1, 9), i -> (qr.qrf[cd.m * 8 + i] - rb.f[i]) * (qr.qrf[cd.m * 8 + i] - rb.f[i]))) AS dm
         FROM qr
         JOIN assign a ON a.cluster = qr.cluster AND a.vec_id <> qr.query_id
         JOIN codesres cd ON cd.vec_id = a.vec_id
         JOIN rcbres rb ON rb.m = cd.m AND rb.j = cd.code),
adcres AS (SELECT query_id, vec_id, round(list_sum(list(dm ORDER BY m)), 6) AS adc_dist
           FROM dres GROUP BY query_id, vec_id),
rres AS (SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rnk
           FROM adcres) WHERE rnk <= 10),
ex AS (SELECT query_id, vec_id FROM (
         SELECT q.query_id, c.vec_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY
                  round(list_sum(list_transform(range(1, 65), i -> c.v[i] * q.qv[i]))
                    / (sqrt(list_sum(list_transform(c.v, x -> x * x))) * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 6) DESC,
                  c.vec_id) AS rnk
         FROM cv c, q WHERE c.vec_id <> q.query_id) WHERE rnk <= 10),
h AS (SELECT 'ivfpq_raw' AS method, query_id, count(*) AS n_hit
      FROM ex JOIN rraw USING (query_id, vec_id) GROUP BY query_id
      UNION ALL
      SELECT 'ivfpq_res', query_id, count(*) FROM ex JOIN rres USING (query_id, vec_id) GROUP BY query_id),
grid AS (SELECT m.method, q.query_id
         FROM (SELECT unnest(['ivfpq_raw', 'ivfpq_res']) AS method) m, q)
SELECT grid.method, grid.query_id, round(coalesce(h.n_hit, 0) / 10.0, 6) AS recall10
FROM grid LEFT JOIN h ON h.method = grid.method AND h.query_id = grid.query_id
ORDER BY grid.method, grid.query_id"""

  /** FULL-CORPUS distributed k-means — the last driver-side model
    * builder closed: IvfIndex.train Lloyd-iterates over a bounded
    * 2048-row sample (fine for small k, blind past it: at the occupancy
    * rule's faiss-scale k a 2048-point sample can't populate the
    * codebook), while trainDistributed runs every Lloyd round as Spark
    * aggregations over ALL vectors — assignment via the native
    * NearestCentroid, per-cell sums via the two-phase ordered fold, one
    * k×dim collect per round. The report is the per-cell audit a
    * clustering job emits: membership count, centroid norm, and drift
    * from init. The oracle replays BOTH training rounds — float-cast
    * score assignment, bucketed vec_id-ordered phase-1 sums, bucket-
    * ordered phase-2 sums, mean division — bit-for-bit.
    */
  def q146_kmeans_dist(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val init = IvfIndex.initFirst(e, 8)
    val model = IvfIndex.trainDistributed(e, init, iters = 2)
    import s.implicits._
    val cents = model.centroids.zip(init.centroids).zipWithIndex
      .map { case ((c, c0), i) => (i, c.toSeq, c0.toSeq) }.toSeq
      .toDF("cell", "c", "c0")
    val geom = cents.select(col("cell"),
      round(sqrt(aggregate(transform(col("c"), x => x * x), lit(0.0), (a, b) => a + b)), 6)
        .as("centroid_norm"),
      round(sqrt(aggregate(zip_with(col("c"), col("c0"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (a, b) => a + b)), 6).as("drift"))
    val counts = IvfIndex.assign(e, model)
      .groupBy(col("cluster").as("cell")).agg(count(lit(1)).as("n_members"))
    geom.join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_members"), lit(0L)).as("n_members"),
        col("centroid_norm"), col("drift"))
      .orderBy("cell")
  }

  /** One DISTRIBUTED Lloyd round as SQL CTEs — the bucketed twin of
    * q41's lloydIterSql: assignment uses clusterCol's float-cast score
    * form (cn − 2·e·c_float, first-index ties), phase 1 folds each
    * (cell, vec_id//512 bucket, component) in vec_id order, phase 2
    * folds bucket partials in bucket order, and the mean divides the
    * total by the cell count — exactly trainDistributed's
    * s.map(_ / n). Empty cells keep the previous centroid.
    */
  private def lloydDistIterSql(n: Int, prev: String): String =
    raw"""cf$n AS (SELECT cid, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS f,
               list_sum(list_transform(c, x -> x * x)) AS cn FROM $prev),
sc$n AS (SELECT e.vec_id, cf$n.cid,
                cf$n.cn - 2.0 * list_sum(list_transform(range(1, 65), i -> e.v[i] * cf$n.f[i])) AS s
         FROM e, cf$n),
ag$n AS (SELECT vec_id, cid FROM (
           SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM sc$n)
         WHERE rn = 1),
ct$n AS (SELECT cid, count(*) AS nn FROM ag$n GROUP BY cid),
p$n AS (SELECT a.cid, e.vec_id // 512 AS bucket, idx.ii,
               list_sum(list(e.v[idx.ii] ORDER BY e.vec_id)) AS ps
        FROM e JOIN ag$n a ON a.vec_id = e.vec_id, idx
        GROUP BY a.cid, e.vec_id // 512, idx.ii),
t$n AS (SELECT cid, ii, list_sum(list(ps ORDER BY bucket)) AS st
        FROM p$n GROUP BY cid, ii),
nc$n AS (SELECT t$n.cid, list(t$n.st / ct$n.nn ORDER BY t$n.ii) AS c
         FROM t$n JOIN ct$n ON ct$n.cid = t$n.cid GROUP BY t$n.cid),
c$n AS (SELECT p.cid, coalesce(nc$n.c, p.c) AS c FROM $prev p LEFT JOIN nc$n ON nc$n.cid = p.cid)"""

  val q146Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS ii),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 8),
${lloydDistIterSql(1, "c0")},
${lloydDistIterSql(2, "c1")},
cff AS (SELECT cid, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS f,
               list_sum(list_transform(c, x -> x * x)) AS cn FROM c2),
scf AS (SELECT e.vec_id, cff.cid,
               cff.cn - 2.0 * list_sum(list_transform(range(1, 65), i -> e.v[i] * cff.f[i])) AS s
        FROM e, cff),
agf AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM scf)
        WHERE rn = 1),
cnf AS (SELECT cid, count(*) AS n FROM agf GROUP BY cid),
geom AS (SELECT c2.cid,
                round(sqrt(list_sum(list_transform(c2.c, x -> x * x))), 6) AS centroid_norm,
                round(sqrt(list_sum(list_transform(range(1, 65),
                  i -> (c2.c[i] - c0.c[i]) * (c2.c[i] - c0.c[i])))), 6) AS drift
         FROM c2 JOIN c0 ON c0.cid = c2.cid)
SELECT CAST(g.cid AS INTEGER) AS cell, CAST(coalesce(cnf.n, 0) AS BIGINT) AS n_members,
       g.centroid_norm, g.drift
FROM geom g LEFT JOIN cnf ON cnf.cid = g.cid
ORDER BY cell"""

  // initHash's affine id-hash constants, mirrored into the oracle SQL
  private val IdHashP = graft.functions.PortableHash.MinHashP
  private val (idHashA, idHashB) = graft.functions.PortableHash.minHashCoeffs(0)
  private val IdHashA = idHashA
  private val IdHashB = idHashB

  /** IVF ANN with the HASH-ORDERED seed set (initHash, iters=0): q34's
    * search shape, but the index cells are the 16 vectors with the
    * smallest (affineHash(vec_id), vec_id) keys rather than the first
    * 16 — the unbiased init a 100-TB corpus needs when vec_id order
    * encodes crawl time or source. iters=0 keeps the whole entry —
    * seed selection, assignment, probe, re-rank — replayable in SQL
    * (the q34/q41 convention); trained hash-init models are covered by
    * IvfSpec.
    */
  def q147_ann_ivf_hash(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = IvfIndex.initHash(e, 16)
    val queries = panel(e, 5)
    IvfIndex.annTopK(IvfIndex.assign(e, model), queries, model, k = 10, nprobe = 4)
      .orderBy("query_id", "rnk")
  }

  val q147Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
seeds AS (SELECT vec_id, v,
                 row_number() OVER (ORDER BY ((vec_id % $IdHashP) * $IdHashA + $IdHashB) % $IdHashP, vec_id) AS rk
          FROM e),
c AS (SELECT rk - 1 AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cn FROM seeds WHERE rk <= 16),
scores AS (SELECT e.vec_id, c.cid,
                  c.cn - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i])) AS s
           FROM e, c),
assign AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM scores)
           WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM scores WHERE vec_id < 5)
           WHERE rn <= 4),
cand AS (SELECT p.query_id, a.vec_id, ${cosSql("e.v", "qe.v")} AS cosine_sim
         FROM probes p
         JOIN assign a ON a.cluster = p.cluster
         JOIN e ON e.vec_id = a.vec_id
         JOIN e qe ON qe.vec_id = p.query_id
         WHERE a.vec_id <> p.query_id),
r AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM cand)
SELECT query_id, vec_id, cosine_sim, rnk FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""

  /** ANN search over a PERSISTED index: build q34's IVF index, SAVE it
    * as parquet artifacts (centroids table + codes table partitioned by
    * cluster), LOAD it back, and search the loaded artifacts — the
    * serve-from-disk path every production vector store runs (build
    * once, search many), closing the lifecycle loop with the streaming
    * maintenance (q112) and compaction (q120) entries which manage the
    * same part-chain shape. The probe join over the partitioned codes
    * table is where the layout pays: with a broadcast probe side,
    * dynamic partition pruning reads only the probed cells' files.
    * Results are bit-identical to the fresh in-plan index (doubles and
    * floats round-trip parquet exactly), so the oracle is exactly
    * q34's.
    */
  def q148_ann_ivf_saved(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = IvfIndex.train(e, k = 16, iters = 0)
    val path = QueriesSources.tmp("graft_q148_ivf_", dir)
    IvfIndex.save(IvfIndex.assign(e, model), model, path)
    val (loaded, codes) = IvfIndex.load(s, path)
    val queries = panel(e, 5)
    IvfIndex.annTopK(codes, queries, loaded, k = 10, nprobe = 4)
      .orderBy("query_id", "rnk")
  }

  /** Same semantics as q34 by construction — the artifact round-trip is
    * lossless, so the saved-index search replays q34's oracle.
    */
  val q148Sql: String = q34Sql

  /** q148's PQ counterpart: build q119's PQ index, persist the
    * COMPRESSED artifacts (codebooks + the M-bytes-per-vector codes
    * table — the table an ADC scan reads INSTEAD of the embeddings),
    * load them back, and search with the split shape: the loaded codes
    * drive the candidate scan, the raw embeddings are touched only to
    * re-rank each query's 10 winners. Ints and doubles round-trip
    * parquet bit-exactly, so the oracle is exactly q119's.
    */
  def q153_pq_saved(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = PqIndex.train(e, numSub = 8, ksub = 16, iters = 0)
    val path = QueriesSources.tmp("graft_q153_pq_", dir)
    PqIndex.save(PqIndex.encode(e, model), model, path)
    val (loaded, codes) = PqIndex.load(s, path)
    val queries = panel(e, 5)
    PqIndex.adcTopKSplit(codes, e, queries, loaded, k = 10)
      .orderBy("query_id", "rnk")
  }

  val q153Sql: String = q119Sql

  /** OPQ-style ROTATION ahead of PQ, measured where it matters: on an
    * ENERGY-CONCENTRATED fixture (dims 1–8 keep their variance, dims
    * 9–64 shrink 128× — the "all the signal lives in a few directions"
    * shape real embedding spaces have after PCA), plain PQ gives the 8
    * high-variance dims to ONE subspace's 16 codes while seven
    * codebooks quantize noise; the TRANSPOSE permutation (an exact
    * orthogonal rotation: position 8m+j takes dim 8j+m, so each
    * subspace receives exactly one high-variance dim) spends every
    * codebook on signal. The entry reports recall@10 of both variants
    * against exact kNN — the q126/q138 honest-panel convention — and
    * the rotated recall dominating the raw recall on this fixture is
    * the measured content of "OPQ helps when energy is unbalanced".
    * Everything is exact arithmetic (the 128× shrink is a power of two
    * — float-lossless; the rotation is a permutation), so the oracle
    * replays fixture, rotation, codebooks, ADC and the panel
    * bit-for-bit.
    */
  /** The q154/q157 energy-concentrated fixture: dims 1–8 keep their
    * variance, dims 9–64 shrink 128× (a power of two — float-lossless,
    * so the oracle's double replay is exact).
    */
  private def energyFixture(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        when(i <= 8, element_at(col("embedding"), i))
          .otherwise((element_at(col("embedding"), i) / lit(128.0)).cast("float")))
        .as("embedding"))

  /** Apply a 1-based dimension permutation (an exact orthogonal
    * rotation) to the embedding column.
    */
  private def permute(df: DataFrame, perm: Seq[Int]): DataFrame =
    df.select(col("vec_id"),
      transform(array(perm.map(lit): _*), j => element_at(col("embedding"), j))
        .as("embedding"))

  /** recall@10 panels of q119-shape PQ over each (method, corpus)
    * variant, judged against exact kNN on the UNROTATED fixture (a
    * permutation preserves the neighbor id set).
    */
  private def pqRecallPanels(fix: DataFrame,
      variants: Seq[(String, DataFrame)]): DataFrame = {
    def queriesOf(df: DataFrame) = panel(df, 5)
    val exact = Similarity.knnJoinAgg(fix, queriesOf(fix), k = 10)
      .select("query_id", "vec_id")
    variants.map { case (method, corpus) =>
      val model = PqIndex.train(corpus, numSub = 8, ksub = 16, iters = 0)
      val top = PqIndex.adcTopK(PqIndex.encode(corpus, model), queriesOf(corpus), model, k = 10)
      queriesOf(fix).select("query_id")
        .join(exact.join(top.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n_hit")), Seq("query_id"), "left")
        .select(lit(method).as("method"), col("query_id"),
          round(coalesce(col("n_hit"), lit(0L)) / 10.0, 6).as("recall10"))
    }.reduce(_ unionByName _).orderBy("method", "query_id")
  }

  def q154_pq_rotated(s: SparkSession, dir: String): DataFrame = {
    val fix = energyFixture(s, dir).persist()
    // transpose permutation: 0-based position i takes dim (i%8)*8 + i/8
    val perm: Seq[Int] = (0 until 64).map(i => (i % 8) * 8 + i / 8 + 1)
    pqRecallPanels(fix, Seq("pq_raw" -> fix, "pq_rot" -> permute(fix, perm)))
  }

  /** One q119-style PQ pipeline (codebooks from the first 16 vectors,
    * argmin codes, ADC, top-10) over source CTE `$src`, suffixed so the
    * q154 oracle can run it twice — raw and rotated.
    */
  private def pqPanelSql(sfx: String, src: String): String =
    raw"""cb$sfx AS (SELECT ms.m, e.vec_id AS j, list_transform(range(1, 9), i -> v[ms.m * 8 + i]) AS c
       FROM $src e, ms WHERE e.vec_id < 16),
cbn$sfx AS (SELECT m, j, c, list_sum(list_transform(c, x -> x * x)) AS cn FROM cb$sfx),
sc$sfx AS (SELECT e.vec_id, cbn$sfx.m, cbn$sfx.j,
                  cbn$sfx.cn - 2.0 * list_sum(list_transform(range(1, 9), i -> e.v[cbn$sfx.m * 8 + i] * cbn$sfx.c[i])) AS s
           FROM $src e, cbn$sfx),
cd$sfx AS (SELECT vec_id, m, j AS code FROM (
             SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn FROM sc$sfx)
           WHERE rn = 1),
qq$sfx AS (SELECT vec_id AS query_id, v AS qv FROM $src WHERE vec_id < 5),
dd$sfx AS (SELECT q.query_id, cd.vec_id, cd.m,
                  list_sum(list_transform(range(1, 9), i -> (q.qv[cd.m * 8 + i] - cb2.c[i]) * (q.qv[cd.m * 8 + i] - cb2.c[i]))) AS dm
           FROM cd$sfx cd JOIN cbn$sfx cb2 ON cb2.m = cd.m AND cb2.j = cd.code, qq$sfx q
           WHERE cd.vec_id <> q.query_id),
adc$sfx AS (SELECT query_id, vec_id, round(list_sum(list(dm ORDER BY m)), 6) AS adc_dist
            FROM dd$sfx GROUP BY query_id, vec_id),
top$sfx AS (SELECT query_id, vec_id FROM (
              SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rnk
              FROM adc$sfx) WHERE rnk <= 10)"""

  /** Oracle: the 128× shrink is a power of two (float-lossless, so the
    * double replay is exact), the rotation is the transpose index map,
    * and both PQ pipelines replay q119's CTEs; exact kNN runs on the
    * unrotated fixture (a permutation preserves the id set).
    */
  val q154Sql: String =
    raw"""WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
fx AS (SELECT vec_id, list_transform(range(1, 65), i -> CASE WHEN i <= 8 THEN v[i] ELSE v[i] / 128.0 END) AS v FROM e0),
rt AS (SELECT vec_id, list_transform(range(1, 65), i -> v[((i - 1) % 8) * 8 + ((i - 1) // 8) + 1]) AS v FROM fx),
ms AS (SELECT unnest(range(0, 8)) AS m),
${pqPanelSql("r", "fx")},
${pqPanelSql("o", "rt")},
ex AS (SELECT query_id, vec_id FROM (
         SELECT q.query_id, c.vec_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY ${cosSql("c.v", "q.qv")} DESC, c.vec_id) AS rnk
         FROM fx c, (SELECT vec_id AS query_id, v AS qv FROM fx WHERE vec_id < 5) q
         WHERE c.vec_id <> q.query_id) WHERE rnk <= 10),
h AS (SELECT 'pq_raw' AS method, query_id, count(*) AS n_hit
      FROM ex JOIN topr USING (query_id, vec_id) GROUP BY query_id
      UNION ALL
      SELECT 'pq_rot', query_id, count(*) FROM ex JOIN topo USING (query_id, vec_id) GROUP BY query_id),
grid AS (SELECT m.method, q.query_id
         FROM (SELECT unnest(['pq_raw', 'pq_rot']) AS method) m,
              (SELECT vec_id AS query_id FROM fx WHERE vec_id < 5) q)
SELECT grid.method, grid.query_id, round(coalesce(h.n_hit, 0) / 10.0, 6) AS recall10
FROM grid LEFT JOIN h ON h.method = grid.method AND h.query_id = grid.query_id
ORDER BY grid.method, grid.query_id"""

  /** q154's DATA-DRIVEN companion — variance-balanced dimension
    * allocation, the deterministic core of what learned OPQ buys: rank
    * dims by measured per-dim variance (population formula, rounded to
    * 8 decimals BEFORE ranking so the two engines' different summation
    * orders cannot flip a rank — the high/low variance groups are
    * separated by 4+ orders of magnitude, and sub-grid ties fall back
    * to the dim index identically on both sides), then SNAKE-assign
    * ranks to the 8 subspaces (rank r → subspace r%8, reversed on
    * alternate rows of 8 — each subspace gets one top-8 dim and a
    * balanced share of the tail). q154 hard-codes the transpose
    * because it knows where the fixture's energy lives; this entry
    * MEASURES where it lives and derives the same balancing from the
    * data — the rule that still works when the energy profile isn't
    * known in advance. Recall panel vs unpermuted PQ on the same
    * energy fixture, exact kNN as judge.
    */
  /** The measured variance-balanced snake permutation (q157's rule):
    * per-dim variance with the round-8 pinning both engines replay,
    * ranks dealt boustrophedon over 8 subspaces. Shared by q157
    * (energy fixture) and q169 (raw corpus). Returns position 8m+j →
    * original dim.
    */
  private def snakePermOf(df: DataFrame): Seq[Int] = {
    val stats = df.select(posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select((col("pos") + 1).as("dim"), col("xf").cast("double").as("x"))
      .groupBy("dim")
      .agg(count(lit(1)).cast("double").as("n"), sum("x").as("s1"),
        sum(col("x") * col("x")).as("s2"))
      .select(col("dim"),
        round((col("s2") - col("s1") * col("s1") / col("n")) / col("n"), 8).as("vr"))
      .collect() // 64 rows — bounded stats table
      .map(r => (r.getInt(0), r.getDouble(1)))
    val order = stats.sortBy { case (d, v) => (-v, d) }.map(_._1)
    val bySub = Array.fill(8)(scala.collection.mutable.ArrayBuffer.empty[Int])
    order.zipWithIndex.foreach { case (d, r) =>
      val m = if ((r / 8) % 2 == 0) r % 8 else 7 - r % 8
      bySub(m) += d
    }
    bySub.toSeq.flatMap(_.toSeq)
  }

  def q157_pq_balanced(s: SparkSession, dir: String): DataFrame = {
    val fix = energyFixture(s, dir).persist()
    val perm = snakePermOf(fix)
    pqRecallPanels(fix, Seq("pq_raw" -> fix, "pq_bal" -> permute(fix, perm)))
  }

  /** Oracle: per-dim variance with the same (S2 − S1²/n)/n association
    * and round-8 pinning, the same snake rule in integer arithmetic,
    * the permuted corpus built by ordered list() over the 64-row
    * permutation table, then the q154 double-panel tail.
    */
  val q157Sql: String =
    raw"""WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
fx AS (SELECT vec_id, list_transform(range(1, 65), i -> CASE WHEN i <= 8 THEN v[i] ELSE v[i] / 128.0 END) AS v FROM e0),
exd AS (SELECT vec_id, i AS dim, v[i] AS x FROM (SELECT vec_id, v, unnest(range(1, 65)) AS i FROM fx)),
st AS (SELECT dim, round((sum(x * x) - sum(x) * sum(x) / count(*)) / count(*), 8) AS vr
       FROM exd GROUP BY dim),
rk AS (SELECT dim, row_number() OVER (ORDER BY vr DESC, dim) - 1 AS r FROM st),
asn AS (SELECT dim, r, CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END AS m FROM rk),
slot AS (SELECT dim, m, row_number() OVER (PARTITION BY m ORDER BY r) - 1 AS j FROM asn),
pmt AS (SELECT m * 8 + j + 1 AS p, dim FROM slot),
bl AS (SELECT f.vec_id, list(f.v[pmt.dim] ORDER BY pmt.p) AS v FROM fx f, pmt GROUP BY f.vec_id),
ms AS (SELECT unnest(range(0, 8)) AS m),
${pqPanelSql("r", "fx")},
${pqPanelSql("b", "bl")},
ex AS (SELECT query_id, vec_id FROM (
         SELECT q.query_id, c.vec_id,
                row_number() OVER (PARTITION BY q.query_id ORDER BY ${cosSql("c.v", "q.qv")} DESC, c.vec_id) AS rnk
         FROM fx c, (SELECT vec_id AS query_id, v AS qv FROM fx WHERE vec_id < 5) q
         WHERE c.vec_id <> q.query_id) WHERE rnk <= 10),
h AS (SELECT 'pq_raw' AS method, query_id, count(*) AS n_hit
      FROM ex JOIN topr USING (query_id, vec_id) GROUP BY query_id
      UNION ALL
      SELECT 'pq_bal', query_id, count(*) FROM ex JOIN topb USING (query_id, vec_id) GROUP BY query_id),
grid AS (SELECT m.method, q.query_id
         FROM (SELECT unnest(['pq_raw', 'pq_bal']) AS method) m,
              (SELECT vec_id AS query_id FROM fx WHERE vec_id < 5) q)
SELECT grid.method, grid.query_id, round(coalesce(h.n_hit, 0) / 10.0, 6) AS recall10
FROM grid LEFT JOIN h ON h.method = grid.method AND h.query_id = grid.query_id
ORDER BY grid.method, grid.query_id"""

  /** Distributed k-means at OCCUPANCY-SCALED k (64 cells over this
    * corpus) with HIERARCHICAL per-round assignment — q146's trainer
    * past the flat argmin's O(n·k) wall: every Lloyd round routes each
    * vector through ~√k coarse cells (coarse scores + the per-group
    * dynamic argmin) instead of scanning all k centroids. Here the
    * routing is EXHAUSTIVE (nProbe = coarseK — assignHierarchicalExact),
    * which keeps the argmin bit-equal to the flat expression (double
    * norms are fed to the dyn argmin; IvfSpec pins trainer equality),
    * so the oracle replays the FLAT formulation: one q146 Lloyd round
    * at k=64 plus the per-cell audit. The production configuration —
    * nProbe < coarseK, per-row cost sublinear in k — is the same code
    * path with a different probe count (spec'd by agreement, not
    * oracle-replayed, since boundary vectors may route differently).
    */
  def q159_kmeans_hier(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val init = IvfIndex.initFirst(e, 64)
    val model = IvfIndex.trainDistributed(e, init, iters = 1,
      assigner = IvfIndex.assignHierarchicalExact)
    import s.implicits._
    val cents = model.centroids.zip(init.centroids).zipWithIndex
      .map { case ((c, c0), i) => (i, c.toSeq, c0.toSeq) }.toSeq
      .toDF("cell", "c", "c0")
    val geom = cents.select(col("cell"),
      round(sqrt(aggregate(transform(col("c"), x => x * x), lit(0.0), (a, b) => a + b)), 6)
        .as("centroid_norm"),
      round(sqrt(aggregate(zip_with(col("c"), col("c0"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (a, b) => a + b)), 6).as("drift"))
    val counts = IvfIndex.assignHierarchicalExact(e, model)
      .groupBy(col("cluster").as("cell")).agg(count(lit(1)).as("n_members"))
    geom.join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_members"), lit(0L)).as("n_members"),
        col("centroid_norm"), col("drift"))
      .orderBy("cell")
  }

  val q159Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS ii),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 64),
${lloydDistIterSql(1, "c0")},
cff AS (SELECT cid, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS f,
               list_sum(list_transform(c, x -> x * x)) AS cn FROM c1),
scf AS (SELECT e.vec_id, cff.cid,
               cff.cn - 2.0 * list_sum(list_transform(range(1, 65), i -> e.v[i] * cff.f[i])) AS s
        FROM e, cff),
agf AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM scf)
        WHERE rn = 1),
cnf AS (SELECT cid, count(*) AS n FROM agf GROUP BY cid),
geom AS (SELECT c1.cid,
                round(sqrt(list_sum(list_transform(c1.c, x -> x * x))), 6) AS centroid_norm,
                round(sqrt(list_sum(list_transform(range(1, 65),
                  i -> (c1.c[i] - c0.c[i]) * (c1.c[i] - c0.c[i])))), 6) AS drift
         FROM c1 JOIN c0 ON c0.cid = c1.cid)
SELECT CAST(g.cid AS INTEGER) AS cell, CAST(coalesce(cnf.n, 0) AS BIGINT) AS n_members,
       g.centroid_norm, g.drift
FROM geom g LEFT JOIN cnf ON cnf.cid = g.cid
ORDER BY cell"""

  /** q153's saved-index search through the LOOKUP-TABLE ADC: the same
    * persisted artifacts, but each query's M×ksub distance table is
    * precomputed driver-side and the compressed scan does M native
    * array lookups per row (AdcLookup) instead of d multiply-adds
    * through allocating HOFs — the at-scale compute optimization
    * PqIndex's doc reserved. Bit-equal to the HOF path (PqSpec pins
    * full-result equality), so the oracle is q119's verbatim — the
    * third reuse of that SQL (fresh q119, saved q153, LUT here), which
    * is the point: three physical strategies, one semantics.
    */
  def q160_pq_lut(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = PqIndex.train(e, numSub = 8, ksub = 16, iters = 0)
    val path = QueriesSources.tmp("graft_q160_pq_", dir)
    PqIndex.save(PqIndex.encode(e, model), model, path)
    val (loaded, codes) = PqIndex.load(s, path)
    val queries = panel(e, 5)
    PqIndex.adcTopKSplitLut(codes, e, queries, loaded, k = 10)
      .orderBy("query_id", "rnk")
  }

  val q160Sql: String = q119Sql

  /** SemDeDup over TRAINED cells — q108's dedup rule on a codebook the
    * distributed trainer actually moved: one full-corpus Lloyd round
    * (q146's machinery) from the first-8 seed set, then the within-cell
    * exact-cosine keep-lowest-id rule. q108 pins the iters=0 init
    * partition; this entry pins the TRAINED partition — the production
    * composition `Similarity.semanticDedupTrained` runs (with initHash
    * and hierarchical routing at real k; initFirst/flat here so the
    * oracle can replay seed set, training round, assignment and pair
    * verify bit-for-bit).
    */
  def q163_semantic_trained(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedupTrained(emb(s, dir), tau = 0.45, k = 8, iters = 1,
      init = IvfIndex.initFirst).orderBy("vec_id")

  val q163Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS ii),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 8),
${lloydDistIterSql(1, "c0")},
cff AS (SELECT cid, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS f,
               list_sum(list_transform(c, x -> x * x)) AS cn FROM c1),
scf AS (SELECT e.vec_id, cff.cid,
               cff.cn - 2.0 * list_sum(list_transform(range(1, 65), i -> e.v[i] * cff.f[i])) AS s
        FROM e, cff),
agf AS (SELECT vec_id, cid AS cluster FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM scf)
        WHERE rn = 1),
p AS (SELECT b.vec_id AS vec_id, a.vec_id AS kept_by, ${cosSql("ea.v", "eb.v")} AS cosine_sim
      FROM agf a JOIN agf b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id),
d AS (SELECT vec_id, kept_by, cosine_sim,
             row_number() OVER (PARTITION BY vec_id ORDER BY kept_by) AS rn
      FROM p WHERE cosine_sim >= 0.45)
SELECT vec_id, kept_by, cosine_sim FROM d WHERE rn = 1 ORDER BY vec_id"""

  /** The FULL PRODUCTION INDEX, composed and persisted end to end —
    * the capstone over the family's individually-verified pieces:
    * measured variance-balanced rotation (q157's snake, derived from
    * THIS corpus's stats) → IVF coarse cells over the rotated space
    * (q34/q148's init rule) → residual PQ codebooks (q128's faiss
    * composition) → EVERY artifact persisted (permutation, centroids,
    * cluster-partitioned codes carrying the PQ codes column, PQ
    * codebooks) → everything re-LOADED → the query served purely from
    * loaded artifacts (queries rotated through the loaded permutation,
    * probes against the loaded centroids, candidates from the loaded
    * partition-pruned codes, ADC against the loaded codebooks, exact
    * re-rank from the loaded table's embedding column). A user of the
    * reference engine migrating an ANN corpus runs exactly this build
    * once and this serve path forever after.
    *
    * Scale shape is the sum of its parts, all previously measured:
    * stats pass (one posexplode aggregate), rotation (per-row
    * permutation projection), one assignment pass, the partitioned
    * write; the serve path reads nprobe/k of the partitions × M bytes
    * per candidate. Oracle: the q157 permutation prelude feeding the
    * q128 residual-IVF-PQ body verbatim — persistence is lossless
    * (doubles/ints/floats round-trip parquet bit-exactly, the
    * q148/q153 precedent), so the composed SQL replays the served
    * results bit-for-bit.
    */
  def q169_index_full(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val perm = snakePermOf(e)
    val rot = permute(e, perm)
    val ivf = IvfIndex.train(rot, k = 16, iters = 0)
    val pqRes = PqIndex.trainResiduals(rot, ivf, numSub = 8, ksub = 16, iters = 0)
    val indexed = IvfIndex.assign(rot, ivf)
      .withColumn("codes", PqIndex.codesCol(
        PqIndex.residualCol(col("embedding"), col("cluster"), ivf), pqRes))
    val path = QueriesSources.tmp("graft_q169_idx_", dir)
    perm.zipWithIndex.map { case (dim, p) => (p, dim) }.toDF("p", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/perm")
    IvfIndex.save(indexed, ivf, s"$path/ivf") // codes table carries embedding+codes too
    PqIndex.save(indexed.select(col("vec_id"), col("codes")), pqRes, s"$path/pq")
    // ---- serve purely from the loaded artifacts ----
    val permL: Seq[Int] = s.read.parquet(s"$path/perm")
      .orderBy("p").select("dim").as[Int].collect().toSeq
    val (ivfL, codesL) = IvfIndex.load(s, s"$path/ivf")
    val (pqL, _) = PqIndex.load(s, s"$path/pq")
    val queries = permute(e.filter(col("vec_id") < 5), permL)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    PqIndex.adcTopKIvfResidual(
      codesL.withColumn("cluster", col("cluster").cast("int")),
      queries, ivfL, pqL, k = 10, nprobe = 4)
      .orderBy("query_id", "rnk")
  }

  /** Oracle: the q157 snake-permutation prelude over the RAW corpus
    * feeding the q128 residual-IVF-PQ body — the artifacts are
    * lossless, so the composed replay needs no persistence model.
    */
  val q169Sql: String =
    raw"""WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
exd AS (SELECT vec_id, i AS dim, v[i] AS x FROM (SELECT vec_id, v, unnest(range(1, 65)) AS i FROM e0)),
st AS (SELECT dim, round((sum(x * x) - sum(x) * sum(x) / count(*)) / count(*), 8) AS vr
       FROM exd GROUP BY dim),
rk AS (SELECT dim, row_number() OVER (ORDER BY vr DESC, dim) - 1 AS r FROM st),
asn AS (SELECT dim, r, CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END AS m FROM rk),
slot AS (SELECT dim, m, row_number() OVER (PARTITION BY m ORDER BY r) - 1 AS j FROM asn),
pmt AS (SELECT m * 8 + j + 1 AS p, dim FROM slot),
e AS (SELECT f.vec_id, list(f.v[pmt.dim] ORDER BY pmt.p) AS v FROM e0 f, pmt GROUP BY f.vec_id),
$residualIvfPqBodySql"""

  /** SEMANTIC SEARCH OVER TEXT, end to end — the retrieval-indexing
    * composition every RAG stack runs, built entirely from this
    * engine's own pieces: documents are cut into overlapping 64-token
    * chunks (q133's cut), each chunk becomes a hashed term-frequency
    * vector (q113's feature-hashing domain, D = 64 buckets), projected
    * to 16 dims by the q135 Achlioptas ±1 sign matrix, partitioned
    * into 4 IVF cells around first-4-chunk seed centroids (the q146
    * seed convention), and a TEXT query — embedded by the identical
    * tokenize → hash → project path — probes its 2 nearest cells for
    * the exact top-10 chunks. Until now only the synthetic embeddings
    * table was indexed; this is the text→vector→index→serve path in
    * one entry.
    *
    * Exactness by construction: counts are integers and the JL signs
    * are ±1, so every projected coordinate is an exact INTEGER (the
    * 1/√16 Achlioptas scale cancels from every comparison and is
    * dropped), distances are integer sums of squares, and every
    * argmin/top-k has an exact total order — no float rounds anywhere,
    * both engines bit-agree by arithmetic, not by tolerance.
    *
    * Scale shape: chunking/hashing are per-row; TF counts and the
    * sparse projection are keyed aggregations (the sign matrix is a
    * 1024-row broadcast); centroids are a 4-row driver collect (the
    * k×dim convention); assignment is a bounded broadcast panel
    * (whitelisted) with a min-struct argmin; serving filters to the
    * probed cells before the bounded top-k (TakeOrderedAndProject).
    */
  def q186_text_index(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.PortableHash
    import graft.text.Text
    val W = 64; val S = 48; val D = 64L; val K = 16; val NP = 2
    val t = Tables(s, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
    val n = size(col("tk"))
    val nChunks = lit(1) +
      greatest(lit(0L), ceil((n - lit(W)).cast("double") / S).cast("long"))
    val chunks = t
      .select(col("doc_id"), explode(transform(sequence(lit(0L), nChunks - 1), i =>
        struct(i.as("ci"),
          slice(col("tk"), i * S + 1, least(lit(W.toLong), n - i * S)).as("ctoks")))).as("c"))
      .select(col("doc_id"), col("c.ci").as("ci"), col("c.ctoks").as("ctoks"))
      .filter(size(col("ctoks")) > 0)
    val cnt = chunks.select(col("doc_id"), col("ci"), explode(col("ctoks")).as("tok"))
      .select(col("doc_id"), col("ci"),
        pmod(PortableHash.asciiPolyHash(col("tok")), lit(D)).as("f"))
      .groupBy("doc_id", "ci", "f").agg(count(lit(1)).as("c"))
    val signsDf = broadcast((for { j <- 0 until K; f <- 0 until D.toInt } yield
      (j, f.toLong, jlSign(j, f).toLong)).toDF("j", "f", "sgn"))
    // Persisted: the chunk-vector table has two consumers (the seed
    // collect and the assignment scan) — without the persist the whole
    // tokenize→hash→project chain executes twice (measured 16.4 s →
    // 9.3 s at the 8× probe). 16 longs per chunk — far smaller than
    // the text it derives from; at production scale this is the
    // materialized embedding table every index build starts from.
    val vec = cnt.join(signsDf, Seq("f"))
      .groupBy("doc_id", "ci", "j").agg(sum(col("c") * col("sgn")).as("pj"))
      .groupBy("doc_id", "ci")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("pj")))),
        x => x.getField("pj")).as("v"))
      .persist()
    // seed centroids: the 4 first chunks by (doc_id, ci) — 4×16 ints
    val cents = vec.orderBy("doc_id", "ci").limit(4).collect()
      .map(_.getSeq[Long](2).toArray)
    val centDf = broadcast(
      cents.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("cell", "cv"))
    val d2To = (other: org.apache.spark.sql.Column) =>
      aggregate(zip_with(col("v"), other, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val assigned = vec.crossJoin(centDf)
      .select(col("doc_id"), col("ci"), col("v"), col("cell"), d2To(col("cv")).as("d2"))
      .groupBy("doc_id", "ci")
      .agg(min(struct(col("d2"), col("cell"))).as("m"), first("v").as("v"))
      .select(col("doc_id"), col("ci"), col("v"), col("m.cell").as("cell"))
    // the query, embedded by the identical driver-side arithmetic
    val qToks = "join stream window group data table".split(" ").toSeq
    val qCnt = qToks.groupBy(tok =>
      PortableHash.asciiPolyHashScala(tok) % D).view.mapValues(_.size.toLong)
    val qv = Array.tabulate(K)(j =>
      qCnt.map { case (f, c) => c * jlSign(j, f.toInt).toLong }.sum)
    val probed = cents.zipWithIndex
      .map { case (c, i) =>
        (i.toLong, c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum) }
      .sortBy { case (i, d) => (d, i) }.take(NP).map(_._1)
    val qvLit = array(qv.map(lit).toIndexedSeq: _*)
    assigned.filter(col("cell").isin(probed.toIndexedSeq: _*))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        aggregate(zip_with(col("v"), qvLit, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"),
        col("cell"))
      .orderBy(col("d2"), col("doc_id"), col("chunk_idx"))
      .limit(10)
  }

  /** Oracle: the full pipeline restated — q133 chunk cut, hashed TF,
    * the q135 sign-matrix CTE, integer projection sums, first-4 seeds,
    * window-argmin assignment, the query embedded from the same
    * literal through the same tokenizer fragment, 2-cell probe, exact
    * top-10 with the (d2, doc_id, chunk_idx) total order.
    */
  val q186Sql: String = {
    val toks = QueriesText.ToksSql
    val qlit = raw"""list_filter(regexp_split_to_array(regexp_replace('join stream window group data table', '[^A-Za-z]', ' ', 'g'), '\s+'), x -> x <> '')"""
    raw"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
c AS (SELECT doc_id, tk,
             unnest(range(0, 1 + greatest(0, CAST(ceil((len(tk) - 64) / 48.0) AS BIGINT)))) AS ci
      FROM t),
ch AS (SELECT doc_id, ci, list_slice(tk, ci * 48 + 1, ci * 48 + least(64, len(tk) - ci * 48)) AS ctoks
       FROM c WHERE least(64, len(tk) - ci * 48) > 0),
tok AS (SELECT doc_id, ci, unnest(ctoks) AS tok FROM ch),
cnt AS (SELECT doc_id, ci, ${QueriesDedup.polyHashSql("tok")} % 64 AS f, count(*) AS c
        FROM tok GROUP BY doc_id, ci, f),
sg AS (SELECT j, f,
              CASE WHEN ((j * 2654435761 + f * 1103515245 + 12345) % 97) % 2 = 0
                   THEN 1 ELSE -1 END AS sgn
       FROM (SELECT unnest(range(0, 16)) AS j) jj CROSS JOIN (SELECT unnest(range(0, 64)) AS f) ff),
pr AS (SELECT doc_id, ci, j, sum(c * sgn) AS pj FROM cnt JOIN sg USING (f) GROUP BY doc_id, ci, j),
vec AS (SELECT doc_id, ci, list(pj ORDER BY j) AS v FROM pr GROUP BY doc_id, ci),
seed AS (SELECT row_number() OVER (ORDER BY doc_id, ci) - 1 AS cell, v AS cv
         FROM vec ORDER BY doc_id, ci LIMIT 4),
asg AS (SELECT doc_id, ci, v, cell FROM (
  SELECT vec.doc_id, vec.ci, vec.v, seed.cell,
         row_number() OVER (PARTITION BY vec.doc_id, vec.ci
           ORDER BY list_sum(list_transform(range(1, 17), i -> (vec.v[i] - seed.cv[i]) * (vec.v[i] - seed.cv[i]))),
                    seed.cell) AS rn
  FROM vec CROSS JOIN seed) WHERE rn = 1),
qtok AS (SELECT unnest($qlit) AS tok),
qcnt AS (SELECT ${QueriesDedup.polyHashSql("tok")} % 64 AS f, count(*) AS c FROM qtok GROUP BY f),
qpr AS (SELECT sg.j, sum(qcnt.c * sg.sgn) AS pj FROM qcnt JOIN sg USING (f) GROUP BY sg.j),
qvv AS (SELECT list(pj ORDER BY j) AS qv FROM qpr),
pc AS (SELECT cell FROM seed CROSS JOIN qvv
       ORDER BY list_sum(list_transform(range(1, 17), i -> (cv[i] - qv[i]) * (cv[i] - qv[i]))), cell
       LIMIT 2)
SELECT a.doc_id, CAST(a.ci AS BIGINT) AS chunk_idx,
       CAST(list_sum(list_transform(range(1, 17), i -> (a.v[i] - qvv.qv[i]) * (a.v[i] - qvv.qv[i]))) AS BIGINT) AS d2,
       CAST(a.cell AS BIGINT) AS cell
FROM asg a JOIN pc USING (cell) CROSS JOIN qvv
ORDER BY d2, a.doc_id, chunk_idx LIMIT 10"""
  }

  /** PRODUCTION hierarchical routing through the gate — the
    * configuration q159 left spec-only: `assignHierarchical` at k = 64
    * with nProbe = 4 < coarseK = 8, the sublinear-in-k shape every
    * occupancy-scaled deployment actually runs (per-row cost
    * (√k + nProbe·k/√k)·dim instead of k·dim). The entry audits the
    * routed partition per cell against the flat argmin: n_flat /
    * n_routed member counts and n_same (rows both assign to the
    * cell) — the boundary-vector disagreement is REAL and bounded, and
    * the oracle replays every stage of the routing deterministically:
    * the 5-round coarse Lloyd over the 64 fine centroids (full double
    * distances, the driver loop's exact arithmetic), the fine→coarse
    * group map, each row's top-4 coarse probes by the float-cast
    * (|c|² − 2·e·c, id) order, the probed-cells-only fine argmin, and
    * the q41-form flat argmin — all ordered-aggregate SQL, so the
    * hash match certifies the production probe path end to end, not
    * just its exhaustive-routing degenerate.
    */
  def q187_hier_route(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = IvfIndex.initFirst(e, 64)
    val routed = IvfIndex.assignHierarchical(e, model, nProbe = 4)
      .select(col("vec_id"), col("cluster").as("rc"))
    val flat = IvfIndex.assign(e, model)
      .select(col("vec_id"), col("cluster").as("fcell"))
    val j = routed.join(flat, Seq("vec_id"))
    val cells = s.range(64).select(col("id").cast("int").as("cell"))
    val perR = j.groupBy(col("rc"))
      .agg(count(lit(1)).as("n_routed"),
        sum(when(col("rc") === col("fcell"), 1L).otherwise(0L)).as("n_same"))
    val perF = j.groupBy(col("fcell")).agg(count(lit(1)).as("n_flat"))
    cells
      .join(perF, cells("cell") === perF("fcell"), "left")
      .join(perR, cells("cell") === perR("rc"), "left")
      .select(col("cell"),
        coalesce(col("n_flat"), lit(0L)).as("n_flat"),
        coalesce(col("n_routed"), lit(0L)).as("n_routed"),
        coalesce(col("n_same"), lit(0L)).as("n_same"))
      .orderBy("cell")
  }

  /** One coarse-Lloyd round over the 64 fine centroids (assignment by
    * FULL double squared distance — the driver loop's form, not the
    * float-cast index score — then per-component means in fine-id
    * order, empty coarse cells keeping their previous entry).
    */
  private def coarseIterSql(n: Int, prev: String): String =
    raw"""cd$n AS (SELECT fcb.fid, p.kid,
          list_sum(list_transform(range(1, 65), i -> (fcb.c[i] - p.c[i]) * (fcb.c[i] - p.c[i]))) AS d
        FROM fcb, $prev p),
ca$n AS (SELECT fid, kid FROM (
          SELECT fid, kid, row_number() OVER (PARTITION BY fid ORDER BY d, kid) AS rn FROM cd$n)
        WHERE rn = 1),
cm$n AS (SELECT a.kid, idx.ii, list_sum(list(fcb.c[idx.ii] ORDER BY fcb.fid)) / count(*) AS mi
        FROM fcb JOIN ca$n a ON a.fid = fcb.fid, idx
        GROUP BY a.kid, idx.ii),
cnl$n AS (SELECT kid, list(mi ORDER BY ii) AS c FROM cm$n GROUP BY kid),
k$n AS (SELECT p.kid, coalesce(cnl$n.c, p.c) AS c FROM $prev p LEFT JOIN cnl$n ON cnl$n.kid = p.kid)"""

  val q187Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS ii),
fcb AS (SELECT vec_id AS fid, v AS c FROM e WHERE vec_id < 64),
k0 AS (SELECT fid AS kid, c FROM fcb WHERE fid < 8),
${coarseIterSql(1, "k0")},
${coarseIterSql(2, "k1")},
${coarseIterSql(3, "k2")},
${coarseIterSql(4, "k3")},
${coarseIterSql(5, "k4")},
gd AS (SELECT fcb.fid, k5.kid,
         list_sum(list_transform(range(1, 65), i -> (fcb.c[i] - k5.c[i]) * (fcb.c[i] - k5.c[i]))) AS d
       FROM fcb, k5),
grp AS (SELECT fid, kid FROM (
         SELECT fid, kid, row_number() OVER (PARTITION BY fid ORDER BY d, kid) AS rn FROM gd)
       WHERE rn = 1),
kf AS (SELECT kid, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS f,
         list_sum(list_transform(c, x -> x * x)) AS cn FROM k5),
cs AS (SELECT e.vec_id, kf.kid,
         kf.cn - 2.0 * list_sum(list_transform(range(1, 65), i -> e.v[i] * kf.f[i])) AS s
       FROM e, kf),
pr AS (SELECT vec_id, kid FROM (
         SELECT vec_id, kid, row_number() OVER (PARTITION BY vec_id ORDER BY s, kid) AS rn FROM cs)
       WHERE rn <= 4),
ff AS (SELECT fid, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS f,
         list_sum(list_transform(c, x -> x * x)) AS cn FROM fcb),
fs AS (SELECT pr.vec_id, g.fid,
         ff.cn - 2.0 * list_sum(list_transform(range(1, 65), i -> e.v[i] * ff.f[i])) AS s
       FROM pr JOIN grp g ON g.kid = pr.kid
       JOIN ff ON ff.fid = g.fid
       JOIN e ON e.vec_id = pr.vec_id),
routed AS (SELECT vec_id, fid AS rc FROM (
            SELECT vec_id, fid, row_number() OVER (PARTITION BY vec_id ORDER BY s, fid) AS rn FROM fs)
           WHERE rn = 1),
fsall AS (SELECT e.vec_id, ff.fid,
            ff.cn - 2.0 * list_sum(list_transform(range(1, 65), i -> e.v[i] * ff.f[i])) AS s
          FROM e, ff),
flat AS (SELECT vec_id, fid AS fcell FROM (
           SELECT vec_id, fid, row_number() OVER (PARTITION BY vec_id ORDER BY s, fid) AS rn FROM fsall)
         WHERE rn = 1),
jn AS (SELECT r.vec_id, r.rc, f.fcell FROM routed r JOIN flat f USING (vec_id)),
pa AS (SELECT rc AS cell, count(*) AS n_routed,
              sum(CASE WHEN rc = fcell THEN 1 ELSE 0 END) AS n_same
       FROM jn GROUP BY rc),
pb AS (SELECT fcell AS cell, count(*) AS n_flat FROM jn GROUP BY fcell),
cells AS (SELECT unnest(range(0, 64)) AS cell)
SELECT CAST(cells.cell AS INTEGER) AS cell,
       CAST(coalesce(pb.n_flat, 0) AS BIGINT) AS n_flat,
       CAST(coalesce(pa.n_routed, 0) AS BIGINT) AS n_routed,
       CAST(coalesce(pa.n_same, 0) AS BIGINT) AS n_same
FROM cells LEFT JOIN pa ON pa.cell = cells.cell LEFT JOIN pb ON pb.cell = cells.cell
ORDER BY cell"""

  /** INCREMENTAL INDEX APPEND — the maintenance path faiss calls `add`
    * (train once, add forever): build the IVF index on the BASE corpus
    * (vec_id % 4 ≠ 0, hash-seeded centroids), SAVE it, then APPEND the
    * delta (vec_id % 4 = 0) through [[IvfIndex.appendToArtifact]] —
    * assignment under the SAVED, FROZEN centroids, rows appended into
    * the partitioned codes table with no retrain and no rewrite of
    * existing codes. The search over the RELOADED artifacts must see
    * base ∪ delta exactly as if the union had been assigned fresh under
    * the same model — that equivalence (assignment is a pure per-row
    * function of frozen centroids) is what the oracle certifies: it
    * replays hash-init-on-base, assignment of ALL vectors, and the
    * q34-form probe/re-rank, with no append anywhere in sight. Any
    * append defect — delta rows missing, landed in the wrong cell
    * partition, base rows clobbered by the append write — shifts the
    * candidate sets and fails the hash.
    *
    * Scale shape: maintenance cost is O(|delta|·k·dim + |delta| IO),
    * independent of index size — the only alternative at 100 TB, where
    * a per-ingest retrain+rewrite is off the table. The query panel
    * includes delta members (vec_id 0 and 4), so the appended rows are
    * exercised as BOTH corpus and queries.
    */
  def q191_index_append(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val base = e.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val delta = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val model = IvfIndex.initHash(base, 16)
    val path = QueriesSources.tmp("graft_q191_ivf_", dir)
    IvfIndex.save(IvfIndex.assign(base, model), model, path)
    IvfIndex.appendToArtifact(s, path, delta)
    val (loaded, codes) = IvfIndex.load(s, path)
    val queries = panel(e, 5)
    IvfIndex.annTopK(codes, queries, loaded, k = 10, nprobe = 4)
      .orderBy("query_id", "rnk")
  }

  /** Shared q191/q192 oracle prefix: hash-init centroids seeded from
    * the BASE corpus only (vec_id % 4 ≠ 0 — initHash's affine-hash
    * order restricted to base rows; float embeddings are double-exact,
    * so the raw doubles ARE the engine's float centroids), then the
    * frozen-centroid assignment of the FULL corpus — q147's score form.
    */
  private def frozenBaseAssignSql: String =
    raw"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
seeds AS (SELECT vec_id, v,
                 row_number() OVER (ORDER BY ((vec_id % $IdHashP) * $IdHashA + $IdHashB) % $IdHashP, vec_id) AS rk
          FROM e WHERE vec_id % 4 <> 0),
c AS (SELECT rk - 1 AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cn FROM seeds WHERE rk <= 16),
scores AS (SELECT e.vec_id, c.cid,
                  c.cn - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i])) AS s
           FROM e, c),
assign AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM scores)
           WHERE rn = 1)"""

  val q191Sql: String =
    raw"""WITH $frozenBaseAssignSql,
probes AS (SELECT vec_id AS query_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM scores WHERE vec_id < 5)
           WHERE rn <= 4),
cand AS (SELECT p.query_id, a.vec_id, ${cosSql("e.v", "qe.v")} AS cosine_sim
         FROM probes p
         JOIN assign a ON a.cluster = p.cluster
         JOIN e ON e.vec_id = a.vec_id
         JOIN e qe ON qe.vec_id = p.query_id
         WHERE a.vec_id <> p.query_id),
r AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM cand)
SELECT query_id, vec_id, cosine_sim, rnk FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""

  /** CELL-OCCUPANCY DRIFT after q191's append — the ops-side audit that
    * decides when appended mass has skewed the frozen partition enough
    * to schedule the next full refresh ([[IvfIndex.refreshArtifact]]):
    * per cell, base vs appended counts, the appended-mass fraction, the
    * load factor vs the uniform ideal (n·k / corpus), and a split/
    * refresh trigger (load > 2× mean — exact integer compare, no float
    * threshold). Empty cells appear with zeros (candidates for merging
    * at the next retrain). This is the same audit shape faiss's
    * imbalance_factor serves; here it is one keyed aggregation plus a
    * k-row panel — the corpus is touched exactly once.
    *
    * Scale shape: the only window runs over the k-row cell table
    * (metadata scale, whitelisted); the corpus-sized work is the
    * assignment scan + one groupBy(cell) partial-aggregated count.
    */
  def q192_cell_drift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, dir)
    val base = e.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val model = IvfIndex.initHash(base, 16)
    val assigned = IvfIndex.assign(e, model)
      .withColumn("is_new", (pmod(col("vec_id"), lit(4)) === 0).cast("long"))
    val counts = assigned.groupBy(col("cluster").as("cell"))
      .agg(sum(lit(1L) - col("is_new")).as("n_base"), sum("is_new").as("n_new"))
    val cells = s.range(16).select(col("id").cast("int").as("cell"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells.join(counts, Seq("cell"), "left")
      .na.fill(0L, Seq("n_base", "n_new"))
      .withColumn("n_total", col("n_base") + col("n_new"))
      .withColumn("__corpus", sum("n_total").over(all)) // 16-row cell table
      .select(col("cell"), col("n_base"), col("n_new"), col("n_total"),
        when(col("n_total") === 0L, lit(0.0))
          .otherwise(round(col("n_new") / col("n_total"), 6)).as("new_frac"),
        round((col("n_total") * lit(16L)) / col("__corpus"), 6).as("load_factor"),
        when(col("n_total") * lit(16L) > lit(2L) * col("__corpus"), lit(1L))
          .otherwise(lit(0L)).as("needs_split"))
      .orderBy("cell")
  }

  val q192Sql: String =
    raw"""WITH $frozenBaseAssignSql,
counts AS (SELECT cluster AS cell,
                  sum(CASE WHEN vec_id % 4 = 0 THEN 0 ELSE 1 END) AS n_base,
                  sum(CASE WHEN vec_id % 4 = 0 THEN 1 ELSE 0 END) AS n_new
           FROM assign GROUP BY cluster),
cells AS (SELECT unnest(range(0, 16)) AS cell),
f AS (SELECT CAST(cells.cell AS INTEGER) AS cell,
             CAST(coalesce(counts.n_base, 0) AS BIGINT) AS n_base,
             CAST(coalesce(counts.n_new, 0) AS BIGINT) AS n_new,
             CAST(coalesce(counts.n_base, 0) + coalesce(counts.n_new, 0) AS BIGINT) AS n_total
      FROM cells LEFT JOIN counts ON counts.cell = cells.cell),
tot AS (SELECT sum(n_total) AS corpus FROM f)
SELECT f.cell, f.n_base, f.n_new, f.n_total,
       CASE WHEN f.n_total = 0 THEN 0.0 ELSE round(f.n_new / f.n_total, 6) END AS new_frac,
       round((f.n_total * 16) / tot.corpus, 6) AS load_factor,
       CAST(CASE WHEN f.n_total * 16 > 2 * tot.corpus THEN 1 ELSE 0 END AS BIGINT) AS needs_split
FROM f, tot ORDER BY f.cell"""

  /** SHARDED (federated) ANN — how a 100 TB index actually serves: the
    * corpus is split across independent shards (here vec_id parity),
    * EACH shard trains its OWN centroids and answers top-k from its own
    * data, and the router merges the per-shard top-k lists into the
    * global top-k. The merge is exact by the classic distributed-top-k
    * argument: every global winner living in shard s is, a fortiori, in
    * shard s's own top-k, so ranking the union of the two k-lists
    * reproduces the rank over the union of the shards' candidate sets —
    * which is what the oracle computes directly (it replays both
    * shards' hash-init + assignment + probes, unions the CANDIDATES,
    * and ranks once; any defect in the per-shard search OR the merge
    * shifts the hash). Per-shard tie order and the global merge order
    * are the same (cosine DESC, vec_id), so the equivalence is exact,
    * not approximate.
    *
    * Scale shape: shards are embarrassingly parallel (separate models,
    * separate probe joins); the router's merge is a per-query window
    * over ≤ shards×k rows — bounded by construction. This entry is the
    * federation contract q191's single-artifact lifecycle composes
    * with: shard locally, append locally, merge globally.
    */
  def q194_sharded_ann(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val queries = panel(e, 5)
    val perShard = Seq(0, 1).map { p =>
      val shard = e.filter(pmod(col("vec_id"), lit(2)) === p)
      val model = IvfIndex.initHash(shard, 16)
      IvfIndex.annTopK(IvfIndex.assign(shard, model), queries, model, k = 10, nprobe = 4)
        .select("query_id", "vec_id", "cosine_sim")
    }
    Similarity.rankByCosine(perShard.reduce(_ unionByName _), 10).orderBy("query_id", "rnk")
  }

  /** Per-shard oracle CTEs (parity `p`): hash-init seeds and assignment
    * over the shard's rows only; probe scores for the query panel
    * against the SHARD's centroids.
    */
  private def shardCtes(p: Int): String =
    raw"""seeds$p AS (SELECT vec_id, v,
                 row_number() OVER (ORDER BY ((vec_id % $IdHashP) * $IdHashA + $IdHashB) % $IdHashP, vec_id) AS rk
          FROM e WHERE vec_id % 2 = $p),
c$p AS (SELECT rk - 1 AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cn FROM seeds$p WHERE rk <= 16),
scores$p AS (SELECT e.vec_id, c$p.cid,
                  c$p.cn - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c$p.cv[i])) AS s
           FROM e, c$p WHERE e.vec_id % 2 = $p),
assign$p AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn FROM scores$p)
           WHERE rn = 1),
qscores$p AS (SELECT e.vec_id, c$p.cid,
                  c$p.cn - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c$p.cv[i])) AS s
           FROM e, c$p WHERE e.vec_id < 5),
probes$p AS (SELECT vec_id AS query_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM qscores$p)
           WHERE rn <= 4),
cand$p AS (SELECT p.query_id, a.vec_id, ${cosSql("e.v", "qe.v")} AS cosine_sim
         FROM probes$p p
         JOIN assign$p a ON a.cluster = p.cluster
         JOIN e ON e.vec_id = a.vec_id
         JOIN e qe ON qe.vec_id = p.query_id
         WHERE a.vec_id <> p.query_id)"""

  val q194Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
${shardCtes(0)},
${shardCtes(1)},
cand AS (SELECT * FROM cand0 UNION ALL SELECT * FROM cand1),
r AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM cand)
SELECT query_id, vec_id, cosine_sim, rnk FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""

  /** FILTERED ANN — vector search under a metadata predicate (the
    * "where lang = 'en' and license = 'ok'" of every production vector
    * store; vec_id % 3 = 0 stands in for the predicate): the filter is
    * applied to the CANDIDATE SIDE BEFORE the probe join
    * (PRE-filtering), so the returned top-k is exactly the top-k of
    * the probed cells' qualifying vectors. The alternative —
    * post-filtering a generic top-k — silently returns FEWER than k
    * (or misses qualifying neighbors entirely when the unfiltered
    * top-k is dominated by non-qualifying vectors); pre-filtering has
    * no such recall cliff, and in this plan it costs nothing extra:
    * the predicate lands on the codes scan next to the cluster
    * pruning, where parquet evaluates it before the join (at scale:
    * partition pruning picks the probed cells' directories, the
    * pushed filter prunes row groups inside them). The oracle replays
    * hash-init, assignment, probes, and the filtered re-rank.
    */
  def q195_filtered_ann(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = IvfIndex.initHash(e, 16)
    val qualifying = IvfIndex.assign(e, model).filter(pmod(col("vec_id"), lit(3)) === 0)
    val queries = panel(e, 5)
    IvfIndex.annTopK(qualifying, queries, model, k = 10, nprobe = 4)
      .orderBy("query_id", "rnk")
  }

  /** q147's oracle with the candidate side restricted to the predicate
    * (queries stay unrestricted — a query may search a set it does not
    * belong to).
    */
  val q195Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
seeds AS (SELECT vec_id, v,
                 row_number() OVER (ORDER BY ((vec_id % $IdHashP) * $IdHashA + $IdHashB) % $IdHashP, vec_id) AS rk
          FROM e),
c AS (SELECT rk - 1 AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cn FROM seeds WHERE rk <= 16),
scores AS (SELECT e.vec_id, c.cid,
                  c.cn - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i])) AS s
           FROM e, c),
assign AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM scores WHERE vec_id % 3 = 0)
           WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM scores WHERE vec_id < 5)
           WHERE rn <= 4),
cand AS (SELECT p.query_id, a.vec_id, ${cosSql("e.v", "qe.v")} AS cosine_sim
         FROM probes p
         JOIN assign a ON a.cluster = p.cluster
         JOIN e ON e.vec_id = a.vec_id
         JOIN e qe ON qe.vec_id = p.query_id
         WHERE a.vec_id <> p.query_id),
r AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM cand)
SELECT query_id, vec_id, cosine_sim, rnk FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""

  /** DIVERSITY-CAPPED retrieval ([[Similarity.diverseTopK]]): top-10
    * per query with AT MOST 2 results from any one label — the
    * "no more than m per source/domain" diversification contract of a
    * retrieval API, greedy-equivalent to scanning candidates in score
    * order and skipping saturated groups. Scale path: the per-group cap
    * rides the bounded-heap aggregate map-side (O(groups x m) rows out
    * of the shuffle), and the final top-k window runs over the
    * <= |groups| x m survivors per query — bounded, partitioned.
    */
  def q199_diverse_topk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val queries = panel(e, 5)
    Similarity.diverseTopK(e, queries, "label", k = 10, perGroup = 2)
      .select(col("query_id"), col("vec_id"), col("label"), col("cosine_sim"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  val q199Sql: String =
    raw"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
s AS (SELECT q.query_id, e.vec_id, e.label, ${cosSql("e.v", "q.qv")} AS cosine_sim
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
g AS (SELECT query_id, vec_id, label, cosine_sim FROM (
        SELECT query_id, vec_id, label, cosine_sim,
               row_number() OVER (PARTITION BY query_id, label ORDER BY cosine_sim DESC, vec_id) AS gr
        FROM s) WHERE gr <= 2),
r AS (SELECT query_id, vec_id, label, cosine_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM g)
SELECT query_id, vec_id, label, cosine_sim, rnk FROM r WHERE rnk <= 10
ORDER BY query_id, rnk"""

  /** MMR-DIVERSIFIED rerank ([[Similarity.mmrRerank]]): the exact
    * top-8 pool per query is greedily reranked by maximal marginal
    * relevance (lambda = 0.7, redundancy hinged at 0), emitting 3
    * selections per query with their selection-time MMR scores. The
    * oracle UNROLLS the three greedy steps in SQL — pool, pairwise
    * candidate similarities, then three argmax stages each penalizing
    * by the max similarity to the already-selected set — so the
    * selection order, tie handling and score arithmetic are all under
    * the hash. Scale: the pool is serving-scale (k' per query from the
    * ANN stage); the greedy runs per query inside one task,
    * embarrassingly parallel across queries.
    */
  def q200_mmr_rerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val queries = panel(e, 5)
    val pool = Similarity.knnJoinAgg(e, queries, k = 8)
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cosine_sim"), col("embedding"))
    Similarity.mmrRerank(pool, lambda = 0.7, mu = 0.3, k = 3)
      .orderBy("query_id", "rnk")
  }

  val q200Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
rel0 AS (SELECT q.query_id, e.vec_id, ${cosSql("e.v", "q.qv")} AS rel
         FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
pool AS (SELECT query_id, vec_id, rel FROM (
           SELECT query_id, vec_id, rel,
                  row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
           FROM rel0) WHERE rn <= 8),
pv AS (SELECT p.query_id, p.vec_id, p.rel, e.v FROM pool p JOIN e ON e.vec_id = p.vec_id),
ps AS (SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb, ${cosSql("a.v", "b.v")} AS s
       FROM pv a JOIN pv b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
s1 AS (SELECT query_id, vec_id, score FROM (
         SELECT query_id, vec_id, CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * 0.0 AS score,
                row_number() OVER (PARTITION BY query_id ORDER BY CAST(0.7 AS DOUBLE) * rel DESC, vec_id) AS rn
         FROM pv) WHERE rn = 1),
sc2 AS (SELECT p.query_id, p.vec_id,
               CAST(0.7 AS DOUBLE) * p.rel - CAST(0.3 AS DOUBLE) * greatest(0.0, ps.s) AS score
        FROM pv p
        JOIN s1 ON s1.query_id = p.query_id AND p.vec_id <> s1.vec_id
        JOIN ps ON ps.query_id = p.query_id AND ps.ca = p.vec_id AND ps.cb = s1.vec_id),
s2 AS (SELECT query_id, vec_id, score FROM (
         SELECT query_id, vec_id, score,
                row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
         FROM sc2) WHERE rn = 1),
sc3 AS (SELECT p.query_id, p.vec_id,
               CAST(0.7 AS DOUBLE) * p.rel - CAST(0.3 AS DOUBLE) * greatest(0.0, greatest(pa.s, pb.s)) AS score
        FROM pv p
        JOIN s1 ON s1.query_id = p.query_id
        JOIN s2 ON s2.query_id = p.query_id
        JOIN ps pa ON pa.query_id = p.query_id AND pa.ca = p.vec_id AND pa.cb = s1.vec_id
        JOIN ps pb ON pb.query_id = p.query_id AND pb.ca = p.vec_id AND pb.cb = s2.vec_id
        WHERE p.vec_id <> s1.vec_id AND p.vec_id <> s2.vec_id),
s3 AS (SELECT query_id, vec_id, score FROM (
         SELECT query_id, vec_id, score,
                row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
         FROM sc3) WHERE rn = 1),
u AS (SELECT query_id, CAST(1 AS BIGINT) AS rnk, vec_id, score FROM s1
      UNION ALL SELECT query_id, CAST(2 AS BIGINT), vec_id, score FROM s2
      UNION ALL SELECT query_id, CAST(3 AS BIGINT), vec_id, score FROM s3)
SELECT query_id, rnk, vec_id, score AS mmr_score FROM u
ORDER BY query_id, rnk"""

  /** INDEX TAKEDOWN — vector-store deletes WITHOUT rebuild (the
    * serving-side composition of q198's deletion vectors with the IVF
    * index): the vectors live in a deletion-vector table; a takedown
    * masks every vec_id ≡ 4 (mod 9) as an O(deleted) sidecar — the
    * trained/assigned index artifacts (centroids, codes) are NOT
    * touched — and serving pre-filters the probe join through the
    * DV-masked liveness set (q195's pre-filter semantics: the result
    * is exactly the top-k of the probed cells' LIVE vectors, no
    * post-filter recall cliff, and a masked vector can never surface
    * — the GDPR contract). At scale the liveness mask is the
    * delete-scale broadcast; codes and corpus never shuffle, and the
    * full re-index happens on the compaction cadence, not per
    * takedown.
    */
  def q202_index_takedown(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DeletionVectors
    val e = emb(s, dir)
    val out = QueriesSources.tmp("graft_q202_takedown_", dir)
    graft.core.ArtifactIO.delete(s, out) // fresh table per run
    val model = IvfIndex.initHash(e, 16)
    val codes = IvfIndex.assign(e, model)
    val t = e.select(col("vec_id"), col("embedding"),
      pmod(col("vec_id"), lit(8)).as("shard"))
    DeletionVectors.writeBase(t, out, Seq("vec_id"))
    DeletionVectors.deleteWhere(s, out, pmod(col("vec_id"), lit(9)) === 4, 1L)
    val live = DeletionVectors.read(s, out).select("vec_id")
    val qualifying = codes.join(live, Seq("vec_id"), "left_semi")
    val queries = panel(e, 5)
    IvfIndex.annTopK(qualifying, queries, model, k = 10, nprobe = 4)
      .orderBy("query_id", "rnk")
  }

  val q202Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
seeds AS (SELECT vec_id, v,
                 row_number() OVER (ORDER BY ((vec_id % $IdHashP) * $IdHashA + $IdHashB) % $IdHashP, vec_id) AS rk
          FROM e),
c AS (SELECT rk - 1 AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cn FROM seeds WHERE rk <= 16),
scores AS (SELECT e.vec_id, c.cid,
                  c.cn - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i])) AS s
           FROM e, c),
assign AS (SELECT vec_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM scores WHERE vec_id % 9 <> 4)
           WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid AS cluster FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM scores WHERE vec_id < 5)
           WHERE rn <= 4),
cand AS (SELECT p.query_id, a.vec_id, ${cosSql("e.v", "qe.v")} AS cosine_sim
         FROM probes p
         JOIN assign a ON a.cluster = p.cluster
         JOIN e ON e.vec_id = a.vec_id
         JOIN e qe ON qe.vec_id = p.query_id
         WHERE a.vec_id <> p.query_id),
r AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM cand)
SELECT query_id, vec_id, cosine_sim, rnk FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""

  /** Integer nDCG discount weights: round(1e6 / log2(i + 1)) for rank
    * i = 1..10, plus their prefix sums (the ideal-DCG table). Computed
    * ONCE here and embedded as literals in BOTH the engine plan and
    * the oracle SQL: DCG sums become exact integer arithmetic
    * (order-free — a double Σ w_i·rel_i would depend on Spark's
    * nondeterministic aggregation order), and no engine ever evaluates
    * log() at query time (Java's and DuckDB's libm are not guaranteed
    * ulp-identical).
    */
  private val NdcgW: Seq[Long] =
    (1 to 10).map(i => Math.round(1e6 / (Math.log(i + 1.0) / Math.log(2.0))))
  private val NdcgCum: Seq[Long] = NdcgW.scanLeft(0L)(_ + _).tail

  /** RETRIEVAL QUALITY EVALUATION — the serving-side metrics panel
    * (Precision@10, MRR, nDCG@10) over the exact top-10 cosine ranking,
    * with graded relevance = label agreement with the query vector
    * (the standard class-as-relevance eval on an embedding benchmark).
    * All three metrics reduce to exact integer accumulations (see
    * [[NdcgW]]) followed by ONE IEEE division each, so the doubles are
    * bit-identical across engines with no rounding step. Scale: the
    * ranking is the q17 scan; the per-query relevant-count is a keyed
    * label join; metrics are O(k) per query.
    */
  def q204_retrieval_metrics(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("label").as("qlabel"))
    val wArr = array(NdcgW.map(lit): _*)
    val cumArr = array(NdcgCum.map(lit): _*)
    val top = Similarity.knnJoinAgg(e, queries.select("query_id", "query_vec"), k = 10)
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .join(queries.select(col("query_id"), col("qlabel")), Seq("query_id"))
      .withColumn("rel", (col("label") === col("qlabel")).cast("long"))
    val perQ = top.groupBy("query_id").agg(
      sum("rel").as("n_rel_top10"),
      sum(col("rel") * element_at(wArr, col("rnk").cast("int"))).as("dcg_int"),
      min(when(col("rel") === 1, col("rnk"))).as("first_rel"))
    val rCorpus = queries.select(col("query_id"), col("qlabel"))
      .join(e.select(col("vec_id"), col("label")), col("label") === col("qlabel"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_rel_corpus"))
    perQ.join(rCorpus, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel_corpus"), lit(0L)).as("n_rel_corpus"),
        col("n_rel_top10"),
        (col("n_rel_top10").cast("double") / lit(10).cast("double")).as("p_at_10"),
        when(col("first_rel").isNull, 0.0)
          .otherwise(lit(1).cast("double") / col("first_rel").cast("double")).as("mrr"),
        when(coalesce(col("n_rel_corpus"), lit(0L)) === 0, 0.0)
          .otherwise(col("dcg_int").cast("double") /
            element_at(cumArr, least(coalesce(col("n_rel_corpus"), lit(0L)), lit(10L)).cast("int"))
              .cast("double")).as("ndcg_at_10"))
      .orderBy("query_id")
  }

  val q204Sql: String = {
    val wRows = NdcgW.zipWithIndex.map { case (w, i) => s"(${i + 1}, CAST($w AS BIGINT))" }.mkString(", ")
    val cumCase = NdcgCum.zipWithIndex.map { case (c, i) => s"WHEN ${i + 1} THEN CAST($c AS BIGINT)" }.mkString(" ")
    raw"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e WHERE vec_id < 5),
s AS (SELECT q.query_id, q.qlabel, e.vec_id, e.label, ${cosSql("e.v", "q.qv")} AS cosine_sim
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
r AS (SELECT query_id, qlabel, vec_id, label,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
      FROM s),
t AS (SELECT query_id, rnk, CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
      FROM r WHERE rnk <= 10),
w(rnk, wq) AS (VALUES $wRows),
per AS (SELECT t.query_id,
               CAST(sum(t.rel) AS BIGINT) AS n_rel_top10,
               CAST(sum(t.rel * w.wq) AS BIGINT) AS dcg_int,
               min(CASE WHEN t.rel = 1 THEN t.rnk END) AS first_rel
        FROM t JOIN w ON w.rnk = t.rnk GROUP BY t.query_id),
rc AS (SELECT q.query_id, count(*) AS n_rel_corpus
       FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> q.query_id
       GROUP BY q.query_id)
SELECT per.query_id,
       COALESCE(rc.n_rel_corpus, CAST(0 AS BIGINT)) AS n_rel_corpus,
       per.n_rel_top10,
       CAST(per.n_rel_top10 AS DOUBLE) / CAST(10 AS DOUBLE) AS p_at_10,
       CASE WHEN per.first_rel IS NULL THEN 0.0
            ELSE CAST(1 AS DOUBLE) / CAST(per.first_rel AS DOUBLE) END AS mrr,
       CASE WHEN COALESCE(rc.n_rel_corpus, 0) = 0 THEN 0.0
            ELSE CAST(per.dcg_int AS DOUBLE) /
                 CAST(CASE least(COALESCE(rc.n_rel_corpus, 0), 10) $cumCase END AS DOUBLE) END AS ndcg_at_10
FROM per LEFT JOIN rc ON rc.query_id = per.query_id
ORDER BY per.query_id"""
  }

  /** BINARY (1-bit) QUANTIZATION ANN — the fourth compression point on
    * the quantization spectrum (float32 q17 → int8 q121 → PQ q119 →
    * sign bits here, 32× less scan bandwidth than float32): each
    * vector keeps only its per-dimension SIGN, all 64 dims packed into
    * ONE BIGINT, and the screen ranks candidates by the Hamming
    * distance of the packed signatures — `bit_count(sig XOR qsig)`,
    * one XOR + one popcount per candidate, the cheapest possible scan
    * (this is the classic sign-random-projection estimator at the
    * identity rotation: Hamming/d ≈ θ/π, Charikar STOC'02). Only the
    * top-20 screen survivors pay the exact float cosine for the final
    * top-10. The screen is INTEGER-exact, so the candidate set carries
    * zero cross-engine FP ambiguity; the oracle computes the same
    * Hamming count as a per-dimension sign-disagreement sum (an
    * engine without 64-bit popcount replays it bit-identically).
    * Scale: signatures are 8 bytes/vector (a 100 TB float corpus
    * screens from a 3 TB sig column); queries broadcast; the rerank
    * reads only k' raw vectors per query.
    */
  def q208_binary_ann(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // Pack sign bits: bit i set iff dim i > 0 (disjoint bits, so | folds
    // them without carries). shiftleft(1L, 63) lands on the sign bit —
    // harmless here: XOR + popcount treat the long as a raw bit vector.
    val signed = e.select(col("vec_id"), col("embedding"), expr(
      """aggregate(zip_with(embedding, sequence(0, 63),
        |            (x, i) -> IF(x > CAST(0.0 AS FLOAT),
        |                         shiftleft(CAST(1 AS BIGINT), i),
        |                         CAST(0 AS BIGINT))),
        |          CAST(0 AS BIGINT), (acc, b) -> acc | b)""".stripMargin).as("sig"))
    val queries = signed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("sig").as("qsig"))
    // The screen keeps -hamming: its DESC order is hamming ASC, id ASC
    // — the integer order.
    val screen = signed.select(col("vec_id"), col("sig"))
      .crossJoin(broadcast(queries.select("query_id", "qsig")))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("-CAST(bit_count(sig ^ qsig) AS BIGINT)").as("neg_hamming"))
    Similarity.rerankScreen(screen, "neg_hamming", e, queries, screenK = 20, k = 10)
      .select(col("query_id"), col("vec_id"), (-col("neg_hamming")).cast("long").as("hamming"),
        col("cosine_sim"), col("rnk"))
  }

  /** Oracle: the identical Hamming count spelled as a per-dimension
    * sign-disagreement sum (integer-exact, so the top-20 candidate set
    * matches the packed-popcount screen bit-for-bit), then the rounded
    * exact-cosine re-rank.
    */
  val q208Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
h AS (SELECT q.query_id, e.vec_id,
             CAST(list_sum(list_transform(range(1, 65),
                    i -> CASE WHEN (e.v[i] > 0) <> (q.qv[i] > 0) THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
t AS (SELECT query_id, vec_id, hamming FROM (
        SELECT query_id, vec_id, hamming,
               row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS rn FROM h)
      WHERE rn <= 20),
r AS (SELECT t.query_id, t.vec_id, t.hamming, ${cosSql("e.v", "q.qv")} AS cosine_sim
      FROM t JOIN e ON e.vec_id = t.vec_id JOIN q ON q.query_id = t.query_id),
f AS (SELECT query_id, vec_id, hamming, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS BIGINT) AS rnk
      FROM r)
SELECT query_id, vec_id, hamming, cosine_sim, rnk FROM f WHERE rnk <= 10 ORDER BY query_id, rnk"""

  /** LATE-INTERACTION (MaxSim) MULTI-VECTOR RETRIEVAL — the ColBERT
    * scoring shape (Khattab & Zaharia, SIGIR 2020): a query is a SET of
    * vectors, a document is a SET of vectors, and the score is
    * Σ_{q∈query} max_{d∈doc} sim(q, d) — each query vector finds its
    * best match in the document independently. Fixture mapping: query
    * 0 = vectors {0..3}, query 1 = {4..7} (4 "token" vectors each);
    * documents = the label groups of the remaining corpus. All
    * similarity lands in INTEGER MICRO-UNITS (round(cos, 6) · 1e6 as
    * BIGINT) before the max/sum folds, so the aggregation is exact and
    * order-free in both engines — no double-sum ordering hazard.
    * Scale: the query token panel broadcasts (|Q|·tokens rows); the
    * per-(query-token, doc) max and the per-doc sum are both partial
    * (map-side) aggregates; nothing shuffles but the (qtoken, doc)
    * maxima — O(|Q|·tokens·docs) reduced rows, the same shape every
    * late-interaction serving stack materializes.
    */
  def q209_maxsim_multivector(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, dir)
    val qtokens = e.filter(col("vec_id") < 8)
      .select(expr("CAST(vec_id DIV 4 AS BIGINT)").as("query_id"),
        col("vec_id").as("qvec_id"), col("embedding").as("query_vec"),
        org.apache.spark.sql.graft.VectorExpressions.normF32(col("embedding")).as("__qn"))
    val docs = e.filter(col("vec_id") >= 8)
      .select(col("vec_id"), col("label"), col("embedding"),
        org.apache.spark.sql.graft.VectorExpressions.normF32(col("embedding")).as("__n"))
    val micro = docs
      .crossJoin(broadcast(qtokens))
      .select(col("query_id"), col("qvec_id"), col("label"),
        round(org.apache.spark.sql.graft.VectorExpressions.roundedCosine(
          col("embedding"), col("query_vec"), col("__n"), col("__qn")) * lit(1000000.0))
          .cast("long").as("micro"))
    val best = micro.groupBy("query_id", "qvec_id", "label")
      .agg(max("micro").as("mx"))
    val scored = best.groupBy("query_id", "label")
      .agg(sum("mx").as("score_micro"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score_micro").desc, col("label"))).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("label").cast("long").as("label"),
        col("score_micro"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** Oracle: same micro-unit quantization, same max-then-sum fold —
    * both integer-exact, so MaxSim scores match bit-for-bit.
    */
  val q209Sql: String =
    raw"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
qt AS (SELECT vec_id // 4 AS query_id, vec_id AS qvec_id, v AS qv FROM e WHERE vec_id < 8),
d AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 8),
m AS (SELECT qt.query_id, qt.qvec_id, d.label,
             CAST(round(${cosSql("d.v", "qt.qv")} * 1000000.0) AS BIGINT) AS micro
      FROM d CROSS JOIN qt),
best AS (SELECT query_id, qvec_id, label, max(micro) AS mx FROM m GROUP BY 1, 2, 3),
s AS (SELECT query_id, label, sum(mx) AS score_micro FROM best GROUP BY 1, 2),
r AS (SELECT query_id, CAST(label AS BIGINT) AS label, CAST(score_micro AS BIGINT) AS score_micro,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, label) AS BIGINT) AS rnk
      FROM s)
SELECT query_id, label, score_micro, rnk FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"""

  /** MATRYOSHKA (prefix-dimension) ANN — the MRL serving pattern
    * (Kusupati et al., NeurIPS 2022): embeddings trained so every
    * PREFIX of the vector is itself a valid lower-dim embedding let
    * the screen read only the first 16 of 64 dims (4× less scan
    * bandwidth; in a columnar layout the prefix is its own column
    * chunk), rank by the prefix cosine, and pay the full-dimension
    * exact cosine only for the top-20 survivors. Both stages round to
    * 6 decimals BEFORE ordering (the catalog's cross-engine sort
    * convention), and both tie-break on vec_id.
    */
  def q210_matryoshka_ann(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.{normF32, roundedCosine}
    val e = emb(s, dir)
    val withPrefix = e.select(col("vec_id"), col("embedding"),
      slice(col("embedding"), 1, 16).as("prefix"))
    val queries = withPrefix.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("prefix").as("qprefix"), normF32(col("prefix")).as("__qpn"))
    val screen = withPrefix.select(col("vec_id"), col("prefix"),
        normF32(col("prefix")).as("__pn"))
      .crossJoin(broadcast(queries.select("query_id", "qprefix", "__qpn")))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        roundedCosine(col("prefix"), col("qprefix"), col("__pn"), col("__qpn")).as("prefix_sim"))
    Similarity.rerankScreen(screen, "prefix_sim", e, queries, screenK = 20, k = 10)
  }

  /** Oracle: prefix cosine over dims 1..16 (rounded 6 before the
    * top-20 cut, same tiebreak), then the full-dim rounded re-rank.
    */
  val q210Sql: String = {
    val prefCos =
      raw"""round(list_sum(list_transform(range(1, 17), i -> e.v[i] * q.qv[i]))
 / (sqrt(list_sum(list_transform(range(1, 17), i -> e.v[i] * e.v[i])))
  * sqrt(list_sum(list_transform(range(1, 17), i -> q.qv[i] * q.qv[i])))), 6)"""
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
s AS (SELECT q.query_id, e.vec_id, $prefCos AS prefix_sim
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
t AS (SELECT query_id, vec_id, prefix_sim FROM (
        SELECT query_id, vec_id, prefix_sim,
               row_number() OVER (PARTITION BY query_id ORDER BY prefix_sim DESC, vec_id) AS rn FROM s)
      WHERE rn <= 20),
r AS (SELECT t.query_id, t.vec_id, t.prefix_sim, ${cosSql("e.v", "q.qv")} AS cosine_sim
      FROM t JOIN e ON e.vec_id = t.vec_id JOIN q ON q.query_id = t.query_id),
f AS (SELECT query_id, vec_id, prefix_sim, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS BIGINT) AS rnk
      FROM r)
SELECT query_id, vec_id, prefix_sim, cosine_sim, rnk FROM f WHERE rnk <= 10 ORDER BY query_id, rnk"""
  }

  /** CDC-DRIVEN INCREMENTAL INDEX MAINTENANCE — the composition that
    * keeps a vector index CURRENT from a change feed without retrain
    * or rebuild (q197's CDF semantics applied to q191's append path and
    * q202's masking path, with the UPDATE case — the hard one — done
    * right): a change batch carries inserts, updates and deletes;
    * inserts and updated NEW versions are assigned under the SAVED,
    * FROZEN centroids and appended as revision-1 codes (O(delta));
    * deleted ids and updated ids' revision-0 rows leave the LIVENESS
    * set (an O(changes) mask — the codes table is never rewritten, so
    * an updated vector's STALE embedding still sits in the codes table
    * and must never surface). Serving pre-filters the probed codes
    * through the (vec_id, rev) liveness pairs (q195/q202 semantics).
    *
    * The contract under the hash: incremental maintenance ==
    * rebuild-from-final-state. Per-row nearest-centroid assignment
    * under frozen centroids is identical whether a row arrives in the
    * base or in a delta, so the oracle simply REBUILDS: it constructs
    * the post-change logical table (base − deletes − stale versions +
    * inserts + new versions), assigns it under the base-trained
    * hash-init centroids, and replays the probe. Audit rows pin the
    * liveness cardinalities per revision, so a leaked stale row fails
    * the gate even when no stale vector happens to reach a top-10.
    * Scale: delta assignment is O(batch)·k, the mask is
    * delete/update-scale and broadcastable, the full re-index moves to
    * the compaction cadence — the q205/q201 economics for vectors.
    */
  def q216_cdc_index_maint(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val base = e.filter(col("vec_id") >= 25).withColumn("rev", lit(0L))
    val model = IvfIndex.initHash(base, 16)
    val codesBase = IvfIndex.assign(base, model) // the saved index
    // the change batch: 5 inserts, 5 updates (new embedding = vector
    // id+100's payload — a deterministic "re-embedding"), 5 deletes
    val inserts = e.filter(col("vec_id").between(5, 9))
    val updNew = e.filter(col("vec_id").between(125, 129))
      .select((col("vec_id") - 100).as("vec_id"), col("embedding"), col("label"))
    val deletedOrStale = (25L to 34L) // updated ids 25-29 (stale rev 0) + deleted 30-34
    val delta = inserts.unionByName(updNew).withColumn("rev", lit(1L))
    val codesDelta = IvfIndex.assign(delta, model) // frozen centroids, O(delta)
    val codes = codesBase.unionByName(codesDelta)
    val live = codesBase.filter(!col("vec_id").isInCollection(deletedOrStale))
      .select(col("vec_id"), col("rev"))
      .unionByName(delta.select(col("vec_id"), col("rev")))
    val qualifying = codes.join(live, Seq("vec_id", "rev"), "left_semi")
    val queries = panel(e, 5)
    val served = IvfIndex.annTopK(qualifying, queries, model, k = 10, nprobe = 4)
    val audit = qualifying.groupBy("rev").agg(count(lit(1)).as("n_live"))
      .select(lit(-1L).as("query_id"), col("rev").as("vec_id"),
        lit(null).cast("double").as("cosine_sim"), col("n_live").as("rnk"))
    served.select("query_id", "vec_id", "cosine_sim", "rnk").union(audit)
      .orderBy("query_id", "rnk")
  }

  /** Oracle: REBUILD from the post-change state — base-seeded
    * centroids (hash-init over vec_id >= 25), the final logical table
    * spelled as three UNIONs, one-shot assignment, the q34-form probe,
    * plus the two per-revision liveness counts.
    */
  val q216Sql: String =
    raw"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
base AS (SELECT vec_id, v FROM e WHERE vec_id >= 25),
seeds AS (SELECT vec_id, v,
                 row_number() OVER (ORDER BY ((vec_id % $IdHashP) * $IdHashA + $IdHashB) % $IdHashP, vec_id) AS rk
          FROM base),
c AS (SELECT rk - 1 AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cn FROM seeds WHERE rk <= 16),
final AS (SELECT vec_id, v, 0 AS rev FROM e WHERE vec_id >= 35
          UNION ALL SELECT vec_id, v, 1 AS rev FROM e WHERE vec_id >= 5 AND vec_id < 10
          UNION ALL SELECT vec_id - 100 AS vec_id, v, 1 AS rev FROM e WHERE vec_id >= 125 AND vec_id < 130),
scores AS (SELECT f.vec_id, f.v, c.cid,
                  c.cn - 2.0 * list_sum(list_transform(range(1, len(f.v) + 1), i -> f.v[i] * c.cv[i])) AS s
           FROM final f, c),
assign AS (SELECT vec_id, v, cid AS cluster FROM (
             SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
             FROM scores) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
qs AS (SELECT q.query_id, q.qv, c.cid,
              c.cn - 2.0 * list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cv[i])) AS s
       FROM q, c),
probes AS (SELECT query_id, qv, cid AS cluster FROM (
             SELECT query_id, qv, cid, row_number() OVER (PARTITION BY query_id ORDER BY s, cid) AS rn
             FROM qs) WHERE rn <= 4),
cand AS (SELECT p.query_id, a.vec_id, ${cosSql("a.v", "p.qv")} AS cosine_sim
         FROM probes p JOIN assign a ON a.cluster = p.cluster
         WHERE a.vec_id <> p.query_id),
served AS (SELECT query_id, vec_id, cosine_sim,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS BIGINT) AS rnk
           FROM cand),
audit AS (SELECT CAST(-1 AS BIGINT) AS query_id, CAST(rev AS BIGINT) AS vec_id,
                 CAST(NULL AS DOUBLE) AS cosine_sim, count(*) AS rnk
          FROM final GROUP BY rev)
SELECT query_id, vec_id, cosine_sim, rnk FROM served WHERE rnk <= 10
UNION ALL SELECT query_id, vec_id, cosine_sim, rnk FROM audit
ORDER BY query_id, rnk"""
}
