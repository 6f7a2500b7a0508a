package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dedup.Dedup
import graft.text.{Bpe, Text}

/** Text / word-count queries: the reference's own surface (SURVEY.md §2.D
  * Q1–Q6) plus the text-analysis extensions (Q18, Q22–Q24).
  *
  * Every oracle uses the exact tokenizer semantics of the reference
  * (worker.rs:26-31): `[^A-Za-z]`→space, split on whitespace, drop empty,
  * case-sensitive. DuckDB `regexp_replace` needs the explicit 'g' flag to
  * match Spark's replace-all default.
  */
object QueriesText {
  /** DuckDB fragment: array of non-empty tokens of `documents.text`. */
  val ToksSql: String =
    raw"""list_filter(regexp_split_to_array(regexp_replace(text, '[^A-Za-z]', ' ', 'g'), '\s+'), t -> t <> '')"""

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  def q01_wordcount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  val q01Sql: String =
    raw"""SELECT word, count(*) AS cnt
FROM (SELECT unnest($ToksSql) AS word FROM documents)
GROUP BY word ORDER BY word"""

  def q02_top_words(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(100)

  val q02Sql: String =
    raw"""SELECT word, count(*) AS cnt
FROM (SELECT unnest($ToksSql) AS word FROM documents)
GROUP BY word ORDER BY cnt DESC, word LIMIT 100"""

  def q03_doc_tokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      .orderBy("doc_id")

  val q03Sql: String =
    raw"""SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
FROM (SELECT doc_id, $ToksSql AS toks FROM documents)
ORDER BY doc_id"""

  def q04_distinct_words(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .distinct()
      .orderBy("word")

  val q04Sql: String =
    raw"""SELECT DISTINCT word FROM (SELECT unnest($ToksSql) AS word FROM documents) ORDER BY word"""

  def q05_cross_source_words(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(countDistinct("source").as("n_sources"))
      .filter(col("n_sources") >= 2)
      .orderBy("word")

  val q05Sql: String =
    raw"""SELECT word, count(DISTINCT source) AS n_sources
FROM (SELECT source, unnest($ToksSql) AS word FROM documents)
GROUP BY word HAVING count(DISTINCT source) >= 2 ORDER BY word"""

  def q06_token_length_hist(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy(length(col("word")).cast("long").as("token_len"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("token_len")

  val q06Sql: String =
    raw"""SELECT length(word) AS token_len, count(*) AS cnt
FROM (SELECT unnest($ToksSql) AS word FROM documents)
GROUP BY token_len ORDER BY token_len"""

  def q18_lang_stats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"), col("n_chars"), size(Text.tokens(col("text"))).as("n_toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        avg("n_chars").as("avg_chars"),
        avg("n_toks").as("avg_tokens"))
      .orderBy("lang")

  val q18Sql: String =
    raw"""SELECT lang, count(*) AS n_docs, avg(n_chars) AS avg_chars, avg(len($ToksSql)) AS avg_tokens
FROM documents GROUP BY lang ORDER BY lang"""

  def q22_lang_id(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        Text.languageId(Text.tokens(col("text"))).as("pred_lang"),
        col("lang"))
      .orderBy("doc_id")

  val q22Sql: String =
    raw"""WITH t AS (
  SELECT doc_id, lang,
         len(list_filter($ToksSql, w -> list_contains(['the', 'a', 'and', 'of', 'is'], w))) AS ns
  FROM documents)
SELECT doc_id,
       CASE WHEN ns >= 4 THEN 'en' WHEN ns >= 2 THEN 'en_low' ELSE 'unknown' END AS pred_lang,
       lang
FROM t ORDER BY doc_id"""

  def q23_quality_score(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
    val nTok = size(toks).cast("long")
    val nStop = Text.markerCount(toks, Text.EnglishMarkers)
    docs(s, dir)
      .select(col("doc_id"), col("n_chars"), alpha.as("alpha"), nTok.as("n_tokens"), nStop.as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_chars") === 0, 0.0)
          .otherwise(col("alpha").cast("double") / col("n_chars")).as("alpha_ratio"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("alpha").cast("double") / col("n_tokens")).as("avg_tok_len"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("alpha_ratio"), 6).as("alpha_ratio"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        round(col("alpha_ratio") * 0.4
          + least(col("avg_tok_len") / 10.0, lit(1.0)) * 0.3
          + (lit(1.0) - col("stopword_ratio")) * 0.3, 6).as("quality"))
      .orderBy("doc_id")
  }

  val q23Sql: String =
    raw"""WITH t AS (
  SELECT doc_id, n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         len($ToksSql) AS n_tokens,
         len(list_filter($ToksSql, w -> list_contains(['the', 'a', 'and', 'of', 'is'], w))) AS n_stop
  FROM documents),
r AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_chars END AS alpha_ratio,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stopword_ratio,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_tokens END AS avg_tok_len
  FROM t)
SELECT doc_id, n_tokens, round(alpha_ratio, 6) AS alpha_ratio, round(stopword_ratio, 6) AS stopword_ratio,
       round(alpha_ratio * 0.4 + least(avg_tok_len / 10.0, 1.0) * 0.3 + (1.0 - stopword_ratio) * 0.3, 6) AS quality
FROM r ORDER BY doc_id"""

  /** Top-50 token bigrams — n-gram generation via the shingle machinery. */
  def q33_bigram_counts(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(graft.text.Text.shinglesAll(graft.text.Text.tokens(col("text")), 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(50)

  val q33Sql: String =
    raw"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
bg AS (SELECT array_to_string(t[i:i+1], ' ') AS bigram
       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2))
SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50"""

  def q24_token_count(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        Text.bpeishTokenCount(col("text")).as("n_bpe_tokens"),
        size(filter(split(col("text"), "\\s+"), t => t =!= lit(""))).cast("long").as("n_ws_tokens"))
      .orderBy("doc_id")

  val q24Sql: String =
    raw"""SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
       len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS n_ws_tokens
FROM documents ORDER BY doc_id"""

  /** Repetition quality signal (the Gopher/C4-family "repeated n-gram
    * fraction" filter): per document, 1 − distinct/total word trigrams.
    * Uses the single-pass native shingler WITH multiplicity; the whole
    * query is a narrow per-row projection — zero shuffles, a pure map at
    * any scale. rep_ratio is a ratio of exact integers evaluated in
    * double the same way on both engines, so no rounding is needed.
    */
  def q52_repetition_score(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), Text.shinglesAll(Text.tokens(col("text")), 3).as("tri"))
      .where(size(col("tri")) > 0)
      .select(col("doc_id"),
        size(col("tri")).cast("long").as("n_trigrams"),
        size(array_distinct(col("tri"))).cast("long").as("n_distinct"),
        (lit(1.0) - size(array_distinct(col("tri"))).cast("double")
          / size(col("tri")).cast("double")).as("rep_ratio"))
      .orderBy("doc_id")

  /** TF-IDF top-3 keywords per document — the classic keyword-extraction
    * / relevance-weighting pass. Term frequencies and document
    * frequencies are exact integers from two keyed aggregations (both
    * partial-aggregated, shuffle keys are words/ids, never text); the
    * only float is ln(N/df), computed from the same exact integers on
    * both engines and rounded before the rank tie-break on the word.
    * The per-document top-3 is a bounded window — at scale the same
    * shape TopKAgg covers for kNN.
    */
  def q73_tfidf_keywords(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs(s, dir).count() // one scalar; the plan stays distributed
    val scored = tf.join(df, Seq("word"))
      .select(col("doc_id"), col("word"), col("tf"),
        round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3).withColumn("rank", col("rank").cast("long"))
      .filter(col("score") > 0)
      .orderBy("doc_id", "rank")
  }

  val q73Sql: String =
    raw"""WITH tf AS (
  SELECT doc_id, word, count(*) AS tf
  FROM (SELECT doc_id, unnest($ToksSql) AS word FROM documents) GROUP BY doc_id, word),
df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, word, tf, round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
  FROM tf JOIN df USING (word) CROSS JOIN n),
r AS (SELECT doc_id, word, tf, score,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS BIGINT) AS rank
      FROM scored)
SELECT doc_id, word, tf, score, rank FROM r
WHERE rank <= 3 AND score > 0 ORDER BY doc_id, rank"""

  val q52Sql: String =
    raw"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
tri AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(count(DISTINCT s) AS BIGINT) AS n_distinct,
       1.0 - CAST(count(DISTINCT s) AS DOUBLE) / count(*) AS rep_ratio
FROM tri GROUP BY doc_id ORDER BY doc_id"""

  /** Count-Min-sketch heavy hitters: a depth-4 × width-256 CMS over the
    * word stream (PortableHash polynomial hash composed with the q16
    * MinHash permutation family per row), then the classic point-query
    * estimate — min over the word's 4 cells — for the top-20 words,
    * reported beside the exact count. The sketch is 1,024 cells of
    * partial-summed longs REGARDLESS of corpus size: each partition
    * builds its own and they merge by cell-wise add (here: one keyed agg
    * on (row, cell)), which is exactly why a CMS is the 100-TB frequency
    * sketch — the estimate probe is a broadcast join of the fixed-size
    * sketch. est_cnt ≥ exact_cnt by construction (collisions only add).
    * The tiny synthetic vocabulary makes most estimates exact; the
    * OPERATOR under test is the sketch build/merge/probe plan, which the
    * oracle replays cell by cell.
    */
  def q105_cms_heavy(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val depth = 4; val width = 256L
    val wc = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val coords = wc
      .withColumn("h", PortableHash.asciiPolyHash(col("word")))
      .select(col("word"), col("cnt"),
        posexplode(array((0 until depth).map(k =>
          PortableHash.minHashPerm(col("h"), k) % width): _*)))
      .withColumnRenamed("pos", "row").withColumnRenamed("col", "cell")
    val sketch = coords.groupBy("row", "cell").agg(sum("cnt").as("csum"))
    coords.join(broadcast(sketch), Seq("row", "cell"))
      .groupBy("word")
      .agg(min("cnt").as("exact_cnt"), min("csum").as("est_cnt"))
      .orderBy(col("est_cnt").desc, col("word"))
      .limit(20)
      .select(col("word"), col("exact_cnt"), col("est_cnt"))
  }

  val q105Sql: String = {
    import graft.functions.PortableHash
    val ks = (0 until 4).map { k =>
      val (a, b) = PortableHash.minHashCoeffs(k)
      s"($k, $a, $b)"
    }.mkString(", ")
    raw"""WITH wc AS (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest($ToksSql) AS word FROM documents) GROUP BY word),
h AS (SELECT word, cnt, ${QueriesDedup.polyHashSql("word")} AS h FROM wc),
ks(rw, a, b) AS (VALUES $ks),
coords AS (
  SELECT word, cnt, rw, ((h * a + b) % 2147483647) % 256 AS cell
  FROM h CROSS JOIN ks),
sketch AS (SELECT rw, cell, CAST(sum(cnt) AS BIGINT) AS csum
           FROM coords GROUP BY rw, cell)
SELECT word, CAST(min(cnt) AS BIGINT) AS exact_cnt, CAST(min(csum) AS BIGINT) AS est_cnt
FROM coords JOIN sketch USING (rw, cell)
GROUP BY word ORDER BY est_cnt DESC, word LIMIT 20"""
  }

  /** BM25 document ranking (Robertson/Sparck Jones; k1=1.2, b=0.75) for
    * a fixed conjunctive query — the retrieval scorer a curation
    * pipeline uses to mine topical subsets, where q73's raw TF-IDF
    * over-rewards long documents.
    *
    * Scale shape: the term filter lands immediately after the token
    * explode, so only query-term postings ever reach a shuffle (three
    * terms' postings, not the corpus vocabulary); df and the corpus
    * length stats are one-row/terms-row broadcasts. Every floating
    * step derives from exact integer counts in a fixed written order;
    * the per-doc sum over <= 3 term scores is the only reorderable
    * float add, 9 orders above the harness's 6-significant-digit floor.
    */
  def q110_bm25(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "hash", "vector")
    val k1 = 1.2; val b = 0.75
    val d = docs(s, dir)
    val dl = d.select(col("doc_id"), size(Text.tokens(col("text"))).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum("dl") / count(lit(1))).as("avgdl"))
    val tf = d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
      .filter(col("word").isin(terms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats)) // one row: corpus size + mean doc length
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("term_score"))
      .groupBy("doc_id")
      .agg(round(sum("term_score"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(15)
  }

  val q110Sql: String =
    raw"""WITH dl AS (SELECT doc_id, CAST(len($ToksSql) AS DOUBLE) AS dl FROM documents),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, sum(dl) / count(*) AS avgdl FROM dl),
tf AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
       FROM (SELECT doc_id, unnest($ToksSql) AS word FROM documents)
       WHERE word IN ('join', 'hash', 'vector') GROUP BY doc_id, word),
df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY word),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1)) /
           (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)) AS term_score
  FROM tf JOIN df USING (word) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats)
SELECT doc_id, round(sum(term_score), 6) AS bm25
FROM scored GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 15"""

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009,
    * ICML): tokens map to a fixed 512-dim index space via the portable
    * polynomial hash, with a hash-bit sign so collisions cancel in
    * expectation instead of accumulating. Per-document summary of the
    * resulting sparse vector (dimensionality, L2 norm, peak weight).
    *
    * Scale shape: a pure narrow projection into (doc, idx, sign) plus
    * one partial-aggregated groupBy — the vectorizer never materializes
    * a dense 512-wide row, and the shuffle key is (doc_id, idx), never
    * text. This is how a 100 TB corpus becomes fixed-width features
    * with zero vocabulary state (no dictionary to build, ship, or
    * version — the property that makes the trick deployable).
    */
  def q113_feature_hashing(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val h = PortableHash.asciiPolyHash(col("tok"))
    val feat = docs(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), (h % 512).as("idx"),
        when((h.divide(lit(512)).cast("long")) % 2 === 0, 1L).otherwise(-1L).as("sgn"))
      .groupBy("doc_id", "idx").agg(sum("sgn").as("w"))
      .filter(col("w") =!= 0)
    feat.groupBy("doc_id")
      .agg(count(lit(1)).as("n_features"),
        round(sqrt(sum(col("w") * col("w"))), 6).as("l2"),
        max(abs(col("w"))).as("max_abs_w"))
      .orderBy("doc_id")
  }

  val q113Sql: String = {
    val ph = QueriesDedup.polyHashSql("tok")
    raw"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
h AS (SELECT doc_id, $ph AS hv FROM toks),
feat AS (SELECT doc_id, hv % 512 AS idx,
                CASE WHEN (hv // 512) % 2 = 0 THEN 1 ELSE -1 END AS sgn
         FROM h),
w AS (SELECT doc_id, idx, CAST(sum(sgn) AS BIGINT) AS w FROM feat GROUP BY doc_id, idx),
nz AS (SELECT * FROM w WHERE w <> 0)
SELECT doc_id, count(*) AS n_features,
       round(sqrt(CAST(sum(w * w) AS DOUBLE)), 6) AS l2,
       CAST(max(abs(w)) AS BIGINT) AS max_abs_w
FROM nz GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Perplexity-style quality scoring with a corpus-trained bigram LM
    * (the CCNet/C4 "LM filter" pattern, with the corpus itself as the
    * reference model): P(w2 | w1) is add-one-smoothed over the corpus
    * bigram table, each document scores its mean token-transition log
    * probability, and the 20 least-likely documents surface — the ones
    * a perplexity gate would drop as gibberish relative to the corpus
    * distribution.
    *
    * Scale shape: bigram extraction is a narrow slice/zip projection
    * (no self-join); the model tables are keyed groupBys; scoring joins
    * instances to counts on (w1, w2) and w1 — word keys, never text.
    * The vocabulary size is the one scalar broadcast row. Every ln
    * argument is a ratio of exact integers in a fixed order; only the
    * per-doc mean is a reorderable float sum, rounded at 6 with ~9
    * orders of headroom.
    */
  def q114_bigram_logprob(s: SparkSession, dir: String): DataFrame =
    bigramDocScores(docs(s, dir))
      .orderBy(col("avg_logprob"), col("doc_id"))
      .limit(20)

  /** Per-doc add-one-smoothed bigram-LM average log-probability over any
    * (doc_id, text) frame — q114's scorer factored out so the CCNet
    * perplexity-bucketing entry (q183) can run it corpus-wide. Docs
    * with fewer than 2 tokens score nothing (no bigram evidence).
    */
  def bigramDocScores(d: DataFrame): DataFrame = {
    val t = Text.tokens(col("text"))
    val pairs = arrays_zip(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1))
    val inst = d
      .where(size(t) >= 2) // slice length must be non-negative
      .select(col("doc_id"), explode(pairs).as("bg"))
      .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
    val c2 = inst.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = inst.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = d
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .agg(countDistinct("tok").cast("double").as("v"))
    inst.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab)) // one row: |V|
      .select(col("doc_id"),
        log((col("c2") + lit(1.0)) / (col("c1") + col("v"))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("lp"), 6).as("avg_logprob"))
  }

  val q114Sql: String =
    raw"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
inst AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
         FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM inst GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM inst GROUP BY w1),
vocab AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
          FROM (SELECT unnest($ToksSql) AS tok FROM documents)),
scored AS (SELECT inst.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + v)) AS lp
           FROM inst JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab)
SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logprob
FROM scored GROUP BY doc_id ORDER BY avg_logprob, doc_id LIMIT 20"""

  /** Sparse TF-IDF cosine similarity join — the SPARSE counterpart to
    * the dense ANN family (q17/q119/q121/q122): document vectors live
    * in term space, candidates come from the inverted-index equi-join
    * on shared terms (df-capped, q54's boilerplate guard — a term in
    * hundreds of docs is a stopword-shaped hot key, exactly what turns
    * the term self-join quadratic at 100 TB), and similarity is cosine
    * over the df-capped vocabulary.
    *
    * Determinism across engines is by construction, the q121 trick:
    * weights are FIXED-POINT — w = round(tf · ln((N+1)/(df+1)) ·
    * 10000) as an integer — so the dot product and squared norms are
    * exact integer sums (no float accumulation order anywhere; the
    * weight magnitudes keep Σw² far below 2⁶³), and only the final
    * cosine division happens in doubles, as one identical expression
    * on both sides, rounded to 6 before the threshold and ordering.
    */
  def q124_sparse_cosine(s: SparkSession, dir: String): DataFrame = {
    val tau = 0.6
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val nDocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    // df cap scales with the corpus (the "term in >10% of docs is a
    // stopword" rule, floored for tiny fixtures): an absolute cap
    // degenerates at scale — at 10× the gate corpus it had emptied the
    // usable vocabulary. But the RELATIVE cap alone is only a stopword
    // filter, not a work bound: per-term pair output is O(df²), so a
    // term sitting just under n/10 on a big corpus is quadratic
    // anyway — the round-12 32× reference caught exactly this (32
    // replica-marker tokens at df 5 000 each slipped under the 16 000
    // cap and cost 1 320 s of 400 M intermediate pairs; the 8× cap of
    // 4 000 had excluded them). The ceiling bounds per-term pair work
    // at ≤ 2 000²/2 regardless of corpus size — the standard stop-term
    // treatment in set-similarity joins. It binds nothing below 20 000
    // docs, so every gate-scale result is unchanged.
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= greatest(lit(50L),
        least(expr("n_docs div 10"), lit(2000L))))
      .select("term", "df")
    val wt = tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nDocs)) // one row: corpus size
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double")
          * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) * lit(10000.0))
          .cast("long").as("w"))
    val norms = wt.groupBy("doc_id").agg(sum(col("w") * col("w")).as("ss"))
    val dot = wt.as("a")
      .join(wt.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
    dot
      .join(norms.select(col("doc_id").as("doc_id_a"), col("ss").as("ssa")), Seq("doc_id_a"))
      .join(norms.select(col("doc_id").as("doc_id_b"), col("ss").as("ssb")), Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        round(col("dot").cast("double")
          / (sqrt(col("ssa").cast("double")) * sqrt(col("ssb").cast("double"))), 6)
          .as("cosine_sim"))
      .filter(col("cosine_sim") >= tau)
      .orderBy("doc_id_a", "doc_id_b")
  }

  val q124Sql: String =
    raw"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest($ToksSql) AS term FROM documents)
           GROUP BY doc_id, term),
nd AS (SELECT count(*) AS n_docs FROM documents),
dfreq AS (SELECT term, df FROM (SELECT term, count(*) AS df FROM tf GROUP BY term) x, nd
          WHERE df <= greatest(50, least(n_docs // 10, 2000))),
wt AS (SELECT tf.doc_id, tf.term,
              CAST(round(CAST(tf.tf AS DOUBLE) * ln((nd.n_docs + 1.0) / (dfreq.df + 1.0)) * 10000.0) AS BIGINT) AS w
       FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS ss FROM wt GROUP BY doc_id),
dt AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, CAST(sum(a.w * b.w) AS BIGINT) AS dot
       FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
r AS (SELECT dt.doc_id_a, dt.doc_id_b,
             round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))), 6) AS cosine_sim
      FROM dt JOIN norms na ON na.doc_id = dt.doc_id_a JOIN norms nb ON nb.doc_id = dt.doc_id_b)
SELECT doc_id_a, doc_id_b, cosine_sim FROM r WHERE cosine_sim >= 0.6 ORDER BY doc_id_a, doc_id_b"""

  /** BPE merge mining — the first decision of byte-pair-encoding tokenizer
    * training, at corpus scale: corpus word frequencies, then every
    * adjacent character pair inside each word weighted by the word's
    * frequency, ranked by total count. The top row IS the first BPE merge;
    * the full ranking is the candidate table a trainer consumes each
    * round (Sennrich et al. 2016). The iterative trainer itself (merge →
    * re-tokenize → recount, a driver loop like q41's Lloyd rounds) is
    * `text/Bpe.scala`, exact-verified in BpeSpec against a hand-computed
    * fixture; this catalog entry oracle-checks the corpus-scale counting
    * plan that dominates its cost.
    *
    * Scale shape: word frequencies partial-aggregate before the shuffle
    * (the word-count plan); pairs explode from the DISTINCT word table —
    * vocabulary-sized, not corpus-sized — so pair counting is
    * O(vocab × avg_len) regardless of corpus row count.
    */
  def q132_bpe_pairs(s: SparkSession, dir: String): DataFrame = {
    val wf = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val cs = filter(split(col("w"), ""), c => c =!= lit(""))
    wf.filter(length(col("w")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(1), size(cs) - 1),
          i => struct(element_at(cs, i).as("left_sym"), element_at(cs, i + 1).as("right_sym"))))
          .as("p"))
      .groupBy(col("p.left_sym").as("left_sym"), col("p.right_sym").as("right_sym"))
      .agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("left_sym"), col("right_sym"))
      .limit(25)
  }

  val q132Sql: String =
    raw"""WITH wf AS (SELECT w, count(*) AS freq
           FROM (SELECT unnest($ToksSql) AS w FROM documents) GROUP BY w),
p AS (SELECT w, freq, unnest(range(1, length(w))) AS i FROM wf WHERE length(w) >= 2),
pr AS (SELECT substr(w, CAST(i AS INTEGER), 1) AS left_sym,
              substr(w, CAST(i AS INTEGER) + 1, 1) AS right_sym, freq
       FROM p)
SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS cnt
FROM pr GROUP BY left_sym, right_sym
ORDER BY cnt DESC, left_sym, right_sym LIMIT 25"""

  /** Context-window chunking — the sequence-prep step between a cleaned
    * corpus and a trainer: each document's token stream is cut into
    * windows of 64 tokens with stride 48 (16-token overlap so no span is
    * ever split without context), the way long documents are sharded
    * into model context windows for pretraining and RAG indexing. Emits
    * one row per chunk with its token count and a portable content
    * checksum, so downstream stages (and the oracle) can verify chunk
    * boundaries byte-exactly.
    *
    * Scale shape: chunking is a per-row projection (sequence/transform/
    * slice over the in-memory token array) followed by one explode — no
    * shuffle at all until a downstream consumer groups; the output
    * carries hashes and counts, never chunk text, so nothing wide moves.
    * chunk count = 1 + ceil(max(0, n_tokens − 64) / 48): the final
    * window is short rather than padded, and a sub-stride tail never
    * spawns a fully-contained extra chunk.
    */
  def q133_chunk_docs(s: SparkSession, dir: String): DataFrame = {
    val W = 64
    val S = 48
    val n = size(col("t"))
    val nChunks = lit(1) +
      greatest(lit(0L), ceil((n - lit(W)).cast("double") / S).cast("long"))
    val chunks = transform(sequence(lit(0L), nChunks - 1), i => {
      val st = i * S
      val ln = least(lit(W.toLong), n - st)
      struct(i.as("chunk_idx"), ln.cast("long").as("n_chunk_tokens"),
        graft.functions.PortableHash.asciiPolyHash(
          concat_ws(" ", slice(col("t"), st + 1, ln))).as("chunk_hash"))
    })
    docs(s, dir).select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.n_chunk_tokens"), col("c.chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  val q133Sql: String =
    raw"""WITH t AS (SELECT doc_id, $ToksSql AS tk FROM documents),
c AS (SELECT doc_id, tk,
             unnest(range(0, 1 + greatest(0, CAST(ceil((len(tk) - 64) / 48.0) AS BIGINT)))) AS ci
      FROM t),
s AS (SELECT doc_id, ci, least(64, len(tk) - ci * 48) AS nct,
             array_to_string(list_slice(tk, ci * 48 + 1, ci * 48 + least(64, len(tk) - ci * 48)), ' ') AS chunk
      FROM c)
SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx, CAST(nct AS BIGINT) AS n_chunk_tokens,
       ${QueriesDedup.polyHashSql("chunk")} AS chunk_hash
FROM s ORDER BY doc_id, chunk_idx"""

  /** Hybrid retrieval via reciprocal-rank fusion (Cormack et al., SIGIR
    * 2009): per query, the lexical BM25 ranking (q110's scorer) and the
    * dense cosine ranking (q26's bounded-heap kNN over the query's
    * embedding) are fused by score = Σ 1/(60 + rank) over the lists that
    * retrieved the doc — the standard way modern retrieval stacks
    * combine a keyword index with a vector index without score
    * calibration (ranks, not raw scores, are what's comparable).
    *
    * Scale shape: each ranker keeps its own scale-correct plan — the
    * BM25 side filters postings to the query-panel terms BEFORE any
    * shuffle (nine terms' postings, not the vocabulary) and the dense
    * side is the broadcast-panel bounded-heap kNN — and the fusion is a
    * full-outer join of two O(queries × k) rank lists, metadata-sized
    * no matter the corpus. Rank lists are capped at 20 per ranker, so a
    * doc outside both top-20s can never enter the fused top-10 (RRF on
    * capped lists is how production systems bound the fusion input).
    */
  def q139_hybrid_rrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.TopKAgg
    import s.implicits._
    val termRows: Seq[(Long, String)] = Seq(
      0L -> "join", 0L -> "hash", 0L -> "vector",
      1L -> "sort", 1L -> "merge", 1L -> "scan",
      2L -> "stream", 2L -> "window", 2L -> "batch")
    val qterms = termRows.toDF("query_id", "word")
    val allTerms = termRows.map(_._2).distinct
    val k1 = 1.2; val b = 0.75
    val d = docs(s, dir)
    val dl = d.select(col("doc_id"), size(Text.tokens(col("text"))).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum("dl") / count(lit(1))).as("avgdl"))
    val tf = d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
      .filter(col("word").isin(allTerms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).cast("double").as("tf"))
    val df_ = tf.groupBy("word").agg(count(lit(1)).cast("double").as("df"))
    val bm25 = tf.join(broadcast(df_), Seq("word"))
      .join(broadcast(qterms), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats)) // one row: corpus size + mean doc length
      .select(col("query_id"), col("doc_id"),
        (log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("term_score"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("term_score"), 6).as("bm25"))
    val bmRank = TopKAgg.topKRows(bm25, Seq(col("query_id")), "bm25", "doc_id", 20)
      .select(col("query_id"), col("doc_id"), col("rnk").as("bm25_rnk"))
    val e = Tables(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val dense = graft.sim.Similarity.knnJoinAgg(e, queries, k = 20)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rnk").as("dense_rnk"))
    val fused = bmRank.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("bm25_rnk"), lit(0L)).as("bm25_rnk"),
        coalesce(col("dense_rnk"), lit(0L)).as("dense_rnk"),
        round(
          when(col("bm25_rnk").isNotNull, lit(1.0) / (lit(60.0) + col("bm25_rnk")))
            .otherwise(lit(0.0)) +
          when(col("dense_rnk").isNotNull, lit(1.0) / (lit(60.0) + col("dense_rnk")))
            .otherwise(lit(0.0)), 6).as("rrf"))
    TopKAgg.topKRows(fused, Seq(col("query_id")), "rrf", "doc_id", 10)
      .select("query_id", "doc_id", "rnk")
      .join(fused, Seq("query_id", "doc_id"))
      .select(col("query_id"), col("doc_id"), col("bm25_rnk"), col("dense_rnk"),
        col("rrf"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  val q139Sql: String =
    raw"""WITH dl AS (SELECT doc_id, CAST(len($ToksSql) AS DOUBLE) AS dl FROM documents),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, sum(dl) / count(*) AS avgdl FROM dl),
qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, word FROM (VALUES
        (0, 'join'), (0, 'hash'), (0, 'vector'),
        (1, 'sort'), (1, 'merge'), (1, 'scan'),
        (2, 'stream'), (2, 'window'), (2, 'batch')) t(query_id, word)),
tf AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
       FROM (SELECT doc_id, unnest($ToksSql) AS word FROM documents)
       WHERE word IN ('join', 'hash', 'vector', 'sort', 'merge', 'scan', 'stream', 'window', 'batch')
       GROUP BY doc_id, word),
df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY word),
bm AS (SELECT qt.query_id, tf.doc_id, round(sum(
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1)) /
           (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))), 6) AS bm25
       FROM tf JOIN df USING (word) JOIN qt USING (word)
       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
       GROUP BY qt.query_id, tf.doc_id),
br AS (SELECT query_id, doc_id, rn AS bm25_rnk FROM (
         SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
         FROM bm) WHERE rn <= 20),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
ds AS (SELECT q.query_id, e.vec_id AS doc_id,
              round(list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * q.qv[i]))
                / (sqrt(list_sum(list_transform(e.v, x -> x * x))) * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 6) AS cosine_sim
       FROM e, q WHERE e.vec_id <> q.query_id),
dr AS (SELECT query_id, doc_id, rn AS dense_rnk FROM (
         SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, doc_id) AS rn
         FROM ds) WHERE rn <= 20),
fused AS (SELECT coalesce(br.query_id, dr.query_id) AS query_id,
                 coalesce(br.doc_id, dr.doc_id) AS doc_id,
                 CAST(coalesce(br.bm25_rnk, 0) AS BIGINT) AS bm25_rnk,
                 CAST(coalesce(dr.dense_rnk, 0) AS BIGINT) AS dense_rnk,
                 round(coalesce(1.0 / (60.0 + br.bm25_rnk), 0.0)
                     + coalesce(1.0 / (60.0 + dr.dense_rnk), 0.0), 6) AS rrf
          FROM br FULL OUTER JOIN dr ON br.query_id = dr.query_id AND br.doc_id = dr.doc_id),
r AS (SELECT query_id, doc_id, bm25_rnk, dense_rnk, rrf,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
      FROM fused)
SELECT query_id, doc_id, bm25_rnk, dense_rnk, rrf, rnk
FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""

  /** Model-based quality scoring with calibration buckets — the
    * FineWeb-Edu / CCNet "classifier filter" shape: a fixed-weight
    * logistic model over q23's cheap lexical features scores every
    * document, and the report aggregates the score distribution into
    * ten calibration buckets (how a pipeline picks its keep-threshold
    * and monitors drift between crawls). Weights are literals here; a
    * trained model would broadcast its coefficient vector identically.
    *
    * Scale shape: pure per-row projection (the features come from one
    * pass over the text) into a 10-group aggregate — no joins, no
    * wide shuffle, the classic map-side-combine profile. z is rounded
    * before the sigmoid and p before bucketing (the round-before-order
    * rule) so cross-engine libm ulps cannot flip a bucket boundary.
    */
  /** The q140 logit's linear score z as a reusable (doc_id, z) frame —
    * shared by q140's calibration histogram and q174's quality-arg-max
    * exemplar selection, so "quality" means the same number everywhere.
    * z is rounded to 6 places HERE (before any consumer), which is what
    * makes downstream comparisons engine-reproducible.
    */
  private[queries] def qualityZ(d: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
    val nTok = size(toks).cast("long")
    val nStop = Text.markerCount(toks, Text.EnglishMarkers)
    d.select(col("doc_id"), col("n_chars"), alpha.as("alpha"),
        nTok.as("n_tokens"), nStop.as("n_stop"))
      .select(col("doc_id"),
        when(col("n_chars") === 0, 0.0)
          .otherwise(col("alpha").cast("double") / col("n_chars")).as("alpha_ratio"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        least(when(col("n_tokens") === 0, 0.0)
          .otherwise(col("alpha").cast("double") / col("n_tokens")) / 10.0, lit(1.0)).as("len_feat"),
        least(col("n_tokens").cast("double") / 200.0, lit(1.0)).as("size_feat"))
      .withColumn("z", round(lit(-2.0) + lit(3.0) * col("alpha_ratio")
        + lit(2.0) * col("stop_ratio") + lit(1.5) * col("len_feat")
        + lit(0.5) * col("size_feat"), 6))
      .select("doc_id", "z")
  }

  /** The matching DuckDB CTE chain (t, feat, z) producing (doc_id, z)
    * over the (doc_id, text, n_chars) relation `docs` — the fragment form
    * so q140, q174 and q176 splice identical score SQL.
    * A def, not a val: QueriesDedup.q174Sql splices it while QueriesText
    * itself splices QueriesDedup.polyHashSql — a val on either side of
    * that cycle is null during the other object's initialization.
    */
  private[queries] def QualityZSql(docs: String): String =
    raw"""t AS (
  SELECT doc_id, n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         len($ToksSql) AS n_tokens,
         len(list_filter($ToksSql, w -> list_contains(['the', 'a', 'and', 'of', 'is'], w))) AS n_stop
  FROM $docs),
feat AS (
  SELECT doc_id,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_chars END AS alpha_ratio,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stop_ratio,
         least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_tokens END) / 10.0, 1.0) AS len_feat,
         least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) AS size_feat
  FROM t),
z AS (SELECT doc_id, round(-2.0 + 3.0 * alpha_ratio + 2.0 * stop_ratio + 1.5 * len_feat + 0.5 * size_feat, 6) AS z FROM feat)"""

  def q140_quality_logit(s: SparkSession, dir: String): DataFrame = {
    val f = qualityZ(docs(s, dir))
      .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
    f.withColumn("bucket", least(floor(col("p") * 10).cast("long"), lit(9L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("p"), 6).as("avg_p"),
        round(min("z"), 6).as("min_z"),
        round(max("z"), 6).as("max_z"))
      .orderBy("bucket")
  }

  val q140Sql: String =
    raw"""WITH ${QualityZSql("documents")},
p AS (SELECT doc_id, z, round(1.0 / (1.0 + exp(-z)), 6) AS p FROM z),
b AS (SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bucket, z, p FROM p)
SELECT bucket, count(*) AS n_docs, round(avg(p), 6) AS avg_p,
       round(min(z), 6) AS min_z, round(max(z), 6) AS max_z
FROM b GROUP BY bucket ORDER BY bucket"""

  /** Zipf's-law fit of the corpus word-frequency distribution: ordinary
    * least squares of ln(count) on ln(rank) over the ranked vocabulary,
    * reporting slope (the Zipf exponent, ≈ −1 for natural language),
    * intercept, and R². The standard one-number corpus-health check a
    * curation pipeline tracks across crawls — a slope collapsing toward
    * 0 flags boilerplate/template pollution, R² falloff flags a mixed
    * or truncated distribution.
    *
    * Scale shape: the fit runs on the VOCABULARY table (the corpus
    * shuffle is q01's, with map-side combine) — but a web-scale
    * letters-only vocabulary is tens of millions of rows, so the
    * global rank is NOT a corpus-wide `row_number()` window (a
    * one-partition sort — the round-9 verdict's scale finding). It is
    * the two-phase distributed-rank shape instead: range-repartition
    * on the sort key (cnt DESC, word — sampling balances the
    * partitions whatever the frequency distribution; the huge cnt=1
    * tie class splits across partitions by word), rank WITHIN each
    * range partition by window, and add a prefix-summed per-partition
    * offset — an offsets table of ≤ `shuffle.partitions` rows, the
    * only unpartitioned window left. The range input is persisted so
    * the local-rank and offset branches read the SAME materialized
    * partitioning (range bounds are sampled per materialization; two
    * independent recomputes could disagree on the cut points).
    * Double reorder error on the unordered OLS sums is ~1e-13 against
    * a 6-decimal rounding floor — 7 orders of headroom (the q53
    * argument).
    */
  def q141_zipf_fit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val parted = wc
      .repartitionByRange(s.sessionState.conf.numShufflePartitions,
        col("cnt").desc, col("word"))
      .withColumn("__pid", spark_partition_id())
      .persist()
    val local = parted.withColumn("lrn",
      row_number().over(Window.partitionBy("__pid")
        .orderBy(col("cnt").desc, col("word"))).cast("long"))
    val offs = parted.groupBy("__pid").agg(count(lit(1)).as("pn"))
      .withColumn("off", coalesce(
        sum("pn").over(Window.orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "off") // ≤ shuffle.partitions rows — bounded
    val ranked = local.join(broadcast(offs), Seq("__pid"))
      .withColumn("rnk", col("lrn") + col("off"))
    val pts = ranked.select(log(col("rnk").cast("double")).as("x"),
      log(col("cnt").cast("double")).as("y"))
    val mom = pts.agg(count(lit(1)).cast("double").as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    mom.select(col("n").cast("long").as("n_words"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"),
      round(((col("n") * col("sxy") - col("sx") * col("sy")) * (col("n") * col("sxy") - col("sx") * col("sy"))) /
        ((col("n") * col("sxx") - col("sx") * col("sx")) * (col("n") * col("syy") - col("sy") * col("sy"))), 6)
        .as("r2"))
  }

  val q141Sql: String =
    raw"""WITH wc AS (SELECT word, count(*) AS cnt
          FROM (SELECT unnest($ToksSql) AS word FROM documents) GROUP BY word),
rk AS (SELECT word, cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rnk FROM wc),
pts AS (SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y FROM rk),
m AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM pts)
SELECT CAST(n AS BIGINT) AS n_words,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m"""

  /** Tokenizer training AND application at corpus scale: train 5 BPE
    * merges on the corpus vocabulary (`Bpe.train` — the driver-
    * coordinated argmax loop q132 exposes one round of), then encode
    * every document and report its char→BPE-token compression — the
    * end-to-end "train a tokenizer, tokenize the corpus" step of a
    * pretraining pipeline, with the whole loop (not just one round)
    * oracle-checked: the SQL replays all 5 greedy rounds, using the
    * regex identity that leftmost-non-overlapping replace of
    * `[a][b]` ≡ the engine's left-to-right merge fold (BpeSpec's
    * "aaaa" → [aa, aa] semantics).
    *
    * Scale shape: training iterates over the VOCABULARY (corpus-
    * independent cost after q01's word count), and encoding runs the
    * merge fold ONCE per distinct word, broadcast-joined back to
    * occurrences — the corpus-sized pass never executes the fold, it
    * just joins on the word. Per-doc sums are exact integers.
    */
  def q143_bpe_encode(s: SparkSession, dir: String): DataFrame = {
    // per-row word counts (TokenCounts, guide §2.3): one (word, cnt) row
    // per distinct word per doc; freq and the per-doc sums are exact
    // multiplicity-weighted equivalents of the per-occurrence spelling
    val occ = docs(s, dir)
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.TokenCounts.counts(Text.tokens(col("text")))).as("e"))
      .select(col("doc_id"), col("e.word").as("word"), col("e.cnt").as("cnt"))
    val vocab = occ.groupBy("word").agg(sum("cnt").as("freq"))
    val merges = Bpe.train(vocab, rounds = 5)
    val enc = vocab.select(col("word"),
      size(Bpe.encode(Bpe.initialSymbols(col("word")), merges)).cast("long").as("n_syms"))
    occ.join(broadcast(enc), Seq("word"))
      .groupBy("doc_id")
      .agg(sum(length(col("word")) * col("cnt")).cast("long").as("n_chars"),
        sum(col("n_syms") * col("cnt")).cast("long").as("n_bpe"))
      .withColumn("compression",
        round(col("n_chars").cast("double") / col("n_bpe"), 6))
      .orderBy("doc_id")
  }

  /** One SQL BPE round: argmax adjacent pair (weighted by word freq,
    * ties cnt DESC then (a, b) lexicographic — exactly Bpe.train's
    * orderBy), then the bracket-delimited regex merge. Symbols are
    * `[A-Za-z]+` so `[`/`]` are safe delimiters, and regexp_replace's
    * leftmost-non-overlapping 'g' scan is the exact twin of
    * Bpe.applyMerge's left-to-right fold. The LEFT JOIN ON TRUE mirrors
    * Bpe.train's early-stop: when merge pairs exhaust before the pinned
    * rounds (m$n empty), words pass through unchanged instead of the
    * cross join blanking the vocabulary.
    */
  private[queries] def bpeRoundSql(n: Int, p: Int): String =
    raw"""e$n AS (SELECT freq, regexp_extract_all(s, '\[([A-Za-z]+)\]', 1) AS sy, s FROM w$p),
p$n AS (SELECT sy[i] AS a, sy[i + 1] AS b, sum(freq) AS cnt
        FROM (SELECT freq, sy, unnest(range(1, len(sy))) AS i FROM e$n WHERE len(sy) >= 2)
        GROUP BY a, b),
m$n AS (SELECT a, b FROM p$n ORDER BY cnt DESC, a, b LIMIT 1),
w$n AS (SELECT w.word, w.freq,
               CASE WHEN m.a IS NULL THEN w.s
                    ELSE regexp_replace(w.s, '\[' || m.a || '\]\[' || m.b || '\]', '[' || m.a || m.b || ']', 'g') END AS s
        FROM w$p w LEFT JOIN m$n m ON TRUE)"""

  val q143Sql: String =
    raw"""WITH occ AS (SELECT doc_id, unnest($ToksSql) AS word FROM documents),
vocab AS (SELECT word, count(*) AS freq FROM occ GROUP BY word),
w0 AS (SELECT word, freq, regexp_replace(word, '(.)', '[\1]', 'g') AS s FROM vocab),
${bpeRoundSql(1, 0)},
${bpeRoundSql(2, 1)},
${bpeRoundSql(3, 2)},
${bpeRoundSql(4, 3)},
${bpeRoundSql(5, 4)},
enc AS (SELECT word, len(regexp_extract_all(s, '\[([A-Za-z]+)\]', 1)) AS n_syms FROM w5)
SELECT o.doc_id, CAST(sum(length(o.word)) AS BIGINT) AS n_chars,
       CAST(sum(e.n_syms) AS BIGINT) AS n_bpe,
       round(CAST(sum(length(o.word)) AS DOUBLE) / sum(e.n_syms), 6) AS compression
FROM occ o JOIN enc e ON e.word = o.word
GROUP BY o.doc_id ORDER BY o.doc_id"""

  /** BPE SEGMENTATION panel — the merge table made OBSERVABLE: q143
    * gates the tokenizer through per-doc symbol COUNTS; this entry
    * emits the actual segmentation string ("th|e", "an|d", …) of the
    * top-50 vocabulary words under the 5-round trained merges, plus a
    * per-word round-trip audit (concat(symbols) == word — BPE's
    * losslessness invariant, computed independently by each engine
    * from its own merge replay, so a corrupted merge on either side
    * surfaces as a hash mismatch, not a silent count coincidence).
    * The panel is a TakeOrdered top-50 by (freq DESC, word) — a total
    * order, so the panel is deterministic at any corpus size; encoding
    * runs once per DISTINCT word (the q143 vocabulary convention),
    * never per occurrence.
    */
  def q189_bpe_segments(s: SparkSession, dir: String): DataFrame = {
    val occ = docs(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
    val vocab = occ.groupBy("word").agg(count(lit(1)).as("freq"))
    val merges = Bpe.train(vocab, rounds = 5)
    vocab
      .select(col("word"), col("freq"),
        Bpe.encode(Bpe.initialSymbols(col("word")), merges).as("syms"))
      .select(col("word"), col("freq").cast("long").as("freq"),
        size(col("syms")).cast("long").as("n_syms"),
        concat_ws("|", col("syms")).as("segmentation"),
        (concat_ws("", col("syms")) === col("word")).as("roundtrip_ok"))
      .orderBy(col("freq").desc, col("word")).limit(50)
  }

  /** q143's 5-round merge replay, ending in the segmentation string and
    * the independent round-trip check over the bracket form.
    */
  val q189Sql: String =
    raw"""WITH occ AS (SELECT doc_id, unnest($ToksSql) AS word FROM documents),
vocab AS (SELECT word, count(*) AS freq FROM occ GROUP BY word),
w0 AS (SELECT word, freq, regexp_replace(word, '(.)', '[\1]', 'g') AS s FROM vocab),
${bpeRoundSql(1, 0)},
${bpeRoundSql(2, 1)},
${bpeRoundSql(3, 2)},
${bpeRoundSql(4, 3)},
${bpeRoundSql(5, 4)},
seg AS (SELECT word, freq, regexp_extract_all(s, '\[([A-Za-z]+)\]', 1) AS sy FROM w5)
SELECT word, CAST(freq AS BIGINT) AS freq, CAST(len(sy) AS BIGINT) AS n_syms,
       array_to_string(sy, '|') AS segmentation,
       array_to_string(sy, '') = word AS roundtrip_ok
FROM seg ORDER BY freq DESC, word LIMIT 50"""

  /** Per-language token statistics over the UNICODE tokenizer (NFC +
    * `\p{L}+` runs — Text.unicodeTokens): total tokens, vocabulary
    * size, and the modal token. The ASCII `[A-Za-z]` class is
    * reference-faithful (q01 keeps it) but wrong for a multilingual
    * 100-TB corpus — it drops every non-Latin script and splits
    * decomposed accents; this entry runs the corpus through the
    * multilingual path. On this (ASCII) corpus both engines' letter
    * classes agree by construction; the non-ASCII semantics — NFC
    * composition, non-Latin scripts, combining marks — are pinned by
    * TextSpec against hand-computed expectations.
    *
    * Scale shape: one explode + two partial-aggregated groupBys; the
    * modal token is min(struct(-cnt, tok)) — no window over the
    * vocabulary, no driver-side state.
    */
  def q150_unicode_stats(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("lang"), explode(Text.unicodeTokens(col("text"))).as("tok"))
    val cnt = toks.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    cnt.groupBy("lang")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        min(struct((-col("c")).as("nc"), col("tok").as("t"))).as("m"))
      .select(col("lang"), col("n_tokens").cast("long").as("n_tokens"),
        col("n_distinct"), col("m.t").as("top_token"))
      .orderBy("lang")
  }

  val q150Sql: String =
    raw"""WITH toks AS (SELECT lang, unnest(regexp_extract_all(nfc_normalize(text), '\p{L}+')) AS tok
          FROM documents),
c AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
r AS (SELECT lang, tok, c, row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rn FROM c),
a AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct FROM c GROUP BY lang)
SELECT a.lang, a.n_tokens, a.n_distinct, r.tok AS top_token
FROM a JOIN r ON r.lang = a.lang AND r.rn = 1 ORDER BY a.lang"""

  /** The Gopher repetition-rule BATTERY (Rae et al. 2021, Table A1),
    * adapted to token granularity (this corpus has no line/char
    * structure worth preserving): per document —
    *   - `top2_frac`: token mass of the single most frequent word
    *     2-gram (count × 2 / tokens; lexicographically-smallest gram on
    *     count ties), threshold 0.20;
    *   - `dup_chunk_frac`: token mass of 5-token chunks whose content
    *     occurs ≥ 2× within the doc, ALL occurrences counted (the
    *     "duplicate lines" analog), threshold 0.30;
    *   - `dup5_frac`: tokens COVERED (union of positions) by sliding
    *     5-token windows occurring ≥ 2× within the doc, threshold 0.15.
    * A document passes a rule at ≤ the threshold; `verdict` requires
    * all three. q52 reports the single distinct-trigram ratio; this is
    * the full multi-signal filter a production quality gate actually
    * runs, and every threshold decision is EXACT — integer
    * cross-multiplication (e.g. 10·top2_cnt ≤ n), no float compare at
    * the boundary.
    *
    * Scale shape: per-doc n-gram/chunk/window counts are keyed
    * aggregations on (doc_id, hash) longs — partial-aggregated, text
    * never shuffles; the coverage union explodes dup windows into ≤ 5
    * positions each and distinct-counts per doc; every window/argmax
    * partition is doc-sized. All report joins are doc_id-keyed.
    */
  def q179_repetition_battery(s: SparkSession, dir: String): DataFrame =
    repetitionBattery(docs(s, dir)).orderBy("doc_id")

  /** The canonical battery GATE: keep exactly the rows whose document
    * passes all three rules — the one definition the curation demo,
    * the streaming spec, and production callers share.
    *
    * Spelled as a per-row FILTER (round 15): the battery stats are a
    * single-pass map of each row's own text
    * ([[org.apache.spark.sql.graft.RepetitionStats]]), so the previous
    * battery-side semi-join — and the exchanges feeding both of its
    * sides — carried doc_id across the cluster to answer a question
    * every row already contains. Row-for-row identical to the semi-join
    * for the unique-doc_id frames every caller passes (the curation
    * admission path dropDuplicates upstream); the caller's columns pass
    * through untouched, as before.
    */
  def repetitionKeep(d: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    d.withColumn("__rb",
        struct(size(toks).cast("long").as("n"),
          org.apache.spark.sql.graft.RepetitionStats.stats(toks).as("rs")))
      .filter(lit(10L) * col("__rb.rs.top2_cnt") <= col("__rb.n")
        && lit(10L) * col("__rb.rs.dct") <= lit(3L) * col("__rb.n")
        && lit(20L) * col("__rb.rs.d5") <= lit(3L) * col("__rb.n"))
      .drop("__rb")
  }

  /** The battery over any (doc_id, text) frame — factored out so specs
    * can drive planted documents through the exact production rule set.
    *
    * Implementation (round 15): all three signals are WITHIN-document
    * statistics, computed in one pass per row by
    * [[org.apache.spark.sql.graft.RepetitionStats]] — the previous
    * spelling exploded every 2-gram, chunk hash and window hash of the
    * corpus into three groupBy(doc_id, …) → filter → join chains plus
    * three doc_id-keyed report joins (~8 exchanges whose shuffle rows
    * scale with |tokens|; guide §2.4: remove shuffles outright). Values
    * are identical by construction: same chunk/window hash arrays
    * (collisions included), same space-joined 2-gram strings, same
    * row_number(cnt DESC, g ASC) tie-break — TextSpec pins parity
    * against the join/aggregate spelling on planted docs and the real
    * corpus.
    */
  def repetitionBattery(d: DataFrame): DataFrame = {
    val base = d
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"),
        org.apache.spark.sql.graft.RepetitionStats.stats(col("toks")).as("__rs"))
    base
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("__rs.top2_gram").as("top2_gram"),
        col("__rs.top2_cnt").as("top2_cnt"),
        col("__rs.dct").as("dct"),
        col("__rs.d5").as("d5"))
      .select(col("doc_id"), col("n_tokens"), col("top2_gram"), col("top2_cnt"),
        round(when(col("n_tokens") === 0, lit(0.0))
          .otherwise(lit(2.0) * col("top2_cnt") / col("n_tokens")), 6).as("top2_frac"),
        col("dct").as("dup_chunk_tokens"),
        round(when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("dct").cast("double") / col("n_tokens")), 6).as("dup_chunk_frac"),
        col("d5").as("dup5_tokens"),
        round(when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("d5").cast("double") / col("n_tokens")), 6).as("dup5_frac"),
        when(lit(10L) * col("top2_cnt") <= col("n_tokens"), 1L).otherwise(0L).as("pass_top2"),
        when(lit(10L) * col("dct") <= lit(3L) * col("n_tokens"), 1L).otherwise(0L).as("pass_chunk"),
        when(lit(20L) * col("d5") <= lit(3L) * col("n_tokens"), 1L).otherwise(0L).as("pass_dup5"),
        when(lit(10L) * col("top2_cnt") <= col("n_tokens")
            && lit(10L) * col("dct") <= lit(3L) * col("n_tokens")
            && lit(20L) * col("d5") <= lit(3L) * col("n_tokens"), lit("keep"))
          .otherwise(lit("flag")).as("verdict"))
  }

  /** Oracle: 2-grams by inclusive list slices, chunks/window hashes by
    * the q173/q131 replays (w=5), coverage by unnesting each duplicated
    * window into its ≤ 5 positions and distinct-counting — identical
    * exact-integer threshold arithmetic.
    */
  val q179Sql: String =
    raw"""WITH t AS (SELECT doc_id, $ToksSql AS tk FROM documents),
b AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
g2 AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g
       FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM t WHERE len(tk) >= 2)),
gc AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g),
tp AS (SELECT doc_id, g AS top2_gram, cnt AS top2_cnt
       FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn FROM gc)
       WHERE rn = 1),
ch AS (SELECT doc_id, ci, array_to_string(list_slice(tk, ci * 5 + 1, ci * 5 + 5), ' ') AS chunk
       FROM (SELECT doc_id, tk, unnest(range(0, CAST((len(tk) + 4) // 5 AS BIGINT))) AS ci FROM t)),
hh AS (SELECT doc_id, ci, ${QueriesDedup.polyHashSql("chunk")} AS h FROM ch),
dc AS (SELECT doc_id, h FROM (SELECT doc_id, h, count(*) AS m FROM hh GROUP BY doc_id, h) WHERE m >= 2),
dt AS (SELECT hh.doc_id, sum(least(5, b.n - hh.ci * 5)) AS dct
       FROM hh JOIN dc USING (doc_id, h) JOIN b ON b.doc_id = hh.doc_id GROUP BY hh.doc_id),
th AS (SELECT doc_id, list_transform(tk, s -> ${QueriesDedup.polyHashSql("s")}) AS hsh FROM t),
wp AS (SELECT doc_id, i AS wi,
              list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(hsh, i + 1, i + 5)),
                          (a, x) -> (a * 31 + x) % 1000000007) AS h
       FROM (SELECT doc_id, hsh, unnest(range(0, len(hsh) - 5 + 1)) AS i FROM th WHERE len(hsh) >= 5)),
dw AS (SELECT doc_id, h FROM (SELECT doc_id, h, count(*) AS m FROM wp GROUP BY doc_id, h) WHERE m >= 2),
cov AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS d5
        FROM (SELECT wp.doc_id, unnest(range(wp.wi, wp.wi + 5)) AS p
              FROM wp JOIN dw USING (doc_id, h))
        GROUP BY doc_id),
f AS (SELECT b.doc_id, b.n,
             coalesce(tp.top2_gram, '') AS top2_gram,
             CAST(coalesce(tp.top2_cnt, 0) AS BIGINT) AS top2_cnt,
             CAST(coalesce(dt.dct, 0) AS BIGINT) AS dct,
             CAST(coalesce(cov.d5, 0) AS BIGINT) AS d5
      FROM b LEFT JOIN tp USING (doc_id) LEFT JOIN dt USING (doc_id) LEFT JOIN cov USING (doc_id))
SELECT doc_id, n AS n_tokens, top2_gram, top2_cnt,
       round(CASE WHEN n = 0 THEN 0.0 ELSE 2.0 * top2_cnt / n END, 6) AS top2_frac,
       dct AS dup_chunk_tokens,
       round(CASE WHEN n = 0 THEN 0.0 ELSE CAST(dct AS DOUBLE) / n END, 6) AS dup_chunk_frac,
       d5 AS dup5_tokens,
       round(CASE WHEN n = 0 THEN 0.0 ELSE CAST(d5 AS DOUBLE) / n END, 6) AS dup5_frac,
       CAST(CASE WHEN 10 * top2_cnt <= n THEN 1 ELSE 0 END AS BIGINT) AS pass_top2,
       CAST(CASE WHEN 10 * dct <= 3 * n THEN 1 ELSE 0 END AS BIGINT) AS pass_chunk,
       CAST(CASE WHEN 20 * d5 <= 3 * n THEN 1 ELSE 0 END AS BIGINT) AS pass_dup5,
       CASE WHEN 10 * top2_cnt <= n AND 10 * dct <= 3 * n AND 20 * d5 <= 3 * n
            THEN 'keep' ELSE 'flag' END AS verdict
FROM f ORDER BY doc_id"""

  /** CCNet perplexity BUCKETING (Wenzek et al. 2020): every document is
    * scored by the corpus-trained bigram LM ([[bigramDocScores]] — the
    * in-repo stand-in for CCNet's KenLM) and split into per-LANGUAGE
    * head / middle / tail terciles of model fit (head = highest average
    * log-probability = lowest perplexity). CCNet trains on head+middle
    * and drops tail; the report gives each (lang, bucket)'s document
    * count, bigram mass, and mean score — per language because a
    * perplexity threshold is never comparable across languages.
    *
    * Scale shape: the scorer is q114's keyed-join plan corpus-wide; the
    * tercile split is one ntile window per LANGUAGE partition ordered
    * by (score, doc_id) — deterministic, and partitions are
    * language-sized. (At 100 TB a per-lang window is still wide; the
    * production respelling computes the two tercile CUT POINTS per
    * language — a 2-row quantile table — and buckets by broadcast
    * compare, the q115 equi-depth machinery; ntile keeps this entry's
    * oracle exact at every scale tested.) The report aggregate is
    * (lang, bucket)-keyed.
    */
  def q183_ppl_buckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = bigramDocScores(docs(s, dir))
      .join(docs(s, dir).select("doc_id", "lang"), Seq("doc_id"))
    val w = Window.partitionBy("lang")
      .orderBy(col("avg_logprob").desc, col("doc_id").asc)
    scored.withColumn("b", ntile(3).over(w))
      .withColumn("bucket",
        when(col("b") === 1, "head").when(col("b") === 2, "middle").otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").cast("long").as("n_bigrams"),
        round(avg("avg_logprob"), 6).as("mean_logprob"))
      .orderBy("lang", "bucket")
  }

  /** Oracle: the q114 scorer CTEs corpus-wide, the identical
    * (lang)-partitioned ntile with the same (score DESC, doc_id) total
    * order, and the same bucket labels.
    */
  val q183Sql: String =
    raw"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
inst AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
         FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM inst GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM inst GROUP BY w1),
vocab AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
          FROM (SELECT unnest($ToksSql) AS tok FROM documents)),
lp AS (SELECT inst.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + v)) AS lp
       FROM inst JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab),
sc AS (SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logprob
       FROM lp GROUP BY doc_id),
lb AS (SELECT sc.doc_id, d.lang, sc.n_bigrams, sc.avg_logprob,
              ntile(3) OVER (PARTITION BY d.lang ORDER BY sc.avg_logprob DESC, sc.doc_id) AS b
       FROM sc JOIN documents d USING (doc_id))
SELECT lang,
       CASE WHEN b = 1 THEN 'head' WHEN b = 2 THEN 'middle' ELSE 'tail' END AS bucket,
       count(*) AS n_docs, CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       round(avg(avg_logprob), 6) AS mean_logprob
FROM lb GROUP BY lang, b ORDER BY lang, bucket"""

  /** DATA CARD — the per-source DATASHEET a corpus release ships
    * ("Datasheets for Datasets", Gebru et al. 2021): one row per
    * source with the provenance-level facts a consumer reads before
    * training — volume (docs, chars, tokenizer-true token totals),
    * language mix (distinct languages, English fraction in exact ppm),
    * hygiene (short-doc count, non-canonical exact-duplicate count
    * against the GLOBAL fingerprint keeper — a source whose content
    * is mostly copies of another source shows it here). Everything is
    * an exact integer, so the card is hash-stable at any scale.
    * Scale: one projection pass computes per-doc facts, the dup flag
    * is the q15 digest-keyed keeper join (text never shuffles), and
    * the card itself is a |sources|-row aggregate.
    */
  def q217_data_card(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val d = docs(s, dir).select(col("doc_id"), col("source"), col("lang"),
      col("n_chars"), size(Text.tokens(col("text"))).cast("long").as("n_toks"),
      PortableHash.asciiPolyHash(concat_ws(" ", Text.tokens(col("text")))).as("fp"))
    val keeper = d.groupBy("fp").agg(min("doc_id").as("keep_id"))
    d.join(keeper, Seq("fp"))
      .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("long"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        sum((col("lang") === "en").cast("long")).as("n_en"),
        sum("n_toks").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        sum((col("n_chars") < 200).cast("long")).as("n_short"),
        sum("is_dup").as("n_dup_docs"))
      .withColumn("en_ppm", expr("(n_en * 1000000) div n_docs"))
      .orderBy("source")
  }

  val q217Sql: String =
    raw"""WITH d AS (SELECT doc_id, source, lang, n_chars,
                 CAST(len($ToksSql) AS BIGINT) AS n_toks,
                 ${QueriesDedup.polyHashSql(s"array_to_string($ToksSql, ' ')")} AS fp
           FROM documents),
k AS (SELECT fp, min(doc_id) AS keep_id FROM d GROUP BY fp)
SELECT d.source, count(*) AS n_docs,
       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
       CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       CAST(sum(d.n_toks) AS BIGINT) AS total_tokens,
       CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN d.n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       CAST(sum(CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST((sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS en_ppm
FROM d JOIN k ON k.fp = d.fp
GROUP BY d.source ORDER BY d.source"""

  /** QUALITY-CLASSIFIER CALIBRATION AUDIT — before a pipeline filters
    * on a classifier score, it checks the score is CALIBRATED (the
    * reliability-diagram / Brier decomposition): q140's logistic
    * quality score is binned into fine probability buckets over the
    * score's live range (width 0.01 from p = 0.70 — the corpus's
    * scores concentrate in [0.74, 0.85], so coarse deciles would
    * collapse to two bins), and each bucket reports exact-integer
    * sufficient statistics — count, positives (label: the document
    * has >= 45 tokens, which the score's size feature predicts — ~60%
    * base rate at every scale), the micro-unit sum of predicted
    * probabilities, and the micro²-unit squared-error sum (the
    * bucket's Brier contribution). Mean-predicted-vs-observed per
    * bucket and ECE/Brier all derive from these integers; nothing
    * float-aggregates under the hash (p is rounded to 6 dp per row —
    * the q140 convention — then micro-ized, so the sums are exact and
    * order-free). Scale: one corpus pass + a ≤20-group aggregate.
    */
  def q220_calibration(s: SparkSession, dir: String): DataFrame = {
    val withP = qualityZ(docs(s, dir))
      .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
      .withColumn("p_micro", round(col("p") * lit(1000000.0)).cast("long"))
    val labels = docs(s, dir).select(col("doc_id"),
      (size(Text.tokens(col("text"))) >= 45).cast("long").as("y"))
    withP.join(labels, Seq("doc_id"))
      .withColumn("bucket",
        greatest(least(floor((col("p") - lit(0.70)) * 100).cast("long"), lit(19L)), lit(0L)))
      .withColumn("err", col("p_micro") - col("y") * lit(1000000L))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum("y").as("n_pos"),
        sum("p_micro").as("sum_p_micro"),
        sum(col("err") * col("err")).as("sse_micro2"))
      .orderBy("bucket")
  }

  val q220Sql: String =
    raw"""WITH ${QualityZSql("documents")},
p AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS p FROM z),
pm AS (SELECT doc_id, p, CAST(round(p * 1000000.0) AS BIGINT) AS p_micro FROM p),
y AS (SELECT doc_id, CASE WHEN len($ToksSql) >= 45 THEN 1 ELSE 0 END AS y FROM documents),
j AS (SELECT pm.doc_id, pm.p, pm.p_micro, y.y,
             greatest(least(CAST(floor((pm.p - 0.70) * 100) AS BIGINT), 19), 0) AS bucket,
             pm.p_micro - y.y * 1000000 AS err
      FROM pm JOIN y ON y.doc_id = pm.doc_id)
SELECT bucket, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(p_micro) AS BIGINT) AS sum_p_micro,
       CAST(sum(err * err) AS BIGINT) AS sse_micro2
FROM j GROUP BY bucket ORDER BY bucket"""

  // ─── Trained Naive Bayes classifier (q229 / q231) ───────────────────
  //
  // q140's doc promises "a trained model would broadcast its coefficient
  // vector identically" — this family delivers the trained model: a
  // multinomial Naive Bayes language classifier with Laplace smoothing,
  // trained on the labeled split (doc_id % 5 != 0) and scored on the
  // held-out fifth. On this synthetic fixture the lang labels carry
  // almost no lexical signal (the generator draws the same vocabulary
  // for every lang), so accuracy ≈ the majority-class prior — the entry
  // gates the TRAINING + SCORING ARITHMETIC, not fixture accuracy.
  //
  // Cross-engine determinism is the q124 fixed-point trick applied to
  // the log domain: every ln() is taken of an exact integer ratio and
  // immediately quantized to a BIGINT at 1e6 — crucially the evidence
  // term is round(1e6·ln(cwc+1)), which is EXACTLY 0 for an absent
  // (word, class) pair (ln 1), so the smoothed model factorizes as
  //   score(d, c) = prior_f(c) + Σ_w tf_w·a(w,c) − nTok_v(d)·b_f(c)
  // with a = round(1e6·ln(cwc+1)), b_f = round(1e6·ln(tot_c + |V|)):
  // the (word × class) grid never materializes, the per-doc sums are
  // exact integer arithmetic, and the argmax can never flip on libm
  // ulps. Out-of-train-vocabulary tokens are ignored (the standard
  // multinomial-NB convention), which keeps serving a semi-join.

  /** train = doc_id % 5 != 0, held-out = the remaining fifth. */
  private def nbSplit(d: DataFrame): (DataFrame, DataFrame) =
    (d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0))

  /** NB sufficient statistic #1: per-(lang, word) token counts — a Sum
    * monoid over document batches, which is what makes the model
    * incrementally maintainable (q231).
    */
  def nbWordCounts(train: DataFrame): DataFrame =
    train.select(col("lang"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cwc"))

  /** NB sufficient statistic #2: per-class document counts (the prior). */
  def nbClassDocs(train: DataFrame): DataFrame =
    train.groupBy("lang").agg(count(lit(1)).as("n_docs_c"))

  /** Score `test` docs against the model given by its sufficient
    * statistics, returning one row per held-out doc: true label,
    * argmax class, its fixed-point log-score, and the margin to the
    * runner-up.
    *
    * Scale shape: the model tables are vocabulary-sized (cwc shuffles
    * on (lang, word) with map-side combine; the class table is C rows).
    * Serving is a keyed join on `word` between the held-out term
    * frequencies and the evidence table, then a C-row broadcast grid
    * and a per-doc argmax window partitioned by doc_id — no
    * corpus × corpus pair ever forms, and the only unkeyed joins
    * broadcast the 1-row |V| / n_train scalars and the C-row class
    * table (bounded-cross-join whitelist).
    */
  def nbServe(cwc: DataFrame, classDocs: DataFrame, test: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = cwc.select("word").distinct()
    val vRow = vocab.agg(count(lit(1)).cast("double").as("v"))
    val totC = cwc.groupBy("lang").agg(sum("cwc").as("tot_c"))
    val nTrain = classDocs.agg(sum("n_docs_c").cast("double").as("n_train"))
    val cls = classDocs
      .join(totC, Seq("lang"), "left").na.fill(0L, Seq("tot_c"))
      .crossJoin(broadcast(nTrain)).crossJoin(broadcast(vRow))
      .select(col("lang").as("cls_lang"),
        round(lit(1000000.0) * log(col("n_docs_c").cast("double") / col("n_train")))
          .cast("long").as("prior_f"),
        round(lit(1000000.0) * log(col("tot_c").cast("double") + col("v")))
          .cast("long").as("b_f"))
    val aTab = cwc.select(col("word"), col("lang").as("cls_lang"),
      round(lit(1000000.0) * log(col("cwc").cast("double") + lit(1.0)))
        .cast("long").as("a"))
    val docTf = test
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .join(vocab, Seq("word"), "left_semi")
    val sumA = docTf.join(aTab, Seq("word"))
      .groupBy("doc_id", "cls_lang").agg(sum(col("tf") * col("a")).as("sa"))
    val nTok = docTf.groupBy("doc_id").agg(sum("tf").as("n_tok_v"))
    val grid = test.select(col("doc_id"), col("lang"))
      .crossJoin(broadcast(cls))
      .join(sumA, Seq("doc_id", "cls_lang"), "left")
      .join(nTok, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("cls_lang"),
        (col("prior_f") + coalesce(col("sa"), lit(0L))
          - coalesce(col("n_tok_v"), lit(0L)) * col("b_f")).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cls_lang"))
    grid
      .withColumn("rnk", row_number().over(w))
      .withColumn("second", lead("score", 1).over(w))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("lang"), col("cls_lang").as("pred_lang"),
        col("score"),
        // margin is TOTAL: with a single trained class there is no
        // runner-up (lead over a one-row partition is NULL) — coalesce
        // to 0 so the serving contract never emits a NULL margin
        // (ADVICE r12); identical coalesce in the oracle SQL
        coalesce(col("score") - col("second"), lit(0L)).as("margin"),
        when(col("cls_lang") === col("lang"), lit(1)).otherwise(lit(0)).as("correct"))
      .orderBy("doc_id")
  }

  /** Trained multinomial NB language classifier: one-shot batch
    * training on the 4/5 split, held-out scoring (see the family doc
    * above for the fixed-point decomposition and scale shape).
    */
  def q229_nb_langid(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = nbSplit(docs(s, dir))
    nbServe(nbWordCounts(train), nbClassDocs(train), test)
  }

  /** The NB train/score oracle over any (doc_id, lang, text) source
    * select — q229 feeds it the raw table, q232 the planted-skew
    * enrichment; everything downstream of `src` is shared verbatim.
    */
  private def nbSql(sourceSelect: String): String =
    raw"""WITH src AS ($sourceSelect),
train AS (SELECT doc_id, lang, $ToksSql AS t FROM src WHERE doc_id % 5 <> 0),
test AS (SELECT doc_id, lang, $ToksSql AS t FROM src WHERE doc_id % 5 = 0),
cwc AS (SELECT lang, word, count(*) AS cwc
        FROM (SELECT lang, unnest(t) AS word FROM train) GROUP BY 1, 2),
v AS (SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v FROM cwc),
cd AS (SELECT lang, count(*) AS n_docs_c FROM train GROUP BY 1),
nt AS (SELECT CAST(sum(n_docs_c) AS DOUBLE) AS n_train FROM cd),
totc AS (SELECT lang, CAST(sum(cwc) AS BIGINT) AS tot_c FROM cwc GROUP BY 1),
cls AS (SELECT cd.lang AS cls_lang,
               CAST(round(1000000.0 * ln(CAST(cd.n_docs_c AS DOUBLE) / nt.n_train)) AS BIGINT) AS prior_f,
               CAST(round(1000000.0 * ln(CAST(coalesce(totc.tot_c, 0) AS DOUBLE) + v.v)) AS BIGINT) AS b_f
        FROM cd CROSS JOIN nt CROSS JOIN v LEFT JOIN totc ON totc.lang = cd.lang),
a AS (SELECT word, lang AS cls_lang,
             CAST(round(1000000.0 * ln(CAST(cwc AS DOUBLE) + 1.0)) AS BIGINT) AS a
      FROM cwc),
dtf AS (SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS word FROM test) GROUP BY 1, 2),
dtfv AS (SELECT * FROM dtf WHERE word IN (SELECT word FROM cwc)),
suma AS (SELECT doc_id, a.cls_lang, CAST(sum(tf * a.a) AS BIGINT) AS sa
         FROM dtfv JOIN a USING (word) GROUP BY 1, 2),
ntok AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok_v FROM dtfv GROUP BY 1),
grid AS (SELECT te.doc_id, te.lang, cls.cls_lang,
                cls.prior_f + coalesce(suma.sa, 0) - coalesce(ntok.n_tok_v, 0) * cls.b_f AS score
         FROM test te CROSS JOIN cls
         LEFT JOIN suma ON suma.doc_id = te.doc_id AND suma.cls_lang = cls.cls_lang
         LEFT JOIN ntok ON ntok.doc_id = te.doc_id),
r AS (SELECT doc_id, lang, cls_lang, score,
             row_number() OVER w AS rnk, lead(score) OVER w AS second
      FROM grid WINDOW w AS (PARTITION BY doc_id ORDER BY score DESC, cls_lang))
SELECT doc_id, lang, cls_lang AS pred_lang, score, coalesce(score - second, 0) AS margin,
       CASE WHEN cls_lang = lang THEN 1 ELSE 0 END AS correct
FROM r WHERE rnk = 1 ORDER BY doc_id"""

  val q229Sql: String = nbSql("SELECT doc_id, lang, text FROM documents")

  /** The SAME classifier, its sufficient statistics maintained
    * INCREMENTALLY: the (lang, word) counts and the class doc counts
    * are Sum-kind delta-state tables fed by three training batches
    * (doc_id % 3), one of which is REDELIVERED (replay must be a
    * no-op), then compacted; serving folds the chain and runs q229's
    * exact scorer. The oracle is q229's SQL verbatim — the hash match
    * certifies folded-incremental training == one-shot batch training
    * through the identical serve path (the q219/q215 pattern, applied
    * to a model instead of a feature store). O(batch) maintenance:
    * each delta is the batch's OWN counts; no batch touches
    * accumulated state.
    */
  def q231_nb_stream_ivm(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DeltaState
    import DeltaState.{Sum, Table}
    val (train, test) = nbSplit(docs(s, dir))
    val out = QueriesSources.tmp("graft_q231_nb_", dir)
    graft.core.ArtifactIO.delete(s, out) // fresh chain per run
    val layout = Seq(
      Table("cwc", Sum(Seq("lang", "word"))),
      Table("cls", Sum(Seq("lang"))))
    def writeBatch(i: Int): Unit = {
      val b = train.filter(col("doc_id") % 3 === i)
      DeltaState.writeDelta(s, out, i.toLong, layout,
        Seq("cwc" -> nbWordCounts(b), "cls" -> nbClassDocs(b)))
    }
    // each delta is the batch's OWN counts (no batch reads accumulated
    // state), so the three version commits are independent Spark jobs —
    // overlap them (guide §2.6); the redelivery targets version 1's
    // directory and must stay AFTER its original write
    graft.core.ArtifactIO.inParallel((0 to 2).map(i => () => writeBatch(i)))
    writeBatch(1) // redelivery: overwrites its own version, state unchanged
    DeltaState.compact(s, out, keep = 2)
    val cwcF = DeltaState.asOf(s, out, Table("cwc", Sum(Seq("lang", "word")))).get
    val clsF = DeltaState.asOf(s, out, Table("cls", Sum(Seq("lang")))).get
    nbServe(cwcF, clsF, test)
  }

  // ─── q232: the classifier on a LEARNABLE fixture ─────────────────────
  //
  // q229 gates training/scoring arithmetic only — the corpus generator
  // draws one vocabulary for all langs, so its labels are near-noise and
  // accuracy (the thing a classifier exists for) was gated nowhere
  // (round-13 verdict item 5). q232 plants a deterministic per-lang
  // token skew IN-PLAN (the q230/q98 pattern: synthesized inside the
  // query from doc_id + lang, replayed exactly by the oracle): each doc
  // gains 3 marker tokens; per position, an id-derived index in 0..7
  // picks a LANG-SPECIFIC marker (indices 0-4, e.g. "zzdeb") or a
  // lang-AGNOSTIC noise marker shared by all classes (indices 5-7,
  // e.g. "zznoisef"). The three positions are NOT independent draws:
  // plantIdx(i) = (doc_id*31 - i) mod 8 (since 7 ≡ -1 mod 8), so the
  // indices are (x, x-1, x-2) for x = doc_id*31 mod 8, and all-noise
  // requires x = 7 — EXACTLY 1/8 (12.5%) of docs draw only noise
  // markers and fall back to the original near-noise text (ADVICE r13;
  // not the (3/8)³ ≈ 5% independent-draw figure). The signal is still
  // strong but not degenerate. Trained on the same %5 split, the per-doc
  // `correct` column is pinned by the oracle hash, and NbPiiSpec gates
  // accuracy ≫ the majority-class prior (~44%) — the claim q229 could
  // not make. Scale shape: the plant is a per-row projection on top of
  // q229's vocabulary-keyed plan; nothing new shuffles.

  /** Marker index ∈ 0..7 for plant position `i`, shared by both engines. */
  private def plantIdx(i: Int) = (col("doc_id") * 31 + lit(i * 7)) % 8

  /** The tokenizer splits on [^A-Za-z], so the index is spelled as a
    * letter (a..h) to keep the 8 variants distinct tokens.
    */
  private def plantTok(i: Int) = {
    val letter = translate(plantIdx(i).cast("string"), "01234567", "abcdefgh")
    when(plantIdx(i) < 5, concat(lit("zz"), col("lang"), letter))
      .otherwise(concat(lit("zznoise"), letter))
  }

  private[graft] def nbPlantedDocs(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"),
      concat(col("text"), lit(" "), plantTok(0), lit(" "), plantTok(1),
        lit(" "), plantTok(2)).as("text"))

  def q232_nb_planted(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = nbSplit(nbPlantedDocs(docs(s, dir)))
    nbServe(nbWordCounts(train), nbClassDocs(train), test)
  }

  private def plantTokSql(i: Int): String = {
    val idx = s"(doc_id * 31 + ${i * 7}) % 8"
    s"""CASE WHEN $idx < 5
         THEN 'zz' || lang || translate(CAST($idx AS VARCHAR), '01234567', 'abcdefgh')
         ELSE 'zznoise' || translate(CAST($idx AS VARCHAR), '01234567', 'abcdefgh') END"""
  }

  val q232Sql: String = nbSql(
    s"""SELECT doc_id, lang,
        text || ' ' || ${plantTokSql(0)} || ' ' || ${plantTokSql(1)}
             || ' ' || ${plantTokSql(2)} AS text
        FROM documents""")
}
