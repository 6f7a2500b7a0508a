package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.operators.ConnectedComponents
import graft.text.Text

/** Deduplication operators for document corpora (SURVEY.md §2.C).
  *
  * Scale design (100 TB): nothing here ever materializes the O(n²) pair
  * space. Exact dedup shuffles on a content digest (bytes ≈ 32/row, not
  * the payload). Near-dedup is one set-similarity join, [[Dedup.pairs]],
  * in V-SMART-Join's shape (VLDB'12): sim = f(|a|, |b|, |a∩b|), with the
  * unilateral |a| carried on every (doc_id, n, h) shingle row and the
  * conjunctive |a∩b| counted by one hash-partitioned pair aggregate.
  * Candidates come from the shingle inverted index (full, df-capped or
  * prefix-filtered) or from MinHash band keys, and are exact-verified on
  * the full shingle sets. The public pair operators are one-line
  * wrappers over it.
  */
object Dedup {
  /** Exact dedup keeping the smallest `idCol` per identical `textCol`.
    *
    * Implemented as min-id-per-digest + semi-join rather than a
    * row_number window so the shuffled payload is the 32-byte sha2 digest,
    * not the document text — at 100 TB the text never moves.
    */
  def exactKeepFirst(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val digests = docs.select(col(idCol), sha2(col(textCol), 256).as("__digest"))
    val keep = digests.groupBy("__digest").agg(min(col(idCol)).as(idCol)).drop("__digest")
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Window-based variant (row_number over the text) — semantically
    * identical, used as the oracle-shaped formulation in tests.
    */
  def exactKeepFirstWindow(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .withColumn("__rn", row_number().over(Window.partitionBy(textCol).orderBy(col(idCol))))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** Distinct (doc_id, n, h) rows for `shingleN`-token shingles: one row
    * per distinct shingle hash h of a document, carrying the document's
    * set size n — taken per row from the distinct shingle array before
    * the explode, so no aggregate computes it. A document with fewer than
    * `shingleN` tokens yields no rows.
    *
    * Uses engine-native xxhash64 (codegen'd) — the shingle hash is never
    * observable in output here: joins compare hash equality and only the
    * exact ratio surfaces, so cross-engine portability is not required
    * (unlike q21/q25 where PortableHash IS the output). Full 64 bits:
    * intersection counts join on hash equality, and a 2^31 reduction
    * would produce hundreds of real collisions at sf0.1 scale.
    */
  def shingleHashes(docs: DataFrame, shingleN: Int): DataFrame =
    docs
      .select(col("doc_id"), Text.shingles(Text.tokens(col("text")), shingleN).as("s"))
      .select(col("doc_id"), size(col("s")).cast("long").as("n"), explode(col("s")).as("s"))
      .select(col("doc_id"), col("n"), xxhash64(col("s")).as("h"))

  /** MinHash signatures as one wide row per doc: `numHashes` independent
    * codegen'd `min` aggregates over the affine permutations of the
    * shingle hash. A single hash-partitioned aggregation; shuffle volume
    * is O(docs × numHashes) longs with map-side partial mins — no explode
    * of the shingle table.
    */
  def minHashSignatures(shingles: DataFrame, numHashes: Int): DataFrame = {
    // Reduce the 64-bit hash into the permutation field's range first; a
    // collision here only perturbs LSH candidate generation (exact verify
    // decides membership), unlike the join hash above.
    val h31 = pmod(col("h"), lit(PortableHash.MinHashP))
    val aggs = (0 until numHashes).map(k => min(PortableHash.minHashPerm(h31, k)).as(s"mh_$k"))
    shingles.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signature as ONE custom sketch-style aggregate
    * (TypedImperativeAggregate, see o.a.s.sql.graft.MinHashAgg): compact
    * long[] partial state with map-side combine, no 128-column-wide
    * aggregation. Same permutation family as [[minHashSignatures]].
    */
  def minHashSignaturesAgg(shingles: DataFrame, numHashes: Int): DataFrame = {
    val h31 = pmod(col("h"), lit(PortableHash.MinHashP))
    shingles.groupBy("doc_id")
      .agg(org.apache.spark.sql.graft.MinHashAgg.minhash(h31, numHashes).as("sig"))
  }

  /** LSH banding: split the signature columns into bands of `rowsPerBand`
    * values and emit one (doc_id, band, band_sig) row per band — a small
    * posexplode over docs × numBands, not over shingles.
    */
  def lshBands(signatures: DataFrame, rowsPerBand: Int): DataFrame = {
    val sigCols = signatures.columns.filter(_.startsWith("mh_")).sortBy(_.drop(3).toInt)
    val bandSigs = sigCols.grouped(rowsPerBand).toSeq
      .map(cs => concat_ws(",", cs.map(col): _*))
    signatures.select(col("doc_id"), posexplode(array(bandSigs: _*)).as(Seq("band", "band_sig")))
  }

  /** Banding over the array-form signature from [[minHashSignaturesAgg]]. */
  def lshBandsFromArray(signatures: DataFrame, rowsPerBand: Int): DataFrame =
    signatures.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), (size(col("sig")) - 1).divide(rowsPerBand).cast("int")),
        b => concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)).cast("array<string>"))))
        .as(Seq("band", "band_sig")))

  /** Candidate pairs (a < b) from band collisions — the only self-join,
    * and it joins on (band, band_sig), never on content.
    */
  def lshCandidates(bands: DataFrame): DataFrame = {
    val a = bands.select(col("band"), col("band_sig"), col("doc_id").as("doc_id_a"))
    val b = bands.select(col("band"), col("band_sig"), col("doc_id").as("doc_id_b"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b")
      .distinct()
  }

  /** Exact Jaccard over shingle sets for caller-supplied candidate pairs
    * (doc_id_a, doc_id_b) — the [[pairs]] verify tail, used by the LSH
    * paths. Output is independent of every hash above (SURVEY.md §7.4
    * trap 7): LSH only filters candidates; this decides membership.
    */
  def exactJaccard(candidates: DataFrame, shingles: DataFrame): DataFrame =
    score(verify(candidates, shingles, shingles), Jaccard)

  /** Full MinHash+LSH near-dedup: candidates via banding, membership via
    * exact Jaccard ≥ threshold. With 128 hashes in bands of 4, a pair at
    * J=0.8 is missed with probability (1-0.8⁴)³² ≈ 5e-8.
    */
  def minHashNearDup(docs: DataFrame, shingleN: Int, threshold: Double,
      numHashes: Int = 128, rowsPerBand: Int = 4): DataFrame = {
    // The shingle table feeds signatures AND the exact-verify join; persist
    // so the tokenize+hash subplan runs once (Catalyst has no automatic
    // subplan reuse across self-joins). Rows are already distinct:
    // TokenShingles dedupes within a doc, doc_id separates across docs —
    // no global distinct() shuffle needed.
    val sh = shingleHashes(docs, shingleN).persist()
    val cands = lshCandidates(lshBandsFromArray(minHashSignaturesAgg(sh, numHashes), rowsPerBand))
    exactJaccard(cands, sh).filter(col("jaccard") >= threshold)
  }

  /** Exact shingle Jaccard pairs (a < b) ≥ `threshold` over the full
    * inverted index: [[pairs]] with no candidate filter. Exact for any
    * threshold > 0 (every pair with J > 0 shares a shingle); preferred
    * where the threshold is low.
    */
  def ngramJaccardPairs(docs: DataFrame, shingleN: Int, threshold: Double): DataFrame =
    pairs(shingleHashes(docs, shingleN), Jaccard, threshold)

  /** [[ngramJaccardPairs]] over the shingles whose document frequency is
    * at most `maxDf`: [[pairs]] with the [[DfCap]] filter. Sizes,
    * intersections and the ratio are all taken over the surviving
    * universe, so the oracle replays the same bound; total pair work is
    * ≤ maxDf/2 · |postings|, linear in the corpus. With `maxDf` above the
    * corpus's max df the output equals the uncapped twin's (SCALING.md).
    */
  def ngramJaccardPairsCapped(docs: DataFrame, shingleN: Int, threshold: Double,
      maxDf: Int): DataFrame =
    pairs(shingleHashes(docs, shingleN), Jaccard, threshold, DfCap(maxDf))

  /** Exact shingle Jaccard pairs (a < b) ≥ `threshold` via the symmetric
    * prefix filter: [[pairs]] with [[Prefix]]. The regime a large dedup
    * runs (τ ≥ ~0.5); needs 0 < τ < 1.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, shingleN: Int, threshold: Double): DataFrame =
    pairs(shingleHashes(docs, shingleN), Jaccard, threshold, Prefix)

  /** Near-dup screening of a new batch against an existing corpus:
    * (existing_id, new_id, jaccard) ≥ `threshold`, never existing×existing
    * or new×new — [[pairs]] with [[Prefix]] on the cross sides. Both
    * sides' prefixes follow one df order taken over the union. Caller
    * contract: the two sides' doc_id spaces are disjoint.
    */
  def crossJaccardPrefix(existing: DataFrame, batch: DataFrame,
      shingleN: Int, threshold: Double): DataFrame =
    pairs(shingleHashes(existing, shingleN), Jaccard, threshold, Prefix,
      Some(shingleHashes(batch, shingleN)))
      .select(col("doc_id_a").as("existing_id"), col("doc_id_b").as("new_id"), col("jaccard"))

  /** Exact shingle containment pairs (|a∩b| / |a| ≥ `threshold`, a ≠ b)
    * via the one-sided prefix filter: [[pairs]] with [[Prefix]] and the
    * [[Containment]] measure, whose prefix is taken on a's side only.
    */
  def containmentPrefix(docs: DataFrame, shingleN: Int, threshold: Double): DataFrame =
    pairs(shingleHashes(docs, shingleN), Containment, threshold, Prefix)

  /** A set-similarity measure sim = f(|a|, |b|, |a∩b|), named as its
    * output column. `selfPair` orders the pairs of a self join (a < b
    * for the symmetric measure, a ≠ b for the asymmetric one);
    * `oneSided` says only a's size bounds |a∩b| from below, so only a's
    * side can take a prefix.
    */
  private[graft] final case class Measure(name: String, f: (Column, Column, Column) => Column,
      selfPair: (Column, Column) => Column, oneSided: Boolean)
  private[graft] val Jaccard =
    Measure("jaccard", (na, nb, c) => c.cast("double") / (na + nb - c), _ < _, oneSided = false)
  private[graft] val Containment =
    Measure("containment", (na, _, c) => c.cast("double") / na, _ =!= _, oneSided = true)

  /** Candidate filter of [[pairs]]: the full inverted index, the index
    * over the shingles of df ≤ maxDf (self sides only), or the prefix
    * filter.
    */
  private[graft] sealed trait Candidates
  private[graft] case object FullIndex extends Candidates
  private[graft] final case class DfCap(maxDf: Int) extends Candidates
  private[graft] case object Prefix extends Candidates

  /** The one exact set-similarity join: (doc_id_a, doc_id_b, <measure>)
    * for every pair with sim ≥ `tau`, over (doc_id, n, h) rows from
    * [[shingleHashes]]. Sides are self (`b` empty: `a` against itself,
    * pairs ordered by the measure) or cross (`a` × `b`, disjoint ids).
    *
    * Shape (V-SMART-Join, VLDB'12): the unilateral |a| rides on every
    * row, so the pair aggregate groups by (a, na, b, nb) and applies f
    * directly — no size table is ever joined back onto the pair table.
    *  - [[FullIndex]]: the shingle self-join emits one row per SHARED
    *    shingle, so c falls out of the pair aggregate with no verify join.
    *  - [[DfCap]]: the same after dropping shingles of df > maxDf; n is
    *    recounted over the survivors (one doc_id window, before the join).
    *  - [[Prefix]] (AllPairs/PPJoin): order each set by (df, h), rarest
    *    first. If sim ≥ τ then c ≥ ⌈τ·|a|⌉ (for Jaccard also ≥ ⌈τ·|b|⌉),
    *    so by pigeonhole the first |a| − ⌈τ·|a|⌉ + 1 shingles of a share
    *    an element with b — with b's prefix too when the measure is
    *    symmetric, with all of b when one-sided. Candidates from the
    *    prefix join that pass the length filter are verified on the FULL
    *    sets. The ceiling carries a 1e-9 slack so FP error can only
    *    LENGTHEN a prefix (extra candidates), never shorten it (lost
    *    pairs).
    */
  private[graft] def pairs(a: DataFrame, m: Measure, tau: Double, cands: Candidates = FullIndex,
      b: Option[DataFrame] = None): DataFrame = {
    // Nothing is persisted: recomputing the shingle rows per branch costs
    // less than a cache job, and leaves no table pinned after the query.
    val sb = b.getOrElse(a)
    val pairOk = if (b.isEmpty) m.selfPair(col("doc_id_a"), col("doc_id_b")) else lit(true)
    lazy val dfreq = b.fold(a)(a.unionByName(_)).groupBy("h").agg(count(lit(1)).as("df"))
    val common = cands match {
      case FullIndex => side(a, "a").join(side(sb, "b"), "h").filter(pairOk)
      case DfCap(maxDf) =>
        val kept = a.join(dfreq.filter(col("df") <= maxDf), Seq("h"), "left_semi")
          .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
        side(kept, "a").join(side(kept, "b"), "h").filter(pairOk)
      case Prefix =>
        require(tau > 0.0 && tau < 1.0, s"prefix filter needs 0 < tau < 1, got $tau")
        def ceilTau(n: Column) = greatest(lit(1L), ceil(n * lit(tau) - lit(1e-9)).cast("long"))
        def prefix(t: DataFrame) = t.join(dfreq, "h")
          .withColumn("__r", row_number().over(Window.partitionBy("doc_id").orderBy("df", "h")))
          .filter(col("__r") <= col("n") - ceilTau(col("n")) + lit(1L))
        // length filter: nb ≥ c ≥ ⌈τ·na⌉, and symmetrically for Jaccard
        val found = side(prefix(a), "a").join(side(if (m.oneSided) sb else prefix(sb), "b"), "h")
          .filter(pairOk && col("nb") >= ceilTau(col("na")) &&
            (lit(m.oneSided) || col("na") >= ceilTau(col("nb"))))
          .select("doc_id_a", "doc_id_b").distinct()
        verify(found, a, sb)
    }
    score(common, m).filter(col(m.name) >= tau)
  }

  private def side(sh: DataFrame, s: String): DataFrame =
    sh.select(col("doc_id").as(s"doc_id_$s"), col("n").as(s"n$s"), col("h"))

  /** One row per shingle each candidate pair (doc_id_a, doc_id_b) shares. */
  private def verify(cands: DataFrame, sa: DataFrame, sb: DataFrame): DataFrame =
    cands.join(side(sa, "a"), "doc_id_a").join(side(sb, "b"), Seq("doc_id_b", "h"))

  private def score(common: DataFrame, m: Measure): DataFrame =
    common.groupBy("doc_id_a", "na", "doc_id_b", "nb").agg(count(lit(1)).as("c"))
      .select(col("doc_id_a"), col("doc_id_b"), m.f(col("na"), col("nb"), col("c")).as(m.name))

  /** ExactSubstr-style span REMOVAL (Lee et al. 2022 — deduplicate the
    * SPAN, not the document): every `w`-token window whose hash occurs
    * anywhere else in the corpus — another document OR earlier in the
    * same one — is a duplicate span; the globally-first occurrence by
    * (doc_id, pos) is kept, every other occurrence is dropped, and the
    * surviving token stream is reconstructed deterministically (a token
    * survives iff no removed window covers it; survivors single-space
    * joined — the operator is defined on the tokenized view). Returns
    * (doc_id, n_tokens, n_removed, clean_text). The reference width for
    * production is w≈50; the q149 catalog entry runs w=10 so the gate
    * corpus exercises it, and DedupSpec pins w=50 removal against a
    * planted-duplicate truth set.
    *
    * Scale shape: occurrence marking shuffles (doc_id, pos, h) longs
    * per window (the payload is never in a key); keep-first is one
    * partial-aggregated min(struct) per hash; removal starts flow back
    * through a doc_id-keyed equi-join (AQE broadcasts when small);
    * reconstruction is per-row HOFs over the resident token array.
    * Window keys share q131's 1e9+7 collision caveat — deterministic,
    * oracle-replayable; production swaps in a 128-bit digest.
    */
  def removeSpans(docs: DataFrame, w: Int): DataFrame = {
    val base = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("whs", org.apache.spark.sql.graft.WindowHashes.windowHashes(col("toks"), w))
    val occ = base.select(col("doc_id"), posexplode(col("whs")).as(Seq("pos", "h")))
    val keeper = occ.groupBy("h")
      .agg(count(lit(1)).as("n"), min(struct(col("doc_id"), col("pos"))).as("k"))
      .filter(col("n") >= 2)
      .select(col("h"), col("k.doc_id").as("kd"), col("k.pos").as("kp"))
    val removed = occ.join(keeper, Seq("h"))
      .filter(!(col("doc_id") === col("kd") && col("pos") === col("kp")))
      .groupBy("doc_id").agg(sort_array(collect_set(col("pos"))).as("starts"))
    base.join(removed, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept", filter(col("toks"), (t, j) =>
        !exists(col("starts"), st => st <= j && j < st + w)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** INGEST-side span removal — [[removeSpans]] for the incremental
    * crawl case (the q100/q101 family's span-level member): the new
    * batch is cleaned against the EXISTING corpus and itself. Existing
    * documents always take precedence (keep-first over (priority,
    * doc_id, pos) with existing = priority 0), so a batch window that
    * already exists anywhere in the corpus is dropped from the batch,
    * and batch-internal duplicates keep their first occurrence — the
    * result is what APPENDING the cleaned batch preserves: no w-token
    * span appears twice in (existing ++ cleaned batch) that wasn't
    * already duplicated inside existing. Only batch documents are
    * rewritten or returned; the existing side contributes window
    * HASHES only — its text never reaches a shuffle or join key.
    */
  def removeSpansIngest(existing: DataFrame, batch: DataFrame, w: Int): DataFrame = {
    val tagged = existing.select(col("doc_id"), col("text")).withColumn("__pri", lit(0))
      .unionByName(batch.select(col("doc_id"), col("text")).withColumn("__pri", lit(1)))
    val base = tagged
      .select(col("__pri"), col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("whs", org.apache.spark.sql.graft.WindowHashes.windowHashes(col("toks"), w))
    val occ = base.select(col("__pri"), col("doc_id"), posexplode(col("whs")).as(Seq("pos", "h")))
    val keeper = occ.groupBy("h")
      .agg(count(lit(1)).as("n"), min(struct(col("__pri"), col("doc_id"), col("pos"))).as("k"))
      .filter(col("n") >= 2)
      .select(col("h"), col("k.__pri").as("kr"), col("k.doc_id").as("kd"), col("k.pos").as("kp"))
    val removed = occ.filter(col("__pri") === 1).join(keeper, Seq("h"))
      .filter(!(col("kr") === 1 && col("doc_id") === col("kd") && col("pos") === col("kp")))
      .groupBy("doc_id").agg(sort_array(collect_set(col("pos"))).as("starts"))
    base.filter(col("__pri") === 1).join(removed, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept", filter(col("toks"), (t, j) =>
        !exists(col("starts"), st => st <= j && j < st + w)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** SOFT dedup: inverse-duplication-frequency resampling. Each member
    * of a duplicate cluster of size m survives with probability 1/m,
    * realized deterministically as admission iff
    * affineHash(doc_id) · m < P — so a cluster contributes one member
    * in expectation, WHICH member survives is unbiased across the
    * cluster (keep-first always privileges the smallest id), and
    * heavily duplicated content is downweighted rather than collapsed.
    * Singletons (m = 1) always pass since every hash is < P. Returns
    * the kept set as (doc_id, cluster, n_members).
    *
    * Scale: prefix-filtered exact-Jaccard pairs (near-linear
    * candidates), keyed-join connected components, one keyed size agg,
    * then a per-row integer predicate — the text column never enters a
    * shuffle key.
    */
  def softDedup(docs: DataFrame, shingleN: Int, threshold: Double): DataFrame = {
    val p = PortableHash.MinHashP
    val (a, b) = PortableHash.minHashCoeffs(0)
    clustered(docs, shingleN, threshold)
      .withColumn("h", (pmod(col("doc_id"), lit(p)) * lit(a) + lit(b)) % lit(p))
      .filter(col("h") * col("n_members") < lit(p))
      .select("doc_id", "cluster", "n_members")
  }

  /** (doc_id, cluster, n_members) for EVERY document of `docs`: connected
    * components over the prefix-filtered exact Jaccard pair graph, sized
    * by [[graft.operators.ConnectedComponents.members]]; a document in no
    * pair is its own cluster of one. The labeling [[softDedup]] and
    * [[bestExemplar]] share.
    */
  private def clustered(docs: DataFrame, shingleN: Int, threshold: Double): DataFrame = {
    val cc = ConnectedComponents.run(ngramJaccardPairsPrefix(docs, shingleN, threshold),
      "doc_id_a", "doc_id_b")
    docs.select("doc_id")
      .join(ConnectedComponents.members(cc), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("n_members", coalesce(col("n_members"), lit(1L)))
  }

  /** 32-bit SimHash fingerprint per document over its distinct token set,
    * using the portable token hash so fingerprints are engine-reproducible.
    * Two hash-partitioned aggregations; rows = tokens × 32 bits (narrow).
    */
  def simHash(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .distinct()
      .select(col("doc_id"), PortableHash.asciiPolyHash(col("tok")).as("hv"))
    toks
      .select(col("doc_id"), col("hv"), explode(sequence(lit(0), lit(31))).as("bit"))
      .groupBy("doc_id", "bit")
      .agg(sum(when(expr("(hv >> bit) & 1") === 1, 1).otherwise(-1)).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(cast(1 as bigint), bit)")).otherwise(0L)).as("simhash"))
  }

  /** Boilerplate removal at non-overlapping chunk granularity — the
    * CCNet/RefinedWeb "duplicated lines" filter adapted to a corpus
    * whose text carries no line structure: the document is cut into
    * consecutive `c`-token chunks (the tail chunk short rather than
    * padded, q133's convention) and a chunk occurring in at least
    * `minDocs` DISTINCT documents is boilerplate — removed from every
    * document that carries it, including repeats within one document.
    * The frequency threshold is what distinguishes this from span-level
    * dedup ([[removeSpans]]): a span duplicated once is content worth
    * keeping exactly once; a chunk showing up across `minDocs`+
    * documents is template/header material that should survive nowhere.
    *
    * Output per input document: chunk counts, removal counts, and the
    * RECONSTRUCTED text of the surviving tokens (so a gate hashes the
    * transform, not just the bookkeeping).
    *
    * Scale shape: chunk hashes are per-row HOFs (no shuffle); the
    * document-frequency count shuffles (chunk_hash, doc_id) longs; the
    * boilerplate set joins back on the hash key; removal positions
    * aggregate per doc_id; the text itself moves only through the final
    * doc_id-keyed join — never on a content key. No step is wider than
    * the narrow keyed aggregations the other dedup operators bound.
    */
  def removeBoilerplate(docs: DataFrame, c: Int, minDocs: Int): DataFrame = {
    val boiler = chunkDocFreq(docs, c)
      .filter(col("df") >= minDocs)
      .select("h")
    applyBoilerplate(docs, boiler, c)
  }

  /** (h, df): the number of DISTINCT documents carrying each chunk hash
    * — the document-frequency table both boilerplate paths (batch
    * [[removeBoilerplate]], streaming boilerMaintIngest) build. The
    * within-document dedup is per-row (`array_distinct` over the chunk
    * array — each doc contributes each hash at most once by
    * construction), so the old (doc_id, h)-keyed `distinct()` EXCHANGE
    * is gone and the one remaining shuffle carries (h, partial count)
    * longs instead of every (doc_id, h) occurrence pair (guide
    * §2.3/§2.4: aggregate before you shuffle, remove shuffles outright).
    */
  def chunkDocFreq(docs: DataFrame, c: Int): DataFrame =
    chunkBase(docs, c)
      .select(explode(array_distinct(col("chs"))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))

  /** (doc_id, ci, h) — the portable hash of every consecutive `c`-token
    * chunk, the tail chunk short rather than padded. The shared chunk
    * extraction of [[removeBoilerplate]] / [[applyBoilerplate]] and the
    * streaming df-maintenance sink. Per-row HOFs only — no shuffle.
    */
  def chunkOccurrences(docs: DataFrame, c: Int): DataFrame =
    chunkBase(docs, c).select(col("doc_id"), posexplode(col("chs")).as(Seq("ci", "h")))

  private def chunkBase(docs: DataFrame, c: Int): DataFrame =
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("nch", expr(s"(size(toks) + ${c - 1}) div $c").cast("int"))
      // Native one-pass chunk hashing (the WindowHashes lesson): values
      // identical to asciiPolyHash(concat_ws(" ", slice(toks, i*c+1, c)))
      // per chunk — DedupSpec pins the equality against the HOF spelling.
      .withColumn("chs",
        org.apache.spark.sql.graft.ChunkHashes.chunkHashes(col("toks"), c))

  /** Remove every chunk whose hash is in `boiler` (a 1-column `h` frame
    * — e.g. the [[removeBoilerplate]] threshold set, or a streamed
    * df-maintenance view) and reconstruct the surviving text. Split out
    * so an INGEST path can clean new batches against an ACCUMULATED
    * boilerplate set without recomputing corpus frequencies.
    */
  def applyBoilerplate(docs: DataFrame, boiler: DataFrame, c: Int): DataFrame = {
    val base = chunkBase(docs, c)
    val occ = base.select(col("doc_id"), posexplode(col("chs")).as(Seq("ci", "h")))
    val removed = occ.join(boiler.select("h"), Seq("h"))
      .groupBy("doc_id").agg(sort_array(collect_set(col("ci"))).as("rem"))
    base.join(removed, Seq("doc_id"), "left")
      .withColumn("rem", coalesce(col("rem"), array().cast("array<int>")))
      .withColumn("kept", filter(col("toks"), (_, j) =>
        !array_contains(col("rem"), floor(j.cast("double") / c).cast("int"))))
      .select(col("doc_id"),
        col("nch").cast("long").as("n_chunks"),
        size(col("rem")).cast("long").as("n_boiler"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Keep the HIGHEST-QUALITY member of every duplicate cluster (the
    * RefinedWeb refinement of keep-min-id): clusters are connected
    * components over the prefix-filtered exact Jaccard pair graph (the
    * [[softDedup]] generator), and the survivor is the member maximizing
    * `quality` (doc_id ascending on ties). `quality` is caller-supplied
    * as a (doc_id, z) frame so the operator stays independent of any one
    * scoring recipe. Singletons survive trivially with their own score.
    *
    * Scale shape: identical to [[softDedup]] up to cluster labeling (no
    * O(n²) step, text never shuffles); the arg-max is a row_number
    * window PARTITIONed BY cluster — partitions are cluster-sized, never
    * corpus-sized.
    */
  def bestExemplar(docs: DataFrame, shingleN: Int, threshold: Double,
      quality: DataFrame): DataFrame = {
    val labeled = clustered(docs, shingleN, threshold)
      .join(quality.select(col("doc_id"), col("z")), Seq("doc_id"))
    val w = Window.partitionBy("cluster").orderBy(col("z").desc, col("doc_id").asc)
    labeled.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "cluster", "n_members", "z")
  }

  /** INTRA-document chunk dedup — the within-doc counterpart of
    * [[removeBoilerplate]]'s cross-doc rule: each document is cut into
    * consecutive `c`-token chunks (tail chunk short, q133's convention)
    * and a chunk REPEATING AN EARLIER CHUNK OF THE SAME DOCUMENT is
    * dropped (first occurrence kept). This is the "remove duplicated
    * lines within a page" half of the CCNet recipe — it fires on
    * scraper artifacts (menus repeated per section, retry-duplicated
    * paragraphs) that no corpus-frequency threshold can see, because
    * the repetition is local to one document.
    *
    * Scale shape: for ordinary documents the ENTIRE operator is per-row
    * projections — chunk hashes are the one-pass native
    * [[org.apache.spark.sql.graft.ChunkHashes]] and the first-occurrence
    * mask is an index-lambda over that array — so the bulk of the plan
    * has ZERO shuffles at any corpus size. The mask is O(nch²) hash
    * compares per document (array_position over a growing prefix), which
    * is quadratic IN ONE ROW: a single pathological multi-million-token
    * document would stall its executor with no recourse. The guard is
    * built in: documents above `maxInlineChunks` chunks (default 4096 ≈
    * a 20k-token doc at c = 5 — past the length bound of every real
    * corpus) are split off and run through the keyed
    * (doc_id, h) → min(ci) respelling instead — O(nch log nch) via one
    * aggregation over ONLY the pathological rows' chunks (text still
    * never shuffles; the exploded rows are (doc_id, ci, h) longs). Both
    * paths are spec-pinned equal, so the split is invisible in the
    * output.
    */
  def dedupChunksWithin(docs: DataFrame, c: Int, maxInlineChunks: Int = 4096): DataFrame = {
    val base = chunkBase(docs, c)
    val small = base.filter(size(col("chs")) <= maxInlineChunks)
    val big = base.filter(size(col("chs")) > maxInlineChunks)
    // rem = chunk indices whose hash already appeared at a smaller index
    // of the SAME doc. slice(chs, 1, i) is the strict prefix (i elements);
    // array_position is 1-based, 0 = absent.
    val remInline = filter(
      transform(col("chs"), (h, i) =>
        when(array_position(slice(col("chs"), lit(1), i), h) > 0, i).otherwise(lit(-1))),
      x => x >= 0)
    val smallMasked = small.withColumn("rem", remInline)
    // pathological-length path: first-occurrence via keyed min-index —
    // linear rows, one bounded shuffle over the big docs' chunk ids only
    val occ = big.select(col("doc_id"), posexplode(col("chs")).as(Seq("ci", "h")))
    val dup = occ
      .join(occ.groupBy("doc_id", "h").agg(min("ci").as("__mn")), Seq("doc_id", "h"))
      .filter(col("ci") > col("__mn"))
      .groupBy("doc_id").agg(sort_array(collect_list(col("ci"))).as("rem"))
    val bigMasked = big.join(dup, Seq("doc_id"), "left")
      .withColumn("rem", coalesce(col("rem"), array().cast("array<int>")))
    smallMasked.unionByName(bigMasked)
      .withColumn("kept", filter(col("toks"), (_, j) =>
        !array_contains(col("rem"), floor(j.cast("double") / c).cast("int"))))
      .select(col("doc_id"),
        col("nch").cast("long").as("n_chunks"),
        size(col("rem")).cast("long").as("n_dup_chunks"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }
}
