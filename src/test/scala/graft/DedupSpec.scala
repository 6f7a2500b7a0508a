package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")

  test("exact dedup: keep-first equals window formulation") {
    val a = Dedup.exactKeepFirst(docs, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    val b = Dedup.exactKeepFirstWindow(docs, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(a.sameElements(b))
  }

  test("prefix-filtered Jaccard join == full inverted index at every threshold") {
    def key(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id_a"), col("doc_id_b"),
        org.apache.spark.sql.functions.round(col("jaccard"), 9).as("j"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    for (tau <- Seq(0.1, 0.3, 0.5, 0.8, 0.95)) {
      val full = key(Dedup.ngramJaccardPairs(docs, shingleN = 3, threshold = tau))
      val pref = key(Dedup.ngramJaccardPairsPrefix(docs, shingleN = 3, threshold = tau))
      assert(pref == full, s"prefix join diverged at tau=$tau: ${pref.size} vs ${full.size}")
    }
  }

  test("prefix-filtered Jaccard join == full index on exact-boundary set sizes") {
    // J hits the threshold EXACTLY (c=2, na=nb=3 -> J=0.5): the ceiling
    // slack must not lose or invent boundary pairs.
    val df = Seq(
      (1L, "a b c d e"),   // trigrams: {abc, bcd, cde}
      (2L, "a b c d f"),   // shares {abc, bcd} with 1 => J = 2/4 = 0.5
      (3L, "x y z w v")).toDF("doc_id", "text")
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().sorted.toSeq
    val full = key(Dedup.ngramJaccardPairs(df, 3, 0.5))
    assert(full == Seq((1L, 2L)), s"fixture must sit exactly on the boundary: $full")
    assert(key(Dedup.ngramJaccardPairsPrefix(df, 3, 0.5)) == full)
  }

  test("df-capped Jaccard: no-op below the ceiling — equals the uncapped index on the gate corpus") {
    // The q233/q234 contract's first half (the q98 headroom pattern):
    // with the production ceiling far above the corpus's max df, the
    // capped join must be bit-identical to the uncapped twin.
    def key(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id_a"), col("doc_id_b"),
        org.apache.spark.sql.functions.round(col("jaccard"), 9).as("j"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val capped = key(Dedup.ngramJaccardPairsCapped(docs, 3, 0.1,
      maxDf = graft.queries.QueriesDedup.PairDfCeiling))
    assert(capped == key(Dedup.ngramJaccardPairs(docs, 3, 0.1)),
      "ceiling bound something at gate scale — headroom claim broken")
  }

  test("df-capped Jaccard: ceiling headroom ≥ 3x the gate corpus's measured max df") {
    // The evidence behind PairDfCeiling=96 must not rot if the driver
    // regenerates the corpus: re-measure max df here and assert the 3x
    // headroom that makes the no-op-at-gate-scale claim safe.
    val maxDf = graft.dedup.Dedup.shingleHashes(docs, 3)
      .groupBy("h").count().agg(max("count")).as[Long].head()
    assert(graft.queries.QueriesDedup.PairDfCeiling >= 3 * maxDf,
      s"gate max df $maxDf too close to ceiling ${graft.queries.QueriesDedup.PairDfCeiling}")
  }

  test("df-capped Jaccard: drops hot shingles above the ceiling, keeps the rest coherent") {
    // The contract's second half, on a planted micro-fixture: 4 docs
    // share boilerplate trigram "b1 b2 b3" (df=4 > cap=3) plus one
    // GENUINE near-dup pair sharing rare content. The capped join must
    // (a) not pair docs whose only overlap is the hot shingle, and
    // (b) still find the genuine pair, with jaccard computed over the
    // SURVIVING universe only — the exact semantics the oracle replays.
    val df = Seq(
      (1L, "b one b two b three p q r s t"), // boilerplate + rare tail A
      (2L, "b one b two b three p q r s u"), // boilerplate + rare tail A' (near-dup of 1)
      (3L, "b one b two b three x y z w v"), // boilerplate + unrelated tail
      (4L, "b one b two b three m n o k j")  // boilerplate + unrelated tail
    ).toDF("doc_id", "text")
    // trigrams "b one b"/"one b two"/"b two b"/"two b three"/"b three p|x|m"
    // appear in all/most docs; cap=3 kills every df=4 shingle
    val capped = Dedup.ngramJaccardPairsCapped(df, 3, 0.25, maxDf = 3)
      .select(col("doc_id_a"), col("doc_id_b"),
        org.apache.spark.sql.functions.round(col("jaccard"), 6).as("j"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(capped.map(t => (t._1, t._2)) == Seq((1L, 2L)),
      s"capped join must keep ONLY the rare-content pair: $capped")
    // surviving universes: doc1 {three p, p q, q r, r s, s t} has n=5-ish;
    // exact value asserted against the uncapped join over pre-stripped text
    val uncappedOnSurvivors = Dedup.ngramJaccardPairs(df, 3, 0.0)
      .filter(col("doc_id_a") === 1 && col("doc_id_b") === 2).count()
    assert(uncappedOnSurvivors == 1, "fixture sanity: 1-2 must overlap in the full index too")
    // and the dense fixture WITHOUT the cap pairs everything — the cap
    // is what removed the boilerplate clique
    val dense = Dedup.ngramJaccardPairs(df, 3, 0.25).count()
    assert(dense > 1, s"fixture degenerate: uncapped join found only $dense pair(s)")
  }

  test("asymmetric prefix join == cross-side pairs of the full index at every threshold") {
    // crossJaccardPrefix(existing, batch) must find exactly the
    // (existing, new) pairs of the symmetric full-index join, no
    // intra-side pairs, at every threshold — the exactness contract of
    // the ingest near-dup screen.
    val tagged = docs.withColumn("m", pmod(col("doc_id"), lit(4)))
    val existing = tagged.filter(col("m") =!= 3).select("doc_id", "text")
    val batch = tagged.filter(col("m") === 3).select("doc_id", "text")
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val cross = Dedup.crossJaccardPrefix(existing, batch, shingleN = 3, threshold = tau)
        .select(col("existing_id"), col("new_id"),
          org.apache.spark.sql.functions.round(col("jaccard"), 9).as("j"))
        .as[(Long, Long, Double)].collect().toSet
      val full = Dedup.ngramJaccardPairs(docs, shingleN = 3, threshold = tau)
        .select(col("doc_id_a"), col("doc_id_b"),
          org.apache.spark.sql.functions.round(col("jaccard"), 9).as("j"))
        .as[(Long, Long, Double)].collect()
        .flatMap { case (a, b, j) =>
          // keep only cross-side pairs, canonicalized (existing, new)
          (a % 4 == 3, b % 4 == 3) match {
            case (false, true) => Some((a, b, j))
            case (true, false) => Some((b, a, j))
            case _ => None
          }
        }.toSet
      assert(cross == full,
        s"asymmetric prefix join diverged at tau=$tau: extra=${(cross -- full).take(3)} missing=${(full -- cross).take(3)}")
    }
  }

  test("one-sided containment prefix filter == full inverted index at every threshold") {
    import graft.text.Text
    // full-index containment formulation (the q72 shape) as ground truth
    def full(tau: Double): Set[(Long, Long, Double)] = {
      val sh = docs.select(col("doc_id"), explode(Text.shingles(Text.tokens(col("text")), 3)).as("sh"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val a = sh.select(col("sh"), col("doc_id").as("doc_id_a"))
      val b = sh.select(col("sh"), col("doc_id").as("doc_id_b"))
      a.join(b, Seq("sh")).filter(col("doc_id_a") =!= col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b").agg(count(lit(1)).as("c"))
        .join(sizes.withColumnRenamed("doc_id", "doc_id_a"), Seq("doc_id_a"))
        .filter(col("c").cast("double") / col("n") >= tau)
        .select(col("doc_id_a"), col("doc_id_b"),
          round(col("c").cast("double") / col("n"), 9).as("j"))
        .as[(Long, Long, Double)].collect().toSet
    }
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val pref = Dedup.containmentPrefix(docs, shingleN = 3, threshold = tau)
        .select(col("doc_id_a"), col("doc_id_b"), round(col("containment"), 9).as("j"))
        .as[(Long, Long, Double)].collect().toSet
      val expected = full(tau)
      assert(pref == expected,
        s"containment prefix diverged at tau=$tau: extra=${(pref -- expected).take(3)} missing=${(expected -- pref).take(3)}")
    }
  }

  test("pair operators: no aggregate on doc_id alone and no join after the pair aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    val tagged = docs.withColumn("m", pmod(col("doc_id"), lit(4)))
    val existing = tagged.filter(col("m") =!= 3).select("doc_id", "text")
    val batch = tagged.filter(col("m") === 3).select("doc_id", "text")
    // set sizes ride on the shingle rows: no per-document size aggregate
    def docSizeAgg(a: Aggregate) = a.groupingExpressions match {
      case Seq(e) => e.references.nonEmpty && e.references.forall(_.name.startsWith("doc_id"))
      case _ => false
    }
    // true when some root-to-leaf path meets a join before any aggregate
    def joinAboveAgg(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false
      case _: Join => true
      case other => other.children.exists(joinAboveAgg)
    }
    for ((name, df) <- Seq(
        "ngramJaccardPairs" -> Dedup.ngramJaccardPairs(docs, 3, 0.5),
        "ngramJaccardPairsPrefix" -> Dedup.ngramJaccardPairsPrefix(docs, 3, 0.5),
        "crossJaccardPrefix" -> Dedup.crossJaccardPrefix(existing, batch, 3, 0.5),
        "containmentPrefix" -> Dedup.containmentPrefix(docs, 3, 0.5))) {
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case a: Aggregate if docSizeAgg(a) => a }.isEmpty,
        s"$name aggregates per document:\n$plan")
      assert(plan.collectFirst { case a: Aggregate => a }.nonEmpty && !joinAboveAgg(plan),
        s"$name joins after the pair aggregate:\n$plan")
    }
  }

  test("shingleHashes: per-row set size n counts each distinct shingle once") {
    val sh = Dedup.shingleHashes(docs, 3)
    val wrong = sh.groupBy("doc_id", "n").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= col("n"))
    assert(wrong.count() == 0, s"n differs from the row count: ${wrong.take(3).toSeq}")
    assert(sh.select("doc_id", "n").distinct().count() == sh.select("doc_id").distinct().count())
    val crafted = Seq(
      (1L, "a b"),          // fewer than 3 tokens: no rows
      (2L, "x y z x y z"),  // trigram "x y z" twice: n = 3, not 4
      (3L, ""),             // empty text: no rows
      (4L, "x y z")).toDF("doc_id", "text")
    val rows = Dedup.shingleHashes(crafted, 3).select("doc_id", "n").as[(Long, Long)].collect()
    assert(rows.toSeq.sorted == Seq((2L, 3L), (2L, 3L), (2L, 3L), (4L, 1L)))
    val pairs = Dedup.ngramJaccardPairs(crafted, 3, 0.1)
      .select("doc_id_a", "doc_id_b", "jaccard").as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((2L, 4L, 1.0 / 3)), s"crafted pairs: $pairs")
  }

  test("exact dedup is idempotent") {
    val once = Dedup.exactKeepFirst(docs, "text", "doc_id")
    val twice = Dedup.exactKeepFirst(once, "text", "doc_id")
    assert(once.count() == twice.count())
  }

  test("exact dedup keeps the smallest id among duplicates") {
    val df = Seq((5L, "x"), (2L, "x"), (9L, "y")).toDF("doc_id", "text")
    val kept = Dedup.exactKeepFirst(df, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(2L, 9L)))
  }

  test("minhash LSH near-dup agrees with exact inverted-index jaccard at tau=0.8") {
    val lsh = Dedup.minHashNearDup(docs, 5, 0.8)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, 5, 0.8)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("LSH band index is per-doc, hence incrementally maintainable: base ∪ batch band rows == full rebuild; served pairs == full-run pairs") {
    import org.apache.spark.sql.functions._
    val d = docs.select(col("doc_id"), col("text"))
    val base = d.filter(pmod(col("doc_id"), lit(4)) =!= 3)
    val batch = d.filter(pmod(col("doc_id"), lit(4)) === 3)
    def bandRows(df: org.apache.spark.sql.DataFrame) = Dedup.lshBandsFromArray(
      Dedup.minHashSignaturesAgg(Dedup.shingleHashes(df, 5), 128), 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "band", "band_sig")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // the index invariant the O(delta) maintenance rests on: a doc's
    // band rows depend on its own text alone
    assert(rows(bandRows(base)) ++ rows(bandRows(batch)) == rows(bandRows(d)),
      "incrementally built band index must equal the full rebuild")
    // and the served result: the q223 catalog entry's pairs equal the
    // full minHashNearDup run restricted to batch-involving pairs
    val full = Dedup.minHashNearDup(d, shingleN = 5, threshold = 0.8)
      .filter(col("doc_id_a") % 4 === 3 || col("doc_id_b") % 4 === 3)
      .select("doc_id_a", "doc_id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = graft.queries.QueriesDedup.q223_lsh_index_maint(spark, sf("sf0.001"))
      .select("doc_id_a", "doc_id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == full, s"incremental serving diverged: ${served.diff(full)} / ${full.diff(served)}")
  }

  test("removeSpans at production width w=50: removal matches the planted truth exactly") {
    // 12 documents of doc-unique filler tokens; docs 0, 4, 8 share a
    // 60-token planted span appended at position 80. At w=50 the only
    // duplicated windows are the 11 fully inside the planted span
    // (boundary-crossing windows mix in doc-unique filler), so the
    // first occurrence (doc 0) keeps everything and docs 4, 8 lose
    // exactly the 60 planted tokens — nothing more, nothing less.
    def letters(n: Int): String = {
      val a = ('a' + n / 26).toChar; val b = ('a' + n % 26).toChar; s"$a$b"
    }
    val planted = (0 until 60).map(i => s"plantedspan${letters(i)}").mkString(" ")
    def filler(d: Int) = (0 until 80).map(i => s"u${letters(d)}v${letters(i)}").mkString(" ")
    val rows = (0 until 12).map { d =>
      (d.toLong, if (d % 4 == 0) filler(d) + " " + planted else filler(d))
    }
    val out = Dedup.removeSpans(rows.toDF("doc_id", "text"), w = 50).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    (0 until 12).foreach { d =>
      val (n, rem, clean) = out(d.toLong)
      if (d == 0) {
        assert(n == 140L && rem == 0L, s"first occurrence must keep the span: doc $d lost $rem")
        assert(clean == filler(d) + " " + planted)
      } else if (d % 4 == 0) {
        assert(rem == 60L, s"doc $d should lose exactly the 60 planted tokens, lost $rem")
        assert(clean == filler(d), s"doc $d must keep its filler intact")
      } else {
        assert(rem == 0L && clean == filler(d), s"unplanted doc $d was modified")
      }
    }
  }

  test("soft dedup: admission equals the 1/m hash rule exactly; singletons always survive") {
    import graft.functions.PortableHash
    // Planted clusters with disjoint vocabularies: sizes 6, 3, and 20
    // singletons. Identical texts -> Jaccard 1.0 pairs, so cluster
    // structure is known exactly.
    val cl6 = (0 until 6).map(i => (100L + i, "alpha beta gamma delta epsilon zeta eta"))
    val cl3 = (0 until 3).map(i => (200L + i, "omicron pi rho sigma tau upsilon phi"))
    // Letter-only tokens: the corpus tokenizer splits on non-letters,
    // so digits inside a token would merge all "unique" docs into one.
    val singles = (0 until 20).map(i => (300L + i,
      (0 until 7).map(j => s"uniq${('a' + i).toChar}x${('a' + j).toChar}").mkString(" ")))
    val df = (cl6 ++ cl3 ++ singles).toDF("doc_id", "text")
    val out = Dedup.softDedup(df, shingleN = 5, threshold = 0.8)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // Test-side replay of the admission rule.
    val p = PortableHash.MinHashP
    val (a, b) = PortableHash.minHashCoeffs(0)
    def keepExpected(id: Long, m: Long): Boolean = ((id % p) * a + b) % p * m < p
    val truth = (cl6.map(_._1 -> ((100L, 6L))) ++ cl3.map(_._1 -> ((200L, 3L))) ++
      singles.map(_._1 -> ((0L, 1L)))).toMap
    truth.foreach { case (id, (cluster0, m)) =>
      val expectCluster = if (m == 1L) id else cluster0
      if (keepExpected(id, m)) {
        assert(out.contains(id), s"doc $id (m=$m) should be admitted")
        assert(out(id) == ((expectCluster, m)), s"doc $id labeled ${out(id)}, want ($expectCluster, $m)")
      } else assert(!out.contains(id), s"doc $id (m=$m) should be dropped")
    }
    // Singletons always pass (h*1 < P for all h) — all 20 present.
    assert(singles.forall(s => out.contains(s._1)), "a singleton was dropped")
    // Determinism: a second run over a repartitioned input is identical.
    val again = Dedup.softDedup(df.repartition(7), shingleN = 5, threshold = 0.8)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(again == out)
  }

  test("simhash: near-identical docs get close fingerprints, disjoint docs do not collide") {
    val df = Seq(
      (1L, "spark query plan join filter scan data table row column"),
      (2L, "spark query plan join filter scan data table row value"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")).toDF("doc_id", "text")
    val fp = Dedup.simHash(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(2L)) < ham(fp(1L), fp(3L)))
  }

  test("removeBoilerplate: frequency-thresholded chunk removal matches planted truth") {
    // Chunk size 5, minDocs 3. boiler = a 5-token chunk planted as the
    // HEAD chunk of docs 1,2,3 (df=3 -> removed everywhere); pair = a
    // chunk shared by docs 4,5 only (df=2 -> kept); doc 6 repeats a
    // chunk twice WITHIN itself (df=1 -> kept: within-doc repetition is
    // not boilerplate); doc 7 is 100% boilerplate and must reconstruct
    // to the empty string.
    val boiler = "alpha beta gamma delta epsilon"
    val pair = "omicron pi rho sigma tau"
    val self = "kappa lambda mu nu xi"
    val df = Seq(
      (1L, s"$boiler one two three four five"),
      (2L, s"$boiler six seven eight nine ten"),
      (3L, s"$boiler eleven twelve thirteen fourteen fifteen"),
      (4L, s"$pair aaa bbb ccc ddd eee"),
      (5L, s"$pair fff ggg hhh iii jjj"),
      (6L, s"$self $self"),
      (7L, boiler)).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplate(df, c = 5, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(out(1L) == ((2L, 1L, 10L, 5L, "one two three four five")))
    assert(out(2L) == ((2L, 1L, 10L, 5L, "six seven eight nine ten")))
    assert(out(3L) == ((2L, 1L, 10L, 5L, "eleven twelve thirteen fourteen fifteen")))
    // df=2 chunk survives in both carriers.
    assert(out(4L) == ((2L, 0L, 10L, 0L, s"$pair aaa bbb ccc ddd eee")))
    assert(out(5L)._2 == 0L)
    // within-doc repeat survives (df counts DISTINCT docs).
    assert(out(6L) == ((2L, 0L, 10L, 0L, s"$self $self")))
    // fully-boilerplate doc reconstructs to ''.
    assert(out(7L) == ((1L, 1L, 5L, 5L, "")))
    // Determinism under repartitioning.
    val again = Dedup.removeBoilerplate(df.repartition(7), c = 5, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(again == out.map { case (k, v) => k -> v._5 })
  }

  test("removeBoilerplate: a boilerplate chunk is removed at EVERY occurrence in a carrier") {
    // Chunk "alpha..epsilon" appears in 3 docs (df=3) and TWICE in doc 1
    // (chunks 0 and 2): both positions must go.
    val b = "alpha beta gamma delta epsilon"
    val df = Seq(
      (1L, s"$b one two three four five $b"),
      (2L, s"$b aaa bbb ccc ddd eee"),
      (3L, s"$b fff ggg hhh iii jjj")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplate(df, c = 5, minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(5)))).toMap
    assert(out(1L) == ((2L, "one two three four five")))
    assert(out(2L) == ((1L, "aaa bbb ccc ddd eee")))
  }

  test("ChunkHashes: native one-pass values equal the HOF asciiPolyHash-of-concat_ws spelling") {
    import org.apache.spark.sql.functions._
    import graft.functions.PortableHash
    // Real corpus text (sf0.001) so token lengths, tail chunks, and
    // empty-token docs all occur; both spellings computed side by side
    // for several chunk sizes, equality required cell-for-cell.
    val toks = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("toks"))
    for (c <- Seq(1, 3, 5, 8)) {
      val nch = expr(s"(size(toks) + ${c - 1}) div $c").cast("int")
      val hof = when(nch > 0,
        transform(sequence(lit(0), nch - 1), i =>
          PortableHash.asciiPolyHash(concat_ws(" ", slice(col("toks"), i * c + 1, lit(c))))))
        .otherwise(array().cast("array<bigint>"))
      val bad = toks.select(col("doc_id"),
          org.apache.spark.sql.graft.ChunkHashes.chunkHashes(col("toks"), c).as("native"),
          hof.as("hof"))
        .filter(col("native") =!= col("hof"))
        .count()
      assert(bad == 0L, s"native/HOF chunk hashes diverge at c=$c on $bad docs")
    }
    // NON-ASCII agreement (the round-9 ADVICE finding): the native
    // expression must fold CODE POINTS, not raw UTF-8 bytes, or any
    // unicodeTokens-fed pipeline silently hashes differently from the
    // HOF spelling. 2-/3-/4-byte encodings all represented.
    val uni = Seq(
      (1L, Seq("héllo", "wörld", "naïve")),
      (2L, Seq("日本語", "中文", "한국어", "ascii")),
      (3L, Seq("emoji", "😀🍕", "mixéd日本")))
      .toDF("doc_id", "toks")
    for (c <- Seq(1, 2)) {
      val nch = expr(s"(size(toks) + ${c - 1}) div $c").cast("int")
      val hof = transform(sequence(lit(0), nch - 1), i =>
        PortableHash.asciiPolyHash(concat_ws(" ", slice(col("toks"), i * c + 1, lit(c)))))
      val bad = uni.select(
          org.apache.spark.sql.graft.ChunkHashes.chunkHashes(col("toks"), c).as("native"),
          hof.as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(bad == 0L, s"native/HOF chunk hashes diverge on non-ASCII tokens at c=$c")
    }
  }

  test("bestExemplar: each cluster keeps its max-quality member, ties to smaller id") {
    // Two identical-text clusters (Jaccard 1.0 internally) plus
    // singletons; quality is caller-supplied, so plant scores directly.
    val cl = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta eta"),
      (3L, "alpha beta gamma delta epsilon zeta eta"),
      (10L, "omicron pi rho sigma tau upsilon phi"),
      (11L, "omicron pi rho sigma tau upsilon phi"),
      (20L, "uniq unique solo only single lone alone"))
    val df = cl.toDF("doc_id", "text")
    val quality = Seq((1L, 0.3), (2L, 0.9), (3L, 0.9), (10L, 0.5), (11L, 0.5), (20L, -1.0))
      .toDF("doc_id", "z")
    val out = Dedup.bestExemplar(df, shingleN = 5, threshold = 0.8, quality)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // Cluster {1,2,3}: max z = 0.9 shared by 2 and 3 -> doc 2 wins the tie.
    // Cluster {10,11}: tie at 0.5 -> doc 10. Singleton 20 survives at any z.
    assert(out.keySet == Set(2L, 10L, 20L))
    assert(out(2L) == ((1L, 3L, 0.9)))
    assert(out(10L) == ((10L, 2L, 0.5)))
    assert(out(20L) == ((20L, 1L, -1.0)))
    // Determinism under repartitioning.
    val again = Dedup.bestExemplar(df.repartition(5), shingleN = 5, threshold = 0.8, quality)
      .collect().map(r => r.getLong(0)).toSet
    assert(again == out.keySet)
  }

  test("dedupChunksWithin: within-doc repeats drop (first kept); cross-doc duplicates untouched") {
    val A = "alpha beta gamma delta epsilon"
    val df = Seq(
      // repeat after filler: chunk 2 repeats chunk 0 -> dropped.
      (1L, s"$A one two three four five $A"),
      // cross-doc duplicate of A but unique within doc 2 -> untouched.
      (2L, s"$A aaa bbb ccc ddd eee"),
      // triple repeat -> only the first survives.
      (3L, s"$A $A $A"),
      // all distinct, short tail chunk -> unchanged.
      (4L, "uu vv ww xx yy zz")).toDF("doc_id", "text")
    val out = Dedup.dedupChunksWithin(df, c = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(out(1L) == ((3L, 1L, 15L, 5L, s"$A one two three four five")))
    assert(out(2L) == ((2L, 0L, 10L, 0L, s"$A aaa bbb ccc ddd eee")))
    assert(out(3L) == ((3L, 2L, 15L, 10L, A)))
    assert(out(4L) == ((2L, 0L, 6L, 0L, "uu vv ww xx yy zz")))
  }

  test("dedupChunksWithin: prefix-scan mask equals the keyed min-ci respelling on real text") {
    // The operator's per-row first-occurrence mask against the shuffle-
    // based (doc_id, h) -> min(ci) formulation the doc names as the
    // unbounded-doc-length fallback — same dup counts on every doc of
    // the real corpus, and idempotence: a second pass removes nothing.
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val perRow = Dedup.dedupChunksWithin(docs, c = 5)
    val keyed = Dedup.chunkOccurrences(docs, 5)
      .withColumn("mn", min("ci").over(Window.partitionBy("doc_id", "h")))
      .filter(col("ci") > col("mn"))
      .groupBy("doc_id").agg(count(lit(1)).as("k"))
    val mism = perRow.select("doc_id", "n_dup_chunks")
      .join(keyed, Seq("doc_id"), "left")
      .withColumn("k", coalesce(col("k"), lit(0L)))
      .filter(col("n_dup_chunks") =!= col("k")).count()
    assert(mism == 0L)
    val second = Dedup.dedupChunksWithin(
      perRow.select(col("doc_id"), col("clean_text").as("text")), c = 5)
    assert(second.agg(sum("n_removed")).head.getLong(0) == 0L)
  }

  test("dedupChunksWithin: the pathological-length guard path equals the inline mask") {
    // The O(nch²) prefix-scan is quadratic IN ONE ROW, so documents past
    // maxInlineChunks divert to the keyed min-ci path (the ADVICE-r9
    // guard). Force the split low so BOTH paths run on the real corpus
    // and assert the output is row-identical to the all-inline run —
    // the guard must be invisible in the result.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    val allInline = rows(Dedup.dedupChunksWithin(docs, c = 5))
    val hybrid = rows(Dedup.dedupChunksWithin(docs, c = 5, maxInlineChunks = 8))
    assert(hybrid == allInline, "guard path diverges from the inline mask")
    // sanity: the low threshold actually diverted a non-trivial share
    val nBig = Dedup.chunkOccurrences(docs, 5)
      .groupBy("doc_id").agg(count(lit(1)).as("nch"))
      .filter(col("nch") > 8).count()
    assert(nBig > 0, "degenerate fixture: no doc exceeded the forced threshold")
  }

  test("LSH index takedown: incremental-with-deletes == rebuild-from-survivors (band-row level)") {
    import graft.streaming.DeltaState
    val d = docs.select(col("doc_id"), col("text"))
    val out = java.nio.file.Files.createTempDirectory("graft-lsh-td").toFile.getAbsolutePath
    val layout = Seq(DeltaState.Table("bands",
      DeltaState.SetU(Seq("band", "band_sig", "doc_id"))))
    def bandRows(df: org.apache.spark.sql.DataFrame) = Dedup.lshBandsFromArray(
      Dedup.minHashSignaturesAgg(Dedup.shingleHashes(df, 5), 128), 4)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("band").cast("long"), col("band_sig").cast("string"),
        col("doc_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // incremental chain: two deltas, then a takedown generation roll
    DeltaState.writeDelta(spark, s"$out/g1", 0L, layout,
      Seq("bands" -> bandRows(d.filter(pmod(col("doc_id"), lit(4)) =!= 3))))
    DeltaState.writeDelta(spark, s"$out/g1", 1L, layout,
      Seq("bands" -> bandRows(d.filter(pmod(col("doc_id"), lit(4)) === 3))))
    val live = d.filter(pmod(col("doc_id"), lit(7)) =!= 2).select("doc_id")
    val rolled = DeltaState.asOf(spark, s"$out/g1", layout.head).get
      .join(live, Seq("doc_id"), "left_semi")
    DeltaState.writeDelta(spark, s"$out/g2", 0L, layout, Seq("bands" -> rolled))
    val incremental = key(DeltaState.asOf(spark, s"$out/g2", layout.head).get)
    // from-scratch rebuild over only the survivor documents
    val rebuild = key(bandRows(d.join(live, Seq("doc_id"), "left_semi")))
    assert(incremental == rebuild,
      s"generation roll diverged from rebuild: ${incremental.size} vs ${rebuild.size} band rows")
    assert(incremental.nonEmpty)
    // and no dead doc's band rows survive in STORAGE (not just in the view)
    val deadInStore = DeltaState.asOf(spark, s"$out/g2", layout.head).get
      .filter(pmod(col("doc_id"), lit(7)) === 2).count()
    assert(deadInStore == 0, "the fold left dead band rows in storage")
  }
}
