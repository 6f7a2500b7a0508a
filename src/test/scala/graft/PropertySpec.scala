package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.mr.MapReduce

/** Property tests (SURVEY.md §5.3): driver-side invariants of the word
  * count semantics, plus a Spark-vs-Scala bit-equality check for the
  * portable hash. ScalaCheck generators driven directly (deterministic
  * seed) — the scalatest bridge artifact isn't available offline.
  */
class PropertySpec extends SparkSpec {

  private def forAllN[A](g: Gen[A], n: Int = 60)(f: A => Unit): Unit = {
    var seed = Seed(12345L)
    (0 until n).foreach { _ =>
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }

  private val line: Gen[String] =
    Gen.listOf(Gen.oneOf(
      Gen.alphaStr.map(_.take(8)),
      Gen.oneOf(" ", "\t", "!", "42", "--", "é"))).map(_.mkString(" "))

  private val corpus: Gen[List[String]] = Gen.listOf(line)

  test("word count distributes over concatenation of corpora") {
    forAllN(Gen.zip(corpus, corpus)) { case (a, b) =>
      val merged = Oracles.wordCountOracle(a ++ b)
      val partwise = (Oracles.wordCountOracle(a).toSeq ++ Oracles.wordCountOracle(b).toSeq)
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(merged == partwise)
    }
  }

  test("word count is permutation-invariant") {
    forAllN(corpus) { a =>
      assert(Oracles.wordCountOracle(a) == Oracles.wordCountOracle(a.reverse))
    }
  }

  test("tokens are always non-empty pure-ASCII-letter runs") {
    forAllN(line) { l =>
      val toks = Oracles.wordCountOracle(Seq(l)).keys
      assert(toks.forall(t => t.nonEmpty && t.forall(c => c.isLetter && c < 128)))
    }
  }

  // ---- blocked grid self-join (Similarity.cosineNearDupPairs) ----
  //
  // Cell-membership mirror of the join: an a-side row x lands in cells
  // {(blk(x), j) : j >= blk(x)}, a b-side row y in {(i, blk(y)) : i <=
  // blk(y)}, and the diagonal filter keeps (bi != bj || id_a < id_b).
  private def pmodBlk(id: Long, b: Int): Int = (((id % b) + b) % b).toInt
  private def meetings(x: Long, y: Long, b: Int): Int =
    Seq((x, y), (y, x)).count { case (a1, b1) =>
      val (bi, bj) = (pmodBlk(a1, b), pmodBlk(b1, b))
      bi <= bj && (bi != bj || a1 < b1)
    }

  test("grid join invariant: every unordered id pair meets in exactly one cell (property)") {
    val ids: Gen[List[Long]] = Gen.listOf(Gen.chooseNum(-1000L, 1000L)).map(_.distinct)
    forAllN(Gen.zip(Gen.chooseNum(1, 13), ids), n = 200) { case (b, xs) =>
      for {
        i <- xs.indices; j <- (i + 1) until xs.size
      } assert(meetings(xs(i), xs(j), b) == 1,
        s"pair (${xs(i)}, ${xs(j)}) met ${meetings(xs(i), xs(j), b)} times with $b blocks")
      xs.foreach(x => assert(meetings(x, x, b) == 0, s"self-pair $x must never meet"))
    }
  }

  test("grid join invariant holds in the real plan: all pairs emitted exactly once") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // Negative and non-contiguous ids exercise the pmod block mapping.
    for ((n, blocks) <- Seq((23, 1), (31, 5), (40, 16))) {
      val ids = rng.shuffle((-500L to 500L).toList).take(n)
      val df = ids.map(i => (i, Seq.fill(8)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
      // threshold -1 keeps every pair: the output must be each unordered
      // pair exactly once, with a < b.
      val pairs = graft.sim.Similarity.cosineNearDupPairs(df, -1.0, numBlocks = blocks)
        .select(col("vec_id_a"), col("vec_id_b")).as[(Long, Long)].collect().toSeq
      assert(pairs.length == n * (n - 1) / 2, s"n=$n blocks=$blocks: got ${pairs.length} pairs")
      assert(pairs.distinct.length == pairs.length, s"n=$n blocks=$blocks: duplicate pairs")
      assert(pairs.forall { case (a, b) => a < b })
    }
  }

  /** The shipped driver-side fold — the same function compositions use
    * for bounded literals (PortableHash.asciiPolyHashScala), so this
    * test pins production code, not a test-local reimplementation.
    */
  private def polyHash(s: String): Long =
    graft.functions.PortableHash.asciiPolyHashScala(s)

  test("PortableHash on Spark equals the driver-side fold bit-for-bit") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val gen = Gen.listOfN(64, Gen.alphaStr.map(_.take(20)))
    val samples = (gen(Gen.Parameters.default, Seed(7L)).getOrElse(Nil) :+ "" :+ "a" :+ ("z" * 100)).distinct
    val got = samples.toDF("s")
      .select(col("s"), graft.functions.PortableHash.asciiPolyHash(col("s")).as("h"))
      .as[(String, Long)].collect().toMap
    samples.foreach(s => assert(got(s) == polyHash(s), s"mismatch for '$s'"))
  }

  /** Pure-Scala replay of q193's waterfill (same IEEE division order as
    * the Spark windows), for the property check below.
    */
  private def refWaterfill(caps: Seq[(String, Long)], b: Long): Map[String, (Long, Long)] = {
    val sorted = caps.sortBy { case (s, c) => (c, s) }
    val n = sorted.size
    var sPrev = 0L
    var jstar = -1
    var lam = 0.0
    sorted.zipWithIndex.foreach { case ((_, c), idx) =>
      if (jstar < 0) {
        val j = idx + 1
        val l = (b - sPrev).toDouble / (n - j + 1).toDouble
        if (l <= c) { jstar = j; lam = l }
      }
      sPrev += c
    }
    sorted.zipWithIndex.map { case ((s, c), idx) =>
      val sat = idx + 1 < jstar
      s -> ((if (sat) 1L else 0L, if (sat) c else math.floor(lam).toLong))
    }.toMap
  }

  test("waterfill: spark == closed-form reference; budget conserved within flooring; the level dominates every saturated cap") {
    import spark.implicits._
    val capsGen = Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, Gen.chooseNum(1L, 10000L)))
    forAllN(capsGen, n = 10) { cs =>
      val caps = cs.zipWithIndex.map { case (c, i) => (f"src$i%02d", c) }
      val total = caps.map(_._2).sum
      val b = math.max(1L, total / 3) // strictly below capacity -> level exists
      val got = graft.queries.QueriesPipeline
        .waterfillDoms(caps.toDF("source", "cap"), Some(b))
        .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(got == refWaterfill(caps, b), s"caps=$caps b=$b")
      val alloc = got.values.map(_._2).sum
      assert(alloc <= b && b - alloc < caps.size,
        s"budget not conserved within flooring: alloc=$alloc b=$b n=${caps.size}")
      val satCaps = got.collect { case (s, (1L, a)) => a }
      val unsat = got.collect { case (_, (0L, a)) => a }
      assert(unsat.toSet.size <= 1, "all unsaturated domains must share one level")
      satCaps.foreach(c => unsat.foreach(u =>
        assert(u >= c, s"level $u below a saturated cap $c — not a water level")))
    }
    // crafted: equal caps, budget exactly divisible -> uniform split, nobody saturated
    val eq = Seq(("a", 100L), ("b", 100L), ("c", 100L), ("d", 100L))
    val gotEq = graft.queries.QueriesPipeline
      .waterfillDoms(eq.toDF("source", "cap"), Some(200L))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(gotEq.forall { case (_, sat, a) => sat == 0L && a == 50L },
      s"equal caps must waterfill uniformly: ${gotEq.toSeq}")
  }
}
