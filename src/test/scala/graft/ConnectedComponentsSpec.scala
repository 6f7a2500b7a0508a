package graft

import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labels(edges: Seq[(Long, Long)], parts: Int = 4): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("a", "b").repartition(parts), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chains, cycles and isolated pairs get min-id labels") {
    val got = labels(Seq(
      (1L, 2L), (2L, 3L),           // path -> min 1
      (10L, 11L), (11L, 12L), (12L, 10L), // cycle -> min 10
      (20L, 21L),                   // isolated pair
      (31L, 30L)                    // order within the edge must not matter
    ))
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("a long chain converges (diameter rounds) with the min id at the far end") {
    // 20-node path with the smallest id at one end — worst case for
    // per-round propagation distance.
    val edges = (0L until 19L).map(i => (i + 1, i + 2)) :+ (19L, 0L)
    val got = labels(edges)
    assert(got.values.toSet == Set(0L) && got.size == 21)
  }

  test("non-convergence within maxIter throws instead of returning partial labels") {
    // 6-node path needs ~5 propagation rounds; maxIter=2 must fail loudly.
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.run(edges, "a", "b", maxIter = 2).collect()
    }
    assert(ex.getMessage.contains("did not converge"), ex.getMessage)
  }

  test("labels are partition-invariant") {
    val rng = new scala.util.Random(13)
    val edges = Seq.fill(120)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val p1 = labels(edges, parts = 1)
    val p7 = labels(edges, parts = 7)
    assert(p1 == p7 && p1.nonEmpty)
  }

  private def labelsAlt(edges: Seq[(Long, Long)], parts: Int = 4): Map[Long, Long] =
    ConnectedComponents.runAlternating(edges.toDF("a", "b").repartition(parts), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("alternating star variant equals diameter-bounded propagation on random graphs") {
    val rng = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 30
      val edges = Seq.fill(n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(labelsAlt(edges) == labels(edges), s"trial $trial diverged")
    }
  }

  test("alternating star variant handles a deep chain in far fewer than diameter rounds") {
    // 200-node path (diameter 199): run() would need ~200 rounds; the
    // star variant must finish within its default 64 — convergence
    // inside maxIter IS the log-depth claim, since non-convergence throws.
    val edges = (0L until 199L).map(i => (i, i + 1))
    val got = labelsAlt(edges)
    assert(got.values.toSet == Set(0L) && got.size == 200)
  }

  test("the alternating variant throws when its rounds run out") {
    // a 200-node chain needs several star rounds; one is never a fixpoint
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.runAlternating(edges, "a", "b", maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"), ex.getMessage)
  }

  test("every label is the true minimum of its component (vs driver-side union-find)") {
    val rng = new scala.util.Random(5)
    val edges = Seq.fill(80)((rng.nextInt(200).toLong, rng.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    def union(a: Long, b: Long): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb }
    edges.foreach { case (a, b) => union(a, b) }
    val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
    assert(labels(edges) == expect)
  }
}
