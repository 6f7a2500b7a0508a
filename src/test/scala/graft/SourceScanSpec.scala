package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards for pieces written once. The vector top-k path: the
  * oracle contract (cosine rounded HALF_UP to 6 dp from precomputed
  * norms; top-k by score desc, then id asc) lives in one helper per
  * piece. The near-duplicate graph family: one round loop with one
  * checkpoint release, one cluster-size tail and one reachability
  * oracle. `src/main` may not grow a second copy of any of them.
  */
class SourceScanSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.map((p: Path) => root.relativize(p).toString -> Files.readString(p))
  }

  /** (file, match) for every match of `re` across `src/main`. */
  private def hits(re: String): Seq[(String, String)] = {
    val r = re.r
    sources.flatMap { case (f, text) => r.findAllIn(text).map(m => f -> m).toSeq }
  }

  test("src/main is readable from the test working directory") {
    assert(Files.isDirectory(root) && sources.size > 20, s"no sources under ${root.toAbsolutePath}")
  }

  test("one rounded cosine: a dot product divided by a norm product appears only in roundedCosine") {
    // dotF32(…) followed by `/ (` — a cosine written out by hand
    val cosines = hits("""dotF32\((?:[^()]|\([^()]*\))*\)\s*/\s*\(""")
    assert(cosines.map(_._1) == Seq("org/apache/spark/sql/graft/VectorExpressions.scala"),
      s"rounded cosines outside VectorExpressions.roundedCosine: $cosines")
  }

  test("one bounded-heap top-k tail: the top-k aggregate is called only from TopKAgg.topKRows") {
    val calls = hits("""\btopk\(""").filter(_._1 != "org/apache/spark/sql/graft/TopKAgg.scala")
    assert(calls.isEmpty, s"TopKAgg.topk called outside TopKAgg.topKRows: $calls")
  }

  test("one nearest-cells probe: a sorted, sliced per-centroid score array only in IvfIndex.nearestCells") {
    val probes = hits("""slice\(\s*array_sort\(""")
    assert(probes.map(_._1) == Seq("graft/sim/IvfIndex.scala"),
      s"per-centroid probes outside IvfIndex.nearestCells: $probes")
  }

  test("one screen → exact re-rank: the cosine rank window is written once, in Similarity") {
    val windows = hits("""Window\.partitionBy\("query_id"\)\s*\.orderBy\(col\("cosine_sim"\)\.desc""")
    assert(windows.map(_._1) == Seq("graft/sim/Similarity.scala"),
      s"cosine rank windows outside Similarity: $windows")
    // q121, q208 and q210 re-rank their screens through the one helper
    assert(hits("""Similarity\.rerankScreen\(""").map(_._1) ==
      Seq.fill(3)("graft/queries/QueriesSim.scala"))
  }

  test("one round loop: localCheckpoint blocks are released only in Rounds") {
    val releases = hits("""lr\.rdd\.unpersist""")
    assert(releases.map(_._1) == Seq("graft/core/Rounds.scala"),
      s"checkpoint releases outside Rounds.unpersistCheckpoint: $releases")
    assert(hits("""def iterate\(""").map(_._1) == Seq("graft/core/Rounds.scala"))
  }

  test("one cluster-size tail: the n_members aggregate keyed on cluster is ConnectedComponents.members") {
    val tails = hits("""groupBy\("cluster"\)\.agg\(count\(lit\(1\)\)\.as\("n_members"\)\)""")
    assert(tails.map(_._1) == Seq("graft/operators/ConnectedComponents.scala"),
      s"cluster-size tails outside ConnectedComponents.members: $tails")
  }

  test("one reachability oracle: the recursive reach clause is written once") {
    val clauses = hits("""UNION SELECT e\.s, r\.reach""")
    assert(clauses.map(_._1) == Seq("graft/queries/QueriesDedup.scala"),
      s"reachability CTEs outside ClusterOracleCtes: $clauses")
  }
}
