package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Rounds

/** Connected components by iterative min-label propagation — the
  * operator that turns near-duplicate PAIRS into duplicate CLUSTERS
  * (every member labeled with the smallest id reachable from it), so a
  * pipeline can keep one representative per group.
  *
  * Algorithm: every node starts labeled with its own id; each round,
  * a node's label becomes min(own, neighbors' labels); stop when no
  * label changes. Convergence in graph-diameter rounds — near-dup
  * clusters are dense and shallow, so typically 2–4 rounds. Each round
  * is one shuffle join on node id (never an edge-pair blow-up). Both
  * algorithms run in the round loop [[graft.core.Rounds.iterate]]: each
  * round is localCheckpoint()ed so lineage doesn't grow with the
  * iteration count — the standard BSP formulation — and the round it
  * supersedes is freed by [[graft.core.Rounds.unpersistCheckpoint]].
  * [[members]] adds cluster sizes. For adversarially
  * deep graphs (long chains) the doubling variants (Hash-to-Min /
  * small-star large-star, Kiveris et al. 2014) bound rounds by
  * O(log d); the per-round join shape below is unchanged.
  *
  * Deterministic: min is order-independent, so labels do not depend on
  * partitioning (spec'd), and the DuckDB oracle recomputes them with a
  * recursive reachability CTE.
  */
object ConnectedComponents {
  /** Labels every node of the undirected edge set (srcCol, dstCol) with
    * the minimum node id in its component. Output: (node, cluster).
    * Only nodes appearing in at least one edge are labeled.
    *
    * Throws IllegalStateException if labels have not converged after
    * `maxIter` rounds (a component with diameter > maxIter) — partially
    * propagated labels are wrong answers and must never be returned
    * silently. The returned frame reads the last round's materialized
    * localCheckpoint; superseded rounds are released as the loop
    * advances, so executor storage stays O(|nodes|), not O(iters·|nodes|).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, maxIter: Int = 50): DataFrame = {
    val sym = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .union(edges.select(col(dstCol).as("__s"), col(srcCol).as("__d")))
      .distinct()
      .localCheckpoint()
    val init = sym.select(col("__s").as("node")).distinct()
      .withColumn("cluster", col("node"))
      .localCheckpoint()
    var changed = 1L
    // each round carries a __chg flag beside (node, cluster); the next
    // round reads only the labels
    val (last, converged) = Rounds.iterate(init, maxIter) { prev =>
      val labels = prev.select(col("node"), col("cluster"))
      // min label over each node's neighborhood, joined on the node id
      val neighborMin = sym
        .join(labels.withColumnRenamed("node", "__d"), Seq("__d"))
        .groupBy(col("__s").as("node"))
        .agg(min("cluster").as("__nmin"))
      labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("cluster"), coalesce(col("__nmin"), col("cluster"))).as("cluster"),
          (col("__nmin") < col("cluster")).as("__chg"))
    } { round =>
      changed = round.filter(col("__chg")).count()
      changed == 0
    }
    Rounds.unpersistCheckpoint(sym)
    if (!converged) {
      Rounds.unpersistCheckpoint(last)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter for graphs of diameter > $maxIter")
    }
    last.drop("__chg")
  }

  /** (doc_id, cluster, n_members): every labeled node of a [[run]] /
    * [[runAlternating]] result with the size of its cluster — one keyed
    * size aggregate joined back on the cluster id.
    */
  def members(cc: DataFrame): DataFrame =
    cc.join(cc.groupBy("cluster").agg(count(lit(1)).as("n_members")), Seq("cluster"))
      .select(col("node").as("doc_id"), col("cluster"), col("n_members"))

  /** Log-depth variant: alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014). [[run]] needs diameter-many rounds — right for the
    * shallow dense clusters near-dup graphs produce, wrong for
    * adversarially deep graphs (a 10⁶-node chain is 10⁶ shuffles). The
    * star operations contract paths exponentially: O(log² n) rounds
    * worst-case, each round the same keyed join + partial-min shape as
    * [[run]]. Same output contract: (node, cluster = component min).
    *
    * Convergence is detected by edge-set fixpoint: (count, xor of
    * per-edge hashes) — an order-independent signature computed in one
    * partial aggregation, no extra join. Throws on non-convergence like
    * [[run]].
    */
  def runAlternating(edges: DataFrame, srcCol: String, dstCol: String, maxIter: Int = 64): DataFrame = {
    // large-star: around every node u, hang each LARGER neighbor v onto
    // m = min(N(u) ∪ {u}); keeps every component connected while
    // shrinking long paths; produces edges (v > m) pointing downward.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    // small-star: orient every edge high→low, then hang each smaller
    // neighbor (and u itself) onto the minimum; star-compresses the
    // downward forest the large-star built.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .distinct()
      val m = dir.groupBy("u").agg(min("v").as("m"))
      val hangNbrs = dir.join(m, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
      val hangSelf = m.select(col("u").as("a"), col("m").as("b"))
      hangNbrs.union(hangSelf)
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    // (count, xor of hashes): order/partition-independent edge-set
    // signature in ONE partial aggregation (bit_xor is commutative and
    // merges map-side); equality across rounds means the edge set is
    // (modulo a 64-bit collision) unchanged, i.e. the star fixpoint.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.select(xxhash64(col("a"), col("b")).as("h"))
        .agg(count(lit(1)).as("n"), expr("coalesce(bit_xor(h), 0L)").as("x"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    val init = edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    var sig = signature(init)
    val (e, converged) = Rounds.iterate(init, maxIter)(prev => smallStar(largeStar(prev))) { next =>
      val nextSig = signature(next)
      val same = nextSig == sig
      sig = nextSig
      same
    }
    if (!converged) {
      Rounds.unpersistCheckpoint(e)
      throw new IllegalStateException(
        s"ConnectedComponents.runAlternating did not converge in $maxIter rounds")
    }
    // fixpoint edges are star edges (node → component min); centers
    // label themselves
    e.select(col("a").as("node"), col("b").as("cluster"))
      .union(e.select(col("b").as("node"), col("b").as("cluster")))
      .distinct()
  }
}
