package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession (local[4])
  * from the same factory as the entry points.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(d: String) = s"/root/testdata/$d"
}

object SparkSpec {
  lazy val session: SparkSession = graft.core.Sessions.local("graft-test", "4")

  /** Deterministic planted-cluster fixture shared by the clustered-
    * regime benchmarks (IvfSpec routing agreement, PqSpec residual
    * inversion): `c` well-separated centers in [-1,1]^dim (splitmix-
    * style scramble of the center index), each point = its center plus
    * an id-derived offset of magnitude `noise`. ids cycle through
    * centers, so the first k sample vectors are one per cluster.
    */
  def plantedClusters(spark: SparkSession, n: Int, c: Int, dim: Int,
      noise: Double = 0.02): org.apache.spark.sql.DataFrame = {
    def u(seed: Long, j: Int): Double = {
      var z = seed * 6364136223846793005L + j * 1442695040888963407L + 1234567L
      z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
      z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
      ((z >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    val rows = (0 until n).map { id =>
      val ctr = id % c
      val v = Array.tabulate(dim)(j => (u(ctr.toLong, j) + noise * u(1000L + id, j)).toFloat)
      (id.toLong, v.toSeq)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
  }
}
