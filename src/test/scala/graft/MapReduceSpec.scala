package graft

import graft.mr.MapReduce
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** t1-shape smoke: the generic MR word count vs the in-driver Scala oracle
  * (port of the reference's verify.py:6-15) on real test data.
  */
class MapReduceSpec extends SparkSpec {
  import spark.implicits._
  import MapReduceSpec.Cell

  private lazy val lines: Seq[String] =
    graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select("text").as[String].collect().toSeq

  test("wordCount matches the verify.py-shaped oracle on sf0.001 documents") {
    val got = MapReduce.wordCount(lines.toDS(), numBuckets = 4).collect().toMap
    val want = Oracles.wordCountOracle(lines)
    assert(got == want)
  }

  test("wordCount respects numBuckets for output layout") {
    val ds = MapReduce.wordCount(lines.take(50).toDS(), numBuckets = 3)
    assert(ds.rdd.getNumPartitions == 3)
  }

  test("runAggregating (map-side combine) agrees with run (shuffle-all)") {
    val a = MapReduce.wordCount(lines.toDS(), 4).collect().toMap
    val b = MapReduce.runAggregating[String, Long](
      lines.toDS(),
      l => l.replaceAll("[^A-Za-z]", " ").split("\\s+").toSeq.filter(_.nonEmpty).map(w => (w, 1L)),
      _ + _).collect().toMap
    assert(a == b)
  }

  test("oracle example: tokenizer fidelity on crafted input") {
    val want = Map("It" -> 1L, "s" -> 1L, "a" -> 2L, "test" -> 2L, "A" -> 1L)
    assert(Oracles.wordCountOracle(Seq("It's a test!", "A test a")) == want)
  }

  /** Every node of an executed plan, through AQE's query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  private def shuffles(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeExec])

  test("wordCount's precompiled tokenizer matches the oracle on crafted lines") {
    val crafted = Seq("It's 42 a test!", "digits9in4words 007", "Stra\u00dfe caf\u00e9 na\u00efve",
      "emoji\ud83d\ude00between \ud83d\ude00 alone", "\ttabs\tand  spaces\t", "--leading and trailing--",
      "", "   ", "\ud83d\ude00")
    assert(MapReduce.wordCount(crafted.toDS(), numBuckets = 3).collect().toMap ==
      Oracles.wordCountOracle(crafted))
  }

  test("run is one exchange into numBuckets: each key once, in bucket pmod(hash(key), n), reduced once") {
    val reduced = spark.sparkContext.longAccumulator("reduceFn calls")
    val ds = MapReduce.run[String, Long](lines.toDS(),
      l => l.split(" ").toSeq.filter(_.nonEmpty).map(w => (w, 1L)),
      (k, it) => { reduced.add(1); (k, it.sum) }, numBuckets = 3)
    val keys = ds.collect().map(_._1)
    assert(shuffles(ds.queryExecution.executedPlan) == 1)
    assert(reduced.sum == keys.length && keys.distinct.length == keys.length)
    val placed = ds.rdd.mapPartitionsWithIndex((b, it) => it.map(kv => (kv._1, b))).collect()
    assert(placed.length == keys.length)
    // the layout callers rely on: the bucket `repartition(3, col("_1"))` gives each key
    val want = keys.toSeq.toDF("_1").select(col("_1"), pmod(hash(col("_1")), lit(3)))
      .as[(String, Int)].collect().toMap
    assert(placed.toMap == want)
  }

  test("run and runAggregating on case-class and tuple keys with Double values equal a driver fold") {
    val in = (0 until 300).map(_.toString)
    val cells: String => Seq[(Cell, Double)] = l => {
      val i = l.toInt
      Seq((Cell(i % 7, s"t${i % 3}"), i * 0.5), (Cell(i % 2, "x"), 1.25))
    }
    val pairs: String => Seq[((Int, String), Double)] = l => Seq(((l.toInt % 5, l.takeRight(1)), 0.75))
    def fold[K](m: String => Seq[(K, Double)]) = in.flatMap(m).groupMapReduce(_._1)(_._2)(_ + _)
    assert(MapReduce.run[Cell, Double](in.toDS(), cells, (k, it) => (k, it.sum), 3)
      .collect().toMap == fold(cells))
    assert(MapReduce.runAggregating[Cell, Double](in.toDS(), cells, _ + _)
      .collect().toMap == fold(cells))
    assert(MapReduce.run[(Int, String), Double](in.toDS(), pairs, (k, it) => (k, it.sum), 4)
      .collect().toMap == fold(pairs))
    assert(MapReduce.runAggregating[(Int, String), Double](in.toDS(), pairs, _ + _)
      .collect().toMap == fold(pairs))
    assert(MapReduce.runAggregating[(Int, String), Double](Seq.empty[String].toDS(), pairs, _ + _)
      .collect().isEmpty)
  }

  test("plan guard: run keeps one exchange for a product key; runAggregating plans no sort-fallback aggregate") {
    val cells: String => Seq[(Cell, Long)] = l => Seq((Cell(l.length, l), 1L))
    val r = MapReduce.run[Cell, Long](lines.take(20).toDS(), cells, (k, it) => (k, it.sum), 3)
    r.collect()
    assert(shuffles(r.queryExecution.executedPlan) == 1)
    val a = MapReduce.runAggregating[Cell, Long](lines.toDS(), cells, _ + _)
    a.collect()
    assert(!nodes(a.queryExecution.executedPlan).exists(n =>
      n.isInstanceOf[ObjectHashAggregateExec] || n.isInstanceOf[SortAggregateExec]))
  }
}

object MapReduceSpec {
  case class Cell(row: Int, tag: String)
}
