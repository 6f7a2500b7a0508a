package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.{col, posexplode}
import org.apache.spark.sql.types._

/** Top-k (score desc, id asc) per group as a custom aggregate.
  *
  * The window formulation (`row_number over (partition by g order by s)`
  * then `filter rnk <= k`) must shuffle EVERY candidate row to the
  * group's reducer before discarding all but k — at kNN-join scale that
  * is the entire similarity matrix. As a TypedImperativeAggregate the
  * partial state is a bounded k-element heap per group per map task, so
  * the shuffle carries O(groups × k × partitions-touched) rows instead of
  * O(candidates). Same results, ordering ties broken by id ascending.
  *
  * Output: array<struct<score:double, id:bigint>> sorted score desc,
  * id asc — posexplode for (rank, neighbor) rows.
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]]
  with BinaryLike[Expression] {

  override def left: Expression = score
  override def right: Expression = id

  /** Total keep-order matching the window twin's `ORDER BY score DESC,
    * id ASC` under Spark SQL double semantics: NaN sorts as the LARGEST
    * double (so NaN scores rank first, not get dropped — `s > worst` is
    * false for NaN), and -0.0 ties 0.0 (falling through to the id
    * tie-break), both per SQLOrderingUtil.compareDoubles. compare(a, b)
    * < 0 means a is kept in preference to b.
    */
  private def sqlCompareDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  private val keepOrd: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = sqlCompareDouble(b._1, a._1) // score desc
      if (c != 0) c else java.lang.Long.compare(a._2, b._2) // id asc
    }
  }

  /** PriorityQueue dequeues the ordering's MAXIMUM — under [[keepOrd]]
    * that is the entry ranking last, i.e. the worst kept one.
    */
  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(keepOrd)

  private def insert(buf: mutable.PriorityQueue[(Double, Long)], s: Double, i: Long): Unit = {
    if (buf.size < k) buf.enqueue((s, i))
    else if (keepOrd.compare((s, i), buf.head) < 0) { buf.dequeue(); buf.enqueue((s, i)) }
  }

  override def update(buf: mutable.PriorityQueue[(Double, Long)], input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) insert(buf, s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(b1: mutable.PriorityQueue[(Double, Long)], b2: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    b2.foreach { case (s, i) => insert(b1, s, i) }
    b1
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = buf.toArray.sorted(keepOrd)
    new GenericArrayData(sorted.map { case (s, i) => InternalRow(s, i) })
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.enqueue((bb.getDouble, bb.getLong)))
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): TopKAgg =
    copy(score = newLeft, id = newRight)
}

object TopKAgg {
  def topk(score: Column, id: Column, k: Int): Column =
    ExpressionUtils.column(
      TopKAgg(ExpressionUtils.expression(score), ExpressionUtils.expression(id), k).toAggregateExpression())

  /** The bounded-heap top-k as rows: per `keys` group of `df`, its `k`
    * best rows by (`score` desc, `id` asc), returned as the keys, then
    * `id`, `score` (as double) and the 1-based `rnk`. Each `carry`
    * aggregate is computed in the same aggregate over the whole group
    * and repeats on every row of it.
    */
  def topKRows(df: DataFrame, keys: Seq[Column], score: String, id: String, k: Int,
      carry: Column*): DataFrame = {
    val top = df.groupBy(keys: _*)
      .agg(topk(col(score).cast(DoubleType), col(id), k).as("__top"), carry: _*)
    val kept = top.columns.toSeq.filter(_ != "__top").map(c => col(s"`$c`"))
    top.select(kept :+ posexplode(col("__top")).as(Seq("__r", "__kv")): _*)
      .select(kept ++ Seq(col("__kv.id").as(id), col("__kv.score").as(score),
        (col("__r") + 1).cast(LongType).as("rnk")): _*)
  }
}
