package graft.mr

import java.util.regex.Pattern

import scala.reflect.ClassTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The reference's generic MapReduce surface, re-expressed on Datasets.
  *
  * The reference (`worker.rs:23-38`) hard-codes a
  * `map: String => Vec<(String, String)>` and
  * `reduce: (String, Vec<String>) => (String, String)` pair and runs them
  * through one hash-partitioned, file-based shuffle: map task m writes
  * `intermediate_map_{m}_reduce_{b}` and reduce task b reads bucket b
  * (worker.rs:96-154), driven by a coordinator state machine
  * (coordinator.rs:14-111). Scheduling, stage barrier, retries and shuffle
  * transport are Spark's DAGScheduler and shuffle service here (SURVEY.md
  * §1.4, §7.5), so this API is only the data-transformation semantics,
  * in the reference's shape: every entry point runs exactly one exchange.
  *
  * Differences from the reference, by design (SURVEY.md §7.4 trap 6):
  *  - reduce receives an Iterator over a sorted bucket, not a materialized
  *    Vec, so large key groups stream/spill instead of OOMing (worker.rs:118
  *    materializes).
  *  - [[runAggregating]] is the paper's combiner (§4.3): map output is
  *    pre-aggregated in a hash table before the shuffle; the reference
  *    shuffles one record per occurrence (worker.rs:30-32).
  */
object MapReduce {
  /** Faithful shape, one exchange like the reference: the map output is
    * hash-partitioned by key into `numBuckets` buckets (the reference
    * coordinator's `-n` flag, main.rs:22-23), each bucket is sorted by key,
    * and `reduceFn` runs once per key over a streaming iterator of its
    * values, so a large group spills with the sort instead of being held in
    * memory. Output partition b holds the keys with
    * `pmod(hash(key), numBuckets) == b`; `reduceFn` returns its input key,
    * as the reference's reduce does, or its result sits in another key's
    * bucket.
    */
  def run[K: Encoder, V: Encoder](
      input: Dataset[String],
      mapFn: String => IterableOnce[(K, V)],
      reduceFn: (K, Iterator[V]) => (K, V),
      numBuckets: Int)(implicit kv: Encoder[(K, V)]): Dataset[(K, V)] = {
    val mapped = input.flatMap(mapFn)
    // Grouping by the very column the exchange partitioned on lets the
    // planner reuse that partitioning; `groupByKey` groups by a derived
    // column and shuffles again. The grouping key is decoded by position (a
    // Row): a product key's encoder resolves its fields by name and fails
    // on a column named `_1`, so `K` is taken from the group's first value.
    val key = Encoders.row(StructType(Seq(mapped.schema("_1"))))
    mapped
      .repartition(numBuckets, col("_1"))
      .groupBy(col("_1"))
      .as[Row, (K, V)](key, kv)
      .mapGroups { (_, it) =>
        val (k, v) = it.next()
        reduceFn(k, Iterator.single(v) ++ it.map(_._2))
      }
  }

  /** Whole-file map granularity — the reference's ACTUAL input contract:
    * the map fn receives the ENTIRE file as a single string (worker.rs:93
    * `fs::read_to_string`; coordinator.rs:216-224 creates one task per glob
    * hit). `wholeTextFiles` packs several files into each split, so what
    * holds here is one map input per file; it is asked for
    * `defaultParallelism` splits so the map stage uses every core. [[run]]'s
    * line granularity is only equivalent for line-local map fns; a map fn
    * needing cross-line context (document stats, multi-line patterns) must
    * come through here. Files must individually fit an executor's memory —
    * same constraint as the reference worker.
    */
  def runWholeFiles[K: Encoder, V: Encoder](
      spark: SparkSession,
      inGlob: String,
      mapFn: String => IterableOnce[(K, V)],
      reduceFn: (K, Iterator[V]) => (K, V),
      numBuckets: Int)(implicit kv: Encoder[(K, V)]): Dataset[(K, V)] = {
    implicit val se: Encoder[String] = Encoders.STRING
    val sc = spark.sparkContext
    val wholeFiles: Dataset[String] =
      spark.createDataset(sc.wholeTextFiles(inGlob, sc.defaultParallelism).values)
    run(wholeFiles, mapFn, reduceFn, numBuckets)
  }

  /** The paper's combiner, for associative and commutative `combine`: each
    * map task folds its output by key in a hash table before the one
    * shuffle, and the reduce side folds the partial values, so shuffle
    * volume is O(distinct keys per map task), not O(records). This is Spark
    * core's map-side combine (`reduceByKey`), whose table
    * (`ExternalAppendOnlyMap`) spills under memory pressure; String and
    * primitive keys and values shuffle through Kryo. Not
    * `groupByKey(...).reduceGroups`: that plans `ObjectHashAggregateExec`,
    * which falls back to sort-based aggregation past 128 keys per task, so
    * on any real vocabulary it sorts instead of hashing.
    */
  def runAggregating[K: Encoder, V: Encoder](
      input: Dataset[String],
      mapFn: String => IterableOnce[(K, V)],
      combine: (V, V) => V)(implicit kv: Encoder[(K, V)]): Dataset[(K, V)] = {
    implicit val kt: ClassTag[K] = implicitly[Encoder[K]].clsTag
    implicit val vt: ClassTag[V] = implicitly[Encoder[V]].clsTag
    input.sparkSession.createDataset(input.rdd.flatMap(mapFn).reduceByKey(combine))
  }

  /** Separator runs of the reference tokenizer, compiled once. */
  private val NonLetters = Pattern.compile("[^A-Za-z]+")

  /** The reference's one built-in job: word count (worker.rs:23-38), over
    * any Dataset of lines. Tokenization matches worker.rs:26-31 —
    * case-sensitive `[A-Za-z]` runs only.
    */
  def wordCount(lines: Dataset[String], numBuckets: Int): Dataset[(String, Long)] = {
    implicit val e1: Encoder[(String, Long)] = Encoders.product[(String, Long)]
    implicit val e2: Encoder[String] = Encoders.STRING
    implicit val e3: Encoder[Long] = Encoders.scalaLong
    run[String, Long](
      lines,
      line => NonLetters.split(line).iterator.filter(_.nonEmpty).map(w => (w, 1L)),
      (k, it) => (k, it.sum),
      numBuckets)
  }
}
