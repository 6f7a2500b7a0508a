package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers: pre-partition fact tables on their join key so
  * repeated joins/aggregations on that key skip the shuffle entirely —
  * the static cousin of repartition(), and the main lever for co-located
  * joins at 100 TB (both sides bucketed by the same key and count ⇒
  * SortMergeJoin with zero Exchange).
  */
object Bucketing {
  /** Write `df` as a bucketed, sorted parquet table — managed (warehouse
    * dir) by default, or EXTERNAL at `path` so callers that cannot rely
    * on the session's warehouse location (the catalog queries, which
    * run under whatever JVM the driver launches) control the files.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, numBuckets: Int,
      path: Option[String] = None): Unit = {
    val w = df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, key)
      .sortBy(key)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }
}
