package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed (hash-clustered) tables for co-located joins — the 100 TB
  * fact-fact join answer.
  *
  * A shuffle on a 100 TB fact table is the single most expensive step
  * a plan can contain, and it repeats on every join. Writing both
  * fact tables bucketed by the join key (same bucket count) moves that
  * cost to write time, once: Spark records the hash-clustering in the
  * catalog, and every later equi-join on the bucket key plans as a
  * SortMergeJoin with NO Exchange on either side — each bucket pair
  * joins locally. `sortBy` on the bucket key additionally lets the
  * join skip the per-task sort.
  *
  * This is the storage-layout twin of the runtime choices elsewhere in
  * graft (broadcast for dims, AQE skew splitting for outliers):
  * layout work for the joins you run repeatedly, runtime work for the
  * ones you don't.
  */
object Bucketed {

  /** Write `df` as a bucketed+sorted catalog table. */
  def write(
      df: DataFrame,
      table: String,
      numBuckets: Int,
      bucketCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket key. When both were
    * written with the same bucket count over `keys`, the plan contains
    * no Exchange (verify with BucketedSpec / `graft.Bench plan`). */
  def cojoin(
      spark: SparkSession,
      leftTable: String,
      rightTable: String,
      keys: Seq[String]): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), keys)
}
