package org.apache.spark.sql

/** The two session calls graft's small-tick path needs. Both are
  * `private[sql]` in Spark's classic API, so they are reached from
  * Spark's own package. */
object GraftSessionAccess {

  /** A new session over `spark`'s SparkContext and shared state (cached
    * data, external catalog, listener bus) with copies of its
    * conf, temp views, functions and query-execution listeners. A conf
    * set on the clone does not reach `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s logical plan as a DataFrame of `spark`, so that its actions
    * plan and run under `spark`'s conf. */
  def rebase(spark: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq spark) df
    else classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
