package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** ksqlDB's two join families, Spark-first.
  *
  * Stream-stream `JOIN ... WITHIN` (ksqlDB docs surface; the reference
  * pipeline unions its two weather streams, but ksqlDB users join
  * them): Spark's watermarked stream-stream interval join. Both sides
  * carry a watermark; the interval condition lets Spark bound each
  * side's join state to (watermark + interval) — state is
  * O(rate × interval), independent of stream length, exactly the
  * retention ksqlDB's WITHIN buffer keeps.
  *
  * Stream-table join (ksqlDB `JOIN users_table ON ...`): enrich a
  * stream against the *latest state per key* of a changelog. The
  * compaction is [[Relational.latestByOffset]] (= ksqlDB's table
  * materialization) and the join is broadcast when the dimension is
  * small — per-micro-batch hash join, no shuffle of the stream.
  *
  * Both operate identically on batch frames (watermark is a no-op on
  * batch), which is how the oracle/parity checks drive them.
  */
object StreamJoin {

  /** Interval (WITHIN) join: rows match when keys are equal and
    * `right.ts ∈ [left.ts − before, left.ts + after]`. ksqlDB's
    * symmetric `WITHIN 1 HOUR` is `before = after = "1 hour"`.
    *
    * The right side's columns are suffixed to keep both event times
    * visible, mirroring ksqlDB's qualified output columns. The time
    * bound is part of the join condition itself — required for Spark
    * to recognize the interval and bound stream-stream join state; a
    * post-join filter would keep state forever.
    */
  /** @param joinType "inner" or "left_outer" (ksqlDB `LEFT JOIN ...
    *                  WITHIN`): on streams, unmatched left rows emit
    *                  with null right columns once the watermark
    *                  closes their interval. */
  def withinJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      before: String,
      after: String,
      rightSuffix: String = "_r",
      joinType: String = "inner"): DataFrame = {
    val r = right.columns.foldLeft(right)((d, c) =>
      d.withColumnRenamed(c, c + rightSuffix))
    val rts = col(tsCol + rightSuffix)
    val cond = keys.map(k => col(k) === col(k + rightSuffix)).reduce(_ && _) &&
      rts >= col(tsCol) - expr(s"INTERVAL $before") &&
      rts <= col(tsCol) + expr(s"INTERVAL $after")
    left.join(r, cond, joinType).drop(keys.map(_ + rightSuffix): _*)
  }

  /** Stream-table enrichment: compact `changelog` to its latest value
    * per key (ksqlDB table semantics), then join the stream against it.
    * `broadcastDim` should stay true whenever the compacted table fits
    * in executor memory — the common dimension case. */
  def enrich(
      stream: DataFrame,
      changelog: DataFrame,
      keys: Seq[String],
      offsetCol: String,
      valueCols: Seq[String],
      broadcastDim: Boolean = true): DataFrame = {
    val table = Relational.latestByOffset(changelog, keys, offsetCol, valueCols)
      .drop("row_count", "last_offset")
    stream.join(if (broadcastDim) broadcast(table) else table, keys)
  }

  /** Watermark both sides — required before a streaming [[withinJoin]]
    * so the state store can evict; no-op on batch frames. */
  def marked(df: DataFrame, tsCol: String, delay: String): DataFrame =
    if (df.isStreaming) df.withWatermark(tsCol, delay) else df
}
