package graft

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.sources.{IncrementalViews, Snapshots}

/** The reference's windowed output TABLE (ksqldb-consumer
  * profiles/low_latency.sql:1-27) served END-TO-END from the view
  * layer: events land in a snapshot table batch by batch, a
  * continuously-maintained aggregate view (`maintain` over the change
  * feed, ticking `refreshAgg`) keeps the per-(window, station, metric) state current — the
  * tumbling avg/min/max/count, the min/max offsets, and ksqlDB's
  * in-window LATEST_BY_OFFSET via a monotone max over an
  * (offset, payload) struct — and the served projection must equal
  * the batch operator (`Windows.tumblingAgg`, the q_weather_output
  * shape) recomputed from scratch after every catch-up, retractions
  * included. */
class WeatherOutputViewSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_wov").toString

  private val Fmt = "yyyy-MM-dd HH:mm:ss.SSS"

  // 30-minute tumbling bucket start, derived in the view's transform
  // lens (exact integer micros arithmetic == window(ts, '30 minutes'))
  private val wstartExpr =
    expr("timestamp_micros(unix_micros(ts) div 1800000000 * 1800000000)")

  private val lens: DataFrame => DataFrame = df => df
    .withColumn("wstart", wstartExpr)
    // ksqlDB LATEST_BY_OFFSET(stationName): the max of (offset, value)
    // structs is the payload at the highest offset — a monotone
    // aggregate the view folds without rescans on append-only ticks
    .withColumn("latest", struct(col("event_id").as("ord"), col("props")))

  private def maintainOnce(src: String, v: String, ckpt: String): Unit =
    IncrementalViews.maintain(spark, Seq(src), ckpt) { () =>
      IncrementalViews.refreshAgg(spark, src, v,
        groupKeys = Seq("wstart", "user_id", "event_type"),
        sumCols = Seq("value"), sumScale = 2,
        minMaxCols = Seq("value", "event_id", "latest"),
        transform = Some(lens)); ()
    }.awaitTermination()

  /** The view, projected into the reference output-table columns. */
  private def served(v: String): DataFrame =
    Snapshots.read(spark, v).filter(col("__cnt") > 0).select(
      date_format(col("wstart"), Fmt).as("window_start"),
      date_format(col("wstart") + expr("INTERVAL 30 MINUTES"), Fmt)
        .as("window_end"),
      col("user_id"), col("event_type"),
      graft.functions.Exact.round2(
        col("sum_value").cast("double") / col("__cnt")).as("avg_value"),
      col("min_value"), col("max_value"),
      col("__cnt").as("message_count"),
      col("min_event_id").as("min_ord"),
      col("max_latest").getField("props").as("latest_props"),
      col("max_event_id").as("max_ord"),
      col("user_id").as("key_user_id"))

  /** The batch operator recomputed from the live landing table — the
    * q_weather_output plan, byte-for-byte the same output columns. */
  private def batch(src: String): DataFrame =
    graft.operators.Windows.tumblingAgg(Snapshots.read(spark, src),
      "ts", Seq("user_id", "event_type"), "value", "event_id", "30 minutes",
      extraAggs = Seq(
        max_by(col("props"), col("event_id")) -> "latest_props",
        max(col("event_id")) -> "max_ord"),
      tsFmt = Fmt)
      .withColumn("key_user_id", col("user_id"))

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  test("low_latency.sql output table == maintained view after every catch-up, retractions included") {
    val (src, v, ckpt) = (tmpDir(), tmpDir(), tmpDir())
    val events = Tables.events(spark, sf("sf0.001"))

    // batch 1: two thirds of the stream lands; view catches up
    Snapshots.commit(events.filter(col("event_id") % 3 =!= 0), src,
      statsCol = Some("event_id"))
    maintainOnce(src, v, ckpt)
    assert(canon(served(v)) == canon(batch(src)), "after batch 1")

    // batch 2 (late arrivals into EXISTING windows) + a retraction
    // (the reference has no deletes; the view layer still must serve
    // the corrected table) — ONE catch-up folds both versions
    Snapshots.commit(events.filter(col("event_id") % 3 === 0), src,
      statsCol = Some("event_id"))
    Snapshots.deleteWhere(spark, src, col("event_type") === "error")
    maintainOnce(src, v, ckpt)
    assert(canon(served(v)) == canon(batch(src)), "after batch 2 + delete")
    // sanity: retraction really removed the error rows from the table
    assert(Snapshots.read(spark, src)
      .filter(col("event_type") === "error").count() == 0L)
    assert(served(v).filter(col("event_type") === "error").count() == 0L)
  }
}
