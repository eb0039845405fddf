package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Windows
import graft.streaming.WeatherPipeline
import java.sql.Timestamp
import scala.collection.concurrent.TrieMap

/** The micro-batch clock reaches generated code by reference
  * ([[graft.functions.BatchClock]]): a streaming query that stamps
  * rows with `current_timestamp()` keeps one generated class per stage
  * for its whole life, and every row still carries its batch's
  * timestamp. */
class BatchClockSpec extends SparkSpec {
  private val Batches = 10
  /** The first runs of each code path (first batches, first watermark
    * move at feed 2, first state eviction at feed 3) compile new
    * classes in any engine; steady state starts with feed `Warm`. */
  private val Warm = 4
  private val T0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime

  /** What one micro-batch left behind. */
  private case class Batch(id: Long, steady: Boolean, compiles: Long, stamps: Seq[Long],
      clockMs: Long, triggerStartMs: Long, triggerMs: Long)

  /** Runs `out` in update mode through `foreachBatch`, feeding it with
    * `feed(i)` for i in 0 until Batches, each processed before the
    * next: no-data batches are off, so no batch runs between feeds and
    * state eviction runs in the data batches. Per batch: whether a
    * feed from `Warm` on ran it, the code compiles it caused (JVM-wide
    * compile count at the end of its sink minus that at the end of the
    * previous sink), the ms stamps of its rows, and its timestamp from
    * the offset log. */
  private def drive(name: String, out: DataFrame)(feed: Int => Unit): Seq[Batch] = {
    val cp = java.nio.file.Files.createTempDirectory(s"batchclock-$name").toString
    val compilesAt = TrieMap.empty[Long, Long]
    var warmed = 0L
    val stamps = TrieMap.empty[Long, Seq[Long]]
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    val q = try out.writeStream.queryName(name).outputMode("update")
      .option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, id: Long) =>
        stamps(id) = df.select("stamp").collect().toSeq.map(_.get(0) match {
          case ms: Long => ms
          case ts: Timestamp => ts.getTime
        })
        compilesAt(id) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      }
      .start()
    finally spark.conf.unset(noData)
    try {
      (0 until Batches).foreach { i =>
        if (i == Warm) warmed = compilesAt.keys.max
        feed(i)
        q.processAllAvailable()
      }
      // the progress report of the last batch follows its commit
      val deadline = System.nanoTime() + 10000000000L
      while (q.recentProgress.map(_.batchId).maxOption.forall(_ < compilesAt.keys.max)) {
        assert(System.nanoTime() < deadline, "no progress report for the last batch")
        Thread.sleep(10)
      }
    } finally q.stop()
    val progress = q.recentProgress.map(p => p.batchId -> p).toMap
    val last = compilesAt.keys.max
    (1L to last).map { id =>
      val meta = scala.io.Source.fromFile(s"$cp/offsets/$id")
      val clock = try """"batchTimestampMs":(\d+)""".r
        .findFirstMatchIn(meta.mkString).get.group(1).toLong finally meta.close()
      val p = progress(id)
      Batch(id, id > warmed, compilesAt(id) - compilesAt(id - 1), stamps(id), clock,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.get("triggerExecution").longValue)
    }
  }

  /** After the first `Warm` feeds each batch compiles at most
    * `allowance` classes, and every row carries its batch's clock. */
  private def check(batches: Seq[Batch], allowance: Int): Unit = {
    val counts = s"compiles per batch from batch 1: ${batches.map(_.compiles).mkString(" ")}"
    info(counts)
    val steady = batches.filter(_.steady)
    assert(steady.size >= 6, counts)
    steady.foreach(b => assert(b.compiles <= allowance, s"batch ${b.id}; $counts"))
    batches.foreach { b =>
      assert(b.stamps.nonEmpty && b.stamps.forall(_ == b.clockMs), b)
      // the offset log's clock is read inside the trigger that the
      // progress report times (after the source offsets are fetched,
      // so a later millisecond than the report's start stamp)
      assert(b.clockMs >= b.triggerStartMs && b.clockMs <= b.triggerStartMs + b.triggerMs, b)
    }
  }

  private def evs(i: Int, k: String): Seq[Ev] =
    (0 until 20).map(j => Ev(new Timestamp(T0 + i * 60000L + j * 1000L), s"$k${j % 3}", j * 0.25, i * 100L + j))

  test("WeatherPipeline.windowed compiles once and stamps each batch with its clock") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val wind = MemoryStream[Ev]
    val sun = MemoryStream[Ev]
    val out = WeatherPipeline.windowed(Seq(wind.toDF, sun.toDF), "ts", Seq("k"), "v", "o", "30 seconds")
      .withColumnRenamed("processing_end_ts", "stamp")
    // event time moves one minute a batch, so the watermark moves and
    // the state-eviction predicate (Spark's, one compile) is new each
    // time; from batch 3 on each batch evicts a window
    check(drive("clock_windowed", out) { i => wind.addData(evs(i, "w")); sun.addData(evs(i, "s")) },
      allowance = 1)
  }

  test("a stream grouped by Windows.withClock(ProcessingTime) compiles once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Ev]
    val (clocked, clockCol) = Windows.withClock(mem.toDF, Windows.ProcessingTime, "ts")
    // every row of a batch shares its clock, and clocks grow batch to
    // batch: an updated window's max clock is that batch's
    val out = Windows.tumblingAgg(clocked, clockCol, Seq("k"), "v", "o", "1 hour",
      extraAggs = Seq(max(col(clockCol)) -> "stamp"))
    check(drive("clock_processing_time", out)(i => mem.addData(evs(i, "p"))), allowance = 0)
  }

  test("a SQL streaming query selecting current_timestamp() compiles once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Ev]
    mem.toDF.createOrReplaceTempView("clock_sql_in")
    val out = s.sql("SELECT k, v * 2 AS v2, current_timestamp() AS stamp FROM clock_sql_in")
    check(drive("clock_sql", out)(i => mem.addData(evs(i, "q"))), allowance = 0)
  }
}
