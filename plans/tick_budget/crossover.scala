package graft

import graft.sources.{IncrementalViews, Snapshots, TickBudget}
import org.apache.spark.sql.functions._

/** Timing loop behind TickBudget.Rows: an agg-view tick (sum, min, max
  * with deletes, the view_ticks shape) over sources of n rows, forced
  * interpreted and forced to generated code, alternating. Run it by
  * copying it into src/test/scala/graft/ and running
  * `sbt "testOnly graft.TickCrossoverTiming"`; it prints one
  * `CROSSOVER` line per tick (crossover.txt). */
class TickCrossoverTiming extends SparkSpec {
  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_cross").toString

  private def ms[T](f: => T): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }

  /** (build ms, churn ms): the initial tick reads n source rows; the
    * churn tick merges 300 changes (a third deletes), whose min/max
    * rescan opens the source files those groups live in. */
  private def run(n: Long, budget: Long): (Double, Double, Double) = {
    val (src, view) = (tmpDir(), tmpDir())
    val base = spark.range(0, n, 1, 4).select(col("id").as("event_id"),
      (col("id") % 1500).as("user_id"),
      concat(lit("t"), (col("id") % 7).cast("string")).as("event_type"),
      (col("id") % 1000).cast("double").as("value"))
    Snapshots.commit(base, src, statsCol = Some("event_id"))
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(0 until 300, 1).map { i =>
      val id = (i * 7919L) % n
      org.apache.spark.sql.Row(id, id % 1500, s"t${id % 7}", (i % 97).toDouble,
        if (i % 3 == 0) "d" else "u", 1L)
    }, base.schema.add("op", "string").add("seq", "long")).collect()
    val old = TickBudget.rows
    TickBudget.rows = budget
    try {
      val build = ms(IncrementalViews.refreshAgg(spark, src, view, Seq("user_id", "event_type"),
        Seq("value"), minMaxCols = Seq("value")))
      val local = spark.createDataFrame(java.util.Arrays.asList(changes: _*), changes.head.schema)
      val merge = ms(Snapshots.mergeCommit(spark, src, local, Seq("event_id")))
      val tick = ms(IncrementalViews.refreshAgg(spark, src, view, Seq("user_id", "event_type"),
        Seq("value"), minMaxCols = Seq("value")))
      (build, merge, tick)
    } finally TickBudget.rows = old
  }

  test("interpreted vs generated agg ticks by source rows") {
    // one pass of each at the smallest size first: helper classes,
    // JIT and (for generated code) the cache for every later size
    run(10000L, Long.MaxValue); run(10000L, 0L)
    for (n <- Seq(10000L, 100000L, 300000L, 1000000L, 3000000L); rep <- 1 to 2) {
      val order = if (rep % 2 == 1) Seq(Long.MaxValue, 0L) else Seq(0L, Long.MaxValue)
      order.foreach { b =>
        val (build, merge, tick) = run(n, b)
        println(f"CROSSOVER n=$n%d mode=${if (b == 0L) "codegen" else "interp"}%s rep=$rep%d " +
          f"build_ms=$build%.0f merge_ms=$merge%.0f tick_ms=$tick%.0f")
      }
    }
  }
}
