package graftbench

import graft.sources.{IncrementalViews, Snapshots}
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `view_ticks`: maintained views under change, one client, closed loop.
  *
  * Setup commits 80% of the events (stats on `event_id`) and 80% of the
  * documents as snapshot tables and builds two views in full: an agg
  * view keyed by (user_id, event_type) with sum, min and max of
  * `value`, and a positional text index. The timed iteration then runs
  *   (a) an events tick: a seeded CDC batch of inserts, value updates
  *       and deletes through `Snapshots.mergeCommit`, then `refreshAgg`;
  *   (b) a docs tick: held-out inserts plus a few deletes through
  *       `mergeCommit`, then `refreshTextIndex(positional = true)`;
  *   (c) serve: `search(k = 10, snippetK = 3)` and a read of the agg view.
  * Streaming is bypassed. */
object ViewWorkload {
  val Events = 10000
  val Users = 1500
  val Docs = 500
  val EvInserts = 120
  val EvUpdates = 120
  val EvDeletes = 60
  val DocInserts = 25
  val DocDeletes = 3

  val Sites: Seq[String] = Seq(
    "sources.Snapshots.mergeCommit.events", "sources.Snapshots.mergeCommit.docs",
    "sources.IncrementalViews.refreshAgg", "sources.IncrementalViews.refreshTextIndex",
    "sources.IncrementalViews.search", "sources.Snapshots.read")

  /** The graft calls of the workload, on one set of directories. */
  final class Views(spark: SparkSession, root: String) {
    val evSrc = s"$root/events"
    val agg = s"$root/agg"
    val docSrc = s"$root/docs"
    val text = s"$root/text"
    def refreshAgg(): Unit =
      IncrementalViews.refreshAgg(spark, evSrc, agg, Seq("user_id", "event_type"),
        Seq("value"), minMaxCols = Seq("value"))
    def refreshText(): Unit =
      IncrementalViews.refreshTextIndex(spark, docSrc, text, "doc_id", "text",
        positional = true)
    /** Commit the initial tables and build both views in full. */
    def build(events: DataFrame, docs: DataFrame): Unit = {
      Snapshots.commit(events, evSrc, statsCol = Some("event_id"))
      Snapshots.commit(docs, docSrc, statsCol = Some("doc_id"))
      refreshAgg()
      refreshText()
    }
  }

  def run(run: Main.Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val t = run.trace
    val seed = run.seed
    val tables0 = System.nanoTime()
    val allEvents = Gen.eventRows(seed, 0L, Events, Users)
    val docs = Gen.documentRows(seed, Docs)
    val data = run.dir("data")
    write(spark, data, "events", allEvents)
    write(spark, data, "documents", docs)
    val committed = Events * 4 / 5
    val srcEvents = graft.Tables.events(spark, data).filter(col("event_id") < committed)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val srcDocs = graft.Tables.documents(spark, data).filter(col("doc_id") % 5 =!= 4)
      .select("doc_id", "text")
    run.metric("setup.tables_ms", (System.nanoTime() - tables0) / 1e6, "ms")
    // the driver-side mirror of both live tables, for the checks
    val live = mutable.TreeMap.empty[Long, Gen.Event] ++
      allEvents.take(committed).map(e => e.event_id -> e)
    val (docsIn, heldOut) = docs.partition(_.doc_id % 5 != 4)
    val liveDocs = mutable.TreeMap.empty[Long, String] ++ docsIn.map(d => d.doc_id -> d.text)

    val build0 = System.nanoTime()
    val v = new Views(spark, run.dir("views"))
    t.span("setup.view_build") { v.build(srcEvents, srcDocs) }
    run.metric("setup.view_build_ms", (System.nanoTime() - build0) / 1e6, "ms")

    // one timed iteration, right after the build: the first tick of a
    // fresh deployment, code generation and JIT for its plan shapes
    // included. `--seconds` is not used: the iteration count must not
    // depend on how fast the program is, or the metrics would change
    // meaning as it gets faster
    run.metric("setup_s", run.sinceEntryMs() / 1000.0, "s")
    graft.Jobs.drain()

    // (a) events tick
    val evBatch = Gen.eventsChangeBatch(seed, 0, live.values.toIndexedSeq, Events.toLong,
      EvInserts, EvUpdates, EvDeletes, Users)
    val aggMs = timed(t, "view.events_tick", "tick0") {
      // graft.Tables reads event time as a zoned timestamp
      val df = evBatch.toDF().withColumn("ts", col("ts").cast("timestamp"))
      t.span(Sites(0)) { Snapshots.mergeCommit(spark, v.evSrc, df, Seq("event_id")) }
      t.span(Sites(2)) { v.refreshAgg() }
    }
    // (b) docs tick
    val docBatch = Gen.docsChangeBatch(seed, 0, heldOut.toIndexedSeq,
      liveDocs.keys.toIndexedSeq, DocInserts, DocDeletes)
    val textMs = timed(t, "view.docs_tick", "tick0") {
      val df = docBatch.toDF()
      t.span(Sites(1)) { Snapshots.mergeCommit(spark, v.docSrc, df, Seq("doc_id")) }
      t.span(Sites(3)) { v.refreshText() }
    }
    // (c) serve
    val q = Gen.searchTerms(seed, 1).head
    var searchMs = 0.0
    var page = Array.empty[org.apache.spark.sql.Row]
    val serveMs = timed(t, "view.serve", "tick0") {
      val s0 = System.nanoTime()
      page = t.span(Sites(4)) {
        IncrementalViews.search(spark, v.text, q, k = 10, snippetK = 3).collect()
      }
      searchMs = (System.nanoTime() - s0) / 1e6
      t.span(Sites(5)) { Snapshots.read(spark, v.agg).collect() }
    }
    run.attempted += 4
    val phases = graft.Jobs.drain()
    evBatch.foreach { c =>
      if (c.op == "d") live.remove(c.event_id)
      else live(c.event_id) = Gen.Event(c.event_id, c.ts, c.user_id, c.event_type, c.value,
        live.get(c.event_id).map(_.props).getOrElse(""))
    }
    docBatch.foreach(c => if (c.op == "d") liveDocs.remove(c.doc_id) else liveDocs(c.doc_id) = c.text)

    // one sample: p50 and p90 are the iteration's wall time
    val iterMs = aggMs + textMs + serveMs
    run.detail("iteration_ms") = f"[$aggMs%.0f,$textMs%.0f,$serveMs%.0f]"
    run.metric("latency_p50_ms", iterMs, "ms")
    run.metric("latency_p90_ms", iterMs, "ms")
    run.metric("throughput_per_s", (evBatch.size + docBatch.size) / (iterMs / 1000.0), "1/s")
    run.metric("view.agg_tick_p50_ms", aggMs, "ms")
    run.metric("view.text_tick_p50_ms", textMs, "ms")
    run.metric("view.search_p50_ms", searchMs, "ms")
    run.metric("view.disk_mb", Health.dirMb(run.work.resolve("views").toString), "MB")
    run.metric("sources.Snapshots.files_live",
      (Snapshots.fileCount(spark, v.evSrc) + Snapshots.fileCount(spark, v.docSrc)).toDouble, "count")
    run.metric("sources.Snapshots.versions",
      (Seq(v.evSrc, v.docSrc).flatMap(Snapshots.latestVersion(spark, _)).sum + 2).toDouble, "count")
    // a label the iteration did not run is left out: the run then has
    // no value for it and fails
    Layers.PhaseLabels.foreach { l =>
      phases.get(l).foreach(p => run.metric(s"phase.${l.replace(':', '.')}_ms", p._1 / 1e6, "ms"))
    }

    // ---- checks (outside the timed loop) ----
    val c0 = System.nanoTime()
    def mismatch[T](got: Set[T], want: Set[T]): Int = (got diff want).size + (want diff got).size
    val srcRows = Snapshots.read(spark, v.evSrc)
      .select("event_id", "ts", "user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant, r.getLong(2), r.getString(3), r.getDouble(4))).toSet
    val srcBad = mismatch(srcRows, live.values.map(e =>
      (e.event_id, e.ts.toInstant(java.time.ZoneOffset.UTC), e.user_id, e.event_type, e.value)).toSet)
    if (srcBad > 0) run.fail(s"events source differs from the applied changes in $srcBad rows")
    def aggRows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getDecimal(3), r.getDouble(4), r.getDouble(5))).toSet
    val viewRows = aggRows(Snapshots.read(spark, v.agg).filter(col("__cnt") > 0).select(
      col("user_id"), col("event_type"), col("__cnt"),
      col("sum_value").cast("decimal(38,6)"), col("min_value"), col("max_value")))
    val scratch = aggRows(Snapshots.read(spark, v.evSrc).groupBy("user_id", "event_type").agg(
      count(lit(1)), sum(col("value").cast("decimal(38,6)")).cast("decimal(38,6)"),
      min("value"), max("value")))
    val aggBad = mismatch(viewRows, scratch)
    if (aggBad > 0) run.fail(s"agg view differs from a from-scratch aggregation in $aggBad rows")
    val docSrc = Snapshots.read(spark, v.docSrc).select("doc_id", "text")
    val docBad = mismatch(docSrc.collect().map(r => (r.getLong(0), r.getString(1))).toSet, liveDocs.toSet)
    if (docBad > 0) run.fail(s"docs source differs from the applied changes in $docBad rows")
    val want = graft.operators.Corpus.bm25(docSrc, "doc_id", "text", q)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(10).collect()
      .zipWithIndex.map { case (r, k) => (r.getLong(0), k + 1L, r.getDouble(1)) }.toSeq
    val got = page.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank"), r.getAs[Double]("bm25")))
      .toSeq.sortBy(_._2)
    if (got != want) run.fail(s"search page for ${q.mkString(" ")} differs from batch bm25: $got vs $want")
    run.detail("view_checks") =
      f"""{"source_rows":${live.size},"agg_groups":${scratch.size},"page":${got.size},""" +
        f""""check_ms":${(System.nanoTime() - c0) / 1e6}%.0f}"""
  }

  /** A generated table, written where `graft.Tables` expects it:
    * `<dir>/<name>.parquet`, timestamps without a time zone, as in
    * graft's test schema. */
  private def write[T: Encoder](spark: SparkSession, dir: String, name: String,
      rows: Seq[T]): Unit =
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def timed(t: Trace, name: String, tag: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    t.span(name, tag)(f)
    (System.nanoTime() - t0) / 1e6
  }
}
