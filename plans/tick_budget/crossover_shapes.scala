package graft

import graft.sources.{IncrementalViews, Snapshots, TickBudget}
import org.apache.spark.sql.functions._

/** Timing loops behind TickBudget.Rows for the tick shapes other than
  * the agg view of crossover.scala: a positional text index (its
  * six sub-views, the token views fanned out by `explode`), the
  * `mergeCommit` that feeds it, a `search` page over it, and a top-k
  * view with its `mergeCommit`. Per size the views are built once
  * with generated code; then each repetition commits 300 changes,
  * ticks and serves, forced interpreted or forced to generated code,
  * alternating, after one warm pass of each mode at the smallest size.
  * Each line carries the bound the entry point computes, in rows, so
  * the crossovers of all shapes read in one unit. Run it by copying it
  * into src/test/scala/graft/ and running
  * `sbt "testOnly graft.TickShapesTiming"`; it prints one `SHAPE`
  * line per tick (crossover_shapes.txt). */
class TickShapesTiming extends SparkSpec {
  import TickShapesTiming.text

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_shapes").toString

  private def ms[T](f: => T): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }

  private def forced[T](budget: Long)(f: => T): T = {
    val old = TickBudget.rows
    TickBudget.rows = budget
    try f finally TickBudget.rows = old
  }

  private def mode(b: Long) = if (b == 0L) "codegen" else "interp"

  private def rows(dir: String, v: Option[Long] = None): Map[String, Long] =
    Snapshots.manifest(spark, dir, v).select("path", "rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Rows of the files that differ between two versions of `dir`. */
  private def feed(dir: String, from: Long, to: Long): Long = {
    val (a, b) = (rows(dir, Some(to)), rows(dir, Some(from)))
    a.collect { case (p, n) if !b.contains(p) => n }.sum +
      b.collect { case (p, n) if !a.contains(p) => n }.sum
  }

  /** Text shape over `n` documents (about 55 tokens each). */
  private def textShape(n: Long, budgets: Seq[Long], reps: Int): Unit = {
    val s = spark; import s.implicits._
    val (docs, idx) = (tmpDir(), tmpDir())
    Snapshots.commit(spark.range(0, n, 1, 4).as[Long].map(i => (i, text(i, 0)))
      .toDF("doc_id", "text"), docs, statsCol = Some("doc_id"))
    forced(0L)(IncrementalViews.refreshTextIndex(spark, docs, idx, "doc_id", "text",
      positional = true))
    var salt = 0
    for (rep <- 1 to reps; b <- if (rep % 2 == 1) budgets else budgets.reverse) {
      salt += 1
      val changes = (0 until 300).map { j =>
        val id = (j * 7919L + salt * 104729L) % (n + 100)
        (id, text(id, salt), if (j % 3 == 0) "d" else "u", 1L)
      }.toDF("doc_id", "text", "op", "seq")
      val v0 = Snapshots.latestVersion(spark, docs).get
      val mergeBound = rows(docs).values.sum + 300
      val merge = ms(forced(b)(Snapshots.mergeCommit(spark, docs, changes, Seq("doc_id"))))
      val v1 = Snapshots.latestVersion(spark, docs).get
      // the largest sub-view bound: pos (and posd) at one row per token
      val pos = rows(s"$idx/pos").values.sum
      val tickBound = (feed(docs, v0, v1) * (pos.toDouble / rows(docs, Some(v0)).values.sum))
        .toLong + pos
      val tick = ms(forced(b)(IncrementalViews.refreshTextIndex(spark, docs, idx, "doc_id",
        "text", positional = true)))
      val searchBound = Seq("post", "pos", "posd", "gstat", "nullc")
        .map(v => rows(s"$idx/$v").values.sum).sum
      val search = ms(forced(b)(IncrementalViews.search(spark, idx, Seq("w3", "w17"),
        k = 10, snippetK = 3).collect()))
      println(f"SHAPE text n=$n%d mode=${mode(b)}%s rep=$rep%d " +
        f"merge_bound=$mergeBound%d merge_ms=$merge%.0f " +
        f"tick_bound=$tickBound%d tick_ms=$tick%.0f " +
        f"search_bound=$searchBound%d search_ms=$search%.0f")
    }
  }

  /** Top-k shape over a source of `n` rows in 1,500 groups. */
  private def topKShape(n: Long, budgets: Seq[Long], reps: Int): Unit = {
    val (src, view) = (tmpDir(), tmpDir())
    val base = spark.range(0, n, 1, 4).select(col("id").as("event_id"),
      (col("id") % 1500).as("user_id"),
      ((col("id") * 7919) % 100003).cast("double").as("value"))
    Snapshots.commit(base, src, statsCol = Some("event_id"))
    def topK() = IncrementalViews.refreshTopK(spark, src, view, Seq("user_id"), "value", 10,
      tieBreak = Seq("event_id"))
    forced(0L)(topK())
    var salt = 0
    for (rep <- 1 to reps; b <- if (rep % 2 == 1) budgets else budgets.reverse) {
      salt += 1
      val changes = spark.createDataFrame(java.util.Arrays.asList((0 until 300).map { i =>
        val id = (i * 7919L + salt * 104729L) % n
        org.apache.spark.sql.Row(id, id % 1500, ((i * salt) % 100003).toDouble,
          if (i % 3 == 0) "d" else "u", 1L)
      }: _*), base.schema.add("op", "string").add("seq", "long"))
      val v0 = Snapshots.latestVersion(spark, src).get
      val mergeBound = rows(src).values.sum + 300
      val merge = ms(forced(b)(Snapshots.mergeCommit(spark, src, changes, Seq("event_id"))))
      val v1 = Snapshots.latestVersion(spark, src).get
      val tickBound = feed(src, v0, v1) + rows(src).values.sum + rows(view).values.sum
      val tick = ms(forced(b)(topK()))
      println(f"SHAPE topk n=$n%d mode=${mode(b)}%s rep=$rep%d " +
        f"merge_bound=$mergeBound%d merge_ms=$merge%.0f " +
        f"tick_bound=$tickBound%d tick_ms=$tick%.0f")
    }
  }

  private val both = Seq(Long.MaxValue, 0L)

  test("interpreted vs generated text-index, search, merge and top-k ticks") {
    textShape(2000L, both, 1); topKShape(10000L, both, 1) // warm both modes
    for (n <- Seq(2000L, 5000L, 15000L, 50000L)) textShape(n, both, 2)
    for (n <- Seq(100000L, 300000L, 1000000L, 3000000L)) topKShape(n, both, 2)
  }
}

object TickShapesTiming {
  private val vocab = (0 until 30).map(i => s"w$i")

  /** 10–99 words over a 30-word vocabulary, as view_ticks' documents. */
  def text(i: Long, salt: Int): String = {
    val r = new scala.util.Random(i * 31 + salt)
    Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.size))).mkString(" ")
  }
}
