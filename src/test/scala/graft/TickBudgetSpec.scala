package graft

import graft.sources.{IncrementalViews, Snapshots, TickBudget}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** Small maintained-view ticks run interpreted, large ones keep
  * whole-stage code generation ([[TickBudget]]); both give the same
  * rows and manifests. */
class TickBudgetSpec extends SparkSpec {
  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tick").toString

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  // a manifest entry without its file name and publish time, which
  // differ between any two writes of the same rows
  private def entries(dir: String): Seq[String] = sorted(
    Snapshots.manifest(spark, dir).drop("path", "committed_at"))

  /** What one pass of the scenario leaves behind, per table. */
  private case class Outcome(tables: Map[String, (Seq[String], Seq[String])],
                             page: Seq[String])

  /** Agg view (min/max with deletes, an emptied group, a NULL key),
    * positional text index and a search page, each fed by two rounds
    * of `mergeCommit`, with the budget forced to `budget`. Returns the
    * outcome, how many queries of the initial builds ran whole-stage
    * code, the classes compiled in the second round, and how many
    * queries that round ran and how many of those ran whole-stage
    * code. */
  private def scenario(budget: Long): (Outcome, Int, Long, Int, Int) = {
    val s = spark; import s.implicits._
    val (ev, agg, docs, text) = (tmpDir(), tmpDir(), tmpDir(), tmpDir())
    Snapshots.commit(Seq[(Long, String, java.lang.Double)](
        (1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "c", 6.0),
        (5L, null, 7.0), (6L, null, 8.0), (7L, "b", null))
      .toDF("id", "g", "x"), ev, statsCol = Some("id"))
    Snapshots.commit(Seq(
        (1L, "spark joins tables by key"), (2L, "a hash join builds one side"),
        (3L, "spark streams micro batches"), (4L, "tables of keys and values"))
      .toDF("doc_id", "text"), docs, statsCol = Some("doc_id"))
    val evChanges = Seq[Seq[(Long, String, java.lang.Double, String, Long)]](Seq(
        (2L, "a", 2.0, "d", 1L),      // the min of "a" leaves
        (4L, "c", 6.0, "d", 1L),      // "c" empties
        (6L, null, 8.0, "d", 1L),     // the NULL group loses its max
        (3L, "b", 0.5, "u", 1L),      // an update lowers "b"'s min
        (8L, "d", 4.0, "u", 1L),      // a new group
        (9L, null, 9.5, "u", 1L)), Seq(
        (1L, "a", 1.0, "d", 2L),      // "a" empties
        (9L, null, 9.5, "d", 2L),     // the NULL group loses its max again
        (7L, "b", 2.5, "u", 2L),      // a NULL value becomes one
        (10L, "e", 1.5, "u", 2L)))
    val docChanges = Seq(Seq(
        (5L, "spark sorts and joins tables", "u", 1L),
        (2L, "", "d", 1L),
        (6L, "ünïcödé spark text", "u", 1L)), Seq(
        (3L, "spark streams tables", "u", 2L),
        (4L, "", "d", 2L),
        (7L, "joins of tables", "u", 2L)))

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit = plans.add(wholeStage(qe.executedPlan))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    def round(i: Int): Seq[String] = {
      Snapshots.mergeCommit(spark, ev, evChanges(i).toDF("id", "g", "x", "op", "seq"),
        Seq("id"))
      IncrementalViews.refreshAgg(spark, ev, agg, Seq("g"), Seq("x"),
        minMaxCols = Seq("x"))
      Snapshots.mergeCommit(spark, docs, docChanges(i).toDF("doc_id", "text", "op", "seq"),
        Seq("doc_id"))
      IncrementalViews.refreshTextIndex(spark, docs, text, "doc_id", "text",
        positional = true)
      IncrementalViews.search(spark, text, Seq("spark", "tables"), k = 3,
        snippetK = 1).collect().map(_.toSeq.mkString("|")).toSeq
    }
    import scala.jdk.CollectionConverters._
    val old = TickBudget.rows
    spark.listenerManager.register(listener)
    TickBudget.rows = budget
    var compiles0 = 0L
    var buildWhole = 0
    val page = try {
      IncrementalViews.refreshAgg(spark, ev, agg, Seq("g"), Seq("x"),
        minMaxCols = Seq("x"))
      IncrementalViews.refreshTextIndex(spark, docs, text, "doc_id", "text",
        positional = true)
      Thread.sleep(1000) // query listeners hear of actions asynchronously
      buildWhole = plans.asScala.count(identity)
      // Spark compiles a few helper classes whatever the factory mode:
      // the partial aggregation's row joiner, a cached frame's column
      // accessor and a sort's ordering, each once per schema and JVM.
      // The first round compiles those (again, when the builds' classes
      // pushed them out of the codegen cache); the second round
      // compiles nothing when it runs interpreted
      round(0)
      Thread.sleep(1000)
      plans.clear()
      compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      round(1)
    } finally TickBudget.rows = old
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    Thread.sleep(1000) // query listeners hear of actions asynchronously
    spark.listenerManager.unregister(listener)
    val tables = (Seq("ev" -> ev, "agg" -> agg, "docs" -> docs) ++
        Seq("post", "dlen", "gstat", "nullc", "pos", "posd")
          .map(v => v -> s"$text/$v"))
      .map { case (k, d) => k -> (sorted(Snapshots.read(spark, d)), entries(d)) }.toMap
    (Outcome(tables, page), buildWhole, compiled, plans.asScala.size,
      plans.asScala.count(identity))
  }

  private def wholeStage(p: SparkPlan): Boolean = p.exists {
    case _: WholeStageCodegenExec => true
    case a: AdaptiveSparkPlanExec => wholeStage(a.executedPlan)
    case q: QueryStageExec => wholeStage(q.plan)
    case m: InMemoryTableScanExec => wholeStage(m.relation.cachedPlan)
    case _ => false
  }

  test("interpreted and generated ticks give identical rows and manifests; the interpreted ones compile nothing") {
    val (small, smallBuildWhole, smallCompiles, smallPlans, smallWhole) =
      scenario(Long.MaxValue)
    val (big, _, _, bigPlans, bigWhole) = scenario(0L)
    assert(small.tables.keySet == big.tables.keySet)
    small.tables.foreach { case (k, (rows, manifest)) =>
      assert(rows == big.tables(k)._1, s"$k rows differ")
      assert(manifest == big.tables(k)._2, s"$k manifest entries differ")
    }
    assert(small.page == big.page && small.page.nonEmpty)
    // the agg view kept the NULL group and dropped the emptied ones
    assert(small.tables("agg")._1.exists(_.startsWith("null|")))
    assert(!small.tables("agg")._1.exists(r => r.startsWith("c|") || r.startsWith("a|")))
    assert(smallCompiles == 0L, s"interpreted ticks compiled $smallCompiles classes")
    assert(smallPlans > 0 && smallWhole == 0,
      s"$smallWhole of $smallPlans interpreted queries ran whole-stage code")
    assert(bigWhole > 0, s"none of $bigPlans generated-code queries ran whole-stage code")
    // the text index's first build cannot know how many tokens a
    // document makes, so it keeps generated code whatever the budget
    assert(smallBuildWhole > 0)
  }

  test("a tick's bound counts the rows its transform makes of each source row, or is unknown") {
    val s = spark; import s.implicits._
    val (docs, text) = (tmpDir(), tmpDir())
    // 10 documents of 100 tokens in one file: an update rewrites the
    // file, so the tick reads 20 documents, 2,000 token rows, next to
    // a positional view of 1,000 rows; counted as documents the bound
    // would be 1,020
    def doc(i: Long, w: String) = (i, Seq.fill(100)(w).mkString(" "))
    Snapshots.commit((1L to 10L).map(doc(_, "alpha")).toDF("doc_id", "text")
      .coalesce(1), docs, statsCol = Some("doc_id"))
    def posTick() =
      IncrementalViews.refreshPositionalIndex(spark, docs, text, "doc_id", "text")
    // a caller's transform, which may fan a row out by any factor
    val vocab = tmpDir()
    def vocabTick() = IncrementalViews.refreshAgg(spark, docs, vocab, Seq("__token"), Nil,
      transform = Some(_.select(col("__change"), explode(split(col("text"), " ")).as("__token"))))
    posTick(); vocabTick()
    /** Queries of `tick`, after one update, that ran whole-stage code. */
    def tickWhole(budget: Long, w: String)(tick: => Unit): Int = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               d: Long): Unit = plans.add(wholeStage(qe.executedPlan))
        override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               e: Exception): Unit = ()
      }
      Snapshots.mergeCommit(spark, docs, Seq((3L, doc(3L, w)._2, "u", 1L))
        .toDF("doc_id", "text", "op", "seq"), Seq("doc_id"))
      val old = TickBudget.rows
      spark.listenerManager.register(listener)
      TickBudget.rows = budget
      try tick
      finally TickBudget.rows = old
      Thread.sleep(1000) // query listeners hear of actions asynchronously
      spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      plans.asScala.count(identity)
    }
    assert(tickWhole(2000L, "beta")(posTick()) > 0)
    assert(tickWhole(4000L, "gamma")(posTick()) == 0)
    assert(tickWhole(Long.MaxValue, "delta")(vocabTick()) > 0)
    assert(Snapshots.read(spark, s"$text/pos").filter($"__token" === "gamma")
      .count() == 100L)
    assert(Snapshots.read(spark, vocab).filter($"__token" === "delta")
      .select("__cnt").as[Long].collect().toSeq == Seq(100L))
  }

  test("a tick whose bound is unknown keeps generated code") {
    val s = spark; import s.implicits._
    val dir = tmpDir()
    Snapshots.commit(Seq((1L, "x")).toDF("k", "v"), dir, statsCol = Some("k"))
    // a change batch read from files has no row bound without a job
    val changesDir = tmpDir()
    Seq((2L, "y", "u", 1L)).toDF("k", "v", "op", "seq").write.mode("overwrite")
      .parquet(changesDir)
    val changes = spark.read.parquet(changesDir)
    assert(changes.queryExecution.analyzed.maxRows.isEmpty)
    var session: org.apache.spark.sql.SparkSession = null
    TickBudget(spark, changes.queryExecution.analyzed.maxRows)(session = _)
    assert(session eq spark)
    TickBudget(spark, Some(1L)) { t =>
      assert(!(t eq spark))
      assert(t.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN")
      assert(spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK") != "NO_CODEGEN")
      // a nested entry point stays on the interpreted session
      TickBudget(t, Some(1L))(n => assert(n eq t))
    }
    Snapshots.mergeCommit(spark, dir, changes, Seq("k"))
    assert(sorted(Snapshots.read(spark, dir)) == Seq("1|x", "2|y"))
  }

  test("tasks of a graft session run under the executor's own class loader") {
    val loader = udf(() =>
      Thread.currentThread().getContextClassLoader.getClass.getName)
    val names = spark.range(0, 4, 1, 4).select(loader()).collect().map(_.getString(0))
    assert(names.nonEmpty)
    assert(!names.exists(_.contains("ExecutorClassLoader")), names.mkString(", "))
  }
}
