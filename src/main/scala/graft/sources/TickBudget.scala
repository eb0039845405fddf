package graft.sources

import org.apache.spark.sql.{GraftSessionAccess, SparkSession}

/** Where a maintained-view tick runs. A tick that can process fewer
  * than [[Rows]] rows runs interpreted, on a clone of the caller's
  * session with `spark.sql.codegen.factoryMode=NO_CODEGEN` (which also
  * stops whole-stage collapsing): it compiles no whole-stage class, and
  * at O(churn) sizes compiling costs more than interpreting saves
  * (Spark still generates a few helpers, such as a partial
  * aggregation's row joiner, once per schema and JVM). A larger tick,
  * or one whose bound is unknown, runs on the caller's session with
  * whole-stage code generation as before. The bound comes from the
  * row counts of manifests already in the driver cache; deciding
  * costs no job. See [[graft.GraftSession]] for the measured
  * crossovers behind [[Rows]]. */
private[graft] object TickBudget {
  /** Rows a tick may process and still run interpreted: the lowest
    * crossover measured over the tick shapes, a `mergeCommit`'s
    * (even at 300k rows, generated code faster at 1M). Agg, top-k and
    * text-index ticks and `search` cross over between 0.6M and 3M, so
    * one budget runs no shape interpreted where it was measured
    * slower. */
  val Rows: Long = 300L * 1000

  /** The budget in force: [[Rows]], or what a spec sets to force one
    * path (0 = always generated code, `Long.MaxValue` = interpreted
    * whenever the bound is known). */
  @volatile private[graft] var rows: Long = Rows

  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** `f` on the session the tick runs on: interpreted when `bound`
    * (the rows the tick can read) is below the budget, `spark`
    * otherwise. Frames `f` is handed from the caller must be rebased
    * onto that session ([[GraftSessionAccess.rebase]]). */
  def apply[T](spark: SparkSession, bound: Option[Long])(f: SparkSession => T): T =
    bound match {
      case Some(n) if n < rows => f(interpreted(spark))
      case _ => f(spark)
    }

  // a nested entry point of an interpreted tick keeps its session
  private def interpreted(spark: SparkSession): SparkSession =
    if (spark.conf.get(FactoryMode) == "NO_CODEGEN") spark
    else {
      val s = GraftSessionAccess.cloneSession(spark)
      s.conf.set(FactoryMode, "NO_CODEGEN")
      s
    }
}
