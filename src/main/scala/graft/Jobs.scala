package graft

import org.apache.spark.sql.SparkSession

/** Job labeling (guide §1.5) + per-phase wall-time accounting for the
  * multi-action storage operators. `labeled` stamps a job description
  * over the dynamic extent of a phase — every Spark job fired inside
  * shows up in the UI (and in `Bench profile`'s per-description rollup)
  * under that name — and accumulates the phase's WALL time in a global
  * table so driver-side cost (planning, FS metadata, collects) is
  * attributable too, not just task time. The accounting is a few map
  * updates per storage operation: negligible against the Spark actions
  * it brackets, and always on, so any run can be profiled. */
object Jobs {
  private val acc =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  def labeled[T](spark: SparkSession, desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    val t0 = System.nanoTime()
    try f
    finally {
      val dt = System.nanoTime() - t0
      acc.merge(desc, (dt, 1L),
        (a, b) => (a._1 + b._1, a._2 + b._2))
      sc.setJobDescription(old)
    }
  }

  /** Snapshot and clear the per-phase wall-time table:
    * desc → (totalNanos, calls). Nested phases double-count their
    * parents by design — read with the nesting in mind. */
  def drain(): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val out = acc.asScala.toMap
    acc.clear()
    out
  }
}
