package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Spans and counters recorded from outside graft.
  *
  * A span wraps one call into a layer, in the benchmark's own code:
  * name, start, end, parent and a tick/batch/query tag. Spark's own
  * work under each span is read from listeners — jobs, tasks and task
  * time from a `SparkListener`, Catalyst's analysis/optimization/
  * planning phases from the action's own `QueryExecution.tracker`
  * (planning is never forced a second time) — plus Hadoop
  * file-system counters ([[CountingLocalFileSystem]] operations and
  * Hadoop `FileSystem` bytes written) sampled at the span's boundaries. All of
  * it stays in memory until the run ends. With tracing off, `span`
  * only runs its body. Times are epoch microseconds. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Interval]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
      jobs.put(e.jobId, new Job(e.jobId, e.time * 1000L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          j.taskMs += e.taskInfo.duration
          val m = e.taskMetrics
          if (m != null) {
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            if (m.shuffleWriteMetrics.recordsWritten > 0) j.mapTaskMs += e.taskInfo.duration
          }
        }
      }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p =>
        phases.add(Interval(p.startTimeMs * 1000L, p.endTimeMs * 1000L)))
  }
  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def span[T](name: String, tag: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val fs0 = fsCounters()
      val s = Span(id, name, parent, tag, nowUs(), 0L)
      spans += s
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        val fs1 = fsCounters()
        spans(id) = s.copy(endUs = nowUs(),
          fsOps = fs1._1 - fs0._1, bytesWritten = fs1._2 - fs0._2)
      }
    }

  /** Stop listening and wait until every queued listener event has been
    * delivered, so the job and phase tables are complete. */
  def close(): Unit = if (enabled) {
    org.apache.spark.GraftbenchAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** The jobs that started inside `s`, their intervals and the
    * intervals of the Catalyst phases that began inside it, each cut
    * at the span's end. */
  private def sparkInside(s: Span): (Seq[Job], Seq[Interval], Seq[Interval]) = {
    import scala.jdk.CollectionConverters._
    val js = jobs.values.asScala.filter(j => j.startUs >= s.startUs && j.startUs < s.endUs).toSeq
    val jobIvs = js.map(j => Interval(j.startUs, math.min(math.max(j.endUs, j.startUs), s.endUs)))
    val planIvs = phases.asScala.filter(p => p.startUs >= s.startUs && p.startUs < s.endUs)
      .map(p => Interval(p.startUs, math.min(p.endUs, s.endUs))).toSeq
    (js, jobIvs, planIvs)
  }

  /** Spark's share of one span: the jobs started inside it and the
    * Catalyst phases that began inside it. */
  def attribution(s: Span): Attribution = {
    val (js, jobIvs, planIvs) = sparkInside(s)
    val jobsUs = covered(jobIvs)
    val both = covered(jobIvs ++ planIvs)
    Attribution(
      jobs = js.size, tasks = js.map(_.tasks).sum, taskMs = js.map(_.taskMs).sum,
      shuffleBytes = js.map(_.shuffleBytes).sum,
      planningMs = planIvs.map(_.us).sum / 1000.0,
      jobsMs = jobsUs / 1000.0,
      planningOnlyMs = (both - jobsUs) / 1000.0,
      driverGapMs = (s.us - jobsUs) / 1000.0,
      selfMs = (s.us - both) / 1000.0)
  }

  /** Wall time of `s` covered by none of its child spans and by no
    * Spark job or Catalyst phase that began inside it: time no layer
    * accounts for. */
  def unattributedMs(s: Span): Double = {
    val (_, jobIvs, planIvs) = sparkInside(s)
    val kids = children(s.id).map(k => Interval(k.startUs, k.endUs))
    (s.us - covered(kids ++ jobIvs ++ planIvs)) / 1000.0
  }

  /** Self time of every span under (and including) `root`: its
    * duration minus the part its child spans cover. For a leaf layer
    * span the children are the Spark jobs and Catalyst phases inside
    * it, so its self time is the driver-side work of that layer. */
  def selfTimes(root: Span): Seq[(String, Double)] = {
    val kids = children(root.id)
    val own =
      if (kids.isEmpty) {
        val a = attribution(root)
        Seq(root.name -> a.selfMs, s"${root.name}/spark.jobs" -> a.jobsMs,
          s"${root.name}/catalyst.planning" -> a.planningOnlyMs)
      } else {
        val kidUs = covered(kids.map(k => Interval(k.startUs, k.endUs)))
        Seq(root.name -> (root.us - kidUs) / 1000.0)
      }
    own ++ kids.flatMap(selfTimes)
  }

  /** Spans as JSON lines, written at the end of the run. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"tag":"${s.tag}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"fs_ops":${s.fsOps},""" +
        s""""bytes_written":${s.bytesWritten}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, tag: String,
      startUs: Long, endUs: Long, fsOps: Long = 0L, bytesWritten: Long = 0L) {
    def us: Long = endUs - startUs
    def ms: Double = us / 1000.0
  }
  final class Job(val id: Int, val startUs: Long) {
    @volatile var endUs: Long = startUs
    var tasks = 0L
    var taskMs = 0L
    var mapTaskMs = 0L
    var shuffleBytes = 0L
  }
  final case class Interval(startUs: Long, endUs: Long) {
    def us: Long = math.max(0L, endUs - startUs)
  }
  final case class Attribution(jobs: Int, tasks: Long, taskMs: Long,
      shuffleBytes: Long, planningMs: Double,
      jobsMs: Double, planningOnlyMs: Double, driverGapMs: Double,
      selfMs: Double)

  /** Length of the union of intervals. */
  def covered(ivs: Seq[Interval]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter(_.us > 0).sortBy(_.startUs).foreach { iv =>
      if (iv.startUs > curE) {
        if (curE > curS) total += curE - curS
        curS = iv.startUs; curE = iv.endUs
      } else curE = math.max(curE, iv.endUs)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** (local file-system operations, bytes written to Hadoop file
    * systems), process-wide. */
  def fsCounters(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    (CountingLocalFileSystem.ops.sum(),
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum)
  }
}
