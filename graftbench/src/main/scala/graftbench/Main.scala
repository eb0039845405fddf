package graftbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Entry point of one benchmark run:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <file>
  *
  * Runs one workload on `local[<cores>]`, checks its outputs, and
  * writes the result (metrics with units, attempted/failed counts,
  * details) as JSON to `--out`. All files it makes live under
  * `--work`. */
object Main {

  /** What a workload hands back to the run. */
  final class Run(val spark: SparkSession, val seed: Long,
      val seconds: Int, val trace: Trace, val work: Path, val entryNs: Long) {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]

    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)
    def fail(what: String, n: Long = 1L): Unit = { failed += n; problems += what }
    def dir(name: String): String = {
      val p = work.resolve(name); Files.createDirectories(p); p.toString
    }
    var calibrationMs = 0.0
    /** Time since the benchmark's entry, less the window-health probe. */
    def sinceEntryMs(): Double = (System.nanoTime() - entryNs) / 1e6 - calibrationMs
  }

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    quietLogs()
    val cores = Runtime.getRuntime.availableProcessors()
    val traced = opts("trace") == "1"
    val sessionStart = System.nanoTime()
    val builder = SparkSession.builder()
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = graft.GraftSession.tuned(builder
      .master(s"local[$cores]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString),
      cores)
    val run = new Run(spark, opts("seed").toLong, opts("seconds").toInt,
      new Trace(spark, traced), work, entryNs)
    run.metric("setup.session_ms", (System.nanoTime() - sessionStart) / 1e6, "ms")
    val cal0 = System.nanoTime()
    val calPre = Health.calibrate(spark)
    run.calibrationMs = (System.nanoTime() - cal0) / 1e6
    try workload match {
      case "weather_stream" => StreamWorkload.run(run)
      case "view_ticks" => ViewWorkload.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        run.fail(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}",
          math.max(1L, run.attempted - run.failed))
        run.attempted = math.max(run.attempted, 1L)
    }
    val calPost = Health.calibrate(spark)
    run.trace.close()
    Layers.report(run, workload)
    run.metric("health.cal_spin_ms_pre", calPre._1, "ms")
    run.metric("health.cal_spin_ms_post", calPost._1, "ms")
    run.metric("health.cal_spark_ms_pre", calPre._2, "ms")
    run.metric("health.cal_spark_ms_post", calPost._2, "ms")
    run.metric("health.peak_rss_mb", Health.peakRssMb(), "MB")
    if (run.trace.enabled)
      run.trace.writeSpans(work.resolve(s"spans-$workload-${run.seed}.jsonl"))
    writeResult(run, Paths.get(opts("out")))
    spark.stop()
  }

  private def writeResult(run: Run, out: Path): Unit = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = run.metrics.map { case (k, (v, u)) =>
      s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }.mkString("{", ",", "}")
    val det = run.detail.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    val probs = run.problems.take(50).map(str).mkString("[", ",", "]")
    val json = s"""{"correct":${run.failed == 0},"attempted":${run.attempted},""" +
      s""""failed":${run.failed},"metrics":$ms,"problems":$probs,"detail":$det}"""
    Files.write(out, json.getBytes("UTF-8"))
  }

  private def quietLogs(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Configurator.setRootLevel(Level.ERROR)
  }
}

/** Window-health probes and process figures. */
object Health {
  /** (spin-loop ms, tiny Spark job ms), min of 3 each: a drifted machine
    * window or a slow scheduler shows here, in the run's own record. */
  def calibrate(spark: SparkSession): (Double, Double) = {
    def spin(): Double = {
      var x = 0x9E3779B97F4A7C15L
      val t0 = System.nanoTime()
      var i = 0
      while (i < (1 << 25)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) print("")
      (System.nanoTime() - t0) / 1e6
    }
    def job(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 20).agg(org.apache.spark.sql.functions.sum("id")).collect()
      (System.nanoTime() - t0) / 1e6
    }
    ((1 to 3).map(_ => spin()).min, (1 to 3).map(_ => job()).min)
  }

  /** Process high-water resident set (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Total bytes of the regular files under `dir`, MB. */
  def dirMb(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() / 1048576.0
      finally s.close()
    }
  }
}

/** Percentiles and medians over samples. */
object Stats {
  /** Nearest-rank percentile (q in 0..1) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
