package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `weather_stream`: the paper's pipeline on two in-memory topics.
  *
  * Wind and sunshine readings arrive Confluent-framed Avro on two
  * MemoryStreams (no Kafka broker here), are decoded by
  * `AvroWire.decodeWeather`, unioned and aggregated over 30-second
  * tumbling windows by `WeatherPipeline.windowed`, and land in an
  * update-mode `foreachBatch` sink. Micro-batches run back to back.
  *
  * Phase 1 is an open loop: one generator thread sends 1,000 msg/s.
  * Its first `WarmSeconds` warm the engine and count as set-up; over
  * the next `--seconds`, each event's latency runs from its due time
  * to the end of the sink call of the micro-batch that carried it.
  * Phase 2 drains `Drains` backlogs one after another, each handed to
  * both topics while the sink of a trigger batch runs, so the next
  * micro-batch takes all of it; the run reports the median drain. */
object StreamWorkload {
  val Rate = 1000
  val ChunkMs = 10
  val Stations = 300
  val LateShare = 0.05
  val MaxJitterMs = 60000L // inside WeatherPipeline's 2-minute watermark
  val FirstMsgs = 2000
  val WarmSeconds = 8 // batch times still fall, as the JVM warms, 4 s in
  val Backlog = 200000
  val Drains = 3
  val Backlog1Core = 40000
  val SchemaId = 1
  val WindowMs = 30000L

  /** Final emitted state of one (window, metric, station) group. */
  final case class Agg(count: Long, min: Double, max: Double, avg: Double, minOrd: Long)

  /** One running pipeline with its sink state and progress log. */
  final class Pipeline(spark: SparkSession, name: String, partitions: Int,
      checkpoint: String) {
    implicit private val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val wind = MemoryStream[Array[Byte]](partitions)
    val sun = MemoryStream[Array[Byte]](partitions)
    val emittedNs = new ConcurrentHashMap[Long, java.lang.Long]()
    val state = new ConcurrentHashMap[(String, String, String), Agg]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    /** Run once at the end of the next sink call, on the query's thread. */
    @volatile var onSink: () => Unit = null

    private def decoded(m: MemoryStream[Array[Byte]]): DataFrame =
      graft.sources.AvroWire.decodeWeather(m.toDF())
        .withColumn("ts", timestamp_millis(col("producer_ts")))

    private val out = graft.streaming.WeatherPipeline.windowed(
      Seq(decoded(wind), decoded(sun)), "ts", Seq("metric", "station_id"),
      "value", "producer_ts", "30 seconds")

    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == name) progress.add(e.progress)
    }
    spark.streams.addListener(listener)

    val query: StreamingQuery = out.writeStream
      .queryName(name)
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        df.select("window_start", "metric", "station_id", "message_count",
          "min_value", "max_value", "avg_value", "min_ord").collect().foreach { r =>
          state.put((r.getString(0), r.getString(1), r.getString(2)),
            Agg(r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7)))
        }
        emittedNs.put(batchId, System.nanoTime())
        val hook = onSink
        if (hook != null) { onSink = null; hook() }
      }
      .start()

    /** Wait until every message added so far is processed, and until
      * the progress report of every finished batch has arrived. */
    def settle(): Unit = {
      query.processAllAvailable()
      val last = query.lastProgress.batchId
      val deadline = System.nanoTime() + 10000000000L
      while (!progress.asScala.exists(_.batchId >= last) && System.nanoTime() < deadline)
        Thread.sleep(5)
    }

    def add(e: Encoded): Unit = {
      if (e.wind.nonEmpty) wind.addData(e.wind)
      if (e.sun.nonEmpty) sun.addData(e.sun)
    }

    /** Hand `backlog` to both topics during the sink call of a batch
      * started by `trigger`, so one micro-batch takes the whole backlog;
      * returns when it is processed, with the time it was handed over. */
    def drain(trigger: Encoded, backlog: Encoded): Long = {
      val handed = new java.util.concurrent.atomic.AtomicLong()
      // stamped once the backlog is in the sources: the drain time is
      // the engine's, not the encoding of the rows by `addData`
      onSink = () => { add(backlog); handed.set(System.nanoTime()) }
      add(trigger)
      settle()
      while (handed.get == 0L) { Thread.sleep(5); settle() }
      settle()
      handed.get
    }

    /** The batches with input emitted after `handedNs`. */
    def drained(handedNs: Long): Seq[StreamingQueryProgress] =
      batches.filter(b => b.numInputRows > 0 && emittedNs.get(b.batchId) > handedNs)

    def stop(): Unit = {
      query.stop()
      spark.streams.removeListener(listener)
    }

    def batches: Seq[StreamingQueryProgress] =
      progress.asScala.toSeq.groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId)
  }

  /** Readings encoded for the wind and the sunshine topic. */
  final case class Encoded(wind: Seq[Array[Byte]], sun: Seq[Array[Byte]])
  def encode(r: Seq[Gen.Reading]): Encoded = {
    val (w, s) = r.partition(x => Gen.isWind(x.metric))
    Encoded(w.map(Gen.encodeReading(_, SchemaId)), s.map(Gen.encodeReading(_, SchemaId)))
  }

  /** One `addData` call of the generator: the source and offset that
    * carried it and the indexes of its events. */
  final case class Sent(source: Int, offset: Long, events: Array[Int])

  def run(run: Main.Run): Unit = {
    val spark = run.spark
    val t = run.trace
    val seed = run.seed
    // event time advances 1 ms per message: first batch, open loop, backlog
    val first = Gen.readings(seed, "first", FirstMsgs, Gen.WeatherEpochMs, 1.0,
      Stations, LateShare, MaxJitterMs)
    val n1 = Rate * (WarmSeconds + run.seconds)
    val timedFrom = Rate * WarmSeconds
    val openStart = Gen.WeatherEpochMs + FirstMsgs
    val open = Gen.readings(seed, "open", n1, openStart, 1000.0 / Rate, Stations,
      LateShare, MaxJitterMs)
    val backlog = Gen.readings(seed, "backlog", Drains * Backlog,
      openStart + n1 * 1000L / Rate, 1.0, Stations, LateShare, MaxJitterMs)
    // pre-encode everything, so the generator thread only sends
    val perChunk = Rate * ChunkMs / 1000
    val chunks = (0 until n1 / perChunk).map { k =>
      val (w, s) = (k * perChunk until (k + 1) * perChunk).toArray
        .partition(i => Gen.isWind(open(i).metric))
      Seq(w, s).map(ix => (ix, ix.map(i => Gen.encodeReading(open(i), SchemaId)).toSeq))
    }
    val firstEnc = encode(first.toSeq)
    // each drain: its first message triggers a batch, the rest is the backlog
    val drainEnc = backlog.grouped(Backlog).map(b => (encode(b.take(1).toSeq), encode(b.drop(1).toSeq))).toSeq

    val startT = System.nanoTime()
    val p = t.span("streaming.start") {
      val p = new Pipeline(spark, "weather", 2, run.dir("checkpoints/weather"))
      p.add(firstEnc)
      p.settle()
      p
    }
    run.metric("setup.stream_start_ms", (System.nanoTime() - startT) / 1e6, "ms")

    // ---- phase 1: open loop ----
    val sent = new ConcurrentLinkedQueue[Sent]()
    val lagMs = ArrayBuffer.empty[Double]
    val openNs = System.nanoTime() + 50000000L
    val openEpochMs = System.currentTimeMillis() + 50L
    val dueNs: Int => Long = i => openNs + (i + 1).toLong * 1000000000L / Rate
    val gen = new Thread(() => {
      chunks.indices.foreach { k =>
        val at = dueNs((k + 1) * perChunk - 1)
        var now = System.nanoTime()
        while (now < at) {
          val ms = (at - now) / 1000000L
          if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
          now = System.nanoTime()
        }
        lagMs += (now - at) / 1e6
        Seq(p.wind, p.sun).zip(chunks(k)).zipWithIndex.foreach {
          case ((src, (ix, bytes)), si) if ix.nonEmpty =>
            val o = src.addData(bytes)
              .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
            sent.add(Sent(si, o, ix))
          case _ => ()
        }
      }
    }, "graftbench-generator")
    t.span("streaming.open_loop") {
      gen.start()
      gen.join()
      p.settle()
    }
    // set-up ends where the timed part of the open loop begins
    run.metric("setup_s", ((dueNs(timedFrom - 1) - run.entryNs) / 1e6 - run.calibrationMs) / 1000.0, "s")
    val lastOpenBatch = p.query.lastProgress.batchId
    run.attempted += n1 - timedFrom

    // map each sent message to the batch whose offset range holds it
    val timedEpochMs = openEpochMs + WarmSeconds * 1000L
    val p1 = p.batches.filter(b => b.batchId <= lastOpenBatch && b.numInputRows > 0 &&
      java.time.Instant.parse(b.timestamp).toEpochMilli >= timedEpochMs)
    val openBatches = p.batches.filter(_.batchId <= lastOpenBatch)
    def endOf(b: StreamingQueryProgress, src: Int): Long =
      Option(b.sources(src).endOffset).map(_.trim.toLong).getOrElse(-1L)
    val latMs = ArrayBuffer.empty[Double]
    sent.asScala.filter(_.events.last >= timedFrom).foreach { m =>
      val b = openBatches.find(b => endOf(b, m.source) >= m.offset)
      b.flatMap(bb => Option(p.emittedNs.get(bb.batchId))) match {
        case Some(emit) =>
          m.events.filter(_ >= timedFrom).foreach(i => latMs += (emit - dueNs(i)) / 1e6)
        case None =>
          run.fail(s"open-loop message at source ${m.source} offset ${m.offset} was never emitted")
      }
    }
    if (latMs.isEmpty) throw new IllegalStateException("no open-loop latency samples")
    run.metric("latency_p50_ms", Stats.pct(latMs.toSeq, 0.5), "ms")
    run.metric("latency_p90_ms", Stats.pct(latMs.toSeq, 0.9), "ms")
    run.detail("stream_latency_samples") = latMs.size.toString

    // ---- phase 2: backlog drains ----
    val drains = drainEnc.zipWithIndex.map { case ((trigger, rest), k) =>
      val handedNs = t.span("streaming.drain", s"drain$k") { p.drain(trigger, rest) }
      val batches = p.drained(handedNs)
      (batches, (p.emittedNs.get(batches.last.batchId) - handedNs) / 1e6)
    }
    val drain = drains.flatMap(_._1)
    run.attempted += Drains * Backlog
    run.metric("throughput_per_s", Stats.median(drains.map(d => (Backlog - 1) / (d._2 / 1000.0))), "1/s")
    run.detail("stream_drain_ms") = drains.map(d => f"${d._2}%.0f").mkString("[", ",", "]")
    run.detail("stream_drain_batches") = drain.map(_.numInputRows).mkString("[", ",", "]")
    run.detail("stream_drain_progress") = drain.map(_.json).mkString("[", ",", "]")
    run.detail("stream_trigger_ms") = p.batches.filter(_.batchId > 0)
      .map(_.durationMs.get("triggerExecution")).mkString("[", ",", "]")
    p.stop()

    // ---- checks (outside the timed phases) ----
    val dropped = p.batches.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    if (dropped != 0) run.fail(s"$dropped rows dropped by the watermark", dropped)
    checkState(run, "weather", p.state.asScala.toMap, first.toSeq ++ open ++ backlog)

    if (t.enabled) {
      // the same drain with one partition per source and one shuffle
      // partition: the single-threaded baseline
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val one = new Pipeline(spark, "weather_1core", 1, run.dir("checkpoints/weather_1core"))
      spark.conf.set("spark.sql.shuffle.partitions", before)
      val small = backlog.take(Backlog1Core).toSeq
      one.add(encode(small.take(FirstMsgs))); one.settle()
      val rest = small.drop(FirstMsgs)
      val handed = one.drain(encode(rest.take(1)), encode(rest.drop(1)))
      val ms = (one.emittedNs.get(one.drained(handed).last.batchId) - handed) / 1e6
      one.stop()
      run.metric("streaming.drain_1core_msgs_per_s", (rest.size - 1) / (ms / 1000.0), "1/s")
      checkState(run, "weather_1core", one.state.asScala.toMap, small)
    }
    layerMetrics(run, p1, drain, lagMs.toSeq, dropped, Drains * (Backlog - 1))
  }

  /** Final state per (window, metric, station) against an independent
    * recompute over every generated event. */
  private def checkState(run: Main.Run, what: String,
      got: Map[(String, String, String), Agg], events: Seq[Gen.Reading]): Unit = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    final class Acc(var n: Long, var cents: Long, var min: Double, var max: Double, var minOrd: Long)
    val want = scala.collection.mutable.HashMap.empty[(String, String, String), Acc]
    events.foreach { e =>
      val ws = fmt.format(java.time.Instant.ofEpochMilli(Math.floorDiv(e.producerTs, WindowMs) * WindowMs))
      val a = want.getOrElseUpdate((ws, e.metric, Gen.stationId(e.stationId)),
        new Acc(0, 0, Double.MaxValue, Double.MinValue, Long.MaxValue))
      a.n += 1; a.cents += math.round(e.value * 100)
      a.min = math.min(a.min, e.value); a.max = math.max(a.max, e.value)
      a.minOrd = math.min(a.minOrd, e.producerTs)
    }
    val bad = want.count { case (k, a) =>
      got.get(k) match {
        case Some(g) =>
          !(g.count == a.n && g.min == a.min && g.max == a.max && g.minOrd == a.minOrd &&
            math.abs(g.avg - a.cents / 100.0 / a.n) <= 0.005 + 1e-9)
        case None => true
      }
    } + (got.keySet -- want.keySet).size
    run.detail(s"${what}_groups_checked") = want.size.toString
    if (bad > 0) run.fail(s"$what: $bad of ${want.size} window groups differ from the recompute", bad)
  }

  private def layerMetrics(run: Main.Run, p1: Seq[StreamingQueryProgress],
      drain: Seq[StreamingQueryProgress], lagMs: Seq[Double], dropped: Long,
      backlog: Int): Unit = {
    // a figure the progress reports lack reads NaN: the run then has
    // no value for it and fails, instead of reporting 0
    def dur(b: StreamingQueryProgress, k: String): Double =
      Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(Double.NaN)
    def p50(k: String) = Stats.median(p1.map(dur(_, k)))
    run.metric("streaming.trigger_ms_p50", p50("triggerExecution"), "ms")
    run.metric("streaming.add_batch_ms_p50", p50("addBatch"), "ms")
    run.metric("streaming.query_planning_ms_p50", p50("queryPlanning"), "ms")
    run.metric("streaming.wal_commit_ms_p50", p50("walCommit"), "ms")
    run.metric("streaming.commit_offsets_ms_p50", p50("commitOffsets"), "ms")
    run.metric("streaming.latest_offset_ms_p50", p50("latestOffset"), "ms")
    run.metric("streaming.state_commit_ms_p50",
      Stats.median(p1.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms")
    run.metric("streaming.state_rows_total",
      p1.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(Double.NaN), "count")
    run.metric("streaming.state_memory_mb",
      (p1 ++ drain).map(_.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0).maxOption.getOrElse(Double.NaN), "MB")
    run.metric("streaming.rows_dropped_by_watermark", dropped.toDouble, "count")
    run.metric("streaming.backlog_msgs_max", p1.map(_.numInputRows.toDouble).maxOption.getOrElse(Double.NaN), "count")
    run.metric("streaming.batches_open_loop", p1.size.toDouble, "count")
    run.metric("streaming.gen_lag_p99_ms", Stats.pct(lagMs, 0.99), "ms")
    if (run.trace.enabled) {
      val t = run.trace
      def window(bs: Seq[StreamingQueryProgress]) = bs.map { b =>
        val s = java.time.Instant.parse(b.timestamp).toEpochMilli * 1000L
        Trace.Span(-1, "batch", -1, b.batchId.toString, s, s + dur(b, "triggerExecution").toLong * 1000L + 1000L)
      }
      val p1Att = window(p1).map(t.attribution)
      val drAtt = window(drain).map(t.attribution)
      val n = math.max(1, p1.size)
      run.metric("streaming.jobs_per_batch", Layers.nonZero(p1Att.map(_.jobs).sum.toDouble / n), "count")
      run.metric("streaming.tasks_per_batch", Layers.nonZero(p1Att.map(_.tasks).sum.toDouble / n), "count")
      val jobs = t.jobs.values.asScala.toSeq
      def jobsIn(spans: Seq[Trace.Span]) =
        jobs.filter(j => spans.exists(s => j.startUs >= s.startUs && j.startUs < s.endUs))
      val dj = jobsIn(window(drain))
      val kmsg = backlog / 1000.0
      run.metric("streaming.map_task_ms_per_kmsg", dj.map(_.mapTaskMs).sum / kmsg, "ms")
      run.metric("streaming.state_task_ms_per_kmsg", dj.map(j => j.taskMs - j.mapTaskMs).sum / kmsg, "ms")
      run.metric("streaming.shuffle_bytes_per_msg", drAtt.map(_.shuffleBytes).sum.toDouble / backlog, "B")
    }
  }
}
