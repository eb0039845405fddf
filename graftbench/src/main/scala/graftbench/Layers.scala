package graftbench

/** The per-layer report of a run. A traced run prints every name below.
  * A name of a layer the workload bypasses reads 0; any other name the
  * run did not measure is missing, and the run fails. */
object Layers {
  val Streaming: Seq[(String, String)] = Seq(
    "trigger_ms_p50" -> "ms", "add_batch_ms_p50" -> "ms", "query_planning_ms_p50" -> "ms",
    "wal_commit_ms_p50" -> "ms", "commit_offsets_ms_p50" -> "ms", "latest_offset_ms_p50" -> "ms",
    "jobs_per_batch" -> "count", "tasks_per_batch" -> "count",
    "map_task_ms_per_kmsg" -> "ms", "state_task_ms_per_kmsg" -> "ms",
    "shuffle_bytes_per_msg" -> "B", "state_rows_total" -> "count",
    "state_commit_ms_p50" -> "ms", "state_memory_mb" -> "MB",
    "rows_dropped_by_watermark" -> "count", "backlog_msgs_max" -> "count",
    "batches_open_loop" -> "count", "drain_1core_msgs_per_s" -> "1/s",
    "gen_lag_p99_ms" -> "ms").map { case (n, u) => s"streaming.$n" -> u } :+
    ("setup.stream_start_ms" -> "ms")

  val SiteFigures: Seq[(String, String)] = Seq("wall_ms_p50" -> "ms", "jobs" -> "count",
    "tasks" -> "count", "task_ms" -> "ms", "planning_ms" -> "ms",
    "driver_gap_ms" -> "ms", "fs_ops" -> "count", "bytes_written" -> "B")

  /** The `graft.Jobs.labeled` phases a `view_ticks` iteration runs. */
  val PhaseLabels: Seq[String] = Seq("snap:data-write", "snap:footer-stats", "snap:publish",
    "snap:watermark", "snap:merge", "snap:files", "snap:prune", "merge:affected",
    "iv:aggDelta", "iv:keyspecs")

  val Views: Seq[(String, String)] =
    Seq("view.agg_tick_p50_ms" -> "ms", "view.text_tick_p50_ms" -> "ms",
      "view.search_p50_ms" -> "ms", "view.disk_mb" -> "MB",
      "view.unattributed_ms" -> "ms", "view.unattributed_max_pct" -> "%",
      "sources.Snapshots.files_live" -> "count", "sources.Snapshots.versions" -> "count",
      "setup.tables_ms" -> "ms", "setup.view_build_ms" -> "ms") ++
      ViewWorkload.Sites.flatMap(s => SiteFigures.map { case (f, u) => s"$s.$f" -> u }) ++
      PhaseLabels.map(l => s"phase.${l.replace(':', '.')}_ms" -> "ms")

  /** The names of the layers a workload bypasses. */
  def bypassed(workload: String): Seq[(String, String)] = workload match {
    case "weather_stream" => Views
    case "view_ticks" => Streaming
  }

  /** A count every call of a stressed layer has: 0 means the listener
    * lost its events, so it reads as missing (NaN) and fails the run. */
  def nonZero(v: Double): Double = if (v > 0) v else Double.NaN

  def report(run: Main.Run, workload: String): Unit = {
    val t = run.trace
    if (t.enabled) {
      // storage call sites: per call, median over calls
      ViewWorkload.Sites.foreach { site =>
        val calls = t.spans.filter(_.name == site).toSeq
        if (calls.nonEmpty) {
          val att = calls.map(t.attribution)
          def p50(f: Trace.Attribution => Double) = Stats.median(att.map(f))
          run.metric(s"$site.wall_ms_p50", Stats.median(calls.map(_.ms)), "ms")
          run.metric(s"$site.jobs", nonZero(p50(_.jobs.toDouble)), "count")
          run.metric(s"$site.tasks", nonZero(p50(_.tasks.toDouble)), "count")
          run.metric(s"$site.task_ms", p50(_.taskMs.toDouble), "ms")
          run.metric(s"$site.planning_ms", p50(_.planningMs), "ms")
          run.metric(s"$site.driver_gap_ms", p50(_.driverGapMs), "ms")
          run.metric(s"$site.fs_ops", Stats.median(calls.map(_.fsOps.toDouble)), "count")
          run.metric(s"$site.bytes_written", Stats.median(calls.map(_.bytesWritten.toDouble)), "B")
        }
      }
      // every tick: self time per layer, and the time no layer covers
      val ticks = t.spans.filter(s => s.parent == -1 && s.name.startsWith("view.")).toSeq
      if (ticks.nonEmpty) {
        val un = ticks.map(t.unattributedMs)
        run.metric("view.unattributed_ms", un.sum, "ms")
        run.metric("view.unattributed_max_pct",
          ticks.zip(un).map { case (s, u) => 100.0 * u / math.max(s.ms, 1e-3) }.max, "%")
      }
      run.detail("layer_self_ms") = ticks.map { r =>
        val parts = t.selfTimes(r).groupMapReduce(_._1)(_._2)(_ + _)
          .map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
        f"""{"span":"${r.name}","tag":"${r.tag}","wall_ms":${r.ms}%.2f,""" +
          f""""unattributed_ms":${t.unattributedMs(r)}%.2f,"self_ms":$parts}"""
      }.mkString("[", ",", "]")
      run.metric("trace.spans", t.spans.size.toDouble, "count")
      Seq("setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s").foreach { n =>
        run.metrics.get(n).foreach { case (v, u) => run.metric(s"trace.$n", v, u) }
      }
    }
    bypassed(workload).foreach { case (n, u) => run.metric(n, 0.0, u) }
  }
}
