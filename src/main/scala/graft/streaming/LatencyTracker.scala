package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state analog of the reference latency monitor's window
  * tracker (latency-monitor LatencyMonitor.scala: collectLatencyData
  * keeps per-window min producer ts / max processing ts and emits a
  * latency sample when a window stops receiving messages).
  *
  * Built on `flatMapGroupsWithState` — Structured Streaming's typed
  * custom-state operator: state is one small record per open
  * (window, key) group, partitioned by the group key across
  * executors, evicted via processing-time timeout. State size is
  * O(open windows), independent of stream length.
  */
object LatencyTracker {

  case class Obs(window_start: Long, key: String, producer_ts: Long, observed_ts: Long)
  case class WindowState(minProducerTs: Long, maxObservedTs: Long, n: Long)
  case class LatencySample(window_start: Long, key: String, latency_ms: Long, message_count: Long)

  /** Fold one micro-batch's observations into the running state; emit
    * a sample (and drop state) when the group times out — i.e. the
    * window has gone quiet for `quietMs`. */
  def track(
      spark: SparkSession,
      obs: Dataset[Obs],
      quietMs: Long = 5000): Dataset[LatencySample] = {
    import spark.implicits._
    obs.groupByKey(o => (o.window_start, o.key))
      .flatMapGroupsWithState[WindowState, LatencySample](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case ((ws, key), rows, state: GroupState[WindowState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(LatencySample(ws, key, s.maxObservedTs - s.minProducerTs, s.n))
          } else {
            val prev = state.getOption.getOrElse(
              WindowState(Long.MaxValue, Long.MinValue, 0L))
            val next = rows.foldLeft(prev) { (acc, o) =>
              WindowState(
                math.min(acc.minProducerTs, o.producer_ts),
                math.max(acc.maxObservedTs, o.observed_ts),
                acc.n + 1)
            }
            state.update(next)
            state.setTimeoutDuration(quietMs)
            Iterator.empty
          }
      }
  }

  /** Batch twin of the stateful fold (same outputs for a closed
    * stream) — used by specs to check parity. */
  def trackBatch(spark: SparkSession, obs: Dataset[Obs]): Dataset[LatencySample] = {
    import spark.implicits._
    obs.groupByKey(o => (o.window_start, o.key))
      .mapGroups { (k: (Long, String), rows: Iterator[Obs]) =>
        val rs = rows.toSeq
        LatencySample(k._1, k._2,
          rs.map(_.observed_ts).max - rs.map(_.producer_ts).min, rs.size.toLong)
      }
  }
}
