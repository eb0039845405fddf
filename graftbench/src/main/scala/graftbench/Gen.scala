package graftbench

import java.time.LocalDateTime
import java.util.SplittableRandom

/** Seeded input generators. Every input of every workload is a pure
  * function of the seed: the same seed gives byte-identical inputs, a
  * different seed different ones (GenSpec). The program under test
  * only ever sees what these functions return. */
object Gen {

  // ---- tables ----

  /** Rows of graft's `events` and `documents` tables, with the columns,
    * types and value vocabularies of graft's test schema. */
  final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  val EventTypes: Vector[String] =
    Vector("click", "error", "purchase", "signup", "view")
  val Vocabulary: Vector[String] = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Vector("en", "en", "en", "de", "es", "fr", "zh")
  val EventEpoch: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val EventSpanMicros = 30L * 86400L * 1000000L

  /** Independent stream per purpose, so adding draws to one generator
    * never shifts another's inputs. */
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  private def words(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(Vocabulary(r.nextInt(Vocabulary.size))).mkString(" ")

  /** `n` events with ids from `firstId`, time-ordered over 30 days,
    * users uniform over `users`, values exponential with mean ~50. */
  def eventRows(seed: Long, firstId: Long, n: Int, users: Int): Seq[Event] = {
    val r = rng(seed, s"events@$firstId")
    val offs = Array.fill(n)((r.nextDouble() * EventSpanMicros).toLong).sorted
    (0 until n).map { i =>
      Event(firstId + i, EventEpoch.plusNanos(offs(i) * 1000L),
        r.nextInt(users).toLong, EventTypes(r.nextInt(EventTypes.size)),
        eventValue(r), s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  private def eventValue(r: SplittableRandom): Double =
    math.max(0.01, math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0)

  /** Documents over the 30-word vocabulary, 10–99 words each; one in
    * twenty is an earlier document plus a trailing ` dup` token (the
    * near-duplicates the dedup operators look for). */
  def documentRows(seed: Long, n: Int): Seq[Document] = {
    val r = rng(seed, "documents")
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 20 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else words(r, 10 + r.nextInt(90))
      texts(i) = text
      Document(i, text, Langs(r.nextInt(Langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
  }

  // ---- view_ticks: change batches ----

  /** One events change row: `op` is 'u' (upsert) or 'd' (delete). */
  final case class EventChange(event_id: Long, ts: LocalDateTime,
      user_id: Long, event_type: String, value: Double, op: String, seq: Long)

  /** The events CDC batch of `tick`: `inserts` new events with ids from
    * `nextId`, `updates` value changes and `deletes` deletions of live
    * keys. `live` is the current live key set, in ascending order; the
    * picks are distinct, so every key appears once in the batch. */
  def eventsChangeBatch(seed: Long, tick: Int, live: IndexedSeq[Event],
      nextId: Long, inserts: Int, updates: Int, deletes: Int,
      users: Int): Seq[EventChange] = {
    val r = rng(seed, s"events-cdc@$tick")
    val picks = pickDistinct(r, live.size, updates + deletes)
    val seq = tick.toLong + 1
    val upd = picks.take(updates).map { i =>
      val e = live(i)
      EventChange(e.event_id, e.ts, e.user_id, e.event_type, eventValue(r), "u", seq)
    }
    val del = picks.drop(updates).map { i =>
      val e = live(i)
      EventChange(e.event_id, e.ts, e.user_id, e.event_type, e.value, "d", seq)
    }
    val ins = eventRows(seed ^ (tick.toLong << 20), nextId, inserts, users).map { e =>
      EventChange(e.event_id, e.ts, e.user_id, e.event_type, e.value, "u", seq)
    }
    upd ++ del ++ ins
  }

  final case class DocChange(doc_id: Long, text: String, op: String, seq: Long)

  /** The docs CDC batch of `tick`: the next `inserts` held-out
    * documents plus `deletes` deletions of live ones. */
  def docsChangeBatch(seed: Long, tick: Int, heldOut: IndexedSeq[Document],
      live: IndexedSeq[Long], inserts: Int, deletes: Int): Seq[DocChange] = {
    val r = rng(seed, s"docs-cdc@$tick")
    val seq = tick.toLong + 1
    val del = pickDistinct(r, live.size, deletes).map(i => DocChange(live(i), null, "d", seq))
    val ins = heldOut.slice(tick * inserts, (tick + 1) * inserts)
      .map(d => DocChange(d.doc_id, d.text, "u", seq))
    del ++ ins
  }

  private def pickDistinct(r: SplittableRandom, n: Int, k: Int): Seq[Int] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (seen.size < math.min(k, n)) seen += r.nextInt(n)
    seen.toSeq
  }

  /** Search terms for the serve step. */
  def searchTerms(seed: Long, n: Int): IndexedSeq[Seq[String]] = {
    val r = rng(seed, "search-terms")
    IndexedSeq.fill(n)(Seq.fill(2 + r.nextInt(3))(Vocabulary(r.nextInt(Vocabulary.size))).distinct)
  }

  // ---- weather_stream ----

  final case class Reading(stationId: Int, metric: String, value: Double,
      producerTs: Long)

  val WindMetrics: Vector[String] = Vector("wind_direction", "wind_speed")
  val SunMetrics: Vector[String] = Vector("radiation", "sunshine_duration")
  val WeatherEpochMs: Long = 1704067200000L // 2024-01-01T00:00:00Z

  /** `n` readings, event `i` stamped `i * spacingMs` after `startMs`.
    * Stations are Zipf(1.1)-skewed over `stations` ids; a `lateShare`
    * of events is stamped up to `maxJitterMs` earlier, i.e. arrives out
    * of order (kept inside the pipeline's watermark). */
  def readings(seed: Long, phase: String, n: Int, startMs: Long,
      spacingMs: Double, stations: Int, lateShare: Double,
      maxJitterMs: Long): Array[Reading] = {
    val r = rng(seed, s"weather@$phase")
    val cdf = zipfCdf(stations, 1.1)
    Array.tabulate(n) { i =>
      val st = java.util.Arrays.binarySearch(cdf, r.nextDouble()) match {
        case k if k >= 0 => k
        case k => math.min(-k - 1, stations - 1)
      }
      val wind = r.nextBoolean()
      val metric =
        if (wind) WindMetrics(r.nextInt(2)) else SunMetrics(r.nextInt(2))
      val jitter =
        if (r.nextDouble() < lateShare) 1L + r.nextLong(maxJitterMs) else 0L
      Reading(st, metric, math.round(r.nextDouble() * 40000) / 100.0,
        startMs + (i * spacingMs).toLong - jitter)
    }
  }

  def isWind(metric: String): Boolean = WindMetrics.contains(metric)

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }

  def stationId(k: Int): String = f"ST$k%04d"
  def stationName(k: Int): String = s"Station ${k + 1}"

  /** Confluent wire frame (magic 0, 4-byte big-endian schema id) around
    * the Avro binary encoding of a `WeatherReading` — written here
    * byte by byte, independent of the program's own codec. */
  def encodeReading(w: Reading, schemaId: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    out.write(0)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(schemaId).array())
    def long(v: Long): Unit = {
      var z = (v << 1) ^ (v >> 63)
      while ((z & ~0x7FL) != 0) { out.write(((z & 0x7F) | 0x80).toInt); z >>>= 7 }
      out.write(z.toInt)
    }
    def str(s: String): Unit = {
      val b = s.getBytes("UTF-8"); long(b.length); out.write(b)
    }
    str(stationId(w.stationId)); str(stationName(w.stationId)); str(w.metric)
    out.write(java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(w.value).array())
    long(w.producerTs)
    out.toByteArray
  }
}
