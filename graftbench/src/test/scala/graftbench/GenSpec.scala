package graftbench

import org.scalatest.funsuite.AnyFunSuite
import java.security.MessageDigest

/** Every generated input is a pure function of the seed: the same seed
  * gives byte-identical inputs, another seed different ones. */
class GenSpec extends AnyFunSuite {

  private def digest(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }
  private def bytes(xs: Iterable[Any]): Iterator[Array[Byte]] =
    xs.iterator.map(_.toString.getBytes("UTF-8"))

  /** One digest per generator, for one seed. */
  private def inputs(seed: Long): Map[String, String] = {
    val events = Gen.eventRows(seed, 0L, 300, 40).toIndexedSeq
    val docs = Gen.documentRows(seed, 60).toIndexedSeq
    Map(
      "events" -> digest(bytes(events)),
      "documents" -> digest(bytes(docs)),
      "weather" -> digest(Gen.readings(seed, "open", 500, Gen.WeatherEpochMs, 1.0,
        30, 0.05, 60000L).iterator.map(Gen.encodeReading(_, 1))),
      "events_cdc" -> digest(bytes(Gen.eventsChangeBatch(seed, 3, events, 300L,
        20, 20, 10, 40))),
      "doc_churn" -> digest(bytes(Gen.docsChangeBatch(seed, 1, docs.drop(40),
        docs.take(40).map(_.doc_id), 5, 3))),
      "search_terms" -> digest(bytes(Gen.searchTerms(seed, 8))))
  }

  test("the same seed gives byte-identical inputs") {
    assert(inputs(7L) == inputs(7L))
  }

  test("a different seed gives different inputs, for every generator") {
    val (a, b) = (inputs(7L), inputs(8L))
    a.keys.foreach(k => assert(a(k) != b(k), s"$k did not change with the seed"))
  }

  test("out-of-order events stay inside the two-minute watermark") {
    val r = Gen.readings(3L, "open", 20000, Gen.WeatherEpochMs, 1.0, 300, 0.05, 60000L)
    val lateness = r.indices.map(i => Gen.WeatherEpochMs + i - r(i).producerTs)
    assert(lateness.max < 120000L)
    assert(lateness.count(_ > 0) > 500, "expected a share of out-of-order events")
  }

  test("an events change batch names each key once, deletes only live keys") {
    val live = Gen.eventRows(5L, 0L, 500, 40).toIndexedSeq
    val batch = Gen.eventsChangeBatch(5L, 0, live, 500L, 30, 30, 20, 40)
    assert(batch.map(_.event_id).distinct.size == batch.size)
    val liveIds = live.map(_.event_id).toSet
    assert(batch.filter(_.op == "d").forall(c => liveIds(c.event_id)))
    assert(batch.size == 80)
  }
}
