// Timing loop behind codec_cost.txt: the cost of building an
// `AvroWire.Codec` per partition against reusing one, for partitions of
// 1, 100 and 250 weather messages (one reused decoder and record per
// partition, as `AvroWire.decodePartition` does). To rerun, copy it to
// src/test/scala/graft/ and run `sbt "testOnly graft.CodecCost"`.
package graft

import graft.sources.AvroWire
import org.apache.avro.generic.GenericRecord
import org.apache.avro.io.{BinaryDecoder, DecoderFactory}
import org.scalatest.funsuite.AnyFunSuite

class CodecCost extends AnyFunSuite {
  test("codec construction vs cached codec, per partition") {
    val w = AvroWire.weatherSchemaJson
    val enc = new AvroWire.Codec(w)
    for (n <- Seq(1, 100, 250)) {
      val bodies = (0 until n).map { i =>
        val r = enc.newRecord()
        r.put("station_id", s"st$i"); r.put("station_name", "Copenhagen")
        r.put("metric", if (i % 2 == 0) "wind" else "sunshine")
        r.put("value", i * 0.5); r.put("producer_ts", 1700000000000L + i)
        enc.encode(r)
      }
      def part(c: AvroWire.Codec): Long = {
        var dec: BinaryDecoder = null; var rec: GenericRecord = null; var s = 0L
        bodies.foreach { b =>
          dec = DecoderFactory.get.binaryDecoder(b, 0, b.length, dec)
          rec = c.read(dec, rec); s += rec.get("producer_ts").asInstanceOf[Long]
        }
        s
      }
      val cached = new AvroWire.Codec(w)
      val cachedRes = new AvroWire.Codec(w, w)
      var sink = 0L // keeps the decoded values live
      def time(f: => Long, iters: Int): Double = {
        val t0 = System.nanoTime(); var i = 0
        while (i < iters) { sink += f; i += 1 }
        (System.nanoTime() - t0) / 1e3 / iters
      }
      for (round <- 0 until 4) {
        val fresh = time(part(new AvroWire.Codec(w)), 3000)
        val hit = time(part(cached), 3000)
        val freshRes = time(part(new AvroWire.Codec(w, w)), 3000)
        val hitRes = time(part(cachedRes), 3000)
        println(f"MEASURE msgs/partition $n%4d round $round: fresh codec $fresh%8.1f us, cached $hit%8.1f us, " +
          f"fresh (w,r) $freshRes%8.1f us, cached (w,r) $hitRes%8.1f us")
      }
      assert(sink != 0L)
    }
  }
}
