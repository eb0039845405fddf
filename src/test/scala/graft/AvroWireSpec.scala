package graft

import org.apache.spark.sql.functions._
import graft.sources.AvroWire
import graft.sources.AvroWire.WeatherReading

class AvroWireSpec extends SparkSpec {

  private val readings = Seq(
    WeatherReading("st1", "Copenhagen", "wind", 12.5, 1700000000000L),
    WeatherReading("st2", "Aarhus", "sunshine", 3.25, 1700000000500L),
    WeatherReading("st1", "Copenhagen", "wind", 13.0, 1700000001000L))

  test("byte-level frame/unframe roundtrip + header detection") {
    val body = Array[Byte](1, 2, 3, 4)
    val framed = AvroWire.frame(42, body)
    assert(framed.length == 9 && framed(0) == 0)
    assert(AvroWire.hasWireHeader(framed))
    assert(!AvroWire.hasWireHeader(body))
    assert(!AvroWire.hasWireHeader(Array[Byte](9, 9)))
    assert(framed.drop(AvroWire.HeaderLen).sameElements(body))
    // decode unframes in place: the embedded id picks the writer
    // schema (43 is unknown here, so its different record is dropped)
    // and the body is read from after the header
    val s = spark
    import s.implicits._
    val msgs = AvroWire.encodeWeather(readings.take(1).toDS, 42)
      .union(AvroWire.encodeWeather(readings.slice(1, 2).toDS, 43))
      .select("value").union(Seq(Array[Byte](9, 9)).toDF("value"))
    val decoded = AvroWire.decodeWeatherDynamic(msgs, Map(42 -> AvroWire.weatherSchemaJson))
    assert(decoded.collect().toSeq == readings.take(1))
  }

  test("distributed encode → wire columns → decode roundtrip") {
    val s = spark
    import s.implicits._
    val encoded = AvroWire.encodeWeather(readings.toDS, schemaId = 7)
    // column-level header parsing (the consumer's expression side)
    val ids = encoded.select(AvroWire.schemaIdCol(col("value"))).distinct().collect()
    assert(ids.map(_.getInt(0)).toSeq == Seq(7))
    val decoded = AvroWire.decodeWeather(encoded).collect().toSet
    assert(decoded == readings.toSet)
  }

  test("decode drops unframed garbage like the latency monitor") {
    val s = spark
    import s.implicits._
    val good = AvroWire.encodeWeather(readings.take(1).toDS, 7)
    val bad = Seq((Array[Byte](1), Array[Byte](99, 1, 2))).toDF("key", "value")
    val decoded = AvroWire.decodeWeather(good.unionByName(bad))
    assert(decoded.count() == 1)
  }

  // pre-latency-tracking writer shape: no producer_ts field
  private val weatherV1Json =
    """{"type":"record","name":"WeatherReading","namespace":"graft",
      |"fields":[
      | {"name":"station_id","type":"string"},
      | {"name":"station_name","type":"string"},
      | {"name":"metric","type":"string"},
      | {"name":"value","type":"double"}]}""".stripMargin

  test("registry: global ids, idempotent registration, per-subject versions") {
    val reg = new graft.sources.SchemaRegistry
    val id1 = reg.register("weather.wind-value", weatherV1Json)
    // same schema, same subject → same id, no new version
    assert(reg.register("weather.wind-value", weatherV1Json) == id1)
    assert(reg.versions("weather.wind-value") == Seq(1))
    // same schema MODULO whitespace/defaults under another subject →
    // same GLOBAL id (ids are per-schema, not per-subject)
    assert(reg.register("weather.sunshine-value",
      weatherV1Json.replace("\n", " ")) == id1)
    // a genuinely different schema appends version 2 with a fresh id
    val id2 = reg.register("weather.wind-value", AvroWire.weatherSchemaJson)
    assert(id2 != id1)
    assert(reg.versions("weather.wind-value") == Seq(1, 2))
    val Some((lid, lver, _)) = reg.latest("weather.wind-value")
    assert(lid == id2 && lver == 2)
    assert(reg.getById(id1).isDefined && reg.getById(id2).isDefined)
    assert(reg.getById(999).isEmpty)
    assert(reg.subjects == Seq("weather.sunshine-value", "weather.wind-value"))
  }

  test("registry-driven decode resolves MIXED schema versions in one topic") {
    val s = spark
    import s.implicits._
    val reg = new graft.sources.SchemaRegistry
    val idV1 = reg.register("weather.wind-value", weatherV1Json)
    val idV2 = reg.register("weather.wind-value", AvroWire.weatherSchemaJson)

    // v2 rows via the normal producer path, framed with the v2 id
    val v2 = AvroWire.encodeWeather(readings.toDS, idV2)
    // v1 rows written with the OLD writer schema, framed with its id
    val v1Codec = new AvroWire.Codec(weatherV1Json)
    val v1 = Seq(("st9", "Odense", "wind", 7.75)).map { case (sid, nm, m, v) =>
      val rec = v1Codec.newRecord()
      rec.put("station_id", sid); rec.put("station_name", nm)
      rec.put("metric", m); rec.put("value", v)
      (sid.getBytes("UTF-8"), AvroWire.frame(idV1, v1Codec.encode(rec)))
    }.toDF("key", "value")
    // plus an UNKNOWN id and unframed garbage — both dropped
    val unknown = Seq((Array[Byte](1), AvroWire.frame(999, Array[Byte](2, 2))))
      .toDF("key", "value")
    val garbage = Seq((Array[Byte](1), Array[Byte](9, 9, 9))).toDF("key", "value")

    val mixed = v2.unionByName(v1).unionByName(unknown).unionByName(garbage)
      .repartition(5)
    val out = AvroWire.decodeWeatherDynamic(mixed, reg.resolver).collect().toSet
    // v1 record surfaces with the reader default producer_ts = 0
    assert(out == readings.toSet + WeatherReading("st9", "Odense", "wind", 7.75, 0L))
  }
}
