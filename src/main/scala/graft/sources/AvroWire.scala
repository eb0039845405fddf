package graft.sources

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

/** Confluent wire-format + Avro codec, on avro-core only (no
  * spark-avro / Schema Registry in this environment — SURVEY.md §6).
  *
  * Wire format (as parsed by the reference consumer,
  * spark-consumer SparkWeatherConsumer.scala:201-207, and detected by
  * latency-monitor LatencyMonitor.scala:141-166): 1 magic byte 0x00,
  * 4-byte big-endian schema id, then the Avro binary body.
  *
  * Column-level helpers are pure expressions (codegen); the Avro body
  * codec is a per-partition `mapPartitions` with one codec and one
  * reusable decoder per partition that reads each body in place — the
  * executor-side shape a real deserializer runs as, no driver
  * involvement, no per-row setup or copy.
  */
object AvroWire {

  val MagicByte: Byte = 0x00
  val HeaderLen = 5

  // ---- byte-level (executor-side) ----

  def frame(schemaId: Int, body: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(HeaderLen + body.length)
      .put(MagicByte).putInt(schemaId).put(body).array()

  /** The monitor's format detection, LatencyMonitor.scala:141-150:
    * messages without the wire header are rejected. */
  def hasWireHeader(msg: Array[Byte]): Boolean =
    msg != null && msg.length > HeaderLen && msg(0) == MagicByte

  // ---- Column-level (pure expressions over binary columns) ----

  /** Big-endian schema id from bytes 2..5 of the wire message. */
  def schemaIdCol(value: Column): Column =
    conv(hex(substring(value, 2, 4)), 16, 10).cast("int")

  // ---- schema-bound codec ----

  /** Serializable per-schema codec; reader/writer are rebuilt lazily
    * on each executor (Avro Schema itself is not serializable-stable,
    * so we ship the JSON). With `readerJson` set, decode performs Avro
    * schema RESOLUTION: bytes written with `schemaJson` (the writer
    * schema, from the registry) are projected onto the reader schema —
    * added-with-default fields filled, removed fields skipped — the
    * KafkaAvroDeserializer evolution path. */
  final class Codec(schemaJson: String, readerJson: String = null)
      extends Serializable {
    @transient private lazy val schema = new Schema.Parser().parse(schemaJson)
    @transient private lazy val readerSchema =
      if (readerJson == null) schema else new Schema.Parser().parse(readerJson)
    @transient private lazy val reader =
      new GenericDatumReader[GenericRecord](schema, readerSchema)
    @transient private lazy val writer = new GenericDatumWriter[GenericRecord](schema)

    def newRecord(): GenericRecord = new GenericData.Record(schema)

    /** The next record from `dec`, refilling `reuse` when given. */
    def read(dec: BinaryDecoder, reuse: GenericRecord): GenericRecord =
      reader.read(reuse, dec)

    def encode(rec: GenericRecord): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val enc: BinaryEncoder = EncoderFactory.get.binaryEncoder(out, null)
      writer.write(rec, enc)
      enc.flush()
      out.toByteArray
    }
  }

  /** Framed messages of one partition → weather readings: unframed
    * ones and those whose schema id `codecOf` maps to no codec are
    * dropped; one decoder and one record are reused for the partition. */
  private def decodePartition(it: Iterator[Array[Byte]],
      codecOf: Int => Option[Codec]): Iterator[WeatherReading] = {
    var dec: BinaryDecoder = null
    var rec: GenericRecord = null
    it.flatMap { msg =>
      if (!hasWireHeader(msg)) None
      else codecOf(ByteBuffer.wrap(msg, 1, 4).getInt).map { codec =>
        // the body in place, after the header: no copy
        dec = DecoderFactory.get.binaryDecoder(msg, HeaderLen, msg.length - HeaderLen, dec)
        rec = codec.read(dec, rec)
        WeatherReading(
          rec.get("station_id").toString, rec.get("station_name").toString,
          rec.get("metric").toString, rec.get("value").asInstanceOf[Double],
          rec.get("producer_ts").asInstanceOf[Long])
      }
    }
  }

  // ---- the reference's weather record shape ----

  /** Mirrors the producer's Avro value schema (producer
    * KafkaWeatherProducer.scala / shared avro schema): station id +
    * name, metric, observed value, producer timestamp (epoch ms). */
  case class WeatherReading(
      station_id: String, station_name: String, metric: String,
      value: Double, producer_ts: Long)

  val weatherSchemaJson: String =
    """{"type":"record","name":"WeatherReading","namespace":"graft",
      |"fields":[
      | {"name":"station_id","type":"string"},
      | {"name":"station_name","type":"string"},
      | {"name":"metric","type":"string"},
      | {"name":"value","type":"double"},
      | {"name":"producer_ts","type":"long","default":0}]}""".stripMargin

  /** Encode a typed Dataset to wire-framed Kafka-style (key, value)
    * binary pairs — the producer side. */
  def encodeWeather(ds: Dataset[WeatherReading], schemaId: Int): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      val codec = new Codec(weatherSchemaJson)
      it.map { w =>
        val rec = codec.newRecord()
        rec.put("station_id", w.station_id)
        rec.put("station_name", w.station_name)
        rec.put("metric", w.metric)
        rec.put("value", w.value)
        rec.put("producer_ts", w.producer_ts)
        (w.station_id.getBytes("UTF-8"), frame(schemaId, codec.encode(rec)))
      }
    }.toDF("key", "value")
  }

  /** Registry-driven decode: each framed message's WRITER schema is
    * resolved from its embedded schema id via a broadcast
    * [[SchemaRegistry.resolver]] snapshot, then projected onto the
    * fixed reader schema — so one topic can carry several schema
    * versions at once and old records surface with the reader's
    * defaults (the consumer's KafkaAvroDeserializer behavior, producer
    * KafkaWeatherProducer.scala:49-51). Per partition: one codec per
    * distinct schema id, built lazily and reused — executors never
    * call the registry. Unframed messages and unknown ids are dropped
    * like [[decodeWeather]] drops unframed ones. */
  def decodeWeatherDynamic(
      df: DataFrame,
      resolver: Map[Int, String],
      valueCol: String = "value"): Dataset[WeatherReading] = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(resolver)
    val readerJson = weatherSchemaJson
    df.select(col(valueCol)).as[Array[Byte]].mapPartitions { it =>
      val codecs = scala.collection.mutable.Map.empty[Int, Option[Codec]]
      decodePartition(it, id =>
        codecs.getOrElseUpdate(id, bc.value.get(id).map(new Codec(_, readerJson))))
    }
  }

  /** Decode wire-framed messages back to typed rows — the consumer
    * side (header strip + from_avro analog). Invalid/unframed
    * messages are dropped, as the monitor does. */
  def decodeWeather(df: DataFrame, valueCol: String = "value"): Dataset[WeatherReading] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(valueCol)).as[Array[Byte]].mapPartitions { it =>
      val codec = Some(new Codec(weatherSchemaJson))
      decodePartition(it, _ => codec)
    }
  }
}
