package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row
import graft.operators.Windows

/** The reference's streaming pipeline re-expressed as Structured
  * Streaming (spark-consumer SparkWeatherConsumer.scala:225-283):
  * union N decoded source streams → event-time watermark → tumbling
  * window multi-agg → update-mode sink with a processing-time trigger.
  *
  * Source/sink are pluggable DataFrames: on a real cluster they are
  * `format("kafka")` readers/writers configured by [[KafkaIO]]; in
  * this environment (no kafka jar — SURVEY.md §6) tests drive the
  * identical plan with MemoryStream / file sources, which exercises
  * the same watermark + stateful-agg operators.
  *
  * Scale notes: the windowed agg is stateful hash aggregation keyed by
  * (window, keys) with partial aggregation before the state-store
  * shuffle; the watermark bounds state size (windows older than the
  * watermark are evicted), so state is O(active windows × keys) —
  * independent of stream length.
  *
  * `processing_end_ts` is the micro-batch timestamp, in epoch ms: the
  * reference stamps `current_timestamp()` just before the sink
  * (SparkWeatherConsumer.scala:270), and in a streaming query Spark
  * fixes that clock once per micro-batch, so every row of a batch
  * carries the same stamp. In a graft session the stamp reaches the
  * generated code of the final aggregation stage by reference
  * ([[graft.functions.BatchClock]]), not as an inlined literal: the
  * stage's source is the same in every batch and compiles once for the
  * life of the query, instead of twice per batch (driver, then tasks).
  */
object WeatherPipeline {

  /** union streams → watermark → tumbling agg. Works identically on
    * batch frames (watermark is a no-op) — used for parity testing. */
  def windowed(
      streams: Seq[DataFrame],
      tsCol: String,
      keys: Seq[String],
      valueCol: String,
      ordCol: String,
      windowSize: String,
      watermarkDelay: String = "2 minutes"): DataFrame = {
    val unioned = Windows.unionAll(streams)
    val marked =
      if (unioned.isStreaming) unioned.withWatermark(tsCol, watermarkDelay)
      else unioned
    Windows.tumblingAgg(marked, tsCol, keys, valueCol, ordCol, windowSize)
      // the reference stamps processing end time just before the sink
      // (SparkWeatherConsumer.scala:270); the batch's clock, see above
      .withColumn("processing_end_ts", unix_millis(current_timestamp()))
  }

  /** Writer configured like the reference's Kafka sink
    * (SparkWeatherConsumer.scala:128-183): update output mode,
    * processing-time trigger. Caller picks format + options
    * ("kafka" + KafkaIO.sink(...) in production; "memory" in tests). */
  def writer(
      out: DataFrame,
      format: String,
      triggerInterval: String = "1 second",
      options: Map[String, String] = Map.empty): DataStreamWriter[Row] =
    out.writeStream
      .format(format)
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .options(options)
}

/** Kafka source/sink option builders carrying the reference's exact
  * option keys AND tuning values (SparkWeatherConsumer.scala:128-183:
  * reader earliest offsets + bounded triggers + fetch tuning; writer
  * snappy batching + acks=1). Kept separate from plan-building so the
  * same pipeline runs with any source; on a cluster:
  * `StreamIO.reader(spark, "kafka", KafkaIO.source(...))`.
  */
object KafkaIO {
  def source(
      bootstrapServers: String,
      topics: Seq[String],
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = Some(5000L),
      failOnDataLoss: Boolean = false,
      minPartitions: Option[Int] = None): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topics.mkString(","),
      "startingOffsets" -> startingOffsets,
      "failOnDataLoss" -> failOnDataLoss.toString,
      // consumer fetch tuning the reference ships: don't wait for a
      // full fetch batch, cap the broker wait
      "kafka.fetch.min.bytes" -> "1",
      "kafka.fetch.max.wait.ms" -> "500") ++
      maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString) ++
      minPartitions.map("minPartitions" -> _.toString)

  def sink(
      bootstrapServers: String,
      topic: String,
      checkpointLocation: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "topic" -> topic,
      "checkpointLocation" -> checkpointLocation,
      // producer tuning the reference ships: snappy batches, no
      // linger, leader-only acks
      "kafka.compression.type" -> "snappy",
      "kafka.batch.size" -> "16384",
      "kafka.linger.ms" -> "0",
      "kafka.acks" -> "1")
}

/** Format dispatch for the pipeline's endpoints: ONE code path builds
  * the source/sink regardless of transport, so the Kafka plan shape is
  * constructed (and CI-exercised) even in environments without the
  * kafka connector jar — resolution of the provider class happens at
  * `load()`/`start()`, not at builder time. Tests drive the identical
  * pipeline through the file/memory branches. */
object StreamIO {
  /** A configured streaming reader; `.load()` resolves the provider. */
  def reader(
      spark: org.apache.spark.sql.SparkSession,
      format: String,
      options: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : org.apache.spark.sql.streaming.DataStreamReader = {
    val r = spark.readStream.format(format).options(options)
    schema.fold(r)(r.schema)
  }

  /** Open a source as a streaming DataFrame. For "kafka" this throws
    * DATA_SOURCE_NOT_FOUND without the connector jar — by design the
    * one transport-specific failure point. */
  def open(
      spark: org.apache.spark.sql.SparkSession,
      format: String,
      options: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      path: Option[String] = None): DataFrame = {
    val r = reader(spark, format, options, schema)
    path.fold(r.load())(r.load)
  }
}
