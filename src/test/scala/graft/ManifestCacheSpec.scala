package graft

import org.apache.spark.sql.functions._
import graft.sources.Snapshots

/** The driver-side immutable-manifest cache behind
  * [[Snapshots.manifest]]: cached reads must be row-identical to the
  * parquet manifest, expired versions must fail even when cached, and
  * the fast paths (file listing, batch watermark, recorded schema)
  * must agree with the distributed reads they replaced. */
class ManifestCacheSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_mcache").toString

  private def events = Tables.load(spark, sf("sf0.001"), "events")

  test("cached manifest equals the parquet manifest row for row") {
    val dir = tmpDir()
    Snapshots.commit(events.limit(100), dir, statsCol = Some("event_id")) // v0
    Snapshots.commit(events.limit(50), dir, statsCol = Some("event_id"))  // v1
    // first read populates the cache; re-read serves from it
    val viaCache = Snapshots.manifest(spark, dir, Some(1L))
    val direct = spark.read.parquet(s"$dir/_manifests/v${"%012d".format(1)}")
    assert(viaCache.schema == direct.schema)
    val a = viaCache.orderBy("path").collect().map(_.toString).toSeq
    val b = direct.orderBy("path").collect().map(_.toString).toSeq
    assert(a == b)
    // read() through the cached file list returns the same data
    assert(Snapshots.read(spark, dir, Some(0L)).count() == 100)
    assert(Snapshots.read(spark, dir).count() == 150)
  }

  test("expire invalidates cached versions: reads fail like uncached ones") {
    val dir = tmpDir()
    Snapshots.commit(events.limit(100), dir)                  // v0
    Snapshots.commit(events.limit(50), dir, overwrite = true) // v1
    Snapshots.commit(events.limit(25), dir)                   // v2
    // warm the cache on v0 BEFORE expiring it
    assert(Snapshots.manifest(spark, dir, Some(0L)).count() >= 1)
    assert(Snapshots.expire(spark, dir, keepLast = 2) > 0)
    intercept[Exception](Snapshots.manifest(spark, dir, Some(0L)).collect())
    intercept[Exception](Snapshots.read(spark, dir, Some(0L)).collect())
    // survivors still served (from cache) after the expiry
    assert(Snapshots.read(spark, dir, Some(2L)).count() == 75)
  }

  test("batch watermark and recorded schema agree with the manifest") {
    val dir = tmpDir()
    val batch = events.limit(10).select("event_id", "event_type", "value")
    assert(Snapshots.lastCommittedBatch(spark, dir) == -1L)
    Snapshots.commitStreamBatch(batch, dir, batchId = 7L,
      statsCol = Some("event_id"))
    assert(Snapshots.lastCommittedBatch(spark, dir) == 7L)
    // a replayed batch is fenced via the cached watermark
    assert(Snapshots.commitStreamBatch(batch, dir, batchId = 7L).isEmpty)
    // non-stream commits carry the fence forward
    Snapshots.commit(batch, dir)
    assert(Snapshots.lastCommittedBatch(spark, dir) == 7L)
    // recorded schema matches what the files actually read back as
    def inferred(d: String) = spark.read.parquet(Snapshots.manifest(spark, d)
      .select("path").collect().map(_.getString(0)).toSeq: _*).schema
    val ts = Snapshots.tableSchema(spark, dir).get
    assert(ts == inferred(dir))
    // a read hands Spark that recorded schema: equal to inference,
    // without inference's footer job
    var carried: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { carried = Snapshots.read(spark, dir) } == 0)
    assert(carried.schema == inferred(dir))
    // a table whose files recorded different schemas (an int and a
    // bigint generation) keeps inference — and its footer job
    val s = spark
    import s.implicits._
    val mixed = tmpDir()
    Snapshots.commit(Seq(Tuple1(1)).toDF("id"), mixed)
    Snapshots.commit(Seq(Tuple1(2L)).toDF("id"), mixed)
    var fallback: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { fallback = Snapshots.read(spark, mixed) } >= 1)
    assert(fallback.schema == inferred(mixed))
  }

  test("footer stats bail to the scan when parquet truncates binary stats") {
    val s = spark
    import s.implicits._
    val key = "parquet.statistics.truncate.length"
    val hc = spark.sparkContext.hadoopConfiguration
    val dir = tmpDir()
    // truncated footer stats would read "ap" / "zv" (a surrogate upper
    // bound): the manifest must still record the exact values
    hc.set(key, "2")
    try Snapshots.commit(Seq("apple-pie", "zucchini-bread").toDF("s")
        .coalesce(1), dir, statsCol = Some("s"))
    finally hc.unset(key)
    val m = Snapshots.manifest(spark, dir).select("smin_s", "smax_s").head()
    assert((m.getString(0), m.getString(1)) == (("apple-pie", "zucchini-bread")))
  }

  test("driver-side and Spark-written manifests agree; only the " +
      "driver-side publish primes the cache") {
    val s = spark
    import s.implicits._
    val rows = Seq("apple-pie", "kiwi", "zucchini-bread").toDF("s").coalesce(1)
    val (local, viaSpark) = (tmpDir(), tmpDir())
    // footer-stats entries plan as a LocalRelation: driver-side write
    Snapshots.commit(rows, local, statsCol = Some("s"))
    // a configured truncate length (long enough to cut nothing here)
    // sends the stats to the scan, whose entries are not driver-local:
    // the manifest takes the Spark write
    val key = "parquet.statistics.truncate.length"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(key, "1024")
    try Snapshots.commit(rows, viaSpark, statsCol = Some("s"))
    finally hc.unset(key)
    // the driver-side publish primed the cache: its first manifest
    // read fires no job; the Spark-written one is read through
    def firstRead(dir: String) =
      jobsOf { Snapshots.manifest(spark, dir).collect() }
    assert(firstRead(local) == 0)
    assert(firstRead(viaSpark) >= 1)
    // both files on disk: same schema, same entries but for the data
    // file path and the commit stamp
    def onDisk(dir: String) =
      spark.read.parquet(s"$dir/_manifests/v${"%012d".format(0)}")
    assert(onDisk(local).schema == onDisk(viaSpark).schema)
    def entries(dir: String) =
      onDisk(dir).drop("path", "committed_at").collect().map(_.toString).toSeq
    assert(entries(local) == entries(viaSpark))
    assert(Snapshots.read(spark, local).as[String].collect().sorted.toSeq ==
      Snapshots.read(spark, viaSpark).as[String].collect().sorted.toSeq)
  }

  test("a table recreated at the same path is NOT served from the old " +
      "cache entry") {
    val dir = tmpDir()
    Snapshots.commit(events.limit(100), dir) // v0, cache primed/warmed
    assert(Snapshots.read(spark, dir).count() == 100)
    // out-of-band drop + re-ingest at the SAME path: v0 exists again
    // with different content — existence alone cannot tell them apart
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    // bloom commit → distributed stats pass → Spark-written manifest,
    // NO publish-time cache priming: the next read must detect the
    // stale hit via the content fingerprint, not get lucky via a
    // re-primed entry
    Snapshots.commit(events.limit(37), dir,
      statsCol = Some("event_id"), bloomCols = Seq("event_id"))
    assert(Snapshots.manifest(spark, dir, Some(0L))
      .agg(sum(col("rows"))).head().getLong(0) == 37)
    assert(Snapshots.read(spark, dir).count() == 37)
  }
}
