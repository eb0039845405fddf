package graft

/** The harness modes of [[Bench]], each on one cheap query at sf0.001
  * (`main` only prints and halts the JVM, so it is not called). */
class BenchSpec extends SparkSpec {
  private val dir = sf("sf0.001")
  private val q = "q_window_tumbling"

  /** Listeners on the session's bus (the bus is Spark-internal). */
  private def listeners(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[_]].size
  }

  test("one returns one time per rep") {
    val ts = Bench.one(spark, q, dir, 2)
    assert(ts.size == 2 && ts.forall(_ > 0), ts)
  }

  test("profile reports the query's jobs and removes its listener") {
    val before = listeners()
    val jobs = Bench.profile(spark, q, dir, 1)
    assert(jobs.size == 1 && jobs.head >= 1, jobs)
    assert(listeners() == before)
  }

  test("stream returns a drain time and leaves no query running") {
    val ts = Bench.streamDrain(spark, dir, 1)
    assert(ts.size == 1 && ts.head > 0, ts)
    assert(spark.streams.active.isEmpty)
  }

  test("plan returns the formatted physical plan") {
    val p = Bench.plan(spark, q, dir)
    assert(p.contains("Physical Plan"), p)
  }

  test("warm runs read sf0.001 when it exists, else the timed dir") {
    assume(new java.io.File(dir).isDirectory)
    assert(Bench.warmDir("/elsewhere") == dir)
  }
}
