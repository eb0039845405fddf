package graft

import org.apache.spark.sql.SparkSession

/** Tuned session factory.
  *
  * Local dev/bench runs on `local[32]`; the same settings are what we
  * would ship as `--conf` defaults on a real cluster: AQE owns runtime
  * re-planning (partition coalesce + skew-join splitting), shuffle
  * partition count matches available parallelism instead of Spark's
  * 200 default, Kryo for the few non-Tungsten payloads.
  *
  * Streaming state lives in RocksDB, not the default HDFS-backed
  * in-memory map: heap state caps total streaming state at executor
  * memory, while RocksDB spills to local disk — the 100 TB-tier
  * choice, and the same backend ksqlDB (the system this engine
  * matches) runs all its state on. Changelog checkpointing uploads
  * per-batch deltas instead of full RocksDB snapshots, so checkpoint
  * cost tracks the batch's state churn rather than total state size.
  *
  * RocksDB's OFF-HEAP memory is explicitly bounded: without
  * `boundedMemoryUsage`, every RocksDB instance on an executor (one
  * per stateful-operator partition — dozens on a 32-core executor)
  * allocates its own block cache + memtables outside the JVM heap,
  * and at 100 TB-tier state the sum silently exceeds
  * `memoryOverhead` until the YARN/K8s container is OOM-killed —
  * the classic large-cluster streaming failure. With the bound, all
  * instances on an executor share ONE LRU cache capped at
  * `maxMemoryUsageMB` (write buffers charged against the same cap),
  * so the engine's total memory is executor heap + this single
  * known constant, whatever the key cardinality does. 512 MB is the
  * local[32] default; on a real cluster set it alongside
  * `spark.executor.memoryOverhead` (overhead must exceed the cap).
  *
  * The `file:` FileContext is graft's own
  * (`graft.sources.ForkFreeLocalFs`). Spark writes every streaming
  * checkpoint file through FileContext: offset and commit logs,
  * RocksDB changelogs and their `.crc` twins. Hadoop's stock local
  * implementation, without the native `libhadoop`, forks a `chmod`
  * process per create or mkdir and a `readlink` per rename operand:
  * about 50 forks per weather micro-batch, which the state commit and
  * the offset- and commit-log writes wait on. Graft's does both calls
  * in the JVM and still writes the `.crc` files. The `FileSystem` API
  * (`fs.file.impl`, behind snapshots and parquet writes) stays
  * Hadoop's.
  *
  * Session artifact isolation is off. Graft adds no session artifacts
  * (jars, files, REPL classes), but with isolation on Spark 4.1 runs
  * every task under a per-session `ExecutorClassLoader`: each type name
  * janino cannot resolve locally while compiling a task-side class is
  * fetched from the driver over RPC, inside the compile lock (2,931
  * failed fetches in one traced `view_ticks` run), and because the
  * codegen cache is keyed by class loader, tasks compile again every
  * source the driver just compiled (161 of that run's 410 compiles
  * repeated an earlier source).
  * With isolation off, tasks use the executor's own loader and share
  * the driver's cache entries.
  *
  * Maintained-view ticks whose bound on the rows they process is below
  * `graft.sources.TickBudget.Rows` (300k) run interpreted, on a clone
  * of the session with `spark.sql.codegen.factoryMode=NO_CODEGEN`. An
  * O(churn) tick then compiles no whole-stage class (with generated
  * code, a traced `view_ticks` run spent 9.5 s of janino time, summed
  * over threads, in its timed 22.5 s). A tick whose transform fans a
  * source row out counts the rows it makes: a positional text index
  * counts its tokens from its positional postings; a first build, or a
  * transform whose fan-out nothing measures, keeps generated code. The
  * budget is the lowest crossover measured against
  * generated code whose classes were already compiled, over every tick
  * shape: a `mergeCommit` is even at 300k rows and 20–90% slower
  * interpreted at 1M; agg, top-k and positional text-index ticks and
  * `search` cross over between 0.6M and 3M
  * (`plans/tick_budget/crossover*.txt`). Larger ticks keep whole-stage
  * code generation. No benchmark workload lies above the budget, so the
  * large side of the choice rests on those timing loops alone.
  */
object GraftSession {
  def local(cores: Int = 32): SparkSession = tuned(
    SparkSession.builder().master(s"local[$cores]"), cores
  )

  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession = {
    val spark = b
      .appName("graft")
      .withExtensions(new GraftExtensions) // SQL names for graft's native exprs
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst stays at its default (true): byte-target-only
      // coalescing (=false, with the 64 MB advisory) was measured to
      // SERIALIZE the CPU-dense-but-byte-light kernels (minhash
      // signatures, in-cell pair joins: ~6 MB shuffles carrying
      // quadratic work collapsed to one partition — doc_minhash 4→6 s,
      // semantic_dedup_incr 7→10 s), while sub-minPartitionSize (1 MB)
      // exchanges coalesce to one partition under either setting — the
      // single-file view-tick writes don't need it.
      //
      // Let AQE re-plan (coalesce) the output partitioning of CACHED
      // plans too: the view machinery persists its O(churn) delta/merge
      // frames, and with this off (the default) a persisted frame
      // materializes with the full pre-AQE shuffle partition count —
      // every downstream action over the cache then pays ~cores tasks
      // to scan a metadata-sized frame.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // write timestamps as INT64 micros, not the legacy INT96 triple:
      // micros is what Spark's TimestampType holds internally (the
      // roundtrip is bit-exact either way), the files are smaller, and
      // parquet keeps REAL min/max statistics for INT64 where INT96
      // has none — so time-keyed commits get footer-derived manifest
      // stats (no second scan) and row-group skipping, the layout that
      // matters most for the reference's timestamp-keyed data
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // one shared, capped LRU cache across all RocksDB instances on
      // the executor instead of per-instance unbounded off-heap — see
      // the class doc for why this is load-bearing at cluster scale
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
      .config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", "512")
      .config("spark.sql.session.timeZone", "UTC")
      // fork-free checkpoint writes; see the class doc
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.ForkFreeLocalFs].getName)
      // tasks run under the executor's own class loader; see the class doc
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
