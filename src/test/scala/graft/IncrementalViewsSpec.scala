package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{IncrementalViews, Snapshots}

/** Incrementally-maintained join views: after every mix of
  * append / keyed-merge / predicate-delete on either input, one
  * `refreshJoin` tick makes the stored view equal a from-scratch join
  * of the current snapshots — including duplicate (multiset) rows —
  * while untouched view files are carried by reference, and an
  * interrupted tick replays exactly once. */
class IncrementalViewsSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_ivm").toString

  /** Expected = plain Spark join of the two current snapshots. */
  private def recompute(leftDir: String, rightDir: String,
                        keys: Seq[String]): DataFrame =
    Snapshots.read(spark, leftDir).join(Snapshots.read(spark, rightDir), keys)

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private def assertViewCurrent(leftDir: String, rightDir: String,
                                viewDir: String, keys: Seq[String]): Unit =
    assert(canon(IncrementalViews.readExpanded(spark, viewDir)
        .select(recompute(leftDir, rightDir, keys).columns.map(col): _*)) ==
      canon(recompute(leftDir, rightDir, keys)))

  test("full lifecycle: build, append both sides, update, delete — view == join after every tick") {
    val s = spark; import s.implicits._
    val (l, r, v) = (tmpDir(), tmpDir(), tmpDir())
    // duplicates on both sides: k=2 twice on the left, k=3 twice on
    // the right — the multiset join must carry multiplicities 2 and 2
    Snapshots.commit(Seq((1L, "a1"), (2L, "a2"), (2L, "a2"), (3L, "a3"))
      .toDF("k", "a"), l, statsCol = Some("k"))
    Snapshots.commit(Seq((1L, 10.0), (3L, 30.0), (3L, 31.0), (4L, 40.0))
      .toDF("k", "b"), r, statsCol = Some("k"))

    val v0 = IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"))
    assert(v0.isDefined)
    assertViewCurrent(l, r, v, Seq("k"))
    // the SQL surface expands multiplicities the same way
    assert(spark.sql(s"SELECT * FROM graft_join_view('$v')").count() ==
      recompute(l, r, Seq("k")).count())
    // Z-set shape: k=3 joins 1 left row x 2 right rows -> 2 distinct
    // tuples? no — (3,a3,30.0) and (3,a3,31.0), each __n = 1;
    // k=2 matches nothing (no right row) and k=4 nothing (no left)
    val stored = Snapshots.read(spark, v)
    assert(stored.filter(col("k") === 3).agg(sum("__n")).head().getLong(0) == 2L)
    assert(stored.filter(col("k").isin(2, 4)).count() == 0L)

    // no-op refresh: nothing changed, no new version, view intact
    assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isEmpty)

    // tick 2: append to BOTH sides between refreshes (one tick covers
    // both deltas), including a row that makes k=2 start joining
    Snapshots.commit(Seq((5L, "a5")).toDF("k", "a"), l, statsCol = Some("k"))
    Snapshots.commit(Seq((2L, 20.0), (5L, 50.0)).toDF("k", "b"), r,
      statsCol = Some("k"))
    assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isDefined)
    assertViewCurrent(l, r, v, Seq("k"))
    // the duplicated left k=2 now joins: one distinct tuple, __n = 2
    assert(Snapshots.read(spark, v).filter(col("k") === 2)
      .select("__n").head().getLong(0) == 2L)

    // tick 3: keyed merge on the right (update k=1, delete k=3)
    Snapshots.mergeCommit(spark, r,
      Seq((1L, 11.0, "u", 1L), (3L, 0.0, "d", 1L)).toDF("k", "b", "op", "seq"),
      keyCols = Seq("k"))
    assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isDefined)
    assertViewCurrent(l, r, v, Seq("k"))
    assert(Snapshots.read(spark, v).filter(col("k") === 3).count() == 0L)

    // tick 4: predicate delete on the left wipes k < 2
    Snapshots.deleteWhere(spark, l, col("k") < 2)
    assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isDefined)
    assertViewCurrent(l, r, v, Seq("k"))
  }

  test("O(churn): a one-key tick carries untouched view files by reference") {
    val s = spark; import s.implicits._
    val (l, r, v) = (tmpDir(), tmpDir(), tmpDir())
    // AQE's small-shuffle coalescing would fold this tiny view into
    // ONE range partition (at real scale it targets ~64 MB files —
    // exactly what we want there); hold it off so the clustered merge
    // writes several tiling files the next tick can prune against
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    // likewise the merge's single-file fast path: these tests pin the
    // AT-SCALE multi-file tiling behavior, so force the range-
    // partitioned merge even for this tiny fixture
    spark.conf.set("spark.graft.merge.singleFileMaxRows", "0")
    try {
      val left = spark.range(0, 400).select(col("id").as("k"),
        concat(lit("L"), col("id")).as("a")).repartition(8, col("k"))
      val right = spark.range(0, 400).select(col("id").as("k"),
        (col("id") * 2.0).as("b")).repartition(8, col("k"))
      Snapshots.commit(left, l, statsCol = Some("k"))
      Snapshots.commit(right, r, statsCol = Some("k"))
      IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"))
      val before = Snapshots.manifest(spark, v)
        .select("path").collect().map(_.getString(0)).toSet
      assert(before.size >= 3, s"expected a multi-file view, got ${before.size}")

      Snapshots.commit(Seq((7L, 777.7)).toDF("k", "b"), r, statsCol = Some("k"))
      IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"))
      assertViewCurrent(l, r, v, Seq("k"))
      val after = Snapshots.manifest(spark, v)
        .select("path").collect().map(_.getString(0)).toSet
      // most of the view survived by reference; only the file(s) whose
      // k-range covers 7 were rewritten
      val carried = (before & after).size
      assert(carried > 0 && before.size - carried <= 2,
        s"expected <=2 rewritten files, carried $carried of ${before.size}")
    } finally {
      spark.conf.set(coalesceKey, prev)
      spark.conf.unset("spark.graft.merge.singleFileMaxRows")
    }
  }

  test("interrupted tick replays exactly once off the pinned intent") {
    val s = spark; import s.implicits._
    val (l, r, v) = (tmpDir(), tmpDir(), tmpDir())
    Snapshots.commit(Seq((1L, "x")).toDF("k", "a"), l, statsCol = Some("k"))
    Snapshots.commit(Seq((1L, 1.0)).toDF("k", "b"), r, statsCol = Some("k"))
    IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"))

    Snapshots.commit(Seq((2L, "y")).toDF("k", "a"), l, statsCol = Some("k"))
    Snapshots.commit(Seq((2L, 2.0)).toDF("k", "b"), r, statsCol = Some("k"))
    IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"))
    val committedVersion = Snapshots.latestVersion(spark, v).get

    // simulate a crash AFTER the merge committed but BEFORE the
    // processed marker landed: delete the tick's processed marker —
    // and advance the LEFT input afterwards, so a naive replay that
    // re-read "current latest" instead of the pinned intent would
    // compute a different (wrong-fencing) batch
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(v), spark.sparkContext.hadoopConfiguration)
    val state = new org.apache.hadoop.fs.Path(s"$v/_view_state")
    val processed = f.listStatus(state).map(_.getPath)
      .filter(_.getName.startsWith("processed-T000001"))
    assert(processed.length == 1)
    // restore the intent a finished tick GC'd, as a crash would leave it
    val intentName = processed.head.getName.replaceFirst("processed", "intent")
    f.create(new org.apache.hadoop.fs.Path(state, intentName), true).close()
    processed.foreach(p => f.delete(p, false))
    // a post-crash append that JOINS (both sides get k=9), so the
    // tick after the replay has real work to commit
    Snapshots.commit(Seq((9L, "z")).toDF("k", "a"), l, statsCol = Some("k"))
    Snapshots.commit(Seq((9L, 9.0)).toDF("k", "b"), r, statsCol = Some("k"))

    // replay: fenced by the view manifest's batch watermark — no new
    // version, view still correct as of the PINNED tick
    assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isEmpty)
    assert(Snapshots.latestVersion(spark, v).contains(committedVersion))
    // the NEXT tick picks up the post-crash append normally
    assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isDefined)
    assertViewCurrent(l, r, v, Seq("k"))
  }

  /** Agg-view expected state: from-scratch grouped aggregation of the
    * current source snapshot, in the view's column layout. */
  private def recomputeAgg(srcDir: String): DataFrame =
    Snapshots.read(spark, srcDir).groupBy("g")
      .agg(sum(col("x").cast("decimal(30,6)")).cast("decimal(30,6)").as("sum_x"),
        count(lit(1)).as("__cnt"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"))

  /** Spark jobs of the job-count guard's fixed min/max tick with
    * deletes, as measured for the single-aggregation fold. */
  private val FoldJobs = 10

  private def assertAggCurrent(srcDir: String, viewDir: String): Unit =
    assert(canon(Snapshots.read(spark, viewDir)
        .select("g", "sum_x", "__cnt", "min_x", "max_x")) ==
      canon(recomputeAgg(srcDir)))

  test("agg view: sums/counts fold from the feed alone; min/max recompute per affected group") {
    val s = spark; import s.implicits._
    // the fold must equal a from-scratch aggregation on both affected-
    // file probe paths (≤64 distinct head keys probe driver-side, more
    // take the distributed key↔stats join) and both write shapes (one
    // sorted file, or the range-partitioned rewrite)
    for (wide <- Seq(false, true); singleFile <- Seq(true, false)) {
      val (src, v) = (tmpDir(), tmpDir())
      // 100 extra groups, each touched by the tick: the wide probe
      val w = if (wide) (0 until 100).map(i => (f"w$i%03d", 100.0 + i)) else Nil
      if (!singleFile) spark.conf.set("spark.graft.merge.singleFileMaxRows", "0")
      try {
        Snapshots.commit((Seq(("a", 1.5), ("a", 2.25), ("b", 10.0), (null, 7.0),
            ("d", 4.0), ("d", 5.0)) ++ w).toDF("g", "x"), src,
          statsCol = Some("g"))
        val done = IncrementalViews.refreshAgg(spark, src, v,
          Seq("g"), Seq("x"), minMaxCols = Seq("x"))
        assert(done == Seq(0L))
        assertAggCurrent(src, v)

        // three source versions land before one refresh call: an
        // append (into the NULL group too), a keyed delete (shrinks
        // group a, erases group b, only deletes from group d), and an
        // update that moves rows BETWEEN groups — one call folds all
        Snapshots.commit((Seq(("a", 0.25), ("c", 3.0), (null, -1.0)) ++
            w.map { case (g, x) => (g, x + 0.5) }).toDF("g", "x"), src,
          statsCol = Some("g"))
        Snapshots.deleteWhere(spark, src,
          col("x") === 10.0 || col("x") === 2.25 || col("x") === 5.0)
        Snapshots.updateWhere(spark, src, col("x") === 3.0 || col("x") === 1.5,
          Map("g" -> when(col("x") === 3.0, lit("a")).otherwise(lit("e"))))
        assert(IncrementalViews.refreshAgg(spark, src, v,
          Seq("g"), Seq("x"), minMaxCols = Seq("x")) == Seq(1L, 2L, 3L))
        assertAggCurrent(src, v)
        // group b's count hit zero: it must have LEFT the view
        assert(Snapshots.read(spark, v).filter(col("g") === "b").count() == 0L)
        // the NULL group aggregates like SQL GROUP BY
        assert(Snapshots.read(spark, v).filter(col("g").isNull)
          .select("__cnt").as[Long].collect().toSeq == Seq(2L))
        // only-deleted-from group d: max rescanned down to 4.0
        assert(Snapshots.read(spark, v).filter(col("g") === "d")
          .select("max_x").as[Double].collect().toSeq == Seq(4.0))

        // nothing new: no versions folded, view untouched
        val vv = Snapshots.latestVersion(spark, v)
        assert(IncrementalViews.refreshAgg(spark, src, v,
          Seq("g"), Seq("x"), minMaxCols = Seq("x")).isEmpty)
        assert(Snapshots.latestVersion(spark, v) == vv)
      } finally spark.conf.unset("spark.graft.merge.singleFileMaxRows")
    }
  }

  test("agg view: a min/max tick with deletes stays within the single fold's job count") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("c", 6.0))
      .toDF("g", "x"), src, statsCol = Some("g"))
    IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"),
      minMaxCols = Seq("x"))
    Snapshots.commit(Seq(("b", 4.0), ("d", 5.0)).toDF("g", "x"), src,
      statsCol = Some("g"))
    Snapshots.deleteWhere(spark, src, col("x") === 2.0 || col("x") === 6.0)
    val jobs = jobsOf {
      IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"),
        minMaxCols = Seq("x"))
    }
    assertAggCurrent(src, v)
    // the fold as built: feed + delta, affected-file probe, delete-key
    // specs, rescan and view rows folded in one aggregation, one write.
    // A fold split back into separate view read, join and merge passes
    // runs more jobs than this and fails here.
    assert(jobs <= FoldJobs, s"one refreshAgg tick ran $jobs Spark jobs")
  }

  test("agg view: interrupted fold replays exactly once (marker gone, merge fenced)") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq(("a", 1.0)).toDF("g", "x"), src, statsCol = Some("g"))
    IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"))
    Snapshots.commit(Seq(("a", 2.0)).toDF("g", "x"), src, statsCol = Some("g"))
    assert(IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"))
      == Seq(1L))
    val committed = Snapshots.latestVersion(spark, v).get
    // crash window: the (0→1] tick's merge committed but its
    // processed marker did not — restore the intent a finished tick
    // GC'd, as a crash would leave it, and drop the processed marker
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(v), spark.sparkContext.hadoopConfiguration)
    val state = new org.apache.hadoop.fs.Path(s"$v/_agg_state")
    f.listStatus(state).map(_.getPath)
      .filter(_.getName == "processed-F0-T1")
      .foreach(p => f.delete(p, false))
    f.create(new org.apache.hadoop.fs.Path(state, "intent-F0-T1"), true).close()
    // a post-crash append: a naive replay that read "current latest"
    // instead of the pinned intent would fold it with the wrong fence
    Snapshots.commit(Seq(("a", 4.0)).toDF("g", "x"), src, statsCol = Some("g"))
    assert(IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"))
      == Seq(1L)) // replayed the PINNED tick...
    assert(Snapshots.latestVersion(spark, v).contains(committed)) // ...fenced
    // the next tick folds the post-crash append normally
    assert(IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"))
      == Seq(2L))
    assert(canon(Snapshots.read(spark, v).select("g", "sum_x", "__cnt")) ==
      canon(Snapshots.read(spark, src).groupBy("g")
        .agg(sum(col("x").cast("decimal(30,6)")).cast("decimal(30,6)").as("sum_x"),
          count(lit(1)).as("__cnt"))))
  }

  test("agg view: a consumer N versions behind catches up in ONE tick, and pre-round-9 markers upgrade in place") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq(("a", 1.0), ("b", 5.0)).toDF("g", "x"), src,
      statsCol = Some("g"))
    IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"),
      minMaxCols = Seq("x"))
    val v0 = Snapshots.latestVersion(spark, v).get
    // legacy state: rewrite the watermark in the pre-round-9
    // per-version format — the reader must treat it as done=0
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(v), spark.sparkContext.hadoopConfiguration)
    val state = new org.apache.hadoop.fs.Path(s"$v/_agg_state")
    f.listStatus(state).foreach(p => f.delete(p.getPath, false))
    f.create(new org.apache.hadoop.fs.Path(state,
      "processed-v000000000000"), true).close()
    // three source versions pile up before the next call
    Snapshots.commit(Seq(("a", 2.0), ("c", 9.0)).toDF("g", "x"), src,
      statsCol = Some("g"))
    Snapshots.deleteWhere(spark, src, col("x") === 5.0)
    Snapshots.commit(Seq(("c", 8.0)).toDF("g", "x"), src, statsCol = Some("g"))
    // ONE call, ONE tick, ONE new view version — not three
    assert(IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"),
      minMaxCols = Seq("x")) == Seq(1L, 2L, 3L))
    assert(Snapshots.latestVersion(spark, v).contains(v0 + 1))
    assertAggCurrent(src, v)
  }

  /** Expected state for a given join type. */
  private def recomputeAs(leftDir: String, rightDir: String,
                          keys: Seq[String], joinType: String): DataFrame =
    Snapshots.read(spark, leftDir)
      .join(Snapshots.read(spark, rightDir), keys, joinType)

  test("outer join views: full-join null padding stays correct through appends, updates, deletes") {
    val s = spark; import s.implicits._
    val (l, r, v) = (tmpDir(), tmpDir(), tmpDir())
    // k=1 left-only, k=3 right-only, k=2 matches: the full join must
    // hold one null-padded row for each unmatched side
    Snapshots.commit(Seq((1L, "a1"), (2L, "a2")).toDF("k", "a"), l,
      statsCol = Some("k"))
    Snapshots.commit(Seq((2L, 20.0), (3L, 30.0)).toDF("k", "b"), r,
      statsCol = Some("k"))
    assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"),
      joinType = "full").isDefined)
    def current(): Unit =
      assert(canon(IncrementalViews.readExpanded(spark, v)
          .select(recomputeAs(l, r, Seq("k"), "full_outer").columns.map(col): _*)) ==
        canon(recomputeAs(l, r, Seq("k"), "full_outer")))
    current()
    assert(IncrementalViews.readExpanded(spark, v)
      .filter(col("k") === 1 && col("b").isNull).count() == 1L)
    assert(IncrementalViews.readExpanded(spark, v)
      .filter(col("k") === 3 && col("a").isNull).count() == 1L)

    // k=3 starts matching (padding must disappear), k=2's right row
    // leaves (padding must appear), k=4 arrives right-only — and a
    // NULL-key left row arrives: outer semantics keep it, null-padded
    Snapshots.commit(Seq((Some(3L), "a3"), (None: Option[Long], "an"))
      .toDF("k", "a"), l, statsCol = Some("k"))
    Snapshots.mergeCommit(spark, r,
      Seq((2L, 0.0, "d", 1L), (4L, 40.0, "u", 1L)).toDF("k", "b", "op", "seq"),
      keyCols = Seq("k"))
    assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"),
      joinType = "full").isDefined)
    current()
    assert(IncrementalViews.readExpanded(spark, v)
      .filter(col("k").isNull && col("a") === "an").count() == 1L)
    assert(IncrementalViews.readExpanded(spark, v)
      .filter(col("k") === 3 && col("a").isNull).count() == 0L)

    // left-outer view of the same inputs, maintained independently
    val v2 = tmpDir()
    assert(IncrementalViews.refreshJoin(spark, l, r, v2, Seq("k"),
      joinType = "left").isDefined)
    assert(canon(IncrementalViews.readExpanded(spark, v2)
        .select(recomputeAs(l, r, Seq("k"), "left_outer").columns.map(col): _*)) ==
      canon(recomputeAs(l, r, Seq("k"), "left_outer")))
  }

  /** Zero the first 200 data bytes of a parquet file, leaving the
    * footer (at the tail) intact: schema/footer reads keep working,
    * any attempt to read the file's ROWS fails — which is how the
    * pruning tests below prove a file was never opened. */
  private def corruptDataBytes(path: String): Unit = {
    val p = path.stripPrefix("file:")
    val raf = new java.io.RandomAccessFile(p, "rw")
    try {
      val n = math.min(200L, math.max(0L, raf.length() - 1000L)).toInt
      if (n > 0) { raf.seek(4); raf.write(Array.fill[Byte](n)(0x5A)) }
    } finally raf.close()
  }

  test("pruned refresh I/O: a tick touching one key range never opens out-of-range files") {
    val s = spark; import s.implicits._
    val (l, r, v) = (tmpDir(), tmpDir(), tmpDir())
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    // likewise the merge's single-file fast path: these tests pin the
    // AT-SCALE multi-file tiling behavior, so force the range-
    // partitioned merge even for this tiny fixture
    spark.conf.set("spark.graft.merge.singleFileMaxRows", "0")
    try {
      // both inputs and the view tile the key space across files
      val left = spark.range(0, 400).select(col("id").as("k"),
        concat(lit("L"), col("id")).as("a"))
        .repartitionByRange(8, col("k"))
      val right = spark.range(0, 400).select(col("id").as("k"),
        (col("id") * 2.0).as("b")).repartitionByRange(8, col("k"))
      Snapshots.commit(left, l, statsCol = Some("k"))
      Snapshots.commit(right, r, statsCol = Some("k"))
      IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"))

      // churn exactly one key (k=7), then CORRUPT the data bytes of
      // every left-input and view file whose stats range cannot hold
      // k=7: if the refresh opened any of them it would crash — it
      // must instead prune them from all three re-reads
      def farFiles(dir: String): Seq[String] =
        Snapshots.manifest(spark, dir)
          .select("path", "smin_k", "smax_k").collect().toSeq
          .filter(row => !row.isNullAt(1) &&
            (row.getLong(1) > 7L || row.getLong(2) < 7L))
          .map(_.getString(0))
      val farL = farFiles(l)
      val farV = farFiles(v)
      assert(farL.size >= 4, s"need tiling left files, got ${farL.size}")
      assert(farV.size >= 2, s"need tiling view files, got ${farV.size}")
      (farL ++ farV).foreach(corruptDataBytes)

      Snapshots.commit(Seq((7L, 777.7)).toDF("k", "b"), r, statsCol = Some("k"))
      assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isDefined)
      // spot-check through the pruned read path (the corrupted files
      // are still referenced by the manifest, so a full view read
      // would now fail — which is itself proof they weren't rewritten)
      val k7 = Snapshots.readPrunedBy(spark, v, Map("k" -> (7L, 7L)))
        .filter(col("k") === 7)
      assert(k7.count() == 2L) // the original b=14.0 row + b=777.7
      assert(k7.filter(col("b") === 777.7).count() == 1L)
    } finally {
      spark.conf.set(coalesceKey, prev)
      spark.conf.unset("spark.graft.merge.singleFileMaxRows")
    }
  }

  test("agg view: an append-only tick folds min/max from the delta — zero source re-reads") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    // v0 holds group a's global min (1.0) and max (9.0)
    Snapshots.commit(Seq(("a", 1.0), ("a", 9.0), ("b", 5.0)).toDF("g", "x"),
      src, statsCol = Some("g"))
    IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"),
      minMaxCols = Seq("x"))
    // replace v0's data files with EMPTY (schema-only) ones: footers
    // stay readable, rows are gone — a rescan would now lose the
    // min/max, only the monotone delta fold can keep them
    val v0files = Snapshots.manifest(spark, src, Some(0L))
      .select("path").collect().map(_.getString(0))
    val emptyDir = tmpDir() + "/empty"
    Snapshots.read(spark, src, Some(0L)).limit(0).coalesce(1)
      .write.parquet(emptyDir)
    val emptyFile = new java.io.File(emptyDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    v0files.foreach { p =>
      val target = java.nio.file.Paths.get(p.stripPrefix("file:"))
      java.nio.file.Files.copy(emptyFile, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // drop the local FS's checksum sidecar — it describes the old bytes
      java.nio.file.Files.deleteIfExists(
        target.resolveSibling("." + target.getFileName + ".crc"))
    }
    // append-only tick: x=4.0 is inside (1.0, 9.0) — correct min/max
    // can only come from the carried view row
    Snapshots.commit(Seq(("a", 4.0)).toDF("g", "x"), src, statsCol = Some("g"))
    assert(IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"),
      minMaxCols = Seq("x")) == Seq(1L))
    val rowA = Snapshots.read(spark, v).filter(col("g") === "a")
      .select("sum_x", "__cnt", "min_x", "max_x").head()
    assert(rowA.getDecimal(0).doubleValue() == 14.0)
    assert(rowA.getLong(1) == 3L)
    assert(rowA.getDouble(2) == 1.0, "min lost — the tick re-scanned the source")
    assert(rowA.getDouble(3) == 9.0, "max lost — the tick re-scanned the source")
    // a new group in an append-only tick seeds min/max from the delta
    Snapshots.commit(Seq(("c", 2.5)).toDF("g", "x"), src, statsCol = Some("g"))
    assert(IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"),
      minMaxCols = Seq("x")) == Seq(2L))
    val rowC = Snapshots.read(spark, v).filter(col("g") === "c")
      .select("min_x", "max_x").head()
    assert(rowC.getDouble(0) == 2.5 && rowC.getDouble(1) == 2.5)
  }

  test("filtered agg view: WHERE applies to the feed and the rescan alike") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    def expected(): DataFrame =
      Snapshots.read(spark, src).filter(col("x") > 0.0).groupBy("g")
        .agg(sum(col("x").cast("decimal(30,6)")).cast("decimal(30,6)").as("sum_x"),
          count(lit(1)).as("__cnt"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"))
    def tick(): Seq[Long] = IncrementalViews.refreshAgg(spark, src, v,
      Seq("g"), Seq("x"), minMaxCols = Seq("x"),
      where = Some(col("x") > 0.0))
    Snapshots.commit(Seq(("a", 1.0), ("a", -5.0), ("b", 2.0), ("c", -1.0))
      .toDF("g", "x"), src, statsCol = Some("g"))
    tick()
    // group c is all-filtered: it must not exist in the view at all
    assert(canon(Snapshots.read(spark, v)
        .select("g", "sum_x", "__cnt", "min_x", "max_x")) == canon(expected()))
    assert(Snapshots.read(spark, v).filter(col("g") === "c").count() == 0L)
    // a delete of a FILTERED-OUT row must not disturb the view; a
    // delete of an in-filter row triggers the (filtered) rescan
    Snapshots.deleteWhere(spark, src, col("x") === -5.0)
    Snapshots.commit(Seq(("a", 3.0), ("a", -9.0)).toDF("g", "x"), src,
      statsCol = Some("g"))
    Snapshots.deleteWhere(spark, src, col("x") === 1.0)
    assert(tick() == Seq(1L, 2L, 3L))
    assert(canon(Snapshots.read(spark, v)
        .select("g", "sum_x", "__cnt", "min_x", "max_x")) == canon(expected()))
    // min_x for group a must be 3.0 — the rescan filtered out -9.0
    assert(Snapshots.read(spark, v).filter(col("g") === "a")
      .select("min_x").head().getDouble(0) == 3.0)
  }

  test("distinct view: the cascade counts distinct values exactly through appends and deletes") {
    val s = spark; import s.implicits._
    val (src, pairs, v) = (tmpDir(), tmpDir(), tmpDir())
    def expected(): DataFrame =
      Snapshots.read(spark, src).groupBy("g")
        .agg(countDistinct(col("u")).as("n_distinct"))
        .filter(col("n_distinct") > 0L)
    def current(): Unit =
      assert(canon(IncrementalViews.readDistinct(spark, v)
        .select("g", "n_distinct")) == canon(expected()))
    // duplicates of (a,1); a NULL value (ignored, like COUNT(DISTINCT));
    // a NULL group key (a group, like GROUP BY)
    Snapshots.commit(
      Seq((Some("a"), Some(1L)), (Some("a"), Some(1L)), (Some("a"), Some(2L)),
        (Some("b"), Some(1L)), (Some("a"), None), (None, Some(7L)))
        .toDF("g", "u"), src, statsCol = Some("g"))
    assert(IncrementalViews.refreshDistinct(spark, src, pairs, v,
      Seq("g"), "u") == Seq(0L))
    current()
    assert(IncrementalViews.readDistinct(spark, v)
      .filter(col("g") === "a").head().getLong(1) == 2L)
    assert(IncrementalViews.readDistinct(spark, v)
      .filter(col("g").isNull).head().getLong(1) == 1L)
    // the SQL surface reads the same counts
    assert(spark.sql(s"SELECT * FROM graft_distinct_view('$v')")
      .filter(col("g") === "a").head().getLong(1) == 2L)

    // three source versions, ONE call: a second copy of pair (b,1)
    // (its pairs-row count moves 1→2 — the feed shows delete+insert,
    // net ZERO downstream), a new value for a, a delete that removes
    // EVERY copy of (a,1) (count falls), and an update that moves the
    // null group's value 7→8 (one pair out, one in — count holds)
    Snapshots.commit(Seq(("a", 1L), ("b", 1L), ("a", 3L)).toDF("g", "u"), src,
      statsCol = Some("g"))
    Snapshots.deleteWhere(spark, src, col("g") === "a" && col("u") === 1L)
    Snapshots.updateWhere(spark, src, col("g").isNull,
      Map("u" -> lit(8L)))
    assert(IncrementalViews.refreshDistinct(spark, src, pairs, v,
      Seq("g"), "u") == Seq(1L, 2L, 3L))
    current()
    assert(IncrementalViews.readDistinct(spark, v)
      .filter(col("g") === "a").head().getLong(1) == 2L) // {2,3}
    assert(IncrementalViews.readDistinct(spark, v)
      .filter(col("g") === "b").head().getLong(1) == 1L)
    // no-op call: both levels current, nothing folded
    assert(IncrementalViews.refreshDistinct(spark, src, pairs, v,
      Seq("g"), "u").isEmpty)

    // a group whose every value leaves must leave the view
    Snapshots.deleteWhere(spark, src, col("g") === "b")
    IncrementalViews.refreshDistinct(spark, src, pairs, v, Seq("g"), "u")
    current()
    assert(IncrementalViews.readDistinct(spark, v)
      .filter(col("g") === "b").count() == 0L)
  }

  test("per-key derived views: maintained sessions and funnel equal batch through churn") {
    val s = spark; import s.implicits._
    import graft.operators.Relational
    val (src, sv, fv) = (tmpDir(), tmpDir(), tmpDir())
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val stages = Seq("view", "click", "buy")
    def sessionsCurrent(): Unit =
      assert(canon(IncrementalViews.readSessionStats(spark, sv)) ==
        canon(Relational.sessionStats(Snapshots.read(spark, src),
          "user_id", "ts", "event_id", 1800)))
    def funnelCurrent(): Unit =
      assert(canon(IncrementalViews.readFunnel(spark, fv)) ==
        canon(Relational.funnel(Snapshots.read(spark, src),
          "user_id", "ts", "event_type", stages)))
    // user 1: two sessions (gap > 30 min) and a full funnel;
    // user 2: one session, stalls after stage 1
    Snapshots.commit(Seq(
      (1L, 1L, ts(1000), "view"), (2L, 1L, ts(1100), "click"),
      (3L, 1L, ts(9000), "buy"),
      (4L, 2L, ts(1000), "view")).toDF("event_id", "user_id", "ts", "event_type"),
      src, statsCol = Some("user_id"))
    IncrementalViews.refreshSessionStats(spark, src, sv,
      "user_id", "ts", "event_id", 1800)
    IncrementalViews.refreshFunnel(spark, src, fv,
      "user_id", "ts", "event_type", stages)
    sessionsCurrent(); funnelCurrent()
    assert(IncrementalViews.readSessionStats(spark, sv)
      .filter(col("user_id") === 1L).count() == 2L)
    // an append BETWEEN user 1's sessions merges them into one — the
    // renumbering no delta fold could produce; user 2 completes the
    // funnel across two ticks
    Snapshots.commit(Seq(
      (5L, 1L, ts(2500), "view"), (6L, 1L, ts(4000), "view"),
      (7L, 1L, ts(5500), "view"), (8L, 1L, ts(7200), "view"),
      (9L, 2L, ts(1200), "click"), (10L, 2L, ts(1300), "buy"))
      .toDF("event_id", "user_id", "ts", "event_type"),
      src, statsCol = Some("user_id"))
    IncrementalViews.refreshSessionStats(spark, src, sv,
      "user_id", "ts", "event_id", 1800)
    IncrementalViews.refreshFunnel(spark, src, fv,
      "user_id", "ts", "event_type", stages)
    sessionsCurrent(); funnelCurrent()
    assert(IncrementalViews.readSessionStats(spark, sv)
      .filter(col("user_id") === 1L).count() == 1L)
    assert(IncrementalViews.readFunnel(spark, fv)
      .filter(col("user_id") === 2L).head().getAs[Long]("stages_completed")
      == 3L)
    // deleting the bridge events SPLITS user 1's session again, and
    // deleting user 2's stage-1 event evicts them from the funnel
    // entirely (fresh derivation empty → stale row deleted)
    Snapshots.deleteWhere(spark, src,
      col("event_id").isin(5L, 6L, 7L, 8L))
    Snapshots.deleteWhere(spark, src, col("event_id") === 4L)
    IncrementalViews.refreshSessionStats(spark, src, sv,
      "user_id", "ts", "event_id", 1800)
    IncrementalViews.refreshFunnel(spark, src, fv,
      "user_id", "ts", "event_type", stages)
    sessionsCurrent(); funnelCurrent()
    assert(IncrementalViews.readFunnel(spark, fv)
      .filter(col("user_id") === 2L).count() == 0L)
    // no-op ticks fold nothing; pinned params refuse re-pointing
    assert(IncrementalViews.refreshSessionStats(spark, src, sv,
      "user_id", "ts", "event_id", 1800).isEmpty)
    intercept[IllegalArgumentException] {
      IncrementalViews.refreshSessionStats(spark, src, sv,
        "user_id", "ts", "event_id", 900)
    }
    intercept[IllegalArgumentException] {
      IncrementalViews.refreshFunnel(spark, src, fv,
        "user_id", "ts", "event_type", Seq("view", "buy"))
    }
    // the empty-rowOrder single-row contract fails loudly when a
    // derivation emits two rows for one key
    val bad = tmpDir()
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.refreshPerKey(spark, src, bad,
        Seq("user_id"), Nil, df => df.select(col("user_id"), col("event_id")))
    }
    assert(e.getMessage.contains("rowOrder"))
    // SQL surface serves both tables
    assert(canon(spark.sql(s"SELECT * FROM graft_sessions_view('$sv')")) ==
      canon(IncrementalViews.readSessionStats(spark, sv)))
    assert(canon(spark.sql(s"SELECT * FROM graft_funnel_view('$fv')")) ==
      canon(IncrementalViews.readFunnel(spark, fv)))
    // the session-path table rides the same machinery: the top-k
    // journey rollup from the maintained view == batch topPaths over
    // the live source, across the same churn history
    val pv = tmpDir()
    IncrementalViews.refreshSessionPaths(spark, src, pv,
      "user_id", "ts", "event_id", "event_type", 1800)
    def pathsCurrent(): Unit =
      assert(canon(IncrementalViews.readTopPaths(spark, pv, 10)) ==
        canon(Relational.topPaths(Snapshots.read(spark, src),
          "user_id", "ts", "event_id", "event_type", 1800, 10)))
    pathsCurrent()
    Snapshots.commit(Seq((11L, 2L, ts(1500), "view"))
      .toDF("event_id", "user_id", "ts", "event_type"),
      src, statsCol = Some("user_id"))
    IncrementalViews.refreshSessionPaths(spark, src, pv,
      "user_id", "ts", "event_id", "event_type", 1800)
    pathsCurrent()
    assert(canon(spark.sql(s"SELECT * FROM graft_top_paths_view('$pv', 10)"))
      == canon(IncrementalViews.readTopPaths(spark, pv, 10)))
  }

  test("retention view: maintained cohorts equal the batch report through appends and deletes") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    val wk = 604800L // seconds per epoch week
    def ts(week: Long, off: Long) =
      new java.sql.Timestamp((week * wk + off) * 1000L)
    def expected(): DataFrame = graft.operators.Relational.retention(
      Snapshots.read(spark, src), "user_id", "ts")
    def current(): Unit =
      assert(canon(IncrementalViews.readRetention(spark, v)
          .select("cohort_wk", "offset_wk", "n_active")) ==
        canon(expected().select("cohort_wk", "offset_wk", "n_active")))
    // user 1: weeks 100,101; user 2: week 100 twice (multiplicity
    // must keep the pair alive when one copy leaves); user 3: week 102
    Snapshots.commit(Seq(
      (1L, 1L, ts(100, 10)), (2L, 1L, ts(101, 20)),
      (3L, 2L, ts(100, 30)), (4L, 2L, ts(100, 40)),
      (5L, 3L, ts(102, 50))).toDF("event_id", "user_id", "ts"),
      src, statsCol = Some("user_id"))
    assert(IncrementalViews.refreshRetention(spark, src, v, "user_id", "ts")
      == Seq(0L))
    current()
    // one copy of user 2's week-100 pair leaves → pair survives;
    // BOTH of user 1's events leave → user 1 leaves the report
    // entirely; a new user 4 lands in a later cohort
    Snapshots.deleteWhere(spark, src, col("event_id") === 3L)
    Snapshots.deleteWhere(spark, src, col("user_id") === 1L)
    Snapshots.commit(Seq((6L, 4L, ts(103, 60)))
      .toDF("event_id", "user_id", "ts"), src, statsCol = Some("user_id"))
    assert(IncrementalViews.refreshRetention(spark, src, v, "user_id", "ts")
      == Seq(1L, 2L, 3L))
    current()
    assert(IncrementalViews.readRetention(spark, v)
      .filter(col("cohort_wk") === 100L && col("offset_wk") === 0L)
      .head().getLong(2) == 1L) // only user 2 remains in cohort 100
    // deleting a user's EARLIEST week moves their cohort — the serve
    // recomputes min over live pairs, no stale cohort can survive
    Snapshots.commit(Seq((7L, 3L, ts(103, 70)))
      .toDF("event_id", "user_id", "ts"), src, statsCol = Some("user_id"))
    Snapshots.deleteWhere(spark, src, col("event_id") === 5L)
    IncrementalViews.refreshRetention(spark, src, v, "user_id", "ts")
    current()
    assert(IncrementalViews.readRetention(spark, v)
      .filter(col("cohort_wk") === 103L).head().getLong(2) == 2L)
    // no-op tick folds nothing
    assert(IncrementalViews.refreshRetention(spark, src, v, "user_id", "ts")
      .isEmpty)
    // pinned lens: re-pointing the view at other columns refuses
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.refreshRetention(spark, src, v, "event_id", "ts")
    }
    assert(e.getMessage.contains("retention_cols"))
    // SQL surface serves the same report
    assert(canon(spark.sql(s"SELECT * FROM graft_retention_view('$v')")
        .select("cohort_wk", "offset_wk", "n_active")) ==
      canon(expected().select("cohort_wk", "offset_wk", "n_active")))
  }

  test("distinct view: a crash between the two levels self-heals on the next call") {
    val s = spark; import s.implicits._
    val (src, pairs, v) = (tmpDir(), tmpDir(), tmpDir())
    Snapshots.commit(Seq(("a", 1L), ("a", 2L)).toDF("g", "u"), src,
      statsCol = Some("g"))
    IncrementalViews.refreshDistinct(spark, src, pairs, v, Seq("g"), "u")
    // simulate the crash window: level 1 folds a new source version,
    // level 2 never runs (a refreshDistinct that died in the middle)
    Snapshots.commit(Seq(("a", 9L)).toDF("g", "u"), src, statsCol = Some("g"))
    IncrementalViews.refreshAgg(spark, src, pairs, Seq("g", "u"), Nil,
      where = Some(col("u").isNotNull))
    assert(IncrementalViews.readDistinct(spark, v)
      .filter(col("g") === "a").head().getLong(1) == 2L) // stale level 2
    // the next full call finds level 1 current and catches level 2 up
    IncrementalViews.refreshDistinct(spark, src, pairs, v, Seq("g"), "u")
    assert(IncrementalViews.readDistinct(spark, v)
      .filter(col("g") === "a").head().getLong(1) == 3L)
  }

  test("continuous maintenance: the change feeds wake the refresh, catch-up and always-on") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val (l, r, v, ckpt) = (tmpDir(), tmpDir(), tmpDir(), tmpDir() + "/ck")
    Snapshots.commit(Seq((1L, "a1"), (2L, "a2")).toDF("k", "a"), l,
      statsCol = Some("k"))
    Snapshots.commit(Seq((1L, 1.0), (3L, 3.0)).toDF("k", "b"), r,
      statsCol = Some("k"))
    def maintainJoin(trigger: Trigger = Trigger.AvailableNow()) =
      IncrementalViews.maintain(spark, Seq(l, r), ckpt, trigger) { () =>
        IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")); ()
      }
    // catch-up-and-stop: AvailableNow drains both feeds, ticks, exits
    maintainJoin().awaitTermination()
    assertViewCurrent(l, r, v, Seq("k"))

    // a second catch-up from the SAME checkpoint sees only the new
    // versions (append left + delete right in one signal batch)
    Snapshots.commit(Seq((3L, "a3")).toDF("k", "a"), l, statsCol = Some("k"))
    Snapshots.deleteWhere(spark, r, col("k") === 1L)
    maintainJoin().awaitTermination()
    assertViewCurrent(l, r, v, Seq("k"))
    assert(IncrementalViews.readExpanded(spark, v)
      .filter(col("k") === 1).count() == 0L)

    // always-on: commits made WHILE the query runs land in the view
    val q = maintainJoin(Trigger.ProcessingTime(0))
    try {
      Snapshots.commit(Seq((9L, "a9")).toDF("k", "a"), l, statsCol = Some("k"))
      Snapshots.commit(Seq((9L, 9.0)).toDF("k", "b"), r, statsCol = Some("k"))
      q.processAllAvailable()
      assertViewCurrent(l, r, v, Seq("k"))
      assert(IncrementalViews.readExpanded(spark, v)
        .filter(col("k") === 9).count() == 1L)
    } finally q.stop()
  }

  test("continuous maintenance: an aggregate view rides its source's feed") {
    val s = spark; import s.implicits._
    val (src, v, ckpt) = (tmpDir(), tmpDir(), tmpDir() + "/ck")
    Snapshots.commit(Seq(("a", 1.0), ("b", 2.0)).toDF("g", "x"), src,
      statsCol = Some("g"))
    def maintainAgg() = IncrementalViews.maintain(spark, Seq(src), ckpt) {
      () => IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"),
        minMaxCols = Seq("x")); ()
    }
    maintainAgg().awaitTermination()
    assertAggCurrent(src, v)
    Snapshots.commit(Seq(("a", 5.0)).toDF("g", "x"), src, statsCol = Some("g"))
    Snapshots.deleteWhere(spark, src, col("x") === 2.0)
    maintainAgg().awaitTermination()
    assertAggCurrent(src, v)
    assert(Snapshots.read(spark, v).filter(col("g") === "b").count() == 0L)
  }

  test("top-k view: a deleted leader is displaced by the new k-th; shrunken groups drop trailing ranks") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (src, v) = (tmpDir(), tmpDir())
    def expected(): DataFrame =
      Snapshots.read(spark, src)
        .withColumn("__rank", row_number().over(
          Window.partitionBy("g").orderBy(col("x").desc, col("id")))
          .cast("long"))
        .filter(col("__rank") <= 2)
    def current(): Unit =
      assert(canon(Snapshots.read(spark, v).select("g", "id", "x", "__rank")) ==
        canon(expected().select("g", "id", "x", "__rank")))
    Snapshots.commit(
      Seq(("a", 1L, 10.0), ("a", 2L, 8.0), ("a", 3L, 6.0), ("a", 4L, 4.0),
        ("b", 5L, 1.0)).toDF("g", "id", "x"), src, statsCol = Some("g"))
    assert(IncrementalViews.refreshTopK(spark, src, v, Seq("g"), "x", 2,
      tieBreak = Seq("id")) == Seq(0L))
    current()

    // one catch-up tick over two versions: group a's LEADER leaves —
    // the new 2nd (x=6.0) must be pulled from outside the old top-k —
    // and group b grows a new leader; ranks rewrite in place
    Snapshots.deleteWhere(spark, src, col("id") === 1L)
    Snapshots.commit(Seq(("b", 6L, 5.0)).toDF("g", "id", "x"), src,
      statsCol = Some("g"))
    assert(IncrementalViews.refreshTopK(spark, src, v, Seq("g"), "x", 2,
      tieBreak = Seq("id")) == Seq(1L, 2L))
    current()
    assert(Snapshots.read(spark, v)
      .filter(col("g") === "a" && col("__rank") === 2L)
      .select("x").head().getDouble(0) == 6.0)

    // a group shrinking below k must DROP its trailing rank row
    Snapshots.deleteWhere(spark, src, col("g") === "a" && col("id") =!= 4L)
    IncrementalViews.refreshTopK(spark, src, v, Seq("g"), "x", 2,
      tieBreak = Seq("id"))
    current()
    assert(Snapshots.read(spark, v).filter(col("g") === "a").count() == 1L)
    // nothing pending: no tick, no version
    val vv = Snapshots.latestVersion(spark, v)
    assert(IncrementalViews.refreshTopK(spark, src, v, Seq("g"), "x", 2,
      tieBreak = Seq("id")).isEmpty)
    assert(Snapshots.latestVersion(spark, v) == vv)
  }

  test("views all the way down: a 3-way join maintained as a view over a view, multiplicities multiplying") {
    val s = spark; import s.implicits._
    val (a, b, c, ab, abc) = (tmpDir(), tmpDir(), tmpDir(), tmpDir(), tmpDir())
    // duplicates in A (k=1 twice) and C (k=1 twice): the 3-way tuple
    // for k=1 must carry __n = 2·1·2 = 4 through the chained views
    Snapshots.commit(Seq((1L, "a1"), (1L, "a1"), (2L, "a2")).toDF("k", "va"),
      a, statsCol = Some("k"))
    Snapshots.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "vb"), b,
      statsCol = Some("k"))
    Snapshots.commit(Seq((1L, "c1"), (1L, "c1"), (2L, "c2")).toDF("k", "vc"),
      c, statsCol = Some("k"))
    def expected(): DataFrame =
      Snapshots.read(spark, a)
        .join(Snapshots.read(spark, b), Seq("k"))
        .join(Snapshots.read(spark, c), Seq("k"))
    def refreshChain(): Unit = {
      IncrementalViews.refreshJoin(spark, a, b, ab, Seq("k"))
      IncrementalViews.refreshJoin(spark, ab, c, abc, Seq("k"))
    }
    def current(): Unit =
      assert(canon(IncrementalViews.readExpanded(spark, abc)
        .select(expected().columns.map(col): _*)) == canon(expected()))
    refreshChain()
    current()
    assert(Snapshots.read(spark, abc).filter(col("k") === 1)
      .select("__n").head().getLong(0) == 4L)

    // churn every level: third copy of A's k=1 (6 expected), C loses
    // one k=1 copy (back to 3... no: 3·1·1 = 3), B's k=2 row updates
    Snapshots.commit(Seq((1L, "a1")).toDF("k", "va"), a, statsCol = Some("k"))
    Snapshots.mergeCommit(spark, b,
      Seq((2L, 22.0, "u", 1L)).toDF("k", "vb", "op", "seq"),
      keyCols = Seq("k"))
    Snapshots.deleteWhere(spark, c, col("k") === 1L)
    refreshChain()
    current()
    // k=1: 3 A-copies x 1 B x 0 C rows -> gone from the 3-way view
    assert(Snapshots.read(spark, abc).filter(col("k") === 1).count() == 0L)
    assert(IncrementalViews.readExpanded(spark, abc)
      .filter(col("k") === 2).select("vb").head().getDouble(0) == 22.0)

    // a change ONLY in C: AB has no tick to do, ABC still updates
    Snapshots.commit(Seq((2L, "c9")).toDF("k", "vc"), c, statsCol = Some("k"))
    assert(IncrementalViews.refreshJoin(spark, a, b, ab, Seq("k")).isEmpty)
    assert(IncrementalViews.refreshJoin(spark, ab, c, abc, Seq("k")).isDefined)
    current()
  }

  test("windowed rollup view: a ksqlDB-style hourly table maintained from the feed, late data touching only its window") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    // the windowed shape is pure composition: materialize the bucket
    // at commit time (stats on it make window-pruning plain file
    // pruning), then group the view by (window, key)
    def bucketed(rows: Seq[(Long, String, Double)]) =
      rows.toDF("ts_s", "k", "x")
        .withColumn("w", (col("ts_s") / 3600L).cast("long") * 3600L)
    def tick(): Seq[Long] = IncrementalViews.refreshAgg(spark, src, v,
      Seq("w", "k"), Seq("x"), minMaxCols = Seq("x"))
    def expected(): DataFrame =
      Snapshots.read(spark, src).groupBy("w", "k")
        .agg(sum(col("x").cast("decimal(30,6)")).cast("decimal(30,6)").as("sum_x"),
          count(lit(1)).as("__cnt"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"))
    Snapshots.commit(bucketed(Seq(
      (100L, "a", 1.0), (200L, "a", 2.0), (3700L, "a", 5.0),
      (3800L, "b", 7.0))), src, statsCol = Some("w"))
    tick()
    assert(canon(Snapshots.read(spark, v)
      .select("w", "k", "sum_x", "__cnt", "min_x", "max_x")) ==
      canon(expected()))
    // LATE data lands in hour 0 while hour 1 keeps arriving — one
    // catch-up tick; the late row revises only its own window group
    Snapshots.commit(bucketed(Seq((300L, "a", 10.0))), src,
      statsCol = Some("w"))
    Snapshots.commit(bucketed(Seq((3900L, "b", 1.0))), src,
      statsCol = Some("w"))
    assert(tick() == Seq(1L, 2L))
    assert(canon(Snapshots.read(spark, v)
      .select("w", "k", "sum_x", "__cnt", "min_x", "max_x")) ==
      canon(expected()))
    assert(Snapshots.read(spark, v)
      .filter(col("w") === 0L && col("k") === "a")
      .select("__cnt").head().getLong(0) == 3L)
  }

  test("derived view: an incremental vocabulary — deleted documents retract their tokens exactly") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    // the transform explodes each document into its tokens; __change
    // rides along, so a deleted doc's tokens arrive as deletions
    val explodeTokens: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = df =>
      df.withColumn("token", explode(split(col("text"), " "))).drop("text")
    def tick(): Seq[Long] = IncrementalViews.refreshAgg(spark, src, v,
      Seq("token"), Nil, minMaxCols = Seq("doc_id"),
      transform = Some(explodeTokens))
    def expected(): DataFrame =
      explodeTokens(Snapshots.read(spark, src)
          .withColumn("__change", lit("insert"))).drop("__change")
        .groupBy("token")
        .agg(count(lit(1)).as("__cnt"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
    Snapshots.commit(Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text"),
      src, statsCol = Some("doc_id"))
    assert(tick() == Seq(0L))
    assert(canon(Snapshots.read(spark, v)
      .select("token", "__cnt", "min_doc_id", "max_doc_id")) ==
      canon(expected()))
    assert(Snapshots.read(spark, v).filter(col("token") === "a")
      .select("__cnt").head().getLong(0) == 2L)

    // a new doc arrives and doc 1 leaves, in one catch-up tick:
    // token a (only in doc 1) must vanish; b shrinks to 1 and its
    // posting bounds re-derive through the TRANSFORMED rescan
    Snapshots.commit(Seq((3L, "c d")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") === 1L)
    assert(tick() == Seq(1L, 2L))
    assert(canon(Snapshots.read(spark, v)
      .select("token", "__cnt", "min_doc_id", "max_doc_id")) ==
      canon(expected()))
    assert(Snapshots.read(spark, v).filter(col("token") === "a").count() == 0L)
    val b = Snapshots.read(spark, v).filter(col("token") === "b")
      .select("__cnt", "min_doc_id", "max_doc_id").head()
    assert((b.getLong(0), b.getLong(1), b.getLong(2)) == ((1L, 2L, 2L)))
    // a transform that drops __change is refused loudly
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(Seq((4L, "e")).toDF("doc_id", "text"), src,
        statsCol = Some("doc_id"))
      IncrementalViews.refreshAgg(spark, src, tmpDir(), Seq("token"), Nil,
        transform = Some(df => explodeTokens(df).drop("__change")))
    }
    assert(e.getMessage.contains("__change"))
  }

  test("single-maintainer lock: a second concurrent refresh fails loudly, not by skipping versions") {
    val s = spark; import s.implicits._
    val (l, r, v) = (tmpDir(), tmpDir(), tmpDir())
    Snapshots.commit(Seq((1L, "x")).toDF("k", "a"), l, statsCol = Some("k"))
    Snapshots.commit(Seq((1L, 1.0)).toDF("k", "b"), r, statsCol = Some("k"))
    IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"))
    // a live maintainer holds the view's writer lock; a second tick
    // must refuse (a silent race could mark versions done whose merge
    // the fence dropped)
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(v), spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(v, "_graft_maintenance.lock")
    f.create(lock, false).close()
    Snapshots.commit(Seq((2L, "y")).toDF("k", "a"), l, statsCol = Some("k"))
    Snapshots.commit(Seq((2L, 2.0)).toDF("k", "b"), r, statsCol = Some("k"))
    val e = intercept[IllegalStateException](
      IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")))
    assert(e.getMessage.contains("maintenance writer"))
    val e2 = intercept[IllegalStateException](
      IncrementalViews.refreshAgg(spark, l, v, Seq("k"), Nil))
    assert(e2.getMessage.contains("maintenance writer"))
    // the failed attempts changed nothing; once released, work resumes
    f.delete(lock, false)
    assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isDefined)
    assertViewCurrent(l, r, v, Seq("k"))
  }

  test("join-view state GC: _view_state stays bounded across many ticks") {
    val s = spark; import s.implicits._
    val (l, r, v) = (tmpDir(), tmpDir(), tmpDir())
    Snapshots.commit(Seq((0L, "a0")).toDF("k", "a"), l, statsCol = Some("k"))
    Snapshots.commit(Seq((0L, 0.0)).toDF("k", "b"), r, statsCol = Some("k"))
    IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"))
    (1 to 5).foreach { i =>
      Snapshots.commit(Seq((i.toLong, s"a$i")).toDF("k", "a"), l,
        statsCol = Some("k"))
      Snapshots.commit(Seq((i.toLong, i.toDouble)).toDF("k", "b"), r,
        statsCol = Some("k"))
      assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isDefined)
    }
    assertViewCurrent(l, r, v, Seq("k"))
    // 6 ticks ran; only the newest processed marker (the watermark)
    // may remain — an always-on maintainer must not grow O(ticks)
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(v), spark.sparkContext.hadoopConfiguration)
    val names = f.listStatus(new org.apache.hadoop.fs.Path(s"$v/_view_state"))
      .map(_.getPath.getName).toSeq
    assert(names.count(_.startsWith("processed-")) == 1,
      s"processed markers not GC'd: $names")
    assert(names.count(_.startsWith("intent-")) == 0,
      s"spent intents not GC'd: $names")
  }

  test("scattered churn: a tick touching both ends of the key domain still prunes the middle") {
    val s = spark; import s.implicits._
    val (l, r, v) = (tmpDir(), tmpDir(), tmpDir())
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    // likewise the merge's single-file fast path: these tests pin the
    // AT-SCALE multi-file tiling behavior, so force the range-
    // partitioned merge even for this tiny fixture
    spark.conf.set("spark.graft.merge.singleFileMaxRows", "0")
    try {
      val left = spark.range(0, 1000).select(col("id").as("k"),
        concat(lit("L"), col("id")).as("a")).repartitionByRange(10, col("k"))
      val right = spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 2.0).as("b")).repartitionByRange(10, col("k"))
      Snapshots.commit(left, l, statsCol = Some("k"))
      Snapshots.commit(right, r, statsCol = Some("k"))
      IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"))

      // churn ONLY the extremes (k=3 and k=996): the old global
      // [min, max] range spanned the whole domain and pruned NOTHING;
      // multi-range pruning must keep the middle files closed — prove
      // it by corrupting every left/view file whose range holds
      // neither extreme, so opening one would crash the tick
      def midFiles(dir: String): Seq[String] =
        Snapshots.manifest(spark, dir)
          .select("path", "smin_k", "smax_k").collect().toSeq
          .filter { row =>
            !row.isNullAt(1) &&
              (row.getLong(1) > 3L || row.getLong(2) < 3L) &&
              (row.getLong(1) > 996L || row.getLong(2) < 996L)
          }.map(_.getString(0))
      val (midL, midV) = (midFiles(l), midFiles(v))
      assert(midL.size >= 6, s"need tiling left files, got ${midL.size}")
      assert(midV.size >= 2, s"need tiling view files, got ${midV.size}")
      (midL ++ midV).foreach(corruptDataBytes)

      Snapshots.commit(Seq((3L, 333.3), (996L, 999.9)).toDF("k", "b"), r,
        statsCol = Some("k"))
      assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isDefined)
      val probe = Snapshots.readPrunedRanges(spark, v, "k",
        Seq((3L, 3L), (996L, 996L)))
      assert(probe.filter(col("k") === 3L).agg(sum("__n")).head().getLong(0) == 2L)
      assert(probe.filter(col("k") === 996L).agg(sum("__n")).head().getLong(0) == 2L)

      // and the disjunctive read itself opens only the edge files
      val opened = Snapshots.readPrunedRanges(spark, l, "k",
        Seq((3L, 3L), (996L, 996L))).inputFiles.length
      val total = Snapshots.manifest(spark, l).count()
      assert(opened <= 2 && total == 10L,
        s"expected <=2 of $total files opened, got $opened")
    } finally {
      spark.conf.set(coalesceKey, prev)
      spark.conf.unset("spark.graft.merge.singleFileMaxRows")
    }
  }

  test("multi-key pruning: churn narrow in the SECOND group key opens only that key's files") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    // likewise the merge's single-file fast path: these tests pin the
    // AT-SCALE multi-file tiling behavior, so force the range-
    // partitioned merge even for this tiny fixture
    spark.conf.set("spark.graft.merge.singleFileMaxRows", "0")
    try {
      // every file holds the FULL g1 domain (head-key stats prune
      // nothing) but a tight g2 slice (extraStatsCols make it
      // prunable) — the shape where head-only pruning reads the table
      val data = spark.range(0, 1000).select(
        (col("id") % 100).as("g1"),
        (col("id") / 100).cast("long").as("g2"),
        (col("id") * 1.0).as("x"))
        .repartitionByRange(10, col("g2"))
      Snapshots.commit(data, src, statsCol = Some("g1"),
        extraStatsCols = Seq("g2"))
      IncrementalViews.refreshAgg(spark, src, v, Seq("g1", "g2"), Seq("x"),
        minMaxCols = Seq("x"))
      // delete one (g1, g2) cell: the next tick must rescan that
      // group's min/max from the source as-of the consumed version
      Snapshots.deleteWhere(spark, src, col("g1") === 7 && col("g2") === 0)
      // corrupt every current source file that cannot hold g2 = 0 —
      // a head-key-only prune would open one and crash the tick
      val far = Snapshots.manifest(spark, src)
        .select("path", "smin_g2", "smax_g2").collect().toSeq
        .filter(r => !r.isNullAt(1) && (r.getLong(1) > 0L || r.getLong(2) < 0L))
        .map(_.getString(0))
      assert(far.size >= 8, s"need tiling g2 files, got ${far.size}")
      far.foreach(corruptDataBytes)
      assert(IncrementalViews.refreshAgg(spark, src, v, Seq("g1", "g2"),
        Seq("x"), minMaxCols = Seq("x")).nonEmpty)
      assert(Snapshots.read(spark, v)
        .filter(col("g1") === 7 && col("g2") === 0).count() == 0L)
      assert(Snapshots.read(spark, v).count() == 999L)
    } finally {
      spark.conf.set(coalesceKey, prev)
      spark.conf.unset("spark.graft.merge.singleFileMaxRows")
    }
  }

  test("date-keyed view: scattered churn across a wide date span grids without a cast crash") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    def d(x: String) = java.sql.Date.valueOf(x)
    val days = (0 until 400).map(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        i.toDouble))
    Snapshots.commit(days.toDF("day", "x"), src, statsCol = Some("day"))
    IncrementalViews.refreshAgg(spark, src, v, Seq("day"), Seq("x"))
    // churn the two extremes of the date domain in one tick — the
    // grid refinement must bucket DATE keys (no direct double cast)
    Snapshots.commit(Seq((d("2024-01-01"), 100.0), (d("2025-02-04"), 200.0))
      .toDF("day", "x"), src, statsCol = Some("day"))
    assert(IncrementalViews.refreshAgg(spark, src, v, Seq("day"), Seq("x"))
      .nonEmpty)
    val got = Snapshots.read(spark, v)
      .filter(col("day") === d("2024-01-01"))
      .select(col("sum_x").cast("double")).head().getDouble(0)
    assert(got == 100.0)
    // 400 initial days + the churned brand-new day past the range
    assert(Snapshots.read(spark, v).count() == 401L)
  }

  test("lease-based lock: a crashed maintainer's stale lock is stolen, a live one is respected") {
    val s = spark; import s.implicits._
    val (l, r, v) = (tmpDir(), tmpDir(), tmpDir())
    Snapshots.commit(Seq((1L, "x")).toDF("k", "a"), l, statsCol = Some("k"))
    Snapshots.commit(Seq((1L, 1.0)).toDF("k", "b"), r, statsCol = Some("k"))
    // a lock whose age exceeds the lease (backdated past the default
    // 15 min): the next tick must steal it and proceed — an always-on
    // maintainer self-heals after a kill -9 instead of crash-looping
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(v), spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(v))
    val lock = new org.apache.hadoop.fs.Path(v, "_graft_maintenance.lock")
    f.create(lock, false).close()
    f.setTimes(lock, System.currentTimeMillis() - 16L * 60 * 1000, -1)
    assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isDefined)
    assertViewCurrent(l, r, v, Seq("k"))
    assert(!f.exists(lock), "the stolen lock must be released after the tick")
    // clearLock is the immediate manual override for a fresh stale lock
    f.create(lock, false).close()
    assert(graft.operators.IndexMaintenance.clearLock(spark, v))
    assert(!f.exists(lock))
  }

  test("a tick that deletes every joining row of a key leaves a correct, smaller view") {
    val s = spark; import s.implicits._
    val (l, r, v) = (tmpDir(), tmpDir(), tmpDir())
    Snapshots.commit(Seq((1L, "x"), (2L, "y")).toDF("k", "a"), l,
      statsCol = Some("k"))
    Snapshots.commit(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "b"), r,
      statsCol = Some("k"))
    IncrementalViews.refreshJoin(spark, l, r, v, Seq("k"))
    // wipe the whole right side: the recompute for both keys is empty,
    // every view row is a Z-set delete — the all-rows-deleted merge
    // (zero-row commit) must still publish a clean manifest
    Snapshots.deleteWhere(spark, r, lit(true))
    assert(IncrementalViews.refreshJoin(spark, l, r, v, Seq("k")).isDefined)
    assert(Snapshots.read(spark, v).count() == 0L)
  }

  test("housekeep settles compaction + retention debt under the lock; maintenance continues after") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    def tick(): Unit =
      IncrementalViews.refreshAgg(spark, src, v, Seq("g"), Seq("x"))
    def expected(): DataFrame = Snapshots.read(spark, src).groupBy("g")
      .agg(sum(col("x").cast("decimal(30,6)")).as("sum_x"),
        count(lit(1L)).as("__cnt"))
    def current(): Unit =
      assert(canon(Snapshots.read(spark, v).select("g", "sum_x", "__cnt")) ==
        canon(expected().select("g", "sum_x", "__cnt")))
    // 8 churn ticks: every one CoW-merges the view → small files +
    // manifest history pile up
    (1 to 8).foreach { i =>
      Snapshots.commit(Seq((s"g${i % 3}", i.toDouble)).toDF("g", "x"), src,
        statsCol = Some("g"))
      tick()
    }
    current()
    def dataFiles(): Int = {
      val f = new java.io.File(s"$v/data")
      if (!f.isDirectory) 0
      else f.listFiles.filter(_.isDirectory)
        .flatMap(_.listFiles).count(_.getName.endsWith(".parquet"))
    }
    def manifests(): Int =
      new java.io.File(s"$v/_manifests").listFiles.count(_.isDirectory)
    assert(manifests() >= 8, "precondition: history piled up")
    val filesBefore = dataFiles()
    IncrementalViews.housekeep(spark, v, targetRows = 1000L,
      keepLast = 2, clusterBy = Some("g"), graceMs = 0L)
    // compacted to one file, history trimmed, orphans reaped, content
    // identical, lock released
    assert(dataFiles() < filesBefore)
    assert(manifests() <= 2)
    current()
    // and the maintainer keeps going: a post-housekeep tick still folds
    Snapshots.commit(Seq(("g0", 100.0)).toDF("g", "x"), src,
      statsCol = Some("g"))
    tick()
    current()
  }

  test("corr-matrix view: served matrix == batch corrMatrixBy double-for-double across churn and deletes") {
    val s = spark; import s.implicits._
    val (src, v) = (tmpDir(), tmpDir())
    def batch(): DataFrame =
      graft.operators.Relational.corrMatrixBy(
        Snapshots.read(spark, src), Seq("g"), Seq("x", "y"))
    def current(): Unit =
      assert(canon(IncrementalViews.readCorrMatrix(spark, v,
        Seq("g"), Seq("x", "y"))) == canon(batch()))
    val rnd = new scala.util.Random(20260814L)
    def rows(ids: Range) = ids.map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b",
        rnd.nextDouble() * 100 - 50, rnd.nextDouble() * 10))
    Snapshots.commit(rows(1 to 40).toDF("id", "g", "x", "y"), src,
      statsCol = Some("g"))
    IncrementalViews.refreshCorrMatrix(spark, src, v, Seq("g"), Seq("x", "y"))
    current()
    // append + a retraction band folded in ONE tick: pure-sum stats
    // must stay exact under deletes with no rescan (nothing in the
    // view is min/max-shaped)
    Snapshots.commit(rows(41 to 60).toDF("id", "g", "x", "y"), src,
      statsCol = Some("g"))
    Snapshots.deleteWhere(spark, src, col("id") % 5 === 0)
    IncrementalViews.refreshCorrMatrix(spark, src, v, Seq("g"), Seq("x", "y"))
    current()
    // matrix sanity on the served frame: 2 groups x 4 cells, unit diag
    val m = IncrementalViews.readCorrMatrix(spark, v, Seq("g"), Seq("x", "y"))
      .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getDouble(3))).toMap
    assert(m.size == 8)
    Seq("a", "b").foreach { g =>
      assert(math.abs(m((g, "x", "x")) - 1.0) < 1e-12)
      assert(m((g, "x", "y")) == m((g, "y", "x")))
    }
  }

  test("maintained corpus profile == batch corpusProfile across append + delete churn") {
    import org.apache.spark.sql.functions._
    import graft.sources.{IncrementalViews, Snapshots}
    val root = java.nio.file.Files
      .createTempDirectory("graft_profview").toString
    val (src, views) = (s"$root/src", s"$root/views")
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(200)
      .localCheckpoint(true)
    def served() = IncrementalViews.readCorpusProfile(spark, views)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def fresh() = graft.operators.Corpus
      .corpusProfile(Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshCorpusProfile(spark, src, views, "text")
    assert(served() == fresh()) // double-for-double, incl. means
    // append the other half AND retract a band in one maintenance
    // round: Z-set sums, the token Z-set, and the text Z-set must all
    // fold the deletes exactly (vocabulary can SHRINK)
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 1), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    IncrementalViews.refreshCorpusProfile(spark, src, views, "text")
    val sv = served()
    assert(sv == fresh())
    assert(sv("n_docs") > 0 && sv.contains("distinct_tokens"))
    // a doc-removing delete really flowed through: fewer docs than
    // the full 200
    assert(sv("n_docs") < 200.0)
  }

  test("fingerprint-keyed dup counting == text-keyed, batch and maintained") {
    import org.apache.spark.sql.functions._
    import graft.sources.{IncrementalViews, Snapshots}
    // planted exact duplicates so exact_dup_docs is nonzero: 10 docs
    // re-appear under fresh ids with byte-identical text
    val base = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(100)
    val docs = base.unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      .localCheckpoint(true)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val byText = toMap(graft.operators.Corpus
      .corpusProfile(docs, "doc_id", "text"))
    val byFp = toMap(graft.operators.Corpus
      .corpusProfile(docs, "doc_id", "text", dupKeyFingerprint = true))
    assert(byText("exact_dup_docs") >= 10.0)
    assert(byFp == byText) // int64 keying changes nothing, only bytes shuffled
    // maintained twin: the fingerprint-keyed view folds append +
    // delete churn and still equals the text-keyed batch card
    val root = java.nio.file.Files
      .createTempDirectory("graft_fpprofview").toString
    val (src, views) = (s"$root/src", s"$root/views")
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshCorpusProfile(spark, src, views, "text",
      dupKeyFingerprint = true)
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 1), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    IncrementalViews.refreshCorpusProfile(spark, src, views, "text",
      dupKeyFingerprint = true)
    val served = toMap(IncrementalViews.readCorpusProfile(spark, views))
    val freshText = toMap(graft.operators.Corpus.corpusProfile(
      Snapshots.read(spark, src).select("doc_id", "text"), "doc_id", "text"))
    assert(served == freshText)
  }

  test("maintained inverted index serves BM25 == batch bm25 across append + delete churn") {
    import org.apache.spark.sql.functions._
    import graft.sources.{IncrementalViews, Snapshots}
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25view").toString
    val (src, views) = (s"$root/src", s"$root/views")
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(200).localCheckpoint(true)
    val terms = Seq("spark", "join", "data")
    def served() = IncrementalViews.readBm25(spark, views, terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def fresh() = graft.operators.Corpus
      .bm25(Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text")
    val s1 = served()
    assert(s1 == fresh() && s1.nonEmpty) // double-for-double
    // append the other half AND retract a band in one tick: postings
    // (tf), doc frequency, N and avgdl must ALL move — every factor
    // of the score — with zero corpus rescans
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 1), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text")
    val s2 = served()
    assert(s2 == fresh() && s2.nonEmpty)
    assert(s2 != s1) // the churn actually moved scores
    // a deleted doc no longer serves
    assert(!s2.keys.exists(_ % 7 == 2))
    // serve-plan shape: the per-term df table rides a pinned
    // broadcast back onto the postings — never a shuffle of the
    // posting rows for a |terms|-row build side
    val plan = IncrementalViews.readBm25(spark, views, terms)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"readBm25 lost its df broadcast:\n$plan")
  }

  test("positional index: exact phrase search, overlapping hits, 3-term chain, deletes") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{IncrementalViews, Snapshots}
    val root = java.nio.file.Files
      .createTempDirectory("graft_phrase").toString
    val (src, views) = (s"$root/src", s"$root/views")
    Snapshots.commit(Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "beta alpha beta gamma"),
      (3L, "gamma alpha gamma beta"),
      (4L, "alpha alpha alpha")).toDF("doc_id", "text"),
      src, statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text",
      positional = true)
    def hits(phrase: Seq[String]) =
      IncrementalViews.phraseSearch(spark, views, phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits(Seq("alpha", "beta")) == Map(1L -> 2L, 2L -> 1L))
    assert(hits(Seq("alpha", "beta", "gamma")) == Map(1L -> 1L, 2L -> 1L))
    // overlapping occurrences both count
    assert(hits(Seq("alpha", "alpha")) == Map(4L -> 2L))
    // adjacency matters: doc 3 has both words, never adjacent in order
    assert(!hits(Seq("alpha", "beta")).contains(3L))
    // proximity: doc 1 "alpha beta gamma alpha beta" has alpha at
    // {0,3}, gamma at {2} -> pairs at dist 2 and 1; doc 3 pairs at
    // dist 1 ("gamma alpha") and 2; doc 2 at dist 2 only
    val prox = IncrementalViews.proximitySearch(spark, views,
        "alpha", "gamma", 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(prox(1L) == ((2L, 1L)) && prox(3L) == ((2L, 1L)))
    assert(prox(2L)._2 == 2L)
    assert(!prox.contains(4L)) // no gamma at all
    // KWIC: snippets reassembled from postings alone, clipped at doc
    // edges, one row per occurrence
    val kw = IncrementalViews.kwic(spark, views, "gamma", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(kw == Map(
      (1L, 2L) -> "beta gamma alpha",
      (2L, 3L) -> "beta gamma",
      (3L, 0L) -> "gamma alpha",
      (3L, 2L) -> "alpha gamma beta"))
    // phrase-KWIC: ±1 token around every EXACT "alpha beta" start
    val pk = IncrementalViews.kwicPhrase(spark, views,
        Seq("alpha", "beta"), k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(pk == Map(
      (1L, 0L) -> "alpha beta gamma",
      (1L, 3L) -> "gamma alpha beta",
      (2L, 1L) -> "beta alpha beta gamma"))
    // zero-hit phrase: empty, no doc-major fallback scan
    assert(IncrementalViews.kwicPhrase(spark, views,
      Seq("beta", "nosuch"), k = 1).collect().isEmpty)
    // a delete retracts its positions exactly
    Snapshots.deleteWhere(spark, src, col("doc_id") === 1L)
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text",
      positional = true)
    assert(hits(Seq("alpha", "beta")) == Map(2L -> 1L))
    assert(IncrementalViews.kwicPhrase(spark, views, Seq("alpha", "beta"),
        k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
      .toMap == Map((2L, 1L) -> "beta alpha beta gamma"))
    assert(!IncrementalViews.proximitySearch(spark, views, "alpha", "gamma", 2)
      .collect().map(_.getLong(0)).contains(1L))
  }

  test("continuous maintenance: the text index rides its source's change feed") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{IncrementalViews, Snapshots}
    val (src, views, ckpt) = (tmpDir(), tmpDir(), tmpDir() + "/ck")
    val terms = Seq("spark", "join")
    def served() = IncrementalViews.readBm25(spark, views, terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def fresh() = graft.operators.Corpus
      .bm25(Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(120).localCheckpoint(true)
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    def maintainIndex() = IncrementalViews.maintain(spark, Seq(src), ckpt) {
      () => IncrementalViews.refreshTextIndex(spark, src, views, "doc_id",
        "text")
    }
    // catch-up-and-stop drains the feed, ticks all chains, exits
    maintainIndex().awaitTermination()
    assert(served() == fresh() && served().nonEmpty)
    // a second catch-up from the SAME checkpoint folds only the new
    // versions (append + delete in one signal batch)
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 1), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    maintainIndex().awaitTermination()
    assert(served() == fresh())
  }

  test("BM25/phrase serves open ONLY the query terms' posting files (manifest prune)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{IncrementalViews, Snapshots}
    val (src, views) = (tmpDir(), tmpDir())
    // two commits with DISJOINT vocabularies: tick-1 posting files are
    // carried by reference through tick 2 and their token stats cannot
    // reach the queried terms — corrupt their data bytes; if a serve
    // opened them it would crash, so a correct answer proves the
    // few-file read a 100 TB posting table needs
    Snapshots.commit(Seq(
      (1L, "apple apple banana"), (2L, "banana cherry apple")).toDF("doc_id", "text"),
      src, statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text",
      positional = true)
    Snapshots.commit(Seq(
      (10L, "zebra zulu zebra"), (11L, "zulu")).toDF("doc_id", "text"),
      src, statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text",
      positional = true)
    def lowFiles(dir: String): Seq[String] =
      Snapshots.manifest(spark, dir)
        .select("path", "stats_max").collect().toSeq
        .filter(r => !r.isNullAt(1) && r.getString(1) < "zebra")
        .map(_.getString(0))
    val lowPost = lowFiles(s"$views/post")
    val lowPos = lowFiles(s"$views/pos")
    assert(lowPost.nonEmpty && lowPos.nonEmpty,
      "expected carried tick-1 posting files below the query range")
    (lowPost ++ lowPos).foreach(corruptDataBytes)
    val served = IncrementalViews.readBm25(spark, views, Seq("zebra", "zulu"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = graft.operators.Corpus.bm25(
        Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text", Seq("zebra", "zulu"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served == batch && served.keySet == Set(10L, 11L))
    val hits = IncrementalViews.phraseSearch(spark, views, Seq("zulu", "zebra"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(10L -> 1L))
  }

  /** The first message in the cause chain containing `needle`, for
    * asserting fail-loud guards that surface through Spark task
    * wrappers. */
  private def causeChainContains(e: Throwable, needle: String): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.getMessage != null && t.getMessage.contains(needle)) return true
      t = t.getCause
    }
    false
  }

  test("readBm25 never opens the corpus-sized dlen view (carried __dl) + topK serve") {
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(200).localCheckpoint(true)
    val terms = Seq("spark", "join", "data")
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text")
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 1), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text")
    // corrupt EVERY dlen data file: the per-doc length rides the
    // posting rows (sum___dl), so the serve must not notice — the
    // 100 TB version of this is "one query never shuffles a
    // billion-row doc-length table"
    Snapshots.manifest(spark, s"$views/dlen").select("path")
      .collect().map(_.getString(0)).foreach(corruptDataBytes)
    val served = IncrementalViews.readBm25(spark, views, terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = graft.operators.Corpus.bm25(
        Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served == batch && served.nonEmpty)
    // topK = the k best of the full rank (ties by ascending doc id),
    // planned as a TakeOrdered heap, not a global sort
    val k = 5
    val top = IncrementalViews.readBm25(spark, views, terms, topK = Some(k))
    assert(top.collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq ==
      served.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(k))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"),
      s"readBm25 topK lost its TakeOrdered plan:\n$plan")
  }

  test("kwic context leg opens ONLY matching docs' files in the doc-major twin") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    // low-range docs hold the keyword; high-range docs don't — their
    // posd files (doc-clustered, so their __doc stats sit above 2)
    // must never be opened by the context read
    Snapshots.commit(Seq(
      (1L, "alpha gamma beta"), (2L, "beta gamma gamma"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    IncrementalViews.refreshPositionalIndex(spark, src, views,
      "doc_id", "text")
    Snapshots.commit(Seq(
      (100L, "delta epsilon"), (101L, "epsilon zeta"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    IncrementalViews.refreshPositionalIndex(spark, src, views,
      "doc_id", "text")
    val highPosd = Snapshots.manifest(spark, s"$views/posd")
      .filter(col("smin___doc") > 2).select("path")
      .collect().map(_.getString(0)).toSeq
    assert(highPosd.nonEmpty,
      "expected doc-clustered posd files above the matching range")
    highPosd.foreach(corruptDataBytes)
    val kw = IncrementalViews.kwic(spark, views, "gamma", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(kw == Map(
      (1L, 1L) -> "alpha gamma beta",
      (2L, 1L) -> "beta gamma gamma",
      (2L, 2L) -> "gamma gamma"))
    // a term with zero occurrences returns empty WITHOUT falling back
    // to a full doc-major scan (the corrupted files would crash it)
    assert(IncrementalViews.kwic(spark, views, "nosuchtoken")
      .collect().isEmpty)
    // an index without the doc-major twin names the backfill fix
    val legacy = tmpDir()
    Snapshots.commit(Seq((1L, "alpha")).toDF("doc_id", "text"), legacy,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, legacy, s"$legacy/v",
      "doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.kwic(spark, s"$legacy/v", "alpha")
    }
    assert(e.getMessage.contains("posd"))
  }

  test("kwic/kwicPhrase context reads prune by doc MEMBERSHIP on id-scattered matches") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    // gap docs FIRST, in three range-tight commits: their posd files'
    // doc ranges ([10,90], [110,190], [710,790]) hold no matching doc
    // and are disjoint from every matching id, so the later matching
    // commit carries them by reference untouched
    def gap(ids: Seq[Long]): Unit = {
      Snapshots.commit(ids.map(i => (i, s"filler$i words here"))
        .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
      IncrementalViews.refreshPositionalIndex(spark, src, views,
        "doc_id", "text")
    }
    gap(Seq(10L, 50L, 90L))
    gap(Seq(110L, 150L, 190L))
    gap(Seq(710L, 750L, 790L))
    // 9 matching docs scattered UNIFORMLY across the id space: the
    // ≤8-range affected-key grid MUST merge at least one inter-id gap
    // (9 runs > MaxPruneRanges), so a grid-pruned context read would
    // open a corrupted gap file — only doc membership (literal id
    // point ranges) prunes the scattered case; this is exactly the
    // mid-frequency-term shape that was round 13's residual caveat
    val matchIds = (0 to 8).map(i => 100L * i + 5)
    Snapshots.commit(matchIds.map(i => (i, s"pre$i needle tail post$i"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    IncrementalViews.refreshPositionalIndex(spark, src, views,
      "doc_id", "text")
    // corrupt EVERY posd file whose doc range holds no matching id
    val matchCond = matchIds.map(id =>
      col("smin___doc") <= id && col("smax___doc") >= id).reduce(_ || _)
    val gapFiles = Snapshots.manifest(spark, s"$views/posd")
      .filter(col("smin___doc").isNotNull && !matchCond)
      .select("path").collect().map(_.getString(0)).toSeq
    assert(gapFiles.size >= 3,
      s"expected >= 3 corruptible gap posd files, got ${gapFiles.size}")
    gapFiles.foreach(corruptDataBytes)
    val kw = IncrementalViews.kwic(spark, views, "needle", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
      .toMap
    assert(kw == matchIds.map(i => (i, 1L) -> s"pre$i needle tail").toMap)
    val kp = IncrementalViews.kwicPhrase(spark, views,
        Seq("needle", "tail"), k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
      .toMap
    assert(kp ==
      matchIds.map(i => (i, 1L) -> s"pre$i needle tail post$i").toMap)
    // …and the membership residual actually PUSHES into the posd
    // parquet scan (row-group skipping inside the kept files)
    val plan = IncrementalViews.kwic(spark, views, "needle", k = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(__doc"),
      s"kwic context scan lost its pushed-down doc-membership filter:\n$plan")
    // a phrase with an absent term early-outs WITHOUT any posd read
    // (the corrupted gap files would crash it)
    assert(IncrementalViews.kwicPhrase(spark, views,
      Seq("needle", "nosuchtoken")).collect().isEmpty)
  }

  test("prefixSuggest keeps supplementary-plane completions (successor upper bound)") {
    val s = spark; import s.implicits._
    val (src, wfreq) = (tmpDir(), tmpDir())
    // tick 1: ONLY an astral-extension word — its carried file's
    // __word stats sort ABOVE "s￿" in UTF-8 binary order (the
    // emoji's F0 lead byte > EF BF BF), so a prefix+U+FFFF upper
    // bound would prune the file and silently lose the completion;
    // the successor bound ("t") keeps it
    Snapshots.commit(Seq((1L, "s😀x s😀x"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    IncrementalViews.refreshWordFreq(spark, src, wfreq, "text")
    Snapshots.commit(Seq((2L, "sa sb sa")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshWordFreq(spark, src, wfreq, "text")
    val got = IncrementalViews.prefixSuggest(spark, wfreq, "s", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got ==
      Map("s😀x" -> 2L, "sa" -> 2L, "sb" -> 1L), s"got $got")
  }

  test("spellSuggest deletion keys are code-point indexed (astral-char typo reaches ASCII word)") {
    val s = spark; import s.implicits._
    val (src, wfreq, idx) = (tmpDir(), tmpDir(), tmpDir())
    Snapshots.commit(Seq((5L, "cat cat dog")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshWordFreq(spark, src, wfreq, "text")
    IncrementalViews.refreshSpellIndex(spark, wfreq, idx, maxEdits = 1)
    // "cat<emoji>" is ONE code-point edit from "cat" — UTF-16-unit
    // deletions would need depth 2 (and emit lone-surrogate keys that
    // match nothing), so this pins the code-point contract on both
    // the driver and index sides
    val got = IncrementalViews.spellSuggest(spark, idx, "cat😀")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq(("cat", 2L, 1L)), s"got $got")
  }

  test("scoreBigramLm prunes ALL model reads to the candidate's ranges; zero-candidate opens nothing") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, lm) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq((1L, "apple banana apple banana"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    IncrementalViews.refreshBigramLm(spark, src, lm, "text")
    Snapshots.commit(Seq((2L, "zebra zulu zebra zulu"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    IncrementalViews.refreshBigramLm(spark, src, lm, "text")
    // the carried low-vocabulary files of ALL THREE model views —
    // including the UNIGRAM view, round 13's unpruned residual — are
    // outside a high-vocabulary candidate's (prev, cur) ranges
    val lowFiles = Seq("bg", "ctx", "uni").flatMap(v =>
      Snapshots.manifest(spark, s"$lm/$v")
        .filter(col("stats_max") < "zebra").select("path")
        .collect().map(_.getString(0)))
    assert(lowFiles.size >= 3, s"expected low files in bg+ctx+uni")
    lowFiles.foreach(corruptDataBytes)
    // pruned serve == the batch operator's row for the same doc (the
    // candidate is in-model, so the smoothing branch never engages)
    val served = IncrementalViews.scoreBigramLm(spark, lm,
        Seq((2L, "zebra zulu zebra zulu")).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batch = graft.operators.Corpus.bigramLogProb(
        Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text")
      .filter(col("doc_id") === 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(served.toSeq == batch.toSeq && served.length == 1)
    // a batch with ZERO candidate bigrams (every doc < 2 tokens) must
    // return the correctly-shaped empty frame WITHOUT the no-spec
    // fallback scanning the model at all — corrupt EVERY model file
    Seq("bg", "ctx", "uni", "ttot").foreach(v =>
      Snapshots.manifest(spark, s"$lm/$v").select("path")
        .collect().map(_.getString(0)).foreach(corruptDataBytes))
    val empty = IncrementalViews.scoreBigramLm(spark, lm,
      Seq((3L, "solo"), (4L, "")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(empty.columns.toSeq == Seq("doc_id", "n_bigrams", "nll"))
    assert(empty.collect().isEmpty)
  }

  test("score serves fail loudly when a doc id is live twice with DIFFERENT texts") {
    val s = spark; import s.implicits._
    val (src, views) = (tmpDir(), tmpDir())
    // doc 1 live twice: "aa bb" (tf_aa=1, dl=2) and "aa aa aa"
    // (tf_aa=3, dl=3) — the carried sum 1·2+3·3 = 11 over tf 4 is
    // indivisible, so the per-row guard names the condition instead
    // of silently serving the tf-weighted blended length
    Snapshots.commit(Seq((1L, "aa bb")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    Snapshots.commit(Seq((1L, "aa aa aa")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text")
    val e = intercept[Exception] {
      IncrementalViews.readBm25(spark, views, Seq("aa")).collect()
    }
    assert(causeChainContains(e, "not divisible"), s"wrong error: $e")
  }

  test("param markers: an empty crash-artifact marker reads as absent and self-heals") {
    val s = spark; import s.implicits._
    val (src, views) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq((1L, "x y z")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    // simulate the pre-atomic create-then-crash artifact
    val marker = new java.io.File(views, "_param_window")
    assert(marker.createNewFile() && marker.length() == 0)
    // the tick proceeds (no phantom "built with window = " mismatch)
    // and records the real value atomically over the artifact
    IncrementalViews.refreshCooccurrence(spark, src, views, "text",
      window = 2)
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.refreshCooccurrence(spark, src, views, "text",
        window = 3)
    }
    assert(e.getMessage.contains("window = 2") &&
      e.getMessage.contains("window = 3"))
  }

  test("param markers: two racing first ticks with different values — exactly one wins") {
    // POSIX rename silently replaces an existing file, so the old
    // rename-based placement could let BOTH racers proceed with
    // different pinned values; the hard-link placement is
    // create-exclusive, so exactly one of each racing pair must
    // succeed and the other must fail with the mismatch message
    for (trial <- 1 to 6) {
      val root = tmpDir()
      val latch = new java.util.concurrent.CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[
        Either[Throwable, String]]()
      val threads = Seq("1", "2").map { v =>
        new Thread(() => {
          latch.await()
          try {
            IncrementalViews.requireSameParam(spark, root, "race", v)
            results.add(Right(v))
          } catch { case t: Throwable => results.add(Left(t)) }
        })
      }
      threads.foreach(_.start())
      latch.countDown()
      threads.foreach(_.join(30000))
      val (losers, winners) = {
        import scala.jdk.CollectionConverters._
        results.asScala.toSeq.partitionMap(identity)
      }
      assert(winners.size == 1,
        s"trial $trial: expected exactly one winner, got winners=" +
          s"$winners losers=${losers.map(_.getMessage)}")
      assert(losers.size == 1 &&
        losers.head.getMessage.contains("silently mix semantics"),
        s"trial $trial: wrong loser error: ${losers.headOption}")
      // the marker holds the winner's value and later same-value
      // calls pass while the other value keeps failing
      IncrementalViews.requireSameParam(spark, root, "race", winners.head)
      intercept[IllegalArgumentException] {
        IncrementalViews.requireSameParam(spark, root, "race",
          if (winners.head == "1") "2" else "1")
      }
    }
  }

  test("proximitySearchAll guard computes its bound in double — a degenerate doc is NAMED, never ARITHMETIC_OVERFLOW") {
    val s = spark; import s.implicits._
    val (src, views) = (tmpDir(), tmpDir())
    // 5 terms × tf 7000 each: the tuple bound 7000^5 ≈ 1.7e19 is past
    // 2^63 — a LONG product overflows (ANSI throws a bare
    // ARITHMETIC_OVERFLOW with no doc name; ANSI-off would wrap
    // negative and silently BYPASS the cap); the double bound trips
    // the named guard
    val text = Seq.fill(7000)("t0 t1 t2 t3 t4").mkString(" ")
    Snapshots.commit(Seq((9L, text)).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshPositionalIndex(spark, src, views,
      "doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.proximitySearchAll(spark, views,
        Seq("t0", "t1", "t2", "t3", "t4"), 4)
    }
    assert(e.getMessage.contains("doc 9") &&
      e.getMessage.contains("proximitySearchAll"),
      s"wrong error: ${e.getMessage}")
  }

  test("prefixSuggest: a prefix ending in U+D7FF still finds its completions") {
    val s = spark; import s.implicits._
    val (src, wfreq) = (tmpDir(), tmpDir())
    // incrementing U+D7FF lands on the lone surrogate U+D800, which
    // UTF-8-encodes as '?' (0x3F) — an upper bound SORTING BELOW the
    // prefix that pruned every file; the fixed successor skips to
    // U+E000
    val w = "a퟿x"
    Snapshots.commit(Seq((1L, s"$w $w")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshWordFreq(spark, src, wfreq, "text")
    val got = IncrementalViews.prefixSuggest(spark, wfreq, "a퟿")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq((w, 2L)), s"got $got")
  }

  test("compactKeyRanges: ≤ maxRanges sorted disjoint ranges covering every key") {
    // a realistic worst case: the depth-2 deletion neighborhood of a
    // 64-char word (~2k keys) compacts to exactly 64 ranges
    val word = (('a' to 'z') ++ ('a' to 'z') ++ ('a' to 'l')).mkString
    assert(word.length == 64)
    def dels(ws: Seq[String]): Seq[String] =
      ws.flatMap(w => w.indices.map(i =>
        w.substring(0, i) + w.substring(i + 1)))
    val keys = (Seq(word) ++ dels(Seq(word)) ++
      dels(dels(Seq(word)))).distinct
    assert(keys.size > 1000, s"expected >1000 keys, got ${keys.size}")
    val ranges = IncrementalViews.compactKeyRanges(keys, 64)
    assert(ranges.size == 64, s"got ${ranges.size} ranges")
    // sorted, disjoint, non-empty
    ranges.foreach { case (lo, hi) => assert(lo <= hi) }
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi < lo2, s"ranges overlap or unsorted: ($hi, $lo2)") }
    // every key inside some range (a pruning bound must never drop
    // a real key's file)
    keys.foreach(k => assert(
      ranges.exists { case (lo, hi) => lo <= k && k <= hi },
      s"key $k not covered"))
    // few keys stay point ranges
    val few = Seq("b", "a", "c")
    assert(IncrementalViews.compactKeyRanges(few, 64) ==
      Seq(("a", "a"), ("b", "b"), ("c", "c")))
  }

  test("readTfIdf names the rebuild fix first for a legacy pre-carried-dl index") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, root) = (tmpDir(), tmpDir())
    // fabricate the legacy layout: a posting view keyed (token, doc)
    // with NO carried sum___dl column — and, as on any real legacy
    // index, no nullc counter either; the nullc guard's "one tick
    // backfills it" remedy would itself be refused by the legacy
    // check, so the REBUILD instruction must come first
    Snapshots.commit(Seq((1L, "aa bb")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshAgg(spark, src, s"$root/post",
      Seq("__token", "__doc"), Nil, transform = Some(df =>
        df.select(col("__change"), col("doc_id").as("__doc"),
          explode(graft.functions.Text.tokens(col("text"))).as("__token"))))
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.readTfIdf(spark, root)
    }
    assert(e.getMessage.contains("sum___dl") &&
      e.getMessage.contains("rebuild"), s"wrong error: ${e.getMessage}")
  }

  test("positional serves fail loudly on duplicate live doc ids (multiplicity > 1)") {
    val s = spark; import s.implicits._
    val (src, views) = (tmpDir(), tmpDir())
    // the same doc id committed twice with identical text: BM25/TF-IDF
    // honor the doubled multiplicity as tf, but positional hit counts
    // would silently mean something else — they must refuse instead
    Snapshots.commit(Seq((1L, "alpha beta")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    Snapshots.commit(Seq((1L, "alpha beta")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshPositionalIndex(spark, src, views,
      "doc_id", "text")
    val e = intercept[Exception] {
      IncrementalViews.phraseSearch(spark, views, Seq("alpha", "beta"))
        .collect()
    }
    assert(causeChainContains(e, "multiplicity > 1"), s"wrong error: $e")
    val e2 = intercept[Exception] {
      IncrementalViews.proximitySearch(spark, views, "alpha", "beta", 2)
        .collect()
    }
    assert(causeChainContains(e2, "multiplicity > 1"), s"wrong error: $e2")
  }

  test("proximitySearch hot-doc guard names the degenerate doc past the pair cap") {
    val s = spark; import s.implicits._
    val (src, views) = (tmpDir(), tmpDir())
    val repetitive = Seq.fill(30)("spam ham").mkString(" ") // tf 30 × 30
    Snapshots.commit(Seq((7L, "spam ham normal"), (9L, repetitive))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    IncrementalViews.refreshPositionalIndex(spark, src, views,
      "doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.proximitySearch(spark, views, "spam", "ham", 2,
        maxPairsPerDoc = 100)
    }
    assert(e.getMessage.contains("doc 9") &&
      e.getMessage.contains("900"), s"wrong error: ${e.getMessage}")
    // above the cap (and with the measuring pass disabled) it serves
    val ok = IncrementalViews.proximitySearch(spark, views, "spam", "ham", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val off = IncrementalViews.proximitySearch(spark, views, "spam", "ham", 1,
        maxPairsPerDoc = -1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok == off && ok(7L) == 1L && ok(9L) == 59L)
  }

  test("NULL-text docs: ticks succeed, score serves refuse, deleting the docs recovers") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    // the TICK must succeed — failing it would wedge the index (the
    // pinned intent marker replays the same range forever, so the
    // deletion that fixes the corpus could never unwedge it)
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text")
    // ...but serving a score while a NULL-text doc is live would
    // silently diverge N/avgdl from the batch operators: refuse loudly
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.readBm25(spark, views, Seq("alpha"))
    }
    assert(e.getMessage.contains("NULL text"), s"wrong error: $e")
    val e2 = intercept[IllegalArgumentException] {
      IncrementalViews.readTfIdf(spark, views)
    }
    assert(e2.getMessage.contains("NULL text"))
    // the prescribed remedy actually works: delete the NULL doc, one
    // tick folds the retraction, serves recover and equal batch
    Snapshots.deleteWhere(spark, src, col("text").isNull)
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text")
    val served = IncrementalViews.readBm25(spark, views, Seq("alpha"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = graft.operators.Corpus.bm25(
        Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text", Seq("alpha"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served == batch && served.keySet == Set(1L))
  }

  test("a chain failure surfaces the worker's own exception, not an ExecutionException") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq((1L, "alpha beta")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text")
    // corrupt every posting data file, then force a tick that must
    // re-read them (same-key churn): the post chain fails INSIDE the
    // worker pool and the caller must see the Spark exception itself
    Snapshots.manifest(spark, s"$views/post").select("path")
      .collect().map(_.getString(0)).foreach(corruptDataBytes)
    Snapshots.commit(Seq((2L, "alpha beta")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    val e = intercept[Throwable] {
      IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text")
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException],
      s"chain failure reached the caller wrapped: $e")
  }

  test("housekeepTextIndex settles every index view: fewer files, identical serves, next tick folds") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(60).localCheckpoint(true)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // 6 CoW ticks accrue small files + history across all 5 views
    docs.grouped(10).foreach { batch =>
      Snapshots.commit(batch.toDF("doc_id", "text"), src,
        statsCol = Some("doc_id"))
      IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text",
        positional = true)
    }
    val viewDirs = Seq("post", "dlen", "gstat", "pos", "posd")
      .map(n => s"$views/$n")
    def files() = viewDirs.map(d =>
      Snapshots.manifest(spark, d).count()).sum
    val terms = Seq("spark", "join")
    def bm25() = IncrementalViews.readBm25(spark, views, terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (filesBefore, bm25Before) = (files(), bm25())
    IncrementalViews.housekeepTextIndex(spark, views, keepLast = 2)
    assert(files() < filesBefore,
      s"housekeep did not reduce file count: $filesBefore -> ${files()}")
    viewDirs.foreach(d => assert(
      Snapshots.history(spark, d).count() <= 2, s"history not trimmed: $d"))
    assert(bm25() == bm25Before && bm25Before.nonEmpty)
    // the NEXT tick still folds over the compacted views
    val extra = docs.take(5).map { case (id, t) => (id + 100000L, t) }
    Snapshots.commit(extra.toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text",
      positional = true)
    val fresh = graft.operators.Corpus.bm25(
        Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bm25() == fresh)
  }

  test("search page == top-k BM25 + first-occurrence snippets, all legs pruned") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(150).localCheckpoint(true)
    val terms = Seq("spark", "join")
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text",
      positional = true)
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 1), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text",
      positional = true)
    val page = IncrementalViews.search(spark, views, terms, k = 5,
        snippetK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getString(4))).sortBy(_._2)
    // ranking == the full BM25 rank's top 5 (ties by ascending id)
    val full = IncrementalViews.readBm25(spark, views, terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
      .sortBy { case (id, sc) => (-sc, id) }.take(5)
    assert(page.map(p => (p._1, p._3)).toSeq == full.toSeq && page.size == 5)
    assert(page.map(_._2).toSeq == (1L to 5L))
    // each snippet == slicing the live doc's text around the FIRST
    // occurrence of any query term
    val texts = Snapshots.read(spark, src)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    page.foreach { case (id, _, _, c, snip) =>
      val toks = texts(id).split(" ")
      val first = toks.indexWhere(terms.contains)
      assert(c == first.toLong, s"doc $id center $c != first hit $first")
      val lo = math.max(first - 2, 0)
      assert(snip == toks.slice(lo, first + 3).mkString(" "),
        s"doc $id snippet mismatch")
    }
    // zero-hit query: empty page, correct shape, no posd fallback scan
    assert(IncrementalViews.search(spark, views, Seq("nosuchtoken"), 5)
      .collect().isEmpty)
  }

  test("did-you-mean: zero-posting terms are corrected from the spell index, with audit") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views, wfreq, spell) = (tmpDir(), tmpDir(), tmpDir(), tmpDir())
    Snapshots.commit(Seq(
      (1L, "spark joins data frames quickly"),
      (2L, "spark streams process events"),
      (3L, "pandas frames lag behind")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text",
      positional = true)
    IncrementalViews.refreshWordFreq(spark, src, wfreq, "text")
    IncrementalViews.refreshSpellIndex(spark, wfreq, spell, maxEdits = 2)
    // "spakr" has zero postings; its top suggestion is "spark"
    val page = IncrementalViews.search(spark, views, Seq("spakr"), k = 5,
      spellIndex = Some(spell))
    assert(page.columns.contains("corrected_terms"))
    val rows = page.collect().sortBy(_.getLong(1))
    val plain = IncrementalViews.search(spark, views, Seq("spark"), k = 5)
      .collect().sortBy(_.getLong(1))
    assert(rows.map(_.toSeq.init).toSeq == plain.map(_.toSeq).toSeq,
      "corrected page must equal the page for the corrected term")
    assert(rows.nonEmpty && rows.forall(_.getString(5) == "spakr->spark"))
    // a PRESENT term is never second-guessed, and its audit is empty
    val kept = IncrementalViews.search(spark, views, Seq("pandas"), k = 5,
      spellIndex = Some(spell)).collect()
    assert(kept.nonEmpty && kept.forall(_.getString(5) == ""))
    // a missing term with NO in-range suggestion stays missing: empty
    // page, but still the audited shape
    val hopeless = IncrementalViews.search(spark, views,
      Seq("zzzzzzzzzzzz"), k = 5, spellIndex = Some(spell))
    assert(hopeless.columns.contains("corrected_terms") &&
      hopeless.collect().isEmpty)
    // without a spell index the serve keeps its exact original shape
    assert(!IncrementalViews.search(spark, views, Seq("spakr"), k = 5)
      .columns.contains("corrected_terms"))
    // the quoted phrase is NOT corrected — quotes mean exactly this —
    // but the ranking terms still are
    val quoted = IncrementalViews.search(spark, views, Seq("spakr"), k = 5,
      phrase = Some(Seq("process", "events")), spellIndex = Some(spell))
      .collect()
    assert(quoted.map(_.getLong(0)).toSeq == Seq(2L) &&
      quoted.head.getString(5) == "spakr->spark")
    // SQL surface: the 7-arg TVF form ('' = no phrase) reaches the
    // same corrected page
    val viaSql = spark.sql(
      s"SELECT * FROM graft_search('$views', 'spakr', 5, 3, 'doc_id', " +
        s"'', '$spell')").collect().sortBy(_.getLong(1))
    assert(viaSql.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("maintained span profile == batch spanDedup across churn; zero-span docs kept; pinned k") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(120).localCheckpoint(true)
    def served() = IncrementalViews.readSpanProfile(spark, views)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    def fresh() = graft.operators.Corpus.spanDedup(
        Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text", k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshSpanProfile(spark, src, views, "doc_id", "text")
    assert(served() == fresh() && served().nonEmpty)
    // churn: the other half arrives, a slice departs, and a SHORT doc
    // (under k tokens — zero spans) lands; the profile must keep its
    // row like the batch operator's left join does
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 1)
      .unionByName(Seq((999999L, "tiny doc")).toDF("doc_id", "text")), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    IncrementalViews.refreshSpanProfile(spark, src, views, "doc_id", "text")
    val after = served()
    assert(after == fresh())
    assert(after(999999L) == ((0L, 0L, 0.0)),
      "a zero-span doc must keep its profile row")
    // k is pinned per root — silently mixing window sizes would
    // corrupt every count
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.refreshSpanProfile(spark, src, views,
        "doc_id", "text", k = 5)
    }
    assert(e.getMessage.contains("span_k"), e.getMessage)
    // the maintained profile catches up from its checkpoint
    val ck = tmpDir()
    def maintainProfile() = IncrementalViews.maintain(spark, Seq(src), ck) {
      () => IncrementalViews.refreshSpanProfile(spark, src, views, "doc_id",
        "text")
    }
    maintainProfile().awaitTermination()
    Snapshots.deleteWhere(spark, src, col("doc_id") === 999999L)
    maintainProfile().awaitTermination()
    val end = served()
    assert(end == fresh() && !end.contains(999999L))
    // SQL surface: a no-op refresh tick + the serve, both TVFs
    spark.sql(s"SELECT * FROM graft_view_refresh_span_profile(" +
      s"'$src', '$views', 'doc_id', 'text')").collect()
    val viaSql = spark.sql(s"SELECT * FROM graft_span_profile('$views')")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(viaSql == end)
  }

  test("maintained value histogram: exact quantiles across churn; nulls skipped; pinned scale; walk guard") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, view, ck) = (tmpDir(), tmpDir(), tmpDir())
    def expected(ps: Seq[Double]): Map[Double, (Double, Long)] = {
      val vals = Snapshots.read(spark, src).select("v")
        .collect().flatMap(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
        .map(v => math.floor(v * 100 + 0.5).toLong).sorted
      ps.map(p => p -> (
        vals((math.max(1L, math.ceil(p * vals.length).toLong) - 1).toInt) / 100.0,
        vals.length.toLong)).toMap
    }
    def served(ps: Seq[Double]) = IncrementalViews.readQuantiles(spark,
        view, ps)
      .collect().map(r => r.getDouble(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    // a NULL value row rides in via a typed DF union
    Snapshots.commit((1 to 97).map(i => (i.toLong, i / 7.0)).toDF("id", "v")
      .unionByName(Seq(200L).toDF("id")
        .withColumn("v", lit(null).cast("double"))), src,
      statsCol = Some("id"))
    IncrementalViews.refreshValueHistogram(spark, src, view, "v")
    val ps = Seq(0.5, 0.9, 0.99)
    assert(served(ps) == expected(ps))
    // churn: second half + a predicate delete; the fold must track
    Snapshots.commit((101 to 180).map(i => (i.toLong, i / 3.0))
      .toDF("id", "v"), src, statsCol = Some("id"))
    Snapshots.deleteWhere(spark, src, col("id") % 3 === 0)
    IncrementalViews.refreshValueHistogram(spark, src, view, "v")
    assert(served(ps) == expected(ps))
    // rounding scale is pinned per dir
    val e1 = intercept[IllegalArgumentException] {
      IncrementalViews.refreshValueHistogram(spark, src, view, "v",
        scale = 3)
    }
    assert(e1.getMessage.contains("hist_scale"), e1.getMessage)
    // the cumulative walk is guarded, naming the remedy
    val e2 = intercept[IllegalArgumentException] {
      IncrementalViews.readQuantiles(spark, view, Seq(0.5),
        maxDistinct = 5)
    }
    assert(e2.getMessage.contains("coarsen"), e2.getMessage)
    // maintained catch-up + SQL TVF parity
    def maintainHistogram() = IncrementalViews.maintain(spark, Seq(src), ck) {
      () => IncrementalViews.refreshValueHistogram(spark, src, view, "v")
    }
    maintainHistogram().awaitTermination()
    Snapshots.deleteWhere(spark, src, col("id") > 150L)
    maintainHistogram().awaitTermination()
    assert(served(ps) == expected(ps))
    val viaSql = spark.sql(
        s"SELECT * FROM graft_quantiles('$view', '0.5,0.9,0.99')")
      .collect().map(r => r.getDouble(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    assert(viaSql == expected(ps))
  }

  test("GROUPED value histogram: per-group quantiles across churn; pinned groups; TVF parity") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, view) = (tmpDir(), tmpDir())
    def expected(ps: Seq[Double]): Map[(String, Double), (Double, Long)] =
      Snapshots.read(spark, src).select("g", "v")
        .collect().filterNot(_.isNullAt(1))
        .groupBy(_.getString(0)).flatMap { case (g, rs) =>
          val vals = rs.map(r =>
            math.floor(r.getDouble(1) * 100 + 0.5).toLong).sorted
          ps.map(p => (g, p) -> (
            vals((math.max(1L,
              math.ceil(p * vals.length).toLong) - 1).toInt) / 100.0,
            vals.length.toLong))
        }.toMap
    def served(ps: Seq[Double]): Map[(String, Double), (Double, Long)] =
      IncrementalViews.readQuantilesBy(spark, view, Seq("g"), ps)
        .collect().map(r => (r.getString(0), r.getDouble(1)) ->
          (r.getDouble(2), r.getLong(3))).toMap
    Snapshots.commit((1 to 90).map(i =>
        (i.toLong, s"g${i % 3}", i / 7.0)).toDF("id", "g", "v")
      .unionByName(Seq((200L, "g0")).toDF("id", "g")
        .withColumn("v", lit(null).cast("double"))), src,
      statsCol = Some("id"))
    IncrementalViews.refreshValueHistogram(spark, src, view, "v",
      groupCols = Seq("g"))
    val ps = Seq(0.5, 0.95)
    assert(served(ps) == expected(ps))
    // churn: skewed second wave + predicate delete; per-group folds track
    Snapshots.commit((101 to 160).map(i =>
      (i.toLong, s"g${i % 2}", i / 3.0)).toDF("id", "g", "v"), src,
      statsCol = Some("id"))
    Snapshots.deleteWhere(spark, src, col("id") % 3 === 0)
    IncrementalViews.refreshValueHistogram(spark, src, view, "v",
      groupCols = Seq("g"))
    assert(served(ps) == expected(ps))
    // the global read still answers over a grouped view (counts sum)
    val glob = IncrementalViews.readQuantiles(spark, view, Seq(0.5))
      .collect().head
    val allVals = Snapshots.read(spark, src).select("v")
      .collect().filterNot(_.isNullAt(0))
      .map(r => math.floor(r.getDouble(0) * 100 + 0.5).toLong).sorted
    assert(glob.getDouble(1) ==
      allVals((math.max(1L,
        math.ceil(0.5 * allVals.length).toLong) - 1).toInt) / 100.0)
    // group keys are pinned per dir, and reads must name them exactly
    val e1 = intercept[IllegalArgumentException] {
      IncrementalViews.refreshValueHistogram(spark, src, view, "v")
    }
    assert(e1.getMessage.contains("hist_groups"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      IncrementalViews.readQuantilesBy(spark, view, Seq("wrong"), Seq(0.5))
    }
    assert(e2.getMessage.contains("hist_groups"), e2.getMessage)
    // SQL TVF parity, grouped refresh + grouped read
    val viaSql = spark.sql(
        s"SELECT * FROM graft_quantiles_by('$view', 'g', '0.5,0.95')")
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(viaSql == expected(ps))
    val (src2, view2) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 9.0))
      .toDF("id", "g", "v"), src2, statsCol = Some("id"))
    spark.sql(s"SELECT * FROM graft_view_refresh_value_histogram(" +
      s"'$src2', '$view2', 'v', 2, 'g')").collect()
    val viaSql2 = spark.sql(
        s"SELECT * FROM graft_quantiles_by('$view2', 'g', '1.0')")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(viaSql2 == Map("a" -> 2.0, "b" -> 9.0))
  }

  test("feed-driven span excision: folded ordered batches == batch spanExcise over the final corpus") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    // spans engineered to hit every cross-batch case at k=3:
    // "a b c" first occurs in batch1 (doc 1) and again in batch2
    // (doc 10) — the corpus authority must cut batch2's copy;
    // "x y z" occurs twice WITHIN batch2 only — in-batch keep-first;
    // doc 11 is untouched and must pass through verbatim
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "p q r s t"),
      (10L, "m a b c n"),
      (11L, "u v w"),
      (12L, "x y z h x y z"),
      (20L, "p q r k l")).toDF("doc_id", "text")
    val batches = Seq(
      docs.filter(col("doc_id") <= 2),
      docs.filter(col("doc_id") > 2 && col("doc_id") <= 12),
      docs.filter(col("doc_id") > 12))
    val folded = batches.map { b =>
      val cleaned = IncrementalViews.spanExciseIngest(
        spark, b, views, "doc_id", "text", k = 3)
      Snapshots.commit(b, src, statsCol = Some("doc_id"))
      IncrementalViews.refreshSpanProfile(spark, src, views,
        "doc_id", "text", k = 3)
      cleaned
    }.reduce(_ unionByName _)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val batch = graft.operators.Corpus.spanExcise(docs, "doc_id", "text",
        k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(folded == batch)
    // the cross-batch duplicate was cut by the AUTHORITY, not in-batch
    assert(folded(10L)._3 == "m n")
    assert(folded(11L)._3 == "u v w")
    // the window size is pinned: a mismatched ingest fails loudly
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.spanExciseIngest(spark, docs, views,
        "doc_id", "text", k = 5)
    }
    assert(e.getMessage.contains("span_k"), e.getMessage)
  }

  test("maintained contamination ledger == batch check across churn; frozen bench pin") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views, bench) = (tmpDir(), tmpDir(), tmpDir())
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(150).localCheckpoint(true)
    val benchDf = docs.filter(col("doc_id") % 11 === 0).localCheckpoint(true)
    val corpus = docs.filter(col("doc_id") % 11 =!= 0)
    Snapshots.commit(benchDf, bench, statsCol = Some("doc_id"))
    def served() = IncrementalViews.readContamination(spark, views)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    def fresh() = graft.operators.Corpus.contamination(
        Snapshots.read(spark, src).select("doc_id", "text")
          .unionByName(benchDf),
        "doc_id", "text", benchPred = col("doc_id") % 11 === 0, n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    Snapshots.commit(corpus.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshContamination(spark, src, views, "doc_id",
      "text", bench)
    assert(served() == fresh() && served().nonEmpty)
    assert(served().values.exists(_._2) && served().values.exists(!_._2),
      "fixture needs both contaminated and clean docs to prove anything")
    // churn: append + delete; clean docs keep their zero rows
    Snapshots.commit(corpus.filter(col("doc_id") % 2 === 1), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    IncrementalViews.refreshContamination(spark, src, views, "doc_id",
      "text", bench)
    assert(served() == fresh())
    // SQL surface: a no-op refresh tick + the serve, both TVFs
    spark.sql(s"SELECT * FROM graft_view_refresh_contamination(" +
      s"'$src', '$views', 'doc_id', 'text', '$bench')").collect()
    val viaSql = spark.sql(
        s"SELECT * FROM graft_contamination_ledger('$views')")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(viaSql == served())
    // n is pinned
    val e1 = intercept[IllegalArgumentException] {
      IncrementalViews.refreshContamination(spark, src, views, "doc_id",
        "text", bench, n = 4)
    }
    assert(e1.getMessage.contains("contam_n"), e1.getMessage)
    // the benchmark is FROZEN: a later bench commit makes the next
    // tick fail loudly instead of silently mixing gram sets
    Snapshots.commit(Seq((777777L, "late benchmark arrival text here"))
      .toDF("doc_id", "text"), bench, statsCol = Some("doc_id"))
    Snapshots.commit(Seq((888888L, "one more corpus doc"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    val e2 = intercept[IllegalArgumentException] {
      IncrementalViews.refreshContamination(spark, src, views, "doc_id",
        "text", bench)
    }
    assert(e2.getMessage.contains("contam_bench_version"), e2.getMessage)
  }

  test("maintained SEMANTIC contamination == batch check across churn; frozen bench + tau pins; bench cell guard") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views, bench) = (tmpDir(), tmpDir(), tmpDir())
    val emb = Tables.embeddings(spark, sf("sf0.001"))
      .select("vec_id", "embedding").localCheckpoint(true)
    val benchDf = emb.filter(col("vec_id") % 17 === 0).localCheckpoint(true)
    val corpus = emb.filter(col("vec_id") % 17 =!= 0)
    Snapshots.commit(benchDf, bench, statsCol = Some("vec_id"))
    def served() = IncrementalViews
      .readSemanticContamination(spark, views)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    def fresh() = graft.operators.Similarity.semanticContamination(
        Snapshots.read(spark, src), benchDf,
        "vec_id", "embedding", nCells = 8, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    Snapshots.commit(corpus.filter(col("vec_id") % 2 === 0), src,
      statsCol = Some("vec_id"))
    IncrementalViews.refreshSemanticContamination(spark, src, views,
      "vec_id", "embedding", bench, nCells = 8, threshold = 0.35)
    assert(served() == fresh() && served().nonEmpty,
      "fixture needs tau-close pairs to prove anything")
    // churn: append + predicate delete; deleted docs' pairs retract
    Snapshots.commit(corpus.filter(col("vec_id") % 2 === 1), src,
      statsCol = Some("vec_id"))
    Snapshots.deleteWhere(spark, src, col("vec_id") % 10 === 3)
    IncrementalViews.refreshSemanticContamination(spark, src, views,
      "vec_id", "embedding", bench, nCells = 8, threshold = 0.35)
    assert(served() == fresh())
    // SQL surface: a no-op refresh tick + the serve, both TVFs
    spark.sql(s"SELECT * FROM graft_view_refresh_semantic_contamination(" +
      s"'$src', '$views', 'vec_id', 'embedding', '$bench', 8, 0.35)")
      .collect()
    val viaSql = spark.sql(
        s"SELECT * FROM graft_semantic_contamination_ledger('$views')")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(viaSql == served())
    // tau is pinned
    val e1 = intercept[IllegalArgumentException] {
      IncrementalViews.refreshSemanticContamination(spark, src, views,
        "vec_id", "embedding", bench, nCells = 8, threshold = 0.5)
    }
    assert(e1.getMessage.contains("semcontam_threshold"), e1.getMessage)
    // a hot benchmark cell fails fast naming the remedy
    val e2 = intercept[IllegalArgumentException] {
      IncrementalViews.refreshSemanticContamination(spark, src, views,
        "vec_id", "embedding", bench, nCells = 8, threshold = 0.35,
        maxBenchCell = 1)
    }
    assert(e2.getMessage.contains("maxBenchCell"), e2.getMessage)
    // the benchmark is FROZEN: a later bench commit makes the next
    // tick fail loudly instead of silently moving the centroids
    Snapshots.commit(benchDf.limit(1)
      .withColumn("vec_id", col("vec_id") + 777777L), bench,
      statsCol = Some("vec_id"))
    Snapshots.commit(corpus.limit(1)
      .withColumn("vec_id", col("vec_id") + 888888L), src,
      statsCol = Some("vec_id"))
    val e3 = intercept[IllegalArgumentException] {
      IncrementalViews.refreshSemanticContamination(spark, src, views,
        "vec_id", "embedding", bench, nCells = 8, threshold = 0.35)
    }
    assert(e3.getMessage.contains("semcontam_bench_version"), e3.getMessage)
  }

  test("maintained co-occurrence/PMI == batch across churn; pruned per-token serve; pinned window") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(150).localCheckpoint(true)
    def served(minCount: Long = 1) =
      IncrementalViews.readCooccurrence(spark, views, minCount)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
    def fresh(minCount: Long = 1) = graft.operators.Corpus
      .cooccurrence(Snapshots.read(spark, src).select("text"), "text",
        window = 2, minCount = minCount)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshCooccurrence(spark, src, views, "text")
    assert(served() == fresh() && served().nonEmpty)
    // append + retract in one tick: pair counts, unigram counts, AND
    // both 1-row totals must all move as pure Z-set sums
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 1), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    IncrementalViews.refreshCooccurrence(spark, src, views, "text")
    assert(served() == fresh() && served().nonEmpty)
    // serve-time minCount == the batch operator's baked-in threshold
    assert(served(minCount = 5) == fresh(minCount = 5))
    // root-level housekeeping compacts all four views, serves intact
    IncrementalViews.housekeepCooccurrence(spark, views, keepLast = 2)
    assert(served() == fresh())
    // a tick with a different window is refused loudly
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.refreshCooccurrence(spark, src, views, "text",
        window = 3)
    }
    assert(e.getMessage.contains("window = 2") &&
      e.getMessage.contains("window = 3"))
    // per-token serve opens only the head token's pair files: two
    // commits with DISJOINT vocabularies — tick-1 pair files are
    // carried by reference through tick 2 and their token range
    // cannot reach the probed token, so corrupting them proves the
    // pruned read (the BM25 prune-proof pattern)
    val (src2, views2) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq(
      (1L, "apple banana apple"), (2L, "banana cherry banana"))
      .toDF("doc_id", "text"), src2, statsCol = Some("doc_id"))
    IncrementalViews.refreshCooccurrence(spark, src2, views2, "text")
    Snapshots.commit(Seq(
      (10L, "zebra zulu zebra"), (11L, "zulu zebra zulu"))
      .toDF("doc_id", "text"), src2, statsCol = Some("doc_id"))
    IncrementalViews.refreshCooccurrence(spark, src2, views2, "text")
    val lowPairs = Snapshots.manifest(spark, s"$views2/pairs")
      .filter(col("stats_max") < "zebra").select("path")
      .collect().map(_.getString(0)).toSeq
    assert(lowPairs.nonEmpty, "expected carried low-token pair files")
    lowPairs.foreach(corruptDataBytes)
    val one = IncrementalViews.readCooccurrence(spark, views2, 1,
        tokenA = Some("zebra"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val full = graft.operators.Corpus.cooccurrence(
        Snapshots.read(spark, src2).select("text"), "text", window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(one == full.filter(_._1._1 == "zebra") && one.nonEmpty)
  }

  test("maintained bigram LM: in-model scoring == batch across churn; OOV floors finite; pruned model read") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(150).localCheckpoint(true)
    def served() = IncrementalViews.scoreBigramLm(spark, views,
        Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    def fresh() = graft.operators.Corpus.bigramLogProb(
        Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshBigramLm(spark, src, views, "text")
    assert(served() == fresh() && served().nonEmpty)
    // churn: bigram, context, unigram counts AND the token total all
    // move as pure Z-set sums — the model needs no retraining
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 1), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    IncrementalViews.refreshBigramLm(spark, src, views, "text")
    assert(served() == fresh() && served().nonEmpty)
    // root-level housekeeping compacts all four views, scoring intact
    IncrementalViews.housekeepBigramLm(spark, views, keepLast = 2)
    assert(served() == fresh())
    // a NEW doc with out-of-model mass scores finite and deterministic
    // (unseen bigram of seen tokens, unseen context, fully-OOV token)
    val probe = Seq((900001L, "spark zzzunseen spark join zzzother"))
      .toDF("doc_id", "text")
    val oov = IncrementalViews.scoreBigramLm(spark, views, probe,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(oov.length == 1 && oov(0)._2 == 4L &&
      !oov(0)._3.isNaN && !oov(0)._3.isInfinite && oov(0)._3 > 0)
    // the same probe twice == deterministic
    val oov2 = IncrementalViews.scoreBigramLm(spark, views, probe,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(oov.toSeq == oov2.toSeq)
    // model reads prune to the candidate batch's prev-token range:
    // disjoint-vocabulary commits leave carried low-token bg/ctx
    // files a high-vocabulary candidate's scoring must never open
    val (src2, lm2) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq((1L, "apple banana apple banana"))
      .toDF("doc_id", "text"), src2, statsCol = Some("doc_id"))
    IncrementalViews.refreshBigramLm(spark, src2, lm2, "text")
    Snapshots.commit(Seq((2L, "zebra zulu zebra zulu"))
      .toDF("doc_id", "text"), src2, statsCol = Some("doc_id"))
    IncrementalViews.refreshBigramLm(spark, src2, lm2, "text")
    val lowFiles = Seq("bg", "ctx").flatMap(v =>
      Snapshots.manifest(spark, s"$lm2/$v")
        .filter(col("stats_max") < "zebra").select("path")
        .collect().map(_.getString(0)))
    assert(lowFiles.nonEmpty, "expected carried low-token model files")
    lowFiles.foreach(corruptDataBytes)
    val zs = IncrementalViews.scoreBigramLm(spark, lm2,
        Seq((9L, "zebra zulu zebra")).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(zs.length == 1 && zs(0)._2 == 2L && zs(0)._3 > 0)
  }

  test("quoted-phrase search page: rank restricted to exact-phrase docs; zero-match empty; SQL") {
    val s = spark; import s.implicits._
    val (src, views) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq(
      (1L, "spark join table hash fast"), // phrase + query terms
      (2L, "spark join quick"),           // query terms, no phrase
      (3L, "table hash only here"),       // phrase, no query term
      (4L, "hash table spark"))           // REVERSED phrase — no match
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text",
      positional = true)
    val page = IncrementalViews.search(spark, views, Seq("spark", "join"),
        k = 5, phrase = Some(Seq("table", "hash")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // only doc 1 both contains the exact phrase AND scores on the
    // query terms; 2 (no phrase), 3 (no query term), 4 (reversed
    // phrase) are all off the page
    assert(page == Seq((1L, 1L)))
    // a zero-match phrase returns the empty, correctly-shaped page
    val none = IncrementalViews.search(spark, views, Seq("spark"), k = 5,
      phrase = Some(Seq("nosuch", "phrase")))
    assert(none.collect().isEmpty && none.columns.toSeq ==
      Seq("doc_id", "rank", "bm25", "center_pos", "snippet"))
    // SQL 6-arg form
    val viaSql = spark.sql("SELECT * FROM graft_search(" +
        s"'$views', 'spark,join', 5, 3, 'doc_id', 'table,hash')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == page)
  }

  test("readCooccurrence topK == the k strongest of the full rank; TakeOrdered plan; SQL arg") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq(
      (1L, "aa bb aa cc dd aa"), (2L, "bb cc bb aa dd"),
      (3L, "cc dd cc aa bb"), (4L, "dd aa dd bb cc"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    IncrementalViews.refreshCooccurrence(spark, src, views, "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val full = rows(IncrementalViews.readCooccurrence(spark, views))
    val k = 5
    val top = IncrementalViews.readCooccurrence(spark, views,
      topK = Some(k))
    assert(rows(top) ==
      full.sortBy(t => (-t._4, t._1, t._2)).take(k))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"),
      s"readCooccurrence topK lost its TakeOrdered plan:\n$plan")
    // composed with tokenA: "token aa's k strongest neighbors", via
    // the SQL surface's 4-arg form
    val aaTop = rows(spark.sql(
      s"SELECT * FROM graft_cooccurrence_view('$views', 1, 'aa', 3)"))
    assert(aaTop ==
      full.filter(_._1 == "aa").sortBy(t => (-t._4, t._1, t._2)).take(3)
      && aaTop.nonEmpty)
    // '' tokenA = the corpus-wide top-k (topK without a head token is
    // reachable from SQL)
    assert(rows(spark.sql(
      s"SELECT * FROM graft_cooccurrence_view('$views', 1, '', $k)")) ==
      rows(top))
  }

  test("housekeeping scheduled in a maintain tick settles co-occurrence and bigram-LM debt") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, co, lm) = (tmpDir(), tmpDir(), tmpDir())
    val (ck1, ck2) = (tmpDir(), tmpDir())
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(60).localCheckpoint(true)
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    // every tick housekeeps (a cadence of 1)
    def maintainBoth(): Unit = {
      IncrementalViews.maintain(spark, Seq(src), ck1) { () =>
        IncrementalViews.refreshCooccurrence(spark, src, co, "text")
        IncrementalViews.housekeepCooccurrence(spark, co)
      }.awaitTermination()
      IncrementalViews.maintain(spark, Seq(src), ck2) { () =>
        IncrementalViews.refreshBigramLm(spark, src, lm, "text")
        IncrementalViews.housekeepBigramLm(spark, lm)
      }.awaitTermination()
    }
    maintainBoth()
    // the tick committed v0 to each view; the SCHEDULED housekeep's
    // compaction published at least one version on top — without the
    // cadence an always-on maintainer accrues CoW debt until a manual
    // housekeep call
    assert(Snapshots.latestVersion(spark, s"$co/pairs").exists(_ >= 1))
    assert(Snapshots.latestVersion(spark, s"$lm/bg").exists(_ >= 1))
    // next ticks (same checkpoints) fold churn and the serves stay ==
    // from-scratch
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 1), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    maintainBoth()
    val served = IncrementalViews.readCooccurrence(spark, co)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val fresh = graft.operators.Corpus.cooccurrence(
        Snapshots.read(spark, src).select("text"), "text", window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(served == fresh && served.nonEmpty)
    val servedLm = IncrementalViews.scoreBigramLm(spark, lm,
        Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val freshLm = graft.operators.Corpus.bigramLogProb(
        Snapshots.read(spark, src).select("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(servedLm == freshLm && servedLm.nonEmpty)
  }

  test("proximitySearchAll: all-terms-in-window semantics, 2-term parity, hot-doc guard, SQL") {
    val s = spark; import s.implicits._
    val (src, views) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq(
      (1L, "aa bb cc dd"),                 // span(0,1,2) = 2
      (2L, "aa xx xx xx bb xx cc"),        // span(0,4,6) = 6
      (3L, "aa bb"),                       // no cc — never qualifies
      (4L, "aa bb cc aa"))                 // two tuples, both span 2
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    IncrementalViews.refreshPositionalIndex(spark, src, views,
      "doc_id", "text")
    def run(terms: Seq[String], w: Int) =
      IncrementalViews.proximitySearchAll(spark, views, terms, w)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    assert(run(Seq("aa", "bb", "cc"), 4) ==
      Map(1L -> (1L, 2L), 4L -> (2L, 2L)))
    assert(run(Seq("aa", "bb", "cc"), 6) ==
      Map(1L -> (1L, 2L), 2L -> (1L, 6L), 4L -> (2L, 2L)))
    // two distinct terms reproduce proximitySearch (modulo col names)
    val two = IncrementalViews.proximitySearch(spark, views, "aa", "bb", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(run(Seq("aa", "bb"), 3) == two && two.nonEmpty)
    // SQL TVF
    val viaSql = spark.sql(
        s"SELECT * FROM graft_proximity_search_all('$views', 'aa,bb,cc', 6)")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(viaSql == run(Seq("aa", "bb", "cc"), 6))
    // hot-doc guard: a degenerate repetitive doc is NAMED past the cap
    val (src2, views2) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq((9L, Seq.fill(20)("aa bb cc").mkString(" ")))
      .toDF("doc_id", "text"), src2, statsCol = Some("doc_id"))
    IncrementalViews.refreshPositionalIndex(spark, src2, views2,
      "doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.proximitySearchAll(spark, views2,
        Seq("aa", "bb", "cc"), 2, maxTuplesPerDoc = 100)
    }
    assert(e.getMessage.contains("doc 9") &&
      e.getMessage.contains("8000"), s"wrong error: ${e.getMessage}")
    // …and with the guard off it serves
    assert(IncrementalViews.proximitySearchAll(spark, views2,
      Seq("aa", "bb", "cc"), 2, maxTuplesPerDoc = -1).collect().nonEmpty)
  }

  test("maintained word-freq view: BPE retrain == from-scratch across churn, zero corpus reads") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, view) = (tmpDir(), tmpDir())
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").limit(80).localCheckpoint(true)
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshWordFreq(spark, src, view, "text")
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 1), src,
      statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") % 7 === 2)
    IncrementalViews.refreshWordFreq(spark, src, view, "text")
    // from-scratch FIRST (it needs the corpus)…
    val fresh = graft.operators.Corpus.bpeTrain(
      Snapshots.read(spark, src).select("text"), "text", numMerges = 12)
    // …then corrupt EVERY corpus data file: retraining from the
    // maintained view must not notice — the zero-corpus-rescans claim
    Snapshots.manifest(spark, src).select("path")
      .collect().map(_.getString(0)).foreach(corruptDataBytes)
    val fromView = IncrementalViews.bpeTrainFromView(spark, view,
      numMerges = 12)
    assert(fromView == fresh && fromView.size == 12)
    // SQL surface returns the same ordered merge list
    val viaSql = spark.sql(
        s"SELECT * FROM graft_bpe_view_merges('$view', 12)")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .toSeq
    assert(viaSql == fromView)
  }

  test("per-domain divergence vs the LIVE word-freq view == batch recompute across churn, zero corpus reads") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, view) = (tmpDir(), tmpDir())
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "source", "text").limit(80).localCheckpoint(true)
    val standing = docs.filter(col("doc_id") % 2 === 0)
    Snapshots.commit(standing.select("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    IncrementalViews.refreshWordFreq(spark, src, view, "text")
    Snapshots.deleteWhere(spark, src, col("doc_id") % 10 === 6)
    IncrementalViews.refreshWordFreq(spark, src, view, "text")
    // the incoming shard, keyed by domain — which SOURCE drifted most
    // from the standing (churned) corpus
    val shardCounts = docs.filter(col("doc_id") % 2 === 1)
      .select(col("source"),
        explode(graft.functions.Text.tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1L)).as("cnt"))
    // batch reference from the in-memory post-churn corpus FIRST…
    val post = standing.filter(col("doc_id") % 10 =!= 6)
    val batchRef = post
      .select(explode(graft.functions.Text.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1L)).as("cnt"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val want = canon(graft.operators.Corpus.vocabDivergenceBy(
      shardCounts, "source", batchRef))
    assert(want.nonEmpty)
    // …then corrupt EVERY corpus data file: the ingest-time form reads
    // only the maintained counts — the zero-corpus-rescans claim
    Snapshots.manifest(spark, src).select("path")
      .collect().map(_.getString(0)).foreach(corruptDataBytes)
    val live = Snapshots.read(spark, view).filter(col("__cnt") > 0)
      .select(col("__word").as("token"), col("__cnt").as("cnt"))
    val got = canon(graft.operators.Corpus.vocabDivergenceBy(
      shardCounts, "source", live))
    assert(got == want,
      "live-view per-domain divergence diverged from the batch recompute")
  }

  test("maintained spell index: suggestions == brute force across churn; pruned key read; depth guard") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, wfreq, idx) = (tmpDir(), tmpDir(), tmpDir())
    def tick(): Unit = {
      IncrementalViews.refreshWordFreq(spark, src, wfreq, "text")
      IncrementalViews.refreshSpellIndex(spark, wfreq, idx, maxEdits = 2)
    }
    def served(word: String, k: Int = 10, me: Option[Int] = None) =
      IncrementalViews.spellSuggest(spark, idx, word, k, me)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
    // driver-side reference: brute-force levenshtein over the corpus
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def brute(word: String, me: Int, k: Int = 10) =
      Snapshots.read(spark, src).select("text").collect()
        .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
        .groupBy(identity).toSeq
        .map { case (w, a) => (w, a.length.toLong, lev(word, w).toLong) }
        .filter(_._3 <= me)
        .sortBy { case (w, f, _) => (-f, w) }.take(k)
    Snapshots.commit(Seq(
      (1L, "apple maple apple grape"), (2L, "apply maple grape grape"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    tick()
    assert(served("aple").nonEmpty && served("aple") == brute("aple", 2))
    // churn: counts move, a doc leaves, new words land — the carried
    // freq must be CURRENT (delete(old)+insert(new) folds to the new
    // count on the index rows)
    Snapshots.commit(Seq((3L, "apple apple banana"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") === 2L)
    tick()
    assert(served("aple") == brute("aple", 2))
    assert(served("banan") == brute("banan", 2) && served("banan").nonEmpty)
    // a stricter serve from the same index
    assert(served("aple", 10, Some(1)) == brute("aple", 1))
    // a deeper-than-pinned serve would silently miss — fails loudly
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.spellSuggest(spark, idx, "aple",
        maxEdits = Some(3)).collect()
    }
    assert(e.getMessage.contains("depth 2"), s"wrong error: ${e.getMessage}")
    // SQL parity
    val viaSql = spark.sql(s"SELECT * FROM graft_spell_suggest('$idx', 'aple')")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(viaSql == served("aple"))
    // pruned serve: a disjoint high-vocabulary tick leaves the carried
    // low-key index files outside the query neighborhood's reach —
    // corrupt them; the 'zz' probe (neighborhood {zz, z, ""}) must
    // never open them ("" can only overlap a file whose min IS "")
    Snapshots.commit(Seq((9L, "zzz zzy zzz")).toDF("doc_id", "text"),
      src, statsCol = Some("doc_id"))
    tick()
    val lowIdx = Snapshots.manifest(spark, idx)
      .filter(col("stats_max") < "z" && col("stats_min") > "")
      .select("path").collect().map(_.getString(0)).toSeq
    assert(lowIdx.nonEmpty, "expected carried low-key index files")
    lowIdx.foreach(corruptDataBytes)
    assert(served("zz") == brute("zz", 2) && served("zz").size == 2)
  }

  test("prefixSuggest: range-pruned autocomplete, TakeOrdered; maintained wrappers catch up") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, wfreq, idx) = (tmpDir(), tmpDir(), tmpDir())
    val (ck1, ck2) = (tmpDir(), tmpDir())
    // two commits with DISJOINT alphabet ranges: the a-range word
    // files are carried by reference through tick 2 and cannot hold
    // an s-prefix — corrupt them, the serve must not notice
    Snapshots.commit(Seq((1L, "apple banana apple cherry"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    def maintainBoth(): Unit = {
      IncrementalViews.maintain(spark, Seq(src), ck1) { () =>
        IncrementalViews.refreshWordFreq(spark, src, wfreq, "text")
      }.awaitTermination()
      IncrementalViews.maintain(spark, Seq(wfreq), ck2) { () =>
        IncrementalViews.refreshSpellIndex(spark, wfreq, idx, maxEdits = 1)
      }.awaitTermination()
    }
    maintainBoth()
    Snapshots.commit(Seq((2L, "spark stream spark sort"), (3L, "spark"))
      .toDF("doc_id", "text"), src, statsCol = Some("doc_id"))
    Snapshots.deleteWhere(spark, src, col("doc_id") === 3L)
    maintainBoth()
    val lowW = Snapshots.manifest(spark, wfreq)
      .filter(col("stats_max") < "s").select("path")
      .collect().map(_.getString(0)).toSeq
    assert(lowW.nonEmpty, "expected carried low-word files")
    lowW.foreach(corruptDataBytes)
    val top = IncrementalViews.prefixSuggest(spark, wfreq, "s", topK = 2)
    assert(top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("spark", 2L), ("sort", 1L)))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"),
      s"prefixSuggest lost its TakeOrdered plan:\n$plan")
    // SQL surface parity
    assert(spark.sql(s"SELECT * FROM graft_prefix_suggest('$wfreq', 's', 2)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    // the maintained spell index caught up through the wrapper too —
    // and its serve is the TakeOrdered shape as well
    val sp = IncrementalViews.spellSuggest(spark, idx, "sprk")
    assert(sp.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("spark", 2L, 1L)))
    assert(sp.queryExecution.executedPlan.toString.contains("TakeOrdered"))
  }

  test("maintained embedding moments serve PCA == batch pca across churn, bad rows skipped alike") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, view) = (tmpDir(), tmpDir())
    val dim = 8
    def vec(seed: Long) = Array.tabulate(dim)(i =>
      (((seed * 31 + i * 17) % 97) / 9.7).toFloat)
    val rows = (1L to 60L).map(i => (i, vec(i)))
    def current() = Snapshots.read(spark, src)
      .select(col("vec_id"), col("emb"))
    def served() = IncrementalViews.pcaFromMoments(spark, view,
        current(), "vec_id", "emb", dim, k = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def fresh() = graft.operators.Similarity.pca(current(), "vec_id", "emb",
        dim, k = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    Snapshots.commit(rows.take(30).toDF("vec_id", "emb"), src,
      statsCol = Some("vec_id"))
    IncrementalViews.refreshEmbeddingMoments(spark, src, view, "emb", dim)
    assert(served() == fresh() && served().size == 30)
    // churn: append + delete, plus rows the moment contract SKIPS
    // (wrong length, NaN, out-of-range) — the lens must ignore them
    // at insert AND at their later delete (a wrongly-included bad row
    // would leave poisoned cells behind and break batch parity)
    val bad = Seq(
      (900L, Array(1f, 2f)), // wrong length
      (901L, Array.tabulate(dim)(i => if (i == 3) Float.NaN else 1f)),
      (902L, Array.tabulate(dim)(i => if (i == 0) 2e4f else 0f)))
    // + a NULL ELEMENT row: the primitive getter would read it as
    // 0.0 — both the batch aggregate and the lens must skip the row
    val nullElem = spark.sql(
      "SELECT CAST(903 AS BIGINT) AS vec_id, array(CAST(NULL AS FLOAT)" +
        (", CAST(1.0 AS FLOAT)" * (dim - 1)) + ") AS emb")
    Snapshots.commit((rows.drop(30) ++ bad).toDF("vec_id", "emb")
      .unionByName(nullElem), src, statsCol = Some("vec_id"))
    Snapshots.deleteWhere(spark, src, col("vec_id") % 5 === 2)
    IncrementalViews.refreshEmbeddingMoments(spark, src, view, "emb", dim)
    Snapshots.deleteWhere(spark, src, col("vec_id") >= 900L)
    IncrementalViews.refreshEmbeddingMoments(spark, src, view, "emb", dim)
    val (sv, fr) = (served(), fresh())
    assert(sv == fr && sv.nonEmpty)
    // a different dim against the same view dir is refused loudly —
    // on the refresh AND on the serve (a mismatched serve would index
    // past the moment arrays or silently zero-pad the covariance)
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.refreshEmbeddingMoments(spark, src, view, "emb",
        dim + 1)
    }
    assert(e.getMessage.contains("dim"))
    val e2 = intercept[IllegalArgumentException] {
      IncrementalViews.pcaFromMoments(spark, view, current(), "vec_id",
        "emb", dim - 2, k = 2)
    }
    assert(e2.getMessage.contains("dim"))
  }

  test("a pre-carried-dl posting view is rejected with the rebuild instruction") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val (src, views) = (tmpDir(), tmpDir())
    Snapshots.commit(Seq((1L, "alpha beta")).toDF("doc_id", "text"), src,
      statsCol = Some("doc_id"))
    // simulate the legacy layout: a posting view WITHOUT the carried
    // doc-length sum
    IncrementalViews.refreshAgg(spark, src, s"$views/post",
      Seq("__token", "__doc"), Nil, transform = Some(df => df
        .select(col("__change"), col("doc_id").as("__doc"),
          explode(graft.functions.Text.tokens(col("text"))).as("__token"))))
    val e = intercept[IllegalArgumentException] {
      IncrementalViews.refreshTextIndex(spark, src, views, "doc_id", "text")
    }
    assert(e.getMessage.contains("sum___dl"))
    val e2 = intercept[IllegalArgumentException] {
      IncrementalViews.readBm25(spark, views, Seq("alpha"))
    }
    assert(e2.getMessage.contains("sum___dl"))
  }
}
