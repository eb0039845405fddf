package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained JOIN and GROUP BY views over
  * [[Snapshots]] tables — the change-feed consumer that closes the
  * storage layer's loop: CDC-in ([[Snapshots.mergeCommit]]) and
  * CDC-out ([[Snapshots.diff]]) compose into materialized views whose
  * refresh cost is O(churn), never O(table).
  *
  * The join view is stored as a Z-set (the DBSP / Differential-
  * Dataflow encoding): DISTINCT join-result rows annotated with a
  * `__n` multiplicity column. That makes every view row uniquely
  * keyed by its full value tuple, so the refresh lands through the
  * keyed, file-granular copy-on-write [[Snapshots.mergeCommit]] — and
  * multiset join semantics (duplicate rows on either input) survive
  * exactly.
  *
  * Refresh strategy is affected-key recompute, the plan that stays
  * correct under arbitrary mixes of insert/update/delete on BOTH
  * sides without signed-delta bookkeeping: the join keys named by
  * either side's change feed are re-joined from the two CURRENT
  * snapshots (each side semi-join-restricted to those keys first),
  * and the view's rows for exactly those keys are replaced. Keys
  * nobody touched are never read, and the view files they live in are
  * carried into the new manifest by reference.
  *
  * GROUP BY views ([[refreshAgg]]) fold instead of recomputing: the
  * tick's signed per-group delta, the rows of the view files the
  * merge's affected-file probe picks, and min/max rescan rows for
  * delete-touched groups meet in ONE grouped aggregation inside the
  * merge ([[Snapshots.rewriteAffected]], the loop [[Snapshots.
  * mergeCommit]] runs too) — each affected view file is read once per
  * tick.
  *
  * I/O is O(churn) too, not just compute: every re-read of an input
  * or a join view is routed through manifest-level file pruning
  * ([[Snapshots.readPrunedBy]]) on the affected keys' bounds — the
  * semi-join then filters rows only within the files that can hold
  * churned keys. Inputs committed with `statsCol` on the join/group
  * key and the view (clustered by that key at every merge) both
  * skip; a table without recorded stats degrades to reading every
  * file, never to wrong answers. At 100 TB: a day's churn re-reads a
  * day's files.
  *
  * Exactly-once across crashes: each refresh tick writes a
  * WRITE-AHEAD INTENT marker (the file NAME carries tick + the pinned
  * from/to versions — a torn write cannot corrupt it), then merges
  * with `batchId = tick` (fenced inside the view's own manifest),
  * then writes a PROCESSED marker. A replay of an interrupted tick
  * re-reads the intent's pinned versions — so it recomputes the
  * identical change batch — and the manifest fence drops it if the
  * crash happened after the merge committed.
  *
  * Reference scope: the reference's `price_prediction.ipynb` re-runs
  * its outer merge/join of weather+price tables from scratch on every
  * refresh; this is that join kept continuously current (`joinType =
  * "full"` is the notebook's shape).
  */
object IncrementalViews {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)

  private def stateRoot(viewDir: String) =
    s"${viewDir.stripSuffix("/")}/_view_state"

  private val MarkerRe =
    raw"(intent|processed)-T(\d{6,})-FL(-?\d+)-FR(-?\d+)-TL(-?\d+)-TR(-?\d+)".r

  private case class Tick(kind: String, t: Long, fl: Long, fr: Long,
                          tl: Long, tr: Long)

  private def markers(f: FileSystem, root: Path): Seq[Tick] =
    if (!f.exists(root)) Nil
    else f.listStatus(root).map(_.getPath.getName).toSeq.collect {
      case MarkerRe(k, t, fl, fr, tl, tr) =>
        Tick(k, t.toLong, fl.toLong, fr.toLong, tl.toLong, tr.toLong)
    }

  private def writeMarker(f: FileSystem, root: Path, tick: Tick): Unit = {
    f.mkdirs(root)
    val name = f"${tick.kind}-T${tick.t}%06d-FL${tick.fl}-FR${tick.fr}" +
      f"-TL${tick.tl}-TR${tick.tr}"
    f.create(new Path(root, name), true).close()
  }

  /** Grid resolution for [[gridRanges]] — bounded driver data: at most
    * this many (bucket, min, max) rows ever reach the driver. */
  private val PruneBuckets = 256

  /** Affected-tuple count at or below which the spec derivation
    * collects the tuples and computes every key's ranges driver-side
    * (one bounded job total) instead of one grid aggregation per
    * gridable key — mirrors Snapshots' DriverPointEvalAbove budget. */
  private val DriverSpecMaxTuples = 64L
  /** Cap on the disjoint ranges handed to the manifest prune — each
    * range is one OR-term in the manifest filter, so keep it small. */
  private val MaxPruneRanges = 8

  /** Affected-key prune ranges (shared by [[keySpecs]]/[[gridRanges]]
    * below): a key column contributes a spec only when every affected
    * key is non-null — min/max file stats ignore nulls, so no range
    * can locate a null key's rows and that column's pruning must
    * stand down.
    *
    * The ranges are up to [[MaxPruneRanges]] DISJOINT [lo, hi]
    * intervals that together cover every churned key, so SCATTERED
    * churn (key 1 and key 10⁹ in one tick) opens only the files near
    * each cluster instead of every file in the global [min, max] —
    * the straddling-tick case where a single range prunes nothing.
    * One distributed aggregation: keys land on a fixed
    * [[PruneBuckets]]-cell grid over [min, max] with typed per-bucket
    * min/max; adjacent non-empty cells merge into runs driver-side
    * (≤ [[PruneBuckets]] rows collected), and if more runs survive
    * than [[MaxPruneRanges]], the narrowest inter-run gaps merge
    * first — pruning only ever widens, never misses a key. Orderable
    * but non-numeric keys (strings) fall back to the single global
    * range (no grid arithmetic); so does a key domain too narrow for
    * double-precision bucket math. `affected` should be persisted by
    * the caller. */
  private def gridable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** Numeric image of an orderable key for grid arithmetic — dates
    * and timestamps have no direct double cast (Spark disallows it),
    * so map them through epoch days/micros; applied uniformly to the
    * column and the bound literals, so bucket assignment is
    * order-consistent whatever the unit. */
  private def gridDouble(c: Column,
                         dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case DateType => unix_date(c).cast("double")
      case TimestampType => unix_micros(c).cast("double")
      case TimestampNTZType =>
        unix_micros(c.cast(TimestampType)).cast("double")
      case _ => c.cast("double")
    }
  }

  /** Split one key's global [lo, hi] span into disjoint ranges via
    * the bucket grid — the refinement half of the spec computation
    * (bounds come from [[keySpecs]]'s single combined pass). */
  private def gridRanges(affected: DataFrame, key: String,
                         lo: Any, hi: Any): Seq[(Any, Any)] = {
    val dt = affected.schema(key).dataType
    // bucket index over [lo, hi]; width 0 (sub-double-precision span)
    // degrades every key to bucket 0 — i.e. the single global range
    val kd = gridDouble(col(key), dt)
    val width = (gridDouble(lit(hi), dt) - gridDouble(lit(lo), dt)) /
      lit(PruneBuckets.toDouble)
    val bucket = when(width <= 0.0 || isnan(width), lit(0))
      .otherwise(least(
        floor((kd - gridDouble(lit(lo), dt)) / width), lit(PruneBuckets - 1L)))
      .cast("int")
    // ≤ PruneBuckets rows come back — sort them driver-side instead of
    // paying a range-partitioned distributed sort (sample + shuffle)
    // for a bounded-metadata collect
    val cells = graft.Jobs.labeled(affected.sparkSession, "iv:grid") {
      affected.groupBy(bucket.as("__b"))
        .agg(min(col(key)).as("__lo"), max(col(key)).as("__hi"))
        .collect()
    }.map(c => (c.getInt(0), c.get(1), c.get(2))).sortBy(_._1)
    // adjacent cells merge into runs; a missing cell index is a gap
    val runs = cells.foldLeft(List.empty[(Int, Int, Any, Any)]) {
      case ((b0, b1, rlo, _) :: rest, (b, clo, chi)) if b == b1 + 1 =>
        (b0, b, rlo, chi) :: rest
      case (acc, (b, clo, chi)) => (b, b, clo, chi) :: acc
    }.reverse.toVector
    // too many runs: merge across the NARROWEST cell gaps first —
    // widening is always safe, it just prunes a little less
    var rs = runs
    while (rs.size > MaxPruneRanges) {
      val i = (0 until rs.size - 1).minBy(j => rs(j + 1)._1 - rs(j)._2)
      val (a, b) = (rs(i), rs(i + 1))
      rs = (rs.take(i) :+ ((a._1, b._2, a._3, b._4))) ++ rs.drop(i + 2)
    }
    rs.map(t => (t._3, t._4))
  }

  /** How many leading key columns participate in manifest pruning —
    * each adds up to two bounded driver aggregations per tick and one
    * stats pair per view file, so keep it small; keys beyond this
    * still restrict rows via the semi-join, just not file opens. */
  private val MaxPruneKeys = 3

  /** UTF-8 byte order — what Spark's own min/max over StringType
    * (UTF8String.compareTo) and parquet's string stats both use. Java
    * String.compareTo is UTF-16 code-unit order, which DIFFERS for
    * supplementary characters, so driver-side string bounds must
    * compare encoded bytes unsigned. */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Specs derived entirely DRIVER-SIDE from the collected affected
    * rows (narrow ticks) — same shapes the aggregation path produces:
    * exact points at ≤[[MaxPruneRanges]] distinct values, chunked
    * sorted covers for gridable keys past that, UTF-8-ordered global
    * range for strings (identical to Spark's min/max ordering), and a
    * stand-down (no spec — prune less, never wrong) for any other
    * non-gridable type or a key with nulls. */
  private def driverSpecs(affected: DataFrame, ks: Seq[String],
                          rows: Array[org.apache.spark.sql.Row])
      : Seq[(String, Seq[(Any, Any)])] =
    ks.zipWithIndex.flatMap { case (k, i) =>
      val vals0 = rows.map(_.get(i))
      if (vals0.exists(_ == null)) None // nulls: stats cannot locate them
      else {
        val vals = vals0.distinct
        if (vals.length <= MaxPruneRanges)
          Some(k -> vals.toSeq.map(v => (v, v)))
        else if (gridable(affected.schema(k).dataType)) {
          val sorted = vals.sortWith((a, b) =>
            a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
          val per = math.ceil(sorted.length.toDouble / MaxPruneRanges).toInt
          Some(k -> sorted.grouped(per).map(g => (g.head, g.last)).toSeq)
        } else affected.schema(k).dataType match {
          case org.apache.spark.sql.types.StringType =>
            val ss = vals.map(_.asInstanceOf[String])
            val lo = ss.reduceLeft((a, b) => if (utf8Less(b, a)) b else a)
            val hi = ss.reduceLeft((a, b) => if (utf8Less(a, b)) b else a)
            Some(k -> Seq((lo, hi)))
          case _ => None // no driver-safe ordering: pruning stands down
        }
      }
    }

  /** Last observed churn width per view (true = the previous tick took
    * the ≤[[DriverSpecMaxTuples]] narrow path): a narrow-history view
    * probes with ONE bounded limit-collect job instead of the
    * aggregation + distinct-collect pair, while a wide-history view
    * (text/positional indexes — thousands of churned tuples per tick)
    * keeps the aggregation-first path and never pays the probe. Both
    * paths produce the same specs; a misprediction costs one bounded
    * extra job and flips the entry. Crudely bounded: the keys are view
    * directories, so a long-lived process clears the map rather than
    * growing it. */
  private val specWidthMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def memoPut(key: String, narrow: Boolean): Unit =
    if (key.nonEmpty) {
      if (specWidthMemo.size > 4096) specWidthMemo.clear()
      specWidthMemo.put(key, java.lang.Boolean.valueOf(narrow))
    }

  /** Per-key prune specs over the affected-key TUPLE set: project
    * onto each of the first [[MaxPruneKeys]] keys and take that
    * column's disjoint ranges ([[gridRanges]]). A file must overlap
    * EVERY projection to possibly hold an affected tuple, so the
    * conjunctive prune is a strict sharpening of the head-key one —
    * a multi-key view whose churn is narrow in the SECOND key no
    * longer opens every file the first key's range spans. Keys whose
    * projection is unprunable (nulls present) contribute no spec.
    *
    * `memoKey` (a view identity) routes between two equivalent
    * evaluation orders — see [[specWidthMemo]]. `coarse` skips the
    * per-key grid-refinement job on wide ticks and keeps each key's
    * single global range: pass it when the table these specs will
    * prune PROVABLY has only a handful of files (cached-manifest file
    * count), where finer ranges cannot pay for their own job. Pruning
    * only widens — results are identical either way. */
  private def keySpecs(affected: DataFrame, keys: Seq[String],
                       memoKey: String = "", coarse: Boolean = false)
      : (Long, Seq[(String, Seq[(Any, Any)])]) = {
    val ks = keys.take(MaxPruneKeys)
    // NARROW-FIRST: a view whose last tick churned ≤64 tuples collects
    // the head of the affected frame in ONE bounded job — row count,
    // null screen, distinct values, and every range all derive
    // driver-side — instead of the aggregation pass + distinct
    // collect. Falls through (and flips the memo) when the tick turns
    // out wide.
    if (memoKey.nonEmpty &&
        java.lang.Boolean.TRUE.equals(specWidthMemo.get(memoKey))) {
      val lim = DriverSpecMaxTuples.toInt
      val rows = graft.Jobs.labeled(affected.sparkSession, "iv:keyspecs") {
        affected.select(ks.map(col): _*).limit(lim + 1).collect()
      }
      if (rows.length <= lim) {
        if (rows.isEmpty) return (0L, Nil)
        return (rows.length.toLong, driverSpecs(affected, ks, rows))
      }
      memoPut(memoKey, narrow = false)
    }
    // ONE combined aggregation for the total count plus every key's
    // non-null count and global [min, max]; the grid refinement below
    // costs one more bounded job ONLY for keys whose span needs
    // splitting (a narrow-churn tick usually has lo == hi and pays
    // just this single pass)
    val aggs = count(lit(1)) +: ks.flatMap(k =>
      Seq(count(col(k)), min(col(k)), max(col(k))))
    val r = graft.Jobs.labeled(affected.sparkSession, "iv:keyspecs") {
      affected.agg(aggs.head, aggs.tail: _*).head()
    }
    val n = r.getLong(0)
    if (n == 0L) return (0L, Nil)
    // NARROW-CHURN fast path: a tick touching ≤64 key tuples collects
    // them in ONE bounded job and derives every key's ranges
    // driver-side — no per-key grid aggregation job, and the ranges
    // are EXACT points (sharper than the grid's runs) when a key has
    // ≤MaxPruneRanges distinct values. The typical maintained-view
    // tick (a handful of churned groups) takes this path.
    if (n <= DriverSpecMaxTuples) {
      val rows = graft.Jobs.labeled(affected.sparkSession, "iv:keyspecs") {
        affected.select(ks.map(col): _*).distinct().collect()
      }
      memoPut(memoKey, narrow = true)
      return (n, driverSpecs(affected, ks, rows))
    }
    memoPut(memoKey, narrow = false)
    val specs = ks.zipWithIndex.flatMap { case (k, i) =>
      val nonNull = r.getLong(1 + 3 * i)
      val (lo, hi) = (r.get(2 + 3 * i), r.get(3 + 3 * i))
      if (nonNull < n || lo == null) None // nulls: stats cannot locate them
      else if (coarse || lo == hi || !gridable(affected.schema(k).dataType))
        Some(k -> Seq((lo, hi)))
      else Some(k -> gridRanges(affected, k, lo, hi))
    }
    (n, specs)
  }

  /** The affected-key snapshot read — the manifest-level half of the
    * affected-key restriction (the semi-join is the row-level half):
    * files must overlap every
    * prunable key's ranges; no specs (all keys unprunable) falls back
    * to the full snapshot, never a wrong answer. */
  private def readForSpecs(spark: SparkSession, dir: String,
                           version: Option[Long],
                           specs: Seq[(String, Seq[(Any, Any)])]): DataFrame =
    if (specs.isEmpty) Snapshots.read(spark, dir, version)
    else Snapshots.readPrunedSpecs(spark, dir, specs, version)

  /** The stats columns a view commit records beyond the head key —
    * what makes the NEXT tick's conjunctive prune effective on the
    * view's own files. */
  private def extraKeyStats(keys: Seq[String]): Seq[String] =
    keys.tail.take(MaxPruneKeys - 1)

  private def nullSafeSemi(df: DataFrame, affected: DataFrame,
                           keys: Seq[String]): DataFrame =
    df.as("t").join(affected.as("af"),
      keys.map(k => col(s"t.$k") <=> col(s"af.$k")).reduce(_ && _),
      "left_semi")

  /** The keyed-replace batch of an affected-key recompute for
    * [[Snapshots.mergeStreamBatch]]: the view's current rows for the
    * `affected` keys as deletes, then `fresh` as upserts. */
  private def replaceKeys(spark: SparkSession, viewDir: String,
                          specs: Seq[(String, Seq[(Any, Any)])],
                          affected: DataFrame, keys: Seq[String],
                          fresh: DataFrame): DataFrame = {
    val up = fresh.withColumn("__op", lit("u")).withColumn("__seq", lit(1L))
    if (Snapshots.latestVersion(spark, viewDir).isEmpty) up
    else nullSafeSemi(readForSpecs(spark, viewDir, None, specs), affected, keys)
      .withColumn("__op", lit("d")).withColumn("__seq", lit(0L))
      .unionByName(up)
  }

  private val JoinTypes = Map(
    "inner" -> "inner",
    "left" -> "left_outer", "left_outer" -> "left_outer",
    "right" -> "right_outer", "right_outer" -> "right_outer",
    "full" -> "full_outer", "full_outer" -> "full_outer",
    "outer" -> "full_outer")

  /** Create or refresh the materialized equi-join of two snapshot
    * tables: `viewDir` holds
    * `SELECT *, count(*) AS __n FROM left <joinType> JOIN right
    * USING (joinKeys) GROUP BY ALL`, current as of both inputs'
    * latest versions. Non-key column names must be disjoint across
    * the inputs (project or rename upstream), and `__n` is RESERVED:
    * an input carrying it is treated as a join view whose `__n` is
    * its Z-set multiplicity (rename any unrelated `__n` upstream).
    *
    * `joinType`: inner (default), left, right, or full — outer
    * variants null-pad the unmatched side, exactly Spark/SQL OUTER
    * JOIN USING semantics (key columns coalesced). Under inner
    * semantics rows with a NULL in any join key never join and never
    * dirty the view; under outer semantics they surface as unmatched
    * rows, so null-key churn is tracked too (with pruning stood down
    * for that tick — stats cannot range-locate nulls).
    *
    * Returns the view version published this call, or None when the
    * view is already current (or the tick was replay-fenced).
    * Each call processes ONE tick covering everything that happened
    * on both inputs since the previous tick. */
  def refreshJoin(spark: SparkSession, leftDir: String, rightDir: String,
                  viewDir: String, joinKeys: Seq[String],
                  joinType: String = "inner"): Option[Long] = {
    require(joinKeys.nonEmpty, "refreshJoin needs at least one join key")
    val jt = JoinTypes.getOrElse(joinType.toLowerCase,
      throw new IllegalArgumentException(
        s"joinType must be one of ${JoinTypes.keys.mkString("/")}: $joinType"))
    // single-maintainer lock: two racing ticks would pin the same tick
    // number with possibly different source versions — the manifest
    // fence drops one MERGE, but the loser's processed marker could
    // still win the watermark race and mark versions done that never
    // landed. The second maintainer must fail loudly instead.
    graft.operators.IndexMaintenance.withWriterLock(spark, viewDir,
      "refreshJoin") {
    graft.Jobs.labeled(spark, "iv:join") {
    val f = fs(spark, viewDir)
    val root = new Path(stateRoot(viewDir))
    val ms = markers(f, root)
    val processed = ms.filter(_.kind == "processed")
    val intents = ms.filter(_.kind == "intent")
    val doneT = if (processed.isEmpty) -1L else processed.map(_.t).max
    val pending = intents.filter(_.t > doneT).sortBy(_.t).headOption

    val tick = pending match {
      case Some(p) => p.copy(kind = "intent") // replay the pinned tick
      case None =>
        val last = processed.sortBy(_.t).lastOption
        val (fl, fr) = last.map(p => (p.tl, p.tr)).getOrElse((-1L, -1L))
        val tl = Snapshots.latestVersion(spark, leftDir).getOrElse(
          throw new IllegalArgumentException(s"no snapshots at $leftDir"))
        val tr = Snapshots.latestVersion(spark, rightDir).getOrElse(
          throw new IllegalArgumentException(s"no snapshots at $rightDir"))
        if (tl == fl && tr == fr) return None // already current
        val t = Tick("intent", doneT + 1, fl, fr, tl, tr)
        writeMarker(f, root, t)
        t
    }

    // the change feeds, pinned to the intent's versions: deterministic
    // on replay even if the inputs advanced further in the meantime
    def delta(dir: String, from: Long, to: Long): DataFrame =
      if (from < 0L)
        Snapshots.read(spark, dir, Some(to)).withColumn("__change", lit("insert"))
      else if (from == to)
        Snapshots.read(spark, dir, Some(to)).limit(0)
          .withColumn("__change", lit("insert"))
      else Snapshots.diff(spark, dir, from, to)
    val dA = delta(leftDir, tick.fl, tick.tl)
    val dB = delta(rightDir, tick.fr, tick.tr)

    val keyCols = joinKeys.map(col)
    val notNullKeys = joinKeys.map(col(_).isNotNull).reduce(_ && _)
    val affectedAll = dA.select(keyCols: _*).unionByName(dB.select(keyCols: _*))
    // inner joins never emit null-key rows, so null-key churn cannot
    // change the view; outer joins DO surface them (null-padded)
    val affected = (if (jt == "inner") affectedAll.filter(notNullKeys)
                    else affectedAll).distinct().persist()
    try {
      val (nAffected, specs) = keySpecs(affected, joinKeys, viewDir)
      val version: Option[Long] =
        if (nAffected == 0L) None // pure-rewrite churn (compaction): no keys moved
        else {
          // an input that IS a join view carries Z-set multiplicities
          // in __n: rename it to a side-local weight so the two sides
          // never collide, and MULTIPLY weights instead of counting —
          // join views are thereby CLOSED under composition (a 3-way
          // join is a view over a view; each tuple's __n is the
          // product of its inputs' multiplicities). A plain table is
          // the weight-1 case, where sum(1·1) ≡ count(*).
          def weighted(df: DataFrame, as: String): (DataFrame, Column) =
            if (df.columns.contains("__n"))
              (df.withColumnRenamed("__n", as), col(as))
            else (df, lit(1L))
          val (leftNow, wl) = weighted(nullSafeSemi(
            readForSpecs(spark, leftDir, Some(tick.tl), specs),
            affected, joinKeys), "__nl")
          val (rightNow, wr) = weighted(nullSafeSemi(
            readForSpecs(spark, rightDir, Some(tick.tr), specs),
            affected, joinKeys), "__nr")
          // USING-style join: key columns appear once (coalesced for
          // full outer), the unmatched side's value columns are null
          val recomputed = leftNow.join(rightNow, joinKeys, jt)
          val valueCols = recomputed.columns.toSeq
            .filterNot(c => c == "__nl" || c == "__nr")
          // outer joins null the absent side's weight: an unmatched
          // row pads with multiplicity 1, weighted by its own side
          val fresh = recomputed.groupBy(valueCols.map(col): _*)
            .agg(sum(coalesce(wl, lit(1L)) * coalesce(wr, lit(1L)))
              .as("__n"))
          // O(churn) rows — persisted so the emptiness probe and the
          // merge run the recompute ONCE, not twice
          val changes =
            replaceKeys(spark, viewDir, specs, affected, joinKeys, fresh).persist()
          // keys = the full value tuple (the Z-set identity); __n is the
          // value a same-tuple upsert replaces; file pruning AND file
          // clustering on the first join key — the merge range-partitions
          // its rewrite so view files keep tight, tiling key ranges, and
          // the next tick's CoW rewrites only the files its keys land in
          try {
            if (changes.isEmpty) None // churned keys join nothing, before and after
            else Snapshots.mergeStreamBatch(changes, viewDir, tick.t,
              keyCols = valueCols, opCol = "__op", seqCol = "__seq",
              pruneCol = Some(joinKeys.head), clusterBy = Some(joinKeys.head),
              extraStatsCols = extraKeyStats(joinKeys))
          } finally changes.unpersist()
        }

      writeMarker(f, root, tick.copy(kind = "processed"))
      // spent markers: intents at or below the new watermark, and
      // older processed markers — only the NEWEST processed marker is
      // the watermark, so without this GC an always-on `maintain` of
      // a join (one tick per micro-batch) grows _view_state O(ticks)
      // forever and re-lists it all on every refresh
      markers(f, root).filter(m =>
        (m.kind == "intent" && m.t <= tick.t) ||
          (m.kind == "processed" && m.t < tick.t))
        .foreach { m =>
          val name = f"${m.kind}-T${m.t}%06d-FL${m.fl}-FR${m.fr}-TL${m.tl}-TR${m.tr}"
          f.delete(new Path(root, name), false)
        }
      version
    } finally affected.unpersist()
    }
    }
  }

  private val AggMarkerRe = raw"(intent|processed)-F(-?\d+)-T(-?\d+)".r
  private case class AggTick(kind: String, from: Long, to: Long)

  /** How many rows a tick makes of one source row, for its budget
    * ([[withSourceTick]]): one, as many as `view` holds per source row,
    * or unknown (a transform that may fan rows out). */
  private sealed trait FanOut
  private case object OneRow extends FanOut
  private final case class Like(view: String) extends FanOut
  private case object Unknown extends FanOut

  private def aggMarkers(f: FileSystem, root: Path): Seq[AggTick] =
    if (!f.exists(root)) Nil
    else f.listStatus(root).map(_.getPath.getName).toSeq.collect {
      case AggMarkerRe(k, fr, to) => AggTick(k, fr.toLong, to.toLong)
      // pre-round-9 state wrote one `processed-v%012d` per folded
      // version — read it as a watermark so existing views upgrade
      // in place
      case v if v.matches("processed-v\\d{12}") =>
        AggTick("processed", -1L, v.stripPrefix("processed-v").toLong)
    }

  private def writeAggMarker(f: FileSystem, root: Path, t: AggTick): Unit = {
    f.mkdirs(root)
    f.create(new Path(root, s"${t.kind}-F${t.from}-T${t.to}"), true).close()
  }

  /** The one-input pinned-tick protocol shared by every single-source
    * view ([[refreshAgg]], [[refreshTopK]]): resolve or replay ONE
    * intent covering every pending source version, hand `work` the
    * session the tick runs on and the pinned (from, to] delta, then
    * publish the processed watermark and GC spent markers. Returns the
    * versions the tick folded.
    *
    * The tick runs interpreted ([[TickBudget]]) when the rows it can
    * process fit the budget: the rows of the files the delta reads
    * and, for a `work` that `rereadsSource`, of the whole source as of
    * the tick, each times the rows one source row becomes (`fanOut`),
    * plus the whole view (an upper bound on the affected view files).
    * A fan-out measured `Like` a view is that view's rows per source
    * row at the tick's start; while the view holds no rows (an initial
    * build), or when the fan-out is `Unknown`, the bound is unknown
    * and the tick keeps generated code. */
  private def withSourceTick(spark: SparkSession, srcDir: String,
                             viewDir: String, stateName: String,
                             rereadsSource: Boolean,
                             fanOut: FanOut = OneRow)
                            (work: (SparkSession, DataFrame, AggTick) => Unit)
      : Seq[Long] =
    // same single-maintainer lock (and rationale) as [[refreshJoin]]
    graft.operators.IndexMaintenance.withWriterLock(spark, viewDir,
      s"refresh($stateName)") {
    val root = new Path(s"${viewDir.stripSuffix("/")}/$stateName")
    val f = fs(spark, viewDir)
    val ms = aggMarkers(f, root)
    val processed = ms.filter(_.kind == "processed")
    val done = if (processed.isEmpty) -1L else processed.map(_.to).max
    val pendingIntent = ms.filter(m => m.kind == "intent" && m.to > done)
      .sortBy(_.to).headOption

    val tick = pendingIntent match {
      case Some(p) => p // replay the pinned tick
      case None =>
        val latest = Snapshots.latestVersion(spark, srcDir).getOrElse(return Nil)
        if (latest <= done) return Nil // already current
        val t = AggTick("intent", done, latest)
        writeAggMarker(f, root, t)
        t
    }

    val to = Snapshots.cachedFileRows(spark, srcDir, tick.to)
    val from =
      if (tick.from < 0L) Some(Map.empty[String, Long])
      else Snapshots.cachedFileRows(spark, srcDir, tick.from)
    val perRow = fanOut match {
      case OneRow => Some(1.0)
      case Like(v) => for {
          n <- Snapshots.cachedLatestRows(spark, v) if n > 0L
          s <- from.map(_.values.sum) if s > 0L
        } yield math.max(1.0, n.toDouble / s)
      case Unknown => None
    }
    val bound = for {
      a <- to; b <- from; k <- perRow
      view <- Snapshots.cachedLatestRows(spark, viewDir)
    } yield {
      val feed = a.collect { case (p, n) if !b.contains(p) => n }.sum +
        b.collect { case (p, n) if !a.contains(p) => n }.sum
      val src = if (rereadsSource) a.values.sum else 0L
      ((feed + src) * k).toLong + view
    }
    TickBudget(spark, bound) { spark =>
      // ONE delta covering every pending version, pinned for replay
      val changes =
        if (tick.from < 0L)
          Snapshots.read(spark, srcDir, Some(tick.to))
            .withColumn("__change", lit("insert"))
        else Snapshots.diff(spark, srcDir, tick.from, tick.to)
      work(spark, changes, tick)
    }

    writeAggMarker(f, root, tick.copy(kind = "processed"))
    // spent markers: intents at or below the watermark, older processed
    f.listStatus(root).map(_.getPath).filter { p =>
      p.getName match {
        case AggMarkerRe("intent", _, to) => to.toLong <= tick.to
        case AggMarkerRe("processed", _, to) => to.toLong < tick.to
        case n if n.matches("processed-v\\d{12}") =>
          n.stripPrefix("processed-v").toLong < tick.to
        case _ => false
      }
    }.foreach(f.delete(_, false))
    ((tick.from + 1) to tick.to)
  }

  /** Incrementally-maintained GROUP BY view over ONE snapshot table:
    * `viewDir` holds per-group `sum_<c>` (exact decimal accumulators),
    * `__cnt`, and optionally `min_<c>`/`max_<c>`, current as of the
    * source's latest version.
    *
    * Each call processes ONE tick covering EVERY source version
    * committed since the previous tick — a consumer that fell N
    * versions behind catches up with a single diff(done → latest) and
    * one fold, not N of each. Exactly-once via the same pinned
    * write-ahead intent as [[refreshJoin]] plus the view manifest's
    * batch fence (`batchId` = the tick's target version).
    *
    * A tick is ONE copy-on-write pass over the view: the feed
    * aggregates into a signed per-group delta, the merge's affected-
    * file probe on the head group key picks the view files to rewrite,
    * and those files' rows, the delta and the min/max rescan rows fold
    * in one grouped aggregation that is written and published under
    * the batch fence — each affected view file is read once.
    * Sums and counts come PURELY from the change feed — inserts add,
    * deletes subtract; decimal accumulation makes the fold exact and
    * order-independent, so the maintained totals equal a from-scratch
    * aggregation bit for bit. Min/max fold from the delta alone for
    * groups the tick only INSERTED into (monotone); only groups that
    * saw a delete are re-scanned from the source as-of the consumed
    * version — and that rescan opens only the files whose stats range
    * can hold those groups. O(churned groups + affected view files),
    * never O(table); an append-only tick does zero source re-reads. A
    * group whose count reaches zero leaves the view. Groups with NULL
    * keys aggregate like SQL GROUP BY (null-safe grouping; pruning
    * stands down when a null group is affected). Returns the source
    * versions folded this call.
    *
    * `where` makes it a FILTERED view — `SELECT ... FROM src WHERE
    * <where> GROUP BY keys` kept current. The predicate is applied to
    * the change feed (a delta row outside it can't move the view) and
    * to the min/max rescan, so it must reference only the source's
    * data columns and be deterministic.
    *
    * `transform` makes the view DERIVED — `SELECT ... FROM src
    * LATERAL VIEW ... GROUP BY keys` kept current: a row-local
    * expansion (explode a token array, project derived columns, drop
    * rows) applied AFTER `where`, to the feed and to the min/max
    * rescan alike. Contract:
    * deterministic, each output row derived from exactly ONE input
    * row, and the `__change` column passed through untouched
    * (select/filter/withColumn/explode all qualify) — every derived
    * row then inherits its source row's sign, so deletes retract
    * exactly what their insert added. The canonical use is a
    * VOCABULARY view: tokens exploded from a document feed, counts
    * exact as documents arrive AND leave. Pruning on group keys that
    * only exist post-transform degrades gracefully (no stats recorded
    * for them → every file read, never a wrong answer). */
  def refreshAgg(spark: SparkSession, srcDir: String, viewDir: String,
                 groupKeys: Seq[String], sumCols: Seq[String],
                 sumScale: Int = 6,
                 minMaxCols: Seq[String] = Nil,
                 where: Option[Column] = None,
                 transform: Option[DataFrame => DataFrame] = None): Seq[Long] =
    aggTick(spark, srcDir, viewDir, groupKeys, sumCols, sumScale, minMaxCols,
      where, transform, if (transform.isEmpty) OneRow else Unknown)

  /** [[refreshAgg]], told how many rows `transform` makes of one
    * source row ([[withSourceTick]]); a caller-supplied transform may
    * fan rows out by any factor, so [[refreshAgg]] calls it unknown. */
  private def aggTick(spark: SparkSession, srcDir: String, viewDir: String,
                      groupKeys: Seq[String], sumCols: Seq[String],
                      sumScale: Int, minMaxCols: Seq[String],
                      where: Option[Column],
                      transform: Option[DataFrame => DataFrame],
                      fanOut: FanOut): Seq[Long] = {
    require(groupKeys.nonEmpty, "refreshAgg needs at least one group key")
    withSourceTick(spark, srcDir, viewDir, "_agg_state",
        rereadsSource = minMaxCols.nonEmpty, fanOut) { (spark, changes, tick) =>
      applyAggDelta(spark, srcDir, viewDir, groupKeys, sumCols, sumScale,
        minMaxCols, where, transform, changes, tick.to)
    }
  }

  /** One [[refreshAgg]] tick: fold the pinned feed `changes0` into
    * the view through [[Snapshots.rewriteAffected]], fenced at `v`. */
  private def applyAggDelta(spark: SparkSession, srcDir: String,
                            viewDir: String, groupKeys: Seq[String],
                            sumCols: Seq[String], sumScale: Int,
                            minMaxCols: Seq[String], where: Option[Column],
                            transform: Option[DataFrame => DataFrame],
                            changes0: DataFrame, v: Long): Unit =
      graft.Jobs.labeled(spark, "iv:aggDelta") {
    val dec = s"decimal(30,$sumScale)"
    // the feed is consumed in ONE streaming aggregation pass — never
    // cached (the initial tick's feed is the whole source; an O(table)
    // persist would be the scale bug). What IS reused (affected-file
    // probe, delete keys, fold) is `delta`: O(churned groups).
    val changes = {
      val filtered = where.foldLeft(changes0)(_.filter(_))
      val derived = transform.foldLeft(filtered)((d, t) => t(d))
      require(derived.columns.contains("__change"),
        "refreshAgg transform must pass the __change column through")
      derived
    }
    val sign = when(col("__change") === lit("insert"), lit(1)).otherwise(lit(-1))
    // sign the operand by NEGATION, never `sign * decimal`: an
    // int × decimal(30,s) multiply promotes to precision 41 > 38 and
    // Spark's precision-loss rule then TRUNCATES the scale to
    // min(s, 6) — a sumScale above 6 would silently sum 6-decimal
    // values (caught by the maintained-moments spec at scale 9);
    // unary minus preserves the exact decimal type
    val dAggs = (sumCols.map { c =>
      val v = col(c).cast(dec)
      sum(when(col("__change") === lit("insert"), v).otherwise(-v))
        .cast(dec).as(s"sum_$c")
    } :+
      sum(sign.cast("long")).as("__cnt")) ++
      // per-group min/max over the tick's INSERTS (null when the
      // group saw only deletes) + a delete flag: inserts fold into
      // min/max monotonically, deletes force the group's rescan
      minMaxCols.flatMap(c => Seq(
        min(when(col("__change") === "insert", col(c))).as(s"min_$c"),
        max(when(col("__change") === "insert", col(c))).as(s"max_$c"))) :+
      max(when(col("__change") === "delete", lit(1)).otherwise(lit(0)))
        .as("__has_del")
    val delta = changes.groupBy(groupKeys.map(col): _*)
      .agg(dAggs.head, dAggs.tail: _*).persist()
    try {
      val viewCols = groupKeys ++ sumCols.map(c => s"sum_$c") ++ Seq("__cnt") ++
        minMaxCols.flatMap(c => Seq(s"min_$c", s"max_$c"))
      // min/max are not delta-foldable under deletes: re-scan the rows
      // of just the groups a DELETE touched, from the source AS-OF the
      // consumed version (pinned — a replay sees identical data),
      // opening only the files whose stats can hold those groups. An
      // append-only tick does ZERO source re-reads. Lazy: a fenced
      // replay never pays for it.
      lazy val rescan: Option[DataFrame] =
        if (minMaxCols.isEmpty) None
        else {
          val delKeys = delta.filter(col("__has_del") === 1)
            .select(groupKeys.map(col): _*)
          val (nDel, delSpecs) = keySpecs(delKeys, groupKeys,
            viewDir + "#del",
            coarse = Snapshots.cachedFileCount(spark, srcDir).exists(_ <= 8))
          if (nDel == 0L) None
          else {
            // the rescan sees the source through the same lens as the
            // feed: where, then transform (fed a synthetic "insert"
            // __change to honor the transform contract)
            val filtered = where.foldLeft(
              readForSpecs(spark, srcDir, Some(v), delSpecs))(_.filter(_))
            val lensed = transform match {
              case None => filtered
              case Some(t) =>
                t(filtered.withColumn("__change", lit("insert")))
                  .drop("__change")
            }
            Some(nullSafeSemi(lensed, delKeys, groupKeys)
              .select(groupKeys.map(col) ++ minMaxCols.flatMap(c => Seq(
                col(c).as(s"__r_min_$c"), col(c).as(s"__r_max_$c"))): _*))
          }
        }
      // ONE grouped aggregation over the affected view files' rows, the
      // signed delta and the rescan rows: sums and counts add, min/max
      // take the rescan for delete-touched groups and otherwise the
      // least/greatest of view and inserts; emptied groups drop out.
      // Groups of the affected files the tick never touched fold to
      // themselves (one row each).
      def fold(view: Option[DataFrame]): DataFrame = {
        val hasDel = max(col("__has_del")) === 1
        def mm(c: String, f: Column => Column) = {
          val kept = f(col(c))
          (if (rescan.isEmpty) kept
           else when(hasDel, f(col(s"__r_$c"))).otherwise(kept)).as(c)
        }
        val aggs = sumCols.map(c => coalesce(sum(col(s"sum_$c")),
            lit(0).cast(dec)).cast(dec).as(s"sum_$c")) ++
          Seq(sum(col("__cnt")).as("__cnt")) ++
          minMaxCols.flatMap(c =>
            Seq(mm(s"min_$c", min(_: Column)), mm(s"max_$c", max(_: Column))))
        (view.map(_.select(viewCols.map(col) :+ lit(0).as("__has_del"): _*))
          .toSeq ++ Seq(delta) ++ rescan)
          .reduce(_.unionByName(_, allowMissingColumns = true))
          .groupBy(groupKeys.map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
          .filter(col("__cnt") =!= 0L)
          .select(viewCols.map(col): _*)
      }
      Snapshots.rewriteAffected(spark, viewDir, delta, groupKeys.head,
        batchId = v, clusterBy = Some(groupKeys.head))(fold)
      ()
    } finally delta.unpersist()
  }

  /** Incrementally-maintained per-key TOP-K view — the continuously-
    * current leaderboard: each `partitionKeys` group's k best rows by
    * `orderCol` (descending unless `ascending`), stored with their
    * 1-based `__rank`. Maintained by affected-key recompute
    * ([[perKeyTick]]), the only plan that stays correct under deletes:
    * a demoted or deleted leader is displaced by whatever NOW ranks
    * k-th, which no delta-only fold could know.
    *
    * `orderCol` + `tieBreak` must totally order each group (e.g. a
    * unique id as the last tie-break) or ranks beyond the tie are
    * nondeterministic. Same pinned-tick exactly-once protocol as
    * [[refreshAgg]]; a consumer N versions behind catches up in one
    * tick. Returns the source versions folded this call. */
  def refreshTopK(spark: SparkSession, srcDir: String, viewDir: String,
                  partitionKeys: Seq[String], orderCol: String, k: Int,
                  tieBreak: Seq[String] = Nil,
                  ascending: Boolean = false): Seq[Long] = {
    require(partitionKeys.nonEmpty, "refreshTopK needs at least one key")
    require(k > 0, s"k must be positive: $k")
    perKeyTick(spark, srcDir, viewDir, "_topk_state", partitionKeys,
      (if (ascending) col(orderCol).asc else col(orderCol).desc) +:
        tieBreak.map(col(_).asc),
      Some(k), identity)
  }

  /** Generic INCREMENTALLY-MAINTAINED PER-KEY DERIVED VIEW — the
    * affected-key recompute [[refreshTopK]] uses ([[perKeyTick]]),
    * opened to ANY key-local derivation no delta fold can express
    * (windowed session assignment, ordered funnels, anything whose
    * per-key output is a global function of the key's rows).
    *
    * Contract: `derive` must be DETERMINISTIC and KEY-LOCAL — every
    * output row for key k derives only from input rows with key k
    * (so recomputing a key from its own rows alone is exact) — and
    * must carry `keyCols` through. `rowOrder` names columns that
    * totally order each key's output rows (they become the stored
    * `__rank`). An EMPTY `rowOrder` asserts the
    * derivation emits AT MOST ONE row per key — violated, the tick
    * fails loudly instead of storing nondeterministic ranks. */
  def refreshPerKey(spark: SparkSession, srcDir: String, viewDir: String,
                    keyCols: Seq[String], rowOrder: Seq[String],
                    derive: DataFrame => DataFrame): Seq[Long] = {
    require(keyCols.nonEmpty, "refreshPerKey needs at least one key")
    perKeyTick(spark, srcDir, viewDir, "_derived_state", keyCols,
      rowOrder.map(col(_).asc), None, derive)
  }

  /** One affected-key recompute tick of [[refreshTopK]] and
    * [[refreshPerKey]]: the change feed names the churned keys, their
    * CURRENT source rows (manifest-pruned to the keys' bounds +
    * semi-joined) go through `derive` and are ranked by `order` within
    * each key (up to `limit` ranks), and the view's rows for exactly
    * those keys are replaced. Untouched keys are never read. The merge
    * is keyed by (keys, __rank): a shrunken key's trailing ranks are
    * deleted, the rest upsert in place. An empty `order` asserts
    * `derive` emits at most one row per key; the tick fails if not. */
  private def perKeyTick(spark: SparkSession, srcDir: String,
                         viewDir: String, stateName: String,
                         keyCols: Seq[String], order: Seq[Column],
                         limit: Option[Int],
                         derive: DataFrame => DataFrame): Seq[Long] =
    withSourceTick(spark, srcDir, viewDir, stateName,
        rereadsSource = true) { (spark, changes, tick) =>
      val kCols = keyCols.map(col)
      val affected = changes.select(kCols: _*).distinct().persist()
      try {
        val (nAffected, specs) = keySpecs(affected, keyCols, viewDir,
          coarse = Snapshots.cachedFileCount(spark, srcDir).exists(_ <= 8))
        if (nAffected != 0L) {
          val derived = derive(nullSafeSemi(
            readForSpecs(spark, srcDir, Some(tick.to), specs),
            affected, keyCols))
          require(keyCols.forall(derived.columns.contains),
            s"derive must carry the key columns ${keyCols.mkString(", ")}")
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(kCols: _*)
            .orderBy((if (order.isEmpty) Seq(lit(1L).asc) else order): _*)
          val ranked = derived
            .withColumn("__rank", row_number().over(w).cast("long"))
          val fresh = limit.foldLeft(ranked)((df, n) => df.filter(col("__rank") <= n))
          // O(churn) rows — persisted so the checks and the merge run
          // the re-ranking ONCE
          val out =
            replaceKeys(spark, viewDir, specs, affected, keyCols, fresh).persist()
          try {
            if (order.isEmpty)
              require(out.filter(col("__op") === "u" && col("__rank") > 1L)
                  .limit(1).isEmpty,
                "derive emitted more than one row for a key but rowOrder " +
                  "is empty — name columns that order each key's rows")
            if (!out.isEmpty)
              Snapshots.mergeStreamBatch(out, viewDir, tick.to,
                keyCols = keyCols :+ "__rank",
                opCol = "__op", seqCol = "__seq",
                pruneCol = Some(keyCols.head),
                clusterBy = Some(keyCols.head),
                extraStatsCols = extraKeyStats(keyCols))
          } finally out.unpersist()
        }
      } finally affected.unpersist()
      ()
    }

  /** INCREMENTALLY-MAINTAINED SESSION STATS — the max-gap
    * sessionization rollup ([[graft.operators.Relational.sessionStats]])
    * as a standing per-(user, session) table: a churned user's whole
    * session structure is recomputed from their current events (the
    * only delete-correct plan — removing one event can merge two
    * sessions or renumber every later one), untouched users' rows are
    * never read or written. State O(live sessions); tick O(churned
    * users' events). Params pinned per root. */
  def refreshSessionStats(spark: SparkSession, srcDir: String,
                          viewDir: String, userCol: String, tsCol: String,
                          idCol: String, maxGapSec: Long): Seq[Long] = {
    requireSameParam(spark, viewDir, "session_params",
      s"$userCol,$tsCol,$idCol,$maxGapSec")
    refreshPerKey(spark, srcDir, viewDir, Seq(userCol), Seq("session_idx"),
      df => graft.operators.Relational.sessionStats(
        df, userCol, tsCol, idCol, maxGapSec))
  }

  /** The maintained session table — batch `sessionStats`'s exact
    * columns, zero event I/O at serve. */
  def readSessionStats(spark: SparkSession, viewDir: String): DataFrame =
    Snapshots.read(spark, viewDir).drop("__rank")

  /** INCREMENTALLY-MAINTAINED ORDERED FUNNEL — per-user stage
    * timestamps + stages_completed
    * ([[graft.operators.Relational.funnel]]) kept current by
    * affected-user recompute: one row per user, so `rowOrder` is the
    * empty single-row contract; a user who no longer reaches stage 1
    * leaves the view (their fresh derivation is empty and the stale
    * row deletes). State O(users who reached stage 1). */
  def refreshFunnel(spark: SparkSession, srcDir: String, viewDir: String,
                    userCol: String, tsCol: String, typeCol: String,
                    stages: Seq[String]): Seq[Long] = {
    requireSameParam(spark, viewDir, "funnel_params",
      s"$userCol,$tsCol,$typeCol,${stages.mkString("|")}")
    refreshPerKey(spark, srcDir, viewDir, Seq(userCol), Nil,
      df => graft.operators.Relational.funnel(
        df, userCol, tsCol, typeCol, stages))
  }

  /** The maintained funnel table — batch `funnel`'s exact columns. */
  def readFunnel(spark: SparkSession, viewDir: String): DataFrame =
    Snapshots.read(spark, viewDir).drop("__rank")

  /** INCREMENTALLY-MAINTAINED SESSION PATHS — the per-(user, session)
    * event-type sequences behind
    * [[graft.operators.Relational.topPaths]], kept current by
    * affected-user recompute; [[readTopPaths]] then serves the
    * "k most common journeys" rollup from O(live sessions) stored
    * rows with ZERO event I/O — the path-analysis dashboard without
    * its per-load window scan. State O(sessions); params pinned. */
  def refreshSessionPaths(spark: SparkSession, srcDir: String,
                          viewDir: String, userCol: String, tsCol: String,
                          idCol: String, typeCol: String,
                          maxGapSec: Long): Seq[Long] = {
    requireSameParam(spark, viewDir, "paths_params",
      s"$userCol,$tsCol,$idCol,$typeCol,$maxGapSec")
    refreshPerKey(spark, srcDir, viewDir, Seq(userCol), Seq("session_idx"),
      df => graft.operators.Relational.sessionPaths(
        df, userCol, tsCol, idCol, typeCol, maxGapSec))
  }

  /** The k most common session paths from the maintained view —
    * batch `topPaths`'s exact output, O(live sessions) to serve. */
  def readTopPaths(spark: SparkSession, viewDir: String,
                   k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    Snapshots.read(spark, viewDir)
      .groupBy("path")
      .agg(count(lit(1L)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Incrementally-maintained per-group `COUNT(DISTINCT valueCol)` —
    * a CASCADE of two aggregate views, the composition the Z-set
    * encoding exists for: views can consume a VIEW's change feed.
    *
    * Level 1 (`pairsDir`): the Z-set of live `(groupKeys, valueCol)`
    * pairs — [[refreshAgg]] grouped by the pair, counting source rows
    * (NULL values filtered like SQL COUNT(DISTINCT), via `where`).
    * Level 2 (`viewDir`): [[refreshAgg]] grouped by `groupKeys` over
    * the PAIRS VIEW's own change feed — counting live pairs rows,
    * which IS the distinct count. A pair whose row count merely
    * changes surfaces in the feed as its delete + its insert: net
    * zero downstream. A pair entering (first occurrence) or leaving
    * (count hit zero) moves the distinct count by exactly one.
    *
    * Both levels are O(churned groups) in compute AND I/O (the same
    * manifest pruning, clustered by the first group key), and each
    * level is individually exactly-once: a crash between the two
    * ticks leaves level 2 one version behind — the next call's
    * multi-version tick catches it up. Unlike sketch-based distinct
    * counts (HLL), the cascade is EXACT and handles deletes.
    *
    * Returns the source versions folded into level 1 this call. */
  def refreshDistinct(spark: SparkSession, srcDir: String,
                      pairsDir: String, viewDir: String,
                      groupKeys: Seq[String], valueCol: String): Seq[Long] = {
    require(!groupKeys.contains(valueCol),
      s"valueCol $valueCol cannot also be a group key")
    val folded = refreshAgg(spark, srcDir, pairsDir, groupKeys :+ valueCol,
      Nil, where = Some(col(valueCol).isNotNull))
    refreshAgg(spark, pairsDir, viewDir, groupKeys, Nil)
    folded
  }

  /** The distinct-count view as a plain DataFrame: the group keys plus
    * the maintained `COUNT(DISTINCT ...)` as `countName`. */
  def readDistinct(spark: SparkSession, viewDir: String,
                   countName: String = "n_distinct"): DataFrame = {
    val v = Snapshots.read(spark, viewDir)
    v.select(v.columns.filterNot(_ == "__cnt").map(col) :+
      col("__cnt").as(countName): _*)
  }

  /** INCREMENTALLY-MAINTAINED weekly retention cohorts — the
    * event-analytics report ([[graft.operators.Relational.retention]])
    * as a standing view instead of a per-dashboard-load event scan.
    *
    * The maintained state is ONE Z-set agg view of the distinct
    * `(user, epoch-week)` activity pairs: the transform lens derives
    * `__wk = floor(unix_micros(ts) / week)` per event, so every pair
    * row's multiplicity comes from exactly one event row and inserts
    * AND deletes fold exactly (a user's last event of a week leaving
    * retracts the pair; an earlier event of the SAME week keeps it
    * alive through the multiplicity — the semantics a distinct-pair
    * snapshot could not maintain). State is O(users × active weeks) —
    * domain-bounded however many events ever flowed.
    *
    * The serve ([[readRetention]]) never touches events: cohort week
    * = min(__wk) per user OVER THE LIVE PAIRS (a per-user min is safe
    * here precisely because the serve recomputes it from the pair set
    * every read — no stale min to invalidate under deletes), then one
    * groupBy (cohort, offset). Cost O(live pairs), and the result
    * equals the batch operator over the live source row-for-row.
    *
    * `userCol`/`tsCol` are pinned per root: re-pointing the lens at
    * different columns mid-life would silently mix two reports. */
  def refreshRetention(spark: SparkSession, srcDir: String,
                       viewDir: String, userCol: String,
                       tsCol: String): Seq[Long] = {
    requireSameParam(spark, viewDir, "retention_cols", s"$userCol,$tsCol")
    refreshAgg(spark, srcDir, viewDir, Seq(userCol, "__wk"), Nil,
      where = Some(col(userCol).isNotNull && col(tsCol).isNotNull),
      transform = Some(df => df.select(
        col("__change"), col(userCol),
        floor(unix_micros(col(tsCol)) / lit(604800000000L))
          .cast("long").as("__wk"))))
  }

  /** The retention report from the maintained pair view —
    * `(cohort_wk, offset_wk, n_active)` exactly as the batch operator
    * emits it, O(live pairs), zero event I/O. */
  def readRetention(spark: SparkSession, viewDir: String): DataFrame = {
    val cols = readParam(spark, viewDir, "retention_cols").getOrElse(
      sys.error(s"$viewDir holds no retention view — run " +
        "refreshRetention against it first")).split(",")
    val userCol = cols(0)
    val pairs = Snapshots.read(spark, viewDir)
      .select(col(userCol), col("__wk"))
    val first = pairs.groupBy(userCol)
      .agg(min(col("__wk")).as("cohort_wk"))
    pairs.join(first, userCol)
      .groupBy(col("cohort_wk"),
        (col("__wk") - col("cohort_wk")).as("offset_wk"))
      .agg(count(lit(1L)).as("n_active"))
  }

  /** Operational HOUSEKEEPING for an always-maintained view (or any
    * snapshot table a continuous job churns): every CoW tick rewrites
    * only the affected files, so over thousands of ticks a view
    * accumulates small files (compaction debt) and manifest history
    * (retention debt). One call settles both under the SAME
    * maintenance lock a refresh tick takes — it can never race a
    * concurrent maintainer:
    *  1. [[Snapshots.compactCommit]] to ~`targetRows` rows per file,
    *     clustered by `clusterBy` (pass the view's first group key so
    *     affected-key pruning stays sharp after compaction). The
    *     streaming batch fence rides the manifest watermark, so a
    *     replayed batch stays fenced across the rewrite.
    *  2. [[Snapshots.expire]] to `keepLast` versions — savepoint-aware
    *     by default via the table's registered savepoint dirs.
    *  3. [[Snapshots.gcOrphans]] for crashed-commit garbage older
    *     than `graceMs`.
    * Cost is one full rewrite of the CURRENT snapshot — schedule it
    * every N ticks (e.g. from the `maintain` callback: `if (tick %
    * 100 == 0) housekeep(...)`), not per tick. */
  def housekeep(spark: SparkSession, viewDir: String,
                targetRows: Long = 4L * 1000 * 1000,
                keepLast: Int = 5,
                clusterBy: Option[String] = None,
                graceMs: Long = 24L * 3600 * 1000,
                extraStatsCols: Seq[String] = Nil): Unit =
    graft.operators.IndexMaintenance.withWriterLock(
      spark, viewDir, "housekeep") {
      if (Snapshots.latestVersion(spark, viewDir).isDefined) {
        // pass the view's non-head prune keys so the compacted files
        // keep the stats the conjunctive prune relies on — compaction
        // must sharpen pruning, not quietly drop a stats column
        Snapshots.compactCommit(spark, viewDir, targetRows,
          clusterBy = clusterBy, extraStatsCols = extraStatsCols)
        Snapshots.expire(spark, viewDir, keepLast)
        Snapshots.gcOrphans(spark, viewDir, graceMs)
      }
    }

  /** A CORRELATION-MATRIX view: per group, the running moment stats
    * (n, Σcᵢ, Σcᵢcⱼ) maintained incrementally — correlation is pure
    * sums, the best case for the Z-set fold: inserts AND deletes are
    * exact O(churned groups) deltas with NO rescans ever (unlike
    * min/max, no aggregate here loses information under retraction).
    * The notebook's `merged.corr()` kept current as data lands,
    * instead of recomputed from scratch per run.
    *
    * Bit-parity with the batch operator
    * ([[graft.operators.Relational.corrMatrixBy]]) is engineered
    * per-term: each metric is pre-rounded to `scale` decimals in the
    * transform lens (the same per-row `DECIMAL(30,scale)` cast the
    * batch exact-sums apply), products are summed at `2·scale`, and
    * [[readCorrMatrix]] replays the identical moment formula — so the
    * served matrix equals the from-scratch one double-for-double
    * (spec-asserted). */
  def refreshCorrMatrix(spark: SparkSession, srcDir: String,
                        viewDir: String, groupKeys: Seq[String],
                        cols: Seq[String], scale: Int = 2,
                        where: Option[Column] = None,
                        weight: Option[(String, Int)] = None): Seq[Long] = {
    // groupKeys = Nil is the notebook's exact shape (ONE global
    // matrix): the agg-view machinery needs a key, so a constant one
    // rides inside the lens and readCorrMatrix hides it again
    val keys = if (groupKeys.nonEmpty) groupKeys else Seq(GlobalKey)
    val ws = weight.map(_._2).getOrElse(0)
    val lens: DataFrame => DataFrame =
      if (groupKeys.nonEmpty) corrLens(cols, scale, weight)
      else df => corrLens(cols, scale, weight)(
        df.withColumn(GlobalKey, lit(0L)))
    refreshAgg(spark, srcDir, viewDir, keys,
      corrSumCols(cols, weight.isDefined),
      sumScale = ws + 2 * scale, where = where, transform = Some(lens))
  }

  /** Synthetic key backing a GLOBAL (ungrouped) stats view. */
  private val GlobalKey = "__global"

  private def corrSumCols(cols: Seq[String],
                          weighted: Boolean = false): Seq[String] =
    (if (weighted) Seq("__cw") else Nil) ++
      cols.map(c => s"__cs_$c") ++
      (for { i <- cols.indices; j <- i until cols.length }
        yield s"__cp_${i}_$j")

  /** The per-row moment columns the stats view folds. Weighted
    * (`weight = Some((wCol, wScale))`): every sum/product carries the
    * per-row weight factor and an extra `__cw` = w column makes Σw
    * servable as the weighted `__n` — the WLS normal-equation moments
    * (graft.operators.Regression.momentAggs with the same weight).
    * Each single sum is PRE-CAST to its exact decimal scale here
    * (ws+scale), because the view's one shared sum scale (ws+2·scale)
    * would otherwise round the IEEE product at a different scale than
    * the batch fit does — the widening from the pre-cast decimal to
    * the sum decimal is exact, so bit-parity with the batch moments
    * survives the shared scale. */
  private def corrLens(cols: Seq[String], scale: Int,
                       weight: Option[(String, Int)] = None)
      : DataFrame => DataFrame = df => {
    val ws = weight.map(_._2).getOrElse(0)
    def weighted(c: Column): Column =
      weight.map { case (wc, _) => col(wc) * c }.getOrElse(c)
    val base = weight match {
      case Some((wc, sc)) =>
        df.withColumn("__cw", col(wc).cast(s"decimal(30,$sc)"))
      case None => df
    }
    val withS = cols.foldLeft(base)((d, c) =>
      d.withColumn(s"__cs_$c",
        weighted(col(c)).cast(s"decimal(30,${ws + scale})")))
    (for { i <- cols.indices; j <- i until cols.length } yield (i, j))
      .foldLeft(withS) { case (d, (i, j)) =>
        d.withColumn(s"__cp_${i}_$j",
          weighted(col(cols(i))) * col(cols(j))) }
  }

  /** The serve-side must KNOW how the moment view was built: a
    * weight-built view stores Σw as `sum___cw` and every moment
    * carries the weight, so serving it unweighted (or vice versa)
    * silently combines mismatched scalings into wrong numbers. The
    * stored schema records which build ran — fail loudly on any
    * flag/schema mismatch. */
  private def requireWeightParity(v: DataFrame, viewDir: String,
                                  weighted: Boolean, who: String): Unit = {
    val hasW = v.columns.contains("sum___cw")
    require(hasW || !weighted,
      s"$who(weighted = true) on $viewDir, but the view was built " +
        "UNWEIGHTED (no sum___cw column) — rebuild it with a weight " +
        "column or serve with weighted = false")
    require(weighted || !hasW,
      s"$who(weighted = false) on $viewDir, but the view folds WEIGHTED " +
        "moments (sum___cw present) — serving them against the raw row " +
        "count would mix Σw-scaled moments with __cnt; pass weighted = true")
  }

  /** The maintained matrix, served from the stats view as
    * `(groupKeys…, col_x, col_y, corr_v)` — the same cell projection
    * (and the same double arithmetic, term for term) as the batch
    * [[graft.operators.Relational.corrMatrixBy]]. Serving flag must
    * match the build (see [[requireWeightParity]]). */
  def readCorrMatrix(spark: SparkSession, viewDir: String,
                     groupKeys: Seq[String], cols: Seq[String],
                     weighted: Boolean = false): DataFrame = {
    val v0 = Snapshots.read(spark, viewDir)
    requireWeightParity(v0, viewDir, weighted, "readCorrMatrix")
    val v = v0.filter(col("__cnt") > 0)
      .drop(if (groupKeys.isEmpty) GlobalKey else "__none__")
    // weighted view: n is the folded Σw, matching the WLS moments
    val n = (if (weighted) col("sum___cw") else col("__cnt")).cast("double")
    def s(i: Int) = col(s"sum___cs_${cols(i)}").cast("double")
    def p(i: Int, j: Int) =
      col(s"sum___cp_${math.min(i, j)}_${math.max(i, j)}").cast("double")
    def variance(i: Int) = n * p(i, i) - s(i) * s(i)
    val cells = for { i <- cols.indices; j <- cols.indices } yield
      struct(
        lit(cols(i)).as("col_x"),
        lit(cols(j)).as("col_y"),
        ((n * p(i, j) - s(i) * s(j)) /
          sqrt(variance(i) * variance(j))).as("corr_v"))
    v.select((groupKeys.map(col) :+ explode(array(cells: _*)).as("cell")): _*)
      .select((groupKeys.map(col) ++
        Seq(col("cell.col_x"), col("cell.col_y"), col("cell.corr_v"))): _*)
  }

  /** A continuously-maintained REGRESSION MODEL, served from the same
    * moment-stats view [[refreshCorrMatrix]] maintains: the normal
    * equations need exactly (n, Σcᵢ, Σcᵢcⱼ), all of which the view
    * already folds incrementally (pure sums — inserts AND deletes are
    * exact O(churned groups) deltas, no rescans). Serving the model is
    * a zero-data-read projection: the stored stats rows are renamed to
    * the [[graft.operators.Regression]] moment aliases and the SAME
    * generated Cramer text solves them in the plan, so the served
    * coefficients equal a from-scratch [[graft.operators.Regression
    * .olsFitBy]] over the current source state double-for-double
    * (spec-asserted) — the notebook's price model kept current as data
    * lands and leaves, at O(churn) maintenance and O(groups) serve.
    *
    * `yCol` and every `xCols` entry must be among the `cols` the view
    * was built over, and the view's `scale` must equal the batch fit's
    * y/x scales for bit-parity (both default 2).
    *
    * WEIGHTED models: build the view with the same `weight` and pass
    * `weighted = true` here — `__n` is then served from the folded Σw
    * and every moment already carries the weight, so the served
    * coefficients equal `olsFitBy(..., weight = Some(...))`. One
    * order caveat: the view's pair products are computed in `cols`
    * order (w·cᵢ·cⱼ) while the batch fit computes w·x·y — the decimal
    * cast at ws+2·scale recovers the identical exact decimal for both
    * groupings as long as |product| stays inside the exact-sum
    * headroom the view already assumes, so parity holds
    * (spec-asserted on planted and churned data). */
  def readOlsModel(spark: SparkSession, viewDir: String,
                   groupKeys: Seq[String], cols: Seq[String],
                   yCol: String, xCols: Seq[String],
                   betaScale: Int = 6, ridge: Double = 0.0,
                   weighted: Boolean = false): DataFrame = {
    import graft.operators.Regression
    require(cols.contains(yCol),
      s"yCol $yCol is not among the view's stats columns ${cols.mkString(", ")}")
    val missing = xCols.filterNot(cols.contains)
    require(missing.isEmpty,
      s"xCols ${missing.mkString(", ")} are not among the view's stats columns")
    val v0 = Snapshots.read(spark, viewDir)
    requireWeightParity(v0, viewDir, weighted, "readOlsModel")
    val v = v0.filter(col("__cnt") > 0)
      .drop(if (groupKeys.isEmpty) GlobalKey else "__none__")
    val iy = cols.indexOf(yCol)
    val ix = xCols.map(cols.indexOf)
    def p(a: Int, b: Int) =
      col(s"sum___cp_${math.min(a, b)}_${math.max(a, b)}").cast("double")
    val aliased = v.select((groupKeys.map(col) ++ Seq(
        (if (weighted) col("sum___cw") else col("__cnt"))
          .cast("double").as("__n"),
        col(s"sum___cs_$yCol").cast("double").as("__sy")) ++
      xCols.zipWithIndex.map { case (c, k) =>
        col(s"sum___cs_$c").cast("double").as(s"__s$k") } ++
      (for { a <- ix.indices; b <- a until ix.length }
        yield p(ix(a), ix(b)).as(s"__p${a}_$b")) ++
      ix.zipWithIndex.map { case (ci, k) => p(iy, ci).as(s"__q$k") }): _*)
    val cells = Regression.termNames(xCols)
      .zip(Regression.cramerBetaSqls(xCols.length, ridge))
      .map { case (t, b) =>
        struct(lit(t).as("term"),
          expr(Regression.roundSql(b, betaScale)).as("beta")) }
    aliased.select(
        (groupKeys.map(col) :+ explode(array(cells: _*)).as("cell")): _*)
      .select((groupKeys.map(col) ++
        Seq(col("cell.term"), col("cell.beta"))): _*)
  }

  /** INCREMENTALLY-MAINTAINED CORPUS PROFILE — the dataset card
    * ([[graft.operators.Corpus.corpusProfile]]) kept current as
    * documents land and leave, without rescanning the corpus: three
    * views under `viewRoot`, all fed by the source's change feed —
    *
    *  - `lang`: per-language (Σdocs, Σtokens, Σquality₄) via the agg
    *    view with a langid/quality lens (pure Z-set sums — inserts
    *    AND deletes fold exactly);
    *  - `tokp`→`tokc`: the [[refreshDistinct]] cascade over an
    *    EXPLODED token lens — the live vocabulary count (a doc's
    *    delete retracts each of its token instances; the pair view
    *    keeps one row per live distinct token);
    *  - `txtp`→`txtc`: the same cascade keyed by the full text —
    *    the live exact-duplicate count. `dupKeyFingerprint = true`
    *    keys it by [[graft.functions.Text.fingerprint]] instead (the
    *    100 TB mode — the pair view and its change feed then carry
    *    one int64 per doc, not the document body); counts are equal
    *    absent a hash collision (spec-asserted). Pick ONE keying per
    *    view root — the flag changes what the `txtp` view stores, so
    *    flipping it mid-life would fold mismatched keys.
    *
    * [[readCorpusProfile]] then serves the identical `(metric,
    * value)` rows as the batch operator from O(langs + 2) stored
    * rows — maintained == from-scratch double-for-double
    * (spec-asserted across append + delete churn). */
  def refreshCorpusProfile(spark: SparkSession, srcDir: String,
                           viewRoot: String, textCol: String,
                           dupKeyFingerprint: Boolean = false): Unit = {
    import graft.functions.{Exact, Text}
    val t = col(textCol)
    val lens: DataFrame => DataFrame = df => df
      .withColumn("__lang", Text.langId(t))
      .withColumn("__ntok", Text.tokenCountWs(t).cast("long"))
      .withColumn("__q", Exact.roundAt(Text.qualityScore(t), 4))
    val tokLens: DataFrame => DataFrame = df => df
      .select(col("__change"), explode(Text.tokens(t)).as("__token"))
    val txtLens: DataFrame => DataFrame = df =>
      df.select(col("__change"),
        (if (dupKeyFingerprint) Text.fingerprint(t) else t).as("__text"))
    // BUILD-FLAG PARITY (the requireWeightParity discipline): the
    // stored txtp schema records which keying built it — a flipped
    // flag would fold int64 retractions against string rows (or vice
    // versa) and silently corrupt the dup count forever after
    if (Snapshots.latestVersion(spark, s"$viewRoot/txtp").isDefined) {
      val stored = Snapshots.read(spark, s"$viewRoot/txtp")
        .schema("__text").dataType
      val storedFp = stored == org.apache.spark.sql.types.LongType
      require(storedFp == dupKeyFingerprint,
        s"$viewRoot/txtp was built ${if (storedFp) "FINGERPRINT" else "TEXT"}-keyed " +
          s"but this tick passes dupKeyFingerprint = $dupKeyFingerprint — " +
          "pick ONE keying per view root (rebuild the views to switch)")
    }
    // three INDEPENDENT view chains — run them concurrently (each
    // tick takes its own view lock; the source feed is read-only);
    // only the cascade orders within a chain
    parallelChains(spark, Seq(
      () => refreshAgg(spark, srcDir, s"$viewRoot/lang", Seq("__lang"),
        Seq("__ntok", "__q"), sumScale = 4, transform = Some(lens)),
      () => {
        refreshAgg(spark, srcDir, s"$viewRoot/tokp", Seq("__token"), Nil,
          transform = Some(tokLens))
        refreshAgg(spark, s"$viewRoot/tokp", s"$viewRoot/tokc", Seq(GlobalKey),
          Nil, transform = Some(df => df.withColumn(GlobalKey, lit(0L))))
      },
      () => {
        refreshAgg(spark, srcDir, s"$viewRoot/txtp", Seq("__text"), Nil,
          transform = Some(txtLens))
        refreshAgg(spark, s"$viewRoot/txtp", s"$viewRoot/txtc", Seq(GlobalKey),
          Nil, transform = Some(df => df.withColumn(GlobalKey, lit(0L))))
      }))
  }

  /** Run independent view-maintenance chains CONCURRENTLY: each chain
    * is its own sequence of Spark jobs against its own view dirs
    * (own locks, own markers); a multi-view refresh is wall-clock
    * bound by its longest chain, not the sum — the schedule a real
    * deployment's maintenance runner uses. Ticks are idempotent and
    * individually exactly-once, so one chain failing while another
    * lands is the already-supported crash-between-levels state: the
    * next call catches the lagging chain up. */
  private def parallelChains(spark: SparkSession,
                             chains: Seq[() => Any]): Unit = {
    // DEADLOCK GUARD: a SQL TVF resolves while the analyzer holds the
    // SessionCatalog monitor — worker threads would block on it for
    // their own plan analysis while this thread waits for them. If
    // the caller already holds that lock, run the chains inline.
    // (Lock assumption validated against Spark 4.1.2's analyzer.)
    if (chains.lengthCompare(1) <= 0 ||
        Thread.holdsLock(spark.sessionState.catalog)) {
      chains.foreach(_()); return
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(chains.length)
    try {
      import scala.jdk.CollectionConverters._
      val tasks: java.util.List[java.util.concurrent.Callable[Any]] =
        chains.map(c => new java.util.concurrent.Callable[Any] {
          override def call(): Any = c()
        }).asJava
      // invokeAll waits for every chain; surface the first failure
      // UNWRAPPED, so a chain's own require(...) reaches the caller
      // with the same type/message the sequential path raises
      pool.invokeAll(tasks).asScala.foreach(f =>
        try f.get() catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        })
    } finally pool.shutdown()
  }

  /** The maintained dataset card, served from the profile views as the
    * same `(metric, value)` rows [[graft.operators.Corpus
    * .corpusProfile]] computes from scratch. */
  def readCorpusProfile(spark: SparkSession, viewRoot: String): DataFrame = {
    import graft.functions.Exact
    val lang = Snapshots.read(spark, s"$viewRoot/lang")
      .filter(col("__cnt") > 0)
    val tokc = Snapshots.read(spark, s"$viewRoot/tokc")
      .filter(col("__cnt") > 0)
      .agg(sum(col("__cnt")).as("__vocab"))
    val txtc = Snapshots.read(spark, s"$viewRoot/txtc")
      .filter(col("__cnt") > 0)
      .agg(sum(col("__cnt")).as("__dtext"))
    val totals = lang.agg(
      sum(col("__cnt")).as("__n"),
      sum(col("sum___ntok")).as("__nt"),
      sum(col("sum___q")).as("__sq"))
    val scalars = totals.crossJoin(broadcast(tokc))
      .crossJoin(broadcast(txtc)).select(
        explode(array(
          struct(lit("n_docs").as("metric"),
            col("__n").cast("double").as("value")),
          struct(lit("n_tokens").as("metric"),
            col("__nt").cast("double").as("value")),
          struct(lit("distinct_tokens").as("metric"),
            col("__vocab").cast("double").as("value")),
          struct(lit("exact_dup_docs").as("metric"),
            (col("__n") - col("__dtext")).cast("double").as("value")),
          struct(lit("mean_doc_tokens").as("metric"),
            Exact.roundAt(col("__nt").cast("double") /
              col("__n").cast("double"), 4).as("value")),
          struct(lit("mean_quality").as("metric"),
            Exact.roundAt(col("__sq").cast("double") /
              col("__n").cast("double"), 4).as("value")))))
      .select(col("col.metric").as("metric"), col("col.value").as("value"))
    val langs = lang
      .select(concat(lit("lang_docs_"), col("__lang")).as("metric"),
        col("__cnt").cast("double").as("value"))
    scalars.unionByName(langs)
  }

  /** INCREMENTALLY-MAINTAINED INVERTED TEXT INDEX — the full-text
    * retrieval layer kept current as documents land and leave,
    * without rescanning the corpus: three views under `viewRoot`,
    * all fed by the source's change feed —
    *
    *  - `post`: the POSTING LISTS as a Z-set agg view keyed
    *    `(token, doc)` over an exploded token lens — the row
    *    multiplicity `__cnt` IS the term frequency, so inserts AND
    *    deletes fold exactly (a doc's delete retracts each of its
    *    token occurrences; a tf that reaches 0 drops out of serves);
    *  - `dlen`: per-doc token length, same lens keyed by doc;
    *  - `gstat`: one cascaded global row (live doc count + Σdl) over
    *    `dlen`'s OWN change feed — O(churn) per tick, so corpus-level
    *    stats (N, avgdl) never rescan even the dlen view.
    *
    * Each posting row also CARRIES its document's token length as
    * the exact sum `sum___dl` (every exploded occurrence contributes
    * dl, so `sum___dl = tf·dl` and `dl = sum___dl / __cnt` — a pure
    * Z-set sum, exact under deletes and updates like `__cnt`
    * itself). That denormalization is what makes [[readBm25]]
    * zero-join on the doc side: the serve never opens the
    * corpus-sized `dlen` view at all — postings for the query terms
    * (leading-key stats on `__token` make that a pruned read),
    * document frequency from those postings, per-doc length off the
    * SAME posting rows, N/avgdl from the 1-row cascade.
    * O(postings-of-query-terms) I/O however large the corpus;
    * maintained == batch [[graft.operators.Corpus.bm25]]
    * double-for-double (spec-asserted across append + delete churn;
    * driver-oracled as `q_bm25_view_incr`).
    *
    * NULL-text docs are not indexable (they explode to zero token
    * rows), and silently skipping them would make the maintained
    * N/avgdl diverge from the batch operators, which count such rows
    * in their corpus totals. The guard is a maintained NULL-DOC
    * COUNTER (`nullc`, a where-filtered 1-row view — exact under
    * inserts and deletes like every count here): ticks always
    * SUCCEED, and [[readBm25]]/[[readTfIdf]] fail loudly while the
    * counter is nonzero — then RECOVER as soon as the NULL docs are
    * deleted and a tick folds the retraction. (Failing the tick
    * itself would wedge the index: the pinned intent marker replays
    * the same source range forever, so the very deletion that fixes
    * the corpus could never unwedge it.) An empty STRING tokenizes
    * to one empty token and is counted identically on both sides. */
  def refreshTextIndex(spark: SparkSession, srcDir: String,
                       viewRoot: String, idCol: String,
                       textCol: String,
                       positional: Boolean = false): Unit = {
    import graft.functions.Text
    // views written before the carried-length column cannot fold this
    // tick's sum___dl delta — fail naming the fix, not inside the merge
    requireNoLegacyPost(spark, viewRoot)
    val lens: DataFrame => DataFrame = df => {
      val toks = Text.tokens(col(textCol))
      df.select(col("__change"), col(idCol).as("__doc"),
        explode(toks).as("__token"),
        size(toks).cast("long").as("__dl"))
    }
    // POSITIONAL postings (opt-in — ~dl rows per doc instead of
    // distinct tokens): (token, doc, pos) with Z-set multiplicity,
    // the exact-phrase-search substrate. Pick ONE setting per view
    // root, like the profile's dup keying.
    // BUILD-FLAG PARITY: an index built positional must stay
    // positional — a non-positional tick would leave the existing pos
    // view silently stale while phraseSearch/kwic keep serving it
    require(positional ||
        Snapshots.latestVersion(spark, s"$viewRoot/pos").isEmpty,
      s"$viewRoot/pos exists (this index maintains POSITIONAL postings) " +
        "but this tick passes positional = false — the pos view would go " +
        "silently stale; pass positional = true")
    val posChain: Seq[() => Any] = if (!positional) Nil else Seq(
      () => refreshPositionalIndex(spark, srcDir, viewRoot, idCol, textCol))
    // independent chains concurrently (see [[parallelChains]]):
    // postings | lengths→global stats | null-doc counter | positional
    // the ticks' budget counts the tokens `lens` makes of the feed: the
    // positional postings hold one row per token; without them the
    // count is unknown (the postings hold one per distinct token)
    val tokens = if (positional) Like(s"$viewRoot/pos") else Unknown
    parallelChains(spark, Seq(
      () => aggTick(spark, srcDir, s"$viewRoot/post",
        Seq("__token", "__doc"), Seq("__dl"), 0, Nil, None,
        Some(lens), tokens),
      () => {
        aggTick(spark, srcDir, s"$viewRoot/dlen", Seq("__doc"), Nil, 6, Nil,
          None, Some(lens), tokens)
        aggTick(spark, s"$viewRoot/dlen", s"$viewRoot/gstat", Seq(GlobalKey),
          Seq("__dl"), 0, Nil, None, Some(df =>
            df.withColumn(GlobalKey, lit(0L))
              .withColumn("__dl", col("__cnt"))), OneRow)
      },
      // indicator SUM over ALL docs, not a filtered count: the usual
      // corpus has zero NULL texts, and a forever-empty view (no data
      // files in any version) cannot be read back by later ticks
      () => aggTick(spark, srcDir, s"$viewRoot/nullc", Seq(GlobalKey),
        Seq("__nn"), 0, Nil, None, Some(df =>
          df.select(col("__change"), lit(0L).as(GlobalKey),
            when(col(textCol).isNull, 1L).otherwise(0L).as("__nn"))), OneRow)
      ) ++ posChain)
  }

  /** The serve-side half of the NULL-text guard: live NULL-text docs
    * make the maintained N/avgdl diverge from the batch operators, so
    * score serves refuse while [[refreshTextIndex]]'s maintained
    * null-doc counter is nonzero — and recover on the tick after the
    * NULL docs are deleted. An index from before the counter existed
    * backfills it with one maintenance tick. */
  private def requireNoNullTexts(spark: SparkSession,
                                 viewRoot: String): Unit = {
    require(Snapshots.latestVersion(spark, s"$viewRoot/nullc").isDefined,
      s"$viewRoot/nullc (the maintained NULL-text counter score serves " +
        "check) is missing — one refreshTextIndex tick backfills it")
    // an index over a corpus that never held a row has a versioned but
    // file-less counter — nothing to guard
    if (Snapshots.manifest(spark, s"$viewRoot/nullc").isEmpty) return
    val n = Snapshots.read(spark, s"$viewRoot/nullc")
      .agg(coalesce(sum(col("sum___nn")).cast("long"), lit(0L)))
      .head().getLong(0)
    require(n == 0L,
      s"$n live doc(s) with NULL text are in the indexed corpus — they " +
        "cannot be indexed, so the maintained N/avgdl would silently " +
        "diverge from the batch operators; delete or gate the NULL-text " +
        "docs and run one maintenance tick, and this serve recovers")
  }

  /** The rebuild-instruction guard for posting views written before
    * the carried doc-length column — shared by the refresh and the
    * serve so the fail-loud message stays single-sourced. */
  private def requireCarriedDl(viewRoot: String,
                               columns: Seq[String]): Unit =
    require(columns.contains("sum___dl"),
      s"$viewRoot/post predates the carried doc-length column " +
        "(sum___dl) — delete the view root and rebuild the index " +
        "(one refreshTextIndex call re-derives it from the source)")

  /** An index whose posting view predates the carried doc-length
    * column cannot serve [[readBm25]]'s zero-dlen-read plan or fold
    * further ticks — reject with the rebuild instruction instead of
    * an opaque analyzer error inside the merge. */
  private def requireNoLegacyPost(spark: SparkSession,
                                  viewRoot: String): Unit =
    if (Snapshots.latestVersion(spark, s"$viewRoot/post").isDefined)
      requireCarriedDl(viewRoot,
        Snapshots.read(spark, s"$viewRoot/post").columns.toSeq)

  /** The POSITIONAL postings — for callers that only need
    * [[phraseSearch]]/[[proximitySearch]]/[[kwic]] and not the
    * BM25/TF-IDF views ([[refreshTextIndex]] with `positional = true`
    * maintains these as its own chains). TWO layouts of the same
    * (token, doc, pos) Z-set, maintained as independent views over
    * the same feed:
    *
    *  - `pos`, TOKEN-major (clustered/stats-led by `__token`): the
    *    occurrence side — phrase/proximity/KWIC-occurrence reads
    *    open only the query terms' posting files;
    *  - `posd`, DOC-major (clustered/stats-led by `__doc`): the
    *    context side — [[kwic]] reassembles the matching docs'
    *    surroundings from files manifest-pruned to THOSE doc-id
    *    ranges, instead of full-scanning a corpus-sized
    *    token-clustered view for every keyword.
    *
    * An index built before the doc-major twin self-heals: `posd`'s
    * first tick folds the whole source (its own agg state starts at
    * version 0), so one maintenance call backfills it completely. */
  def refreshPositionalIndex(spark: SparkSession, srcDir: String,
                             viewRoot: String, idCol: String,
                             textCol: String): Unit = {
    import graft.functions.Text
    // NULL texts explode to zero position rows — harmless for the
    // positional serves (no corpus-stat factor); the score serves'
    // guard is refreshTextIndex's maintained null-doc counter
    def lens(df: DataFrame): DataFrame = df
      .select(col("__change"), col(idCol).as("__doc"),
        posexplode(Text.tokens(col(textCol))))
      .withColumnRenamed("pos", "__pos")
      .withColumnRenamed("col", "__token")
    // one row per token: each view's rows per document count the
    // tokens its ticks' budget must cover
    parallelChains(spark, Seq(
      () => aggTick(spark, srcDir, s"$viewRoot/pos",
        Seq("__token", "__doc", "__pos"), Nil, 6, Nil, None, Some(lens),
        Like(s"$viewRoot/pos")),
      () => aggTick(spark, srcDir, s"$viewRoot/posd",
        Seq("__doc", "__pos", "__token"), Nil, 6, Nil, None, Some(lens),
        Like(s"$viewRoot/posd"))))
  }

  /** EXACT PHRASE SEARCH over the positional postings
    * ([[refreshTextIndex]] with `positional = true`): every term's
    * postings are shifted to the phrase START (`pos - i`) and the k
    * lists equi-join on `(doc, start)` — one narrow hash join per
    * phrase term over ONLY those terms' postings (leading-key
    * `__token` stats prune the read), never a per-doc position cross
    * product. Emits `(idCol, hits)` for docs containing the phrase,
    * `hits` = number of occurrences (overlapping included), exact
    * under document inserts AND deletes. */
  def phraseSearch(spark: SparkSession, viewRoot: String,
                   phrase: Seq[String],
                   idCol: String = "doc_id"): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one term")
    // same manifest prune as readBm25: only the phrase terms' files open
    val pos = Snapshots.readPrunedRanges(spark, s"$viewRoot/pos", "",
        phrase.distinct.map(t => (t, t)))
      .filter(col("__cnt") > 0)
    def aligned(i: Int): DataFrame = pos
      .filter(col("__token") === phrase(i))
      .select(col("__doc"),
        (assertUniqueDoc(viewRoot, col("__pos")) - i).as("__start"))
    phrase.indices.map(aligned).reduce(_.join(_, Seq("__doc", "__start")))
      .groupBy(col("__doc"))
      .agg(count(lit(1L)).as("hits"))
      .select(col("__doc").as(idCol), col("hits"))
  }

  /** One-call housekeeping for every view the text index maintains
    * (`post`, `dlen`, `gstat`, plus `pos`/`posd` when positional):
    * each existing view gets [[housekeep]]'s compact + expire + GC
    * under its own maintenance lock, re-clustered by its head key
    * with the non-head prune stats re-recorded — compaction must
    * SHARPEN the serve paths' manifest pruning, not drop it. Views
    * run as parallel chains like the ticks that created the debt. */
  def housekeepTextIndex(spark: SparkSession, viewRoot: String,
                         targetRows: Long = 4L * 1000 * 1000,
                         keepLast: Int = 5,
                         graceMs: Long = 24L * 3600 * 1000): Unit =
    housekeepLayouts(spark, viewRoot, Seq(
      "post" -> Seq("__token", "__doc"),
      "dlen" -> Seq("__doc"),
      "gstat" -> Seq(GlobalKey),
      "nullc" -> Seq(GlobalKey),
      "pos" -> Seq("__token", "__doc", "__pos"),
      "posd" -> Seq("__doc", "__pos", "__token")),
      targetRows, keepLast, graceMs)

  /** [[housekeepTextIndex]] for the co-occurrence root
    * ([[refreshCooccurrence]]'s pairs/uni + total cascades). */
  def housekeepCooccurrence(spark: SparkSession, viewRoot: String,
                            targetRows: Long = 4L * 1000 * 1000,
                            keepLast: Int = 5,
                            graceMs: Long = 24L * 3600 * 1000): Unit =
    housekeepLayouts(spark, viewRoot, Seq(
      "pairs" -> Seq("a", "b"),
      "uni" -> Seq("token"),
      "ptot" -> Seq(GlobalKey),
      "ttot" -> Seq(GlobalKey)),
      targetRows, keepLast, graceMs)

  /** [[housekeepTextIndex]] for the bigram-LM root
    * ([[refreshBigramLm]]'s bg/ctx/uni/ttot views). */
  def housekeepBigramLm(spark: SparkSession, viewRoot: String,
                        targetRows: Long = 4L * 1000 * 1000,
                        keepLast: Int = 5,
                        graceMs: Long = 24L * 3600 * 1000): Unit =
    housekeepLayouts(spark, viewRoot, Seq(
      "bg" -> Seq("prev", "cur"),
      "ctx" -> Seq("prev"),
      "uni" -> Seq("token"),
      "ttot" -> Seq(GlobalKey)),
      targetRows, keepLast, graceMs)

  /** Housekeep every EXISTING view of a multi-view root as parallel
    * chains, each re-clustered by its head key with the non-head
    * prune stats re-recorded — compaction must SHARPEN the serve
    * paths' manifest pruning, not drop it. */
  private def housekeepLayouts(spark: SparkSession, viewRoot: String,
                               layouts: Seq[(String, Seq[String])],
                               targetRows: Long, keepLast: Int,
                               graceMs: Long): Unit =
    parallelChains(spark, layouts.collect {
      case (name, keys)
          if Snapshots.latestVersion(spark, s"$viewRoot/$name").isDefined =>
        () => housekeep(spark, s"$viewRoot/$name", targetRows, keepLast,
          clusterBy = Some(keys.head), graceMs = graceMs,
          extraStatsCols = extraKeyStats(keys))
    })

  /** Okapi BM25 over the maintained index — the same arithmetic,
    * term for term and in the same fold order, as the batch
    * [[graft.operators.Corpus.bm25]], but every input comes from the
    * stored views: O(postings-of-query-terms + matching docs) I/O AND
    * compute however large the corpus. The per-doc length rides ON
    * the posting rows ([[refreshTextIndex]] carries `sum___dl =
    * tf·dl`, so `dl = sum___dl / tf` exactly — integers whose product
    * stays well under 2⁵³, so the double quotient is the batch
    * operator's `dl` bit-for-bit), which means the serve never opens
    * the corpus-sized `dlen` view at all: the only scans are the
    * query terms' manifest-pruned posting files and the 1-row global
    * cascade (proof: the spec corrupts EVERY dlen data file and this
    * still serves). Emits `(idCol, bm25)` for every live doc
    * containing at least one query term — or, with `topK = Some(k)`,
    * only the k best scores (ties broken by ascending doc id),
    * executed as a per-partition heap + driver merge of k
    * (TakeOrdered), never a full sort: the retrieval shape.
    *
    * Duplicate live doc ids: identical-text duplicates fold to one
    * posting row with doubled tf and the right length — scored as
    * defined; DIFFERENT-text duplicates would make the carried
    * quotient a tf-weighted blend of the two lengths (batch bm25
    * emits separate per-row scores there), so a per-row divisibility
    * guard ([[assertCarriedDl]]) fails loudly instead — best-effort:
    * keep one live text per doc id. */
  def readBm25(spark: SparkSession, viewRoot: String,
               queryTerms: Seq[String], idCol: String = "doc_id",
               k1: Double = 1.2, b: Double = 0.75,
               topK: Option[Int] = None): DataFrame = {
    require(queryTerms.nonEmpty, "readBm25 needs at least one query term")
    require(topK.forall(_ > 0), s"topK must be positive: ${topK.get}")
    // MANIFEST-pruned posting read: the view's files are clustered by
    // __token with per-file stats, so only files whose token range
    // admits a query term are OPENED (proof: ScalePathSpec corrupts
    // every other posting file and this still serves) — at 100 TB the
    // difference between a few-file read and a full posting-table scan
    val postRaw = Snapshots.readPrunedRanges(spark, s"$viewRoot/post", "",
      queryTerms.map(t => (t, t)))
    // legacy-layout guard first: "rebuild the index" is the actionable
    // message for a pre-carried-dl view (which predates nullc too)
    requireCarriedDl(viewRoot, postRaw.columns.toSeq)
    requireNoNullTexts(spark, viewRoot)
    val post = postRaw
      .filter(col("__cnt") > 0)
      .filter(col("__token").isin(queryTerms: _*))
      .select(col("__token").as("token"), col("__doc"),
        col("__cnt").as("tf"),
        assertCarriedDl(viewRoot, col("sum___dl").cast("double") /
          col("__cnt").cast("double")).as("__dl"))
    val dfreq = post.groupBy("token").agg(count(lit(1L)).as("df"))
    val gstat = Snapshots.read(spark, s"$viewRoot/gstat")
      .filter(col("__cnt") > 0)
      .agg(sum(col("__cnt")).cast("double").as("__n"),
        (sum(col("sum___dl")).cast("double") /
          sum(col("__cnt"))).as("__avgdl"))
    val termScore =
      log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)) *
        ((col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl"))))
    val scored = post
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(gstat))
      .select(col("__doc"), col("token"), termScore.as("__ts"))
    val total = queryTerms
      .map(t => coalesce(max(when(col("token") === t, col("__ts"))), lit(0.0)))
      .reduce(_ + _)
    val full = scored.groupBy(col("__doc"))
      .agg(graft.functions.Exact.roundAt(total, 4).as("bm25"))
      .select(col("__doc").as(idCol), col("bm25"))
    topK.fold(full)(k =>
      full.orderBy(col("bm25").desc, col(idCol).asc).limit(k))
  }

  /** PROXIMITY search over the positional postings: docs where the
    * two terms co-occur within `window` token positions — the "terms
    * near each other" retrieval predicate phrase search is too strict
    * for. One hash join of the two terms' postings on the doc key
    * (manifest-pruned read, like [[phraseSearch]]); emits
    * `(idCol, n_pairs, min_dist)` — the number of qualifying
    * position pairs and the closest distance. Exact under inserts
    * and deletes like every serve here.
    *
    * The position join expands tf_A × tf_B pairs PER DOC before the
    * window filter — modest for natural text, quadratic for the
    * degenerate repetitive docs this pipeline exists to filter out.
    * `maxPairsPerDoc` is the hot-cell guard (the
    * [[graft.operators.Similarity]] discipline): one cheap
    * aggregation over the two terms' pruned postings measures the
    * worst doc first and fails NAMING it past the cap, instead of
    * letting one generated doc hot-spot a task; `<= 0` skips the
    * measuring pass. */
  def proximitySearch(spark: SparkSession, viewRoot: String,
                      termA: String, termB: String, window: Int,
                      idCol: String = "doc_id",
                      maxPairsPerDoc: Long = 4L * 1000 * 1000): DataFrame = {
    require(termA != termB,
      "proximitySearch needs two distinct terms (use phraseSearch or " +
        "the postings view directly for repeated-term patterns)")
    require(window >= 1, "window must be at least 1")
    val pos = Snapshots.readPrunedRanges(spark, s"$viewRoot/pos", "",
        Seq((termA, termA), (termB, termB)))
      .filter(col("__cnt") > 0)
      .filter(col("__token").isin(termA, termB))
    if (maxPairsPerDoc > 0) {
      val worst = pos.groupBy(col("__doc"))
        .agg((sum(when(col("__token") === termA, 1L)) *
          sum(when(col("__token") === termB, 1L))).as("__pairs"))
        .orderBy(col("__pairs").desc_nulls_last).limit(1).collect()
      worst.headOption.filter(!_.isNullAt(1)).foreach(r =>
        require(r.getLong(1) <= maxPairsPerDoc,
          s"proximitySearch doc ${r.get(0)} expands ${r.getLong(1)} " +
            s"position pairs for ('$termA','$termB') (cap $maxPairsPerDoc)" +
            " — a degenerate repetitive doc; filter it upstream (e.g. " +
            "Text.repetition gates) or raise/disable maxPairsPerDoc"))
    }
    def postings(t: String, as: String) = pos
      .filter(col("__token") === t)
      .select(col("__doc"), assertUniqueDoc(viewRoot, col("__pos")).as(as))
    postings(termA, "__pa").join(postings(termB, "__pb"), Seq("__doc"))
      .withColumn("__d", abs(col("__pa") - col("__pb")))
      .filter(col("__d") <= window)
      .groupBy(col("__doc"))
      .agg(count(lit(1L)).as("n_pairs"),
        min(col("__d")).cast("long").as("min_dist"))
      .select(col("__doc").as(idCol), col("n_pairs"), col("min_dist"))
  }

  /** N-TERM proximity over the positional postings: docs holding one
    * position PER TERM with ALL of them inside a `window`-token span
    * (`max(p) − min(p) ≤ window`) — the multi-keyword "near each
    * other" retrieval predicate [[proximitySearch]]'s two-term form
    * can't compose (three pairwise-close terms need not share one
    * window). The phrase-alignment machinery with slack: each term's
    * manifest-pruned postings hash-join on the doc key in sequence,
    * the span filter applies per joined tuple. Emits
    * `(idCol, n_tuples, min_span)` — qualifying position tuples and
    * the tightest span. Exact under inserts and deletes.
    *
    * The k-way join expands ∏ tfᵢ tuples per doc before the filter —
    * `maxTuplesPerDoc` is the same measuring-pass hot-doc guard as
    * the two-term form (one cheap aggregation over the pruned
    * postings fails NAMING the worst doc past the cap; `<= 0` skips
    * it). Two distinct terms reproduce proximitySearch exactly
    * (spec-asserted) modulo the column names. */
  def proximitySearchAll(spark: SparkSession, viewRoot: String,
                         terms: Seq[String], window: Int,
                         idCol: String = "doc_id",
                         maxTuplesPerDoc: Long = 4L * 1000 * 1000)
      : DataFrame = {
    require(terms.size >= 2,
      "proximitySearchAll needs at least two terms (one term is just " +
        "the postings view)")
    require(terms.distinct.size == terms.size,
      "proximitySearchAll needs distinct terms (use phraseSearch or " +
        "the postings view directly for repeated-term patterns)")
    require(window >= 1, "window must be at least 1")
    val pos = Snapshots.readPrunedRanges(spark, s"$viewRoot/pos", "",
        terms.map(t => (t, t)))
      .filter(col("__cnt") > 0)
      .filter(col("__token").isin(terms: _*))
    if (maxTuplesPerDoc > 0) {
      // the guard product is a BOUND, not an answer — compute it in
      // DOUBLE: a degenerate doc (5 terms × tf≈7k each) overflows a
      // LONG product past 2^63, which under ANSI mode throws a bare
      // ARITHMETIC_OVERFLOW with no doc name and under ANSI-off would
      // wrap negative and silently BYPASS the cap
      val worst = pos.groupBy(col("__doc"))
        .agg(terms.map(t => sum(when(col("__token") === t, 1L))
            .cast("double"))
          .reduce(_ * _).as("__tuples"))
        .orderBy(col("__tuples").desc_nulls_last).limit(1).collect()
      worst.headOption.filter(!_.isNullAt(1)).foreach(r =>
        require(r.getDouble(1) <= maxTuplesPerDoc.toDouble,
          s"proximitySearchAll doc ${r.get(0)} expands " +
            f"${r.getDouble(1)}%.0f " +
            s"position tuples for ${terms.mkString("('", "','", "')")} " +
            s"(cap $maxTuplesPerDoc) — a degenerate repetitive doc; " +
            "filter it upstream (e.g. Text.repetition gates) or raise/" +
            "disable maxTuplesPerDoc"))
    }
    val ps = terms.indices.map(i => col(s"__p$i"))
    val joined = terms.zipWithIndex.map { case (t, i) => pos
        .filter(col("__token") === t)
        .select(col("__doc"),
          assertUniqueDoc(viewRoot, col("__pos")).as(s"__p$i"))
      }.reduce(_.join(_, Seq("__doc")))
    joined
      .withColumn("__span", greatest(ps: _*) - least(ps: _*))
      .filter(col("__span") <= window)
      .groupBy(col("__doc"))
      .agg(count(lit(1L)).as("n_tuples"),
        min(col("__span")).cast("long").as("min_span"))
      .select(col("__doc").as(idCol), col("n_tuples"), col("min_span"))
  }

  /** How many distinct matching docs a retrieval-time context read
    * pushes as a MEMBERSHIP predicate before falling back to the
    * affected-key grid ranges. Doc ids carry no correlation with
    * vocabulary, so a mid-frequency term's occurrence docs scatter
    * uniformly across the id space and the grid's ≤[[MaxPruneRanges]]
    * merged ranges span nearly the whole doc-major view — a literal
    * id list instead prunes exactly the files that hold a matching
    * doc, whatever the scatter. 1024 point ranges is still a bounded
    * driver-side manifest filter and a pushed-down InSet scan
    * predicate.
    *
    * Past the cap the grid fallback is also the right 100 TB shape,
    * not just a safe one: once the matching-doc count approaches the
    * table's FILE count, uniformly-scattered ids land in nearly every
    * doc-clustered file (coupon-collector: with m ids over f files a
    * file is matchless with probability (1−1/f)^m ≈ e^(−m/f)), so no
    * manifest-level method can skip much and the read cost is
    * amortized by the genuinely large context output; the wasteful
    * regime — small useful output, full-table scan — is exactly the
    * metadata-sized one the membership branch now covers. */
  private val MembershipMaxDocs = 1024

  /** The doc-major (`posd`) context read for the KWIC-family serves,
    * pruned by doc MEMBERSHIP when the occurrence-doc set is
    * metadata-sized: one bounded collect (capped at
    * [[MembershipMaxDocs]] + 1 rows) of the distinct matching ids
    * from the already-pruned occurrence leg; within the cap the read
    * keeps only files whose `__doc` stats admit one of the LITERAL
    * ids (point ranges — id-scattered matches open ~one file per id)
    * and an `isin` residual pushes into the parquet scan; past the
    * cap the grid-range spec machinery takes over (wider, never
    * wrong). None = no matching docs at all (callers early-out
    * without any posd read). */
  private def readPosdForDocs(spark: SparkSession, viewRoot: String,
                              occDocs: DataFrame): Option[DataFrame] = {
    val ids = occDocs.select(col("__doc")).distinct()
      .limit(MembershipMaxDocs + 1).collect().map(_.get(0)).toSeq
    if (ids.isEmpty) return None
    Some(
      if (ids.size <= MembershipMaxDocs)
        Snapshots.readPrunedSpecs(spark, s"$viewRoot/posd",
            Seq("__doc" -> ids.map(id => (id, id))))
          .filter(col("__doc").isin(ids: _*))
      else {
        val (_, specs) = keySpecs(occDocs.select(col("__doc")), Seq("__doc"))
        readForSpecs(spark, s"$viewRoot/posd", None, specs)
      })
  }

  /** KEYWORD-IN-CONTEXT snippets from the positional postings alone —
    * proof the positional views are a complete inverted
    * representation: every occurrence of `term` comes back with the
    * ±`k` surrounding tokens REASSEMBLED from the views (no document
    * re-read). BOTH legs are manifest-pruned: the occurrence leg
    * opens only the term's files in the token-major `pos` view (like
    * [[phraseSearch]]), and the context leg opens only the files of
    * the DOC-major twin `posd` that hold a matching doc — by doc
    * MEMBERSHIP (literal id point ranges + a pushed-down isin) while
    * the occurrence-doc set is metadata-sized, by the affected-key
    * grid ranges past [[MembershipMaxDocs]] ([[readPosdForDocs]]) —
    * never a full scan of a corpus-sized positional view for one
    * keyword, even when the matching ids are scattered uniformly
    * across the id space (the case id ranges cannot prune). Cost is
    * Σ occurrences × doc-length over docs containing the term plus
    * the context files' I/O, the right bound for a retrieval-time
    * serve. Emits `(idCol, center_pos, snippet)`.
    *
    * Requires the `posd` twin ([[refreshPositionalIndex]] maintains
    * it since the doc-major layout landed); an older index backfills
    * it with one maintenance tick. */
  def kwic(spark: SparkSession, viewRoot: String, term: String,
           k: Int = 3, idCol: String = "doc_id"): DataFrame = {
    require(k >= 0, "k must be non-negative")
    require(Snapshots.latestVersion(spark, s"$viewRoot/posd").isDefined,
      s"$viewRoot/posd (the doc-major positional twin kwic's context " +
        "leg prunes by doc id) is missing — one refreshPositionalIndex/" +
        "refreshTextIndex(positional = true) tick backfills it from " +
        "the source")
    val occ = Snapshots.readPrunedRanges(spark, s"$viewRoot/pos", "",
        Seq((term, term)))
      .filter(col("__cnt") > 0)
      .filter(col("__token") === term)
      .select(col("__doc"),
        assertUniqueDoc(viewRoot, col("__pos")).as("__center"))
    // the occurrence set is re-scanned by the membership pass below
    // and by the final plan — each scan is the term's few pruned
    // files, the cheap trade against caching an unbounded occurrence
    // list
    val ctxRead = readPosdForDocs(spark, viewRoot, occ)
    if (ctxRead.isEmpty)
      // no occurrences: an empty, correctly-shaped frame — without
      // the spec fallback ever opening the full doc-major view
      return occ.limit(0).select(col("__doc").as(idCol),
        col("__center").cast("long").as("center_pos"),
        concat_ws(" ").as("snippet"))
    val ctx = ctxRead.get
      .filter(col("__cnt") > 0)
      .select(col("__doc"),
        assertUniqueDoc(viewRoot, col("__pos")).as("__pos"),
        col("__token"))
    occ.join(ctx, Seq("__doc"))
      .filter(col("__pos") >= col("__center") - k &&
        col("__pos") <= col("__center") + k)
      .groupBy(col("__doc"), col("__center"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__pos"), col("__token")))),
        x => x.getField("__token"))).as("snippet"))
      .select(col("__doc").as(idCol),
        col("__center").cast("long").as("center_pos"), col("snippet"))
  }

  /** KEYWORD-IN-CONTEXT for an EXACT PHRASE — [[kwic]] for multi-token
    * patterns: every phrase occurrence ([[phraseSearch]]'s
    * shift-and-equi-join alignment, keeping each start position)
    * comes back with the ±`k` tokens around the WHOLE phrase,
    * reassembled from the positional views. Same pruning as kwic:
    * occurrence legs open only the phrase terms' token-major files,
    * the context leg only the matching docs' doc-major files. Emits
    * `(idCol, start_pos, snippet)`, snippet spanning positions
    * `[start − k, start + |phrase| − 1 + k]` clipped at doc edges. */
  def kwicPhrase(spark: SparkSession, viewRoot: String,
                 phrase: Seq[String], k: Int = 3,
                 idCol: String = "doc_id"): DataFrame = {
    require(phrase.nonEmpty, "kwicPhrase needs at least one term")
    require(k >= 0, "k must be non-negative")
    require(Snapshots.latestVersion(spark, s"$viewRoot/posd").isDefined,
      s"$viewRoot/posd (the doc-major positional twin the context leg " +
        "prunes by doc id) is missing — one refreshPositionalIndex/" +
        "refreshTextIndex(positional = true) tick backfills it")
    val pos = Snapshots.readPrunedRanges(spark, s"$viewRoot/pos", "",
        phrase.distinct.map(t => (t, t)))
      .filter(col("__cnt") > 0)
    def aligned(i: Int): DataFrame = pos
      .filter(col("__token") === phrase(i))
      .select(col("__doc"),
        (assertUniqueDoc(viewRoot, col("__pos")) - i).as("__start"))
    val occ = phrase.indices.map(aligned)
      .reduce(_.join(_, Seq("__doc", "__start")))
    // membership probe by the RAREST phrase term: one cheap counting
    // pass over the already-pruned postings picks the term whose doc
    // set — a SUPERSET of the phrase matches, so pruning can only
    // widen — is smallest; a stopword-led phrase then probes by its
    // selective term, not the stopword. Past the membership cap the
    // fallback is the grid over the ALIGNED occurrence set (tight
    // ranges over actual matches, worth the one extra join
    // evaluation exactly when every phrase term is high-frequency).
    val termDocs = pos.filter(col("__token").isin(phrase.distinct: _*))
      .groupBy(col("__token"))
      .agg(countDistinct(col("__doc")).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def emptyResult() = occ.limit(0).select(col("__doc").as(idCol),
      col("__start").cast("long").as("start_pos"),
      concat_ws(" ").as("snippet"))
    // a phrase term absent from the live corpus: no match is possible
    if (phrase.distinct.exists(t => termDocs.getOrElse(t, 0L) == 0L))
      return emptyResult()
    val rarest = phrase.distinct.minBy(t => termDocs(t))
    val ctxRead =
      if (termDocs(rarest) <= MembershipMaxDocs)
        readPosdForDocs(spark, viewRoot,
          pos.filter(col("__token") === rarest).select(col("__doc")))
      else {
        val (nOcc, specs) = keySpecs(occ.select(col("__doc")), Seq("__doc"))
        if (nOcc == 0L) None
        else Some(readForSpecs(spark, s"$viewRoot/posd", None, specs))
      }
    if (ctxRead.isEmpty) return emptyResult()
    val ctx = ctxRead.get
      .filter(col("__cnt") > 0)
      .select(col("__doc"),
        assertUniqueDoc(viewRoot, col("__pos")).as("__pos"),
        col("__token"))
    occ.join(ctx, Seq("__doc"))
      .filter(col("__pos") >= col("__start") - k &&
        col("__pos") <= col("__start") + (phrase.length - 1) + k)
      .groupBy(col("__doc"), col("__start"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__pos"), col("__token")))),
        x => x.getField("__token"))).as("snippet"))
      .select(col("__doc").as(idCol),
        col("__start").cast("long").as("start_pos"), col("snippet"))
  }

  /** The SEARCH-RESULT PAGE from the stored views alone — the
    * end-to-end retrieval composition a user of the index actually
    * issues: [[readBm25]]'s top-`k` ranking plus one keyword-in-
    * context snippet per hit (centered on the doc's FIRST occurrence
    * of any query term — deterministic), at O(query) cost however
    * large the corpus. Every leg is pruned: scores from the query
    * terms' posting files + the 1-row cascade, the k winning ids
    * (bounded metadata) drive a manifest-pruned occurrence read of
    * the token-major postings and a doc-MEMBERSHIP-pruned context
    * read of the doc-major twin (literal id point ranges + a
    * pushed-down isin — scattered winners open ~one file each) — the
    * corpus is never scanned. Emits
    * `(idCol, rank, bm25, center_pos, snippet)`, rank 1..k by
    * (score desc, id asc). Requires a `positional = true` index
    * (posting + positional views under one root).
    *
    * `phrase = Some(p)` is the QUOTED-PHRASE query (the `"..."`
    * query-box shape): the page ranks only docs containing the exact
    * phrase — [[phraseSearch]]'s shift-aligned doc set (its own
    * pruned read of just the phrase terms' postings) semi-joins the
    * BM25 rank before the top-k heap, so the restriction is
    * distributed and the result stays a TakeOrdered plan; ranking
    * arithmetic, snippet choice, and output shape are unchanged.
    *
    * `spellIndex = Some(dir)` is "did you mean": each query term with
    * ZERO live postings (one pruned probe of just those terms'
    * posting files) is replaced by its top [[spellSuggest]]
    * suggestion before ranking, and the page carries a constant
    * `corrected_terms` audit column (`"orig->new"` per corrected
    * term, empty when nothing changed). The quoted phrase is never
    * corrected — quotes mean exactly this. Opt-in only: without it
    * the serve keeps its exact terms and output shape. */
  /** The "did you mean" term rewrite shared by [[search]] and
    * [[hybridSearch]]: each query term with ZERO live postings (one
    * pruned probe of just those terms' posting files) is replaced by
    * its top [[spellSuggest]] suggestion; returns the rewritten terms
    * plus the `"orig->new"` audit string (None when no spell index is
    * attached — the exact-terms serve keeps its exact output shape). */
  private def correctTerms(spark: SparkSession, viewRoot: String,
                           queryTerms: Seq[String],
                           spellIndex: Option[String])
      : (Seq[String], Option[String]) = spellIndex match {
    case None => (queryTerms, None)
    case Some(sd) =>
      val distinctQ = queryTerms.distinct
      val present = Snapshots.readPrunedRanges(spark,
          s"$viewRoot/post", "", distinctQ.map(t => (t, t)))
        .filter(col("__cnt") > 0)
        .filter(col("__token").isin(distinctQ: _*))
        .select(col("__token")).distinct()
        .collect().map(_.getString(0)).toSet
      val repl = distinctQ.filterNot(present).flatMap { t =>
        spellSuggest(spark, sd, t, topK = 1).collect().headOption
          .map(r => t -> r.getString(0)).filter { case (o, n) => o != n }
      }.toMap
      (queryTerms.map(t => repl.getOrElse(t, t)),
        Some(distinctQ.collect {
          case t if repl.contains(t) => s"$t->${repl(t)}"
        }.mkString(" ")))
  }

  def search(spark: SparkSession, viewRoot: String,
             queryTerms: Seq[String], k: Int, snippetK: Int = 3,
             idCol: String = "doc_id",
             k1: Double = 1.2, b: Double = 0.75,
             phrase: Option[Seq[String]] = None,
             spellIndex: Option[String] = None): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(snippetK >= 0, "snippetK must be non-negative")
    require(Snapshots.latestVersion(spark, s"$viewRoot/posd").isDefined,
      s"$viewRoot/posd is missing — search needs a positional = true " +
        "index (snippets come from the doc-major positional twin)")
    // the serve runs interpreted ([[TickBudget]]) when the views it
    // reads fit the budget; the page it returns then belongs to that
    // session too, so the caller's action on it compiles nothing
    val bound = (Seq("post", "pos", "posd", "gstat", "nullc")
        .map(v => s"$viewRoot/$v") ++ spellIndex)
      .map(Snapshots.cachedLatestRows(spark, _))
      .foldLeft(Option(0L))((a, b) => for (x <- a; y <- b) yield x + y)
    TickBudget(spark, bound) { spark =>
    // "did you mean": with a spell index attached, any query term
    // with ZERO live postings (one pruned probe of just those terms'
    // posting files — the term either opens its file or it doesn't)
    // is replaced by its top suggestion before ranking, and the page
    // carries the `corrected_terms` audit. Opt-in: the plain serve
    // keeps its exact terms and its exact output shape. The quoted
    // phrase, when present, is deliberately NOT corrected — quotes
    // mean "exactly this".
    val (terms, audit) = correctTerms(spark, viewRoot, queryTerms,
      spellIndex)
    def withAudit(df: DataFrame): DataFrame =
      audit.fold(df)(a => df.withColumn("corrected_terms", lit(a)))
    val top = phrase match {
      case None => readBm25(spark, viewRoot, terms, idCol, k1, b,
        topK = Some(k))
      case Some(p) =>
        val containing = phraseSearch(spark, viewRoot, p, idCol)
          .select(col(idCol))
        readBm25(spark, viewRoot, terms, idCol, k1, b)
          .join(containing, Seq(idCol), "left_semi")
          .orderBy(col("bm25").desc, col(idCol).asc).limit(k)
    }
    // the result page is bounded by k — collecting it is metadata,
    // and the literal ids are what let BOTH snippet legs prune
    val hits = top.collect()
    val idType = top.schema(idCol).dataType
    if (hits.isEmpty)
      withAudit(top.limit(0).select(col(idCol), lit(0L).as("rank"),
        col("bm25"), lit(0L).as("center_pos"), concat_ws(" ").as("snippet")))
    else {
    val scores = spark.createDataFrame(
      java.util.Arrays.asList(hits.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(r.get(0), (i + 1).toLong, r.getDouble(1))
      }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__doc", idType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bm25",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val ids = hits.map(_.get(0))
    val occ = Snapshots.readPrunedRanges(spark, s"$viewRoot/pos", "",
        terms.map(t => (t, t)))
      .filter(col("__cnt") > 0)
      .filter(col("__token").isin(terms: _*) &&
        col("__doc").isin(ids: _*))
      .groupBy(col("__doc"))
      .agg(min(assertUniqueDoc(viewRoot, col("__pos"))).as("__center"))
    // the k winner ids are already driver literals: point-range
    // manifest prune + pushed-down isin, no grid pass needed — files
    // between two scattered winners are never opened
    val ctx = Snapshots.readPrunedSpecs(spark, s"$viewRoot/posd",
        Seq("__doc" -> ids.map(id => (id, id)).toSeq))
      .filter(col("__cnt") > 0)
      .filter(col("__doc").isin(ids: _*))
      .select(col("__doc"),
        assertUniqueDoc(viewRoot, col("__pos")).as("__pos"), col("__token"))
    val snip = occ.join(ctx, Seq("__doc"))
      .filter(col("__pos") >= col("__center") - snippetK &&
        col("__pos") <= col("__center") + snippetK)
      .groupBy(col("__doc"), col("__center"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__pos"), col("__token")))),
        x => x.getField("__token"))).as("snippet"))
    withAudit(broadcast(scores).join(snip, Seq("__doc"))
      .select(col("__doc").as(idCol), col("rank"), col("bm25"),
        col("__center").cast("long").as("center_pos"), col("snippet")))
    }
    }
  }

  /** HYBRID retrieval: one query, two maintained indexes, one fused
    * page. The text leg is [[readBm25]]'s top-`kEach` over the
    * maintained posting view (pruned to the query terms' files); the
    * vector leg is [[graft.operators.Similarity.ivfTopKIndexed]]'s
    * top-`kEach` over the stored IVF index (reads its nProbe cell
    * directories only); the two rankings merge by reciprocal-rank
    * fusion ([[graft.operators.Relational.rrfFuse]]) — rank-based, so
    * BM25 scores and cosines need no calibration against each other.
    * The caller's contract is one id space: the IVF index's vector
    * ids ARE the text index's doc ids.
    *
    * Emits the top-`k` as `(idCol, rrf, n_legs, bm25_rank, bm25,
    * cos_rank, cosine)` by (rrf desc, id asc); a doc missing from a
    * leg carries rank 0 / score 0.0 there (never a NULL — n_legs
    * tells one-leg hits apart). O(query) end to end: both legs are
    * pruned index serves, both are k-bounded before the fusion union,
    * and the fused heap is a TakeOrdered.
    *
    * `spellIndex = Some(dir)` is "did you mean" for the TEXT leg
    * (same rewrite as [[search]]): a misspelled term would otherwise
    * silently starve the text leg and degrade the fused page to
    * vector-only — corrected terms rank instead and the page carries
    * the same constant `corrected_terms` audit column. The vector
    * leg is untouched (embeddings don't misspell). Opt-in only.
    *
    * `pqIndex = Some(dir)` swaps the vector leg to the stored IVF-PQ
    * index's codes-only ADC serve
    * ([[graft.operators.Similarity.pqTopKIndexed]] — the scan opens
    * nProbe code directories and reads m small ints per row, never a
    * float vector; `ivfPath` is ignored). RRF is rank-based, so the
    * ADC leg needs no score calibration against BM25 — only the
    * page's vector-leg SCORE column changes meaning: `adist` (ADC
    * distance, smaller = closer) replaces `cosine`. Fill semantics
    * for a doc only one leg surfaced differ by metric: the cosine
    * leg's absent score fills 0.0 (a neutral similarity), but an
    * absent ADC DISTANCE stays NULL — 0.0 would read as a PERFECT
    * vector match, the opposite of "no vector signal". */
  def hybridSearch(spark: SparkSession, viewRoot: String,
                   ivfPath: String, queryTerms: Seq[String],
                   queryVec: Array[Float], k: Int, kEach: Int = 20,
                   rrfK: Int = 60, nProbe: Int = 4,
                   idCol: String = "doc_id",
                   k1: Double = 1.2, b: Double = 0.75,
                   spellIndex: Option[String] = None,
                   pqIndex: Option[String] = None): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(kEach >= k,
      s"kEach ($kEach) must be >= k ($k) — a leg shorter than the page " +
        "would silently starve the fusion")
    val (terms, audit) = correctTerms(spark, viewRoot, queryTerms,
      spellIndex)
    // both legs are k-bounded serve outputs: collecting them is
    // metadata, and literal-frame ranks sidestep a partition-less
    // row_number window (the `search` discipline)
    val textHits = readBm25(spark, viewRoot, terms, idCol, k1, b,
      topK = Some(kEach)).collect()
    val idType = Snapshots.read(spark, s"$viewRoot/dlen")
      .schema("__doc").dataType
    val textLeg = spark.createDataFrame(
      java.util.Arrays.asList(textHits.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(r.get(0), (i + 1).toLong, r.getDouble(1))
      }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, idType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bm25",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    import spark.implicits._
    // excludeSelf=false: the internal query id is synthetic, so a
    // corpus vector that happens to share it must NOT be suppressed
    val qdf = Seq((-1L, queryVec.toSeq)).toDF("__qid", "__qv")
    // either serve emits (id, rank, score) with rank 1..kEach; only
    // the score column's name/meaning differs (cosine vs ADC dist)
    val (vecLeg, scoreCol) = pqIndex match {
      case Some(pq) =>
        (graft.operators.Similarity.pqTopKIndexed(spark, qdf,
            "__qid", "__qv", k = kEach, path = pq, nProbe = nProbe,
            excludeSelf = false)
          .select(col("neighbor_id").as(idCol), col("rnk").as("rank"),
            col("adist")), "adist")
      case None =>
        (graft.operators.Similarity.ivfTopKIndexed(spark, qdf,
            "__qid", "__qv", k = kEach, path = ivfPath, nProbe = nProbe,
            excludeSelf = false)
          .select(col("neighbor_id").as(idCol), col("rnk").as("rank"),
            col("cosine")), "cosine")
    }
    val fused = graft.operators.Relational.rrfFuse(
      Seq(textLeg.select(col(idCol), col("rank")),
        vecLeg.select(col(idCol), col("rank"))), idCol, k, rrfK)
    val page = fused
      .join(textLeg.select(col(idCol), col("rank").as("__tr"),
        col("bm25")), Seq(idCol), "left")
      .join(vecLeg.select(col(idCol), col("rank").as("__cr"),
        col(scoreCol)), Seq(idCol), "left")
      .select(col(idCol), col("rrf"), col("n_legs"),
        coalesce(col("__tr"), lit(0L)).as("bm25_rank"),
        coalesce(col("bm25"), lit(0.0)).as("bm25"),
        coalesce(col("__cr"), lit(0L)).as("cos_rank"),
        // distance metrics must NOT fill 0.0 — that's a perfect match,
        // the opposite of "this doc never surfaced on the vector leg"
        (if (scoreCol == "adist") col(scoreCol)
         else coalesce(col(scoreCol), lit(0.0))).as(scoreCol))
      .orderBy(col("rrf").desc, col(idCol).asc)
    audit.fold(page)(a => page.withColumn("corrected_terms", lit(a)))
  }

  /** Per-row guard folded into the position expression (free in the
    * scan, never prunable): positional serves require UNIQUE live doc
    * ids — a (token, doc, pos) multiplicity above 1 means the same
    * doc id was committed twice with identical text, and weighting
    * hits by tf-products would silently mean something else, so fail
    * naming the condition instead (BM25/TF-IDF, which honor `__cnt`
    * as term frequency, are unaffected). */
  private def assertUniqueDoc(viewRoot: String, c: Column): Column =
    when(assert_true(col("__cnt") <= 1L,
      lit(s"positional view under $viewRoot holds a (token, doc, pos) " +
        "row with multiplicity > 1 — the same doc id is live twice " +
        "with identical text; positional serves (phrase/proximity/" +
        "KWIC) require unique live doc ids — dedup the corpus before " +
        "indexing")).isNull, c)

  /** Per-row guard on the carried doc length (free in the scan): a
    * unique live doc's posting row carries `sum___dl = tf·dl`, exactly
    * divisible by `tf` — an indivisible row proves the same doc id is
    * live twice with DIFFERENT texts, where the quotient would
    * silently serve a tf-weighted BLEND of the two lengths (the batch
    * operator emits separate per-row scores there, so parity breaks).
    * Best-effort: duplicate texts whose blend happens to divide evenly
    * pass undetected — the documented duplicate-id limitation
    * ([[assertUniqueDoc]] is the exact guard, on positional serves);
    * identical-text duplicates fold to a single row with doubled tf
    * and the RIGHT length, which BM25 scores as defined. */
  private def assertCarriedDl(viewRoot: String, dl: Column): Column =
    when(assert_true(col("sum___dl") % col("__cnt") === 0L,
      lit(s"posting view under $viewRoot holds a (token, doc) row " +
        "whose carried length sum is not divisible by its term " +
        "frequency — the same doc id is live twice with DIFFERENT " +
        "texts, and the blended doc length would silently diverge " +
        "from the batch operator; keep one live text per doc id " +
        "(dedup or delete+recommit) before score serves")).isNull, dl)

  /** TF-IDF served from the SAME maintained index views
    * [[refreshTextIndex]] keeps current — no extra maintenance work
    * at all: term frequencies are the posting multiplicities,
    * document frequency is a count over postings, the live doc count
    * comes from the 1-row cascade. Same arithmetic as the batch
    * [[graft.operators.Corpus.tfIdf]] (spec-asserted equal across
    * churn; driver-oracled as `q_tfidf_view_incr`). */
  def readTfIdf(spark: SparkSession, viewRoot: String,
                idCol: String = "doc_id"): DataFrame = {
    // legacy-layout check FIRST (readBm25's guard ordering): a
    // pre-carried-dl index predates the nullc counter too, and the
    // counter guard's "one tick backfills it" remedy would itself be
    // refused by requireNoLegacyPost — the rebuild instruction is the
    // actionable message
    requireNoLegacyPost(spark, viewRoot)
    requireNoNullTexts(spark, viewRoot)
    val post = Snapshots.read(spark, s"$viewRoot/post")
      .filter(col("__cnt") > 0)
      .select(col("__token").as("token"), col("__doc"),
        col("__cnt").as("tf"))
    val dfreq = post.groupBy("token").agg(count(lit(1L)).as("doc_freq"))
    val n = Snapshots.read(spark, s"$viewRoot/gstat")
      .filter(col("__cnt") > 0)
      .agg(sum(col("__cnt")).as("n_docs"))
    post.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(col("__doc").as(idCol), col("token"), col("tf"),
        col("doc_freq"),
        graft.functions.Exact.roundAt(
          col("tf") * log(col("n_docs").cast("double") / col("doc_freq")),
          4).as("tfidf"))
  }

  /** INCREMENTALLY-MAINTAINED CO-OCCURRENCE + PMI — the GloVe
    * co-occurrence matrix / word2vec statistics table kept current as
    * the corpus churns, instead of recomputed from scratch per run
    * (batch twin: [[graft.operators.Corpus.cooccurrence]]). Pure
    * Z-set sums, the best maintenance case: pair and unigram counts
    * fold exactly under inserts AND deletes with zero rescans ever.
    * Four views under `viewRoot`, all O(churn) per tick:
    *
    *  - `pairs`: ordered token pairs (t[i], t[i+d]), 1 ≤ d ≤
    *    `window`, as an agg view keyed (a, b) — multiplicity `__cnt`
    *    IS the corpus-wide pair count; clustered by `a`, so
    *    per-token serves are manifest-pruned file reads;
    *  - `uni`: unigram counts keyed (token);
    *  - `ptot` / `ttot`: cascaded 1-row totals (Σ pairs, Σ tokens)
    *    over the pairs/uni views' OWN change feeds — the PMI
    *    denominators never rescan even the views.
    *
    * The pair lens is the batch operator's exact projection (one
    * flatten(transform(zip_with)) per distance, NO positional
    * self-join), so maintained counts == batch counts by
    * construction; NULL texts explode to zero rows on BOTH sides, so
    * parity holds even with nulls. `window` is pinned per view root
    * (a `_param_window` marker): a tick with a different window would
    * silently mix pair distances, so it fails loudly instead. */
  def refreshCooccurrence(spark: SparkSession, srcDir: String,
                          viewRoot: String, textCol: String,
                          window: Int = 2): Unit = {
    import graft.functions.Text
    require(window >= 1, "window must be at least 1")
    requireSameParam(spark, viewRoot, "window", window.toString)
    val pairLens: DataFrame => DataFrame = df => df
      .withColumn("__t", Text.tokens(col(textCol)))
      .select(col("__change"), explode(flatten(
        transform(sequence(lit(1), lit(window)), d =>
          zip_with(
            slice(col("__t"), lit(1), greatest(size(col("__t")) - d, lit(0))),
            slice(col("__t"), d + lit(1),
              greatest(size(col("__t")) - d, lit(0))),
            (x, y) => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("__change"), col("p.a").as("a"), col("p.b").as("b"))
    val uniLens: DataFrame => DataFrame = df => df
      .select(col("__change"),
        explode(Text.tokens(col(textCol))).as("token"))
    def totalCascade(src: String, dst: String): Unit =
      refreshAgg(spark, src, dst, Seq(GlobalKey), Seq("__w"), sumScale = 0,
        transform = Some(df => df.withColumn(GlobalKey, lit(0L))
          .withColumn("__w", col("__cnt"))))
    parallelChains(spark, Seq(
      () => {
        refreshAgg(spark, srcDir, s"$viewRoot/pairs", Seq("a", "b"), Nil,
          transform = Some(pairLens))
        totalCascade(s"$viewRoot/pairs", s"$viewRoot/ptot")
      },
      () => {
        refreshAgg(spark, srcDir, s"$viewRoot/uni", Seq("token"), Nil,
          transform = Some(uniLens))
        totalCascade(s"$viewRoot/uni", s"$viewRoot/ttot")
      }))
  }

  /** The PMI table served from the maintained views — same output
    * schema, arithmetic, and rounding as the batch
    * [[graft.operators.Corpus.cooccurrence]] over the current corpus
    * (spec-asserted double-for-double across churn). `minCount`
    * applies at SERVE time (the maintained counts are exact, so any
    * threshold can be asked after the fact — the batch operator bakes
    * it in). `tokenA = Some(t)` serves just that head token's rows
    * from its manifest-pruned pair files — the per-token lookup a
    * collocation UI issues, O(one token's pairs) however large the
    * corpus. `topK = Some(k)` keeps only the k STRONGEST collocations
    * by PMI (ties by (a, b) ascending), executed as a per-partition
    * heap + driver merge of k ([[readBm25]]'s TakeOrdered
    * discipline), never a full sort — the collocation-UI shape
    * composes with `tokenA` for "token t's k best neighbors". */
  /** The maintained pair view's live `(a, b, cnt)` rows alone —
    * [[readCooccurrence]] without the PMI normalization splices, for
    * consumers that need only the raw graph weights (e.g. serving
    * `Corpus.textRank` from the live graph with zero corpus rescans
    * AND zero 1-row total broadcasts in the plan). */
  def readCooccurrencePairs(spark: SparkSession, viewRoot: String,
                            minCount: Long = 1,
                            tokenA: Option[String] = None): DataFrame = {
    val pairsAll = tokenA match {
      case Some(t) => Snapshots.readPrunedRanges(
          spark, s"$viewRoot/pairs", "", Seq((t, t)))
        .filter(col("a") === t)
      case None => Snapshots.read(spark, s"$viewRoot/pairs")
    }
    pairsAll.filter(col("__cnt") > 0)
      .select(col("a"), col("b"), col("__cnt").as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  def readCooccurrence(spark: SparkSession, viewRoot: String,
                       minCount: Long = 1,
                       tokenA: Option[String] = None,
                       topK: Option[Int] = None): DataFrame = {
    require(topK.forall(_ > 0), s"topK must be positive: ${topK.get}")
    val cnt = readCooccurrencePairs(spark, viewRoot, minCount, tokenA)
    val uni = Snapshots.read(spark, s"$viewRoot/uni")
      .filter(col("__cnt") > 0)
      .select(col("token"), col("__cnt").as("freq"))
    def total(name: String, as: String) =
      Snapshots.read(spark, s"$viewRoot/$name")
        .filter(col("__cnt") > 0)
        .agg(sum(col("sum___w")).cast("double").as(as))
    val pmi = log((col("cnt").cast("double") / col("__np")) /
      ((col("fa").cast("double") / col("__nt")) *
        (col("fb").cast("double") / col("__nt"))))
    val full = cnt
      .join(uni.select(col("token").as("a"), col("freq").as("fa")), "a")
      .join(uni.select(col("token").as("b"), col("freq").as("fb")), "b")
      .crossJoin(broadcast(total("ptot", "__np")))
      .crossJoin(broadcast(total("ttot", "__nt")))
      .select(col("a"), col("b"), col("cnt"),
        graft.functions.Exact.roundAt(pmi, 4).as("pmi"))
    topK.fold(full)(k =>
      full.orderBy(col("pmi").desc, col("a").asc, col("b").asc).limit(k))
  }

  /** INCREMENTALLY-MAINTAINED BIGRAM LANGUAGE MODEL — the CCNet-style
    * perplexity quality filter whose MODEL stays current as the
    * reference corpus churns, instead of retrained from scratch:
    * bigram counts keyed (prev, cur) as a Z-set agg view (the batch
    * [[graft.operators.Corpus.bigramLogProb]] zip lens), context
    * totals c(prev·) as a CASCADED view over the bigram view's own
    * change feed, unigram counts, and a cascaded 1-row token total —
    * all pure sums (exact under inserts AND deletes, zero rescans,
    * O(churn) per tick). [[scoreBigramLm]] then scores ANY candidate
    * batch against the stored model. */
  def refreshBigramLm(spark: SparkSession, srcDir: String,
                      viewRoot: String, textCol: String): Unit = {
    import graft.functions.Text
    val bgLens: DataFrame => DataFrame = df => df
      .withColumn("__t", Text.tokens(col(textCol)))
      .select(col("__change"), explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as("p"))
      .select(col("__change"), col("p.prev").as("prev"),
        col("p.cur").as("cur"))
    val uniLens: DataFrame => DataFrame = df => df
      .select(col("__change"),
        explode(Text.tokens(col(textCol))).as("token"))
    parallelChains(spark, Seq(
      () => {
        refreshAgg(spark, srcDir, s"$viewRoot/bg", Seq("prev", "cur"), Nil,
          transform = Some(bgLens))
        refreshAgg(spark, s"$viewRoot/bg", s"$viewRoot/ctx", Seq("prev"),
          Seq("__w"), sumScale = 0,
          transform = Some(df => df.withColumn("__w", col("__cnt"))))
      },
      () => {
        refreshAgg(spark, srcDir, s"$viewRoot/uni", Seq("token"), Nil,
          transform = Some(uniLens))
        refreshAgg(spark, s"$viewRoot/uni", s"$viewRoot/ttot", Seq(GlobalKey),
          Seq("__w"), sumScale = 0, transform = Some(df =>
            df.withColumn(GlobalKey, lit(0L))
              .withColumn("__w", col("__cnt"))))
      }))
  }

  /** Score a CANDIDATE batch against the maintained LM — the filter
    * step of the CCNet workflow (model on the clean reference corpus,
    * incoming documents scored against it): per doc, the interpolated
    * bigram mean NLL `(idCol, n_bigrams, nll)` with EXACTLY the batch
    * operator's arithmetic — scoring the model corpus itself
    * reproduces [[graft.operators.Corpus.bigramLogProb]]
    * double-for-double (spec-asserted; every candidate bigram is then
    * in-model, so no smoothing branch engages).
    *
    * Out-of-model mass (a NEW doc's unseen bigram/context/token)
    * scores deterministically: an unseen context contributes 0 to the
    * interpolation's bigram leg, an unseen token 0 to the unigram
    * leg, and the mixture is floored at HALF an unigram count —
    * `(1−λ)·0.5/total` — so a fully-OOV transition is "rarer than
    * anything seen" but finite, never log(0).
    *
    * Scale: the bigram view is corpus-scale and joins by shuffle on
    * (prev, cur) with NO pinned broadcast (AQE decides, the batch
    * operator's discipline); ALL THREE model reads are manifest-pruned
    * to the candidate batch's token ranges — bg by (prev, cur)
    * conjunctively, ctx by prev, uni by cur — so a small batch over a
    * narrow vocabulary opens a slice of the model, never all of it,
    * and a zero-bigram batch returns empty without opening any model
    * file. The candidate frame is scanned twice (once for the prune
    * bounds, once in the scoring plan) — persist it upstream if it is
    * expensive to produce. Docs with fewer than two tokens have no
    * transitions and are absent from the output, like the batch
    * operator. */
  def scoreBigramLm(spark: SparkSession, viewRoot: String,
                    docs: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.9): DataFrame = {
    import graft.functions.Text
    require(lambda > 0 && lambda < 1, s"lambda must be in (0, 1): $lambda")
    val pairs = docs
      .withColumn("__t", Text.tokens(col(textCol)))
      .select(col(idCol), explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as("p"))
      .select(col(idCol), col("p.prev").as("prev"), col("p.cur").as("cur"))
    val bf = pairs.groupBy(idCol, "prev", "cur").agg(count(lit(1L)).as("bf"))
    // ONE combined bounds pass over the candidate bigrams gives both
    // key projections: prev prunes bg (head stats) and ctx, cur prunes
    // bg conjunctively (its recorded second-key stats) and — renamed —
    // the unigram view, so the model read is fully O(batch vocabulary)
    val (nPairs, specs) = keySpecs(
      pairs.select(col("prev"), col("cur")), Seq("prev", "cur"))
    if (nPairs == 0L)
      // zero candidate bigrams (empty batch, or every doc < 2 tokens):
      // the correctly-shaped empty frame, WITHOUT the no-spec fallback
      // full-scanning the corpus-scale model views (kwic's discipline)
      return pairs.limit(0).select(col(idCol), lit(0L).as("n_bigrams"),
        lit(0.0).as("nll"))
    val bg = readForSpecs(spark, s"$viewRoot/bg", None, specs)
      .filter(col("__cnt") > 0)
      .select(col("prev"), col("cur"), col("__cnt").as("bcount"))
    val ctx = readForSpecs(spark, s"$viewRoot/ctx", None,
        specs.filter(_._1 == "prev"))
      .filter(col("__cnt") > 0)
      .select(col("prev"), col("sum___w").as("ctx"))
    val uni = readForSpecs(spark, s"$viewRoot/uni", None,
        specs.collect { case ("cur", rs) => ("token", rs) })
      .filter(col("__cnt") > 0)
      .select(col("token"), col("__cnt").as("freq"))
    val total = Snapshots.read(spark, s"$viewRoot/ttot")
      .filter(col("__cnt") > 0)
      .agg(sum(col("sum___w")).cast("double").as("total"))
    // the in-model value is the batch formula verbatim; the when/
    // coalesce wrappers only route the out-of-model cases
    val p = greatest(
      lit(lambda) * when(col("ctx").isNotNull,
        coalesce(col("bcount"), lit(0L)).cast("double") /
          col("ctx").cast("double")).otherwise(lit(0.0)) +
        lit(1.0 - lambda) *
          (coalesce(col("freq"), lit(0L)).cast("double") / col("total")),
      lit(0.5 * (1.0 - lambda)) / col("total"))
    val term = col("bf").cast("double") * log(p)
    bf.join(bg, Seq("prev", "cur"), "left_outer")
      .join(ctx, Seq("prev"), "left_outer")
      .join(uni, col("cur") === col("token"), "left_outer")
      .crossJoin(broadcast(total))
      .groupBy(idCol)
      .agg(graft.functions.Exact.sumExact(term, 9).as("__s"),
        sum(col("bf")).as("n_bigrams"))
      .select(col(idCol), col("n_bigrams"),
        graft.functions.Exact.roundAt(
          -col("__s") / col("n_bigrams").cast("double"), 4).as("nll"))
  }

  /** INCREMENTALLY-MAINTAINED WORD-FREQUENCY TABLE — the distinct-word
    * frequency table the BPE trainer
    * ([[graft.operators.Corpus.bpeTrain]]) reads its one corpus pass
    * into, kept current as the corpus churns instead: word counts are
    * pure Z-set sums (exact under inserts AND deletes, zero rescans,
    * O(churn) per tick — the vocabulary views' proven case), so
    * RETRAINING the tokenizer after churn
    * ([[bpeTrainFromView]]) costs O(numMerges × vocab) on the CURRENT
    * table with no corpus re-read at all — at 100 TB the difference
    * between "retrain nightly" and "rescan the corpus nightly". One
    * agg view keyed `__word` whose `__cnt` IS the frequency; the same
    * tokenizer lens as the trainer, so view-trained merges equal
    * from-scratch merges by construction. */
  /** INCREMENTALLY-MAINTAINED span-duplication profile — the
    * ExactSubstr-at-k measurement ([[graft.operators.Corpus.spanDedup]])
    * kept current over the corpus's change feed instead of re-hashed
    * per ask. Three agg views under one root:
    * `spand` (__doc, __span) — per-doc span-hash counts, doc-clustered;
    * `spanc` (__span) — global occurrence counts;
    * `docs`  (__doc) — liveness, so zero-span docs keep their profile
    * row exactly like the batch operator's left join.
    * Every view is a pure Z-set count, so inserts AND deletes fold at
    * O(churned docs × their spans) per tick, zero corpus rescans —
    * and the serve never touches text at all. `k` is pinned per root
    * (mixing window sizes would corrupt the counts silently). */
  def refreshSpanProfile(spark: SparkSession, srcDir: String,
                         viewRoot: String, idCol: String, textCol: String,
                         k: Int = 10): Unit = {
    import graft.functions.Text
    require(k >= 2 && k <= 256, s"k must be in [2, 256]: $k")
    requireSameParam(spark, viewRoot, "span_k", k.toString)
    // materialize the token array before the n-gram lambda: a
    // non-attribute capture re-inlines the split per element (the
    // spark-guide O(n²) trap spanDedup also dodges)
    def spanLens(df: DataFrame): DataFrame = df
      .withColumn("__s", Text.tokens(col(textCol)))
      .select(col("__change"), col(idCol).as("__doc"),
        explode(Text.ngramsFromTokens(col("__s"), k)).as("__g"))
      .select(col("__change"), col("__doc"), xxhash64(col("__g")).as("__span"))
    parallelChains(spark, Seq(
      () => refreshAgg(spark, srcDir, s"$viewRoot/spand",
        Seq("__doc", "__span"), Nil, transform = Some(spanLens)),
      () => refreshAgg(spark, srcDir, s"$viewRoot/spanc",
        Seq("__span"), Nil, transform = Some(spanLens)),
      () => refreshAgg(spark, srcDir, s"$viewRoot/docs",
        Seq("__doc"), Nil, transform = Some(df =>
          df.select(col("__change"), col(idCol).as("__doc"))))))
  }

  /** FEED-DRIVEN SPAN EXCISION at ingest: clean a NEW batch against
    * the maintained span profile as the keep-first authority
    * ([[graft.operators.Corpus.spanExciseAgainst]] over the `spanc`
    * view's live span hashes) — a span the corpus already holds wins
    * every tie, spans new to the corpus resolve keep-first within the
    * batch by (doc, pos). The ingest loop is: excise the batch, then
    * commit its RAW rows and [[refreshSpanProfile]] so the next batch
    * sees them (the profile must stay the RAW corpus's — excised text
    * would stop vetoing its own duplicates). When batches arrive in
    * (doc, pos) order, folding each batch's output equals one batch
    * [[graft.operators.Corpus.spanExcise]] over the final corpus —
    * the oracle's claim. O(batch + one spanc join) per tick, zero
    * corpus-text rescans. The returned frame is PINNED to the
    * profile's current version (snapshot file lists resolve now), so
    * executing it after the post-commit refresh stays correct. */
  /** The maintained profile's LIVE span hashes, with the span_k pin
    * enforced — the corpus-so-far authority both ingest-time span
    * reads share. */
  private def liveSpanHashes(spark: SparkSession, viewRoot: String,
                             k: Int): DataFrame =
    readParam(spark, viewRoot, "span_k") match {
      case Some(pinned) =>
        require(pinned == k.toString,
          s"$viewRoot was built with span_k = $pinned but this ingest " +
            s"passes k = $k — the ingest check and profile must share " +
            "the window")
        Snapshots.read(spark, s"$viewRoot/spanc")
          .filter(col("__cnt") > 0)
          .select(col("__span").as("span_h"))
      case None =>
        // first batch: no profile yet, the corpus holds no spans
        spark.range(0).select(col("id").as("span_h"))
    }

  def spanExciseIngest(spark: SparkSession, batch: DataFrame,
                       viewRoot: String, idCol: String, textCol: String,
                       k: Int = 10): DataFrame =
    graft.operators.Corpus.spanExciseAgainst(batch, idCol, textCol,
      liveSpanHashes(spark, viewRoot, k), k)

  /** INGEST-TIME NOVELTY against the maintained span profile: score a
    * candidate shard's per-doc fraction of never-seen k-token spans
    * ([[graft.operators.Corpus.spanNoveltyAgainst]]) with the LIVE
    * profile hashes as the corpus-so-far authority — O(batch spans) +
    * one hash join per call, zero corpus text I/O, correct through
    * appends AND deletes (a span alive only in deleted docs reads as
    * novel again). Read-only: unlike [[spanExciseIngest]] this never
    * rewrites the shard — it is the measure-first gate a pipeline
    * consults BEFORE deciding to ingest, excise, or drop. */
  def spanNoveltyIngest(spark: SparkSession, batch: DataFrame,
                        viewRoot: String, idCol: String,
                        textCol: String, k: Int = 10): DataFrame =
    graft.operators.Corpus.spanNoveltyAgainst(batch, idCol, textCol,
      liveSpanHashes(spark, viewRoot, k), k)

  /** The maintained profile, same shape and arithmetic as the batch
    * [[graft.operators.Corpus.spanDedup]]: `(idCol, n_spans,
    * dup_spans, dup_ratio)` for every LIVE doc (zero-span docs
    * included via the liveness view). One hash join of the two span
    * views — O(live spans), zero text I/O, however the corpus
    * churned. */
  def readSpanProfile(spark: SparkSession, viewRoot: String,
                      idCol: String = "doc_id"): DataFrame = {
    val sd = Snapshots.read(spark, s"$viewRoot/spand")
      .filter(col("__cnt") > 0)
      .select(col("__doc"), col("__span"), col("__cnt"))
    val sc = Snapshots.read(spark, s"$viewRoot/spanc")
      .filter(col("__cnt") > 0)
      .select(col("__span"), col("__cnt").as("__occ"))
    val perDoc = sd.join(sc, "__span")
      .groupBy(col("__doc"))
      .agg(sum(col("__cnt")).as("n_spans"),
        sum(when(col("__occ") > 1, col("__cnt")).otherwise(0L))
          .as("dup_spans"))
    Snapshots.read(spark, s"$viewRoot/docs")
      .filter(col("__cnt") > 0).select(col("__doc"))
      .join(perDoc, Seq("__doc"), "left")
      .select(col("__doc").as(idCol),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).cast("long").as("dup_spans"))
      .withColumn("dup_ratio", when(col("n_spans") === 0, lit(0.0))
        .otherwise(graft.functions.Exact.roundAt(
          col("dup_spans").cast("double") / col("n_spans").cast("double"),
          4)))
  }

  /** INCREMENTALLY-MAINTAINED benchmark-contamination ledger — the
    * decontamination check ([[graft.operators.Corpus.contamination]])
    * kept current over the corpus change feed: per live doc, the
    * count of DISTINCT n-grams it shares with a FROZEN benchmark
    * table. Two agg views under one root: `hits` (__doc) — shared
    * distinct-gram counts (the lens explodes the doc's distinct gram
    * hashes and broadcast-joins the benchmark gram set, so only
    * matching grams ever reach the view), and `docs` (__doc) —
    * liveness, so clean docs keep their `shared_ngrams = 0` row like
    * the batch operator's left join. O(churned docs × their grams)
    * per tick, zero corpus rescans.
    *
    * The benchmark is pinned three ways (`contam_n`, `contam_bench`,
    * `contam_bench_version`): a benchmark table that moved under the
    * view would silently mix gram sets, so a later commit to
    * `benchDir` makes every subsequent tick fail loudly — rebuild
    * under a new root (or re-commit the bench under a new dir) when
    * the eval suite changes. */
  def refreshContamination(spark: SparkSession, srcDir: String,
                           viewRoot: String, idCol: String,
                           textCol: String, benchDir: String,
                           n: Int = 3): Unit = {
    import graft.functions.Text
    require(n >= 1 && n <= 64, s"n must be in [1, 64]: $n")
    requireSameParam(spark, viewRoot, "contam_n", n.toString)
    requireSameParam(spark, viewRoot, "contam_bench", benchDir)
    val bv = Snapshots.latestVersion(spark, benchDir).getOrElse(
      sys.error(s"$benchDir holds no benchmark table — commit it first"))
    requireSameParam(spark, viewRoot, "contam_bench_version", bv.toString)
    val benchGrams = Snapshots.read(spark, benchDir)
      .withColumn("__s", Text.tokens(col(textCol)))
      .select(explode(array_distinct(
        Text.ngramsFromTokens(col("__s"), n))).as("__g"))
      .select(xxhash64(col("__g")).as("__gh")).distinct()
    def lens(df: DataFrame): DataFrame = df
      .withColumn("__s", Text.tokens(col(textCol)))
      .select(col("__change"), col(idCol).as("__doc"),
        explode(array_distinct(
          Text.ngramsFromTokens(col("__s"), n))).as("__g"))
      .select(col("__change"), col("__doc"), xxhash64(col("__g")).as("__gh"))
      .join(broadcast(benchGrams), "__gh")
      .select(col("__change"), col("__doc"))
    parallelChains(spark, Seq(
      () => refreshAgg(spark, srcDir, s"$viewRoot/hits",
        Seq("__doc"), Nil, transform = Some(lens)),
      () => refreshAgg(spark, srcDir, s"$viewRoot/docs",
        Seq("__doc"), Nil, transform = Some(df =>
          df.select(col("__change"), col(idCol).as("__doc"))))))
  }

  /** The maintained ledger, same shape and arithmetic as the batch
    * [[graft.operators.Corpus.contamination]]: `(idCol,
    * shared_ngrams, contaminated)` for every LIVE corpus doc, clean
    * docs included. Zero text I/O at serve time. */
  def readContamination(spark: SparkSession, viewRoot: String,
                        idCol: String = "doc_id"): DataFrame =
    Snapshots.read(spark, s"$viewRoot/docs")
      .filter(col("__cnt") > 0).select(col("__doc"))
      .join(Snapshots.read(spark, s"$viewRoot/hits")
        .filter(col("__cnt") > 0)
        .select(col("__doc"), col("__cnt").as("__sh")), Seq("__doc"), "left")
      .select(col("__doc").as(idCol),
        coalesce(col("__sh"), lit(0L)).cast("long").as("shared_ngrams"))
      .withColumn("contaminated", col("shared_ngrams") > 0)

  /** INCREMENTALLY-MAINTAINED SEMANTIC-CONTAMINATION ledger — the
    * paraphrase-variant decontamination check
    * ([[graft.operators.Similarity.semanticContamination]]) kept
    * current over the corpus change feed instead of re-scanned per
    * ask: one Z-set agg view of the τ-close `(corpus_id,
    * benchmark_id, cell_id, cosine)` PAIRS. The lens assigns each
    * churned doc against centroids sampled DETERMINISTICALLY from the
    * frozen benchmark (the batch operator's id-ordered sample — the
    * benchmark is pinned by dir + VERSION exactly like
    * [[refreshContamination]], so the centroids never move under the
    * view) and broadcast-joins the benchmark's in-cell embeddings;
    * each pair row derives from exactly ONE corpus row, so inserts
    * and deletes fold exactly and the view equals the batch check
    * over the final live corpus under the same frozen benchmark.
    * O(churned docs × their cells' benchmark members) per tick, zero
    * corpus rescans, zero embedding I/O at serve.
    *
    * Scale: the benchmark is the BOUNDED side by definition — its
    * assignment broadcasts (never shuffles the feed) and a benchmark
    * cell above `maxBenchCell` fails fast by name before the tick
    * (real benchmark suites cluster hard; the remedy is more cells,
    * exactly the batch guard's wording). */
  def refreshSemanticContamination(spark: SparkSession, srcDir: String,
                                   viewRoot: String, idCol: String,
                                   vecCol: String, benchDir: String,
                                   nCells: Int, threshold: Double,
                                   cosScale: Int = 4,
                                   maxBenchCell: Long = 100000L): Unit = {
    import graft.operators.Similarity
    import graft.functions.Vectors
    require(nCells >= 1, s"nCells must be positive: $nCells")
    require(threshold > 0 && threshold <= 1,
      s"threshold must sit in (0, 1]: $threshold")
    require(cosScale >= 0 && cosScale <= 9,
      s"cosScale must be in [0, 9]: $cosScale")
    requireSameParam(spark, viewRoot, "semcontam_ncells", nCells.toString)
    requireSameParam(spark, viewRoot, "semcontam_threshold",
      threshold.toString)
    requireSameParam(spark, viewRoot, "semcontam_cos_scale",
      cosScale.toString)
    requireSameParam(spark, viewRoot, "semcontam_bench", benchDir)
    val bv = Snapshots.latestVersion(spark, benchDir).getOrElse(
      sys.error(s"$benchDir holds no benchmark table — commit it first"))
    requireSameParam(spark, viewRoot, "semcontam_bench_version", bv.toString)
    val bench = Snapshots.read(spark, benchDir)
    val cents = Similarity.sampleCentroids(bench, idCol, vecCol, nCells)
    val ba = bench
      .select(col(idCol).cast("long").as("benchmark_id"),
        col(vecCol).as("__bv"))
      .filter(col("__bv").isNotNull)
      .withColumn("__cell", Similarity.bestCell(cents, col("__bv")))
    if (maxBenchCell > 0) {
      val hot = ba.groupBy(col("__cell")).agg(count(lit(1L)).as("__c"))
        .orderBy(col("__c").desc, col("__cell")).limit(1).collect()
      hot.headOption.foreach { r =>
        require(r.getLong(1) <= maxBenchCell,
          s"semantic contamination pairs every churned doc with every " +
            s"benchmark doc in its cell — benchmark cell ${r.getLong(0)} " +
            s"holds ${r.getLong(1)} docs (> maxBenchCell=$maxBenchCell). " +
            s"Raise nCells toward sqrt(|benchmark|) (got $nCells), or " +
            "raise maxBenchCell deliberately.")
      }
    }
    def lens(df: DataFrame): DataFrame = df
      .select(col("__change"), col(idCol).cast("long").as("corpus_id"),
        col(vecCol).as("__cv"))
      .filter(col("__cv").isNotNull)
      .withColumn("__cell", Similarity.bestCell(cents, col("__cv")))
      .join(broadcast(ba), Seq("__cell"))
      .withColumn("__cos", Vectors.cosine(col("__cv"), col("__bv")))
      .filter(col("__cos") >= threshold)
      .select(col("__change"), col("corpus_id"), col("benchmark_id"),
        col("__cell").as("cell_id"),
        graft.functions.Exact.roundAt(col("__cos"), cosScale).as("cosine"))
    refreshAgg(spark, srcDir, s"$viewRoot/pairs",
      Seq("corpus_id", "benchmark_id", "cell_id", "cosine"), Nil,
      transform = Some(lens))
    ()
  }

  /** The maintained ledger, same rows and arithmetic as the batch
    * [[graft.operators.Similarity.semanticContamination]] over the
    * live corpus: `(corpus_id, benchmark_id, cell_id, cosine)` per
    * τ-close pair. Zero embedding I/O at serve time. */
  def readSemanticContamination(spark: SparkSession,
                                viewRoot: String): DataFrame =
    Snapshots.read(spark, s"$viewRoot/pairs")
      .filter(col("__cnt") > 0)
      .select(col("corpus_id"), col("benchmark_id"), col("cell_id"),
        col("cosine"))

  /** INCREMENTALLY-MAINTAINED VALUE HISTOGRAM → exact percentiles
    * without rescans — the metrics-dashboard view (the reference's
    * latency monitor regime): one agg view keyed by the value
    * rounded at `scale` decimals and carried as a SCALED LONG, so
    * counts fold exactly under inserts AND deletes and the stored
    * state is O(distinct rounded values) — domain-bounded however
    * many rows ever flowed. NULL values are skipped (the SQL
    * percentile convention). `scale` is pinned per view dir: mixing
    * roundings would silently merge adjacent buckets. `groupCols`
    * (also pinned) makes the histogram PER-GROUP — the latency-monitor
    * regime of percentiles per (metric, station) — at
    * O(Σ_g distinct rounded values) state. Pair with [[readQuantiles]]
    * (global) / [[readQuantilesBy]] (grouped) for exact order
    * statistics at any p. */
  def refreshValueHistogram(spark: SparkSession, srcDir: String,
                            viewDir: String, valueCol: String,
                            scale: Int = 2,
                            groupCols: Seq[String] = Nil): Unit = {
    require(scale >= 0 && scale <= 6, s"scale must be in [0, 6]: $scale")
    require(!groupCols.contains("__v"),
      "__v is the histogram's own bucket column — rename the group key")
    requireSameParam(spark, viewDir, "hist_scale", scale.toString)
    // bracketed so the no-groups case pins a NON-empty marker (an
    // empty marker reads as a crash artifact, not a recorded value)
    requireSameParam(spark, viewDir, "hist_groups",
      s"[${groupCols.mkString(",")}]")
    val f = math.pow(10, scale)
    refreshAgg(spark, srcDir, viewDir, groupCols :+ "__v", Nil,
      transform = Some(df => df
        .filter(col(valueCol).isNotNull)
        .select(col("__change") +: groupCols.map(col) :+
          floor(col(valueCol).cast("double") * f + 0.5).cast("long")
            .as("__v"): _*)))
    ()
  }

  /** EXACT percentiles from the maintained histogram: for each p the
    * LOWER order statistic at rank max(1, ceil(p·n)) over the live
    * rounded values — the same convention the sketch-quantile oracles
    * pin, reproducible by any engine. One cumulative walk over the
    * view's distinct values; the single-partition window is
    * deliberate and GUARDED (`maxDistinct`, default 1M) — the view is
    * domain-bounded by construction, and a domain that outgrows the
    * cap fails loudly naming the remedy rather than hot-spotting one
    * task. Emits `(p, value, n)` per requested percentile. */
  def readQuantiles(spark: SparkSession, viewDir: String,
                    ps: Seq[Double],
                    maxDistinct: Long = 1000000L): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"percentiles must sit in (0, 1]: $ps")
    val scale = readParam(spark, viewDir, "hist_scale").getOrElse(
      throw new IllegalArgumentException(
        s"$viewDir has no _param_hist_scale marker — build it with " +
          "refreshValueHistogram first")).toInt
    val rows = Snapshots.read(spark, viewDir)
      .filter(col("__cnt") > 0)
      .select(col("__v"), col("__cnt"))
    if (maxDistinct > 0) {
      val distinct = rows.agg(count(lit(1L))).head().getLong(0)
      require(distinct <= maxDistinct,
        s"$viewDir holds $distinct distinct rounded values (> " +
          s"maxDistinct=$maxDistinct) — the cumulative walk would " +
          "single-task that many rows; coarsen the histogram scale " +
          "or raise the cap deliberately")
    }
    // n is a one-row aggregate — bounded driver metadata, same class
    // as the distinct-count guard above. Collecting it lets every
    // rank threshold become a LITERAL, so the serve is one window +
    // one aggregate over the domain-bounded frame: no join of any
    // kind (the crossJoin-of-broadcast-constants shape plans as
    // BroadcastNestedLoopJoin and is banned by PlanGuardSpec).
    val nRow = rows.agg(sum(col("__cnt"))).head()
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    import spark.implicits._
    if (n == 0L) return Seq.empty[(Double, Double, Long)]
      .toDF("p", "value", "n")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = rows.withColumn("__cum", sum(col("__cnt")).over(w))
    val thresholds = ps.map(p => math.max(1L, math.ceil(p * n).toLong))
    val aggs = thresholds.zipWithIndex.map { case (t, i) =>
      min(when(col("__cum") >= t, col("__v"))).as(s"__q_$i") }
    cum.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(ps.zipWithIndex.map { case (p, i) =>
        struct(lit(p).as("p"), col(s"__q_$i").as("__qv")) }: _*)).as("__e"))
      .select(col("__e.p").as("p"),
        (col("__e.__qv").cast("double") / math.pow(10, scale)).as("value"),
        lit(n).as("n"))
  }

  /** PER-GROUP exact percentiles from a GROUPED maintained histogram
    * ([[refreshValueHistogram]] with `groupCols`) — the reference's
    * latency-monitor regime (percentiles per (metric, station))
    * without rescans. Same rank convention as [[readQuantiles]]
    * (lower order statistic at max(1, ceil(p·n_g)) within each
    * group), but the cumulative walk is PARTITIONED by the group
    * keys — no single-partition hotspot however many groups, and the
    * per-group total rides the same window pass so no driver collect
    * and no join of any kind. Each histogram row fans out to the
    * |ps| requested percentiles (a literal-array explode), then one
    * partial-aggregated groupBy picks each group's thresholds. Emits
    * `(groupCols*, p, value, n)`. */
  def readQuantilesBy(spark: SparkSession, viewDir: String,
                      groupCols: Seq[String], ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"percentiles must sit in (0, 1]: $ps")
    require(groupCols.nonEmpty,
      "readQuantilesBy needs group keys — use readQuantiles for the " +
        "global percentiles")
    val scale = readParam(spark, viewDir, "hist_scale").getOrElse(
      throw new IllegalArgumentException(
        s"$viewDir has no _param_hist_scale marker — build it with " +
          "refreshValueHistogram first")).toInt
    val pinned = readParam(spark, viewDir, "hist_groups")
    require(pinned.contains(s"[${groupCols.mkString(",")}]"),
      s"$viewDir was built with hist_groups = " +
        s"${pinned.getOrElse("<missing>")} but this read asks for " +
        s"[${groupCols.mkString(",")}] — grouped quantiles must walk " +
        "the exact keys the histogram folds on")
    val rows = Snapshots.read(spark, viewDir)
      .filter(col("__cnt") > 0)
      .select((groupCols.map(col) :+ col("__v")) :+ col("__cnt"): _*)
    val gCols = groupCols.map(col)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(gCols: _*).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(gCols: _*)
    rows
      .withColumn("__cum", sum(col("__cnt")).over(wCum))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
      .withColumn("p", explode(array(ps.map(lit(_)): _*)))
      .filter(col("__cum") >=
        greatest(lit(1L), ceil(col("p") * col("__n")).cast("long")))
      .groupBy(gCols :+ col("p") :+ col("__n"): _*)
      .agg(min(col("__v")).as("__qv"))
      .select(gCols :+ col("p") :+
        (col("__qv").cast("double") / math.pow(10, scale)).as("value") :+
        col("__n").cast("long").as("n"): _*)
  }

  def refreshWordFreq(spark: SparkSession, srcDir: String,
                      viewDir: String, textCol: String): Unit = {
    import graft.functions.Text
    refreshAgg(spark, srcDir, viewDir, Seq("__word"), Nil,
      transform = Some(df => df
        .select(col("__change"),
          explode(Text.tokens(col(textCol))).as("__word"))
        .filter(length(col("__word")) > 0)))
    ()
  }

  /** The ≤1-character deletion neighborhood of a string column —
    * SymSpell's key set, as a codegen HOF (no UDF): one key per
    * dropped position. Empty strings get an empty array (Spark
    * `sequence(0, -1)` counts BACKWARDS — the guard the guide
    * warns about). */
  private def delKeys(s: Column): Column =
    when(length(s) >= 1,
      transform(sequence(lit(0), length(s) - 1), i =>
        concat(s.substr(lit(1), i), s.substr(i + lit(2), length(s)))))
      .otherwise(array().cast("array<string>"))

  /** The query-side deletion neighborhood, driver-side (bounded:
    * 1 + len + len·(len−1)/2 keys for depth 2). Deletes CODE POINTS,
    * not UTF-16 units — Spark's `substr` (and therefore [[delKeys]]'s
    * index-side keys) is code-point indexed, and a unit-indexed query
    * neighborhood would produce lone-surrogate keys that match
    * nothing for words containing supplementary characters. */
  private def delNeighborhood(word: String, depth: Int): Seq[String] = {
    def dels(s: String): Seq[String] = {
      val cps = s.codePoints().toArray
      cps.indices.map(i =>
        new String(cps.take(i) ++ cps.drop(i + 1), 0, cps.length - 1))
    }
    val d1 = Set(word) ++ (if (depth >= 1) dels(word) else Nil)
    (if (depth >= 2) d1 ++ d1.flatMap(dels) else d1).toSeq
  }

  /** INCREMENTALLY-MAINTAINED SPELL-CORRECTION INDEX — query
    * normalization for the search surface (misspelled query term →
    * live vocabulary candidates), kept current as the corpus churns:
    * a SymSpell deletion-key index (Garbe) CASCADED over the
    * word-frequency view's own change feed — the gstat-over-dlen
    * pattern: one agg view keyed `(__key, __word)` where `__key`
    * ranges over the word's deletion neighborhood up to `maxEdits`
    * (depth pinned per index root via `_param_max_edits`), and the
    * word's CURRENT corpus frequency rides ON the index rows as the
    * Z-set sum `sum___freq` ([[readBm25]]'s carried-length trick):
    * a count change in the word-freq view diffs as delete(old) +
    * insert(new), so the freq sum folds to the current value and the
    * row multiplicity stays 1 while the word is live — serves read
    * the index ALONE, no vocabulary join. O(churned words × len²)
    * per tick, zero corpus or vocabulary rescans ever. */
  def refreshSpellIndex(spark: SparkSession, wordFreqDir: String,
                        indexDir: String, maxEdits: Int = 1): Unit = {
    require(maxEdits >= 0 && maxEdits <= 2,
      s"maxEdits must be 0, 1, or 2: $maxEdits (depth-2 deletion " +
        "neighborhoods already cover the practical typo range; deeper " +
        "explodes the key space)")
    requireSameParam(spark, indexDir, "max_edits", maxEdits.toString)
    val lens: DataFrame => DataFrame = df => {
      val w = col("__word")
      val k0 = array(w)
      val k1 = if (maxEdits >= 1) concat(k0, delKeys(w)) else k0
      val k2 =
        if (maxEdits >= 2)
          concat(k1, flatten(transform(delKeys(w), s1 => delKeys(s1))))
        else k1
      df.select(col("__change"), explode(array_distinct(k2)).as("__key"),
        w, col("__cnt").cast("long").as("__freq"))
    }
    refreshAgg(spark, wordFreqDir, indexDir, Seq("__key", "__word"),
      Seq("__freq"), sumScale = 0, transform = Some(lens))
    ()
  }

  /** Compact a key list into at most `maxRanges` sorted disjoint
    * `[lo, hi]` ranges for manifest pruning: runs split at the
    * `maxRanges − 1` boundaries where consecutive sorted keys share
    * the SHORTEST common prefix — the widest lexical gaps a string
    * proxy can see — so the merged ranges hug the keys that share
    * structure and the admitted between-key slack stays small.
    * Purely a pruning aid (a range can only ADMIT extra files);
    * callers keep their exact `isin` residual on the scan. */
  private[graft] def compactKeyRanges(keys: Seq[String],
                                      maxRanges: Int)
      : Seq[(String, String)] = {
    require(maxRanges >= 1, s"maxRanges must be positive: $maxRanges")
    val ks = keys.distinct.sorted
    if (ks.size <= maxRanges) return ks.map(k => (k, k))
    def cpl(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a(i) == b(i)) i += 1
      i
    }
    val splits = (1 until ks.size)
      .map(i => (cpl(ks(i - 1), ks(i)), i))
      .sorted.take(maxRanges - 1).map(_._2).sorted
    val cuts = (0 +: splits.toList) :+ ks.size
    cuts.zip(cuts.tail).map { case (lo, hi) => (ks(lo), ks(hi - 1)) }
  }

  /** Spelling suggestions from the maintained index ALONE: live
    * vocabulary words within `maxEdits` Levenshtein edits of `word`,
    * ranked by corpus frequency (ties by word), top-`k` as a
    * TakeOrdered heap. O(query) at any corpus size: the query's own
    * deletion neighborhood (driver metadata, ≤ ~2k keys) prunes the
    * key-clustered index to the files that can hold a matching key
    * (≤64 prefix-compacted ranges via [[compactKeyRanges]] + a
    * pushed-down isin — the doc-membership discipline with the
    * manifest OR kept shallow), candidate words carry their CURRENT
    * frequency on
    * the matched rows (no vocabulary join), and the exact
    * `levenshtein` post-filter restores precision over SymSpell's
    * complete-but-loose deletion-intersection candidates (the
    * deletion join can only over-generate, never miss, for depth ≥
    * the true distance — Garbe's completeness argument).
    * `maxEdits` defaults to the index's pinned depth; a smaller
    * value serves stricter suggestions from the same index (probing
    * a DEEPER distance than the index stores would silently miss
    * candidates, so that fails loudly instead). Emits
    * `(word, freq, dist)`. */
  def spellSuggest(spark: SparkSession, indexDir: String, word: String,
                   topK: Int = 10,
                   maxEdits: Option[Int] = None): DataFrame = {
    require(word.nonEmpty && word.length <= 64,
      s"word must be 1..64 chars: '$word'")
    require(topK > 0, s"topK must be positive: $topK")
    val pinned = readParam(spark, indexDir, "max_edits").getOrElse(
      throw new IllegalArgumentException(
        s"$indexDir has no _param_max_edits marker — build the index " +
          "with refreshSpellIndex first")).toInt
    val me = maxEdits.getOrElse(pinned)
    require(me <= pinned,
      s"$indexDir stores deletion keys to depth $pinned but this serve " +
        s"asks maxEdits = $me — candidates beyond the stored depth " +
        "would be silently missed; rebuild the index deeper or lower " +
        "maxEdits")
    val qKeys = delNeighborhood(word, me)
    // a 64-char word at depth 2 has ~2k deletion keys — as point
    // ranges that is a 2k-branch OR evaluated per manifest row; the
    // sorted keys share long prefixes (they're all subsequences of
    // one word), so merging runs at the shortest-common-prefix
    // boundaries compacts them into ≤64 tight ranges with little
    // admitted slack, and the exact isin residual below keeps the
    // row-level answer identical
    Snapshots.readPrunedRanges(spark, indexDir, "",
        compactKeyRanges(qKeys, 64))
      .filter(col("__cnt") > 0)
      .filter(col("__key").isin(qKeys: _*))
      .groupBy(col("__word"))
      .agg(max(col("sum___freq")).cast("long").as("freq"))
      .withColumn("dist",
        levenshtein(lit(word), col("__word")).cast("long"))
      .filter(col("dist") <= me)
      .select(col("__word").as("word"), col("freq"), col("dist"))
      .orderBy(col("freq").desc, col("word").asc).limit(topK)
  }

  /** AUTOCOMPLETE from the maintained word-frequency view: live
    * vocabulary words starting with `prefix`, ranked by corpus
    * frequency (ties by word), top-`k` as a TakeOrdered heap.
    * O(query) at any corpus size: the word-clustered view is
    * manifest-pruned to `[prefix, successor(prefix))` — the SUCCESSOR
    * string (last non-max unit incremented, skipping the surrogate
    * block) bounds every prefix-extension from above in both UTF-16
    * and UTF-8 binary order, where a `prefix + U+FFFF` bound would
    * silently prune supplementary-plane completions — before the
    * startswith residual; the query-box completion the
    * [[spellSuggest]] index doesn't cover (a prefix is 0..many
    * trailing edits, not ≤2 anywhere). */
  def prefixSuggest(spark: SparkSession, wordFreqDir: String,
                    prefix: String, topK: Int = 10): DataFrame = {
    require(prefix.nonEmpty && prefix.length <= 64,
      s"prefix must be 1..64 chars: '$prefix'")
    require(topK > 0, s"topK must be positive: $topK")
    // upper prune bound: the prefix's SUCCESSOR string (last non-max,
    // non-surrogate unit incremented), which every prefix-extension
    // sorts strictly below in BOTH UTF-16 and UTF-8 binary order \u2014
    // `prefix + U+FFFF` would silently prune files holding
    // supplementary-plane extensions (their UTF-8 lead byte F0 sorts
    // ABOVE U+FFFF's EF BF BF); a prefix with no safe successor
    // (all U+FFFF / trailing surrogate) falls back to the full read
    val succ: Option[String] = {
      val cs = prefix.toCharArray
      var i = cs.length - 1
      while (i >= 0 && cs(i) == '\uffff') i -= 1
      if (i < 0 || Character.isSurrogate(cs(i))) None
      else {
        // incrementing U+D7FF lands on the LONE surrogate U+D800,
        // which Java UTF-8-encodes as '?' (0x3F) — a bound sorting
        // BELOW the prefix that would prune every file and return
        // empty completions; skip to U+E000, the next real scalar
        // (still > every extension: first differing byte ED vs EE)
        val next = cs(i) + 1
        val nc =
          if (next >= 0xD800 && next <= 0xDFFF) '\ue000' else next.toChar
        Some(new String(cs, 0, i) + nc)
      }
    }
    succ.fold(Snapshots.read(spark, wordFreqDir))(hi =>
        Snapshots.readPrunedRanges(spark, wordFreqDir, "",
          Seq((prefix, hi))))
      .filter(col("__cnt") > 0)
      .filter(col("__word").startsWith(prefix))
      .select(col("__word").as("word"), col("__cnt").as("freq"))
      .orderBy(col("freq").desc, col("word").asc).limit(topK)
  }

  /** Train the BPE merge list from the MAINTAINED word-frequency view
    * — [[graft.operators.Corpus.bpeTrain]] minus its corpus pass: the
    * live (`__cnt > 0`) words feed the same deterministic merge loop,
    * so the learned merges equal a from-scratch train over the
    * current corpus (spec-asserted across append + delete churn).
    * Bounded driver metadata out (the merge list), O(numMerges ×
    * vocab) distributed work, zero corpus I/O. */
  def bpeTrainFromView(spark: SparkSession, viewDir: String,
                       numMerges: Int): Seq[(Int, String, String)] =
    graft.operators.Corpus.bpeTrainFromFreq(
      Snapshots.read(spark, viewDir).filter(col("__cnt") > 0)
        .select(col("__word"), col("__cnt").as("__freq")),
      "__word", "__freq", numMerges)

  /** INCREMENTALLY-MAINTAINED EMBEDDING MOMENTS — the (n, Σvᵢ,
    * Σvᵢ·vⱼ) second-moment state PCA/covariance/whitening is built
    * from ([[graft.operators.Similarity.pca]]'s one-pass ExactGram,
    * as a VIEW): kept current over an embedding table's change feed
    * as an agg view keyed `(i, j)` — first moments at `j = -1`,
    * products for i ≤ j — whose per-cell exact-decimal sums fold
    * inserts AND deletes with zero rescans (pure sums, O(churn·d²)
    * lens rows per tick, map-side combined so the shuffle is
    * O(partitions·d²) whatever the churn). Row validity is EXACTLY
    * the batch aggregate's contract (null / wrong-length /
    * non-finite / |x| > 10⁴ rows skipped whole), and each element is
    * `scale`-decimal rounded by the same CAST semantics — so the
    * stored cells equal ExactGram's bit-for-bit and
    * [[pcaFromMoments]] reproduces the batch PCA projection exactly
    * (spec-asserted across churn). `dim`/`scale` are pinned per view
    * dir. */
  def refreshEmbeddingMoments(spark: SparkSession, srcDir: String,
                              viewDir: String, vecCol: String, dim: Int,
                              scale: Int = 9): Unit = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1, 512]: $dim")
    require(scale >= 0 && scale <= 9, s"scale must be in [0, 9]: $scale")
    requireSameParam(spark, viewDir, "dim", dim.toString)
    requireSameParam(spark, viewDir, "moment_scale", scale.toString)
    val lens: DataFrame => DataFrame = df => {
      val clean = df
        .withColumn("__a", transform(col(vecCol), x => x.cast("double")))
        .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim &&
          !exists(col("__a"), x => x.isNull || isnan(x) || abs(x) > 1e4))
      val firsts = transform(sequence(lit(0), lit(dim - 1)), i =>
        struct(i.cast("int").as("__i"), lit(-1).as("__j"),
          element_at(col("__a"), i + 1).as("__m")))
      val prods = flatten(transform(sequence(lit(0), lit(dim - 1)), i =>
        transform(sequence(i, lit(dim - 1)), j =>
          struct(i.cast("int").as("__i"), j.cast("int").as("__j"),
            (element_at(col("__a"), i + 1) *
              element_at(col("__a"), j + 1)).as("__m")))))
      clean
        .select(col("__change"), explode(concat(firsts, prods)).as("__e"))
        .select(col("__change"), col("__e.__i").as("__i"),
          col("__e.__j").as("__j"), col("__e.__m").as("__m"))
    }
    refreshAgg(spark, srcDir, viewDir, Seq("__i", "__j"), Seq("__m"),
      sumScale = scale, transform = Some(lens))
    ()
  }

  /** PCA projection from the MAINTAINED moments — the continuously-
    * current twin of [[graft.operators.Similarity.pca]]: the d×d
    * moment cells are bounded driver metadata (one collect of
    * d·(d+3)/2 rows however large the corpus), the eigenproblem runs
    * the same deterministic Jacobi, and the top-`k` axes project
    * `df` shuffle-free — output EXACTLY the batch operator's
    * (`BigDecimal.doubleValue` is the same 128-bit → double rounding
    * ExactGram's eval applies). The corpus is never rescanned: churn
    * folds into the view, serves read d² rows. */
  def pcaFromMoments(spark: SparkSession, viewDir: String, df: DataFrame,
                     idCol: String, vecCol: String, dim: Int,
                     k: Int): DataFrame = {
    require(k >= 1 && k <= dim, "need 1 <= k <= dim")
    // validate against the refresh-pinned dimension: a mismatch would
    // index past the moment arrays (or silently zero-pad the
    // covariance), never a useful error
    readParam(spark, viewDir, "dim").foreach(p => require(p == dim.toString,
      s"$viewDir was built with dim = $p but this serve passes " +
        s"dim = $dim — use the pinned dimension"))
    val rows = Snapshots.read(spark, viewDir)
      .filter(col("__cnt") > 0)
      .select(col("__i"), col("__j"), col("sum___m"), col("__cnt"))
      .collect()
    require(rows.nonEmpty,
      s"$viewDir holds no moments — run refreshEmbeddingMoments first")
    val n = rows.head.getLong(3)
    require(rows.forall(_.getLong(3) == n),
      s"$viewDir moment cells disagree on the row count — the view is " +
        "mid-maintenance or was built with a different dim")
    require(n > 1, s"pca needs >= 2 valid rows, got $n")
    val sums = new Array[Double](dim)
    val gram = Array.ofDim[Double](dim, dim)
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val v = r.getDecimal(2).doubleValue()
      if (j < 0) sums(i) = v
      else { gram(i)(j) = v; gram(j)(i) = v }
    }
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      (gram(i)(j) - sums(i) * sums(j) / n) / (n - 1)
    }
    val (_, axes) = graft.operators.Similarity.jacobiEigen(cov)
    val mean = sums.map(_ / n)
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val comps = (0 until k).map { a =>
      val axis = axes(a)
      val meanProj = axis.indices.map(r => mean(r) * axis(r)).sum
      graft.functions.Vectors.dotD(vecD, array(axis.map(lit(_)): _*)) -
        lit(meanProj)
    }
    df.select(col(idCol), array(comps: _*).as("pc"))
  }

  /** Pin a per-view-root build parameter: first call records `value`
    * in a `_param_<name>` marker, later calls must match — silently
    * mixing e.g. co-occurrence windows in one view would corrupt the
    * counts without any structural signal. */
  private[graft] def requireSameParam(spark: SparkSession, viewRoot: String,
                                      name: String, value: String): Unit =
    readParam(spark, viewRoot, name) match {
      case Some(prev) =>
        require(prev == value,
          s"$viewRoot was built with $name = $prev but this tick passes " +
            s"$name = $value — the views would silently mix semantics; " +
            "use the original value or rebuild under a new root")
      case None =>
        val f = fs(spark, viewRoot)
        f.mkdirs(new Path(viewRoot))
        // temp-write + EXCLUSIVE placement: a crash can never leave a
        // half-written marker (and an empty one reads as absent, so a
        // pre-atomic crash artifact self-heals instead of wedging every
        // later tick on a phantom "built with <name> = " mismatch); two
        // racing first ticks resolve by the loser re-reading the
        // winner's value — same value proceeds, different fails with
        // the mismatch message, never a raw FileAlreadyExistsException
        val tmp = new Path(viewRoot, s"._param_$name.tmp" +
          java.util.UUID.randomUUID().toString.take(8))
        val out = f.create(tmp, true)
        try out.write(value.getBytes("UTF-8")) finally out.close()
        val dst = new Path(viewRoot, s"_param_$name")
        // HDFS rename refuses an existing destination, but POSIX
        // rename(2) (RawLocalFileSystem) silently REPLACES it — two
        // racing first ticks with DIFFERENT values would both see
        // success and the mismatch guard would never fire. On file://
        // placement is an atomic hard LINK (create-exclusive: exactly
        // one racer's link lands, the loser reads the winner's value
        // below); other schemes keep the refuse-if-exists rename.
        def place(): Boolean = {
          val scheme = f.getUri.getScheme
          if (scheme == null || scheme == "file") {
            // makeQualified: a relative viewRoot must resolve against
            // the Hadoop FS working directory, not the JVM CWD
            try {
              java.nio.file.Files.createLink(
                java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath),
                java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath))
              f.delete(tmp, false)
              true
            } catch {
              case _: java.nio.file.FileAlreadyExistsException => false
              // overlay/network mounts may refuse hard links outright —
              // fall back to the refuse-if-exists rename; the read-back
              // verification below still closes the replace-rename hole
              case _: UnsupportedOperationException => f.rename(tmp, dst)
              case _: java.nio.file.FileSystemException
                  if !f.exists(dst) => f.rename(tmp, dst)
            }
          } else f.rename(tmp, dst)
        }
        var attempts = 3
        var placed = place()
        while (!placed) {
          readParam(spark, viewRoot, name) match {
            case Some(winner) =>
              f.delete(tmp, false)
              require(winner == value,
                s"$viewRoot was built with $name = $winner but this tick " +
                  s"passes $name = $value — the views would silently mix " +
                  "semantics; use the original value or rebuild under a " +
                  "new root")
              placed = true // the winner recorded our value — done
            case None =>
              // the blocker is an EMPTY crash-artifact marker (readParam
              // treats it as absent): replace it, then re-settle — a
              // concurrent winner landing in between is read back above
              attempts -= 1
              require(attempts >= 0,
                s"could not place $viewRoot/_param_$name (filesystem " +
                  "keeps refusing the rename)")
              // delete ONLY a still-empty artifact, never a real marker
              // a concurrent winner may have placed between our rename
              // and this check — a real marker survives and the next
              // loop iteration reads it as a normal win/mismatch
              try {
                if (f.getFileStatus(dst).getLen == 0L) f.delete(dst, false)
              } catch {
                case _: java.io.FileNotFoundException => ()
              }
              placed = place()
          }
        }
        // belt-and-suspenders for Hadoop connectors whose rename
        // neither links nor refuses an existing destination: the
        // marker must hold OUR value after placement, else this tick
        // lost a race it could not see
        val settled = readParam(spark, viewRoot, name)
        require(settled.contains(value),
          s"$viewRoot was built with $name = " +
            s"${settled.getOrElse("<missing>")} but this tick passes " +
            s"$name = $value — the views would silently mix semantics; " +
            "use the original value or rebuild under a new root")
    }

  private[graft] def readParam(spark: SparkSession, viewRoot: String,
                        name: String): Option[String] = {
    val f = fs(spark, viewRoot)
    val p = new Path(viewRoot, s"_param_$name")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
      // an empty marker is a crash artifact from the pre-atomic
      // create-then-write layout, not a recorded parameter
      if (s.isEmpty) None else Some(s)
    }
  }

  /** Keep a view CONTINUOUSLY current: a streaming query subscribed
    * to the inputs' change feeds that runs `tick` once per arriving
    * micro-batch. The feed rows are only the WAKE-UP signal — every
    * tick re-resolves its own pinned versions and is individually
    * exactly-once on its markers, so a replayed or dropped signal
    * batch can never corrupt the view; the checkpoint merely
    * remembers how far the signal got. `Trigger.AvailableNow()`
    * (default) catches the view up and stops — cron-style;
    * `Trigger.ProcessingTime(...)` keeps it always-on. (The V1 feed
    * source downgrades AvailableNow to single-batch execution — same
    * drain-everything-pending semantics here; and even a signal batch
    * racing a concurrent commit is harmless, because the NEXT tick
    * folds whatever this one didn't see.)
    *
    * Crash recovery is hands-off: each tick holds the view's writer
    * lock, and a maintainer killed mid-tick (OOM, kill -9) leaves it
    * behind — the lock is LEASED, so the restarted maintainer steals
    * it automatically once `spark.graft.maintenance.lockLeaseMs`
    * (default 15 min) elapses and the intent-marker protocol replays
    * the interrupted tick exactly once. `IndexMaintenance.clearLock
    * (spark, viewDir)` is the immediate manual override.
    *
    * Any view's `refreshX` is its tick: `maintain(spark, Seq(src), ck)
    * { () => refreshAgg(spark, src, view, keys, sums); () }`, with
    * housekeeping (every n-th tick) inside the same closure — its
    * tick counter is process-local, so a restarted maintainer starts
    * its cadence over, which only shifts WHEN the idempotent
    * housekeeping runs, never view contents. */
  def maintain(spark: SparkSession, inputDirs: Seq[String],
               checkpointDir: String,
               trigger: org.apache.spark.sql.streaming.Trigger =
                 org.apache.spark.sql.streaming.Trigger.AvailableNow())
              (tick: () => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(inputDirs.nonEmpty, "maintain needs at least one input feed")
    val signal = inputDirs.map(d =>
        Snapshots.changesStream(spark, d).select(lit(1).as("__sig")))
      .reduce(_ unionByName _)
    signal.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) => tick() }
      .trigger(trigger)
      .start()
  }

  /** The view with multiplicities expanded back into duplicate rows —
    * exactly `left <type> JOIN right USING (joinKeys)` as a plain
    * DataFrame. `__n` is bounded by the product of the inputs' per-key
    * duplicate counts; `array_repeat` expands it executor-side, no
    * driver round-trip. */
  def readExpanded(spark: SparkSession, viewDir: String): DataFrame = {
    val v = Snapshots.read(spark, viewDir)
    val dataCols = v.columns.filterNot(_ == "__n")
    v.withColumn("__r", explode(array_repeat(lit(1), col("__n").cast("int"))))
      .select(dataCols.map(col): _*)
  }
}
