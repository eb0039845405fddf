package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{MinHashSignature, SimHashFromHashes, SortedLongIntersectCount, VectorCosine, VectorDot}

/** SparkSessionExtensions entry point: registers graft's native
  * Catalyst expressions as SQL functions, so `spark.sql("SELECT
  * graft_cosine(a, b) ...")` works anywhere the jar is on the
  * classpath:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions     // cluster conf, or
  * SparkSession.builder.withExtensions(new GraftExtensions)
  * }}}
  *
  * Besides scalar/aggregate functions, the event-analytics operators
  * (sessionize, funnel, retention, quality checks, top paths) are
  * registered as SQL TABLE functions — `SELECT * FROM
  * graft_sessionize('events', 'user_id', 'ts', 'event_id', 1800)` —
  * so a ksqlDB/SQL-only user reaches the whole analytic surface
  * without touching the DataFrame API. Each TVF evaluates its literal
  * arguments at analysis time, builds the SAME DataFrame the Scala
  * API builds (one code path, not a SQL re-implementation), and
  * splices its analyzed plan into the enclosing query — Catalyst then
  * optimizes across the boundary exactly as it would a view.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Evaluate a TVF argument that must be a foldable literal. */
  private def litVal(e: Expression, what: String): Any = {
    require(e.foldable, s"$what must be a literal")
    val v = e.eval()
    require(v != null, s"$what must not be null")
    v
  }
  /** Comma-separated literal list argument (shared by every TVF that
    * takes a column-list CSV — one parsing rule, not seven copies). */
  private def csvArg(e: Expression, what: String): Seq[String] =
    litStr(e, what).split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** The (dir, done) acknowledgement frame housekeeping TVFs return. */
  private def ackFrame(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      Seq(org.apache.spark.sql.Row(dir, true)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dir",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("done",
          org.apache.spark.sql.types.BooleanType, nullable = false))))
  }

  private def litStr(e: Expression, what: String): String =
    litVal(e, what).toString // UTF8String → String
  private def litLong(e: Expression, what: String): Long = litVal(e, what) match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
    // fractional literals parse as Decimal/Double (e.g. `1800.0`);
    // accept them when they are whole numbers, reject with the
    // argument's name otherwise — `toString.toLong` on "1800.0" threw
    // an unhelpful NumberFormatException
    case d: org.apache.spark.sql.types.Decimal =>
      val bd = d.toJavaBigDecimal
      require(bd.stripTrailingZeros.scale <= 0,
        s"$what must be a whole number, got $bd")
      bd.longValueExact
    case d: Double =>
      require(d == math.rint(d) && !d.isInfinite,
        s"$what must be a whole number, got $d")
      d.toLong
    case f: Float =>
      require(f == math.rint(f.toDouble).toFloat && !f.isInfinite,
        s"$what must be a whole number, got $f")
      f.toLong
    case other => // e.g. a string literal '1800' (UTF8String)
      try {
        val bd = new java.math.BigDecimal(other.toString)
        require(bd.stripTrailingZeros.scale <= 0,
          s"$what must be a whole number, got $bd")
        bd.longValueExact
      } catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$what must be an integer literal, got '$other' (${other.getClass.getSimpleName})")
      }
  }
  private def litInt(e: Expression, what: String): Int =
    litLong(e, what).toInt

  /** The refresh-TVF return convention: one `folded_version` BIGINT
    * row per source version the tick consumed. */
  private def foldedDf(s: org.apache.spark.sql.SparkSession,
                       folded: Seq[Long]): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      folded.map(v => org.apache.spark.sql.Row(v)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("folded_version",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }
  private def litBool(e: Expression, what: String): Boolean =
    litVal(e, what) match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$what must be a boolean literal, got '$other'")
    }
  private def litDouble(e: Expression, what: String): Double = litVal(e, what) match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case other =>
      try other.toString.toDouble
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$what must be a numeric literal, got '$other'")
      }
  }
  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator custom plan: top-k per key via bounded heaps
    // (graft.plans.TopKPerKey), planned by its own strategy
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // opt-in rewrite of the row_number-then-filter idiom onto that
    // plan (spark.graft.autoTopK=true)
    ext.injectOptimizerRule(_ => graft.plans.AutoTopKRule)
    // streaming: the micro-batch clock reaches generated code by
    // reference, so a batch's stamp no longer recompiles its stage
    ext.injectOptimizerRule(_ => graft.functions.BatchClockRule)

    def info(name: String, usage: String) =
      new ExpressionInfo("graft", null, name, usage, "")

    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - fused cosine similarity of two numeric arrays"),
      (args: Seq[Expression]) => VectorCosine(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - fused dot product of two numeric arrays"),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(tokenHashes, k) - k-wide MinHash signature of a long array"),
      (args: Seq[Expression]) => MinHashSignature(args(0),
        args(1).eval().asInstanceOf[Int])))

    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(tokenHashes) - 64-bit SimHash of a long array"),
      (args: Seq[Expression]) => SimHashFromHashes(args(0))))

    ext.injectFunction((
      FunctionIdentifier("graft_intersect_count"),
      info("graft_intersect_count", "graft_intersect_count(a, b) - |a ∩ b| of two sorted long arrays"),
      (args: Seq[Expression]) => SortedLongIntersectCount(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      info("graft_topk", "graft_topk(v, k) - aggregate: the k largest values, descending (ksqlDB TOPK)"),
      (args: Seq[Expression]) => graft.functions.BoundedTopK(args(0),
        args(1).eval().asInstanceOf[Int], distinct = false)
        .toAggregateExpression()))

    ext.injectFunction((
      FunctionIdentifier("graft_topk_distinct"),
      info("graft_topk_distinct", "graft_topk_distinct(v, k) - aggregate: the k largest distinct values, descending (ksqlDB TOPKDISTINCT)"),
      (args: Seq[Expression]) => graft.functions.BoundedTopK(args(0),
        args(1).eval().asInstanceOf[Int], distinct = true)
        .toAggregateExpression()))

    ext.injectFunction((
      FunctionIdentifier("graft_frequent_items"),
      info("graft_frequent_items", "graft_frequent_items(v, k) - aggregate: Misra-Gries heavy hitters, <= k bounded-state counters, array<struct<item,est>> est-desc"),
      (args: Seq[Expression]) => graft.functions.FrequentItems(args(0),
        args(1).eval().asInstanceOf[Int])
        .toAggregateExpression()))

    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg", "graft_bloom_agg(hash64, numBits, numHashes) - aggregate: bloom filter over 64-bit hashes as array<long> (word 0 = k)"),
      (args: Seq[Expression]) => graft.functions.BloomBuildAgg(args(0),
        args(1).eval().asInstanceOf[Int], args(2).eval().asInstanceOf[Int])
        .toAggregateExpression()))

    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      info("graft_bloom_contains", "graft_bloom_contains(filter, hash64) - bloom probe; false = definitely absent"),
      (args: Seq[Expression]) => graft.functions.BloomMightContain(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("graft_round"),
      info("graft_round", "graft_round(x, s) - engine-portable round-half-up: floor(x*10^s + 0.5)/10^s (graft.functions.Exact.roundAt)"),
      (args: Seq[Expression]) => {
        // built from resolved Catalyst nodes — a Column round-trip here
        // would leave unresolved column-node expressions in the plan
        import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Divide, Floor, Literal, Multiply}
        import org.apache.spark.sql.types.DoubleType
        val f = Literal(math.pow(10, args(1).eval().asInstanceOf[Int]))
        Divide(
          Cast(Floor(Add(Multiply(Cast(args(0), DoubleType), f), Literal(0.5))), DoubleType),
          f)
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      info("graft_normalize", "graft_normalize(text) - lowercase, redact email/IP/phone PII, collapse whitespace, trim (graft.functions.Text.normalize)"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Literal, Lower, RegExpReplace, StringTrim}
        import graft.functions.Text
        def rr(e: Expression, pat: String, rep: String) =
          RegExpReplace(e, Literal(pat), Literal(rep))
        // collapse whitespace BEFORE redaction — same order as
        // Text.normalize (idempotence depends on it)
        rr(rr(rr(
          StringTrim(rr(Lower(args(0)), "\\s+", " ")),
          Text.emailPattern, "<email>"),
          Text.ipPattern, "<ip>"),
          Text.phonePattern, "<phone>")
      }))

    // ---- table-valued functions: the event-analytics operators ----
    // Arg 0 is always the source table/view name; remaining args are
    // operator parameters. The builder runs at analysis time on the
    // active session, so `spark.table(name)` resolves temp views,
    // catalog tables, and global views alike.
    def tvf(name: String, usage: String)(
        build: (SparkSession, Seq[Expression]) => DataFrame): Unit =
      ext.injectTableFunction((
        FunctionIdentifier(name),
        info(name, usage),
        (args: Seq[Expression]) =>
          build(SparkSession.active, args).queryExecution.analyzed))

    tvf("graft_sessionize",
      "graft_sessionize(table, userCol, tsCol, idCol, maxGapSec) - every event with its 1-based per-user session_idx (max-gap rule)") {
      (s, a) =>
        operators.Relational.sessionize(s.table(litStr(a(0), "table")),
          litStr(a(1), "userCol"), litStr(a(2), "tsCol"),
          litStr(a(3), "idCol"), litLong(a(4), "maxGapSec"))
    }

    tvf("graft_session_stats",
      "graft_session_stats(table, userCol, tsCol, idCol, maxGapSec) - per-session event count, start/end epoch micros, duration") {
      (s, a) =>
        operators.Relational.sessionStats(s.table(litStr(a(0), "table")),
          litStr(a(1), "userCol"), litStr(a(2), "tsCol"),
          litStr(a(3), "idCol"), litLong(a(4), "maxGapSec"))
    }

    tvf("graft_funnel",
      "graft_funnel(table, userCol, tsCol, typeCol, stage1, stage2, ...) - per-user ordered-funnel completion times + stages_completed") {
      (s, a) =>
        require(a.length >= 5, "graft_funnel needs at least one stage")
        operators.Relational.funnel(s.table(litStr(a(0), "table")),
          litStr(a(1), "userCol"), litStr(a(2), "tsCol"),
          litStr(a(3), "typeCol"),
          a.drop(4).zipWithIndex.map { case (e, i) => litStr(e, s"stage$i") })
    }

    tvf("graft_retention",
      "graft_retention(table, userCol, tsCol) - weekly cohort retention cells (cohort_wk, offset_wk, n_active)") {
      (s, a) =>
        operators.Relational.retention(s.table(litStr(a(0), "table")),
          litStr(a(1), "userCol"), litStr(a(2), "tsCol"))
    }

    tvf("graft_top_paths",
      "graft_top_paths(table, userCol, tsCol, idCol, typeCol, maxGapSec, k) - the k most common within-session event-type paths") {
      (s, a) =>
        operators.Relational.topPaths(s.table(litStr(a(0), "table")),
          litStr(a(1), "userCol"), litStr(a(2), "tsCol"),
          litStr(a(3), "idCol"), litStr(a(4), "typeCol"),
          litLong(a(5), "maxGapSec"), litInt(a(6), "k"))
    }

    tvf("graft_quality_checks",
      "graft_quality_checks(table, name1, predicateSql1, name2, predicateSql2, ...) - one-pass Deequ-style rule violations (rule, n_rows, n_violations, violation_rate)") {
      (s, a) =>
        require(a.length >= 3 && a.length % 2 == 1,
          "graft_quality_checks takes a table then (name, predicateSql) pairs")
        val rules = a.drop(1).grouped(2).map { pair =>
          litStr(pair(0), "rule name") ->
            org.apache.spark.sql.functions.expr(litStr(pair(1), "rule predicate"))
        }.toSeq
        operators.Relational.qualityChecks(s.table(litStr(a(0), "table")), rules)
    }

    tvf("graft_distinct_rollup",
      "graft_distinct_rollup(table, keyCol, idCol) - per-key theta/HLL distinct counts via one sketch pass (exact below sketch capacity)") {
      (s, a) =>
        val idCol = litStr(a(2), "idCol")
        operators.Sketches.rollupDistinct(
          operators.Sketches.distinctSketchTable(
            s.table(litStr(a(0), "table")), Seq(litStr(a(1), "keyCol")), idCol),
          Seq(litStr(a(1), "keyCol")), idCol)
    }

    tvf("graft_cohort_overlap",
      "graft_cohort_overlap(table, keyCol, idCol) - pairwise |A|,|B|,|A union B|,|A intersect B|,|A minus B| per cohort pair from theta sketches") {
      (s, a) =>
        val idCol = litStr(a(2), "idCol")
        operators.Sketches.cohortOverlap(
          operators.Sketches.distinctSketchTable(
            s.table(litStr(a(0), "table")), Seq(litStr(a(1), "keyCol")), idCol),
          litStr(a(1), "keyCol"), idCol)
    }

    tvf("graft_bloom_semi",
      "graft_bloom_semi(bigTable, bigKey, smallTable, smallKey[, fpp]) - bloom-prefiltered semi join; the filter auto-sizes from the small side's distinct key count, so SQL callers cannot mis-size it") {
      (s, a) =>
        require(a.length == 4 || a.length == 5,
          "graft_bloom_semi takes (bigTable, bigKey, smallTable, smallKey[, fpp])")
        val fpp = if (a.length == 5) litDouble(a(4), "fpp") else 0.01
        require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
        operators.Relational.bloomSemiJoin(
          s.table(litStr(a(0), "bigTable")), litStr(a(1), "bigKey"),
          s.table(litStr(a(2), "smallTable")), litStr(a(3), "smallKey"),
          expectedItems = 0L, fpp = fpp)
    }

    tvf("graft_snapshot",
      "graft_snapshot(dir[, version]) - read a snapshot table (latest, or time-travel to a version)") {
      (s, a) =>
        val v = if (a.length > 1) Some(litVal(a(1), "version").toString.toLong) else None
        sources.Snapshots.read(s, litStr(a(0), "dir"), v)
    }

    tvf("graft_snapshot_asof",
      "graft_snapshot_asof(dir, ts_millis) - read the snapshot that was latest at the given wall-clock epoch millis (manifest-stamped committed_at; see Snapshots.versionAsOf)") {
      (s, a) =>
        require(a.length == 2, "graft_snapshot_asof takes (dir, ts_millis)")
        val dir = litStr(a(0), "dir")
        val ts = litVal(a(1), "ts_millis").toString.toLong
        val v = sources.Snapshots.versionAsOf(s, dir, ts).getOrElse(
          throw new IllegalArgumentException(
            s"no snapshot at $dir existed at or before epoch-millis $ts"))
        sources.Snapshots.read(s, dir, Some(v))
    }

    tvf("graft_snapshot_history",
      "graft_snapshot_history(dir) - one row per live snapshot version: (version, parent, n_files, n_rows, batch_id, committed_at)") {
      (s, a) =>
        require(a.length == 1, "graft_snapshot_history takes (dir)")
        sources.Snapshots.history(s, litStr(a(0), "dir"))
    }

    tvf("graft_snapshot_diff",
      "graft_snapshot_diff(dir, from_version, to_version) - row-level change feed between two snapshots (__change = insert/delete; an update is its delete + its insert); reads only churned files (see Snapshots.diff)") {
      (s, a) =>
        require(a.length == 3,
          "graft_snapshot_diff takes (dir, from_version, to_version)")
        sources.Snapshots.diff(s, litStr(a(0), "dir"),
          litVal(a(1), "from_version").toString.toLong,
          litVal(a(2), "to_version").toString.toLong)
    }

    tvf("graft_snapshot_stats",
      "graft_snapshot_stats(dir[, version]) - manifest-only table statistics: per recorded stats column (column, min_value, max_value, files_with_stats, n_files, n_rows) - opens zero data files (see Snapshots.statsSummary)") {
      (s, a) =>
        require(a.length == 1 || a.length == 2,
          "graft_snapshot_stats takes (dir[, version])")
        val v = if (a.length > 1) Some(litVal(a(1), "version").toString.toLong) else None
        sources.Snapshots.statsSummary(s, litStr(a(0), "dir"), v)
    }

    tvf("graft_join_view",
      "graft_join_view(dir) - an incrementally-maintained join view with its Z-set multiplicities expanded back into plain rows (see IncrementalViews.readExpanded)") {
      (s, a) =>
        require(a.length == 1, "graft_join_view takes (dir)")
        sources.IncrementalViews.readExpanded(s, litStr(a(0), "dir"))
    }

    tvf("graft_view_refresh_join",
      "graft_view_refresh_join(leftDir, rightDir, viewDir, joinType, key1[, key2, ...]) - run one incremental-maintenance tick of the materialized join view (see IncrementalViews.refreshJoin); returns (view_version) - null when already current") {
      (s, a) =>
        require(a.length >= 5,
          "graft_view_refresh_join takes (leftDir, rightDir, viewDir, joinType, key1[, key2, ...])")
        val keys = a.drop(4).zipWithIndex.map { case (e, i) => litStr(e, s"key$i") }
        val v = sources.IncrementalViews.refreshJoin(s,
          litStr(a(0), "leftDir"), litStr(a(1), "rightDir"),
          litStr(a(2), "viewDir"), keys, litStr(a(3), "joinType"))
        s.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(v.map(Long.box).orNull)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("view_version",
              org.apache.spark.sql.types.LongType, nullable = true))))
    }

    tvf("graft_view_refresh_agg",
      "graft_view_refresh_agg(srcDir, viewDir, groupKeysCsv, sumColsCsv[, minMaxColsCsv]) - fold every pending source version into the materialized GROUP BY view in one tick (see IncrementalViews.refreshAgg); returns the folded versions, one row each") {
      (s, a) =>
        require(a.length == 4 || a.length == 5,
          "graft_view_refresh_agg takes (srcDir, viewDir, groupKeysCsv, sumColsCsv[, minMaxColsCsv])")
        val mm = if (a.length == 5) csvArg(a(4), "minMaxColsCsv") else Nil
        val folded = sources.IncrementalViews.refreshAgg(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewDir"),
          csvArg(a(2), "groupKeysCsv"), csvArg(a(3), "sumColsCsv"), minMaxCols = mm)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          folded.map(v => org.apache.spark.sql.Row(v)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("folded_version",
              org.apache.spark.sql.types.LongType, nullable = false))))
    }

    tvf("graft_view_refresh_corr",
      "graft_view_refresh_corr(srcDir, viewDir, groupKeysCsv, colsCsv[, wCol, wScale]) - one maintenance tick of the correlation-matrix moment-stats view; with wCol/wScale the view folds WEIGHTED moments servable as WLS models (see IncrementalViews.refreshCorrMatrix); returns the folded source versions, one row each") {
      (s, a) =>
        require(a.length == 4 || a.length == 6,
          "graft_view_refresh_corr takes (srcDir, viewDir, groupKeysCsv, colsCsv[, wCol, wScale])")
        val weight = if (a.length == 6)
          Some((litStr(a(4), "wCol"), litInt(a(5), "wScale"))) else None
        val folded = sources.IncrementalViews.refreshCorrMatrix(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewDir"),
          csvArg(a(2), "groupKeysCsv"), csvArg(a(3), "colsCsv"),
          weight = weight)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          folded.map(v => org.apache.spark.sql.Row(v)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("folded_version",
              org.apache.spark.sql.types.LongType, nullable = false))))
    }

    tvf("graft_corr_view",
      "graft_corr_view(viewDir, groupKeysCsv, colsCsv[, weighted]) - the maintained correlation matrix served from the moment-stats view as (groupKeys..., col_x, col_y, corr_v); weighted=true serves a weight-built view (Σw-scaled moments) and the flag must match how the view was built - a mismatch fails loudly (see IncrementalViews.readCorrMatrix)") {
      (s, a) =>
        require(a.length == 3 || a.length == 4,
          "graft_corr_view takes (viewDir, groupKeysCsv, colsCsv[, weighted])")
        val weighted = a.length == 4 && litBool(a(3), "weighted")
        sources.IncrementalViews.readCorrMatrix(s, litStr(a(0), "viewDir"),
          csvArg(a(1), "groupKeysCsv"), csvArg(a(2), "colsCsv"),
          weighted = weighted)
    }

    tvf("graft_corr_pairwise",
      "graft_corr_pairwise(table, colsCsv[, keysCsv]) - pandas-semantics PAIRWISE-complete Pearson matrix (each cell over the rows where both of its columns are non-null) as (keys..., col_x, col_y, corr_v) (see operators.Relational.corrMatrixPairwiseBy)") {
      (s, a) =>
        require(a.length == 2 || a.length == 3,
          "graft_corr_pairwise takes (table, colsCsv[, keysCsv])")
        val keys = if (a.length == 3) csvArg(a(2), "keysCsv") else Nil
        operators.Relational.corrMatrixPairwiseBy(
          s.table(litStr(a(0), "table")), keys, csvArg(a(1), "colsCsv"))
    }

    tvf("graft_logistic_fit",
      "graft_logistic_fit(table, yCol, xColsCsv, keysCsv[, ridge]) - per-group logistic regression via batched IRLS (one aggregation per Newton step for all groups) as (keys..., term, beta, loss) (see operators.Regression.logisticFitBy)") {
      (s, a) =>
        require(a.length == 4 || a.length == 5,
          "graft_logistic_fit takes (table, yCol, xColsCsv, keysCsv[, ridge])")
        val ridge = if (a.length == 5) litDouble(a(4), "ridge") else 0.0
        operators.Regression.logisticFitBy(s.table(litStr(a(0), "table")),
          csvArg(a(3), "keysCsv"), litStr(a(1), "yCol"),
          csvArg(a(2), "xColsCsv"), ridge = ridge)
    }

    tvf("graft_ols_fit",
      "graft_ols_fit(table, yCol, xColsCsv[, keysCsv[, ridge]]) - per-group OLS/ridge regression solved in the plan (<= 3 predictors + intercept) as (keys..., term, beta) (see operators.Regression.olsFitBy)") {
      (s, a) =>
        require(a.length >= 3 && a.length <= 5,
          "graft_ols_fit takes (table, yCol, xColsCsv[, keysCsv[, ridge]])")
        val keys = if (a.length >= 4) csvArg(a(3), "keysCsv") else Nil
        val ridge = if (a.length == 5) litDouble(a(4), "ridge") else 0.0
        operators.Regression.olsFitBy(s.table(litStr(a(0), "table")), keys,
          litStr(a(1), "yCol"), csvArg(a(2), "xColsCsv"), ridge = ridge)
    }

    tvf("graft_ols_model",
      "graft_ols_model(viewDir, groupKeysCsv, colsCsv, yCol, xColsCsv[, weighted]) - the continuously-maintained regression model served from the moment-stats view as (groupKeys..., term, beta); weighted=true serves WLS from a weight-built view (see IncrementalViews.readOlsModel)") {
      (s, a) =>
        require(a.length == 5 || a.length == 6,
          "graft_ols_model takes (viewDir, groupKeysCsv, colsCsv, yCol, xColsCsv[, weighted])")
        val weighted = a.length == 6 && litBool(a(5), "weighted")
        sources.IncrementalViews.readOlsModel(s, litStr(a(0), "viewDir"),
          csvArg(a(1), "groupKeysCsv"), csvArg(a(2), "colsCsv"),
          litStr(a(3), "yCol"), csvArg(a(4), "xColsCsv"),
          weighted = weighted)
    }

    tvf("graft_ols_eval",
      "graft_ols_eval(table, yCol, xColsCsv[, trainPct, idCol]) - fit + predict + score in one plan as (n, rmse, mae, r2); with trainPct/idCol the fit uses the deterministic hash-train split and scores the held-out rest (see operators.Regression.fitEval/fitEvalHoldout)") {
      (s, a) =>
        require(a.length == 3 || a.length == 5,
          "graft_ols_eval takes (table, yCol, xColsCsv[, trainPct, idCol])")
        val df = s.table(litStr(a(0), "table"))
        if (a.length == 3)
          operators.Regression.fitEval(df, litStr(a(1), "yCol"),
            csvArg(a(2), "xColsCsv"))
        else
          operators.Regression.fitEvalHoldout(df, litStr(a(4), "idCol"),
            litStr(a(1), "yCol"), csvArg(a(2), "xColsCsv"),
            trainPct = litInt(a(3), "trainPct"))
    }

    tvf("graft_bpe_pieces",
      "graft_bpe_pieces(table, idCol, textCol, numMerges) - train a BPE merge list on the table's distinct-word frequencies, then encode it: (id, word_pos, word, pieces); numMerges > 512 encodes via the broadcast-ranks per-partition encoder instead of nested fold expressions (identical output, see operators.Corpus.bpeTrain/bpeEncode/bpeEncodeBroadcast)") {
      (s, a) =>
        require(a.length == 4,
          "graft_bpe_pieces takes (table, idCol, textCol, numMerges)")
        val df = s.table(litStr(a(0), "table"))
        val n = litInt(a(3), "numMerges")
        val merges = operators.Corpus.bpeTrain(df, litStr(a(2), "textCol"), n)
        // past a few hundred merges the nested-fold plan is the
        // bottleneck (analysis quadratic in plan size, codegen hits
        // the JVM method limit): dispatch to the broadcast encoder,
        // which is parity-proven against the folded plan
        if (n > 512)
          operators.Corpus.bpeEncodeBroadcast(df, litStr(a(1), "idCol"),
            litStr(a(2), "textCol"), merges)
        else
          operators.Corpus.bpeEncode(df, litStr(a(1), "idCol"),
            litStr(a(2), "textCol"), merges)
    }

    tvf("graft_cooccurrence",
      "graft_cooccurrence(table, textCol[, window, minCount]) - windowed ordered-pair co-occurrence counts + PMI over the corpus (the GloVe/word2vec prep statistic) as (a, b, cnt, pmi) (see operators.Corpus.cooccurrence)") {
      (s, a) =>
        require(a.length >= 2 && a.length <= 4,
          "graft_cooccurrence takes (table, textCol[, window, minCount])")
        operators.Corpus.cooccurrence(s.table(litStr(a(0), "table")),
          litStr(a(1), "textCol"),
          window = if (a.length >= 3) litInt(a(2), "window") else 2,
          minCount = if (a.length == 4) litInt(a(3), "minCount").toLong else 1L)
    }

    tvf("graft_textrank",
      "graft_textrank(table, textCol[, window, iters, topK]) - TextRank keyword scores as (token, rank): weighted PageRank over the window-w word co-occurrence graph, `iters` fixed Jacobi iterations; NOTE: runs the whole Jacobi job eagerly when the call is ANALYZED (the graft_knn_pq convention) and pins results to call-time data (see operators.Corpus.textRank)") {
      (s, a) =>
        require(a.length >= 2 && a.length <= 5,
          "graft_textrank takes (table, textCol[, window, iters, topK])")
        operators.Corpus.textRank(
          operators.Corpus.cooccurrencePairCounts(
            s.table(litStr(a(0), "table")), litStr(a(1), "textCol"),
            window = if (a.length >= 3) litInt(a(2), "window") else 2),
          "a", "b", "cnt",
          iters = if (a.length >= 4) litInt(a(3), "iters") else 10,
          topK = if (a.length == 5) litInt(a(4), "topK") else 0)
    }

    tvf("graft_textrank_view",
      "graft_textrank_view(viewRoot[, iters, topK]) - TextRank keywords served from the MAINTAINED co-occurrence pair view: the live graph ranks with zero corpus rescans, batch-equal to graft_textrank over the current corpus; NOTE: runs the Jacobi job eagerly at ANALYSIS and pins results to call-time view state (see operators.Corpus.textRank + IncrementalViews.readCooccurrence)") {
      (s, a) =>
        require(a.length >= 1 && a.length <= 3,
          "graft_textrank_view takes (viewRoot[, iters, topK])")
        operators.Corpus.textRank(
          sources.IncrementalViews.readCooccurrencePairs(s,
            litStr(a(0), "viewRoot")),
          "a", "b", "cnt",
          iters = if (a.length >= 2) litInt(a(1), "iters") else 10,
          topK = if (a.length == 3) litInt(a(2), "topK") else 0)
    }

    tvf("graft_textrank_by",
      "graft_textrank_by(table, keyCol, textCol[, window, iters, topK]) - PER-DOMAIN TextRank as (keyCol, token, rank[, rnk]): one keyed Jacobi chain ranks every domain's keywords in a single plan; topK > 0 keeps each domain's top-k by (rank desc, token) with the pick order; NOTE: runs eagerly at ANALYSIS like graft_textrank (see operators.Corpus.textRankBy)") {
      (s, a) =>
        require(a.length >= 3 && a.length <= 6,
          "graft_textrank_by takes (table, keyCol, textCol[, window, iters, topK])")
        val key = litStr(a(1), "keyCol")
        operators.Corpus.textRankBy(
          operators.Corpus.cooccurrencePairCountsBy(
            s.table(litStr(a(0), "table")), Seq(key),
            litStr(a(2), "textCol"),
            window = if (a.length >= 4) litInt(a(3), "window") else 2),
          Seq(key), "a", "b", "cnt",
          iters = if (a.length >= 5) litInt(a(4), "iters") else 10,
          topK = if (a.length == 6) litInt(a(5), "topK") else 0)
    }

    tvf("graft_knn_pq",
      "graft_knn_pq(corpusTable, queriesTable, idCol, vecCol, dim, m, kCodes, k[, iters]) - product-quantization ANN as (query_id, neighbor_id, rnk, adist): train m-subspace codebooks (sample-init, optional k-means iters), encode the corpus to m codes, asymmetric-distance top-k; NOTE: trains codebooks eagerly when the call is ANALYZED (see operators.Similarity.pqTrain/pqEncode/pqTopK)") {
      (s, a) =>
        require(a.length == 8 || a.length == 9,
          "graft_knn_pq takes (corpusTable, queriesTable, idCol, vecCol, dim, m, kCodes, k[, iters])")
        val corpus = s.table(litStr(a(0), "corpusTable"))
        val (idCol, vecCol) = (litStr(a(2), "idCol"), litStr(a(3), "vecCol"))
        val books = operators.Similarity.pqTrain(corpus, idCol, vecCol,
          litInt(a(4), "dim"), litInt(a(5), "m"), litInt(a(6), "kCodes"),
          iters = if (a.length == 9) litInt(a(8), "iters") else 0)
        operators.Similarity.pqTopK(
          operators.Similarity.pqEncode(corpus, idCol, vecCol, books),
          s.table(litStr(a(1), "queriesTable")), idCol, vecCol, books,
          litInt(a(7), "k"))
    }

    tvf("graft_knn_ivfpq",
      "graft_knn_ivfpq(corpusTable, queriesTable, idCol, vecCol, dim, k[, nCells, nProbe, m, kCodes]) - IVF-PQ ANN as (query_id, neighbor_id, rnk, adist): coarse cells bound which rows a query touches, PQ codes bound what each costs; NOTE: trains centroids+codebooks eagerly when the call is ANALYZED (see operators.Similarity.ivfPqTopK)") {
      (s, a) =>
        require(a.length >= 6 && a.length <= 10,
          "graft_knn_ivfpq takes (corpusTable, queriesTable, idCol, vecCol, dim, k[, nCells, nProbe, m, kCodes])")
        operators.Similarity.ivfPqTopK(
          s.table(litStr(a(0), "corpusTable")),
          s.table(litStr(a(1), "queriesTable")),
          litStr(a(2), "idCol"), litStr(a(3), "vecCol"),
          litInt(a(4), "dim"), litInt(a(5), "k"),
          nCells = if (a.length >= 7) litInt(a(6), "nCells") else 16,
          nProbe = if (a.length >= 8) litInt(a(7), "nProbe") else 4,
          m = if (a.length >= 9) litInt(a(8), "m") else 8,
          kCodes = if (a.length == 10) litInt(a(9), "kCodes") else 16)
    }

    tvf("graft_mmr_rerank",
      "graft_mmr_rerank(corpusTable, queriesTable, idCol, vecCol, kPage, k[, lambda, maxCandidates]) - MMR-diversified retrieval page as (query_id, neighbor_id, rnk, mmr): brute-force cosine top-kPage per query, greedily re-ranked to lambda*rel - (1-lambda)*max-sim-to-picked (see operators.Similarity.mmrRerank)") {
      (s, a) =>
        require(a.length >= 6 && a.length <= 8,
          "graft_mmr_rerank takes (corpusTable, queriesTable, idCol, vecCol, kPage, k[, lambda, maxCandidates])")
        val corpus = s.table(litStr(a(0), "corpusTable"))
        val idCol = litStr(a(2), "idCol")
        val vecCol = litStr(a(3), "vecCol")
        val page = operators.Similarity.bruteForceTopK(corpus,
          s.table(litStr(a(1), "queriesTable")), idCol, vecCol,
          litInt(a(4), "kPage"))
        val cands = page.join(
          corpus.select(org.apache.spark.sql.functions.col(idCol)
              .as("neighbor_id"),
            org.apache.spark.sql.functions.col(vecCol)),
          "neighbor_id")
        operators.Similarity.mmrRerank(cands, "query_id", "neighbor_id",
          "cosine", vecCol, litInt(a(5), "k"),
          lambda = if (a.length >= 7) litDouble(a(6), "lambda") else 0.5,
          maxCandidates =
            if (a.length == 8) litInt(a(7), "maxCandidates") else 1024)
    }

    tvf("graft_random_projection",
      "graft_random_projection(table, idCol, vecCol, dim, outDim[, seed]) - Johnson-Lindenstrauss Rademacher projection as (id, proj array<double>): deterministic +-1/sqrt(outDim) matrix seeded by splitmix64 (see operators.Similarity.randomProject)") {
      (s, a) =>
        require(a.length >= 5 && a.length <= 6,
          "graft_random_projection takes (table, idCol, vecCol, dim, outDim[, seed])")
        operators.Similarity.randomProject(s.table(litStr(a(0), "table")),
          litStr(a(1), "idCol"), litStr(a(2), "vecCol"),
          litInt(a(3), "dim"), litInt(a(4), "outDim"),
          seed = if (a.length == 6) litLong(a(5), "seed") else 42L)
    }

    tvf("graft_zipf_fit",
      "graft_zipf_fit(table, textCol) - Zipf rank-frequency least-squares fit as one row (n_types, n_tokens, slope, intercept, r2); natural text sits near slope -1 (see operators.Corpus.zipfFit)") {
      (s, a) =>
        require(a.length == 2, "graft_zipf_fit takes (table, textCol)")
        operators.Corpus.zipfFit(s.table(litStr(a(0), "table")),
          litStr(a(1), "textCol"))
    }

    tvf("graft_heaps_fit",
      "graft_heaps_fit(table, idCol, textCol[, buckets]) - Heaps vocabulary-growth fit as one row (n_docs, slope, intercept, r2); V ~ K*N^beta with beta ~ 0.4-0.6 for natural text (see operators.Corpus.heapsFit)") {
      (s, a) =>
        require(a.length >= 3 && a.length <= 4,
          "graft_heaps_fit takes (table, idCol, textCol[, buckets])")
        operators.Corpus.heapsFit(s.table(litStr(a(0), "table")),
          litStr(a(1), "idCol"), litStr(a(2), "textCol"),
          buckets = if (a.length == 4) litInt(a(3), "buckets") else 256)
    }

    tvf("graft_perplexity_buckets",
      "graft_perplexity_buckets(table, refTable, idCol, textCol[, nBins, alpha]) - CCNet-style quality tiers as (id, n_tokens, nll, bin): per-token cross-entropy under the smoothed refTable unigram LM, cut into nBins equi-depth buckets (0 = most reference-like) (see operators.Corpus.perplexityBuckets)") {
      (s, a) =>
        require(a.length >= 4 && a.length <= 6,
          "graft_perplexity_buckets takes (table, refTable, idCol, textCol[, nBins, alpha])")
        operators.Corpus.perplexityBuckets(s.table(litStr(a(0), "table")),
          s.table(litStr(a(1), "refTable")),
          litStr(a(2), "idCol"), litStr(a(3), "textCol"),
          nBins = if (a.length >= 5) litInt(a(4), "nBins") else 3,
          alpha = if (a.length == 6) litDouble(a(5), "alpha") else 0.5)
    }

    tvf("graft_dsir_weights",
      "graft_dsir_weights(rawTable, targetTable, idCol, textCol[, alpha]) - DSIR importance weights as (id, n_tokens, logw): per-doc sum of ln p_target(t) - ln p_raw(t) over add-alpha-smoothed unigram distributions (see operators.Corpus.dsirWeights)") {
      (s, a) =>
        require(a.length >= 4 && a.length <= 5,
          "graft_dsir_weights takes (rawTable, targetTable, idCol, textCol[, alpha])")
        operators.Corpus.dsirWeights(s.table(litStr(a(0), "rawTable")),
          s.table(litStr(a(1), "targetTable")),
          litStr(a(2), "idCol"), litStr(a(3), "textCol"),
          alpha = if (a.length == 5) litDouble(a(4), "alpha") else 0.5)
    }

    tvf("graft_dsir_select",
      "graft_dsir_select(rawTable, targetTable, idCol, textCol, n[, alpha]) - the top-n most target-like raw docs by DSIR importance weight, as (id, n_tokens, logw, rnk) (see operators.Corpus.dsirSelect)") {
      (s, a) =>
        require(a.length >= 5 && a.length <= 6,
          "graft_dsir_select takes (rawTable, targetTable, idCol, textCol, n[, alpha])")
        operators.Corpus.dsirSelect(s.table(litStr(a(0), "rawTable")),
          s.table(litStr(a(1), "targetTable")),
          litStr(a(2), "idCol"), litStr(a(3), "textCol"),
          litInt(a(4), "n"),
          alpha = if (a.length == 6) litDouble(a(5), "alpha") else 0.5)
    }

    tvf("graft_semantic_dedup",
      "graft_semantic_dedup(table, idCol, vecCol, nCells, threshold) - SemDeDup-style cluster-bounded semantic dedup over an embedding column as (id, cell_id, n_dups, kept); NOTE: runs an eager hot-cell-guard job when the call is ANALYZED, before execution (see operators.Similarity.semanticDedup)") {
      (s, a) =>
        require(a.length == 5,
          "graft_semantic_dedup takes (table, idCol, vecCol, nCells, threshold)")
        operators.Similarity.semanticDedup(s.table(litStr(a(0), "table")),
          litStr(a(1), "idCol"), litStr(a(2), "vecCol"),
          litInt(a(3), "nCells"), litDouble(a(4), "threshold"))
    }

    tvf("graft_view_refresh_profile",
      "graft_view_refresh_profile(srcDir, viewRoot, textCol[, dupKeyFingerprint]) - one maintenance tick of the incrementally-maintained corpus-profile views; dupKeyFingerprint=true keys the dup-count cascade by the int64 content fingerprint (the 100 TB mode; pick ONE keying per view root) (see IncrementalViews.refreshCorpusProfile); returns 1 on completion") {
      (s, a) =>
        require(a.length == 3 || a.length == 4,
          "graft_view_refresh_profile takes (srcDir, viewRoot, textCol[, dupKeyFingerprint])")
        sources.IncrementalViews.refreshCorpusProfile(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewRoot"),
          litStr(a(2), "textCol"),
          dupKeyFingerprint = a.length == 4 && litBool(a(3), "dupKeyFingerprint"))
        s.range(1, 2).toDF("ok")
    }

    tvf("graft_view_refresh_text_index",
      "graft_view_refresh_text_index(srcDir, viewRoot, idCol, textCol[, positional]) - one maintenance tick of the incrementally-maintained inverted text index (posting lists with Z-set term frequencies, doc lengths, cascaded global stats; positional=true also maintains (token, doc, pos) postings for exact phrase search - pick ONE setting per view root; see IncrementalViews.refreshTextIndex); returns 1 on completion") {
      (s, a) =>
        require(a.length == 4 || a.length == 5,
          "graft_view_refresh_text_index takes (srcDir, viewRoot, idCol, textCol[, positional])")
        sources.IncrementalViews.refreshTextIndex(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewRoot"),
          litStr(a(2), "idCol"), litStr(a(3), "textCol"),
          positional = a.length == 5 && litBool(a(4), "positional"))
        s.range(1, 2).toDF("ok")
    }

    tvf("graft_view_refresh_embedding_moments",
      "graft_view_refresh_embedding_moments(srcDir, viewDir, vecCol, dim[, scale]) - one maintenance tick of the incrementally-maintained (n, sum v_i, sum v_i*v_j) embedding-moment view (exact-decimal Z-set sums, bit-equal to the one-pass ExactGram; see IncrementalViews.refreshEmbeddingMoments); returns 1 on completion") {
      (s, a) =>
        require(a.length == 4 || a.length == 5,
          "graft_view_refresh_embedding_moments takes (srcDir, viewDir, vecCol, dim[, scale])")
        sources.IncrementalViews.refreshEmbeddingMoments(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewDir"),
          litStr(a(2), "vecCol"), litInt(a(3), "dim"),
          scale = if (a.length == 5) litInt(a(4), "scale") else 9)
        s.range(1, 2).toDF("ok")
    }

    tvf("graft_pca_view",
      "graft_pca_view(viewDir, docsDir, idCol, vecCol, dim, k) - PCA projection of the snapshot table at docsDir from the MAINTAINED moment view (exactly Similarity.pca's output, model never rescans the corpus) as (idCol, pc) (see IncrementalViews.pcaFromMoments)") {
      (s, a) =>
        require(a.length == 6,
          "graft_pca_view takes (viewDir, docsDir, idCol, vecCol, dim, k)")
        val (idCol, vecCol) = (litStr(a(2), "idCol"), litStr(a(3), "vecCol"))
        sources.IncrementalViews.pcaFromMoments(s, litStr(a(0), "viewDir"),
          sources.Snapshots.read(s, litStr(a(1), "docsDir"))
            .select(idCol, vecCol),
          idCol, vecCol, litInt(a(4), "dim"), litInt(a(5), "k"))
    }

    tvf("graft_view_refresh_span_profile",
      "graft_view_refresh_span_profile(srcDir, viewRoot, idCol, textCol[, k]) - one maintenance tick of the incrementally-maintained span-duplication profile (per-doc + global k-token span-hash counts, doc liveness; k pinned per root, default 10; see IncrementalViews.refreshSpanProfile); returns 1 on completion") {
      (s, a) =>
        require(a.length == 4 || a.length == 5,
          "graft_view_refresh_span_profile takes (srcDir, viewRoot, idCol, textCol[, k])")
        sources.IncrementalViews.refreshSpanProfile(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewRoot"),
          litStr(a(2), "idCol"), litStr(a(3), "textCol"),
          k = if (a.length == 5) litInt(a(4), "k") else 10)
        s.range(1, 2).toDF("ok")
    }

    tvf("graft_span_profile",
      "graft_span_profile(viewRoot[, idCol]) - the maintained span-duplication profile: (idCol, n_spans, dup_spans, dup_ratio) per live doc, zero text I/O (see IncrementalViews.readSpanProfile)") {
      (s, a) =>
        require(a.length == 1 || a.length == 2,
          "graft_span_profile takes (viewRoot[, idCol])")
        sources.IncrementalViews.readSpanProfile(s, litStr(a(0), "viewRoot"),
          if (a.length == 2) litStr(a(1), "idCol") else "doc_id")
    }

    tvf("graft_view_refresh_contamination",
      "graft_view_refresh_contamination(srcDir, viewRoot, idCol, textCol, benchDir[, n]) - one maintenance tick of the incrementally-maintained benchmark-contamination ledger (distinct shared n-grams vs a FROZEN benchmark table; n + bench dir/version pinned per root, default n=3; see IncrementalViews.refreshContamination); returns 1 on completion") {
      (s, a) =>
        require(a.length == 5 || a.length == 6,
          "graft_view_refresh_contamination takes (srcDir, viewRoot, idCol, textCol, benchDir[, n])")
        sources.IncrementalViews.refreshContamination(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewRoot"),
          litStr(a(2), "idCol"), litStr(a(3), "textCol"),
          litStr(a(4), "benchDir"),
          n = if (a.length == 6) litInt(a(5), "n") else 3)
        s.range(1, 2).toDF("ok")
    }

    tvf("graft_contamination_ledger",
      "graft_contamination_ledger(viewRoot[, idCol]) - the maintained contamination ledger: (idCol, shared_ngrams, contaminated) per live corpus doc, clean docs included (see IncrementalViews.readContamination)") {
      (s, a) =>
        require(a.length == 1 || a.length == 2,
          "graft_contamination_ledger takes (viewRoot[, idCol])")
        sources.IncrementalViews.readContamination(s, litStr(a(0), "viewRoot"),
          if (a.length == 2) litStr(a(1), "idCol") else "doc_id")
    }

    tvf("graft_view_refresh_semantic_contamination",
      "graft_view_refresh_semantic_contamination(srcDir, viewRoot, idCol, vecCol, benchDir, nCells, threshold[, cosScale]) - one maintenance tick of the SEMANTIC contamination ledger: each churned doc assigns against centroids sampled from the frozen benchmark and its tau-close in-cell benchmark pairs fold as a Z-set (benchmark pinned by dir+version; see IncrementalViews.refreshSemanticContamination); returns 1 on completion") {
      (s, a) =>
        require(a.length == 7 || a.length == 8,
          "graft_view_refresh_semantic_contamination takes (srcDir, viewRoot, idCol, vecCol, benchDir, nCells, threshold[, cosScale])")
        sources.IncrementalViews.refreshSemanticContamination(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewRoot"),
          litStr(a(2), "idCol"), litStr(a(3), "vecCol"),
          litStr(a(4), "benchDir"), litInt(a(5), "nCells"),
          litDouble(a(6), "threshold"),
          cosScale = if (a.length == 8) litInt(a(7), "cosScale") else 4)
        s.range(1, 2).toDF("ok")
    }

    tvf("graft_semantic_contamination_ledger",
      "graft_semantic_contamination_ledger(viewRoot) - the maintained semantic-contamination ledger: (corpus_id, benchmark_id, cell_id, cosine) per tau-close pair over the live corpus (see IncrementalViews.readSemanticContamination)") {
      (s, a) =>
        require(a.length == 1,
          "graft_semantic_contamination_ledger takes (viewRoot)")
        sources.IncrementalViews.readSemanticContamination(s,
          litStr(a(0), "viewRoot"))
    }

    tvf("graft_view_refresh_value_histogram",
      "graft_view_refresh_value_histogram(srcDir, viewDir, valueCol[, scale[, groupsCsv]]) - one maintenance tick of the incrementally-maintained value histogram (counts keyed by the value rounded at `scale` decimals as a scaled long, optionally PER GROUP; scale and groups pinned per dir, default 2 / global; see IncrementalViews.refreshValueHistogram); returns 1 on completion") {
      (s, a) =>
        require(a.length >= 3 && a.length <= 5,
          "graft_view_refresh_value_histogram takes (srcDir, viewDir, valueCol[, scale[, groupsCsv]])")
        sources.IncrementalViews.refreshValueHistogram(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewDir"),
          litStr(a(2), "valueCol"),
          scale = if (a.length >= 4) litInt(a(3), "scale") else 2,
          groupCols = if (a.length == 5) csvArg(a(4), "groupsCsv") else Nil)
        s.range(1, 2).toDF("ok")
    }

    tvf("graft_quantiles",
      "graft_quantiles(viewDir, psCsv) - exact percentiles from the maintained value histogram: the lower order statistic at ceil(p*n) per requested p, as (p, value, n) (see IncrementalViews.readQuantiles)") {
      (s, a) =>
        require(a.length == 2,
          "graft_quantiles takes (viewDir, psCsv)")
        sources.IncrementalViews.readQuantiles(s, litStr(a(0), "viewDir"),
          csvArg(a(1), "psCsv").map(_.toDouble))
    }

    tvf("graft_quantiles_by",
      "graft_quantiles_by(viewDir, groupsCsv, psCsv) - PER-GROUP exact percentiles from a grouped maintained value histogram, as (groupCols..., p, value, n); the cumulative walk is partitioned by the group keys (see IncrementalViews.readQuantilesBy)") {
      (s, a) =>
        require(a.length == 3,
          "graft_quantiles_by takes (viewDir, groupsCsv, psCsv)")
        sources.IncrementalViews.readQuantilesBy(s, litStr(a(0), "viewDir"),
          csvArg(a(1), "groupsCsv"),
          csvArg(a(2), "psCsv").map(_.toDouble))
    }

    tvf("graft_view_refresh_word_freq",
      "graft_view_refresh_word_freq(srcDir, viewDir, textCol) - one maintenance tick of the incrementally-maintained distinct-word frequency table (pure Z-set sums, the BPE trainer's substrate kept current under churn; see IncrementalViews.refreshWordFreq); returns 1 on completion") {
      (s, a) =>
        require(a.length == 3,
          "graft_view_refresh_word_freq takes (srcDir, viewDir, textCol)")
        sources.IncrementalViews.refreshWordFreq(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewDir"),
          litStr(a(2), "textCol"))
        s.range(1, 2).toDF("ok")
    }

    tvf("graft_view_refresh_spell_index",
      "graft_view_refresh_spell_index(wordFreqDir, indexDir[, maxEdits]) - one maintenance tick of the SymSpell deletion-key spell index, cascaded over the word-frequency view's change feed (current word freq rides the index rows as a Z-set sum; maxEdits pinned per root; see IncrementalViews.refreshSpellIndex); returns 1 on completion") {
      (s, a) =>
        require(a.length == 2 || a.length == 3,
          "graft_view_refresh_spell_index takes (wordFreqDir, indexDir[, maxEdits])")
        sources.IncrementalViews.refreshSpellIndex(s,
          litStr(a(0), "wordFreqDir"), litStr(a(1), "indexDir"),
          if (a.length == 3) litInt(a(2), "maxEdits") else 1)
        s.range(1, 2).toDF("ok")
    }

    tvf("graft_spell_suggest",
      "graft_spell_suggest(indexDir, word[, topK[, maxEdits]]) - spelling suggestions from the maintained deletion-key index alone as (word, freq, dist): live vocabulary words within maxEdits (default: the index's pinned depth) Levenshtein edits, ranked by corpus frequency, top-k via TakeOrdered; O(query) - the query's deletion neighborhood prunes the key-clustered index files (see IncrementalViews.spellSuggest)") {
      (s, a) =>
        require(a.length >= 2 && a.length <= 4,
          "graft_spell_suggest takes (indexDir, word[, topK[, maxEdits]])")
        sources.IncrementalViews.spellSuggest(s, litStr(a(0), "indexDir"),
          litStr(a(1), "word"),
          topK = if (a.length >= 3) litInt(a(2), "topK") else 10,
          maxEdits = if (a.length == 4) Some(litInt(a(3), "maxEdits"))
                     else None)
    }

    tvf("graft_prefix_suggest",
      "graft_prefix_suggest(wordFreqDir, prefix[, topK]) - autocomplete from the maintained word-frequency view as (word, freq): live words starting with prefix ranked by corpus frequency, top-k via TakeOrdered; the word-clustered view is manifest-pruned to the prefix's lexical range (see IncrementalViews.prefixSuggest)") {
      (s, a) =>
        require(a.length == 2 || a.length == 3,
          "graft_prefix_suggest takes (wordFreqDir, prefix[, topK])")
        sources.IncrementalViews.prefixSuggest(s, litStr(a(0), "wordFreqDir"),
          litStr(a(1), "prefix"),
          if (a.length == 3) litInt(a(2), "topK") else 10)
    }

    tvf("graft_bpe_view_merges",
      "graft_bpe_view_merges(viewDir, numMerges) - train the BPE merge list from the maintained word-frequency view (zero corpus rescans; equals a from-scratch bpeTrain over the current corpus) as (rank, left, right) (see IncrementalViews.bpeTrainFromView)") {
      (s, a) =>
        require(a.length == 2,
          "graft_bpe_view_merges takes (viewDir, numMerges)")
        import s.implicits._
        sources.IncrementalViews.bpeTrainFromView(s,
            litStr(a(0), "viewDir"), litInt(a(1), "numMerges"))
          .toDF("rank", "left", "right")
    }

    tvf("graft_view_refresh_bigram_lm",
      "graft_view_refresh_bigram_lm(srcDir, viewRoot, textCol) - one maintenance tick of the incrementally-maintained bigram LM (bigram/context/unigram Z-set counts + cascaded token total, pure-sum folds; see IncrementalViews.refreshBigramLm); returns 1 on completion") {
      (s, a) =>
        require(a.length == 3,
          "graft_view_refresh_bigram_lm takes (srcDir, viewRoot, textCol)")
        sources.IncrementalViews.refreshBigramLm(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewRoot"),
          litStr(a(2), "textCol"))
        s.range(1, 2).toDF("ok")
    }

    tvf("graft_bigram_lm_score",
      "graft_bigram_lm_score(viewRoot, docsDir, idCol, textCol[, lambda]) - score the snapshot table at docsDir against the maintained bigram LM as (idCol, n_bigrams, nll); in-model transitions reproduce graft_bigram_lm exactly, out-of-model mass floors at half a unigram count (see IncrementalViews.scoreBigramLm)") {
      (s, a) =>
        require(a.length == 4 || a.length == 5,
          "graft_bigram_lm_score takes (viewRoot, docsDir, idCol, textCol[, lambda])")
        val idCol = litStr(a(2), "idCol")
        sources.IncrementalViews.scoreBigramLm(s, litStr(a(0), "viewRoot"),
          sources.Snapshots.read(s, litStr(a(1), "docsDir"))
            .select(idCol, litStr(a(3), "textCol")),
          idCol, litStr(a(3), "textCol"),
          lambda = if (a.length == 5) litDouble(a(4), "lambda") else 0.9)
    }

    tvf("graft_view_refresh_cooccurrence",
      "graft_view_refresh_cooccurrence(srcDir, viewRoot, textCol[, window]) - one maintenance tick of the incrementally-maintained co-occurrence/PMI views (pair + unigram Z-set counts and cascaded 1-row totals, pure-sum folds under inserts AND deletes; window pinned per view root; see IncrementalViews.refreshCooccurrence); returns 1 on completion") {
      (s, a) =>
        require(a.length == 3 || a.length == 4,
          "graft_view_refresh_cooccurrence takes (srcDir, viewRoot, textCol[, window])")
        sources.IncrementalViews.refreshCooccurrence(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewRoot"),
          litStr(a(2), "textCol"),
          window = if (a.length == 4) litInt(a(3), "window") else 2)
        s.range(1, 2).toDF("ok")
    }

    tvf("graft_cooccurrence_view",
      "graft_cooccurrence_view(viewRoot[, minCount[, tokenA[, topK]]]) - the maintained PMI table as (a, b, cnt, pmi), batch-equal to graft_cooccurrence over the current corpus; tokenA serves one head token's rows from its manifest-pruned pair files (pass '' to rank across ALL pairs); topK > 0 keeps the k strongest collocations by PMI via TakeOrdered - the collocation-UI shape (see IncrementalViews.readCooccurrence)") {
      (s, a) =>
        require(a.length >= 1 && a.length <= 4,
          "graft_cooccurrence_view takes (viewRoot[, minCount[, tokenA[, topK]]])")
        sources.IncrementalViews.readCooccurrence(s, litStr(a(0), "viewRoot"),
          minCount = if (a.length >= 2) litLong(a(1), "minCount") else 1L,
          // '' = no head-token restriction, so the corpus-wide
          // topK-without-tokenA composition is reachable from SQL
          tokenA = if (a.length >= 3) Some(litStr(a(2), "tokenA"))
                     .filter(_.nonEmpty)
                   else None,
          topK = if (a.length == 4) Some(litInt(a(3), "topK")) else None)
    }

    tvf("graft_tfidf_view",
      "graft_tfidf_view(viewRoot[, idCol]) - TF-IDF served from the maintained inverted-index views (zero extra maintenance beyond the index itself) as (idCol, token, tf, doc_freq, tfidf) (see IncrementalViews.readTfIdf)") {
      (s, a) =>
        require(a.length == 1 || a.length == 2,
          "graft_tfidf_view takes (viewRoot[, idCol])")
        sources.IncrementalViews.readTfIdf(s, litStr(a(0), "viewRoot"),
          if (a.length == 2) litStr(a(1), "idCol") else "doc_id")
    }

    tvf("graft_phrase_search",
      "graft_phrase_search(viewRoot, phraseCsv[, idCol]) - exact phrase occurrences from the positional postings (refresh with positional=true) as (idCol, hits) (see IncrementalViews.phraseSearch)") {
      (s, a) =>
        require(a.length == 2 || a.length == 3,
          "graft_phrase_search takes (viewRoot, phraseCsv[, idCol])")
        sources.IncrementalViews.phraseSearch(s, litStr(a(0), "viewRoot"),
          csvArg(a(1), "phraseCsv"),
          if (a.length == 3) litStr(a(2), "idCol") else "doc_id")
    }

    tvf("graft_bm25_view",
      "graft_bm25_view(viewRoot, termsCsv[, idCol[, k1, b[, topK]]]) - Okapi BM25 served from the maintained inverted-index views (zero corpus re-reads) as (idCol, bm25); topK > 0 keeps only the k best scores via TakeOrdered - the retrieval shape (see IncrementalViews.readBm25)") {
      (s, a) =>
        require(a.length >= 2 && a.length != 4 && a.length <= 6,
          "graft_bm25_view takes (viewRoot, termsCsv[, idCol[, k1, b[, topK]]])")
        val idCol = if (a.length >= 3) litStr(a(2), "idCol") else "doc_id"
        val (k1, b) =
          if (a.length >= 5) (litDouble(a(3), "k1"), litDouble(a(4), "b"))
          else (1.2, 0.75)
        sources.IncrementalViews.readBm25(s, litStr(a(0), "viewRoot"),
          csvArg(a(1), "termsCsv"), idCol, k1, b,
          topK = if (a.length == 6) Some(litInt(a(5), "topK")) else None)
    }

    tvf("graft_search",
      "graft_search(viewRoot, termsCsv, k[, snippetK[, idCol[, phraseCsv[, spellIndexDir]]]]) - the search-result page from the maintained index: BM25 top-k (rank by score desc, id asc) + one first-occurrence KWIC snippet per hit, every leg pruned, as (idCol, rank, bm25, center_pos, snippet); phraseCsv restricts the page to docs containing that EXACT phrase (the quoted-query shape; '' = none); spellIndexDir turns on did-you-mean — zero-posting terms are replaced by their top spelling suggestion and the page adds a corrected_terms audit column; needs a positional=true index (see IncrementalViews.search)") {
      (s, a) =>
        require(a.length >= 3 && a.length <= 7,
          "graft_search takes (viewRoot, termsCsv, k[, snippetK[, idCol[, phraseCsv[, spellIndexDir]]]])")
        sources.IncrementalViews.search(s, litStr(a(0), "viewRoot"),
          csvArg(a(1), "termsCsv"), litInt(a(2), "k"),
          snippetK = if (a.length >= 4) litInt(a(3), "snippetK") else 3,
          idCol = if (a.length >= 5) litStr(a(4), "idCol") else "doc_id",
          // '' means "no phrase" so SQL callers can reach the later args
          phrase = if (a.length >= 6 && litStr(a(5), "phraseCsv").nonEmpty)
                     Some(csvArg(a(5), "phraseCsv"))
                   else None,
          spellIndex = if (a.length == 7) Some(litStr(a(6), "spellIndexDir"))
                       else None)
    }

    tvf("graft_hybrid_search",
      "graft_hybrid_search(viewRoot, ivfPath, termsCsv, vecCsv, k[, kEach[, nProbe[, idCol[, spellIndexDir[, pqIndexDir]]]]]) - hybrid retrieval: the maintained BM25 index's top-kEach and the stored IVF index's top-kEach merged by reciprocal-rank fusion (exact-decimal fold), as (idCol, rrf, n_legs, bm25_rank, bm25, cos_rank, cosine) by rrf desc; one id space across both indexes; with a spell index attached ('' = none), zero-posting text terms are corrected before ranking and the page carries corrected_terms; with a PQ index dir, the vector leg is the stored IVF-PQ codes-only ADC serve (ivfPath ignored) and the page's score column is adist instead of cosine (see IncrementalViews.hybridSearch)") {
      (s, a) =>
        require(a.length >= 5 && a.length <= 10,
          "graft_hybrid_search takes (viewRoot, ivfPath, termsCsv, vecCsv, k[, kEach[, nProbe[, idCol[, spellIndexDir[, pqIndexDir]]]]])")
        val vec = csvArg(a(3), "vecCsv").map(_.toFloat).toArray
        // '' means "none" so SQL callers can reach the later args
        def optDir(i: Int, what: String): Option[String] =
          if (a.length >= i + 1 && litStr(a(i), what).nonEmpty)
            Some(litStr(a(i), what))
          else None
        sources.IncrementalViews.hybridSearch(s, litStr(a(0), "viewRoot"),
          litStr(a(1), "ivfPath"), csvArg(a(2), "termsCsv"), vec,
          litInt(a(4), "k"),
          kEach = if (a.length >= 6) litInt(a(5), "kEach") else 20,
          nProbe = if (a.length >= 7) litInt(a(6), "nProbe") else 4,
          idCol = if (a.length >= 8) litStr(a(7), "idCol") else "doc_id",
          spellIndex = optDir(8, "spellIndexDir"),
          pqIndex = optDir(9, "pqIndexDir"))
    }

    tvf("graft_proximity_search",
      "graft_proximity_search(viewRoot, termA, termB, window[, idCol]) - docs where the two terms co-occur within `window` token positions, from the positional postings (refresh with positional=true) as (idCol, n_pairs, min_dist) (see IncrementalViews.proximitySearch)") {
      (s, a) =>
        require(a.length == 4 || a.length == 5,
          "graft_proximity_search takes (viewRoot, termA, termB, window[, idCol])")
        sources.IncrementalViews.proximitySearch(s, litStr(a(0), "viewRoot"),
          litStr(a(1), "termA"), litStr(a(2), "termB"),
          litInt(a(3), "window"),
          if (a.length == 5) litStr(a(4), "idCol") else "doc_id")
    }

    tvf("graft_proximity_search_all",
      "graft_proximity_search_all(viewRoot, termsCsv, window[, idCol]) - docs holding one position per term with ALL terms inside a window-token span (max(p) - min(p) <= window), from the positional postings (refresh with positional=true) as (idCol, n_tuples, min_span) - the multi-keyword near-query two-term proximity can't compose (see IncrementalViews.proximitySearchAll)") {
      (s, a) =>
        require(a.length == 3 || a.length == 4,
          "graft_proximity_search_all takes (viewRoot, termsCsv, window[, idCol])")
        sources.IncrementalViews.proximitySearchAll(s, litStr(a(0), "viewRoot"),
          csvArg(a(1), "termsCsv"), litInt(a(2), "window"),
          if (a.length == 4) litStr(a(3), "idCol") else "doc_id")
    }

    tvf("graft_kwic",
      "graft_kwic(viewRoot, term[, k, idCol]) - keyword-in-context snippets (term occurrence + the k surrounding tokens on each side) reassembled from the positional postings alone (refresh with positional=true) as (idCol, center_pos, snippet) (see IncrementalViews.kwic)") {
      (s, a) =>
        require(a.length >= 2 && a.length <= 4,
          "graft_kwic takes (viewRoot, term[, k, idCol])")
        sources.IncrementalViews.kwic(s, litStr(a(0), "viewRoot"),
          litStr(a(1), "term"),
          k = if (a.length >= 3) litInt(a(2), "k") else 3,
          idCol = if (a.length == 4) litStr(a(3), "idCol") else "doc_id")
    }

    tvf("graft_kwic_phrase",
      "graft_kwic_phrase(viewRoot, phraseCsv[, k, idCol]) - keyword-in-context snippets around every EXACT occurrence of the phrase (refresh with positional=true), context pruned to the matching docs' doc-major files, as (idCol, start_pos, snippet) (see IncrementalViews.kwicPhrase)") {
      (s, a) =>
        require(a.length >= 2 && a.length <= 4,
          "graft_kwic_phrase takes (viewRoot, phraseCsv[, k, idCol])")
        sources.IncrementalViews.kwicPhrase(s, litStr(a(0), "viewRoot"),
          csvArg(a(1), "phraseCsv"),
          k = if (a.length >= 3) litInt(a(2), "k") else 3,
          idCol = if (a.length == 4) litStr(a(3), "idCol") else "doc_id")
    }

    tvf("graft_corpus_profile_view",
      "graft_corpus_profile_view(viewRoot) - the maintained dataset card served as (metric, value) rows (see IncrementalViews.readCorpusProfile)") {
      (s, a) =>
        require(a.length == 1,
          "graft_corpus_profile_view takes (viewRoot)")
        sources.IncrementalViews.readCorpusProfile(s, litStr(a(0), "viewRoot"))
    }

    tvf("graft_corpus_profile",
      "graft_corpus_profile(table, idCol, textCol[, dupKeyFingerprint]) - the batch dataset card as (metric, value) rows; dupKeyFingerprint=true keys the exact-dup count by the int64 content fingerprint (see operators.Corpus.corpusProfile)") {
      (s, a) =>
        require(a.length == 3 || a.length == 4,
          "graft_corpus_profile takes (table, idCol, textCol[, dupKeyFingerprint])")
        operators.Corpus.corpusProfile(s.table(litStr(a(0), "table")),
          litStr(a(1), "idCol"), litStr(a(2), "textCol"),
          dupKeyFingerprint = a.length == 4 && litBool(a(3), "dupKeyFingerprint"))
    }

    tvf("graft_semantic_contamination",
      "graft_semantic_contamination(corpusTable, benchTable, idCol, vecCol, nCells, threshold) - corpus docs embedding-close to a benchmark doc (paraphrase contamination) as (corpus_id, benchmark_id, cell_id, cosine); NOTE: runs an eager hot-cell-guard job when the call is ANALYZED, before execution (see operators.Similarity.semanticContamination)") {
      (s, a) =>
        require(a.length == 6,
          "graft_semantic_contamination takes (corpusTable, benchTable, idCol, vecCol, nCells, threshold)")
        operators.Similarity.semanticContamination(
          s.table(litStr(a(0), "corpusTable")), s.table(litStr(a(1), "benchTable")),
          litStr(a(2), "idCol"), litStr(a(3), "vecCol"),
          litInt(a(4), "nCells"), litDouble(a(5), "threshold"))
    }

    tvf("graft_image_near_dup",
      "graft_image_near_dup(packedTable[, bands, maxHamming]) - perceptual dHash near-duplicate image pairs over (doc_id, blob, format) rows as (id_a, id_b, hamming) (see operators.Multimodal.imageNearDup)") {
      (s, a) =>
        require(a.length >= 1 && a.length <= 3,
          "graft_image_near_dup takes (packedTable[, bands, maxHamming])")
        val bands = if (a.length >= 2) litInt(a(1), "bands") else 4
        val maxH = if (a.length == 3) litInt(a(2), "maxHamming") else 3
        operators.Multimodal.imageNearDup(s,
          s.table(litStr(a(0), "packedTable")), bands, maxH)
    }

    tvf("graft_mix_by_budget",
      "graft_mix_by_budget(table, domainCol, idCol, textCol, recipeCsv[, defaultBudget]) - per-domain token-budget mixing; recipeCsv is 'domain:budget,...' (see operators.Corpus.mixByBudget)") {
      (s, a) =>
        require(a.length == 5 || a.length == 6,
          "graft_mix_by_budget takes (table, domainCol, idCol, textCol, recipeCsv[, defaultBudget])")
        val recipe = litStr(a(4), "recipeCsv").split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
            kv.split(':') match {
              case Array(d, b) => d.trim -> b.trim.toLong
              case _ => throw new IllegalArgumentException(
                s"recipeCsv entry '$kv' is not 'domain:budget'")
            }
          }
        val dflt = if (a.length == 6) litLong(a(5), "defaultBudget") else 0L
        operators.Corpus.mixByBudget(s.table(litStr(a(0), "table")),
          litStr(a(1), "domainCol"), litStr(a(2), "idCol"),
          litStr(a(3), "textCol"), recipe, dflt)
    }

    tvf("graft_vocab_divergence",
      "graft_vocab_divergence(pTable, qTable, textCol[, alpha]) - smoothed unigram KL both ways + Jensen-Shannon divergence between two corpora's vocabularies as one row (n_types, kl_pq, kl_qp, js) - the corpus-drift gauge; point the P side at a maintained word-frequency view for the ingest-time form (see operators.Corpus.vocabDivergence)") {
      (s, a) =>
        require(a.length == 3 || a.length == 4,
          "graft_vocab_divergence takes (pTable, qTable, textCol[, alpha])")
        operators.Corpus.vocabDivergenceOf(
          s.table(litStr(a(0), "pTable")), s.table(litStr(a(1), "qTable")),
          litStr(a(2), "textCol"),
          alpha = if (a.length == 4) litDouble(a(3), "alpha") else 0.5)
    }

    tvf("graft_vocab_divergence_by",
      "graft_vocab_divergence_by(pTable, domainCol, qTable, textCol[, alpha]) - PER-DOMAIN smoothed unigram KL/JS of pTable's domains against qTable's whole vocabulary as (domainCol, n_types, kl_pq, kl_qp, js) - which DOMAIN is drifting, one keyed full-outer join, no per-domain loop (see operators.Corpus.vocabDivergenceBy)") {
      (s, a) =>
        require(a.length == 4 || a.length == 5,
          "graft_vocab_divergence_by takes (pTable, domainCol, qTable, textCol[, alpha])")
        operators.Corpus.vocabDivergenceByOf(
          s.table(litStr(a(0), "pTable")), litStr(a(1), "domainCol"),
          s.table(litStr(a(2), "qTable")), litStr(a(3), "textCol"),
          alpha = if (a.length == 5) litDouble(a(4), "alpha") else 0.5)
    }

    tvf("graft_mix_temperature",
      "graft_mix_temperature(table, domainCol, textCol, alpha, totalBudget) - temperature-scaled domain budgets (share ∝ tokens^alpha via exp(alpha·ln n); capped largest-remainder apportionment, so the budgets sum EXACTLY to min(totalBudget, corpus tokens)) as (domainCol, domain_tokens, mix_weight, budget); NOTE: computes eagerly when ANALYZED (see operators.Corpus.temperatureBudgets)") {
      (s, a) =>
        require(a.length == 5,
          "graft_mix_temperature takes (table, domainCol, textCol, alpha, totalBudget)")
        operators.Corpus.temperatureBudgets(s.table(litStr(a(0), "table")),
          litStr(a(1), "domainCol"), litStr(a(2), "textCol"),
          litDouble(a(3), "alpha"), litLong(a(4), "totalBudget"))
    }

    tvf("graft_mix_by_temperature",
      "graft_mix_by_temperature(table, domainCol, idCol, textCol, alpha, totalBudget) - the selection graft_mix_temperature's budgets drive: budgets collect as domain-bounded driver metadata, then the bucketed deterministic prefix rule; NOTE: computes the budgets eagerly when the call is ANALYZED (see operators.Corpus.mixByTemperature)") {
      (s, a) =>
        require(a.length == 6,
          "graft_mix_by_temperature takes (table, domainCol, idCol, textCol, alpha, totalBudget)")
        operators.Corpus.mixByTemperature(s.table(litStr(a(0), "table")),
          litStr(a(1), "domainCol"), litStr(a(2), "idCol"),
          litStr(a(3), "textCol"), litDouble(a(4), "alpha"),
          litLong(a(5), "totalBudget"))
    }

    tvf("graft_housekeep",
      "graft_housekeep(dir[, targetRows, keepLast, clusterBy]) - settle a maintained view/table's compaction + retention debt under the maintenance lock (see IncrementalViews.housekeep); returns (dir, done)") {
      (s, a) =>
        require(a.length >= 1 && a.length <= 4,
          "graft_housekeep takes (dir[, targetRows, keepLast, clusterBy])")
        val dir = litStr(a(0), "dir")
        sources.IncrementalViews.housekeep(s, dir,
          targetRows = if (a.length > 1) litLong(a(1), "targetRows")
                       else 4L * 1000 * 1000,
          keepLast = if (a.length > 2) litInt(a(2), "keepLast") else 5,
          clusterBy = if (a.length > 3) Some(litStr(a(3), "clusterBy"))
                      else None)
        ackFrame(s, dir)
    }

    tvf("graft_housekeep_text_index",
      "graft_housekeep_text_index(viewRoot[, targetRows, keepLast]) - settle the WHOLE maintained text index's compaction + retention debt (post/dlen/gstat + pos/posd when positional), each view under its own maintenance lock, re-clustered by its head key with prune stats re-recorded (see IncrementalViews.housekeepTextIndex); returns (dir, done)") {
      (s, a) =>
        require(a.length >= 1 && a.length <= 3,
          "graft_housekeep_text_index takes (viewRoot[, targetRows, keepLast])")
        val root = litStr(a(0), "viewRoot")
        sources.IncrementalViews.housekeepTextIndex(s, root,
          targetRows = if (a.length > 1) litLong(a(1), "targetRows")
                       else 4L * 1000 * 1000,
          keepLast = if (a.length > 2) litInt(a(2), "keepLast") else 5)
        ackFrame(s, root)
    }

    tvf("graft_housekeep_cooccurrence",
      "graft_housekeep_cooccurrence(viewRoot[, targetRows, keepLast]) - settle the co-occurrence view family's compaction + retention debt (pairs/uni/ptot/ttot; see IncrementalViews.housekeepCooccurrence); returns (dir, done)") {
      (s, a) =>
        require(a.length >= 1 && a.length <= 3,
          "graft_housekeep_cooccurrence takes (viewRoot[, targetRows, keepLast])")
        val root = litStr(a(0), "viewRoot")
        sources.IncrementalViews.housekeepCooccurrence(s, root,
          targetRows = if (a.length > 1) litLong(a(1), "targetRows")
                       else 4L * 1000 * 1000,
          keepLast = if (a.length > 2) litInt(a(2), "keepLast") else 5)
        ackFrame(s, root)
    }

    tvf("graft_housekeep_bigram_lm",
      "graft_housekeep_bigram_lm(viewRoot[, targetRows, keepLast]) - settle the bigram-LM view family's compaction + retention debt (bg/ctx/uni/ttot; see IncrementalViews.housekeepBigramLm); returns (dir, done)") {
      (s, a) =>
        require(a.length >= 1 && a.length <= 3,
          "graft_housekeep_bigram_lm takes (viewRoot[, targetRows, keepLast])")
        val root = litStr(a(0), "viewRoot")
        sources.IncrementalViews.housekeepBigramLm(s, root,
          targetRows = if (a.length > 1) litLong(a(1), "targetRows")
                       else 4L * 1000 * 1000,
          keepLast = if (a.length > 2) litInt(a(2), "keepLast") else 5)
        ackFrame(s, root)
    }

    tvf("graft_view_refresh_distinct",
      "graft_view_refresh_distinct(srcDir, pairsDir, viewDir, groupKeysCsv, valueCol) - one maintenance tick of the cascaded exact COUNT(DISTINCT) view (see IncrementalViews.refreshDistinct); returns the folded source versions, one row each") {
      (s, a) =>
        require(a.length == 5,
          "graft_view_refresh_distinct takes (srcDir, pairsDir, viewDir, groupKeysCsv, valueCol)")
        val keys = litStr(a(3), "groupKeysCsv").split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq
        val folded = sources.IncrementalViews.refreshDistinct(s,
          litStr(a(0), "srcDir"), litStr(a(1), "pairsDir"),
          litStr(a(2), "viewDir"), keys, litStr(a(4), "valueCol"))
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          folded.map(v => org.apache.spark.sql.Row(v)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("folded_version",
              org.apache.spark.sql.types.LongType, nullable = false))))
    }

    tvf("graft_view_refresh_topk",
      "graft_view_refresh_topk(srcDir, viewDir, keysCsv, orderCol, k[, tieBreakCsv]) - one maintenance tick of the per-key TOP-K leaderboard view, descending by orderCol (see IncrementalViews.refreshTopK); returns the folded source versions, one row each") {
      (s, a) =>
        require(a.length == 5 || a.length == 6,
          "graft_view_refresh_topk takes (srcDir, viewDir, keysCsv, orderCol, k[, tieBreakCsv])")
        val tb = if (a.length == 6) csvArg(a(5), "tieBreakCsv") else Nil
        val folded = sources.IncrementalViews.refreshTopK(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewDir"),
          csvArg(a(2), "keysCsv"), litStr(a(3), "orderCol"),
          litInt(a(4), "k"), tieBreak = tb)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          folded.map(v => org.apache.spark.sql.Row(v)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("folded_version",
              org.apache.spark.sql.types.LongType, nullable = false))))
    }

    tvf("graft_distinct_view",
      "graft_distinct_view(dir) - an incrementally-maintained exact COUNT(DISTINCT) view: the group keys plus the maintained count as n_distinct (see IncrementalViews.readDistinct)") {
      (s, a) =>
        require(a.length == 1, "graft_distinct_view takes (dir)")
        sources.IncrementalViews.readDistinct(s, litStr(a(0), "dir"))
    }

    tvf("graft_sessions_view",
      "graft_sessions_view(dir) - the incrementally-maintained session table: batch sessionStats' exact (user, session_idx, n_events, start_us, end_us, dur_us) rows, zero event I/O (see IncrementalViews.readSessionStats)") {
      (s, a) =>
        require(a.length == 1, "graft_sessions_view takes (dir)")
        sources.IncrementalViews.readSessionStats(s, litStr(a(0), "dir"))
    }

    tvf("graft_view_refresh_sessionize",
      "graft_view_refresh_sessionize(srcDir, viewDir, userCol, tsCol, idCol, maxGapSec) - one affected-user recompute tick of the maintained session table; returns the folded versions (see IncrementalViews.refreshSessionStats)") {
      (s, a) =>
        require(a.length == 6,
          "graft_view_refresh_sessionize takes (srcDir, viewDir, userCol, tsCol, idCol, maxGapSec)")
        foldedDf(s, sources.IncrementalViews.refreshSessionStats(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewDir"),
          litStr(a(2), "userCol"), litStr(a(3), "tsCol"),
          litStr(a(4), "idCol"), litInt(a(5), "maxGapSec").toLong))
    }

    tvf("graft_funnel_view",
      "graft_funnel_view(dir) - the incrementally-maintained ordered funnel: batch funnel's exact per-user stage times + stages_completed (see IncrementalViews.readFunnel)") {
      (s, a) =>
        require(a.length == 1, "graft_funnel_view takes (dir)")
        sources.IncrementalViews.readFunnel(s, litStr(a(0), "dir"))
    }

    tvf("graft_view_refresh_funnel",
      "graft_view_refresh_funnel(srcDir, viewDir, userCol, tsCol, typeCol, stagesCsv) - one affected-user recompute tick of the maintained funnel; returns the folded versions (see IncrementalViews.refreshFunnel)") {
      (s, a) =>
        require(a.length == 6,
          "graft_view_refresh_funnel takes (srcDir, viewDir, userCol, tsCol, typeCol, stagesCsv)")
        foldedDf(s, sources.IncrementalViews.refreshFunnel(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewDir"),
          litStr(a(2), "userCol"), litStr(a(3), "tsCol"),
          litStr(a(4), "typeCol"), csvArg(a(5), "stagesCsv")))
    }

    tvf("graft_top_paths_view",
      "graft_top_paths_view(dir, k) - the k most common session paths from the incrementally-maintained per-(user, session) path table, zero event I/O (see IncrementalViews.readTopPaths)") {
      (s, a) =>
        require(a.length == 2, "graft_top_paths_view takes (dir, k)")
        sources.IncrementalViews.readTopPaths(s, litStr(a(0), "dir"),
          litInt(a(1), "k"))
    }

    tvf("graft_view_refresh_session_paths",
      "graft_view_refresh_session_paths(srcDir, viewDir, userCol, tsCol, idCol, typeCol, maxGapSec) - one affected-user recompute tick of the maintained session-path table; returns the folded versions (see IncrementalViews.refreshSessionPaths)") {
      (s, a) =>
        require(a.length == 7,
          "graft_view_refresh_session_paths takes (srcDir, viewDir, userCol, tsCol, idCol, typeCol, maxGapSec)")
        foldedDf(s, sources.IncrementalViews.refreshSessionPaths(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewDir"),
          litStr(a(2), "userCol"), litStr(a(3), "tsCol"),
          litStr(a(4), "idCol"), litStr(a(5), "typeCol"),
          litInt(a(6), "maxGapSec").toLong))
    }

    tvf("graft_retention_view",
      "graft_retention_view(dir) - the weekly retention report (cohort_wk, offset_wk, n_active) from the incrementally-maintained (user, week) pair view, zero event I/O (see IncrementalViews.readRetention)") {
      (s, a) =>
        require(a.length == 1, "graft_retention_view takes (dir)")
        sources.IncrementalViews.readRetention(s, litStr(a(0), "dir"))
    }

    tvf("graft_view_refresh_retention",
      "graft_view_refresh_retention(srcDir, viewDir, userCol, tsCol) - fold the source's unconsumed change-feed versions into the maintained retention pair view; returns the folded versions (see IncrementalViews.refreshRetention)") {
      (s, a) =>
        require(a.length == 4,
          "graft_view_refresh_retention takes (srcDir, viewDir, userCol, tsCol)")
        foldedDf(s, sources.IncrementalViews.refreshRetention(s,
          litStr(a(0), "srcDir"), litStr(a(1), "viewDir"),
          litStr(a(2), "userCol"), litStr(a(3), "tsCol")))
    }

    tvf("graft_savepoint_create",
      "graft_savepoint_create(dir, name, alias1, tableDir1[, alias2, tableDir2, ...]) - pin every table's current version under one immutable savepoint name (see Savepoints.create); returns the pinned set, one row per table: (alias, version)") {
      (s, a) =>
        require(a.length >= 4 && a.length % 2 == 0,
          "graft_savepoint_create takes (dir, name, alias1, tableDir1[, alias2, tableDir2, ...])")
        val pairs = a.drop(2).grouped(2).zipWithIndex.map {
          case (Seq(al, td), i) =>
            litStr(al, s"alias$i") -> litStr(td, s"tableDir$i")
        }.toSeq
        // .toMap would silently keep only the LAST tableDir of a
        // repeated alias — a savepoint that reports success while a
        // table the caller named is absent from the pinned set
        val dup = pairs.map(_._1).groupBy(identity).collect {
          case (al, as) if as.size > 1 => al }
        require(dup.isEmpty,
          s"duplicate savepoint alias: ${dup.toSeq.sorted.mkString(", ")}")
        val tables = pairs.toMap
        val pinned = sources.Savepoints.create(s, litStr(a(0), "dir"),
          litStr(a(1), "name"), tables)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          pinned.toSeq.sortBy(_._1).map { case (al, v) =>
            org.apache.spark.sql.Row(al, v) }.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("alias",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("version",
              org.apache.spark.sql.types.LongType, nullable = false))))
    }

    tvf("graft_savepoint",
      "graft_savepoint(dir, name, alias) - read one table of a named multi-table savepoint exactly as pinned (see Savepoints.read)") {
      (s, a) =>
        require(a.length == 3, "graft_savepoint takes (dir, name, alias)")
        sources.Savepoints.read(s, litStr(a(0), "dir"),
          litStr(a(1), "name"), litStr(a(2), "alias"))
    }

    tvf("graft_savepoint_describe",
      "graft_savepoint_describe(dir, name) - the savepoint's pinned set, one row per table: (alias, table_dir, version)") {
      (s, a) =>
        require(a.length == 2, "graft_savepoint_describe takes (dir, name)")
        val pins = sources.Savepoints.describe(s, litStr(a(0), "dir"),
          litStr(a(1), "name"))
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          pins.toSeq.sortBy(_._1).map { case (al, (d, v)) =>
            org.apache.spark.sql.Row(al, d, v) }.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("alias",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("table_dir",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("version",
              org.apache.spark.sql.types.LongType, nullable = false))))
    }

    tvf("graft_savepoint_list",
      "graft_savepoint_list(dir) - every savepoint name under the directory, one row each (see Savepoints.list)") {
      (s, a) =>
        require(a.length == 1, "graft_savepoint_list takes (dir)")
        val names = sources.Savepoints.list(s, litStr(a(0), "dir"))
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          names.sorted.map(n => org.apache.spark.sql.Row(n)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("name",
              org.apache.spark.sql.types.StringType, nullable = false))))
    }

    tvf("graft_savepoint_drop",
      "graft_savepoint_drop(dir, name) - unpin a savepoint; its versions become expirable again. Returns (name, dropped) - dropped=false when no such savepoint existed (see Savepoints.drop)") {
      (s, a) =>
        require(a.length == 2, "graft_savepoint_drop takes (dir, name)")
        val name = litStr(a(1), "name")
        val dropped = sources.Savepoints.drop(s, litStr(a(0), "dir"), name)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          Seq(org.apache.spark.sql.Row(name, dropped)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("name",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("dropped",
              org.apache.spark.sql.types.BooleanType, nullable = false))))
    }

    tvf("graft_snapshot_manifest",
      "graft_snapshot_manifest(dir[, version]) - a snapshot's manifest table (path, rows, stats, version, parent)") {
      (s, a) =>
        val v = if (a.length > 1) Some(litVal(a(1), "version").toString.toLong) else None
        sources.Snapshots.manifest(s, litStr(a(0), "dir"), v)
    }

    // TVF literals arrive as Catalyst internal values; surface the
    // JVM-typed equivalent a lit() can re-wrap
    def litAny(e: Expression, what: String): Any = litVal(e, what) match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
      case x => x
    }

    tvf("graft_snapshot_point",
      "graft_snapshot_point(dir, column, value) - snapshot read pruned to the files whose per-file bloom for column might contain value (see Snapshots.readPoint)") {
      (s, a) =>
        require(a.length == 3,
          "graft_snapshot_point takes (dir, column, value)")
        sources.Snapshots.readPoint(s, litStr(a(0), "dir"),
          litStr(a(1), "column"), litAny(a(2), "value"))
    }

    tvf("graft_snapshot_pruned",
      "graft_snapshot_pruned(dir, lo, hi[, column]) - snapshot read pruned to the files whose stats range for column (default: the table's primary stats pair) can intersect [lo, hi] (see Snapshots.readPruned)") {
      (s, a) =>
        require(a.length == 3 || a.length == 4,
          "graft_snapshot_pruned takes (dir, lo, hi[, column])")
        val column = if (a.length == 4) Some(litStr(a(3), "column")) else None
        sources.Snapshots.readPruned(s, litStr(a(0), "dir"),
          litAny(a(1), "lo"), litAny(a(2), "hi"), column = column)
    }

    tvf("graft_snapshot_pruned_multi",
      "graft_snapshot_pruned_multi(dir, col1, lo1, hi1[, col2, lo2, hi2, ...]) - snapshot read pruned to the files whose stats admit EVERY (column, lo, hi) range - multi-dimensional manifest skipping (see Snapshots.readPrunedBy)") {
      (s, a) =>
        require(a.length >= 4 && (a.length - 1) % 3 == 0,
          "graft_snapshot_pruned_multi takes (dir, col1, lo1, hi1[, col2, lo2, hi2, ...])")
        val preds = a.drop(1).grouped(3).zipWithIndex.map { case (g, i) =>
          litStr(g(0), s"col$i") ->
            (litAny(g(1), s"lo$i"), litAny(g(2), s"hi$i"))
        }.toMap
        sources.Snapshots.readPrunedBy(s, litStr(a(0), "dir"), preds)
    }

    tvf("graft_quantile_rollup",
      "graft_quantile_rollup(table, keyCol, valueCol, k, p1, p2, ...) - per-key KLL quantiles via one sketch pass (exact while rows <= k)") {
      (s, a) =>
        require(a.length >= 5, "graft_quantile_rollup needs at least one quantile")
        val vCol = litStr(a(2), "valueCol")
        val k = litInt(a(3), "k")
        val ps = a.drop(4).zipWithIndex.map { case (e, i) =>
          litVal(e, s"p$i").toString.toDouble }
        operators.Sketches.rollupQuantiles(
          operators.Sketches.quantileSketchTable(
            s.table(litStr(a(0), "table")), Seq(litStr(a(1), "keyCol")), vCol, k),
          Seq(litStr(a(1), "keyCol")), vCol, ps, k)
    }
  }
}
