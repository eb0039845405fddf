package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-isolated parquet tables: the commit protocol that makes a
  * 100 TB table safely writable while it is being read.
  *
  * Plain `mode("overwrite")` deletes before it writes, and even the
  * verify-then-swap compaction in [[Layout.compact]] has an instant
  * where the path does not exist. This layout removes the window the
  * way Iceberg/Delta do — data files are IMMUTABLE and a snapshot is
  * a MANIFEST listing them:
  *
  * {{{
  * dir/data/<commitId>/part-*.parquet   — immutable, written once
  * dir/_manifests/v<zero-padded>/       — one parquet manifest per
  *                                        snapshot: (path, rows,
  *                                        stats_min, stats_max,
  *                                        blooms, bloom_types,
  *                                        version, parent)
  * }}}
  *
  * A commit writes its data files first, then publishes a manifest
  * directory via an atomic filesystem rename. Readers resolve the
  * highest published manifest and read exactly the files it lists:
  * they see the previous snapshot until the rename lands, the new one
  * after — never a partial state, with no read-retry loop. A crash
  * before the rename leaves only unreferenced data files (garbage,
  * not corruption); two racing writers both write data, but only one
  * can own a given version — the publish step verifies its rename
  * actually created the version directory (a Hadoop rename onto an
  * existing directory "succeeds" by nesting the source inside it),
  * and the loser retries against the next number (optimistic
  * concurrency, like Iceberg's).
  *
  * The manifest is itself a parquet TABLE, not driver JSON: listing a
  * 100k-file snapshot is a distributed scan, per-file row counts and
  * min/max stats of a chosen column ride along, and [[readPruned]]
  * uses them for MANIFEST-LEVEL file skipping — files whose stats
  * range can't intersect the predicate are never opened, the same
  * pruning [[Layout.writeZClustered]] gives within a file, one level
  * up. `commit(bloomCols = ...)` additionally stores per-file bloom
  * filters of any number of (typically secondary, unclustered) key
  * columns — [[readPoint]] then serves needle-in-100TB id lookups by
  * opening only the files whose filters fire, a probe min/max stats
  * cannot answer on an unclustered key — and enables parquet's
  * in-file bloom on the same columns for row-group skipping inside
  * the survivors.
  * Old snapshots stay readable (time travel for reproducible
  * training-data runs) until [[expire]] drops their manifests and any
  * data file no surviving snapshot references.
  */
object Snapshots {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** Driver-side cache of PUBLISHED manifests. A manifest is immutable
    * once its version directory exists ([[tryPublish]] renames a
    * uniquely-tagged temp aside and losers retry at the next number),
    * so its collected rows can be served as a [[org.apache.spark.sql.
    * catalyst.plans.logical.LocalRelation]]-backed frame forever:
    * every re-read of the same (dir, version) — the fence check, the
    * parent union in a commit, file listing, manifest pruning — then
    * runs DRIVER-SIDE (Catalyst's ConvertToLocalRelation folds
    * Filter/Project over a local relation at optimization time, so a
    * `manifest.filter(...).select("path").collect()` launches ZERO
    * jobs) instead of re-scanning the manifest parquet. A multi-action
    * storage tick re-reads manifests 5-10×; this converts all but the
    * first touch into in-memory work.
    *
    * Scale guard: only manifests at most [[CacheEntryMaxDiskBytes]]
    * ON DISK are cached (a 100 TB table's million-file manifest keeps
    * the distributed scan path), the whole cache is LRU-bounded by
    * [[CacheMaxBytes]] of estimated in-memory size, and EVERY cache
    * hit re-verifies the manifest directory still exists, so
    * [[expire]]d versions fail exactly as an uncached read would.
    * Concurrent writers on other JVMs are safe by immutability: a
    * version's content never changes after publish. */
  private val CacheEntryMaxDiskBytes = 8L * 1024 * 1024
  private val CacheMaxBytes = 64L * 1024 * 1024
  private final case class CachedM(
    schema: org.apache.spark.sql.types.StructType,
    rows: Array[org.apache.spark.sql.Row], memBytes: Long,
    fingerprint: String = "")
  private val mCache =
    new java.util.LinkedHashMap[String, CachedM](64, 0.75f, true)
  private var mCacheBytes = 0L

  /** Last observed merge-churn width per table (TRUE = the previous
    * merge's distinct-key probe fit the ≤[[DriverPointEvalAbove]]
    * driver budget): wide tables skip the probe job and go straight to
    * the exact distributed key↔stats join. Both paths are exact; a
    * misprediction costs one bounded extra job (narrow→wide) or keeps
    * the join path (wide→narrow). Crudely bounded like the spec memo. */
  private val mergeWidthMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** File count of the LATEST version, answered ONLY when the manifest
    * is already in the driver cache — zero FS data reads, zero jobs
    * (one listStatus for the version number). None ⇒ the caller must
    * not spend anything on the answer (an uncached read here would
    * cost more than the optimizations this gates save). */
  private[sources] def cachedFileCount(spark: SparkSession,
                                       dir: String): Option[Int] =
    latestVersion(spark, dir).flatMap(cached(spark, dir, _)).map(_.rows.length)

  private def cached(spark: SparkSession, dir: String, v: Long): Option[CachedM] = {
    val key = fs(spark, dir).makeQualified(manifestPath(dir, v)).toString
    mCache.synchronized(Option(mCache.get(key)))
  }

  /** Row count per data file of manifest `v`, answered ONLY from the
    * driver cache, like [[cachedFileCount]]: None when the manifest is
    * not cached or a file's count is unknown (legacy -1). */
  private[sources] def cachedFileRows(spark: SparkSession, dir: String,
                                      v: Long): Option[Map[String, Long]] =
    cached(spark, dir, v).flatMap { cm =>
      val (pi, ri) = (cm.schema.fieldIndex("path"), cm.schema.fieldIndex("rows"))
      val rows = cm.rows.map(r =>
        r.getString(pi) -> (if (r.isNullAt(ri)) -1L else r.getLong(ri)))
      if (rows.exists(_._2 < 0L)) None else Some(rows.toMap)
    }

  /** Rows of the latest version from the driver cache; 0 for a table
    * with no version yet. */
  private[sources] def cachedLatestRows(spark: SparkSession,
                                        dir: String): Option[Long] =
    latestVersion(spark, dir) match {
      case None => Some(0L)
      case Some(v) => cachedFileRows(spark, dir, v).map(_.values.sum)
    }

  /** Identity of a version directory's CONTENT, not just its
    * existence: file names + lengths + mtimes, one listStatus (the
    * same FS call the old exists() check paid). Immutability covers a
    * PUBLISHED version's content, but not a table directory deleted
    * out-of-band and recreated at the same path (tests reusing dirs,
    * drop-and-reingest) — same version number, different manifest. A
    * hit whose fingerprint moved is evicted and re-read instead of
    * silently serving the old table's rows. */
  private def dirFingerprint(
      sts: Array[org.apache.hadoop.fs.FileStatus]): String =
    sts.filter(_.isFile).map(s =>
        s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")

  private def cachePut(key: String, cm: CachedM): Unit =
    mCache.synchronized {
      if (cm.memBytes > CacheMaxBytes) return
      val prev = mCache.put(key, cm)
      mCacheBytes += cm.memBytes - Option(prev).map(_.memBytes).getOrElse(0L)
      val it = mCache.entrySet().iterator()
      while (mCacheBytes > CacheMaxBytes && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) { mCacheBytes -= e.getValue.memBytes; it.remove() }
      }
    }

  /** The collected rows of manifest `v`, from cache or by one read —
    * None when the manifest is over the size guard (callers keep the
    * distributed path). Throws like an uncached read would when the
    * version does not exist (expired or never published). */
  private def manifestRows(spark: SparkSession, dir: String,
                           v: Long): Option[CachedM] = {
    val p = manifestPath(dir, v)
    val f = fs(spark, dir)
    val key = f.makeQualified(p).toString
    val hit = mCache.synchronized(Option(mCache.get(key)))
    def evict(): Unit = mCache.synchronized {
      val prev = mCache.remove(key)
      if (prev != null) mCacheBytes -= prev.memBytes
    }
    def loadThrough(): Option[CachedM] = {
      if (!f.exists(p)) throw new IllegalArgumentException(
        s"no manifest v$v at $dir (expired?)")
      val sts = f.listStatus(p)
      val disk = sts.filter(_.isFile).map(_.getLen).sum
      if (disk > CacheEntryMaxDiskBytes) None
      else {
        val df = spark.read.parquet(p.toString)
        val rows = graft.Jobs.labeled(spark, "snap:manifest-load") {
          df.collect()
        }
        // blooms dominate and are incompressible, strings compress:
        // 4x on-disk is a conservative in-memory estimate
        val cm = CachedM(df.schema, rows, math.max(1024L, disk * 4),
          dirFingerprint(sts))
        cachePut(key, cm)
        Some(cm)
      }
    }
    hit match {
      case Some(cm) =>
        // revalidate CONTENT, not just existence (see dirFingerprint):
        // one listStatus, the same cost the exists() check paid
        val sts = try f.listStatus(p) catch {
          case _: java.io.FileNotFoundException => null
        }
        if (sts == null) {
          evict()
          throw new IllegalArgumentException(
            s"no manifest v$v at $dir (expired?)")
        }
        if (cm.fingerprint.nonEmpty && dirFingerprint(sts) == cm.fingerprint)
          Some(cm)
        else { // recreated-in-place (or legacy unfingerprinted): re-read
          evict()
          loadThrough()
        }
      case None => loadThrough()
    }
  }

  private def manifestRoot(dir: String) = s"${dir.stripSuffix("/")}/_manifests"
  private def dataRoot(dir: String) = s"${dir.stripSuffix("/")}/data"
  private def manifestPath(dir: String, v: Long) =
    new Path(manifestRoot(dir), f"v$v%012d")

  /** Highest published snapshot version, if any. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] = {
    val root = new Path(manifestRoot(dir))
    val f = fs(spark, dir)
    if (!f.exists(root)) None
    else {
      val vs = f.listStatus(root).map(_.getPath.getName)
        .filter(_.matches("v\\d{12}")).map(_.drop(1).toLong)
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** `version`, or the latest one when None. */
  private def resolve(spark: SparkSession, dir: String,
                      version: Option[Long]): Long =
    version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $dir"))

  /** Highest version published at or before `tsMillis` — wall-clock
    * time travel ("the table as the 09:00 dashboard saw it"): pass
    * the result to [[read]]. Publish time is the `committed_at`
    * wall-clock stamped INSIDE the manifest by [[tryPublish]] —
    * filesystem-independent (directory-mtime semantics vary across
    * object stores), stamped when the manifest was written aside,
    * instants before its rename made it visible. Manifests from
    * before the column existed fall back to the directory mtime.
    * Clock skew between racing writers can still make the mapping
    * non-monotonic; reproducible-run bookkeeping should pin explicit
    * versions — this is for human retrospection. */
  def versionAsOf(spark: SparkSession, dir: String,
                  tsMillis: Long): Option[Long] = {
    val root = new Path(manifestRoot(dir))
    val f = fs(spark, dir)
    if (!f.exists(root)) return None
    val stats = f.listStatus(root)
      .filter(_.getPath.getName.matches("v\\d{12}"))
      .sortBy(-_.getPath.getName.drop(1).toLong)
    // newest-first: the first version committed at-or-before the ask
    // is the answer — on the common "as of recently" ask this reads
    // one or two manifest footers, not the whole history
    stats.collectFirst {
      case s if {
        val v = s.getPath.getName.drop(1).toLong
        val at = manifestRows(spark, dir, v) match {
          case Some(cm) if cm.schema.fieldNames.contains("committed_at") =>
            val i = cm.schema.fieldIndex("committed_at")
            val ts = cm.rows.iterator.filterNot(_.isNullAt(i)).map(_.getLong(i))
            if (ts.isEmpty) s.getModificationTime else ts.max
          case Some(_) => s.getModificationTime
          case None =>
            val m = manifest(spark, dir, Some(v))
            if (m.columns.contains("committed_at"))
              m.select(max(col("committed_at"))).head().getLong(0)
            else s.getModificationTime
        }
        at <= tsMillis
      } => s.getPath.getName.drop(1).toLong
    }
  }

  /** The manifest table of a snapshot (latest by default): one row
    * per data file — (path, rows, stats_min, stats_max, smin_<c>/
    * smax_<c> per stats column, blooms, bloom_types, version, parent,
    * batch_id, committed_at). */
  def manifest(spark: SparkSession, dir: String,
               version: Option[Long] = None): DataFrame = {
    val v = resolve(spark, dir, version)
    manifestRows(spark, dir, v) match {
      case Some(cm) => spark.createDataFrame(
        java.util.Arrays.asList(cm.rows: _*), cm.schema)
      case None => spark.read.parquet(manifestPath(dir, v).toString)
    }
  }

  /** Write `df` into a fresh immutable commit directory and return
    * its per-file manifest entries (path, rows, stats_min, stats_max)
    * — the stats pass re-reads ONLY the stats columns (columnar
    * projection) of the new files. Stats keep each column's NATIVE
    * type (numeric, timestamp, date, or string), so [[readPruned]]
    * skips files for time-keyed and string-keyed tables too — the
    * reference's data is timestamp-keyed, where manifest pruning
    * matters most.
    *
    * The FIRST stats column doubles as the legacy `stats_min` /
    * `stats_max` pair (older manifests and every pre-existing reader
    * use it); EVERY stats column additionally gets a named, typed
    * manifest column pair `smin_<c>` / `smax_<c>` — a map cannot hold
    * a timestamp range and a string range at once, so multi-column
    * stats are dynamic typed manifest columns, the same shape Iceberg
    * gives per-column bounds. [[readPrunedBy]] ANDs range tests over
    * any subset of them. The stats types are part of the table's
    * manifest schema: use the same columns for every commit to a
    * given table ([[alignStats]] coerces stray mismatches to the
    * established types; a commit that skips a column contributes
    * typed nulls — those files are simply never pruned by it). */
  private def writeDataFiles(df: DataFrame, dir: String,
                             statsCols: Seq[String],
                             bloomCols: Seq[String] = Nil,
                             bloomFpp: Double = 0.01): (String, DataFrame) = {
    val spark = df.sparkSession
    val commitId = java.util.UUID.randomUUID().toString
    val commitDir = s"${dataRoot(dir)}/$commitId"
    // for every declared bloom column, also ask parquet for its
    // IN-FILE bloom filter — scans with key = literal predicates then
    // skip row groups inside the files the manifest could not prune
    val writer = bloomCols.foldLeft(df.write) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    graft.Jobs.labeled(spark, "snap:data-write") { writer.parquet(commitDir) }
    // bloomless commits take the footer fast path: entries computed
    // driver-side from the files' own metadata, no second scan
    if (bloomCols.isEmpty) {
      val fast = graft.Jobs.labeled(spark, "snap:footer-stats") {
        footerEntries(spark, dir, commitDir, statsCols, df.schema)
      }
      fast match {
        case Some(entries) => return (commitId, entries)
        case None => ()
      }
    }
    // a zero-row commit (e.g. a merge whose every affected row was
    // deleted) writes only _SUCCESS — no part files to read schema
    // from; its manifest contribution is an empty, correctly-typed
    // entry set computed from `df`'s own schema
    val f = fs(spark, dir)
    val hasParts = f.exists(new Path(commitDir)) &&
      f.listStatus(new Path(commitDir)).exists(_.getPath.getName.endsWith(".parquet"))
    val written =
      if (hasParts) spark.read.schema(fileReadSchema(df.schema))
        .parquet(commitDir)
      else df.filter(lit(false))
    // every file in one commit shares a schema — record it in the
    // manifest so schema-shaped asks (diff's template, the change
    // feed's query-start schema) never have to open data footers
    (commitId,
      fileEntries(written, statsCols, bloomCols, bloomFpp,
        Some(written.schema.json)))
  }

  /** Manifest entries computed DRIVER-SIDE from the just-written
    * files' parquet FOOTERS — row counts and per-column min/max were
    * already paid for by the write, so the commit's stats pass needs
    * no second distributed scan of the data: the entries become a
    * local relation and the manifest write is a one-task job that
    * opens no data file. Used only when no manifest blooms are asked
    * for (blooms genuinely need a scan).
    *
    * Exactness rules (bit-identical to the scan the footer replaces,
    * or BAIL to the scan — never approximate):
    *  - supported stats types: integral, string, boolean, date,
    *    timestamp (micros, both LTZ and NTZ). Float/double/decimal
    *    fall back — parquet's FP stats have NaN/-0.0 edge semantics
    *    the scan does not share.
    *  - string min/max compare as UNSIGNED BYTES (parquet's UTF8
    *    order == Spark's UTF8String order); parquet drops oversized
    *    (>4 KB) binary stats entirely, which reads as "no value" and
    *    bails; so does a configured `parquet.statistics.truncate.length`
    *    (truncated binary stats are surrogate bounds, not values).
    *  - a block whose stats are missing/unverifiable bails the whole
    *    commit to the scan path; an all-null column yields null
    *    min/max exactly like `min(col)` over it.
    *  - zero-row part files contribute NO entry — the scan path's
    *    `groupBy(input_file_name())` never saw their group either.
    *  - the path string is built the way `input_file_name()` builds
    *    it (the qualified path's URI string), so manifest paths stay
    *    byte-comparable with discovery-time `input_file_name()`
    *    output — ManifestCacheSpec pins the equivalence. */
  private def footerEntries(spark: SparkSession, dir: String,
                            commitDir: String, statsCols: Seq[String],
                            dfSchema: org.apache.spark.sql.types.StructType)
      : Option[DataFrame] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def supported(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
           BooleanType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    if (!statsCols.forall(c => dfSchema.fieldNames.contains(c) &&
        supported(dfSchema(c).dataType))) return None
    // a writer-side `parquet.statistics.truncate.length` makes binary
    // chunk stats SURROGATE bounds (prefix-cut min, incremented max):
    // still conservative, but no longer the exact values the scan
    // records — take the scan instead
    val truncKey = "parquet.statistics.truncate.length"
    if ((Option(spark.sparkContext.hadoopConfiguration.get(truncKey)) ++
        spark.conf.getOption(truncKey))
        .exists(_.trim.toLong < Int.MaxValue)) return None
    val f = fs(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = f.listStatus(new Path(commitDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    if (parts.isEmpty) return None
    val statFields = statsCols.map(dfSchema(_))
    // internal canonical form per type: Long for integral/temporal,
    // Array[Byte] for strings, Boolean — converted to the external
    // Catalyst value only after the cross-block fold
    def lessThan(dt: DataType, a: Any, b: Any): Boolean = dt match {
      case StringType =>
        val (x, y) = (a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c < 0
          i += 1
        }
        x.length < y.length
      case BooleanType => !a.asInstanceOf[Boolean] && b.asInstanceOf[Boolean]
      case _ => a.asInstanceOf[Long] < b.asInstanceOf[Long]
    }
    def extern(dt: DataType, v: Any): Any = dt match {
      case null => null
      case _ if v == null => null
      case ByteType => v.asInstanceOf[Long].toByte
      case ShortType => v.asInstanceOf[Long].toShort
      case IntegerType => v.asInstanceOf[Long].toInt
      case LongType => v
      case BooleanType => v
      case StringType =>
        new String(v.asInstanceOf[Array[Byte]],
          java.nio.charset.StandardCharsets.UTF_8)
      case DateType => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Long]))
      case TimestampType =>
        val us = v.asInstanceOf[Long]
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case TimestampNTZType =>
        val us = v.asInstanceOf[Long]
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case _ => null
    }
    val schemaJson = fileReadSchema(dfSchema).json
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    for (st <- parts) {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val footer = try rd.getFooter finally rd.close()
      val blocks = footer.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      if (nRows > 0) {
        val mm: Seq[(Any, Any)] = statFields.map { fld =>
          var acc: (Any, Any) = null
          for (b <- blocks) {
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == fld.name).getOrElse(return None)
            // timestamps must be micros with the matching tz semantics
            fld.dataType match {
              case TimestampType | TimestampNTZType =>
                cc.getPrimitiveType.getLogicalTypeAnnotation match {
                  case t: org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimestampLogicalTypeAnnotation
                    if t.getUnit == org.apache.parquet.schema
                      .LogicalTypeAnnotation.TimeUnit.MICROS &&
                      t.isAdjustedToUTC ==
                        (fld.dataType == TimestampType) => ()
                  case _ => return None
                }
              case _ => ()
            }
            val s = cc.getStatistics
            if (s == null) return None
            if (!s.hasNonNullValue) {
              // legitimate only as a PROVABLY all-null block
              if (!s.isNumNullsSet || s.getNumNulls != b.getRowCount)
                return None
            } else {
              val (mn, mx): (Any, Any) = (fld.dataType, s) match {
                case (StringType,
                    bs: org.apache.parquet.column.statistics.BinaryStatistics) =>
                  (bs.genericGetMin.getBytes, bs.genericGetMax.getBytes)
                case (BooleanType,
                    bs: org.apache.parquet.column.statistics.BooleanStatistics) =>
                  (Boolean.box(bs.genericGetMin), Boolean.box(bs.genericGetMax))
                case (ByteType | ShortType | IntegerType | DateType,
                    is: org.apache.parquet.column.statistics.IntStatistics) =>
                  (Long.box(is.genericGetMin.toLong),
                    Long.box(is.genericGetMax.toLong))
                case (LongType | TimestampType | TimestampNTZType,
                    ls: org.apache.parquet.column.statistics.LongStatistics) =>
                  (Long.box(ls.genericGetMin), Long.box(ls.genericGetMax))
                case _ => return None
              }
              acc =
                if (acc == null) (mn, mx)
                else (if (lessThan(fld.dataType, mn, acc._1)) mn else acc._1,
                  if (lessThan(fld.dataType, acc._2, mx)) mx else acc._2)
            }
          }
          if (acc == null) (null, null)
          else (extern(fld.dataType, acc._1), extern(fld.dataType, acc._2))
        }
        // same path string input_file_name() produces: the qualified
        // path's URI form
        val pathStr = f.makeQualified(st.getPath).toUri.toString
        val legacy: (Any, Any) =
          if (statFields.isEmpty) (null, null) else mm.head
        out += org.apache.spark.sql.Row.fromSeq(
          Seq(pathStr, nRows, legacy._1, legacy._2) ++
            mm.flatMap(t => Seq(t._1, t._2)) ++
            Seq(null, null, schemaJson))
      }
    }
    val headType: DataType =
      statFields.headOption.map(_.dataType).getOrElse(DoubleType)
    val schema = StructType(
      Seq(StructField("path", StringType), StructField("rows", LongType),
        StructField("stats_min", headType), StructField("stats_max", headType)) ++
      statFields.flatMap(fld => Seq(
        StructField(s"smin_${fld.name}", fld.dataType),
        StructField(s"smax_${fld.name}", fld.dataType))) ++
      Seq(
        StructField("blooms",
          MapType(StringType, ArrayType(LongType, containsNull = true))),
        StructField("bloom_types", MapType(StringType, StringType)),
        StructField("file_schema", StringType)))
    Some(spark.createDataFrame(out.asJava, schema))
  }

  /** What `spark.read.parquet` would infer for files just written from
    * a frame with this schema — everything nullable (file sources are
    * always read nullable, recursively) and field metadata dropped —
    * so supplying it skips the footer-sampling inference pass without
    * changing the recorded `file_schema` byte for byte. */
  private def fileReadSchema(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def clean(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, clean(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(clean(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(clean(m.keyType), clean(m.valueType), valueContainsNull = true)
      case other => other
    }
    clean(st).asInstanceOf[StructType]
  }

  /** Per-file manifest entries (path, rows, stats, blooms) computed by
    * ONE grouped scan over `written` that reads only the stats/bloom
    * columns — shared by the write path and [[analyzeCommit]]'s
    * metadata-only retrofit. */
  private def fileEntries(written: DataFrame, statsCols: Seq[String],
                          bloomCols: Seq[String],
                          bloomFpp: Double,
                          schemaJson: Option[String] = None): DataFrame = {
    val statsAgg = (statsCols.headOption match {
      case Some(c) => Seq(count(lit(1L)).as("rows"),
        min(col(c)).as("stats_min"),
        max(col(c)).as("stats_max"))
      case None => Seq(count(lit(1L)).as("rows"),
        lit(null).cast("double").as("stats_min"),
        lit(null).cast("double").as("stats_max"))
    }) ++ statsCols.flatMap(c => Seq(
      min(col(c)).as(s"smin_$c"), max(col(c)).as(s"smax_$c")))
    val bloomAgg =
      if (bloomCols.isEmpty)
        Seq(lit(null).cast("map<string,array<bigint>>").as("blooms"),
          lit(null).cast("map<string,string>").as("bloom_types"))
      else {
        import graft.functions.{BloomBuildAgg, BloomUtil, ColumnBridge}
        // size for the largest new file (one shared layout so the
        // per-file aggregation buffers merge); the budget guard keeps
        // the whole commit's manifest bloom payload driver-review
        // sized — beyond it, rely on the in-file parquet blooms
        val counts = written.groupBy(input_file_name()).count()
          .agg(coalesce(max("count"), lit(1L)), count(lit(1))).head()
        val (maxRows, nFiles) = (counts.getLong(0), counts.getLong(1))
        val (bits, k) = BloomUtil.sizing(math.max(1L, maxRows), bloomFpp)
        require(bits.toLong / 8 * nFiles * bloomCols.size <= 256L * 1024 * 1024,
          s"manifest blooms for this commit would need ${bits / 8}B x $nFiles files" +
            s" x ${bloomCols.size} columns — over the 256 MB manifest budget;" +
            " raise bloomFpp, write larger files, declare fewer bloom columns," +
            " or rely on the in-file parquet blooms alone")
        def filterOf(c: String) = ColumnBridge.column(
          BloomBuildAgg(ColumnBridge.expression(xxhash64(col(c))), bits, k)
            .toAggregateExpression())
        // one bloom per declared column, keyed by column name; the
        // source types ride along — xxhash64 is type-sensitive, so
        // readPoint must hash its probe value AS the column's type
        Seq(
          map_from_arrays(
            array(bloomCols.map(lit(_)): _*),
            array(bloomCols.map(filterOf): _*)).as("blooms"),
          map_from_arrays(
            array(bloomCols.map(lit(_)): _*),
            array(bloomCols.map(c =>
              lit(written.schema(c).dataType.catalogString)): _*)).as("bloom_types"))
      }
    written.groupBy(input_file_name().as("path"))
      .agg((statsAgg ++ bloomAgg).head, (statsAgg ++ bloomAgg).tail: _*)
      .withColumn("file_schema",
        schemaJson.map(lit(_)).getOrElse(lit(null).cast("string")))
  }

  /** Retrofit stats and/or manifest blooms onto an EXISTING table as a
    * METADATA-ONLY commit: the current snapshot's data files are
    * re-listed in a new manifest carrying freshly computed per-file
    * stats — not one data file is rewritten or moved, and time travel
    * to earlier versions is untouched. One grouped scan projecting
    * only the named columns pays for it. This is the upgrade path for
    * a table ingested before anyone chose a `statsCol`:
    * [[readPruned]]/[[readPoint]]/[[mergeCommit]] start pruning it the
    * moment the new manifest publishes. (In-file parquet blooms
    * cannot be added without rewriting data; MANIFEST blooms — the
    * file-skipping layer — can, and are.) Optimistic-retry safe
    * against concurrent commits: a collision recomputes against the
    * new latest snapshot. */
  def analyzeCommit(spark: SparkSession, dir: String,
                    statsCols: Seq[String],
                    bloomCols: Seq[String] = Nil,
                    bloomFpp: Double = 0.01): Long = {
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      "analyzeCommit needs at least one stats or bloom column")
    val tag = s"analyze-${java.util.UUID.randomUUID()}"
    while (true) {
      val v = latestVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no snapshots at $dir"))
      val written = readFiles(spark, dir, v, filesOf(spark, dir, Some(v)))
      val entries0 = fileEntries(written, statsCols, bloomCols, bloomFpp)
      // the retrofit re-lists EXISTING files: their per-file schemas
      // are whatever the original commits recorded — carry them by
      // path rather than stamping this read's single inferred schema
      // over possibly mixed generations
      val m = manifest(spark, dir, Some(v))
      val entries =
        if (m.columns.contains("file_schema"))
          entries0.drop("file_schema")
            .join(m.select(col("path"), col("file_schema")), Seq("path"), "left")
        else entries0
      if (tryPublish(spark, dir, tag, entries, v + 1)) return v + 1
    }
    -1L // unreachable
  }

  /** The manifest-entry columns, tolerating manifests written before
    * a column existed (older snapshots read as typed nulls — a file
    * without a bloom/stat is simply never pruned by it). The named
    * per-column stats pairs (`smin_*` / `smax_*`) vary per table, so
    * whichever are present ride along, in sorted order for a
    * deterministic manifest schema. */
  private def entryCols(df: DataFrame): DataFrame = {
    val withBloom =
      if (df.columns.contains("blooms")) df
      else df.withColumn("blooms", lit(null).cast("map<string,array<bigint>>"))
        .withColumn("bloom_types", lit(null).cast("map<string,string>"))
    val withSchema =
      if (withBloom.columns.contains("file_schema")) withBloom
      else withBloom.withColumn("file_schema", lit(null).cast("string"))
    val named = withSchema.columns
      .filter(c => c.startsWith("smin_") || c.startsWith("smax_")).sorted
    withSchema.select(
      (Seq("path", "rows", "stats_min", "stats_max") ++ named ++
        Seq("blooms", "bloom_types", "file_schema")).map(col): _*)
  }

  /** Cast `entries`' stats columns to the types `parent`'s manifest
    * already uses, so append commits union cleanly even when a commit
    * passes a different (or no) `statsCol` than the table was created
    * with — e.g. a stats-less compaction appending into a
    * timestamp-keyed table contributes typed nulls, not a schema
    * conflict. Named stats columns present on only one side are left
    * for the caller's `unionByName(allowMissingColumns = true)` to
    * null-fill. */
  private def alignStats(entries: DataFrame, parent: DataFrame): DataFrame = {
    val want = parent.schema
    val e = entryCols(entries)
    def isStats(c: String) = c == "stats_min" || c == "stats_max" ||
      c.startsWith("smin_") || c.startsWith("smax_")
    e.select(e.columns.map { c =>
      if (isStats(c) && want.fieldNames.contains(c))
        col(c).cast(want(c).dataType).as(c)
      else col(c)
    }: _*)
  }

  /** The manifest rows when the whole entries plan is already
    * DRIVER-LOCAL — a LocalRelation (footer-stats commit, attempt 0)
    * or a union of LocalRelations (tick merge: cached parent manifest
    * ∪ footer entries). Collecting these launches ZERO jobs
    * (LocalTableScan's executeCollect is driver-side; the union is
    * collected per child for the same reason). Any other plan shape —
    * an over-budget manifest on the distributed path, a scan-derived
    * stats pass — returns None and the caller keeps the Spark write.
    * This is the scale guard: rows come back only when they already
    * sat in driver memory. */
  private def localEntryRows(df: DataFrame)
      : Option[Array[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(df.collect())
      case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
        val spark = df.sparkSession
        Some(u.children.toArray.flatMap(c =>
          graft.plans.DatasetBridge.ofRows(spark, c).collect()))
      case _ => None
    }
  }

  /** Write `rows` as ONE parquet file under `dir`, DRIVER-SIDE — no
    * Spark job, no write-command planning — via Spark's own parquet
    * output path (`ParquetFileFormat.prepareWrite` + the row encoder),
    * so the bytes match what `df.coalesce(1).write.parquet` would have
    * produced: same schema conversion, same compression codec, same
    * timestamp/decimal physical types, same SQLConf-driven knobs. Used
    * only for driver-local manifests (a dozen KB); data files keep the
    * distributed writer. */
  /** Prepared writer factories keyed by (parquet-relevant confs,
    * schema): `prepareWrite` + `newHadoopConf` copy the whole session
    * conf (and Configuration's DEPRECATION lock is JVM-global — a
    * per-publish copy contends across concurrent refresh chains), but
    * their output depends only on the schema and a handful of parquet
    * confs, and a process publishes the same few manifest schemas over
    * and over. Bounded: cleared past 256 entries. */
  private val writerFactoryCache = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.execution.datasources.OutputWriterFactory,
             org.apache.hadoop.conf.Configuration)]()

  private def writeParquetDriverSide(spark: SparkSession, f: FileSystem,
      dir: Path, schema: org.apache.spark.sql.types.StructType,
      rows: Array[org.apache.spark.sql.Row]): Unit = {
    import org.apache.hadoop.mapreduce.{Job, TaskType, TaskAttemptID, TaskID, JobID}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    // getOption, not get-with-default: a registered conf VALIDATES the
    // fallback value too, and "" is not in the enum for e.g.
    // outputTimestampType
    val key = Seq(
      "spark.sql.parquet.compression.codec",
      "spark.sql.parquet.outputTimestampType",
      "spark.sql.parquet.writeLegacyFormat",
      "spark.sql.parquet.datetimeRebaseModeInWrite")
      .map(k => spark.conf.getOption(k).getOrElse(""))
      .mkString("|") + "|" + schema.json
    if (writerFactoryCache.size > 256) writerFactoryCache.clear()
    val (factory, conf) = writerFactoryCache.computeIfAbsent(key, _ => {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val fac = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      (fac, job.getConfiguration)
    })
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graft-manifest", 0),
        TaskType.MAP, 0), 0))
    f.mkdirs(dir)
    val file = new Path(dir, "part-00000-" +
      java.util.UUID.randomUUID().toString + factory.getFileExtension(ctx))
    // INTERPRETED external→internal conversion (what createDataFrame
    // uses), NOT an encoder serializer: the encoder generates a codegen
    // projection per distinct schema, and a session publishing hundreds
    // of distinct manifest schemas would cycle Spark's bounded global
    // codegen cache — evicting the QUERIES' own generated classes and
    // degrading the whole session. A dozen manifest rows never need
    // codegen.
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    val w = factory.newInstance(file.toString, schema, ctx)
    try rows.foreach(r =>
      w.write(toInternal(r).asInstanceOf[
        org.apache.spark.sql.catalyst.InternalRow]))
    finally w.close()
    // committer-layout parity (harmless marker some tools look for)
    f.create(new Path(dir, "_SUCCESS"), true).close()
  }

  /** One publish attempt: write the manifest aside, rename it to
    * `version`, then VERIFY the rename actually created the version.
    * Hadoop's directory rename is not exclusive — with the local FS
    * (and HDFS), `rename(tmp, vN)` when `vN` already exists returns
    * TRUE and moves `tmp` INSIDE `vN` as a hidden child — so a bare
    * rename would let the loser of a race believe it committed while
    * its manifest is invisible to readers (a silent lost commit, and
    * a broken exactly-once fence). The loser detects the nesting
    * (its uniquely-tagged tmp dir now sits under `vN`), removes the
    * orphan, and reports failure so the caller retries at the next
    * version. The nested dir is dot-prefixed, so even between the
    * rename and the cleanup readers of `vN` never see it (hidden-file
    * filter). `batchId` fences streaming replays (see
    * [[commitStreamBatch]]); the manifest records max(batchId,
    * parent's watermark), so the fence survives interleaved batch
    * commits (compaction, merges) that pass -1. */
  private[graft] def tryPublish(spark: SparkSession, dir: String, tag: String,
                         entries: DataFrame, version: Long,
                         batchId: Long = -1L): Boolean =
      graft.Jobs.labeled(spark, "snap:publish") {
    val f = fs(spark, dir)
    f.mkdirs(new Path(manifestRoot(dir)))
    val carried = math.max(batchId,
      if (version == 0L) -1L else batchWatermark0(spark, dir, version - 1))
    val full = entryCols(entries)
      .withColumn("version", lit(version))
      .withColumn("parent", lit(version - 1L))
      .withColumn("batch_id", lit(carried))
      // commit wall-clock stamped INSIDE the manifest: filesystem-
      // independent input for versionAsOf (directory mtime semantics
      // vary across object stores; a parquet column does not)
      .withColumn("committed_at", lit(System.currentTimeMillis()))
    val tmp = new Path(manifestRoot(dir), s".tmp-$tag")
    f.delete(tmp, true)
    // DRIVER-SIDE manifest write for the common tick shape (cached
    // parent manifest ∪ footer-stats entries — all LocalRelations):
    // replaces a per-publish Spark write job + its command planning
    // with a bounded local parquet write. Falls back to the normal
    // write for distributed entries (over-budget manifests, scan-path
    // stats) or on any local-write failure.
    val localRows = localEntryRows(full)
    val wroteLocal = localRows match {
      case Some(rows) =>
        try { writeParquetDriverSide(spark, f, tmp, full.schema, rows); true }
        catch {
          case scala.util.control.NonFatal(_) =>
            f.delete(tmp, true); false
        }
      case None => false
    }
    if (!wroteLocal) full.coalesce(1).write.parquet(tmp.toString)
    val target = manifestPath(dir, version)
    val renamed = f.rename(tmp, target)
    val nested = new Path(target, s".tmp-$tag")
    val ok = renamed && !f.exists(nested)
    if (renamed && !ok) f.delete(nested, true) // we lost: reap our orphan
    if (!renamed) f.delete(tmp, true)
    if (ok && wroteLocal) localRows.foreach { rows =>
      // prime the manifest cache with the published content — the
      // rows ARE what a reader would collect from this version (same
      // bytes we just wrote), so the NEXT tick's fence check / parent
      // union / file listing skips the first-touch manifest read too.
      // Same size guard and LRU bound as the read-through path; the
      // read path stores the parquet-read schema (all-nullable), so
      // match it via the same fileReadSchema shape readers infer.
      val sts = f.listStatus(target)
      val disk = sts.filter(_.isFile).map(_.getLen).sum
      if (disk <= CacheEntryMaxDiskBytes)
        cachePut(f.makeQualified(target).toString,
          CachedM(fileReadSchema(full.schema), rows,
            math.max(1024L, disk * 4), dirFingerprint(sts)))
    }
    ok
  }

  private def batchWatermark0(spark: SparkSession, dir: String,
                              v: Long): Long =
    graft.Jobs.labeled(spark, "snap:watermark") {
      batchWatermarkAt(spark, dir, v)
    }

  private def batchWatermarkAt(spark: SparkSession, dir: String, v: Long): Long =
    manifestRows(spark, dir, v) match {
      case Some(cm) if cm.schema.fieldNames.contains("batch_id") =>
        val i = cm.schema.fieldIndex("batch_id")
        val ids = cm.rows.iterator.filterNot(_.isNullAt(i)).map(_.getLong(i))
        if (ids.isEmpty) -1L else ids.max
      case Some(_) => -1L
      case None =>
        val m = manifest(spark, dir, Some(v))
        if (!m.columns.contains("batch_id")) -1L
        else m.select(max(col("batch_id"))).head().getLong(0)
    }

  /** Highest streaming batch id fenced into the snapshot history (-1
    * if none). Every manifest carries the running maximum, so the
    * latest one IS the high-water mark even after non-stream commits
    * (compaction, CDC merges) in between. */
  def lastCommittedBatch(spark: SparkSession, dir: String): Long =
    latestVersion(spark, dir) match {
      case None => -1L
      case Some(v) => batchWatermark0(spark, dir, v)
    }

  /** Exactly-once micro-batch append for `foreachBatch`: commit the
    * batch as a new snapshot UNLESS this `batchId` (or a later one)
    * is already in the table's history — after a crash, Structured
    * Streaming replays the last uncommitted-in-ITS-checkpoint batch,
    * and if the previous run died between our manifest rename and the
    * checkpoint write, the replayed batch is already durable here and
    * must be skipped, not appended twice. The fence rides IN the
    * manifest (same atomic rename as the data), so the marker can
    * never disagree with the data. Returns the committed version, or
    * None when fenced.
    *
    * {{{
    * stream.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
    *   Snapshots.commitStreamBatch(b, dir, id, statsCol = Some("ts"))
    *   ()
    * }.option("checkpointLocation", cp).start()
    * }}}
    */
  def commitStreamBatch(batch: DataFrame, dir: String, batchId: Long,
                        statsCol: Option[String] = None,
                        bloomCols: Seq[String] = Nil,
                        bloomFpp: Double = 0.01,
                        extraStatsCols: Seq[String] = Nil): Option[Long] = {
    val spark = batch.sparkSession
    if (lastCommittedBatch(spark, dir) >= batchId) return None
    val (commitId, newFiles) = writeDataFiles(batch, dir,
      statsCol.toSeq ++ extraStatsCols, bloomCols, bloomFpp)
    var attempt = latestVersion(spark, dir).map(_ + 1).getOrElse(0L)
    while (true) {
      // re-check the fence under the current version: a concurrent
      // replica may have fenced this batch while we wrote data files
      if (lastCommittedBatch(spark, dir) >= batchId) return None
      val entries =
        if (attempt == 0L) newFiles
        else {
          val parent = entryCols(manifest(spark, dir, Some(attempt - 1)))
          parent.unionByName(alignStats(newFiles, parent),
            allowMissingColumns = true)
        }
      if (tryPublish(spark, dir, commitId, entries, attempt, batchId))
        return Some(attempt)
      attempt += 1
    }
    None // unreachable
  }

  /** Commit `df` as a new snapshot. `overwrite = false` appends to
    * the current snapshot's files; `true` replaces them (the old
    * files stay on disk for time travel until [[expire]]). `statsCol`
    * names a column whose per-file min/max should ride in the
    * manifest for [[readPruned]]; `extraStatsCols` adds further
    * columns, each pruned independently by [[readPrunedBy]] — a table
    * clustered by time but also roughly partitioned by tenant skips
    * on BOTH dimensions. Returns the published version.
    *
    * Scale: the data write is one normal parquet job; the stats pass
    * is one columnar scan of the new files; the manifest write is one
    * tiny job. Nothing here holds per-row driver state. */
  def commit(df: DataFrame, dir: String, overwrite: Boolean = false,
             statsCol: Option[String] = None,
             bloomCols: Seq[String] = Nil,
             bloomFpp: Double = 0.01,
             extraStatsCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    graft.Jobs.labeled(spark, "snap:commit") {
    val (commitId, newFiles) = writeDataFiles(df, dir,
      statsCol.toSeq ++ extraStatsCols, bloomCols, bloomFpp)
    var attempt = latestVersion(spark, dir).map(_ + 1).getOrElse(0L)
    while (true) {
      val entries =
        if (overwrite || attempt == 0L) newFiles
        else {
          val parent = entryCols(manifest(spark, dir, Some(attempt - 1)))
          parent.unionByName(alignStats(newFiles, parent),
            allowMissingColumns = true)
        }
      if (tryPublish(spark, dir, commitId, entries, attempt)) return attempt
      attempt += 1
    }
    attempt // unreachable
    }
  }

  /** Merge a CDC batch into the snapshot table, rewriting ONLY the
    * files whose `pruneCol` stats range can contain a changed key —
    * Iceberg-style copy-on-write at file granularity. Change rows
    * carry the table schema plus `opCol` ('u' = upsert, 'd' =
    * delete) and `seqCol`; conflict resolution is last-writer-wins by
    * (seq, op) per key with existing rows ranked below every change —
    * the [[Cdc.applyChanges]] semantics, WITHOUT its immutable-
    * partition contract: a key always lives inside some file whose
    * stats range covers it, so every key a change names is found and
    * rewritten wherever it sits.
    *
    * `pruneCol` (default: the first key column) may be numeric,
    * timestamp, date, or string — the key join compares it against
    * the manifest stats in its native type — and
    * should be the column the table was committed/clustered by —
    * files without stats are conservatively rewritten. Untouched
    * files are carried into the new manifest by reference: a 1 GB
    * batch against a 100 TB table rewrites the few files its keys
    * land in. On a version collision the whole merge re-derives
    * against the new latest snapshot and retries. A merge whose table
    * rows plus change rows (a bound known without a job only for a
    * driver-local batch) fit [[TickBudget]] runs interpreted. */
  def mergeCommit(spark: SparkSession, dir: String, changes0: DataFrame,
                  keyCols: Seq[String], opCol: String = "op",
                  seqCol: String = "seq",
                  pruneCol: Option[String] = None,
                  bloomCols: Seq[String] = Nil,
                  bloomFpp: Double = 0.01,
                  batchId: Long = -1L,
                  extraStatsCols: Seq[String] = Nil,
                  clusterBy: Option[String] = None): Long = {
    val bound = for {
      table <- cachedLatestRows(spark, dir)
      batch <- changes0.queryExecution.analyzed.maxRows
    } yield table + batch
    TickBudget(spark, bound) { spark =>
    val changes = org.apache.spark.sql.GraftSessionAccess.rebase(spark, changes0)
    val dataCols = changes.columns.filterNot(c => c == opCol || c == seqCol)
    val pc = pruneCol.getOrElse(keyCols.head)
    require(dataCols.contains(pc), s"changes must carry $pc")
    val valueCols = dataCols.filterNot(keyCols.contains)
    val changeRows = changes.select(
      dataCols.map(col) :+ col(opCol) :+ col(seqCol): _*)
    rewriteAffected(spark, dir, changes, pc, batchId, bloomCols, bloomFpp,
        extraStatsCols, clusterBy) { base =>
      // existing rows rank below every change (op 'u' at the lowest seq)
      base.fold(changeRows)(_.select(dataCols.map(col) :+ lit("u").as(opCol) :+
          lit(Long.MinValue).as(seqCol): _*).unionByName(changeRows))
        .groupBy(keyCols.map(col): _*)
        .agg(max_by(struct((valueCols.map(col) :+ col(opCol)): _*),
          struct(col(seqCol), col(opCol))).as("__w"))
        .select(keyCols.map(col) ++ valueCols.map(c => col(s"__w.$c")) :+
          col(s"__w.$opCol"): _*)
        .filter(col(opCol) =!= "d")
        .select(dataCols.map(col): _*)
    }
    }
  }

  /** The copy-on-write loop behind [[mergeCommit]] and the agg-view
    * fold ([[IncrementalViews.refreshAgg]]). Under the `batchId` fence
    * it probes which files of the latest snapshot the `pc` keys of
    * `changes` can land in, hands those files' rows to `combine` (None
    * when there is no table yet or no file is affected), writes what
    * `combine` returns — the complete new rows of every key those
    * files held or `changes` names — and publishes it next to the
    * untouched files, carried by reference. A version collision
    * re-derives against the new latest. `changes` is O(churn): its row
    * count plus the affected files' rows bound the rewrite for the
    * single-file layout choice. Returns the published version, or -2
    * when `batchId` is already fenced. */
  private[sources] def rewriteAffected(spark: SparkSession, dir: String,
                                       changes: DataFrame, pc: String,
                                       batchId: Long = -1L,
                                       bloomCols: Seq[String] = Nil,
                                       bloomFpp: Double = 0.01,
                                       extraStatsCols: Seq[String] = Nil,
                                       clusterBy: Option[String] = None)
                                      (combine: Option[DataFrame] => DataFrame)
      : Long = graft.Jobs.labeled(spark, "snap:merge") {
    // the change batch is O(churn) by this loop's contract, and
    // its plan is executed THREE times below — the affected-key
    // distinct, the range partitioner's sample, and the final write —
    // so an unpersisted batch pays its (often expensive: a view
    // refresh's delta fold) lineage three times over. Persist it for
    // the duration of the merge; callers that already persisted keep
    // their own handle (storage level check — re-persisting would
    // just warn).
    val ownPersist =
      changes.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownPersist) changes.persist()
    try {
    while (true) {
      // fenced (streaming) merges re-check under the current version:
      // a concurrent replica may have applied this batch while we
      // derived the merge — -2 tells mergeStreamBatch "fenced"
      if (batchId >= 0 && lastCommittedBatch(spark, dir) >= batchId)
        return -2L
      // total change-batch rows, when the affected-key probe below
      // already counted them (≤64 distinct keys): -1 = unknown, the
      // small-rewrite bound pays its own count job
      var probedChangeRows = -1L
      val latest = latestVersion(spark, dir)
      val (kept, affected) = latest match {
        case None => (None: Option[DataFrame], Seq.empty[(String, Long)])
        case Some(v) =>
          val m = entryCols(manifest(spark, dir, Some(v)))
          // keys keep pc's native type — the between-comparison against
          // the (equally native-typed) stats range prunes timestamp,
          // date, and string keyed tables, not just numeric ones.
          // Prefer pc's NAMED stats pair when the manifest has one:
          // it is correct even when pc differs from the column behind
          // the legacy stats_min/stats_max pair
          val (mn, mx) =
            if (m.columns.contains(s"smin_$pc"))
              (col(s"smin_$pc"), col(s"smax_$pc"))
            else (col("stats_min"), col("stats_max"))
          // a file is affected if any changed key can sit in its range
          // (EXACT per-key probe — a range cover would merge gaps and
          // rewrite innocent files between scattered churned keys,
          // the spec-pinned 100 TB hazard), if it carries no stats
          // (cannot be ruled out), or if the key is NULL — stats
          // min/max ignore nulls, so no range can rule a null key in
          // or out of any file. `changes` is persisted above, so this
          // first execution doubles as its cache materialization.
          // The probe groups WITH per-key counts (same hash-aggregate
          // shuffle a plain distinct pays): a ≤64-key batch then also
          // knows its total row count driver-side, so the small-
          // rewrite bound below skips its separate count job.
          val keys = changes.groupBy(col(pc).as("__k"))
            .agg(count(lit(1)).as("__c"))
          val aff = graft.Jobs.labeled(spark, "merge:affected") {
            // SMALL-CHURN fast path: ≤64 distinct keys collect in one
            // bounded (cached) job and the between-evaluation runs
            // driver-side over the already-driver-local manifest rows
            // — no broadcast-join job. Past the budget, the exact
            // distributed per-key probe runs unchanged. Conservative
            // at every uncertainty: a null/uncomparable key or stat
            // marks the file affected (a spare rewrite is correct; a
            // missed one would split a key across files).
            // A table whose LAST merge was wide skips the probe job
            // outright (sticky memo — a view's churn width is a stable
            // property; a narrowed table just keeps the exact join
            // path, never a wrong answer).
            val probeFirst = !java.lang.Boolean.FALSE
              .equals(mergeWidthMemo.get(dir))
            val probeRows =
              if (probeFirst) keys.limit(DriverPointEvalAbove + 1).collect()
              else Array.empty[org.apache.spark.sql.Row]
            val probe = probeRows.map(_.get(0))
            if (probeFirst && probe.length <= DriverPointEvalAbove) {
              if (mergeWidthMemo.size > 4096) mergeWidthMemo.clear()
              mergeWidthMemo.put(dir, java.lang.Boolean.TRUE)
              probedChangeRows = probeRows.map(_.getLong(1)).sum
              val anyNullKey = probe.contains(null)
              val canonKeys = probe.toSeq.map(canonPoint)
              m.select(col("path"), col("rows"), mn, mx).collect().toSeq
                .filter { e =>
                  anyNullKey || e.isNullAt(2) || {
                    (canonPoint(e.get(2)), canonPoint(e.get(3))) match {
                      case (Some(lo), Some(hi)) => canonKeys.exists {
                        case Some(k) if k.getClass == lo.getClass &&
                            k.getClass == hi.getClass =>
                          cmpCanon(k, lo) >= 0 && cmpCanon(k, hi) <= 0
                        case _ => true // unknown key: keep the file
                      }
                      case _ => true // unknown stats: keep the file
                    }
                  }
                }
                .map(e => (e.getString(0),
                  if (e.isNullAt(1)) -1L else e.getLong(1)))
            } else {
              if (mergeWidthMemo.size > 4096) mergeWidthMemo.clear()
              mergeWidthMemo.put(dir, java.lang.Boolean.FALSE)
              keys.join(broadcast(m),
                  col("__k").between(mn, mx) ||
                    mn.isNull || col("__k").isNull)
                .select(col("path"), col("rows")).distinct().collect()
                .map(r => (r.getString(0),
                  if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
            }
          }
          val keptEntries =
            if (aff.isEmpty) m
            else m.filter(!col("path").isin(aff.map(_._1): _*))
          (Some(keptEntries), aff)
      }
      val merged = combine(
        if (affected.isEmpty) None
        else Some(readFiles(spark, dir, latest.get, affected.map(_._1))))
      // clustered merge (same convention as compactCommit): the
      // grouped merge output is hash-scattered, so without reshaping
      // every rewritten file's pruneCol range spans the key space and
      // the NEXT merge prunes nothing — range-partition + sort to keep
      // the rewritten files' stats ranges tiling.
      // The range partitioner SAMPLES its input — a second full
      // execution of the merge plan (re-reading every affected file)
      // on top of the write's own — so the merged rows (O(affected
      // files), the exact bytes the write materializes anyway) are
      // persisted across the sample + write pair
      val clustered = clusterBy.isDefined
      try {
        // SMALL-REWRITE fast path: when the merged rewrite provably
        // fits ONE target-sized file, a single sorted partition gives
        // the same layout guarantee (tight, tiling stats — it IS one
        // file) without repartitionByRange's sampling pass + shuffle
        // (2 extra jobs + an AQE round per merge; the tick-sized
        // merges of maintained views are ALL this case). Bound known
        // DRIVER-SIDE: affected-file rows come from the manifest, the
        // change-batch count is one job over the already-persisted
        // changes frame. The threshold mirrors compactCommit's
        // targetRows default — housekeeping would squash this tick's
        // output into one file anyway. A legacy manifest without row
        // counts (rows = -1) keeps the range-partitioned path.
        val singleFileMaxRows = spark.conf
          .getOption("spark.graft.merge.singleFileMaxRows")
          .map(_.toLong).getOrElse(4L * 1000 * 1000)
        val smallRewrite = clustered && {
          val affRows = affected.map(_._2)
          affRows.forall(_ >= 0L) && {
            val bound = affRows.sum +
              (if (probedChangeRows >= 0L) probedChangeRows
               else changes.count())
            bound <= singleFileMaxRows
          }
        }
        // the range partitioner SAMPLES its input — a second full
        // execution of the merge plan — so the range-partitioned path
        // persists the merged rows across the sample + write pair; the
        // single-file path executes the plan exactly once (the write)
        // and skips the cache
        if (clustered && !smallRewrite) merged.persist()
        val shaped = clusterBy match {
          case Some(c) if smallRewrite =>
            merged.coalesce(1).sortWithinPartitions(col(c))
          case Some(c) => merged.repartitionByRange(col(c))
            .sortWithinPartitions(col(c))
          case None => merged
        }
        val (commitId, newFiles) = writeDataFiles(shaped, dir,
          pc +: extraStatsCols.filterNot(_ == pc), bloomCols, bloomFpp)
        val entries = kept match {
          case Some(k) => k.unionByName(alignStats(newFiles, k),
            allowMissingColumns = true)
          case None => entryCols(newFiles)
        }
        val version = latest.map(_ + 1).getOrElse(0L)
        if (tryPublish(spark, dir, commitId, entries, version, batchId))
          return version
      } finally merged.unpersist() // no-op when never persisted
      // collision: a concurrent commit changed the base — the merged
      // files we wrote are now stale garbage (never referenced);
      // re-derive against the new latest
    }
    -1L // unreachable
    } finally if (ownPersist) changes.unpersist()
  }

  /** Predicate-level DELETE as file-granular copy-on-write — the
    * retention-sweep / right-to-erasure shape (`DELETE WHERE ts <
    * cutoff`, `WHERE user_id = x`) that keyed [[mergeCommit]] does not
    * cover. Touched files are DISCOVERED, not guessed: one scan of the
    * current snapshot — manifest-pruned first when `pruneHint` gives
    * range bounds on stats columns, with the predicate and the
    * `input_file_name` projection pushed to parquet — yields the
    * files holding at least one matching row; only those are
    * rewritten without their matching rows, every other file is
    * carried into the new manifest by reference. A 100 TB table with
    * a time-clustered layout deletes a day by rewriting that day's
    * files. The rewrite preserves the table's recorded stats columns
    * (recovered from the manifest's named stats pairs) and per-file
    * blooms (from its bloom_types), so pruning keeps working after
    * the delete. A predicate matching nothing publishes nothing.
    * Returns the new version (or the current one on a no-op).
    * Version collisions re-derive against the new latest and retry,
    * like every other commit here. */
  def deleteWhere(spark: SparkSession, dir: String,
                  cond: org.apache.spark.sql.Column,
                  pruneHint: Map[String, (Any, Any)] = Map.empty): Long =
    rewriteWhere(spark, dir, cond, pruneHint, None)

  /** Predicate-level UPDATE, same copy-on-write machinery as
    * [[deleteWhere]]: rows matching `cond` in the touched files get
    * `assignments` applied (column → new expression, which may read
    * the old row); everything else is byte-identical carried state. */
  def updateWhere(spark: SparkSession, dir: String,
                  cond: org.apache.spark.sql.Column,
                  assignments: Map[String, org.apache.spark.sql.Column],
                  pruneHint: Map[String, (Any, Any)] = Map.empty): Long =
    rewriteWhere(spark, dir, cond, pruneHint, Some(assignments))

  private def rewriteWhere(spark: SparkSession, dir: String,
                           cond: org.apache.spark.sql.Column,
                           pruneHint: Map[String, (Any, Any)],
                           assignments: Option[Map[String, org.apache.spark.sql.Column]]): Long = {
    graft.Jobs.labeled(spark, "snap:rewrite") {
    while (true) {
      val latest = latestVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no snapshots at $dir"))
      val m = entryCols(manifest(spark, dir, Some(latest)))
      // manifest-level candidate pruning (same semantics as
      // readPrunedBy: a hinted column without a recorded stats pair
      // keeps every file — never a correctness risk, the hint only
      // shrinks the DISCOVERY scan)
      val candidates =
        if (pruneHint.isEmpty) m.select("path").collect().map(_.getString(0)).toSeq
        else {
          val c = pruneHint.map { case (col0, (lo, hi)) =>
            if (m.columns.contains(s"smin_$col0"))
              col(s"smin_$col0").isNull ||
                (col(s"smin_$col0") <= lit(hi) && col(s"smax_$col0") >= lit(lo))
            else lit(true)
          }.reduce(_ && _)
          m.filter(c).select("path").collect().map(_.getString(0)).toSeq
        }
      if (candidates.isEmpty) return latest
      val touched = readFiles(spark, dir, latest, candidates)
        .filter(cond).select(input_file_name().as("p"))
        .distinct().collect().map(_.getString(0)).toSeq
      if (touched.isEmpty) return latest
      val base = readFiles(spark, dir, latest, touched)
      val rewritten = assignments match {
        // delete exactly the TRUE rows: a NULL predicate result keeps
        // the row (plain !cond would delete it — three-valued logic)
        case None => base.filter(!coalesce(cond, lit(false)))
        case Some(as) => base.select(base.columns.map { c =>
          as.get(c) match {
            case Some(expr) => when(cond, expr).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
      }
      val kept = m.filter(!col("path").isin(touched: _*))
      val entries =
        if (assignments.isEmpty && rewritten.isEmpty && kept.count() > 0)
          kept // every row of every touched file deleted: nothing to write
        else {
          // preserve the table's physical-design metadata on the
          // rewrite: stats columns from the manifest's named pairs,
          // bloom columns from its recorded bloom_types
          val statsCols = m.columns.filter(_.startsWith("smin_"))
            .map(_.stripPrefix("smin_")).toSeq
            .filter(rewritten.columns.contains)
          val bloomCols = m.select(explode(map_keys(col("bloom_types"))).as("c"))
            .distinct().collect().map(_.getString(0)).toSeq
            .filter(rewritten.columns.contains)
          val (_, newFiles) =
            writeDataFiles(rewritten, dir, statsCols, bloomCols)
          // the LEGACY stats pair's column identity is not recorded in
          // the manifest, so the rewrite cannot know which column to
          // put there — null it (conservative: rewritten files are
          // simply never pruned by the legacy path; the NAMED pairs
          // carry full pruning) rather than risk describing a
          // different column than the rest of the table
          val nf = newFiles
            .withColumn("stats_min", lit(null))
            .withColumn("stats_max", lit(null))
          kept.unionByName(alignStats(nf, kept), allowMissingColumns = true)
        }
      if (tryPublish(spark, dir,
          java.util.UUID.randomUUID().toString, entries, latest + 1))
        return latest + 1
      // collision: a concurrent commit changed the base under us —
      // our rewritten files are unreferenced garbage; re-derive
    }
    -1L // unreachable
    }
  }

  /** Exactly-once CDC apply for `foreachBatch`: merge the change
    * batch UNLESS this `batchId` (or a later one) is already fenced
    * into the table's history — the [[commitStreamBatch]] replay
    * guard, for merges. An upsert/delete stream (Debezium-shaped:
    * rows + op + seq) lands in the snapshot table with file-granular
    * copy-on-write and never double-applies after a crash. Returns
    * the committed version, or None when fenced.
    *
    * {{{
    * cdc.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
    *   Snapshots.mergeStreamBatch(b, dir, id, keyCols = Seq("k")); ()
    * }.option("checkpointLocation", cp).start()
    * }}}
    */
  def mergeStreamBatch(changes: DataFrame, dir: String, batchId: Long,
                       keyCols: Seq[String], opCol: String = "op",
                       seqCol: String = "seq",
                       pruneCol: Option[String] = None,
                       bloomCols: Seq[String] = Nil,
                       bloomFpp: Double = 0.01,
                       clusterBy: Option[String] = None,
                       extraStatsCols: Seq[String] = Nil)
      : Option[Long] = {
    val spark = changes.sparkSession
    if (lastCommittedBatch(spark, dir) >= batchId) return None
    mergeCommit(spark, dir, changes, keyCols, opCol, seqCol,
      pruneCol, bloomCols, bloomFpp, batchId, extraStatsCols,
      clusterBy) match {
      case -2L => None // fenced by a concurrent replica mid-merge
      case v => Some(v)
    }
  }

  private def filesOf(spark: SparkSession, dir: String,
                      version: Option[Long]): Seq[String] =
    graft.Jobs.labeled(spark, "snap:files") {
      val v = resolve(spark, dir, version)
      manifestRows(spark, dir, v) match {
        case Some(cm) =>
          val i = cm.schema.fieldIndex("path")
          cm.rows.iterator.map(_.getString(i)).toSeq
        case None =>
          manifest(spark, dir, Some(v)).select("path").collect()
            .map(_.getString(0)).toSeq
      }
    }

  /** Read data files listed by manifest `v`. When the manifest records
    * ONE `file_schema` for every path, Spark gets it up front and skips
    * the one-task footer-inference job each `spark.read.parquet` fires;
    * mixed or legacy-null schemas, and manifests over the cache's size
    * guard, keep inference. */
  private def readFiles(spark: SparkSession, dir: String, v: Long,
                        paths: Seq[String]): DataFrame = {
    val recorded = manifestRows(spark, dir, v).flatMap { cm =>
      val names = cm.schema.fieldNames
      if (!names.contains("file_schema")) None
      else {
        val (pi, si) = (names.indexOf("path"), names.indexOf("file_schema"))
        val want = paths.toSet
        val hits = cm.rows.filter(r => want.contains(r.getString(pi)))
        val schemas = hits.map(r => Option(r.getString(si))).distinct
        if (hits.length != want.size || schemas.length != 1) None
        else schemas.head.map(j => org.apache.spark.sql.types.DataType
          .fromJson(j).asInstanceOf[org.apache.spark.sql.types.StructType])
      }
    }
    recorded.fold(spark.read)(spark.read.schema(_)).parquet(paths: _*)
  }

  /** Read a snapshot (latest by default; pass a version for time
    * travel). Reads exactly the manifest's files — concurrent commits
    * are invisible. `mergeSchema = true` unions the file schemas
    * (parquet schema evolution: columns added by later appends read
    * as null in older files). */
  def read(spark: SparkSession, dir: String,
           version: Option[Long] = None,
           mergeSchema: Boolean = false): DataFrame = {
    def at(v: Long, files: Seq[String]) =
      if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(files: _*)
      else readFiles(spark, dir, v, files)
    val v = resolve(spark, dir, version)
    val files = filesOf(spark, dir, Some(v))
    if (files.nonEmpty) at(v, files)
    else {
      // an EMPTIED table (every row deleted) is a legitimate state:
      // its manifest lists no files, so the schema is borrowed from
      // the nearest earlier version that had data — only the empty
      // edge case pays this backward walk
      val prior = Iterator.range(v - 1, -1L, -1L)
        .map(pv => (pv, filesOf(spark, dir, Some(pv)))).find(_._2.nonEmpty)
      prior match {
        case Some((pv, fs0)) => at(pv, fs0).limit(0)
        case None => throw new IllegalArgumentException(
          s"table at $dir has no data files in any version")
      }
    }
  }

  /** Read only the files whose `statsCol` range can intersect
    * [lo, hi] — manifest-level data skipping. Files committed without
    * stats are always read (no silent misses). The residual predicate
    * still applies row-level; this only shrinks the file list.
    *
    * `lo`/`hi` take any literal comparable to the stats type: numbers
    * for numeric keys, `java.sql.Timestamp`/`java.sql.Date` (or an
    * ISO string, coerced by Spark) for time keys, strings for string
    * keys. */
  def readPruned(spark: SparkSession, dir: String, lo: Any, hi: Any,
                 version: Option[Long] = None,
                 column: Option[String] = None): DataFrame =
    readPrunedBy(spark, dir,
      Seq(column.getOrElse("") -> (lo, hi)).toMap, version)

  /** Read only the files that can satisfy EVERY range predicate in
    * `preds` (column → [lo, hi]) — multi-dimensional manifest-level
    * data skipping. A table committed with `statsCol = Some("ts"),
    * extraStatsCols = Seq("user_id")` skips on a
    * `ts BETWEEN … AND user_id BETWEEN …` predicate from the
    * intersection of both columns' survivor sets — fewer files than
    * either dimension alone. The empty-string key (or a column with
    * no named stats pair in this manifest) addresses the legacy
    * primary `stats_min`/`stats_max` pair; files with null stats for
    * a column are never pruned by it (no silent misses). The residual
    * predicate still applies row-level; this only shrinks the file
    * list. */
  def readPrunedBy(spark: SparkSession, dir: String,
                   preds: Map[String, (Any, Any)],
                   version: Option[Long] = None): DataFrame = {
    val v = resolve(spark, dir, version)
    val m = manifest(spark, dir, Some(v))
    val cond = preds.map { case (c, (lo, hi)) =>
      val pair =
        if (c.isEmpty) Some((col("stats_min"), col("stats_max")))
        else if (m.columns.contains(s"smin_$c"))
          Some((col(s"smin_$c"), col(s"smax_$c")))
        // a NAMED column this manifest has no stats pair for: the
        // legacy pair may describe a DIFFERENT column, so pruning on
        // it could drop files that DO match — keep every file instead
        else None
      pair match {
        case Some((mn, mx)) => mn.isNull || (mn <= lit(hi) && mx >= lit(lo))
        case None => lit(true)
      }
    }.reduce(_ && _)
    val keep = m.filter(cond)
      .select("path").collect().map(_.getString(0)).toSeq
    if (keep.isEmpty)
      // preserve the schema even when every file is pruned — via
      // read(), which also handles an EMPTIED table (zero files)
      read(spark, dir, Some(v)).limit(0)
    else readFiles(spark, dir, v, keep)
  }

  /** Read only the files whose `column` stats range can intersect ANY
    * of `ranges` — the DISJUNCTIVE variant of [[readPrunedBy]], for
    * callers whose key set clusters into several disjoint intervals
    * (e.g. an incremental-view tick whose churned keys straddle the
    * key domain: one global [min, max] would keep every file, a
    * handful of tight ranges keeps only the genuinely overlapping
    * ones). Files committed without stats for `column` are always
    * read (no silent misses); the empty-string column addresses the
    * legacy primary stats pair. The residual predicate still applies
    * row-level; this only shrinks the file list. */
  def readPrunedRanges(spark: SparkSession, dir: String, column: String,
                       ranges: Seq[(Any, Any)],
                       version: Option[Long] = None): DataFrame = {
    require(ranges.nonEmpty, "readPrunedRanges needs at least one range")
    val v = resolve(spark, dir, version)
    val m = manifest(spark, dir, Some(v))
    val specs =
      if (column.isEmpty) Seq(("stats_min", "stats_max", ranges))
      else if (m.columns.contains(s"smin_$column"))
        Seq((s"smin_$column", s"smax_$column", ranges))
      // no recorded stats pair for this column: the legacy pair may
      // describe a DIFFERENT column — keep every file instead
      else Nil
    val keep = prunedPaths(m, specs)
    if (keep.isEmpty) read(spark, dir, Some(v)).limit(0)
    else readFiles(spark, dir, v, keep)
  }

  /** Above this many ranges for one column, an all-POINT range set is
    * evaluated on the DRIVER (sorted array + binary search per file)
    * instead of as a reduce-Or predicate tree: a 1000-deep Or chain
    * blows janino's method-size limit (the whole manifest job falls
    * back to interpreted, logging a spurious compile ERROR) and costs
    * O(files × ranges) where the search costs O(files × log ranges).
    * The paths are collected to the driver either way — this only
    * moves WHERE the bounded metadata comparison happens. */
  private val DriverPointEvalAbove = 64

  /** Canonical comparable form for driver-side stats comparison:
    * integrals widen to Long, floats to Double, everything else keeps
    * its natural Comparable. None = not driver-comparable (that spec
    * stays on the Spark filter path). */
  private def canonPoint(v: Any): Option[AnyRef] = v match {
    case null => None
    case b: Byte => Some(java.lang.Long.valueOf(b.toLong))
    case s: Short => Some(java.lang.Long.valueOf(s.toLong))
    case i: Int => Some(java.lang.Long.valueOf(i.toLong))
    case l: Long => Some(java.lang.Long.valueOf(l))
    case f: Float => Some(java.lang.Double.valueOf(f.toDouble))
    case d: Double => Some(java.lang.Double.valueOf(d))
    case s: String => Some(s)
    case t: java.sql.Timestamp => Some(t)
    case d: java.sql.Date => Some(d)
    case d: java.math.BigDecimal => Some(d)
    case _ => None
  }

  private def cmpCanon(a: AnyRef, b: AnyRef): Int =
    a.asInstanceOf[Comparable[AnyRef]].compareTo(b)

  /** Resolve the kept file paths for conjunctive (sminCol, smaxCol,
    * ranges) specs: small/interval specs filter as a Spark predicate
    * (native-type coercion for free), large all-point specs binary-
    * search driver-side ([[DriverPointEvalAbove]]). Null or
    * type-mismatched stats keep the file — never a false negative. */
  private def prunedPaths(m: DataFrame,
                          specs: Seq[(String, String, Seq[(Any, Any)])])
      : Seq[String] = {
    val (driverSide, sparkSide) = specs.partition { case (_, _, rs) =>
      rs.size > DriverPointEvalAbove &&
        rs.forall { case (lo, hi) => lo == hi } && {
          val cs = rs.map(r => canonPoint(r._1))
          cs.forall(_.isDefined) &&
            cs.flatten.map(_.getClass).distinct.size == 1
        }
    }
    val conds = sparkSide.map { case (mnName, mxName, ranges) =>
      val (mn, mx) = (col(mnName), col(mxName))
      mn.isNull ||
        ranges.map { case (lo, hi) => mn <= lit(hi) && mx >= lit(lo) }
          .reduce(_ || _)
    }
    val filtered = if (conds.isEmpty) m else m.filter(conds.reduce(_ && _))
    if (driverSide.isEmpty)
      return filtered.select("path").collect().map(_.getString(0)).toSeq
    val statCols = col("path") +: driverSide.flatMap { case (mnN, mxN, _) =>
      Seq(col(mnN), col(mxN)) }
    val sortedPoints = driverSide.map { case (_, _, rs) =>
      rs.map(r => canonPoint(r._1).get).distinct
        .sortWith((a, b) => cmpCanon(a, b) < 0).toArray
    }
    filtered.select(statCols.toIndexedSeq: _*).collect().filter { row =>
      driverSide.indices.forall { i =>
        val arr = sortedPoints(i)
        (canonPoint(row.get(1 + 2 * i)), canonPoint(row.get(2 + 2 * i))) match {
          case (Some(mn), Some(mx))
              if mn.getClass == arr.head.getClass &&
                mx.getClass == arr.head.getClass =>
            // first point >= min, kept iff it also sits <= max
            var lo = 0; var hi = arr.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (cmpCanon(arr(mid), mn) < 0) lo = mid + 1 else hi = mid
            }
            lo < arr.length && cmpCanon(arr(lo), mx) <= 0
          case _ => true // null/unknown/mismatched stats: keep the file
        }
      }
    }.map(_.getString(0)).toSeq
  }

  /** CONJUNCTIVE multi-column manifest pruning: keep a file iff for
    * EVERY (column, ranges) spec whose typed stats pair the manifest
    * records, the file's [min, max] overlaps at least one of that
    * column's ranges. Columns without recorded stats prune nothing
    * (and files with null stats for a column are kept) — never a
    * false negative, each extra recorded column only prunes more.
    * This is the multi-key sharpening of [[readPrunedRanges]]: an
    * affected-key TUPLE set projects to per-column range sets, and a
    * file must overlap every projection to possibly hold a tuple. */
  def readPrunedSpecs(spark: SparkSession, dir: String,
                      specs: Seq[(String, Seq[(Any, Any)])],
                      version: Option[Long] = None): DataFrame = {
    require(specs.nonEmpty && specs.forall(_._2.nonEmpty),
      "readPrunedSpecs needs at least one range per spec")
    val v = resolve(spark, dir, version)
    val m = manifest(spark, dir, Some(v))
    val keep = graft.Jobs.labeled(spark, "snap:prune") {
      prunedPaths(m, specs.collect {
        case (column, ranges) if m.columns.contains(s"smin_$column") =>
          (s"smin_$column", s"smax_$column", ranges)
      })
    }
    if (keep.isEmpty) read(spark, dir, Some(v)).limit(0)
    else readFiles(spark, dir, v, keep)
  }

  /** Point-lookup file pruning: read only the files that might
    * contain `value` in the named bloom column. Min/max stats can
    * only prune a point probe when the table is CLUSTERED by the key;
    * the per-file blooms written by `commit(bloomCols = ...)` prune
    * it on any layout and for SEVERAL keys at once (doc id, url hash,
    * content hash…) — a needle-in-100TB lookup opens the handful of
    * files whose filters fire (true matches + fpp false alarms), and
    * the parquet in-file blooms the same commit enabled then skip row
    * groups inside those. No false negatives: a file is dropped only
    * when its bloom PROVES the value absent; files without a bloom
    * for this column (older snapshots, stats-less commits) are always
    * read. The probe runs as one distributed scan of the manifest.
    *
    * The caller's `value` is cast to the bloom column's recorded
    * source type before hashing — xxhash64 is type-sensitive, so
    * probing a bigint column with an Int literal would otherwise miss
    * silently. */
  def readPoint(spark: SparkSession, dir: String, column: String, value: Any,
                version: Option[Long] = None): DataFrame = {
    import graft.functions.{BloomMightContain, ColumnBridge}
    val v = resolve(spark, dir, version)
    val m = entryCols(manifest(spark, dir, Some(v)))
    // ALL distinct recorded source types for this column, not one
    // arbitrary row's: under schema evolution (int→bigint) different
    // commits' blooms hashed different types, and a single-type probe
    // would silently false-negative against the other generation's
    // files. One hashed probe per recorded type, OR'd — a file passes
    // if ANY generation's hash fires (its own type's probe is among
    // them; extra probes only add false positives, never misses).
    val bloomTypes = m
      .select(element_at(col("bloom_types"), column).as("__t"))
      .filter(col("__t").isNotNull)
      .distinct().collect().map(_.getString(0)).toSeq
    val probes =
      if (bloomTypes.isEmpty) Seq(lit(value))
      else bloomTypes.map(t => lit(value).cast(t))
    // only the bloom may prune here: the min/max stats can belong to
    // a DIFFERENT column than the bloom (ts-stats + id-blooms is the
    // expected pairing), so a stats range test against this value
    // could drop files that do hold it — callers whose point key IS
    // the stats column get range pruning from readPruned(v, v)
    val filter = element_at(col("blooms"), column)
    val bloomPass = filter.isNull ||
      probes.map(p => ColumnBridge.column(BloomMightContain(
        ColumnBridge.expression(filter),
        ColumnBridge.expression(xxhash64(p))))).reduce(_ || _)
    val keep = m.filter(bloomPass)
      .select("path").collect().map(_.getString(0)).toSeq
    if (keep.isEmpty) read(spark, dir, Some(v)).limit(0)
    else readFiles(spark, dir, v, keep)
  }

  /** [[readPoint]] for a SET of values — the shape an index serve's
    * candidate fetch needs (e.g. an ADC shortlist's ids): keep a file
    * iff it might hold AT LEAST ONE of `values`, pruning with BOTH
    * levers the manifest records. Min/max stats prune first (point
    * ranges — above [[DriverPointEvalAbove]] values the comparison
    * binary-searches driver-side, never an Or-chain); the survivors'
    * per-file blooms are then probed with ONE higher-order `exists`
    * over the hashed-probe array — bounded expression size however
    * many points (an unrolled N-wide Or would blow janino's method
    * limit exactly like the range path's documented hazard). No false
    * negatives: columns without recorded stats/blooms prune nothing,
    * null stats keep the file, and under schema evolution every
    * recorded bloom type contributes its own hash per value. */
  def readPoints(spark: SparkSession, dir: String, column: String,
                 values: Seq[Any],
                 version: Option[Long] = None): DataFrame = {
    import graft.functions.{BloomMightContain, ColumnBridge}
    require(values.nonEmpty, "readPoints needs at least one value")
    val v = resolve(spark, dir, version)
    val m0 = entryCols(manifest(spark, dir, Some(v)))
    val distinctVals = values.distinct
    // stats leg: point ranges against the recorded min/max pair
    val m1 =
      if (!m0.columns.contains(s"smin_$column")) m0
      else {
        val keep = prunedPaths(m0, Seq((s"smin_$column", s"smax_$column",
          distinctVals.map(v => (v, v)))))
        if (keep.isEmpty) return read(spark, dir, Some(v)).limit(0)
        // large lists plan as an InSet, never an Or-chain
        m0.filter(col("path").isin(keep: _*))
      }
    // bloom leg: one hash per (value, recorded source type), folded
    // into a single array literal probed by ONE exists() expression
    val bloomTypes = m1
      .select(element_at(col("bloom_types"), column).as("__t"))
      .filter(col("__t").isNotNull)
      .distinct().collect().map(_.getString(0)).toSeq
    val m2 =
      if (bloomTypes.isEmpty) m1
      else {
        val hashes = spark.range(1).select(array(
            bloomTypes.flatMap(t =>
              distinctVals.map(v => xxhash64(lit(v).cast(t)))): _*)
          .as("__h")).head().getSeq[Long](0)
        val filter = element_at(col("blooms"), column)
        m1.filter(filter.isNull ||
          exists(typedLit(hashes), h => ColumnBridge.column(
            BloomMightContain(ColumnBridge.expression(filter),
              ColumnBridge.expression(h)))))
      }
    val keep = m2.select("path").collect().map(_.getString(0)).toSeq
    if (keep.isEmpty) read(spark, dir, Some(v)).limit(0)
    else readFiles(spark, dir, v, keep)
  }

  /** The table's commit history, one row per live (unexpired)
    * version: (version, parent, n_files, n_rows, batch_id,
    * committed_at) — the DESCRIBE HISTORY surface. Every manifest row
    * already carries its version, so this is ONE distributed read
    * over all manifest directories (mergeSchema tolerates manifests
    * from before a column existed), not a per-version loop. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(manifestRoot(dir))
    require(fs(spark, dir).exists(root), s"no snapshots at $dir")
    val m = spark.read.option("mergeSchema", "true")
      .parquet(s"${manifestRoot(dir)}/v*")
    val withCols = Seq("batch_id" -> "bigint", "committed_at" -> "bigint")
      .foldLeft(m) { case (d, (c, t)) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(t))
      }
    withCols.groupBy(col("version"))
      .agg(max(col("parent")).as("parent"),
        count(lit(1)).as("n_files"),
        coalesce(sum(col("rows")), lit(0L)).as("n_rows"),
        max(col("batch_id")).as("batch_id"),
        max(col("committed_at")).as("committed_at"))
      .orderBy(col("version"))
  }

  /** Manifest-only table statistics: one row per recorded stats
    * column — (column, min_value, max_value, files_with_stats,
    * n_files, n_rows), values rendered as strings so mixed-typed
    * columns share a schema. Answered ENTIRELY from the manifest:
    * "what's the time range / key range / row count of this 100 TB
    * table" opens zero data files. Columns without a named stats pair
    * don't appear (commit with `statsCol`/`extraStatsCols`, or
    * retrofit with [[analyzeCommit]]). */
  def statsSummary(spark: SparkSession, dir: String,
                   version: Option[Long] = None): DataFrame = {
    val m = manifest(spark, dir, version)
    val statCols = m.columns.filter(_.startsWith("smin_"))
      .map(_.stripPrefix("smin_")).sorted
    val rows = statCols.map { c =>
      m.agg(
        lit(c).as("column"),
        min(col(s"smin_$c")).cast("string").as("min_value"),
        max(col(s"smax_$c")).cast("string").as("max_value"),
        count(col(s"smin_$c")).as("files_with_stats"),
        count(lit(1)).as("n_files"),
        coalesce(sum(col("rows")), lit(0L)).as("n_rows"))
    }
    if (rows.isEmpty)
      m.agg(lit(null).cast("string").as("column"),
        lit(null).cast("string").as("min_value"),
        lit(null).cast("string").as("max_value"),
        lit(0L).as("files_with_stats"),
        count(lit(1)).as("n_files"),
        coalesce(sum(col("rows")), lit(0L)).as("n_rows")).limit(0)
    else rows.reduce(_ unionByName _)
  }

  /** The table's schema at a version, answered ENTIRELY from the
    * manifest's recorded per-file schemas — zero data footers opened.
    * At 100 TB a "what columns does this table have" ask (diff's
    * template, a change-feed query start) must not list-and-open
    * every file's footer the way a mergeSchema read does. Distinct
    * recorded schemas across a schema evolution are merged
    * field-by-field with numeric widening (int→bigint etc. — the
    * migration shape; the merged type is what [[diff]] casts both
    * sides to). Returns None — callers fall back to the footer walk —
    * when any file predates schema recording or the schemas cannot
    * be widened. */
  def tableSchema(spark: SparkSession, dir: String,
                  version: Option[Long] = None): Option[org.apache.spark.sql.types.StructType] = {
    val v = resolve(spark, dir, version)
    val js = manifestRows(spark, dir, v) match {
      case Some(cm) =>
        if (!cm.schema.fieldNames.contains("file_schema")) return None
        val i = cm.schema.fieldIndex("file_schema")
        if (cm.rows.isEmpty || cm.rows.exists(_.isNullAt(i)))
          return None // emptied table, or legacy files without a schema
        cm.rows.iterator.map(_.getString(i)).toArray.distinct
      case None =>
        val m = manifest(spark, dir, Some(v))
        if (!m.columns.contains("file_schema")) return None
        val counts = m.agg(count(lit(1)), count(col("file_schema"))).head()
        if (counts.getLong(0) == 0L || counts.getLong(0) != counts.getLong(1))
          return None // emptied table, or legacy files without a schema
        m.select("file_schema").distinct().collect().map(_.getString(0))
    }
    try Some(js.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .reduce(widenMerge))
    catch { case _: Exception => None }
  }

  /** Field-by-field schema union with VALUE-EXACT numeric widening:
    * same-typed fields keep their type; within a family types widen
    * up (byte<short<int<long, float<double); across families only
    * where exact (byte/short join float fine, int forces double,
    * long vs any fp refuses — int64 fits no fp mantissa). A field on
    * one side only joins as nullable. Anything unmergeable throws —
    * the caller falls back to the footer walk rather than guess. */
  private def widenMerge(a: org.apache.spark.sql.types.StructType,
                         b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    // widening must be value-EXACT or refused: the merged template
    // CASTs both generations (diff, change feed), and a lossy merge
    // (e.g. bigint→float, 24-bit mantissa) would make genuinely
    // different ids cancel in exceptAll — silent feed corruption.
    // Within a family, up is exact; across, only when every value of
    // the integral side fits the fp side's mantissa.
    val ints: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    val fps: Seq[DataType] = Seq(FloatType, DoubleType)
    def merge(x: DataType, y: DataType): DataType =
      if (x == y) x
      else ((ints.indexOf(x), ints.indexOf(y)), (fps.indexOf(x), fps.indexOf(y))) match {
        case ((i, j), _) if i >= 0 && j >= 0 => ints(math.max(i, j))
        case (_, (i, j)) if i >= 0 && j >= 0 => fps(math.max(i, j))
        case ((i, j), _) if i >= 0 || j >= 0 =>
          val (int, fp) = if (i >= 0) (x, y) else (y, x)
          if (!fps.contains(fp)) throw new IllegalArgumentException(
            s"cannot widen $x vs $y")
          int match {
            case ByteType | ShortType => fp // all 16-bit ints exact in float
            case IntegerType => DoubleType  // int32 exact in double only
            case _ => throw new IllegalArgumentException( // int64: in neither
              s"cannot widen $x vs $y without losing 64-bit precision")
          }
        case _ => throw new IllegalArgumentException(s"cannot widen $x vs $y")
      }
    val bByName = b.fields.map(f => f.name -> f).toMap
    StructType(
      a.fields.map { f =>
        bByName.get(f.name) match {
          case Some(g) => StructField(f.name, merge(f.dataType, g.dataType),
            f.nullable || g.nullable)
          case None => f.copy(nullable = true)
        }
      } ++ b.fields.filterNot(f => a.fieldNames.contains(f.name))
        .map(_.copy(nullable = true)))
  }

  /** Row-level change feed between two snapshots: every row as
    * `__change = 'insert'` (in `toVersion` but not `fromVersion`) or
    * `'delete'` (vice versa; an update appears as its delete + its
    * insert — the classic CDF encoding). Computed from the FILE-set
    * diff: only files added or removed between the versions are read,
    * and `exceptAll` (multiset semantics, so duplicate rows survive
    * correctly) cancels the rows a copy-on-write rewrite carried over
    * unchanged — cost is O(churned files), never O(table). This is
    * the CDC-OUT counterpart to [[mergeCommit]]'s CDC-in: an
    * incremental consumer (re-embed changed docs, refresh a
    * downstream aggregate) asks "what changed since version N"
    * instead of re-reading 100 TB. Columns follow `toVersion`'s
    * schema; rows from older files missing a column read as null. */
  def diff(spark: SparkSession, dir: String,
           fromVersion: Long, toVersion: Long): DataFrame = {
    val fromFiles = filesOf(spark, dir, Some(fromVersion)).toSet
    val toFiles = filesOf(spark, dir, Some(toVersion)).toSet
    val added = (toFiles -- fromFiles).toSeq
    val removed = (fromFiles -- toFiles).toSeq
    // the target version's files may straddle a schema evolution —
    // the feed's schema must be their UNION, not whichever single
    // file's footer the reader happens to sample. The manifest's
    // recorded schemas answer this without opening ANY footer (the
    // mergeSchema walk below opens every one — O(files) metadata per
    // tick at 100 TB); only legacy tables pay the walk
    // a LOCAL empty relation, not an empty-RDD frame: emptiness must be
    // visible to the optimizer so PropagateEmptyRelation folds
    // `exceptAll` with an empty side to the identity — an APPEND-ONLY
    // tick's feed then plans as a bare scan instead of paying the
    // Except rewrite's two aggregations over every added row (an
    // empty-RDD LogicalRDD hides the emptiness and defeated the fold)
    val template = tableSchema(spark, dir, Some(toVersion)) match {
      case Some(sc) => spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), sc)
      case None => read(spark, dir, Some(toVersion), mergeSchema = true).limit(0)
    }
    def side(v: Long, files: Seq[String]): DataFrame =
      if (files.isEmpty) template
      else {
        val df = readFiles(spark, dir, v, files)
        // align EVERY column to the template's type, not just add the
        // missing ones: under a type-widening schema evolution
        // (int→bigint) the churned files straddle both types, and the
        // exceptAll/unionByName below would fail on the mismatch
        template.schema.foldLeft(df) { (d, f) =>
          if (!d.columns.contains(f.name))
            d.withColumn(f.name, lit(null).cast(f.dataType))
          else if (d.schema(f.name).dataType != f.dataType)
            d.withColumn(f.name, col(f.name).cast(f.dataType))
          else d
        }.select(template.columns.map(col): _*)
      }
    val a = side(toVersion, added)
    val r = side(fromVersion, removed)
    // fold the empty-side cases EXPLICITLY: exceptAll against nothing
    // is the identity, so an append-only tick's feed is a bare scan of
    // the added files and a pure-delete tick a bare scan of the removed
    // ones — no Except rewrite (two aggregations over every fed row)
    // and no union against a provably-empty branch. The general
    // two-sided case (copy-on-write rewrites carrying rows across)
    // keeps the exact multiset difference.
    if (removed.isEmpty) a.withColumn("__change", lit("insert"))
    else if (added.isEmpty) r.withColumn("__change", lit("delete"))
    else a.exceptAll(r).withColumn("__change", lit("insert"))
      .unionByName(r.exceptAll(a).withColumn("__change", lit("delete")))
  }

  /** Durable incremental consumption of a table's change feed: invoke
    * `f(changes, version)` once per not-yet-processed version, oldest
    * first — `changes` is [[diff]] from the previous version (the
    * first version arrives as pure inserts). Progress is recorded in
    * `stateDir` as one EMPTY MARKER FILE per processed version — the
    * name carries the watermark, so a torn write cannot corrupt it
    * (older markers are garbage-collected; the max survives). A crash
    * between `f` and its marker re-invokes `f` for that version on
    * restart: at-least-once here, and EXACTLY-ONCE end-to-end when
    * `f` lands its output through a fenced sink with
    * `batchId = version` ([[commitStreamBatch]] / [[mergeStreamBatch]]
    * — the replay is then fenced downstream). With `f = mergeStreamBatch
    * of the change rows`, this is incremental TABLE REPLICATION:
    * the target mirrors the source, paying O(churn) per version.
    * Keep [[expire]]'s horizon behind the slowest consumer — a
    * consumer that has fallen past the expiry horizon fails loudly
    * on the missing manifest rather than silently skipping.
    * Returns the versions processed this call. */
  def consumeChanges(spark: SparkSession, dir: String, stateDir: String)
                    (f: (DataFrame, Long) => Unit): Seq[Long] = {
    val fsys = fs(spark, stateDir)
    val root = new Path(stateDir)
    fsys.mkdirs(root)
    val markers = fsys.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("processed-v\\d{12}"))
    val done =
      if (markers.isEmpty) -1L
      else markers.map(_.stripPrefix("processed-v").toLong).max
    val latest = latestVersion(spark, dir).getOrElse(return Nil)
    val todo = (done + 1) to latest
    todo.foreach { v =>
      val changes =
        if (v == 0L) read(spark, dir, Some(0L))
          .withColumn("__change", lit("insert"))
        else diff(spark, dir, v - 1, v)
      f(changes, v)
      fsys.create(new Path(root, f"processed-v$v%012d"), true).close()
      // older markers are redundant once a newer one exists
      fsys.listStatus(root).map(_.getPath)
        .filter(p => p.getName.matches("processed-v\\d{12}") &&
          p.getName.stripPrefix("processed-v").toLong < v)
        .foreach(fsys.delete(_, false))
    }
    todo
  }

  /** The table's change feed as a STREAMING DataFrame — offsets are
    * snapshot versions, each micro-batch is the row-level [[diff]] of
    * the versions it covers (see [[ChangeFeedSource]]). With a
    * checkpointed query this is the always-on form of
    * [[consumeChanges]]: exactly-once end-to-end when the sink fences
    * by batchId. `startingVersion = None` replays the full history
    * (replication bootstrap); `Some(v)` starts at version v. */
  def changesStream(spark: SparkSession, dir: String,
                    startingVersion: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format("graft-changes").option("dir", dir)
    startingVersion.fold(r)(v => r.option("startingVersion", v.toString))
      .load()
  }

  /** Number of data files in a snapshot (plan-free, from the
    * manifest). */
  def fileCount(spark: SparkSession, dir: String,
                version: Option[Long] = None): Long =
    manifest(spark, dir, version).count()

  /** Total rows in a snapshot WITHOUT opening a single data file —
    * the per-file counts were paid once at commit time and live in
    * the manifest; a `count(*)` dashboard over a 100 TB table is a
    * manifest scan. */
  def rowCount(spark: SparkSession, dir: String,
               version: Option[Long] = None): Long =
    manifest(spark, dir, version)
      .agg(coalesce(sum(col("rows")), lit(0L))).head().getLong(0)

  /** Compact the current snapshot to ~`targetRows` rows per file as a
    * NEW snapshot — the [[Layout.compact]] job without its rename
    * window: readers of the old snapshot keep their immutable files,
    * readers arriving after the commit get the compacted ones, and a
    * crash mid-compaction leaves only unreferenced files. */
  def compactCommit(spark: SparkSession, dir: String, targetRows: Long,
                    statsCol: Option[String] = None,
                    clusterBy: Option[String] = None,
                    bloomCols: Seq[String] = Nil,
                    bloomFpp: Double = 0.01,
                    extraStatsCols: Seq[String] = Nil): Long = {
    val cur = read(spark, dir)
    val n = cur.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRows).toInt)
    // clustered compaction: range-partition + sort by the cluster key
    // so the rewritten files carry TIGHT disjoint stats ranges — after
    // many unclustered appends, this is what restores readPruned's
    // skipping (each appended file's range spans the table; the
    // compacted files' ranges tile it)
    val shaped = clusterBy match {
      case Some(c) => cur.repartitionByRange(files, col(c))
        .sortWithinPartitions(col(c))
      case None => cur.repartition(files)
    }
    // stats default to the cluster key — clustering exists to make
    // those ranges prunable, so not recording them would waste it
    val v = commit(shaped, dir, overwrite = true,
      statsCol.orElse(clusterBy), bloomCols, bloomFpp, extraStatsCols)
    val m = read(spark, dir, Some(v)).count()
    require(m == n, s"compaction row mismatch: $n -> $m (snapshot v$v)")
    v
  }

  /** Re-publish an old snapshot's file list as the NEW latest version
    * — rollback as a forward commit, so the history (including the
    * rolled-back versions) stays intact and auditable, and concurrent
    * readers switch atomically like any other commit. The batch-id
    * fence carries forward (a rollback must not re-open the door to a
    * replayed streaming batch). */
  def rollback(spark: SparkSession, dir: String, toVersion: Long): Long = {
    val entries = entryCols(manifest(spark, dir, Some(toVersion)))
    val tag = java.util.UUID.randomUUID().toString
    var attempt = latestVersion(spark, dir).map(_ + 1).getOrElse(0L)
    while (true) {
      if (tryPublish(spark, dir, tag, entries, attempt)) return attempt
      attempt += 1
    }
    -1L // unreachable
  }

  /** Delete data directories no manifest references and older than
    * `graceMs` — the crashed-commit garbage [[expire]] deliberately
    * leaves. The grace period protects in-flight writers: a commit
    * writes data first and publishes second, so a young unreferenced
    * directory may be about to become live. Returns directories
    * removed. */
  def gcOrphans(spark: SparkSession, dir: String,
                graceMs: Long = 24L * 3600 * 1000): Int = {
    val f = fs(spark, dir)
    val root = new Path(dataRoot(dir))
    if (!f.exists(root)) return 0
    val referenced = latestVersion(spark, dir) match {
      case None => Set.empty[String]
      case Some(latest) =>
        // every surviving manifest, not just the latest — time travel
        // must keep working for all unexpired snapshots
        val vs = f.listStatus(new Path(manifestRoot(dir))).map(_.getPath.getName)
          .filter(_.matches("v\\d{12}")).map(_.drop(1).toLong)
        vs.flatMap(v => filesOf(spark, dir, Some(v))).map(p =>
          new Path(new java.net.URI(p)).getParent.getName).toSet
    }
    val now = System.currentTimeMillis()
    val doomed = f.listStatus(root)
      .filter(s => s.isDirectory &&
        !referenced.contains(s.getPath.getName) &&
        now - s.getModificationTime > graceMs)
    doomed.foreach(s => f.delete(s.getPath, true))
    doomed.length
  }

  /** Drop all but the newest `keepLast` snapshots and delete every
    * data file referenced ONLY by dropped snapshots. Unreferenced
    * commit directories (crashed commits) are NOT touched — they are
    * garbage, not corruption, and an in-flight writer may still be
    * about to publish them ([[gcOrphans]] reaps them after a grace
    * period). `savepointDirs` makes retention savepoint-AWARE: any
    * version of THIS table pinned by a savepoint in those directories
    * survives regardless of age, so "keep 3 plus whatever runs still
    * reference" is one call instead of an operational rule someone
    * forgets. Returns the number of deleted files. */
  private def savepointDirRoot(dir: String) =
    s"${dir.stripSuffix("/")}/_graft_savepoint_dirs"

  /** Record that savepoints under `spDir` may pin versions of this
    * table — [[expire]] then consults `spDir` by DEFAULT, so pins are
    * honored even by expire callers that never heard of the savepoint
    * directory. One tiny marker file per distinct savepoint dir
    * (name = hash of the canonical URI, so re-registration is an
    * idempotent overwrite); [[Savepoints.create]] calls this for
    * every table it pins. */
  def registerSavepointDir(spark: SparkSession, dir: String,
                           spDir: String): Unit = {
    val f = fs(spark, dir)
    val canonical = f.makeQualified(new Path(spDir)).toUri.toString
    val root = new Path(savepointDirRoot(dir))
    f.mkdirs(root)
    val marker = new Path(root,
      f"sp-${java.lang.Integer.toUnsignedLong(canonical.hashCode)}%010d")
    val out = f.create(marker, true)
    try out.write((canonical + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** The savepoint directories registered in the table itself. A
    * registration outliving its savepoints (all dropped) is harmless:
    * listing it yields no pins. */
  def registeredSavepointDirs(spark: SparkSession,
                              dir: String): Seq[String] = {
    val f = fs(spark, dir)
    val root = new Path(savepointDirRoot(dir))
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq.filter(_.isFile).map { s =>
      val in = f.open(s.getPath)
      try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    }.filter(_.nonEmpty).distinct
  }

  def expire(spark: SparkSession, dir: String, keepLast: Int,
             savepointDirs: Seq[String] = Nil): Int = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val f = fs(spark, dir)
    val root = new Path(manifestRoot(dir))
    if (!f.exists(root)) return 0
    val versions = f.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("v\\d{12}")).map(_.drop(1).toLong).sorted
    if (versions.length <= keepLast) return 0
    // match FULLY QUALIFIED paths: a pin recorded relative (or spelled
    // file:/...) must still rescue the same table addressed absolute —
    // a silent mismatch here deletes exactly what the savepoint
    // promised to keep
    def canon(p: String): String =
      f.makeQualified(new Path(p)).toUri.toString
    val me = canon(dir)
    // explicit dirs PLUS the table's own registrations — retention is
    // savepoint-aware by default, not only for careful callers
    val allSpDirs =
      (savepointDirs ++ registeredSavepointDirs(spark, dir))
        .map(canon).distinct
    val pinned: Set[Long] = allSpDirs.flatMap { spDir =>
      Savepoints.list(spark, spDir).flatMap(name =>
        Savepoints.describe(spark, spDir, name).values.collect {
          case (tDir, v) if canon(tDir) == me => v
        })
    }.toSet
    val (dead0, live0) = versions.splitAt(versions.length - keepLast)
    val (rescued, dead) = dead0.partition(pinned.contains)
    if (pinned.nonEmpty || rescued.nonEmpty)
      org.slf4j.LoggerFactory.getLogger("graft.Snapshots").info(
        s"expire $dir: ${pinned.size} pinned version(s) from " +
          s"${allSpDirs.size} savepoint dir(s); rescued " +
          s"${rescued.length} of ${dead0.length} past-horizon version(s)")
    val live = rescued ++ live0
    val liveFiles = live.map(v => filesOf(spark, dir, Some(v)).toSet)
      .foldLeft(Set.empty[String])(_ ++ _)
    val deadFiles = dead.map(v => filesOf(spark, dir, Some(v)).toSet)
      .foldLeft(Set.empty[String])(_ ++ _)
    val doomed = deadFiles -- liveFiles
    doomed.foreach(p => f.delete(new Path(new java.net.URI(p)), false))
    dead.foreach(v => f.delete(manifestPath(dir, v), true))
    doomed.size
  }
}
