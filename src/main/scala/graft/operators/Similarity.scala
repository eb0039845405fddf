package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.sources.Snapshots

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.3 #29-30).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — the exact baseline: broadcast the (small)
  *    query set against the corpus, rank by cosine. One pass over the
  *    corpus, no shuffle of the corpus itself; this is the oracle path
  *    and also the right plan whenever |queries| is broadcast-sized.
  *  - [[lshTopK]] — the scale path: random-hyperplane LSH. Corpus and
  *    queries are bucketed by sign-bit signatures over `tables`
  *    independent hyperplane sets; candidates are bucket-joins
  *    (shuffle on the bucket key), then exact cosine re-ranks. Recall
  *    is tunable via (bitsPerTable, tables); candidates-per-query is
  *    ~|corpus| / 2^bits × tables, independent of total corpus size
  *    for well-spread data.
  */
object Similarity {

  /** Deterministic Gaussian hyperplane weights: java.util.Random's
    * algorithm is specified by its Javadoc, so plane (t, j) is
    * reproducible everywhere; planes are baked into the plan as
    * literals (no data dependency, no broadcast needed). */
  private def plane(table: Int, j: Int, dim: Int): Array[Double] = {
    val rnd = new java.util.Random(1000003L * table + 31L * j + 7L)
    Array.fill(dim)(rnd.nextGaussian())
  }

  private def planeLit(p: Array[Double]): Column =
    array(p.map(lit): _*)

  /** Sign-bit bucket id for one table: bit j = [v · plane_j > 0]. */
  def bucketCol(vecCol: Column, table: Int, bits: Int, dim: Int): Column =
    (0 until bits).map { j =>
      when(Vectors.dotD(vecCol, planeLit(plane(table, j, dim))) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Explode a frame into (table, bucket) rows — one row per table. */
  def withBuckets(df: DataFrame, vecCol: String, bits: Int, tables: Int, dim: Int = 64): DataFrame =
    df.select(col("*"),
      posexplode(array((0 until tables).map(t =>
        bucketCol(col(vecCol), t, bits, dim)): _*)))
      .withColumnRenamed("pos", "__t")
      .withColumnRenamed("col", "__bucket")

  /** Exact top-k neighbors per query by cosine (desc, id asc tie-break).
    * `queries` must be broadcast-sized; corpus streams through. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", Vectors.cosine(col("__qv"), col("__cv")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        graft.functions.Exact.roundAt(col("cosine"), 4).as("cosine"))
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus into cells
    * around `nCells` centroid rows, then search only the `nProbe`
    * cells nearest each query.
    *
    * Centroids are the `nCells` smallest-id corpus rows — deterministic
    * and SQL-expressible, so the whole pipeline has a hash-exact DuckDB
    * oracle; a k-means refinement would replace only the centroid
    * vectors, not the plan shape. The centroid set is collected to the
    * driver once (index metadata, tiny by construction) and baked into
    * the plan as literals, so cell assignment is a *pure projection* —
    * one fused-codegen cosine per (row, centroid), zero shuffle of the
    * corpus. The probe side (|queries|·nProbe rows) is broadcast, so
    * the candidate join is also shuffle-free; only the final per-query
    * top-k ranks over the reduced candidate set
    * (~|corpus|·nProbe/nCells per query). At scale, `__cell` is the
    * natural partition/bucket key for a stored index.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, k,
      sampleCentroids(corpus, idCol, vecCol, nCells), nProbe)

  /** [[ivfTopK]] with Lloyd-refined centroids: `iters` rounds of
    * spherical k-means tighten the cells, so a given recall needs a
    * smaller nProbe. Centroid means are exact decimal sums
    * ([[graft.functions.Exact.sumExact]]), so refined centroids — and
    * therefore results — are partition-order-deterministic and
    * hash-comparable against an oracle that unrolls the same
    * iterations. */
  def ivfTopKRefined(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      iters: Int = 3): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, k,
      kmeansCentroids(corpus, idCol, vecCol, nCells, iters), nProbe)

  /** Deterministic index init: the nCells smallest-id corpus rows. */
  def sampleCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int): Array[(Long, Array[Float])] = corpus
    .select(col(idCol).cast("long"), col(vecCol))
    .orderBy(col(idCol)).limit(nCells)
    .collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** Spherical k-means (cosine assignment, mean update) for IVF cell
    * centroids. Each iteration is one pass: assignment is the literal
    * argmax projection (no shuffle), and the mean update shuffles only
    * map-side partial sums keyed by (cell, dim) — k·dim rows per map
    * partition, never the vectors themselves. Only the k×dim centroid
    * matrix ever reaches the driver. Empty cells keep their previous
    * centroid.
    *
    * The mean is an exact 6-decimal sum divided by the count
    * ([[graft.functions.Exact.avgExact]]): order-independent, so the
    * refined centroids are bit-identical run to run AND to a SQL
    * oracle computing `CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE)
    * / count(*)` — a shuffled double `avg` here made every downstream
    * result nondeterministic. The 1e-6 input rounding is far inside
    * float precision and irrelevant to cluster geometry. */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): Array[(Long, Array[Float])] = {
    var cents = sampleCentroids(corpus, idCol, vecCol, k)
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    val dim = if (cents.nonEmpty) cents(0)._2.length else 0
    for (_ <- 0 until iters) {
      val means = corpus
        .select(col(vecCol).as("__v"))
        .withColumn("__cell", bestCell(cents, col("__v")))
        .select(col("__cell"), posexplode(col("__v")))
        .groupBy("__cell", "pos")
        .agg(graft.functions.Exact.avgExact(col("col"), 6).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          val v = new Array[Float](dim)
          rows.foreach(r => v(r.getInt(1)) = r.getDouble(2).toFloat)
          cell -> v
        }
      cents = cents.map { case (id, old) => (id, means.getOrElse(id, old)) }
    }
    cents
  }

  private def litVec(v: Array[Float]): Column = array(v.map(lit): _*)

  /** argmax-cosine cell, ties to the smallest cell id: max of
    * (cosine, -cell_id) structs over the literal centroid set. */
  private[graft] def bestCell(centroids: Array[(Long, Array[Float])], vec: Column): Column =
    -array_max(array(centroids.map { case (id, v) =>
      struct(Vectors.cosine(vec, litVec(v)).as("c"), lit(-id).as("nid"))
    }: _*)).getField("nid")

  /** the nProbe nearest cells: sort (−cosine, cell_id) ascending. */
  private def probeCells(
      centroids: Array[(Long, Array[Float])], vec: Column, nProbe: Int): Column =
    slice(transform(array_sort(array(centroids.map { case (id, v) =>
      struct((-Vectors.cosine(vec, litVec(v))).as("negc"), lit(id).as("cell_id"))
    }: _*)), s => s.getField("cell_id")), 1, nProbe)

  /** Search core shared by the sampled and k-means-refined variants:
    * centroids are plan literals, so corpus cell assignment is a pure
    * fused-codegen projection (zero shuffle) and the probe side
    * (|queries|·nProbe rows) broadcasts. */
  def ivfTopKWith(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Long, Array[Float])],
      nProbe: Int): DataFrame = {
    val cAssigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cell", bestCell(centroids, col("__cv")))
    val qProbes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__cell", explode(probeCells(centroids, col("__qv"), nProbe)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cAssigned.join(broadcast(qProbes), "__cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", Vectors.cosine(col("__qv"), col("__cv")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        graft.functions.Exact.roundAt(col("cosine"), 4).as("cosine"))
  }

  /** Persist an IVF index: the cell-assigned corpus written
    * PARTITIONED BY CELL (each cell is a directory — the on-disk
    * analog of the `__cell` bucket key), centroids alongside as JSON.
    * Writing the layout costs one pass; every later probe reads only
    * its nProbe directories via partition pruning — the same
    * pay-once layout trade as `sources.Bucketed`. */
  private def ivfFs(spark: org.apache.spark.sql.SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Storage generation of a stored IVF index (the
    * [[graft.operators.MinHashIndex.Meta.gen]] pattern): [[ivfCompact]]
    * rewrites cells into `cells-g<n>` and flips this pointer after the
    * full rewrite lands. Indexes written before compaction existed
    * have no meta file and read as generation 0 (`cells`). */
  def ivfGen(spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_graft_ivf_meta.json")
    val f = ivfFs(spark, path)
    if (!f.exists(p)) 0
    else {
      val in = f.open(p)
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      """"gen":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
        .getOrElse(sys.error(s"corrupt IVF meta at $p: $s"))
    }
  }

  private[graft] def ivfCellsPath(path: String, gen: Int): String =
    if (gen == 0) s"$path/cells" else s"$path/cells-g$gen"

  private def writeIvfGen(spark: org.apache.spark.sql.SparkSession,
                          path: String, gen: Int): Unit = {
    val out = ivfFs(spark, path).create(
      new org.apache.hadoop.fs.Path(s"$path/_graft_ivf_meta.json"), true)
    try out.write(s"""{"gen":$gen}""".getBytes("UTF-8")) finally out.close()
  }

  def ivfWriteIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Array[Float])],
      path: String): Unit = {
    val spark = corpus.sparkSession
    // rebuild semantics: clear prior generations, tombstones, meta
    val f = ivfFs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (f.exists(root))
      f.listStatus(root).map(_.getPath)
        .filter(p => p.getName.startsWith("cells-g") ||
          p.getName.startsWith("centroids-g") ||
          p.getName == "tombstones" || p.getName == "_graft_ivf_meta.json")
        .foreach(f.delete(_, true))
    IndexMaintenance.clearState(spark, path) // ledgers + a stale lock
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
      .withColumn("cell", bestCell(centroids, col("vec")))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/cells")
    import spark.implicits._
    centroids.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell_id", "centroid")
      .coalesce(1).write.mode("overwrite").json(s"$path/centroids")
  }

  /** Compact a stored IVF index into the next storage generation:
    * per-append cell files merge to ~one per cell and tombstones are
    * applied PHYSICALLY (the probe-time anti-join re-bounds at zero).
    * Publish-then-point like [[graft.operators.MinHashIndex.compact]]:
    * the meta pointer flips only after the full rewrite lands; a
    * crash mid-compaction leaves orphan next-gen dirs the retry
    * overwrites. Writers are serialized by the index lock — a
    * concurrent [[ivfAppend]] fails loudly instead of losing its
    * batch into the doomed generation. The old generation and applied
    * tombstone files are NOT deleted here (in-flight readers of the
    * old meta keep their files); they land in a retirement ledger for
    * [[ivfVacuum]] to reclaim once those readers drain. */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession,
                 path: String): Unit =
    IndexMaintenance.withWriterLock(spark, path, "Similarity.ivfCompact") {
      val gen = ivfGen(spark, path)
      val f = ivfFs(spark, path)
      val tombPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
      // apply (and retire) only tombstone files NOT already retired by
      // a past compaction/recluster: re-applying a retired file would
      // permanently hide a vector re-introduced after its delete
      val alreadyRetired = IndexMaintenance.retiredPaths(spark, path)
      val tombFiles =
        if (f.exists(tombPath)) f.listStatus(tombPath).map(_.getPath)
          .filter(p => !alreadyRetired.contains(p.toString)).toSeq
        else Nil
      val cellsIn = spark.read.parquet(ivfCellsPath(path, gen))
      val live =
        if (tombFiles.isEmpty) cellsIn
        else cellsIn.join(
          spark.read.parquet(tombFiles.map(_.toString): _*)
            .select("neighbor_id"),
          Seq("neighbor_id"), "left_anti")
      val nCells = ivfReadCentroids(spark, path).length
      live.repartition(nCells, col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(ivfCellsPath(path, gen + 1))
      // pending-then-flip-then-promote (see pqRetrain): a crash
      // between the flip and the ledger write can no longer strand
      // the old generation unledgered with its tombstones live
      IndexMaintenance.recordPendingRetired(spark, path, gen + 1,
        s"g$gen", ivfCellsPath(path, gen) +: tombFiles.map(_.toString))
      writeIvfGen(spark, path, gen + 1) // the flip
      IndexMaintenance.promotePending(spark, path, gen + 1)
    }

  /** Reclaim directories and tombstone files retired by past
    * [[ivfCompact]] / [[ivfRecluster]] runs — call once queries that
    * started before the generation flip have drained. Idempotent (a
    * pending retirement whose flip landed but whose promote was lost
    * to a crash is adopted here first). */
  def ivfVacuum(spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    IndexMaintenance.promotePending(spark, path, ivfGen(spark, path).toLong)
    IndexMaintenance.vacuum(spark, path)
  }

  /** Re-learn the stored index's centroids from the LIVE corpus and
    * rewrite as the next storage generation — the drift remedy
    * [[ivfAppend]]'s scaladoc promises ("re-run kmeansCentroids +
    * ivfWriteIndex when drift warrants it") without its
    * rebuild-in-place downtime: new k-means centroids over `corpus`,
    * full reassignment into `cells-g<gen+1>` PLUS `centroids-g<gen+1>`,
    * then the meta flip — publish-then-point exactly like
    * [[ivfCompact]], so in-flight readers keep their (old centroids,
    * old cells) pair until [[ivfVacuum]] and every new reader resolves
    * the generation ONCE for both. Tombstones are implicitly applied
    * (the rewrite reads the live corpus, not the old cells) and
    * retired with the old generation. Pair with [[ivfDrift]] to
    * decide WHEN: recall decays as the frozen centroids drift from
    * the live distribution, and reclustering restores it. */
  def ivfRecluster(
      spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nCells: Int,
      iters: Int = 3): Unit =
    IndexMaintenance.withWriterLock(spark, path, "Similarity.ivfRecluster") {
      val gen = ivfGen(spark, path)
      val f = ivfFs(spark, path)
      val tombPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
      // the rewrite reads the caller's corpus as the LIVE truth (the
      // spec-pinned contract: a corpus that re-introduces a previously
      // tombstoned id must surface it), so every not-yet-retired
      // tombstone file is implicitly applied here — the deletions are
      // already absent from the live corpus — and retires with the old
      // generation; already-retired ones stay in their own ledger
      // (double-recording is harmless but muddies vacuum accounting).
      // NO anti-join against the tombstones: that would erase exactly
      // the legitimate re-introductions this contract protects
      // (pqRetrain pins the OPPOSITE contract for its own callers).
      val alreadyRetired = IndexMaintenance.retiredPaths(spark, path)
      val tombFiles =
        if (f.exists(tombPath)) f.listStatus(tombPath).map(_.getPath)
          .filter(p => !alreadyRetired.contains(p.toString)).toSeq
        else Nil
      val cents = kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
      corpus
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
        .withColumn("cell", bestCell(cents, col("vec")))
        .write.partitionBy("cell").mode("overwrite")
        .parquet(ivfCellsPath(path, gen + 1))
      import spark.implicits._
      cents.toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("cell_id", "centroid")
        .coalesce(1).write.mode("overwrite")
        .json(s"$path/centroids-g${gen + 1}")
      // retire the centroids file the OLD generation actually
      // resolved (ivfCompact bumps gens without moving centroids, so
      // centroids-g<gen> may not exist — walk down like readers do)
      val oldCents = (gen to 1 by -1).map(g => s"$path/centroids-g$g")
        .find(p => f.exists(new org.apache.hadoop.fs.Path(p)))
        .getOrElse(s"$path/centroids")
      // pending-then-flip-then-promote (see pqRetrain)
      IndexMaintenance.recordPendingRetired(spark, path, gen + 1,
        s"recluster-g$gen",
        (ivfCellsPath(path, gen) +: Seq(oldCents)) ++
          tombFiles.map(_.toString))
      writeIvfGen(spark, path, gen + 1) // the flip
      IndexMaintenance.promotePending(spark, path, gen + 1)
    }

  /** Record the maintained embedding moments' current (n, mean,
    * variance trace) as the index's distribution BASELINE — call
    * right after a build or [[ivfRecluster]]. One tiny JSON; the
    * moments view itself stays the single source of truth for the
    * live distribution. */
  def ivfRecordBaseline(spark: org.apache.spark.sql.SparkSession,
                        path: String, momentsDir: String): Unit = {
    val (n, mean, varTrace) = momentsSummary(spark, momentsDir)
    val out = ivfFs(spark, path).create(
      new org.apache.hadoop.fs.Path(s"$path/_graft_ivf_baseline.json"), true)
    try out.write(
      (s"""{"n":$n,"var_trace":$varTrace,""" +
        s""""mean":[${mean.mkString(",")}]}""").getBytes("UTF-8"))
    finally out.close()
  }

  /** DRIFT PROBE: how far the live embedding distribution (the
    * maintained moments view — O(d²) driver metadata, zero corpus
    * I/O) has moved from the distribution the index's centroids were
    * learned on ([[ivfRecordBaseline]]). Emits one row
    * `(n_baseline, n_live, mean_shift, var_ratio, drifted)`:
    * `mean_shift` = ‖μ_live − μ₀‖ / max(‖μ₀‖, 1e-12) and `var_ratio`
    * = trace(live)/trace(baseline); `drifted` when either leaves
    * [1/(1+tol), 1+tol]-style bands (`mean_shift > tol` or
    * `var_ratio` outside). A fresh cluster of embeddings moves BOTH
    * — the spec plants one and watches recall decay then recover
    * across [[ivfRecluster]]. */
  def ivfDrift(spark: org.apache.spark.sql.SparkSession,
               path: String, momentsDir: String,
               tol: Double = 0.10): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_graft_ivf_baseline.json")
    val f = ivfFs(spark, path)
    require(f.exists(p),
      s"$path has no drift baseline — call ivfRecordBaseline after " +
        "building or reclustering the index")
    // parsed by hand like ivfGen's meta: Spark's json reader skips
    // underscore-prefixed files as hidden
    val in = f.open(p)
    val raw = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def field(name: String) =
      s""""$name":([^,}\\]]+)""".r.findFirstMatchIn(raw).map(_.group(1))
        .getOrElse(sys.error(s"corrupt drift baseline at $p: $raw"))
    val n0 = field("n").toLong
    val t0 = field("var_trace").toDouble
    val m0 = s""""mean":\\[([^\\]]*)\\]""".r.findFirstMatchIn(raw)
      .map(_.group(1)).getOrElse(sys.error(s"corrupt drift baseline at $p"))
      .split(",").map(_.trim.toDouble)
    val (n, mean, varTrace) = momentsSummary(spark, momentsDir)
    require(mean.length == m0.length,
      s"baseline dim ${m0.length} != live moments dim ${mean.length}")
    val shift = math.sqrt(
      mean.zip(m0).map { case (a, b) => (a - b) * (a - b) }.sum) /
      math.max(math.sqrt(m0.map(x => x * x).sum), 1e-12)
    val ratio = varTrace / math.max(t0, 1e-12)
    val drifted = shift > tol || ratio > 1 + tol || ratio < 1 / (1 + tol)
    import spark.implicits._
    Seq((n0, n, shift, ratio, drifted))
      .toDF("n_baseline", "n_live", "mean_shift", "var_ratio", "drifted")
  }

  /** CONTINUOUS IVF maintenance with UNATTENDED drift repair — the
    * full freshness loop as one feed-subscribed query, so a drifting
    * index heals itself with no manual [[ivfRecluster]] call. Per
    * micro-batch of the source table's change feed: inserts assign to
    * the current centroids ([[ivfAppend]]; the first batch BUILDS the
    * index from its own rows and records the drift baseline), deletes
    * tombstone, the maintained moments view ticks (the drift probe's
    * zero-corpus-I/O substrate), and every `driftEvery`-th batch the
    * probe runs: a drifted index reclusters from the live table AS OF
    * THE BATCH'S LAST FED VERSION (reading `latest` would pull rows a
    * later batch will append again — double insertion) and re-records
    * its baseline exactly once, all under the index writer lock the
    * individual operations already take.
    *
    * Cadence caveats: the moments view may run ahead of the index by
    * versions committed after this batch's watermark — the probe sees
    * the distribution slightly early, never stale. `driftEvery = 0`
    * disables the probe (appends/tombstones only). `vacuumEvery = n`
    * reclaims retired generations + applied tombstones every n-th
    * batch — the grace window for external in-flight readers is n
    * ticks' worth of feed time; keep it 0 (manual) when long analytic
    * queries share the index. The process-local tick counter resets
    * on restart (the cadence is operational, not transactional — same
    * discipline as the view maintainers' housekeepEvery). */
  def maintainIvf(spark: org.apache.spark.sql.SparkSession,
                  srcDir: String, path: String, momentsDir: String,
                  checkpointDir: String, idCol: String, vecCol: String,
                  nCells: Int, dim: Int,
                  driftEvery: Int = 1, driftTol: Double = 0.10,
                  reclusterIters: Int = 3,
                  vacuumEvery: Int = 0,
                  trigger: org.apache.spark.sql.streaming.Trigger =
                    org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(nCells >= 1, s"nCells must be positive: $nCells")
    require(driftEvery >= 0, s"driftEvery must be >= 0: $driftEvery")
    require(vacuumEvery >= 0, s"vacuumEvery must be >= 0: $vacuumEvery")
    import graft.sources.{IncrementalViews, Snapshots}
    val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
    Snapshots.changesStream(spark, srcDir)
      .writeStream.option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.persist()
        try {
          if (df.head(1).nonEmpty) {
            val maxV = df.agg(max(col("__version"))).head().getLong(0)
            val ins = df.filter(col("__change") === "insert")
              .select(col(idCol), col(vecCol))
            val del = df.filter(col("__change") === "delete")
              .select(col(idCol))
            val f = ivfFs(spark, path)
            val fresh = !f.exists(
              new org.apache.hadoop.fs.Path(s"$path/centroids"))
            if (ins.head(1).nonEmpty) {
              if (fresh)
                ivfWriteIndex(ins, idCol, vecCol,
                  sampleCentroids(ins, idCol, vecCol, nCells), path)
              else ivfAppend(spark, ins, idCol, vecCol, path)
            }
            // First-observed-batch edge (e.g. subscribing with
            // startingVersion=latest to a mid-life table): a
            // delete-ONLY first batch must not tombstone an index
            // that does not exist yet — those ids were never indexed
            // here and no later fresh build will contain them. Skip
            // with a named log line instead of crashing the stream.
            if (del.head(1).nonEmpty) {
              if (fresh && ins.head(1).isEmpty)
                org.slf4j.LoggerFactory.getLogger("graft.Similarity")
                  .warn(s"maintainIvf($path): delete-only batch " +
                    "before any index exists — skipping tombstones " +
                    "(the ids were never indexed)")
              else ivfTombstone(spark, path, del, idCol)
            }
            IncrementalViews.refreshEmbeddingMoments(spark, srcDir,
              momentsDir, vecCol, dim)
            val tick = ticks.incrementAndGet()
            if (fresh && ins.head(1).nonEmpty)
              ivfRecordBaseline(spark, path, momentsDir)
            else if (driftEvery > 0 && tick % driftEvery == 0 &&
              f.exists(new org.apache.hadoop.fs.Path(
                s"$path/_graft_ivf_baseline.json"))) {
              val drifted = ivfDrift(spark, path, momentsDir, driftTol)
                .collect().head.getBoolean(4)
              if (drifted) {
                ivfRecluster(spark,
                  Snapshots.read(spark, srcDir, version = Some(maxV)),
                  idCol, vecCol, path, nCells, reclusterIters)
                ivfRecordBaseline(spark, path, momentsDir)
              }
            }
            if (vacuumEvery > 0 && tick % vacuumEvery == 0) {
              ivfVacuum(spark, path); ()
            }
          }
        } finally { df.unpersist(); () }
      }.start()
  }

  /** (n, mean, variance trace) from a maintained moments view
    * ([[graft.sources.IncrementalViews.refreshEmbeddingMoments]]):
    * first moments ride `j = -1` rows, the diagonal second moments
    * give the trace — O(d²) rows collected, all driver metadata. */
  private def momentsSummary(spark: org.apache.spark.sql.SparkSession,
                             momentsDir: String)
      : (Long, Array[Double], Double) = {
    val rows = Snapshots.read(spark, momentsDir)
      .filter(col("__cnt") > 0 && (col("__j") === -1 ||
        col("__j") === col("__i")))
      .select(col("__i"), col("__j"), col("sum___m"), col("__cnt"))
      .collect()
    require(rows.nonEmpty,
      s"$momentsDir holds no moments — run refreshEmbeddingMoments first")
    val n = rows.head.getLong(3)
    require(rows.forall(_.getLong(3) == n),
      s"$momentsDir moment cells disagree on the row count — the view " +
        "is mid-maintenance or was built with a different dim")
    require(n > 1, s"drift probe needs >= 2 valid rows, got $n")
    val dim = rows.map(_.getInt(0)).max + 1
    val sums = new Array[Double](dim)
    val diag = new Array[Double](dim)
    rows.foreach { r =>
      val v = r.getDecimal(2).doubleValue()
      if (r.getInt(1) < 0) sums(r.getInt(0)) = v else diag(r.getInt(0)) = v
    }
    val mean = sums.map(_ / n)
    val trace = (0 until dim).map(i =>
      (diag(i) - sums(i) * sums(i) / n) / (n - 1)).sum
    (n, mean, trace)
  }

  def ivfReadCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String): Array[(Long, Array[Float])] =
    ivfReadCentroidsAt(spark, path, ivfGen(spark, path))

  /** Centroids as of storage generation `gen`: [[ivfRecluster]]
    * writes `centroids-g<n>` next to its cells generation, while
    * [[ivfCompact]] bumps the generation WITHOUT moving centroids —
    * so the right file is the newest one at or below `gen` (walk
    * down to the build-time `centroids`). Callers that touch both
    * centroids and cells resolve `gen` ONCE and read both at it, so
    * a concurrent recluster flip can never pair new centroids with
    * old cells. */
  private[graft] def ivfReadCentroidsAt(
      spark: org.apache.spark.sql.SparkSession,
      path: String, gen: Int): Array[(Long, Array[Float])] = {
    val f = ivfFs(spark, path)
    val at = (gen to 1 by -1).map(g => s"$path/centroids-g$g")
      .find(p => f.exists(new org.apache.hadoop.fs.Path(p)))
      .getOrElse(s"$path/centroids")
    spark.read.json(at)
      .select(col("cell_id").cast("long"),
        col("centroid").cast("array<float>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
  }

  /** Incrementally add vectors to a stored IVF index: assign against
    * the STORED centroids and append into the hit cell partitions —
    * O(batch) work, no existing file rewritten, the streaming-ingest
    * shape for a vector index (cell quality degrades only as far as
    * the frozen centroids do; re-run [[kmeansCentroids]] +
    * [[ivfWriteIndex]] when drift warrants it). Ids must be unique
    * across appends, as for [[graft.operators.MinHashIndex]]. */
  def ivfAppend(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      path: String): Unit =
    // single-writer lock: an append racing [[ivfCompact]] would land
    // in the generation the compaction is about to retire
    IndexMaintenance.withWriterLock(spark, path, "Similarity.ivfAppend") {
      // one gen resolution for BOTH reads: centroids and the cell
      // directory must belong to the same generation
      val gen = ivfGen(spark, path)
      val centroids = ivfReadCentroidsAt(spark, path, gen)
      batch
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
        .withColumn("cell", bestCell(centroids, col("vec")))
        .write.partitionBy("cell").mode("append")
        .parquet(ivfCellsPath(path, gen))
    }

  /** Logically delete vectors from a stored IVF index (the
    * [[graft.operators.MinHashIndex.tombstone]] pattern): queries
    * anti-join the probed candidates, O(candidates) not O(index).
    * Pair with the erasure on the owning table. */
  def ivfTombstone(spark: org.apache.spark.sql.SparkSession,
                   path: String, ids: DataFrame, idCol: String): Unit =
    ids.select(col(idCol).as("neighbor_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")

  private def ivfLive(spark: org.apache.spark.sql.SparkSession,
                      path: String, candidates: DataFrame): DataFrame = {
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val t = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    // skip tombstone files a compaction/recluster already APPLIED
    // (recorded retired, awaiting vacuum): anti-joining them again
    // would hide a vector legitimately re-introduced after its delete
    val retired = IndexMaintenance.retiredPaths(spark, path)
    val live =
      if (!f.exists(t)) Array.empty[String]
      else f.listStatus(t).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") &&
          !retired.contains(p.toString))
        .map(_.toString)
    if (live.isEmpty) candidates
    else candidates.join(
      spark.read.parquet(live.toIndexedSeq: _*).select("neighbor_id"),
      Seq("neighbor_id"), "left_anti")
  }

  /** Query a stored IVF index: the probe-cell set (≤ |queries|·nProbe,
    * the broadcast-sized side by assumption) becomes a literal
    * partition filter, so the scan plans `PartitionFilters` and never
    * opens the other nCells−nProbe directories. At 100 TB this is the
    * difference between an index lookup and a table scan. */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      path: String,
      nProbe: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    // one gen resolution pairs this query's centroids with its cells
    // even if a recluster flips the pointer mid-plan (the retired
    // generation outlives in-flight readers until ivfVacuum)
    val gen = ivfGen(spark, path)
    val centroids = ivfReadCentroidsAt(spark, path, gen)
    val qProbes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("cell", explode(probeCells(centroids, col("__qv"), nProbe)))
    val probedCells = qProbes.select("cell").distinct()
      .collect().map(_.getLong(0))
    val cAssigned = ivfLive(spark, path,
      spark.read.parquet(ivfCellsPath(path, gen))
        .filter(col("cell").isin(probedCells: _*)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val joined = cAssigned.join(broadcast(qProbes), "cell")
    // excludeSelf=false is for EXTERNAL queries (e.g. hybridSearch's
    // internal probe): an id-collision between a query and a corpus
    // vector is then a coincidence, not a self-match to suppress
    (if (excludeSelf)
       joined.filter(col("neighbor_id") =!= col("query_id"))
     else joined)
      .withColumn("cosine", Vectors.cosine(col("__qv"), col("vec")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        graft.functions.Exact.roundAt(col("cosine"), 4).as("cosine"))
  }

  /** LSH top-k: same output shape as [[bruteForceTopK]] but candidates
    * come from bucket collisions across `tables` hash tables (union →
    * distinct), so each query only scores a small candidate set. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bitsPerTable: Int = 10,
      tables: Int = 6): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cb = withBuckets(c, "__cv", bitsPerTable, tables)
      .select(col("__t"), col("__bucket"), col("neighbor_id"))
    val qb = withBuckets(q, "__qv", bitsPerTable, tables)
      .select(col("__t"), col("__bucket"), col("query_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cb.join(qb, Seq("__t", "__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
      .join(q, "query_id").join(c, "neighbor_id")
      .withColumn("cosine", Vectors.cosine(col("__qv"), col("__cv")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        graft.functions.Exact.roundAt(col("cosine"), 4).as("cosine"))
  }

  /** The LSH recall CONTRACT as a query: measure [[lshTopK]]'s recall
    * against the exact [[bruteForceTopK]] answer and emit the
    * spec-bound verdict — one row `(n_queries, k, recall_floor,
    * recall_ok)`. LSH output is seeded-deterministic but not
    * SQL-reproducible (an external engine can't re-derive the
    * hyperplane buckets), so the ORACLE-CHECKABLE surface is the
    * probabilistic contract itself: `recall_ok` must come back `true`,
    * and the driver's hash compare turns any recall regression —
    * parameter drift, a broken bucket kernel, a biased plane — into a
    * red correctness row instead of a rows-only shrug. Overall recall
    * (hits / |brute pairs|), not per-query: per-query recall at small
    * k is itself a coin flip per the LSH guarantee; the mean over the
    * query set is what the parameter budget (SURVEY §4) bounds.
    *
    * Scale: adds one broadcast-sized join over the two top-k frames —
    * both O(|queries|·k) — on top of the two searches; the brute
    * baseline limits the CHECK to broadcast-sized query sets, which
    * is exactly the regime where measuring recall is affordable
    * anyway (sampled queries at 100 TB). */
  def lshRecallCheck(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bitsPerTable: Int = 10,
      tables: Int = 6,
      floor: Double = 0.9): DataFrame = {
    val brute = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select("query_id", "neighbor_id")
    val lsh = lshTopK(corpus, queries, idCol, vecCol, k, bitsPerTable, tables)
      .select("query_id", "neighbor_id")
    // flag each true neighbor found by LSH, then ONE aggregation —
    // no cross join of scalar aggregates (that plans as a
    // nested-loop join, which the plan guard rightly bans)
    brute.join(lsh.withColumn("__hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1L)).as("__denom"),
        sum(coalesce(col("__hit"), lit(0))).as("__num"))
      .select(
        col("n_queries"),
        lit(k.toLong).as("k"),
        lit(floor).as("recall_floor"),
        // an empty query set satisfies any floor vacuously — without
        // the coalesce, 0/0 makes the verdict NULL instead of true
        coalesce(col("__num").cast("double") / col("__denom") >= floor,
          lit(true)).as("recall_ok"))
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space, then prune
    * τ-similar pairs WITHIN each cluster only — the cluster bound is
    * what makes web-scale semantic dedup tractable (candidates are
    * Σ|cell|², never n²). A doc survives iff NO smaller-id doc in its
    * cell is cosine-≥-τ similar to it — the deterministic
    * keep-first-occurrence rule, reproducible across engines and
    * partitionings. Emits every doc as `(id, cell_id, n_dups, kept)`;
    * `n_dups` counts the smaller-id τ-neighbors that voted it out.
    *
    * Centroids are the deterministic id-ordered sample (the stored-
    * index convention, SQL-reproducible); pass `iters > 0` to refine
    * them with the spherical k-means whose exact-decimal means stay
    * engine-portable. Scale: assignment is a zero-shuffle literal
    * argmax projection; the pair join shuffles on the cell key and is
    * deliberately quadratic per cell — size `nCells` with the corpus
    * so cells stay bounded (the paper's k ≈ √n regime).
    *
    * A NULL embedding yields a NULL cell: such docs can neither veto
    * nor be vetoed (null never equi-joins), so they come back
    * `kept = true` with a null `cell_id` — visible, not silently
    * dropped.
    *
    * NOTE the hot-cell guard below runs an EAGER Spark job at
    * operator-construction time (it measures the assignment before
    * the quadratic join is planned) — callers that build plans ahead
    * of execution, including SQL analysis resolving the
    * `graft_semantic_dedup` TVF, pay that job up front. Pass
    * `maxCellSize <= 0` to skip the guard and restore fully lazy
    * construction (you then own the Σ|cell|² risk). */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      threshold: Double,
      iters: Int = 0,
      maxCellSize: Long = 10000L): DataFrame = {
    val cents =
      if (iters > 0) kmeansCentroids(emb, idCol, vecCol, nCells, iters)
      else sampleCentroids(emb, idCol, vecCol, nCells)
    val a = emb
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      // a NULL embedding gets a NULL cell (bestCell's struct-max
      // would otherwise fall through the NULL cosines to the
      // smallest centroid id), keeping null-vec docs auditable
      .withColumn("__cell",
        when(col("__v").isNotNull, bestCell(cents, col("__v"))))
    // GIANT-CELL GUARD: the in-cell pair join below is deliberately
    // quadratic per cell (Σ|cell|², the SemDeDup bound) — and real
    // embedding distributions are heavily clustered, so ONE hot cell
    // can silently go n². Measure the assignment first and fail fast
    // with the offending cell, exactly like cohortOverlap's cap
    // (Sketches.cohortOverlap). One cheap extra scan; the remedy is
    // more cells (the paper's k ≈ √n regime) or `iters > 0` so
    // k-means splits the dense region — or a deliberately raised cap.
    val hot = if (maxCellSize <= 0) Array.empty[org.apache.spark.sql.Row]
    else a.filter(col("__cell").isNotNull)
      .groupBy("__cell").agg(count(lit(1L)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__cell")).limit(1).collect()
    hot.headOption.foreach { r =>
      val (cell, cnt) = (r.getLong(0), r.getLong(1))
      require(cnt <= maxCellSize,
        s"semanticDedup pairs every two docs inside a cell — cell $cell holds " +
          s"$cnt docs (> maxCellSize=$maxCellSize), ~${cnt * cnt / 2} pairs. " +
          s"Raise nCells toward sqrt(n) (got $nCells), pass iters > 0 so " +
          "k-means splits the dense region, or raise maxCellSize deliberately.")
    }
    val withDups = cellDupCounts(a, threshold)
    withDups.select(col("__id").as(idCol), col("__cell").as("cell_id"),
      col("n_dups"), (col("n_dups") === 0L).as("kept"))
  }

  /** Smaller-id τ-neighbor counts WITHIN cells — the SemDeDup veto
    * core shared by the batch operator and the maintained index.
    * Input `(\_\_id, \_\_v, \_\_cell)` (null cell = unpairable);
    * output adds `n_dups`. The pair join shuffles on the cell key
    * and is quadratic PER CELL only — callers own the cell-size
    * guard. */
  private def cellDupCounts(a: DataFrame, threshold: Double): DataFrame = {
    // The pair join's work scales with PAIRS, not bytes: byte-based
    // AQE coalescing — or a single-file input scan — would run the
    // quadratic cosine filter one-wide however many cores are idle.
    // Spread the probe side explicitly (an explicit partition count is
    // exempt from AQE coalescing); with the build side broadcast the
    // join inherits this parallelism, and a non-broadcast plan just
    // re-exchanges by cell as before.
    val par = a.sparkSession.sparkContext.defaultParallelism
    val dups = a.repartition(par).as("x").join(a.as("y"),
        col("x.__cell") === col("y.__cell") && col("x.__id") > col("y.__id"))
      .filter(Vectors.cosine(col("x.__v"), col("y.__v")) >= threshold)
      .groupBy(col("x.__id"))
      .agg(count(lit(1L)).as("n_dups"))
    a.join(dups, Seq("__id"), "left")
      .withColumn("n_dups", coalesce(col("n_dups"), lit(0L)))
  }

  // ---- maintained SemDeDup index ------------------------------------

  /** Stored cell id for docs with a NULL embedding: a real (non-null)
    * sentinel so files holding them keep usable `__cell` stats —
    * NULL-keyed merge pruning degrades to rewrite-everything. Mapped
    * back to NULL on [[semanticDedupRead]]. */
  private val NullCell = Long.MinValue

  private def sdAssignDir(path: String) = s"$path/assign"

  /** Initialize a MAINTAINED SemDeDup index at `path`: freeze the
    * centroids (the [[ivfWriteIndex]] JSON convention), run the full
    * in-cell keep-first dedup of [[semanticDedup]], and commit the
    * assignment table `(\_\_id, \_\_cell, \_\_v, n_dups)` as a
    * cell-clustered snapshot table. The centroids stay FROZEN across
    * [[semanticDedupApply]] ticks — that is what makes each tick's
    * cell assignment a zero-shuffle literal argmax and the fold
    * order-independent (a doc's cell never depends on when it
    * arrived); re-init when the embedding distribution drifts.
    * `threshold` is pinned in a `_param` marker: a later tick passing
    * a different τ would silently mix veto semantics, so it fails
    * loudly instead ([[graft.sources.IncrementalViews]] discipline).
    *
    * Scale: one centroid pass (sample or k-means), one assignment
    * projection, Σ|cell|² bounded pair work, one clustered commit.
    * The table carries the vectors because later ticks veto new docs
    * against STORED members without touching the corpus. */
  def semanticDedupInit(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      threshold: Double,
      iters: Int = 0,
      maxCellSize: Long = 10000L): Long =
    IndexMaintenance.withWriterLock(spark, path, "Similarity.semanticDedupInit") {
      graft.sources.IncrementalViews.requireSameParam(spark, path,
        "semdedup_threshold", threshold.toString)
      val cents =
        if (iters > 0) kmeansCentroids(emb, idCol, vecCol, nCells, iters)
        else sampleCentroids(emb, idCol, vecCol, nCells)
      require(cents.forall(_._1 != NullCell),
        s"centroid id $NullCell collides with the null-embedding sentinel")
      import spark.implicits._
      cents.toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("cell_id", "centroid")
        .coalesce(1).write.mode("overwrite").json(s"$path/centroids")
      val a = assignStored(emb, idCol, vecCol, cents)
      // guard the ASSIGNMENT — guarding the scored frame would embed
      // the quadratic pair join inside the measuring pass itself
      guardCells(a, maxCellSize, nCells)
      val scored = cellDupCounts(
        a.withColumn("__cell", when(col("__cell") === NullCell, lit(null))
          .otherwise(col("__cell"))), threshold)
        .withColumn("__cell", coalesce(col("__cell"), lit(NullCell)))
      Snapshots.commit(
        scored.select(col("__id"), col("__cell"), col("__v"), col("n_dups"))
          .repartitionByRange(col("__cell"))
          .sortWithinPartitions(col("__cell"), col("__id")),
        sdAssignDir(path), overwrite = true, statsCol = Some("__cell"))
    }

  /** Fold one change batch into a maintained SemDeDup index —
    * O(batch + affected cells), never the corpus. Change rows carry
    * `(idCol, vecCol, opCol)` with op `'u'` (insert/replace) or `'d'`
    * (delete); delete rows must carry the doc's stored embedding (the
    * CDC delete-image convention — assignment against the frozen
    * centroids re-derives its cell with zero lookups), and an update
    * that may MOVE a doc between cells ships the old image as a `'d'`
    * row plus the new one as `'u'` so both cells recompute.
    *
    * Each tick: assign the batch against the frozen centroids
    * (zero-shuffle literal argmax), collect the ≤ nCells affected
    * cell ids (driver metadata, like IVF probe cells), read ONLY
    * those cells' stored members (manifest point-range prune on the
    * cell-clustered table), rebuild the affected cells' live
    * membership, recompute their smaller-id τ-neighbor counts, and
    * [[Snapshots.mergeCommit]] the relabeled rows + tombstones —
    * file-granular copy-on-write pruned by the same cell key. Cells
    * the batch never touches are carried by reference, so the result
    * equals from-scratch [[semanticDedup]] over the final live corpus
    * under the same frozen centroids (cells are independent: a doc's
    * verdict depends only on its own cell's live members).
    * A deletion that removes a veto flips the survivor back to
    * `kept = true` in the same tick. */
  def semanticDedupApply(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      changes: DataFrame,
      idCol: String,
      vecCol: String,
      opCol: String = "op",
      maxCellSize: Long = 10000L): Long =
    IndexMaintenance.withWriterLock(spark, path, "Similarity.semanticDedupApply") {
      require(Snapshots.latestVersion(spark, sdAssignDir(path)).isDefined,
        s"no SemDeDup index at $path — run semanticDedupInit first")
      val threshold = graft.sources.IncrementalViews
        .readParam(spark, path, "semdedup_threshold")
        .getOrElse(sys.error(s"$path lacks the semdedup_threshold marker"))
        .toDouble
      val cents = ivfReadCentroids(spark, path)
      val assigned = assignStored(
          changes.select(col(idCol), col(vecCol), col(opCol).as("__op")),
          idCol, vecCol, cents)
        .persist()
      try {
        // one id must resolve to ONE final row: a duplicate 'u' id in
        // the same batch would double the doc inside its cell and
        // silently inflate every neighbor's n_dups
        val dupU = assigned.filter(col("__op") === "u")
          .groupBy(col("__id")).agg(count(lit(1L)).as("__c"))
          .filter(col("__c") > 1L).limit(1).collect()
        require(dupU.isEmpty,
          s"semanticDedupApply batch carries id ${dupU.head.get(0)} in " +
            "more than one 'u' row — collapse the batch to one final " +
            "image per id (a cell move is one 'd' old image + one 'u')")
        // affected cells are driver metadata: ≤ nCells + the null cell
        val cells = assigned.select(col("__cell")).distinct()
          .collect().map(_.getLong(0)).sorted
        val stored = Snapshots.readPrunedRanges(spark, sdAssignDir(path),
            "", cells.map(c => (c: Any, c: Any)))
          .filter(col("__cell").isin(cells: _*))
        val changedIds = assigned.select(col("__id")).distinct()
        val live = stored.select(col("__id"), col("__cell"), col("__v"))
          .join(changedIds, Seq("__id"), "left_anti")
          .unionByName(assigned.filter(col("__op") === "u")
            .select(col("__id"), col("__cell"), col("__v")))
        guardCells(live, maxCellSize, cents.length)
        val rescored = cellDupCounts(
          live.withColumn("__cell",
            when(col("__cell") === NullCell, lit(null)).otherwise(col("__cell"))),
          threshold)
          .withColumn("__cell", coalesce(col("__cell"), lit(NullCell)))
        val merge = rescored
          .select(col("__id"), col("__cell"), col("__v"), col("n_dups"),
            lit("u").as("op"), lit(0L).as("seq"))
          .unionByName(assigned.filter(col("__op") === "d")
            .select(col("__id"), col("__cell"), col("__v"),
              lit(0L).as("n_dups"), lit("d").as("op"), lit(-1L).as("seq")))
        Snapshots.mergeCommit(spark, sdAssignDir(path), merge,
          keyCols = Seq("__id"), pruneCol = Some("__cell"),
          clusterBy = Some("__cell"))
      } finally assigned.unpersist(blocking = false)
    }

  /** The maintained SemDeDup verdicts: same shape as
    * [[semanticDedup]] — `(idCol, cell_id, n_dups, kept)`, null
    * `cell_id` for null-embedding docs. */
  def semanticDedupRead(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String = "id"): DataFrame =
    Snapshots.read(spark, sdAssignDir(path))
      .select(col("__id").as(idCol),
        when(col("__cell") === NullCell, lit(null))
          .otherwise(col("__cell")).as("cell_id"),
        col("n_dups"), (col("n_dups") === 0L).as("kept"))

  /** Frozen-centroid assignment in STORED form: null embeddings get
    * the [[NullCell]] sentinel (never pair — sentinel is mapped back
    * to null before the pair join). */
  private def assignStored(df: DataFrame, idCol: String, vecCol: String,
                           cents: Array[(Long, Array[Float])]): DataFrame =
    df.withColumn("__id", col(idCol).cast("long"))
      .withColumn("__v", col(vecCol))
      .withColumn("__cell",
        when(col("__v").isNotNull, bestCell(cents, col("__v")))
          .otherwise(lit(NullCell)))
      .drop(idCol, vecCol)

  /** Hot-cell fail-fast over a stored-form assignment (sentinel rows
    * are unpairable and exempt) — one cheap agg, the
    * [[semanticDedup]] guard's wording. */
  private def guardCells(a: DataFrame, maxCellSize: Long,
                         nCells: Int): Unit = {
    if (maxCellSize <= 0) return
    val hot = a.filter(col("__cell").isNotNull &&
        col("__cell") =!= NullCell)
      .groupBy("__cell").agg(count(lit(1L)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__cell")).limit(1).collect()
    hot.headOption.foreach { r =>
      val (cell, cnt) = (r.getLong(0), r.getLong(1))
      require(cnt <= maxCellSize,
        s"semanticDedup pairs every two docs inside a cell — cell $cell holds " +
          s"$cnt docs (> maxCellSize=$maxCellSize), ~${cnt * cnt / 2} pairs. " +
          s"Raise nCells toward sqrt(n) (got $nCells), pass iters > 0 so " +
          "k-means splits the dense region, or raise maxCellSize deliberately.")
    }
  }

  /** SEMANTIC cross-corpus contamination: find corpus docs whose
    * EMBEDDING is τ-cosine-close to a benchmark doc — the paraphrase
    * variant of [[Corpus.contamination]]'s n-gram check (a reworded
    * test answer shares no 8-gram but sits next to the original in
    * embedding space). Same cluster bound as [[semanticDedup]]:
    * centroids are the deterministic id-ordered sample of the
    * BENCHMARK side (the bounded set), both sides assign by
    * zero-shuffle literal argmax, and the pair join runs within cells
    * only — candidates are Σ|corpus-cell|·|bench-cell|, never
    * |corpus|·|bench|. Emits `(corpus_id, benchmark_id, cell_id,
    * cosine)` with cosine rounded at `cosScale` (oracle-exact).
    *
    * Guarded like [[semanticDedup]]: the per-cell candidate product
    * is measured BEFORE the join and a hot cell fails fast by name —
    * real embedding distributions cluster, and benchmark suites
    * cluster harder. The guard is an EAGER job at construction time
    * (SQL analysis of the TVF included); `maxCellPairs <= 0` skips it
    * and restores lazy construction. NULL embeddings on either side
    * get a NULL cell and never pair. */
  def semanticContamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      threshold: Double,
      cosScale: Int = 4,
      maxCellPairs: Long = 25000000L): DataFrame = {
    val cents = sampleCentroids(benchmark, idCol, vecCol, nCells)
    def assign(df: DataFrame, idAs: String) = df
      .select(col(idCol).cast("long").as(idAs), col(vecCol).as(s"__v_$idAs"))
      .withColumn(s"__cell_$idAs",
        when(col(s"__v_$idAs").isNotNull,
          bestCell(cents, col(s"__v_$idAs"))))
    val c = assign(corpus, "corpus_id")
    val b = assign(benchmark, "benchmark_id")
    val hot = if (maxCellPairs <= 0) Array.empty[org.apache.spark.sql.Row]
    else c.filter(col("__cell_corpus_id").isNotNull)
      .groupBy(col("__cell_corpus_id").as("__cell"))
      .agg(count(lit(1L)).as("__nc"))
      .join(b.filter(col("__cell_benchmark_id").isNotNull)
        .groupBy(col("__cell_benchmark_id").as("__cell"))
        .agg(count(lit(1L)).as("__nb")), Seq("__cell"))
      .withColumn("__pairs", col("__nc") * col("__nb"))
      .orderBy(col("__pairs").desc, col("__cell")).limit(1).collect()
    hot.headOption.foreach { r =>
      val (cell, pairs) = (r.getLong(0), r.getAs[Long]("__pairs"))
      require(pairs <= maxCellPairs,
        s"semanticContamination pairs every corpus doc with every benchmark " +
          s"doc inside a cell — cell $cell holds ${r.getAs[Long]("__nc")} " +
          s"corpus x ${r.getAs[Long]("__nb")} benchmark docs = $pairs pairs " +
          s"(> maxCellPairs=$maxCellPairs). Raise nCells toward sqrt(n), or " +
          "raise maxCellPairs deliberately.")
    }
    c.join(b, col("__cell_corpus_id") === col("__cell_benchmark_id"))
      .withColumn("__cos",
        Vectors.cosine(col("__v_corpus_id"), col("__v_benchmark_id")))
      .filter(col("__cos") >= threshold)
      .select(col("corpus_id"), col("benchmark_id"),
        col("__cell_corpus_id").as("cell_id"),
        graft.functions.Exact.roundAt(col("__cos"), cosScale).as("cosine"))
  }

  private def gramAgg(vecCol: Column, dim: Int, scale: Int): Column =
    graft.functions.ColumnBridge.column(
      graft.functions.ExactGram(
        graft.functions.ColumnBridge.expression(vecCol), dim, scale)
        .toAggregateExpression())

  /** One-pass exact Gram matrix of a vector column as (i, j, gram_v)
    * rows: Σ vᵢ·vⱼ over every row, all d² cells from a SINGLE
    * map-side-combined aggregation over one scan
    * ([[graft.functions.ExactGram]] — 128-bit exact cells with
    * decimal-cast rounding semantics, so the DuckDB oracle reproduces
    * every value bit-for-bit; the buffer is O(d²) regardless of row
    * count). */
  def gramMatrix(df: DataFrame, vecCol: String, dim: Int,
                 scale: Int = 9): DataFrame =
    df.agg(gramAgg(col(vecCol), dim, scale).as("__g"))
      .select(posexplode(col("__g.gram")))
      .select(floor(col("pos") / dim).cast("long").as("i"),
        pmod(col("pos"), lit(dim)).cast("long").as("j"),
        col("col").as("gram_v"))

  /** Nearest-centroid classification: per-label mean embeddings from
    * one exact aggregation pass (64 ExactSum128 cells per label,
    * map-side combined; the label-count table is bounded driver
    * metadata like the IVF centroids), then every vector is assigned
    * the argmax-cosine centroid — ties to the smallest label — as a
    * pure shuffle-free projection via `array_max` over (cos, −label)
    * structs, no per-vector window or join. Deterministic and
    * engine-exact: centroids are decimal-sum means, cosine is the
    * proven sequential fold. */
  def nearestCentroid(df: DataFrame, idCol: String, vecCol: String,
                      labelCol: String, dim: Int,
                      scale: Int = 9): DataFrame = {
    val sums = (0 until dim).map(i =>
      graft.functions.Exact.sumExact(
        element_at(col(vecCol), i + 1).cast("double"), scale).as(s"s_$i"))
    val aggs = count(lit(1L)).cast("double").as("__n") +: sums
    val cents = df.groupBy(col(labelCol).as("__lbl"))
      .agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        val n = r.getDouble(1)
        (r.getInt(0).toLong, Array.tabulate(dim)(i => r.getDouble(i + 2) / n))
      }.sortBy(_._1)
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val scored = cents.map { case (lbl, cv) =>
      struct(
        Vectors.cosine(vecD, array(cv.map(lit(_)): _*)).as("cos"),
        lit(-lbl).as("neg"))
    }
    val best = array_max(array(scored.toIndexedSeq: _*))
    df.select(col(idCol), col(labelCol).cast("long").as("label"),
      (best("neg") * lit(-1L)).as("pred_label"),
      graft.functions.Exact.roundAt(best("cos"), 4).as("cos"))
  }

  /** Per-dimension (min, max) of a vector column — ONE aggregation
    * pass (2·d agg cells, no shuffle of vector rows beyond the
    * partial-agg collapse), collected as bounded driver metadata like
    * the IVF centroids. */
  def int8Range(df: DataFrame, vecCol: String, dim: Int): (Array[Double], Array[Double]) = {
    val aggs = (0 until dim).flatMap { i =>
      val x = element_at(col(vecCol), i + 1).cast("double")
      Seq(min(x).as(s"mn_$i"), max(x).as(s"mx_$i"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (Array.tabulate(dim)(i => r.getDouble(2 * i)),
      Array.tabulate(dim)(i => r.getDouble(2 * i + 1)))
  }

  /** Scalar int8 quantization — the 4× memory shrink that keeps a
    * 100 TB embedding corpus ANN-searchable in executor memory. Each
    * dimension maps linearly from its corpus [min, max] onto
    * [-127, 127] with the engine-portable floor(q + 0.5) rounding
    * (same formula as [[graft.functions.Exact.roundAt]]), so the
    * codes are bit-reproducible in any engine — the DuckDB oracle
    * computes identical ints. Constant dimensions code to 0. The
    * range pass is one aggregation; the coding pass is a pure
    * projection with the 2·d range constants as broadcast literals —
    * no shuffle at any scale. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String,
                   dim: Int): DataFrame = {
    val (mins, maxs) = int8Range(df, vecCol, dim)
    val mnLit = array(mins.map(lit(_)): _*)
    val mxLit = array(maxs.map(lit(_)): _*)
    val codes = zip_with(
      transform(col(vecCol), x => x.cast("double")),
      zip_with(mnLit, mxLit, (a, b) => struct(a.as("mn"), b.as("mx"))),
      (x, r) => when(r("mx") === r("mn"), lit(0)).otherwise(
        (floor((x - r("mn")) / (r("mx") - r("mn")) * 254 + 0.5)
          .cast("int") - 127)))
    df.select(col(idCol), codes.as("codes"))
  }

  /** Inverse map of [[quantizeInt8]] for approximate distance work:
    * code c in dimension d → mn_d + (c + 127) / 254 · (mx_d − mn_d). */
  def dequantizeInt8(codes: Column, mins: Array[Double],
                     maxs: Array[Double]): Column = {
    val mnLit = array(mins.map(lit(_)): _*)
    val mxLit = array(maxs.map(lit(_)): _*)
    zip_with(codes,
      zip_with(mnLit, mxLit, (a, b) => struct(a.as("mn"), b.as("mx"))),
      (c, r) => r("mn") + (c.cast("double") + 127) / 254 * (r("mx") - r("mn")))
  }

  // ---- Johnson–Lindenstrauss random projection ----

  /** splitmix64 finalizer — the deterministic per-cell seed mix for
    * [[rpMatrix]] (public-domain constant schedule; same mixer the
    * JDK's SplittableRandom uses). */
  private def splitmix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The deterministic Rademacher projection matrix: R(j)(i) =
    * ±1/√outDim with the sign drawn from splitmix64(seed, j, i).
    * Bounded driver metadata (outDim·dim doubles) that bakes into the
    * projection plan as literals — every executor, every run, every
    * engine sees the same matrix, so a projected corpus is
    * reproducible and SQL-replayable (the oracle embeds the same
    * literals). */
  def rpMatrix(dim: Int, outDim: Int,
               seed: Long = 42L): Array[Array[Double]] = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim <= dim, got outDim=$outDim dim=$dim")
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    Array.tabulate(outDim)(j => Array.tabulate(dim)(i =>
      if (splitmix64(seed + j.toLong * dim + i) >= 0L) inv else -inv))
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003,
    * database-friendly ±1 projections): compress `vecCol` (dim
    * floats) to `outDim` doubles, `proj(j) = Σ_i v(i)·R(j)(i)` — the
    * cheap first-stage dimensionality cut that preserves pairwise
    * distances within 1±ε for outDim = O(ln n / ε²) and makes every
    * downstream ANN/cluster/dedup pass outDim/dim as expensive.
    *
    * Exactness: each output coordinate is one fixed-order
    * `aggregate(zip_with(...))` fold over the literal matrix row —
    * pure codegen HOFs (no 64 KB-method unrolling), left-to-right
    * IEEE adds, bit-identical to the oracle's `list_reduce`. Scale:
    * one projection pass over the corpus, no shuffle, no state; the
    * matrix is literals riding the closure. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    dim: Int, outDim: Int,
                    seed: Long = 42L): DataFrame = {
    val r = rpMatrix(dim, outDim, seed)
    val vec = requireVecDim(col(vecCol), dim,
      "Similarity.randomProject")
    val coords = (0 until outDim).map { j =>
      aggregate(
        zip_with(vec, typedLit(r(j).toSeq),
          (x, y) => x.cast("double") * y),
        lit(0.0), (acc, t) => acc + t)
    }
    df.select(col(idCol), array(coords: _*).as("proj"))
  }

  // ---- maximal marginal relevance (Carbonell & Goldstein 1998) ----

  /** MMR diversified reranking: greedily re-order each query's
    * candidate page to balance relevance against redundancy —
    *   pick_r = argmax_c [ λ·rel(c) − (1−λ)·max_{s∈picked} cos(c,s) ]
    * — the standard diversification pass that stops a retrieval page
    * (or a training-batch neighborhood) from being k near-copies of
    * the same document. λ=1 is pure relevance; λ=0 pure diversity.
    *
    * Input: one row per (query, candidate) — e.g. [[bruteForceTopK]]
    * output joined back to its vectors — with a BOUNDED per-query
    * candidate count (`maxCandidates`, enforced loudly in the plan:
    * this is a reranker over an already-cut page, not a search).
    * Output `(queryCol, idCol, rnk, mmr)`, rnk 1..k in pick order,
    * mmr = the pick's score at selection time, rounded at 6.
    *
    * Scale/exactness: the page crosses the shuffle ONCE into
    * [[graft.functions.MmrSelect]] — a bounded-state
    * TypedImperativeAggregate (the BoundedTopK discipline) whose
    * buffer is capped at `maxCandidates` triples and whose finish
    * runs the greedy imperatively over O(page) state. (A chain of k
    * HOF-transform rounds was measured going combinatorial: each
    * round's pick re-inlines into the next round's lambdas per
    * element.) Ties break (mmr, rel) desc then id asc; every cosine
    * is the identical left-to-right double fold as the oracle's
    * `list_reduce`, so the recursive-CTE replay hash-matches. */
  def mmrRerank(cands: DataFrame, queryCol: String, idCol: String,
                relCol: String, vecCol: String, k: Int,
                lambda: Double = 0.5,
                maxCandidates: Int = 1024): DataFrame = {
    import graft.functions.ColumnBridge
    val agg = ColumnBridge.column(
      graft.functions.MmrSelect(
        ColumnBridge.expression(col(relCol).cast("double")),
        ColumnBridge.expression(col(idCol).cast("long")),
        // array<float> by contract: MmrSelect reads the buffer with
        // toFloatArray(), and an uncast array<double> page (e.g.
        // randomProject's `proj`) would raw-copy 4 of each element's
        // 8 bytes into silent garbage — the cast makes any numeric
        // element type safe and a non-array fails analysis by name
        ColumnBridge.expression(col(vecCol).cast("array<float>")),
        k, lambda, maxCandidates).toAggregateExpression())
    cands.groupBy(col(queryCol)).agg(agg.as("__sel"))
      .select(col(queryCol), explode(col("__sel")).as("__s"))
      .select(col(queryCol),
        col("__s.id").as(idCol),
        col("__s.rnk").as("rnk"),
        graft.functions.Exact.roundAt(col("__s.mmr"), 6).as("mmr"))
  }

  // ---- product quantization (Jégou et al. 2011) ----

  /** Train PQ codebooks: the `dim`-dim space split into `m`
    * contiguous subspaces of dim/m each, `kCodes` centroids per
    * subspace → a vector compresses to m small ints (e.g. 768-dim
    * float32 ≈ 3 KB → 16 bytes at m=16), the memory lever that makes
    * a billion-vector in-memory ADC scan feasible where raw
    * embeddings would not fit a cluster.
    *
    * Deterministic init — the [[sampleCentroids]] discipline: subspace
    * s's code c is the c-th smallest-id corpus row's s-th subvector,
    * SQL-expressible so the whole encode+search pipeline has a
    * hash-exact DuckDB oracle. `iters` rounds of per-subspace L2
    * k-means tighten the cells (means as exact decimal sums →
    * partition-order-deterministic); refinement replaces only the
    * centroid values, never the plan shape, and monotonically lowers
    * encode distortion (spec-asserted). Returns books(s)(c) =
    * centroid of code c in subspace s — m·kCodes·dim/m doubles of
    * driver metadata, baked into encode/search plans as literals. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int, kCodes: Int,
              iters: Int = 0): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(kCodes >= 2 && kCodes <= 256,
      s"kCodes must be in [2, 256]: $kCodes")
    require(iters >= 0, s"iters must be non-negative: $iters")
    val subd = dim / m
    val seed = corpus.select(col(idCol).cast("long"), col(vecCol))
      .orderBy(col(idCol)).limit(kCodes).collect()
      .map(_.getSeq[Float](1).toArray)
    require(seed.length == kCodes,
      s"corpus holds ${seed.length} rows < kCodes=$kCodes")
    var books = Array.tabulate(m, kCodes, subd)((s, c, j) =>
      seed(c)(s * subd + j).toDouble)
    for (_ <- 1 to iters) {
      // one pass: every vector's m (sub, code, subvector) assignments
      // explode to (sub, code, dim-in-sub) cells; means are exact
      // decimal sums so refined books are partition-order-stable
      val assigned = corpus.select(posexplode(array((0 until m).map { s =>
        struct(pqCodeCol(col(vecCol), books(s), s, subd).as("code"),
          slice(col(vecCol), s * subd + 1, subd).as("sv"))
      }: _*)).as(Seq("sub", "a")))
      val cells = assigned
        .select(col("sub"), col("a.code").as("code"),
          posexplode(col("a.sv")).as(Seq("j", "v")))
        .groupBy("sub", "code", "j")
        .agg(graft.functions.Exact.sumExact(col("v"), 12).as("s"),
          count(lit(1L)).as("n"))
        .collect()
      val next = Array.tabulate(m, kCodes, subd)((s, c, j) => books(s)(c)(j))
      cells.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          r.getDouble(3) / r.getLong(4) // empty cells keep their centroid
      }
      books = next
    }
    books
  }

  /** Left-fold Σ (xᵢ − yᵢ)² over a float slice vs a double-literal
    * centroid — `aggregate(zip_with(...))` keeps generated code small
    * (an unrolled per-dim sum blows Janino's 64 KB method limit at
    * dim 64) while folding in the exact FP op order any SQL mirror
    * unrolls: the 0.0 seed is absorbed bit-exactly because every term
    * is a non-negative square. */
  private def pqSubDist(slice: Column, cent: Column): Column =
    aggregate(
      zip_with(slice, cent, (x, y) => {
        val d = x.cast("double") - y
        d * d
      }),
      lit(0.0), (acc, t) => acc + t)

  /** Squared-L2 distance of `vecCol`'s subspace-s slice to each of
    * `book`'s codes, argmin with ties to the smallest code — pure
    * codegen expressions, zero UDFs. */
  private def pqCodeCol(vecCol: Column, book: Array[Array[Double]],
                        s: Int, subd: Int): Column = {
    val sl = slice(vecCol, s * subd + 1, subd)
    val cands = book.indices.map { c =>
      struct(pqSubDist(sl, typedLit(book(c).toSeq)).as("d"),
        lit(c).as("c"))
    }
    array_min(array(cands: _*)).getField("c")
  }

  /** Encode a corpus against trained books: `(idCol, codes)` with
    * codes(s) = nearest code of subspace s — the stored form an ADC
    * scan reads INSTEAD of embeddings (m ints vs dim floats per row;
    * at 100 TB the codes table is the only thing that scans). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val subd = books(0)(0).length
    corpus.select(col(idCol),
      array((0 until m).map(s =>
        pqCodeCol(col(vecCol), books(s), s, subd)): _*).as("codes"))
  }

  /** Mean squared reconstruction error of a PQ codebook over a corpus
    * — Σ_s ‖v_s − books(s)(code_s)‖² averaged over rows, the exact
    * objective [[pqTrain]]'s k-means iterations minimize (so it
    * decreases monotonically in `iters`; spec-asserted). The
    * compression-quality gauge to watch before trusting an ADC scan:
    * one pass, exact decimal mean, one row out. */
  def pqDistortion(corpus: DataFrame, idCol: String, vecCol: String,
                   books: Array[Array[Array[Double]]]): Double = {
    val m = books.length
    val subd = books(0)(0).length
    val selfDist = (0 until m).map { s =>
      val sl = slice(col(vecCol), s * subd + 1, subd)
      val cands = books(s).indices.map(c =>
        struct(pqSubDist(sl, typedLit(books(s)(c).toSeq)).as("d"),
          lit(c).as("c")))
      array_min(array(cands: _*)).getField("d").cast("decimal(30,9)")
    }.reduce(_ + _).cast("double")
    corpus.select(selfDist.as("__d"))
      .agg((graft.functions.Exact.sumExact(col("__d"), 9) /
        count(lit(1L))).as("mse"))
      .head().getDouble(0)
  }

  /** The ADC distance expression: Σ_s ‖__qv_s − books(s)(codes_s)‖²,
    * the centroid looked up from the literal book by the row's stored
    * code (the query slice stays data — asymmetric by construction);
    * per-subspace doubles fold across subspaces as DECIMAL(30,9)
    * (order-independent → hash-exact vs the SQL replay). */
  private def pqAdcDist(books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val subd = books(0)(0).length
    (0 until m).map { s =>
      val cent = element_at(
        typedLit(books(s).map(c => c.toSeq).toSeq),
        element_at(col("codes"), s + 1) + 1)
      pqSubDist(slice(col("__qv"), s * subd + 1, subd), cent)
        .cast("decimal(30,9)")
    }.reduce(_ + _).cast("double")
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each corpus row's
    * approximate distance to a query is Σ_s ‖q_s − books(s)(codes_s)‖²
    * — the query stays UNquantized (the asymmetric half of the
    * accuracy), the corpus never rehydrates its vectors. Queries
    * broadcast like [[bruteForceTopK]]; the scan reads codes only.
    * Output `(query_id, neighbor_id, rnk, adist)`, rank by
    * (adist asc, id). */
  def pqTopK(codes: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, books: Array[Array[Array[Double]]],
             k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val adist = pqAdcDist(books)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id"))
    codes.withColumnRenamed(idCol, "neighbor_id")
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", adist)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        graft.functions.Exact.roundAt(col("adist"), 6).as("adist"))
  }

  /** IVF-PQ: the two ANN levers composed the way a 100 TB index runs
    * them — coarse cells bound WHICH rows a query touches
    * (candidates ≈ |corpus|·nProbe/nCells, the [[ivfTopK]] plan) and
    * PQ codes bound what each touched row COSTS (m ints ADC-scanned,
    * never a float vector — the [[pqTopK]] memory story). The
    * candidate join is a broadcast HASH join on the cell key (no
    * nested loop anywhere: the probe set is |queries|·nProbe rows),
    * and the corpus-side projection emits (id, cell, codes) in ONE
    * scan pass — embeddings never leave the scan. Stored form: write
    * that projection `partitionBy("__cell")` and a probe reads only
    * its nProbe directories. Centroids and books are both
    * deterministic sample-inits, so the whole pipeline has a
    * hash-exact DuckDB oracle; refined variants swap centroid/book
    * values without changing the plan. */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      m: Int = 8,
      kCodes: Int = 16): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, $nCells]: $nProbe")
    val cents = sampleCentroids(corpus, idCol, vecCol, nCells)
    val books = pqTrain(corpus, idCol, vecCol, dim, m, kCodes)
    val subd = dim / m
    val codes = corpus.select(
      col(idCol).as("neighbor_id"),
      bestCell(cents, col(vecCol)).as("__cell"),
      array((0 until m).map(s =>
        pqCodeCol(col(vecCol), books(s), s, subd)): _*).as("codes"))
    val qProbes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__cell",
        explode(probeCells(cents, col("__qv"), nProbe)))
    val adist = pqAdcDist(books)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id"))
    codes.join(broadcast(qProbes), "__cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", adist)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        graft.functions.Exact.roundAt(col("adist"), 6).as("adist"))
  }

  // ---- stored IVF-PQ index ----

  /** Persist an IVF-PQ index: the corpus's `(id, codes)` rows written
    * PARTITIONED BY COARSE CELL (m small ints per row — the 100 TB
    * form: a probe reads its nProbe directories of CODES, never a
    * float vector), plus centroids, per-subspace codebooks, and the
    * (dim, m, kCodes) contract as JSON driver metadata. Rebuild
    * semantics like [[ivfWriteIndex]] (prior artifacts cleared).
    * `iters` k-means-refines the books before encoding. */
  def pqWriteIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   path: String, dim: Int, nCells: Int = 16,
                   m: Int = 8, kCodes: Int = 16, iters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val f = ivfFs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    // Prefix-based clear, mirroring ivfWriteIndex: a PQ rebuild at a
    // path that previously held a plain IVF index (or a future
    // generation-suffixed artifact) must not leave a mixed-artifact
    // directory behind — stale cells/, cells-g*, centroids-g* and the
    // IVF meta/baseline all go too.
    if (f.exists(root))
      f.listStatus(root).map(_.getPath)
        .filter(p => p.getName.startsWith("codes") ||
          p.getName.startsWith("cells") ||
          p.getName.startsWith("centroids") ||
          p.getName.startsWith("books") ||
          p.getName == "tombstones" ||
          p.getName == "_graft_pq_meta.json" ||
          p.getName == "_graft_pq_baseline.json" ||
          p.getName == "_graft_ivf_meta.json" ||
          p.getName == "_graft_ivf_baseline.json")
        .foreach(f.delete(_, true))
    IndexMaintenance.clearState(spark, path)
    val cents = sampleCentroids(corpus, idCol, vecCol, nCells)
    val books = pqTrain(corpus, idCol, vecCol, dim, m, kCodes, iters)
    val subd = dim / m
    corpus.select(
        col(idCol).as("neighbor_id"),
        bestCell(cents, col(vecCol)).as("cell"),
        array((0 until m).map(s =>
          pqCodeCol(col(vecCol), books(s), s, subd)): _*).as("codes"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/codes")
    import spark.implicits._
    cents.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell_id", "centroid")
      .coalesce(1).write.mode("overwrite").json(s"$path/centroids")
    books.indices.flatMap(s => books(s).indices.map(c =>
        (s, c, books(s)(c).toSeq)))
      .toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").json(s"$path/books")
    pqWriteMeta(spark, path, dim, m, kCodes, gen = 0)
  }

  /** Storage generation of a stored PQ index — the [[ivfGen]]
    * discipline: [[pqRetrain]] publishes `codes-g<n+1>` /
    * `books-g<n+1>` / `centroids-g<n+1>` and flips this pointer only
    * after the full rewrite lands, so a serve racing a retrain reads
    * EITHER generation's complete (codes, books, centroids) triple,
    * never a half-written mix. Indexes written before generations
    * existed carry no `gen` field and read as generation 0. */
  def pqGen(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    pqMetaFields(spark, path)._4

  /** One read of `_graft_pq_meta.json` → (dim, m, kCodes, gen).
    * Callers that touch codes AND books/centroids resolve the
    * generation ONCE here so a concurrent [[pqRetrain]] flip can
    * never pair new books with old codes. */
  private def pqMetaFields(spark: org.apache.spark.sql.SparkSession,
                           path: String): (Int, Int, Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_graft_pq_meta.json")
    val f = ivfFs(spark, path)
    require(f.exists(p),
      s"no PQ index at $path: _graft_pq_meta.json is missing " +
        "(pqWriteIndex always writes it)")
    val in = f.open(p)
    val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def field(k: String): Int =
      (s""""$k":(\\d+)""").r.findFirstMatchIn(s).map(_.group(1).toInt)
        .getOrElse(sys.error(s"corrupt PQ meta at $p: $s"))
    val gen = (""""gen":(\d+)""").r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(0)
    (field("dim"), field("m"), field("kCodes"), gen)
  }

  private def pqWriteMeta(spark: org.apache.spark.sql.SparkSession,
                          path: String, dim: Int, m: Int, kCodes: Int,
                          gen: Int): Unit = {
    val out = ivfFs(spark, path).create(
      new org.apache.hadoop.fs.Path(s"$path/_graft_pq_meta.json"), true)
    try out.write(
      s"""{"dim":$dim,"m":$m,"kCodes":$kCodes,"gen":$gen}"""
        .getBytes("UTF-8")) finally out.close()
  }

  /** Generation-suffixed artifact dir ([[ivfCellsPath]] pattern):
    * gen 0 keeps the unsuffixed build-time names. */
  private def pqArtifactPath(path: String, name: String, gen: Int): String =
    if (gen == 0) s"$path/$name" else s"$path/$name-g$gen"

  private def pqReadCentsAt(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            gen: Int): Array[(Long, Array[Float])] =
    spark.read.json(pqArtifactPath(path, "centroids", gen))
      .select(col("cell_id").cast("long"),
        col("centroid").cast("array<float>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** The stored codebooks back as [[pqTrain]]'s shape — bounded
    * driver metadata (m·kCodes·dim/m doubles), at the CURRENT
    * generation. Internal paths that also read codes use
    * [[pqReadBooksAt]] with a single [[pqMetaFields]] resolution. */
  def pqReadBooks(spark: org.apache.spark.sql.SparkSession,
                  path: String): Array[Array[Array[Double]]] =
    pqReadBooksAt(spark, path, pqGen(spark, path))

  private def pqReadBooksAt(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            gen: Int): Array[Array[Array[Double]]] = {
    val rows = spark.read.json(pqArtifactPath(path, "books", gen))
      .select(col("sub").cast("int"), col("code").cast("int"),
        col("centroid").cast("array<double>"))
      .collect()
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val books = Array.ofDim[Array[Double]](m, k)
    rows.foreach(r =>
      books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    books
  }

  /** Fail-loud check that the stored books match the stored meta —
    * a mixed-artifact or hand-edited index dies here, not in an ADC
    * scan. */
  private def requirePqShape(books: Array[Array[Array[Double]]],
                             dim: Int, m: Int, kCodes: Int,
                             path: String): Unit = {
    require(books.length == m && books.forall(_.length == kCodes) &&
      books.forall(_.forall(_.length == dim / m)),
      s"PQ index at $path is inconsistent: stored books are " +
        s"${books.length} subspaces x ${books.headOption.map(_.length)
          .getOrElse(0)} codes x ${books.headOption.flatMap(_.headOption)
          .map(_.length).getOrElse(0)} dims, but _graft_pq_meta.json " +
        s"says (dim=$dim, m=$m, kCodes=$kCodes)")
  }

  /** Guard a vector column against the index dim: a row whose vector
    * length disagrees raises inside the scan (codegen `when`, zero
    * extra passes) instead of silently degrading the ranking. */
  private def requireVecDim(vec: Column, dim: Int, who: String): Column =
    when(size(vec) === dim, vec).otherwise(raise_error(format_string(
      s"$who: input vector length %s does not match index dim $dim",
      size(vec).cast("string"))))

  /** Incrementally add vectors to a stored IVF-PQ index: assign +
    * encode the batch against the STORED centroids/books and append
    * into the hit cell partitions — O(batch), no file rewritten, no
    * re-training (code quality degrades only as far as the frozen
    * books do; run [[pqRetrain]] — a publish-then-point generation
    * flip, no serve downtime — when [[pqDistortion]] over a sample
    * says drift warrants it). Ids must
    * be unique across appends. Erasure = [[ivfTombstone]] at the same
    * path (the serve anti-joins the shared tombstones dir). */
  def pqAppend(spark: org.apache.spark.sql.SparkSession,
               batch: DataFrame, idCol: String, vecCol: String,
               path: String): Unit =
    IndexMaintenance.withWriterLock(spark, path, "Similarity.pqAppend") {
      // one meta read pins (shape, generation) together — the batch
      // encodes with the SAME generation's books/centroids it appends
      // codes into (the writer lock serializes against pqRetrain)
      val (dim, m, kCodes, gen) = pqMetaFields(spark, path)
      val cents = pqReadCentsAt(spark, path, gen)
      val books = pqReadBooksAt(spark, path, gen)
      requirePqShape(books, dim, m, kCodes, path)
      val subd = books(0)(0).length
      val vec = requireVecDim(col(vecCol), dim, "Similarity.pqAppend")
      batch.select(
          col(idCol).as("neighbor_id"),
          bestCell(cents, vec).as("cell"),
          array(books.indices.map(s =>
            pqCodeCol(vec, books(s), s, subd)): _*).as("codes"))
        .write.partitionBy("cell").mode("append")
        .parquet(pqArtifactPath(path, "codes", gen))
    }

  /** ATOMIC drift retrain for a stored IVF-PQ index — the
    * [[ivfRecluster]] publish-then-point discipline, never an
    * in-place rebuild: fresh centroids + codebooks learn from the
    * LIVE corpus and the full re-encode lands in `codes-g<n+1>` /
    * `centroids-g<n+1>` / `books-g<n+1>` BEFORE the meta pointer
    * flips, so a serve racing the retrain reads either generation's
    * complete triple — never a missing meta or a new-books/old-codes
    * mix. Tombstones are implicitly applied (the rewrite reads the
    * live corpus, not the old codes) and retired with the old
    * generation; the retired directories land in the vacuum ledger
    * for [[pqVacuum]] to reclaim once in-flight readers drain. A
    * crash mid-retrain leaves orphan next-gen dirs the retry
    * overwrites — the pointer still names the old, complete
    * generation. Writers serialize on the index lock.
    *
    * The not-yet-retired tombstones are anti-joined into the rebuild
    * UNCONDITIONALLY (the tombstone set is metadata-sized): via
    * [[maintainPq]] the passed corpus is the live table as-of the fed
    * version and the anti-join is a no-op, but a DIRECT caller whose
    * frame predates recent erasures must not silently resurrect an
    * erased id. The retirement ledger entry is written BEFORE the
    * meta flip as a PENDING entry activated by the flip
    * ([[IndexMaintenance.recordPendingRetired]]) — a crash between
    * flip and ledger can no longer strand the old generation
    * unvacuumable with its applied tombstones live. */
  def pqRetrain(spark: org.apache.spark.sql.SparkSession,
                corpus: DataFrame, idCol: String, vecCol: String,
                path: String, dim: Int, nCells: Int = 16,
                m: Int = 8, kCodes: Int = 16, iters: Int = 0): Unit =
    IndexMaintenance.withWriterLock(spark, path, "Similarity.pqRetrain") {
      val gen = pqMetaFields(spark, path)._4 // retrain needs an index
      val next = gen + 1
      val f = ivfFs(spark, path)
      val tombPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
      val alreadyRetired = IndexMaintenance.retiredPaths(spark, path)
      val tombFiles =
        if (f.exists(tombPath)) f.listStatus(tombPath).map(_.getPath)
          .filter(p => !alreadyRetired.contains(p.toString)).toSeq
        else Nil
      val live =
        if (tombFiles.isEmpty) corpus
        else corpus.join(
          spark.read.parquet(tombFiles.map(_.toString): _*)
            .select(col("neighbor_id").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
      val cents = sampleCentroids(live, idCol, vecCol, nCells)
      val books = pqTrain(live, idCol, vecCol, dim, m, kCodes, iters)
      val subd = dim / m
      live.select(
          col(idCol).as("neighbor_id"),
          bestCell(cents, col(vecCol)).as("cell"),
          array((0 until m).map(s =>
            pqCodeCol(col(vecCol), books(s), s, subd)): _*).as("codes"))
        .write.partitionBy("cell").mode("overwrite")
        .parquet(pqArtifactPath(path, "codes", next))
      import corpus.sparkSession.implicits._
      cents.toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("cell_id", "centroid")
        .coalesce(1).write.mode("overwrite")
        .json(pqArtifactPath(path, "centroids", next))
      books.indices.flatMap(s => books(s).indices.map(c =>
          (s, c, books(s)(c).toSeq)))
        .toDF("sub", "code", "centroid")
        .coalesce(1).write.mode("overwrite")
        .json(pqArtifactPath(path, "books", next))
      IndexMaintenance.recordPendingRetired(spark, path, next,
        s"pq-retrain-g$gen",
        Seq("codes", "centroids", "books")
          .map(pqArtifactPath(path, _, gen)) ++
          tombFiles.map(_.toString))
      pqWriteMeta(spark, path, dim, m, kCodes, next) // the flip
      IndexMaintenance.promotePending(spark, path, next)
    }

  /** Reclaim directories and tombstone files retired by past
    * [[pqRetrain]] runs — call once queries that started before the
    * generation flip have drained. Idempotent (a pending retirement
    * whose flip landed but whose promote was lost to a crash is
    * adopted here first). */
  def pqVacuum(spark: org.apache.spark.sql.SparkSession,
               path: String): Int = {
    val meta = new org.apache.hadoop.fs.Path(s"$path/_graft_pq_meta.json")
    if (ivfFs(spark, path).exists(meta))
      IndexMaintenance.promotePending(spark, path,
        pqMetaFields(spark, path)._4.toLong)
    IndexMaintenance.vacuum(spark, path)
  }

  /** Query a stored IVF-PQ index: probe cells become a literal
    * partition filter over the CODES directories (the scan opens
    * nProbe of nCells dirs and reads m ints per row — compare
    * [[ivfTopKIndexed]], which still reads float vectors), tombstones
    * anti-joined, ADC exactly as [[pqTopK]]. */
  def pqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                    queries: DataFrame, idCol: String, vecCol: String,
                    k: Int, path: String, nProbe: Int = 4,
                    excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    // one meta read resolves shape AND generation: a pqRetrain flip
    // mid-plan can never pair new books with old codes (the retired
    // generation outlives in-flight readers until pqVacuum)
    val (dim, m, kCodes, gen) = pqMetaFields(spark, path)
    val cents = pqReadCentsAt(spark, path, gen)
    val books = pqReadBooksAt(spark, path, gen)
    requirePqShape(books, dim, m, kCodes, path)
    val qProbes = queries
      .select(col(idCol).as("query_id"),
        requireVecDim(col(vecCol), dim, "Similarity.pqTopKIndexed")
          .as("__qv"))
      .withColumn("cell", explode(probeCells(cents, col("__qv"), nProbe)))
    val probedCells = qProbes.select("cell").distinct()
      .collect().map(_.getLong(0))
    val candidates = ivfLive(spark, path,
      spark.read.parquet(pqArtifactPath(path, "codes", gen))
        .filter(col("cell").isin(probedCells: _*)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id"))
    val joined = candidates.join(broadcast(qProbes), "cell")
    // excludeSelf=false is for EXTERNAL queries (the ivfTopKIndexed
    // convention — e.g. hybridSearch's synthetic probe id): an id
    // collision with a corpus vector is then a coincidence, not a
    // self-match to suppress
    (if (excludeSelf)
       joined.filter(col("neighbor_id") =!= col("query_id"))
     else joined)
      .withColumn("adist", pqAdcDist(books))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        graft.functions.Exact.roundAt(col("adist"), 6).as("adist"))
  }

  /** The PRODUCTION serve shape for IVF-PQ: the ADC scan is a
    * SHORTLIST generator, not the final ranking — [[ivfPqTopK]]'s
    * top-`shortlist` per query (codes-only heavy pass), then the
    * candidates' FLOAT vectors are fetched by a hash join on the id
    * (|queries|·shortlist rows — the only rows whose embeddings leave
    * the scan) and EXACT cosine re-ranks the page to k. Quantization
    * error then only costs recall when a true neighbor misses the
    * whole shortlist, not when ADC merely mis-orders it — measured
    * on the synthetic (near-structureless, PQ-hostile) test vectors:
    * raw ADC top-5 recall ≈ 0.25–0.5, shortlist-200 + rerank ≥ 0.95.
    * Output matches [[bruteForceTopK]]: (query_id, neighbor_id, rnk,
    * cosine), rank by (cosine desc, id). */
  /** The shared exact-rerank tail: fetch each shortlisted candidate's
    * float vector by a hash join on the id, exact cosine, top-k —
    * the only rows whose embeddings leave the scan are
    * |queries|·shortlist. */
  private def exactRerank(short: DataFrame, corpus: DataFrame,
                          queries: DataFrame, idCol: String,
                          vecCol: String, k: Int): DataFrame = {
    val cand = short
      .select(col("query_id"), col("neighbor_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cv")), "neighbor_id")
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"))), "query_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cand.withColumn("cosine", Vectors.cosine(col("__qv"), col("__cv")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        graft.functions.Exact.roundAt(col("cosine"), 4).as("cosine"))
  }

  def ivfPqTopKReranked(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, dim: Int,
                        k: Int, shortlist: Int = 200, nCells: Int = 16,
                        nProbe: Int = 8, m: Int = 8,
                        kCodes: Int = 16): DataFrame = {
    require(shortlist >= k,
      s"shortlist must be >= k: shortlist=$shortlist k=$k")
    exactRerank(
      ivfPqTopK(corpus, queries, idCol, vecCol, dim, shortlist,
        nCells, nProbe, m, kCodes),
      corpus, queries, idCol, vecCol, k)
  }

  /** [[ivfPqTopKReranked]] for the STORED index: the ADC shortlist
    * comes from [[pqTopKIndexed]]'s partition-pruned code-only scan,
    * and `corpus` supplies the candidate vectors for the exact-rerank
    * fetch (the index stores codes only — in production that is the
    * snapshot table [[maintainPq]] subscribes to; the fetch touches
    * |queries|·shortlist of its rows, never a full vector scan). */
  def pqTopKIndexedReranked(spark: org.apache.spark.sql.SparkSession,
                            queries: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String, k: Int,
                            path: String, shortlist: Int = 200,
                            nProbe: Int = 8): DataFrame = {
    require(shortlist >= k,
      s"shortlist must be >= k: shortlist=$shortlist k=$k")
    exactRerank(
      pqTopKIndexed(spark, queries, idCol, vecCol, shortlist, path,
        nProbe),
      corpus, queries, idCol, vecCol, k)
  }

  /** [[pqTopKIndexedReranked]] with the corpus as a SNAPSHOT TABLE —
    * the [[maintainPq]] production shape, with the rerank fetch
    * actually PRUNED: the ADC shortlist collects once (bounded driver
    * metadata, |queries|·shortlist ids — the winner-id-literal serve
    * discipline), and the candidates' float vectors come from
    * [[graft.sources.Snapshots.readPoints]], which opens ONLY the
    * corpus files whose id-range stats overlap a shortlisted id and
    * whose id blooms fire — never a full vector-column scan. At
    * 100 TB this is the difference between reading a handful of
    * parquet files and re-scanning every embedding ever committed
    * just to join out ~|queries|·shortlist rows. */
  def pqTopKIndexedRerankedStored(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, corpusDir: String,
      idCol: String, vecCol: String, k: Int,
      path: String, shortlist: Int = 200,
      nProbe: Int = 8): DataFrame = {
    require(shortlist >= k,
      s"shortlist must be >= k: shortlist=$shortlist k=$k")
    val sdf = pqTopKIndexed(spark, queries, idCol, vecCol, shortlist,
      path, nProbe).select("query_id", "neighbor_id")
    val rows = sdf.collect()
    // literal page: the codes-only ADC scan ran exactly once
    val short = spark.createDataFrame(
      java.util.Arrays.asList(rows.toIndexedSeq: _*), sdf.schema)
    val ids = rows.map(_.get(1)).distinct.toIndexedSeq
    val fetched =
      if (ids.isEmpty) graft.sources.Snapshots.read(spark, corpusDir)
        .limit(0)
      else graft.sources.Snapshots.readPoints(spark, corpusDir, idCol,
        ids)
    exactRerank(short, fetched, queries, idCol, vecCol, k)
  }

  /** The [[lshRecallCheck]] contract for the IVF-PQ serve: measure
    * [[ivfPqTopKReranked]]'s recall against [[bruteForceTopK]] on the
    * SAME (corpus, queries, k) and emit the one-row verdict
    * `(n_queries, k, recall_floor, recall_ok)` — the probabilistic
    * promise the driver can hash-check (a recall regression flips
    * `recall_ok` and the row mismatches). The floor is MEASURED, not
    * assumed: raw ADC ranking on the PQ-hostile synthetic vectors
    * sits at 0.25–0.5, the shortlist+rerank serve at ≥ 0.95 — the
    * 0.8 default keeps regeneration headroom. */
  def ivfPqRecallCheck(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, dim: Int, k: Int,
                       shortlist: Int = 200, nCells: Int = 16,
                       nProbe: Int = 8, m: Int = 8, kCodes: Int = 16,
                       floor: Double = 0.8): DataFrame = {
    val brute = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select("query_id", "neighbor_id")
    val ann = ivfPqTopKReranked(corpus, queries, idCol, vecCol, dim, k,
        shortlist, nCells, nProbe, m, kCodes)
      .select("query_id", "neighbor_id")
    brute.join(ann.withColumn("__hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1L)).as("__denom"),
        sum(coalesce(col("__hit"), lit(0))).as("__num"))
      .select(
        col("n_queries"),
        lit(k.toLong).as("k"),
        lit(floor).as("recall_floor"),
        // an empty query/corpus (denom 0 → null ratio) must read as a
        // FAILED contract, not a vacuous pass — an accidentally empty
        // input cannot masquerade as met recall
        coalesce(col("__num").cast("double") / col("__denom") >= floor,
          lit(false)).as("recall_ok"))
  }

  private def pqBaselinePath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_graft_pq_baseline.json")

  /** Record the measured codebook distortion as the stored PQ index's
    * quality BASELINE — written right after a (re)build so
    * [[maintainPq]] can tell "the frozen books no longer fit the
    * data" from "the books were never better than this". */
  def pqRecordBaseline(spark: org.apache.spark.sql.SparkSession,
                       path: String, mse: Double): Unit = {
    // a NaN/Inf baseline (zero-norm vectors, empty sample) would
    // serialize as invalid JSON and make every later `mse > base·tol`
    // comparison false — silently disabling drift retrain forever
    require(!mse.isNaN && !mse.isInfinite,
      s"refusing to record a degenerate PQ baseline ($mse) at $path " +
        "— the distortion sample is empty or holds zero-norm vectors")
    val out = ivfFs(spark, path).create(pqBaselinePath(path), true)
    try out.write(s"""{"mse":$mse}""".getBytes("UTF-8"))
    finally out.close()
  }

  private def pqReadBaseline(spark: org.apache.spark.sql.SparkSession,
                             path: String): Option[Double] = {
    val f = ivfFs(spark, path)
    if (!f.exists(pqBaselinePath(path))) None
    else {
      val in = f.open(pqBaselinePath(path))
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      """"mse":([^,}]+)""".r.findFirstMatchIn(s).map(_.group(1).toDouble)
        .orElse(sys.error(s"corrupt PQ baseline at $path: $s"))
    }
  }

  /** CONTINUOUS PQ maintenance with UNATTENDED retrain — the
    * [[maintainIvf]] discipline for the stored IVF-PQ index. Per
    * micro-batch of the source table's change feed:
    *  - the first observed insert batch BUILDS the index
    *    ([[pqWriteIndex]] with `iters`) and records the baseline
    *    distortion of the fresh books over a bounded sample;
    *  - later inserts encode against the FROZEN books
    *    ([[pqAppend]] — O(batch), code quality degrades only as far
    *    as the books do);
    *  - deletes tombstone (shared [[ivfTombstone]] convention),
    *    skipped with a named log line when no index exists yet (the
    *    delete-only-first-batch edge);
    *  - every `retrainEvery`-th batch, [[pqDistortion]] of the FROZEN
    *    books over a bounded DETERMINISTIC sample of the live table
    *    (as of the batch's last fed version — rows the feed has not
    *    delivered yet must not leak into the probe; rows chosen by
    *    hash order, so two evaluations and two restarts pick the SAME
    *    rows and drift decisions never flap) is compared against the
    *    baseline: measured MSE > baseline·(1+retrainTol) ⇒ the books
    *    no longer fit the drifted distribution, and the maintainer
    *    RETRAINS into the next storage generation ([[pqRetrain]] —
    *    publish-then-point, a racing serve reads either complete
    *    generation) from that same pinned version and re-records the
    *    baseline over the SAME pinned probe, exactly once per drift
    *    episode;
    *  - every `vacuumEvery`-th batch (opt-in, 0 = never — the
    *    [[maintainIvf]] cadence), retired generations reclaim via
    *    [[pqVacuum]] once the operator deems in-flight readers
    *    drained.
    *
    * The probe reads `sampleN` rows (bounded work per tick,
    * independent of corpus size); the retrain is the full
    * re-encode — the same cost an operator would pay calling
    * [[pqRetrain]] by hand, just without having to watch the
    * distortion dashboard. The process-local tick counter resets on
    * restart (operational cadence, not transactional — the
    * housekeepEvery discipline). */
  def maintainPq(spark: org.apache.spark.sql.SparkSession,
                 srcDir: String, path: String, checkpointDir: String,
                 idCol: String, vecCol: String, dim: Int,
                 nCells: Int = 16, m: Int = 8, kCodes: Int = 16,
                 iters: Int = 0, retrainEvery: Int = 1,
                 retrainTol: Double = 0.25, sampleN: Int = 2048,
                 vacuumEvery: Int = 0,
                 trigger: org.apache.spark.sql.streaming.Trigger =
                   org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(retrainEvery >= 0, s"retrainEvery must be >= 0: $retrainEvery")
    require(retrainTol > 0.0, s"retrainTol must be positive: $retrainTol")
    require(sampleN >= 1, s"sampleN must be positive: $sampleN")
    require(vacuumEvery >= 0, s"vacuumEvery must be >= 0: $vacuumEvery")
    import graft.sources.Snapshots
    val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
    Snapshots.changesStream(spark, srcDir)
      .writeStream.option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.persist()
        try {
          if (df.head(1).nonEmpty) {
            val maxV = df.agg(max(col("__version"))).head().getLong(0)
            val ins = df.filter(col("__change") === "insert")
              .select(col(idCol), col(vecCol))
            val del = df.filter(col("__change") === "delete")
              .select(col(idCol))
            val f = ivfFs(spark, path)
            def indexed = f.exists(new org.apache.hadoop.fs.Path(
              s"$path/_graft_pq_meta.json"))
            val fresh = !indexed
            // hash-ordered top-N = a deterministic bounded sample
            // (TakeOrdered — per-partition heaps, no full sort): two
            // evaluations or two restarts pick the SAME rows, so the
            // recorded baseline and every drift decision is stable
            def probeOf(df: DataFrame): DataFrame = df
              .select(col(idCol), col(vecCol))
              .orderBy(xxhash64(col(idCol)), col(idCol))
              .limit(sampleN)
            if (ins.head(1).nonEmpty) {
              if (fresh) {
                pqWriteIndex(ins, idCol, vecCol, path, dim, nCells,
                  m, kCodes, iters)
                pqRecordBaseline(spark, path, pqDistortion(
                  probeOf(ins), idCol, vecCol,
                  pqReadBooks(spark, path)))
              } else pqAppend(spark, ins, idCol, vecCol, path)
            }
            if (del.head(1).nonEmpty) {
              if (!indexed)
                org.slf4j.LoggerFactory.getLogger("graft.Similarity")
                  .warn(s"maintainPq($path): delete-only batch " +
                    "before any index exists — skipping tombstones " +
                    "(the ids were never indexed)")
              else ivfTombstone(spark, path, del, idCol)
            }
            val tick = ticks.incrementAndGet()
            if (!fresh && retrainEvery > 0 && tick % retrainEvery == 0)
              pqReadBaseline(spark, path).foreach { base =>
                val live = Snapshots.read(spark, srcDir,
                  version = Some(maxV))
                // deterministic AND pinned once: the same probe rows
                // score the frozen books for the drift check and, if
                // it fires, the fresh books for the new baseline
                val probe = probeOf(live).persist()
                try {
                  val mse = pqDistortion(probe, idCol, vecCol,
                    pqReadBooks(spark, path))
                  if (mse > base * (1.0 + retrainTol)) {
                    pqRetrain(spark,
                      live.select(col(idCol), col(vecCol)),
                      idCol, vecCol, path, dim, nCells, m, kCodes,
                      iters)
                    pqRecordBaseline(spark, path, pqDistortion(
                      probe, idCol, vecCol, pqReadBooks(spark, path)))
                  }
                } finally { probe.unpersist(); () }
              }
            if (vacuumEvery > 0 && tick % vacuumEvery == 0) {
              pqVacuum(spark, path); ()
            }
          }
        } finally { df.unpersist(); () }
      }.start()
  }

  /** Deterministic cyclic-Jacobi eigendecomposition of a symmetric
    * matrix (driver-side; d×d is bounded metadata, same budget as the
    * IVF centroid collects). Returns (eigenvalues desc, eigenvectors
    * row-per-axis), each axis sign-fixed so its largest-|component|
    * entry is positive — fully deterministic output. */
  private[graft] def jacobiEigen(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      s
    }
    var sweep = 0
    while (sweep < 100 && off() > 1e-22) {
      for (p <- 0 until d - 1; q <- p + 1 until d if math.abs(a(p)(q)) > 1e-300) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t =
          if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1))
          else 1.0 / (theta - math.sqrt(theta * theta + 1))
        val c = 1.0 / math.sqrt(t * t + 1)
        val s = t * c
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
        }
        for (j <- 0 until d) {
          val apj = a(p)(j); val aqj = a(q)(j)
          a(p)(j) = c * apj - s * aqj
          a(q)(j) = s * apj + c * aqj
          val vjp = v(j)(p); val vjq = v(j)(q)
          v(j)(p) = c * vjp - s * vjq
          v(j)(q) = s * vjp + c * vjq
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val axis = Array.tabulate(d)(r => v(r)(i))
      val mx = axis.indices.maxBy(r => (math.abs(axis(r)), -r))
      if (axis(mx) < 0) axis.map(-_) else axis
    }.toArray
    (vals, vecs)
  }

  /** PCA projection built on the one-pass exact moments: covariance
    * comes from [[graft.functions.ExactGram]]'s (n, Σv, Σvvᵀ) — ONE
    * scan of the data — the d×d eigenproblem is solved on the driver
    * (bounded metadata, deterministic [[jacobiEigen]]), and the top-k
    * axes go back as broadcast literals for a pure shuffle-free
    * projection pass. Output: idCol, pc (array of k mean-centered
    * components). Total cost at any scale: two scans, zero shuffles
    * beyond the one-buffer aggregation. */
  def pca(df: DataFrame, idCol: String, vecCol: String, dim: Int,
          k: Int, scale: Int = 9): DataFrame = {
    require(k >= 1 && k <= dim, "need 1 <= k <= dim")
    val g = df.agg(gramAgg(col(vecCol), dim, scale).as("__g"))
      .select(col("__g.n"), col("__g.sums"), col("__g.gram")).head()
    val n = g.getLong(0)
    require(n > 1, s"pca needs >= 2 valid rows, got $n")
    val sums = g.getSeq[Double](1).toArray
    val gram = g.getSeq[Double](2).toArray
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      (gram(i * dim + j) - sums(i) * sums(j) / n) / (n - 1)
    }
    val (_, axes) = jacobiEigen(cov)
    val mean = sums.map(_ / n)
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val comps = (0 until k).map { a =>
      val axis = axes(a)
      val meanProj = axis.indices.map(r => mean(r) * axis(r)).sum
      Vectors.dotD(vecD, array(axis.map(lit(_)): _*)) - lit(meanProj)
    }
    df.select(col(idCol), array(comps: _*).as("pc"))
  }
}
