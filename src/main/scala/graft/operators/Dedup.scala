package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Text, Vectors}

/** Deduplication operators for the LLM-data-pipeline surface
  * (SURVEY.md §2.3 #24-28): exact, MinHash-LSH, SimHash, n-gram
  * Jaccard, embedding-cosine.
  *
  * Scale design: every variant is candidate-generation-by-grouping —
  * LSH bands / hamming bands / inverted token index turn the O(n²)
  * pair space into shuffle-partitioned buckets; only bucket-local
  * pairs are materialized and then exact-verified. No cross joins on
  * the scale paths, no driver-side state.
  */
object Dedup {

  /** Exact dedup: group identical (normalized) content, keep the
    * smallest id as representative. One hash aggregation — map-side
    * partial agg means each executor ships one row per distinct text.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = lower(trim(col(textCol)))
    df.groupBy(md5(norm).as("text_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1L)).as("dup_count"))
  }

  /** Canonical dedup: exact dedup on the order-insensitive token
    * fingerprint — catches shuffled word-for-word duplicates. */
  def exactCanonical(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(Text.fingerprintCanonical(col(textCol)).as("fp_canonical"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1L)).as("dup_count"))

  /** Distinct whitespace tokens as a column. */
  private def toks(textCol: String): Column =
    array_distinct(split(col(textCol), " "))

  /** MinHash + LSH near-dup pairs.
    *
    * shingle→minhash→band→bucket-join: per row a `numHashes`-long
    * signature (min over tokens of `xxhash64(token, seed)` per seed),
    * sliced into `bands` bands; rows sharing any band's hash are
    * candidates; candidates are exact-verified with true Jaccard.
    *
    * Cost at scale: signatures are a linear projection; the band join
    * shuffles on (band, bandHash) so only same-bucket pairs exist;
    * with r = numHashes/bands rows per band, P[candidate] = 1−(1−J^r)^bands
    * — the standard S-curve. Verification is per-candidate, not per-pair.
    */
  /** Collapse rows with identical hash sets into groups: one
    * representative (smallest id) per distinct set. Near-dup scoring
    * (MinHash signatures, Jaccard) depends only on the set, so pair
    * generation + verification can run over distinct sets and expand
    * group pairs back afterwards — exactly the "exact-dedup before
    * near-dup" stage of a production pipeline. Group membership lists
    * are bounded by duplicate multiplicity (how often one exact
    * content repeats), not corpus size. */
  private def collapseSets(hashed: DataFrame): DataFrame =
    hashed.groupBy("__sh")
      .agg(min(col("__id")).as("__gid"), collect_list(col("__id")).as("__ids"))

  /** BOUNDED collapse: identical-set groups as (set, representative,
    * count) — no membership array, so a content duplicated a billion
    * times costs one counter instead of one giant collect_list row.
    * Members are recovered by [[membersVia]]; use this wherever the
    * group table feeds member→rep STAR edges rather than
    * member×member pair expansion ([[collapseSets]] stays the
    * one-shuffle default for the expansion paths, where the array is
    * bounded by duplicate multiplicity the caller accepts). */
  private[graft] def collapseReps(hashed: DataFrame): DataFrame =
    hashed.groupBy("__sh")
      .agg(min(col("__id")).as("__gid"), count(lit(1L)).as("__cnt"))

  /** Join-based member recovery for [[collapseReps]] groups:
    * `(member id, group rep)` rows. The groupBy side carries a
    * map-side partial aggregate the probe side doesn't, so the two
    * exchanges do NOT canonicalize equal and the planner would
    * recompute `hashed` for each use — callers therefore
    * `localCheckpoint(eager = false)` the hashed frame first: the
    * projection runs once, both uses read the stored blocks
    * (bounded group state for the price of one cached pass, the
    * same budget class the collect_list array occupied). */
  private[graft] def membersVia(hashed: DataFrame, groups: DataFrame): DataFrame =
    hashed.join(groups.select(col("__sh"), col("__gid")), "__sh")
      .select(col("__id").as("__mid"), col("__gid"))

  /** Expand verified representative pairs (gid_a < gid_b, jaccard) to
    * all member pairs, plus the within-group pairs (identical sets,
    * jaccard exactly 1.0). Output size equals what the uncollapsed
    * pipeline emits; only the candidate/verify work shrank. */
  private def expandGroupPairs(
      repPairs: DataFrame,
      groups: DataFrame,
      threshold: Double): DataFrame = {
    val members = groups.select(explode(col("__ids")).as("__mid"), col("__gid"))
    val cross = repPairs
      .join(members.select(col("__gid").as("id_a"), col("__mid").as("mid_a")), "id_a")
      .join(members.select(col("__gid").as("id_b"), col("__mid").as("mid_b")), "id_b")
      .select(least(col("mid_a"), col("mid_b")).as("id_a"),
        greatest(col("mid_a"), col("mid_b")).as("id_b"), col("jaccard"))
    val within = members
      .join(members.withColumnRenamed("__mid", "__mid2"), "__gid")
      .filter(col("__mid") < col("__mid2"))
      .select(col("__mid").as("id_a"), col("__mid2").as("id_b"),
        lit(1.0).as("jaccard"))
    if (threshold <= 1.0) cross.unionByName(within) else cross
  }

  def minHashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    val (repPairs, groups, _) =
      minHashRepPairs(df, idCol, textCol, numHashes, bands, threshold)
    expandGroupPairs(repPairs, groups, threshold)
  }

  /** The collapse→signature→band→verify core shared by the pair-list,
    * edge-list, and cross-corpus variants: verified pairs between
    * group REPRESENTATIVES plus the group table. */
  private def minHashRepPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      bounded: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // hash token strings ONCE; everything downstream (exact-set
    // collapse, signature, banding, verification) runs on the sorted
    // 64-bit hash array. MinHash is order-invariant, so the sorted set
    // gives the same signature the raw token order would.
    val hashed0 = df.select(col(idCol).as("__id"),
      array_sort(transform(toks(textCol), t => xxhash64(t))).as("__sh"))
    // the bounded path reads `hashed` twice (collapse + member join):
    // checkpoint lazily so tokenization runs once (see membersVia)
    val hashed = if (bounded) hashed0.localCheckpoint(false) else hashed0
    val groups = if (bounded) collapseReps(hashed) else collapseSets(hashed)
    val reps = groups.select(col("__gid").as("__id"), col("__sh"))
    val banded = reps
      // whole signature in one codegen loop (MinHashSignature)
      .withColumn("__sig", graft.functions.TokenHashExpressions.minHashSignature(
        col("__sh"), numHashes))
      .select(col("__id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("__sig"), b * r + 1, lit(r))))))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bh")
    // candidates carry only ids through the band shuffle (narrow rows);
    // hash sets re-join once per *distinct* pair for verification
    val candidates = banded.select(col("__band"), col("__bh"), col("__id").as("id_a"))
      .join(banded.select(col("__band"), col("__bh"), col("__id").as("id_b")),
        Seq("__band", "__bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val vsets = reps.select(col("__id"), col("__sh"), size(col("__sh")).as("__sz"))
    val repPairs = candidates
      .join(vsets.select(col("__id").as("id_a"), col("__sh").as("sh_a"), col("__sz").as("sz_a")), "id_a")
      .join(vsets.select(col("__id").as("id_b"), col("__sh").as("sh_b"), col("__sz").as("sz_b")), "id_b")
      .withColumn("jaccard", hashSetJaccard(col("sh_a"), col("sh_b"), col("sz_a"), col("sz_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.Exact.roundAt(col("jaccard"), 4).as("jaccard"))
    (repPairs, groups, hashed)
  }

  /** Near-dup CONNECTIVITY edges, compact: rep-pair edges plus one
    * member→representative star edge per duplicate. Same connected
    * components as the expanded pair list, but |edges| is
    * O(repPairs + n) instead of O(Σ group² + |A|·|B| expansions) —
    * on duplicate-heavy corpora this is the difference between
    * clustering the graph and re-materializing the dup blow-up the
    * collapse stage just removed. */
  def minHashLshEdges(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    // bounded groups: the star edges only need (member, rep), so no
    // membership array is ever materialized on this path
    val (repPairs, groups, hashed) =
      minHashRepPairs(df, idCol, textCol, numHashes, bands, threshold,
        bounded = true)
    val star = membersVia(hashed, groups)
      .select(col("__mid").as("id_a"), col("__gid").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    repPairs.select("id_a", "id_b").unionByName(star)
  }

  /** Within-batch + batch-vs-corpus near-dup CONNECTIVITY edges in
    * ONE shared-lineage pass — the per-fold edge source of an
    * incremental clustering step ([[incrementalClusters]]). Calling
    * [[minHashLshEdges]](batch) and [[minHashLshAgainst]](batch,
    * corpus) separately tokenizes/hashes/bands the batch TWICE and
    * never collapses the corpus side; here both edge families hang
    * off the SAME collapsed-reps banded subplan, so when the caller
    * persists (or simply executes) the union, the batch is shingled
    * and banded once and the band-hash exchange is reused across the
    * self-join and the cross-join (ReusedExchange), not re-derived.
    *
    * Both sides are collapsed to exact-set representatives, which is
    * CONNECTIVITY-safe where it would not be pair-list-safe: a batch
    * member reaches its rep through the emitted star edges, and a
    * corpus member reaches its rep through the assignment table's
    * star edges (identical sets have Jaccard 1.0, so fold N−1
    * clustered them together) — the connected components, and hence
    * the cluster labels, are exactly those of the uncollapsed edge
    * set. Output: (id_a, id_b) edges — within-batch verified rep
    * pairs, within-batch member→rep stars, and batch-rep→corpus-rep
    * verified cross pairs. */
  def minHashLshEdgesWithCorpus(
      dfNew: DataFrame,
      dfCorpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // bounded collapse on BOTH sides: this whole function emits star
    // edges, never member×member expansions, so no membership array;
    // the batch side is read twice (collapse + member join) — lazy
    // checkpoint so it is shingled once (see membersVia)
    val hashedNew = shingleSets(dfNew, idCol, textCol).localCheckpoint(false)
    val groups = collapseReps(hashedNew)
    val reps = groups.select(col("__gid").as("__id"), col("__sh"))
    val banded = bandedSignatures(reps, numHashes, bands)
    val withinCand = banded
      .select(col("__band"), col("__bh"), col("__id").as("id_a"))
      .join(banded.select(col("__band"), col("__bh"), col("__id").as("id_b")),
        Seq("__band", "__bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val vsets = reps.select(col("__id"), col("__sh"),
      size(col("__sh")).as("__sz"))
    val withinPairs = withinCand
      .join(vsets.select(col("__id").as("id_a"), col("__sh").as("sh_a"),
        col("__sz").as("sz_a")), "id_a")
      .join(vsets.select(col("__id").as("id_b"), col("__sh").as("sh_b"),
        col("__sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        hashSetJaccard(col("sh_a"), col("sh_b"), col("sz_a"), col("sz_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b")
    val star = membersVia(hashedNew, groups)
      .select(col("__mid").as("id_a"), col("__gid").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val gCorpus = collapseReps(shingleSets(dfCorpus, idCol, textCol))
    val repsC = gCorpus.select(col("__gid").as("__id"), col("__sh"))
    val crossCand = banded
      .select(col("__band"), col("__bh"), col("__id").as("id_a"))
      .join(bandedSignatures(repsC, numHashes, bands)
        .select(col("__band"), col("__bh"), col("__id").as("id_b")),
        Seq("__band", "__bh"))
      .select("id_a", "id_b").distinct()
    val vCorpus = repsC.select(col("__id").as("id_b"), col("__sh").as("sh_b"),
      size(col("__sh")).as("sz_b"))
    val cross = verifyCrossPairs(crossCand, reps, vCorpus, threshold)
      .select("id_a", "id_b")
    withinPairs.unionByName(star).unionByName(cross)
  }

  /** Exact Jaccard from two sorted token-hash sets: one codegen merge
    * walk per pair (SortedLongIntersectCount); same integer-derived
    * double as the string-set formula, so oracle-identical. */
  private def hashSetJaccard(shA: Column, shB: Column, szA: Column, szB: Column): Column = {
    val common = graft.functions.TokenHashExpressions.sortedIntersectCount(shA, shB)
    common.cast("double") / (szA + szB - common)
  }

  /** ENGINE-PORTABLE 64-bit SimHash of the distinct token set: bit
    * k = 16j+b is the sign of Σ_tokens (±1 by bit b of the base-j
    * polynomial token hash) — one compiled kernel call per row
    * (PortableHashKernel.simHashPortable). Portable so the DuckDB
    * oracle reproduces every bit (SparkEntry's q_doc_simhash oracle);
    * the xxhash64-based variant remains as [[simHash64Xx]] /
    * graft_simhash for engine-internal use. */
  def simHash64(textCol: String): Column =
    graft.functions.PortableHashExpressions.simHashPortable(col(textCol))

  /** xxhash64-based SimHash (stronger per-token mixing, not
    * reproducible outside Spark). */
  def simHash64Xx(textCol: String): Column =
    graft.functions.TokenHashExpressions.simHash(
      transform(array_distinct(split(col(textCol), " ")), t => xxhash64(t)))

  /** SimHash near-dup pairs: band the 64-bit fingerprint into
    * `bands` equal bit-slices; rows sharing any slice are candidates
    * (pigeonhole: hamming ≤ bands−1 is always caught); verify with
    * exact `bit_count(xor)`. */
  def simHashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    require(64 % bands == 0)
    require(maxHamming < bands, "pigeonhole guarantee needs maxHamming <= bands-1")
    val w = 64 / bands
    val mask = if (w == 64) -1L else (1L << w) - 1
    // collapse identical fingerprints first (same move as
    // [[collapseSets]]): banding/verification run per distinct h;
    // within-group pairs are hamming 0 by construction. The group key
    // is one int64, so members come back through a cheap hash join on
    // __h (BOUNDED group state — no collect_list array a pathological
    // billion-fold duplicate could blow up); perDoc is read twice
    // (collapse + member join), so checkpoint lazily — the
    // tokenize+hash projection runs once (see [[membersVia]])
    val perDoc = df.select(col(idCol).as("__id"), simHash64(textCol).as("__h"))
      .localCheckpoint(false)
    val groups = perDoc.groupBy("__h").agg(min(col("__id")).as("__gid"))
    val withH = groups.select(col("__gid").as("__id"), col("__h"))
    val bandDf = withH
      .select(col("__id"), col("__h"),
        explode(expr(
          s"transform(sequence(0, ${bands - 1}), b -> named_struct(" +
            s"'band', b, 'slice', shiftright(__h, b * $w) & ${mask}L))")).as("__b"))
      .select(col("__id"), col("__h"),
        col("__b.band").as("__band"), col("__b.slice").as("__slice"))
    val a = bandDf.select(col("__band"), col("__slice"),
      col("__id").as("id_a"), col("__h").as("h_a"))
    val b2 = bandDf.select(col("__band"), col("__slice"),
      col("__id").as("id_b"), col("__h").as("h_b"))
    val repPairs = a.join(b2, Seq("__band", "__slice"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "h_a", "h_b").distinct()
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    val members = perDoc.join(groups, "__h")
      .select(col("__id").as("__mid"), col("__gid"))
    val cross = repPairs
      .join(members.select(col("__gid").as("id_a"), col("__mid").as("mid_a")), "id_a")
      .join(members.select(col("__gid").as("id_b"), col("__mid").as("mid_b")), "id_b")
      .select(least(col("mid_a"), col("mid_b")).as("id_a"),
        greatest(col("mid_a"), col("mid_b")).as("id_b"), col("hamming"))
    val within = members
      .join(members.withColumnRenamed("__mid", "__mid2"), "__gid")
      .filter(col("__mid") < col("__mid2"))
      .select(col("__mid").as("id_a"), col("__mid2").as("id_b"),
        lit(0L).as("hamming"))
    cross.unionByName(within)
  }

  /** Exact n-gram Jaccard over an inverted index — the verification
    * path (and the oracle-checkable one).
    *
    * Instead of an O(n²) cross join, explode distinct n-grams and
    * self-join on the n-gram: only pairs sharing ≥1 gram are ever
    * materialized, co-partitioned by gram. Jaccard from the common
    * count and per-doc gram counts. At 100 TB add a document-frequency
    * cap on grams (drop grams in >p% of docs) to bound hot keys —
    * semantics-preserving for thresholds above the noise floor.
    */
  /** @param threshold Jaccard cutoff; the prefix/length filters below
    *                   are provably lossless for this threshold. */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 1,
      threshold: Double = 0.8): DataFrame = {
    // ngramsFromTokens guards the <n-token case (Spark's sequence(1,0)
    // counts backwards, which would fabricate grams); the token array
    // is materialized first so the shingle lambda indexes an attribute
    // instead of re-splitting per element
    val withToks = df.select(col(idCol).as("__id"),
      split(col(textCol), " ").as("__toks"))
    val grams =
      if (n == 1) array_distinct(col("__toks"))
      else array_distinct(graft.functions.Text.ngramsFromTokens(col("__toks"), n))
    // hash grams once: the inverted index joins on 64-bit keys and
    // verification merge-walks sorted hash sets — no string compares
    // past this projection. Identical gram sets collapse to one
    // representative first (Jaccard is set-determined).
    val groups = collapseSets(withToks.select(col("__id"),
      array_sort(transform(grams, x => xxhash64(x))).as("__sh")))
    val g = groups.select(col("__gid").as("__id"), col("__sh").as("__gh"))
      .withColumn("__sz", size(col("__gh")))
    val inv = g.select(col("__id"), col("__sz"), explode(col("__gh")).as("__gram"))

    // PPJoin-style candidate pruning (lossless for Jaccard >= t):
    //  * prefix filter: rank each doc's grams globally rarest-first
    //    (any fixed total order works; we use (df, gramHash));
    //    two docs with J >= t MUST share a gram within their first
    //    (sz - ceil(t*sz) + 1) grams, so only those are indexed —
    //    frequent grams (the shuffle hot keys) drop out of the index.
    //  * length filter: J >= t implies t*sz_a <= sz_b <= sz_a/t.
    val dfreq = inv.groupBy("__gram").agg(count(lit(1L)).as("__df"))
    val ranked = inv.join(dfreq, "__gram")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__df"), col("__gram"))))
      .filter(col("__rn") <= col("__sz") - ceil(lit(threshold) * col("__sz")) + 1)
      .select("__gram", "__id", "__sz")
    val candidates = ranked.select(col("__gram"), col("__id").as("id_a"), col("__sz").as("sz_a"))
      .join(ranked.select(col("__gram"), col("__id").as("id_b"), col("__sz").as("sz_b")),
        "__gram")
      .filter(col("id_a") < col("id_b") &&
        col("sz_b") >= lit(threshold) * col("sz_a") &&
        col("sz_a") >= lit(threshold) * col("sz_b"))
      .select("id_a", "id_b").distinct()

    // exact verification of the surviving candidates
    val repPairs = candidates
      .join(g.select(col("__id").as("id_a"), col("__gh").as("gh_a"), col("__sz").as("sz_a")), "id_a")
      .join(g.select(col("__id").as("id_b"), col("__gh").as("gh_b"), col("__sz").as("sz_b")), "id_b")
      .withColumn("jaccard", hashSetJaccard(col("gh_a"), col("gh_b"), col("sz_a"), col("sz_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.Exact.roundAt(col("jaccard"), 4).as("jaccard"))
    expandGroupPairs(repPairs, groups, threshold)
  }

  /** Lineage cut between CC rounds. Default: eager `localCheckpoint`
    * — executor-memory blocks, fastest, but NOT fault-tolerant (an
    * executor loss mid-loop is unrecoverable because the lineage is
    * gone). With `dir` set: the round is persisted as a parquet table
    * under the directory and read back — durable across executor AND
    * driver loss, and the unit of [[resumeConnectedComponents]]'s
    * restart. That is the 100 TB configuration; any Hadoop-compatible
    * FS path (HDFS/S3) works. */
  private def cut(df: DataFrame, dir: Option[String], name: String): DataFrame =
    dir match {
      case Some(d) =>
        val path = s"$d/$name"
        df.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path)
      case None => df.localCheckpoint(true)
    }

  /** labels only ever decrease, so Σlabel is strictly monotone until
    * the fixpoint — an O(1)-output convergence probe instead of a
    * change-count join (decimal sum: exact for any long ids) */
  private def labelSum(l: DataFrame): java.math.BigDecimal = {
    // coalesce: an EMPTY edge set (a batch with no near-dups at all)
    // must converge on round one, not NPE on a null sum
    val s = l.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    if (s == null) java.math.BigDecimal.ZERO else s
  }

  /** The per-round propagation loop shared by the fresh and resumed
    * entry points. Rounds `startIter` (exclusive state already in
    * `labels0`) up to `maxIter` total. */
  private def ccLoop(
      edges: DataFrame,
      labels0: DataFrame,
      startIter: Int,
      maxIter: Int,
      checkpointDir: Option[String]): DataFrame = {
    var labels = labels0
    var prevSum = labelSum(labels)
    var iter = startIter
    var done = false
    while (!done && iter < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy("src").agg(min(col("nl")).as("min_nl"))
      // checkpointed before the self-join below — otherwise the
      // edges-join lineage would be computed twice (the pairs-plan
      // hazard all over again)
      val propagated = labels
        .join(neighborMin.select(col("src").as("id"), col("min_nl")), Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("min_nl"), col("label"))).as("label"))
        .localCheckpoint(true)
      // pointer jumping: label ← label(label). Halves chain depth per
      // round, so convergence is O(log diameter) instead of
      // O(diameter); labels still only decrease, so the Σlabel
      // monotone probe below stays a valid fixpoint test.
      labels = cut(propagated
        .join(propagated.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label")),
        checkpointDir, s"labels_r${iter + 1}")
      val s = labelSum(labels)
      done = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    labels
  }

  /** Phase 1 of two-phase CC: partition-local label compression. A
    * union-find (path-halving, union-by-min-root) over each
    * partition's edges collapses every locally-visible component to
    * its minimum id in ONE pass with zero driver round-trips; the
    * global loop then only has to stitch components that span
    * partitions. Edges are pre-shuffled on `src` so a node's edge
    * fan-out lands together — star-shaped near-dup components (the
    * common case) collapse entirely here. Executor memory is
    * O(distinct nodes per partition); emitted rows are (id,
    * local-min-label), reduced by a map-side-combined min per id.
    * Labels are node ids within the same component and ≤ id, so the
    * global min-propagation loop converges to the identical fixpoint
    * it reaches from identity labels — just in fewer rounds. */
  private def localCompress(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    p.select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(col("src"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) {
            val g = parent.getOrElse(parent(r), parent(r))
            parent(r) = g // path halving
            r = g
          }
          r
        }
        it.foreach { case (s, d) =>
          val rs = find(s); val rd = find(d)
          if (rs < rd) parent(rd) = rs
          else if (rd < rs) parent(rs) = rd
          parent.getOrElseUpdate(rs, rs); parent.getOrElseUpdate(rd, rd)
        }
        // snapshot keys before resolving: find()'s path halving
        // updates values, and iterating while writing is fragile
        parent.keys.toArray.iterator.map(id => (id, find(id)))
      }
      .toDF("id", "label")
      .groupBy("id").agg(min(col("label")).as("label"))
  }

  /** ADAPTIVE connected components: localCheckpoints the pair plan
    * once (so an expensive LSH lineage executes exactly once), counts
    * it, and — when the edge list is metadata-sized (≤
    * `maxDriverEdges`) with integral ids — labels it with a single
    * driver-side union-find instead of the iterative distributed
    * loop. The incremental-cluster fold's subgraph is O(batch +
    * affected) BY DESIGN, typically thousands of edges; the
    * distributed loop's per-round fixed cost (a join + an aggregation
    * + a lineage cut, ×O(log diameter) rounds) is pure overhead
    * there (measured ~2 s per fold on a 3.4k-edge subgraph vs ~0.1 s
    * on the driver). Beyond the cap — the initial backfill, a giant
    * batch — the distributed loop runs unchanged; the driver budget
    * at the cap is the same class as the IVF centroids (≤ ~32 MB of
    * longs). Labels are identical by construction: union-find keeps
    * the component MINIMUM as the root (attach larger root under
    * smaller), exactly the min-label fixpoint (spec-asserted equal).
    * A durable `checkpointDir` (the restartable 100 TB mode) always
    * takes the distributed path — driver labeling has no round tables
    * to resume from. */
  def connectedComponentsAdaptive(
      pairs: DataFrame,
      maxDriverEdges: Long = 1000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    val integralIds = Seq(pairs.schema("id_a").dataType, pairs.schema("id_b").dataType)
      .forall {
        case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
    if (checkpointDir.isDefined || !integralIds)
      return connectedComponents(pairs, checkpointDir = checkpointDir)
    val p = pairs
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      // a NULL endpoint drops out of the distributed path's joins;
      // drop it here too so both paths agree (and getLong below
      // can't NPE mid-iteration)
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .localCheckpoint(true)
    if (p.count() > maxDriverEdges) connectedComponents(p)
    else {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val nx = parent.get(c); parent.put(c, r); c = nx
        }
        r
      }
      p.toLocalIterator().forEachRemaining { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.putIfAbsent(a, a) // every endpoint must surface as a key
        parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val keys = parent.keySet().toArray(new Array[java.lang.Long](0))
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(keys.map(k =>
          org.apache.spark.sql.Row(k.longValue(), find(k.longValue()))): _*)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.LongType, nullable = false)))
      pairs.sparkSession.createDataFrame(rows, schema)
    }
  }

  /** Connected components over an undirected pair list, two-phase:
    * partition-local union-find compression ([[localCompress]]) seeds
    * the labels, then min-label propagation with pointer jumping runs
    * to fixpoint — the standard distributed CC loop (O(log diameter)
    * rounds; every round is one join + one aggregation, both map-side
    * combined). Lineage is cut per round (see [[cut]]): in-memory by
    * default, durable parquet round-tables when `checkpointDir` is
    * given — the fault-tolerant mode a 100 TB run needs, restartable
    * mid-loop via [[resumeConnectedComponents]]. Deterministic: labels
    * are ids, min is min — a resumed run converges to the identical
    * labeling, and the local-compression phase only changes the
    * starting point, not the fixpoint. Non-integral id types skip the
    * compression phase and seed with identity labels. */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    // checkpoint the (possibly expensive) pair plan BEFORE the
    // self-union — otherwise both union branches recompute it
    val p = cut(pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
      checkpointDir, "pairs")
    val edges = cut(p.union(p.select(col("dst").as("src"), col("src").as("dst"))),
      checkpointDir, "edges")
    val integralIds = Seq(p.schema("src").dataType, p.schema("dst").dataType)
      .forall {
        case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
    val init = cut(
      if (integralIds) localCompress(p)
      else edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")),
      checkpointDir, "labels_r0")
    ccLoop(edges, init, 0, maxIter, checkpointDir)
  }

  /** Restart a durably-checkpointed CC run after a crash: picks up the
    * newest persisted `labels_r<N>` round table plus the edges table
    * and continues the loop from round N. Labels only decrease and the
    * propagation is a deterministic function of (edges, labels), so
    * resuming from ANY completed round reaches the same fixpoint as an
    * uninterrupted run. */
  def resumeConnectedComponents(
      spark: org.apache.spark.sql.SparkSession,
      checkpointDir: String,
      maxIter: Int = 20): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rounds = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("labels_r")).map(_.stripPrefix("labels_r").toInt)
    require(rounds.nonEmpty, s"no labels_r* round tables under $checkpointDir")
    val latest = rounds.max
    ccLoop(
      spark.read.parquet(s"$checkpointDir/edges"),
      spark.read.parquet(s"$checkpointDir/labels_r$latest"),
      latest, maxIter, Some(checkpointDir))
  }

  /** The dedup DECISION step: group near-duplicates into clusters and
    * pick one representative per cluster. Every doc gets the smallest
    * doc id of its near-dup connected component as `cluster_id`
    * (itself if it has no near-dups); `is_rep` marks the keeper. The
    * pair source is [[minHashLsh]], so cluster membership is exactly
    * "connected by Jaccard ≥ threshold". */
  def nearDupClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    val pairs = minHashLshEdges(df, idCol, textCol, numHashes, bands, threshold)
    val cc = connectedComponentsAdaptive(pairs)
    df.select(col(idCol).as("doc_id"))
      .join(cc.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_rep", (col("doc_id") === col("cluster_id")).cast("boolean"))
  }

  /** Incrementally maintain a DURABLE near-dup cluster assignment
    * table — the per-batch twin of [[nearDupClusters]]. The table is
    * a snapshot table ([[graft.sources.Snapshots]]) of
    * `(id, cluster_id)` where `cluster_id` is the smallest id of the
    * near-dup connected component, exactly the label a from-scratch
    * CC over every edge ever seen would assign (min labels are
    * composition-stable: the old cluster_id IS a member id, so star
    * edges reproduce the component and min-propagation re-derives the
    * global minimum) — proven by the spec's equivalence check.
    *
    * Per batch, only AFFECTED components are touched:
    *  1. clusters reachable from any new edge endpoint are looked up
    *     in the assignment table (one semi join);
    *  2. CC runs over new edges + one star edge per affected member —
    *     a subgraph of size O(batch + affected), never the corpus;
    *  3. the relabeled rows upsert through [[Snapshots.mergeCommit]]
    *     (file-granular copy-on-write on an id-clustered table), so
    *     the write is O(affected files) too.
    * A batch whose edges touch nothing re-labels only itself. At
    * 100 TB this is the difference between a per-batch corpus-wide
    * CC and a bounded incremental step; the snapshot history also
    * gives reproducible "clusters as of batch N" time travel. */
  def incrementalClusters(
      spark: org.apache.spark.sql.SparkSession,
      assignDir: String,
      newDocs: DataFrame,
      newEdges: DataFrame,
      idCol: String): DataFrame = {
    import graft.sources.Snapshots
    val newIds = newDocs.select(col(idCol).as("id")).distinct()
    val edges = newEdges.select(col("id_a"), col("id_b"))
    if (Snapshots.latestVersion(spark, assignDir).isEmpty) {
      val cc = connectedComponentsAdaptive(edges)
      val assigns = newIds
        .join(cc.select(col("id"), col("label")), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("label"), col("id")).as("cluster_id"))
      Snapshots.commit(assigns, assignDir, overwrite = false,
        statsCol = Some("id"))
    } else {
      // the edge frame is typically the OUTPUT OF AN LSH PIPELINE —
      // the most expensive lineage in the system — and is consumed
      // twice below (endpoint lookup, then the CC subgraph). Persist
      // it once; without this each consumer re-ran the entire
      // shingle→signature→band→verify chain (measured ~2× the whole
      // step's cost on the dup-heavy benchmark corpus).
      val edgesP = edges.persist()
      try {
        val existing = Snapshots.read(spark, assignDir)
        val endpoints = edgesP.select(col("id_a").as("id"))
          .union(edgesP.select(col("id_b").as("id"))).distinct()
        val affectedClusters = existing
          .join(endpoints, Seq("id"), "left_semi")
          .select("cluster_id").distinct()
        val affectedMembers = existing
          .join(affectedClusters, Seq("cluster_id"), "left_semi")
        val starEdges = affectedMembers
          .filter(col("id") =!= col("cluster_id"))
          .select(col("id").as("id_a"), col("cluster_id").as("id_b"))
        val cc = connectedComponentsAdaptive(edgesP.unionByName(starEdges))
        val subNodes = newIds
          .unionByName(affectedMembers.select("id")).distinct()
        val updated = subNodes
          .join(cc.select(col("id"), col("label")), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("label"), col("id")).as("cluster_id"))
        // upsert only the relabeled/new rows; within-batch rows are
        // unique per id, and any change outranks an existing row, so a
        // constant seq is sufficient
        Snapshots.mergeCommit(spark, assignDir,
          updated.withColumn("op", lit("u")).withColumn("seq", lit(0L)),
          keyCols = Seq("id"), pruneCol = Some("id"))
      } finally edgesP.unpersist(blocking = false)
    }
    Snapshots.read(spark, assignDir)
  }

  /** Cross-corpus near-dedup: MinHash-LSH pairs BETWEEN two corpora —
    * "does this new batch duplicate anything in the existing training
    * set". Same shingle→signature→band machinery as [[minHashLsh]],
    * but the band join is across sides only, so candidate volume is
    * |A∩buckets∩B|, never within-corpus pairs.
    *
    * Scale: both sides band independently (linear projections); one
    * shuffle each on (band, bandHash); verification re-joins sorted
    * hash sets once per distinct cross pair (codegen merge-intersect).
    * When B is the accumulated corpus, its banded form is exactly
    * what an incremental dedup service would keep materialized. */
  def minHashLshAgainst(
      dfNew: DataFrame,
      dfCorpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val hNew = shingleSets(dfNew, idCol, textCol)
    val hCorpus = shingleSets(dfCorpus, idCol, textCol)
    val candidates = bandedSignatures(hNew, numHashes, bands)
      .select(col("__band"), col("__bh"), col("__id").as("id_a"))
      .join(bandedSignatures(hCorpus, numHashes, bands)
        .select(col("__band"), col("__bh"), col("__id").as("id_b")),
        Seq("__band", "__bh"))
      .select("id_a", "id_b").distinct()
    val vCorpus = hCorpus.select(col("__id").as("id_b"), col("__sh").as("sh_b"),
      size(col("__sh")).as("sz_b"))
    verifyCrossPairs(candidates, hNew, vCorpus, threshold)
  }

  /** (id, sorted 64-bit token-hash set) — the canonical prepared form
    * every MinHash variant starts from. */
  private[operators] def shingleSets(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
      array_sort(transform(toks(textCol), t => xxhash64(t))).as("__sh"))

  /** Banded LSH keys for prepared sets: whole signature in one
    * codegen loop, then one (band, bandHash) row per band — the
    * narrow ids-only shape the band shuffle carries, and exactly what
    * [[MinHashIndex]] persists per corpus document. */
  private[operators] def bandedSignatures(
      hashed: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    hashed
      .withColumn("__sig", graft.functions.TokenHashExpressions.minHashSignature(
        col("__sh"), numHashes))
      .select(col("__id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("__sig"), b * r + 1, lit(r))))))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bh")
  }

  /** Exact-Jaccard verification of cross-side candidate pairs: hash
    * sets re-join once per distinct pair, merge-walk intersect. */
  private[operators] def verifyCrossPairs(
      candidates: DataFrame,
      hNew: DataFrame,
      vCorpus: DataFrame,
      threshold: Double): DataFrame = {
    val vNew = hNew.select(col("__id").as("id_a"), col("__sh").as("sh_a"),
      size(col("__sh")).as("sz_a"))
    candidates.join(vNew, "id_a").join(vCorpus, "id_b")
      .withColumn("jaccard", hashSetJaccard(col("sh_a"), col("sh_b"), col("sz_a"), col("sz_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.Exact.roundAt(col("jaccard"), 4).as("jaccard"))
  }

  /** Embedding near-dup, exact pair scan (verification / small-SF
    * path; the scale path is [[embeddingNearDupLsh]]). */
  def embeddingNearDupExact(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val side = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val a = side.select(col("__id").as("id_a"), col("__v").as("v_a"))
    val b = side.select(col("__id").as("id_b"), col("__v").as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", Vectors.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.Exact.roundAt(col("cosine"), 4).as("cosine"))
  }

  /** Embedding near-dup at scale: random-hyperplane LSH buckets
    * (see [[Similarity.lshBucket]]) generate candidates; same exact
    * cosine verification. Bucket join shuffles on the bucket key —
    * pair work is bucket-local. */
  def embeddingNearDupLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bitsPerTable: Int = 12,
      tables: Int = 4): DataFrame = {
    val side = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val withB = Similarity.withBuckets(side, "__v", bitsPerTable, tables)
    val candidates = withB.select(col("__t"), col("__bucket"), col("__id").as("id_a"))
      .join(withB.select(col("__t"), col("__bucket"), col("__id").as("id_b")),
        Seq("__t", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(side.select(col("__id").as("id_a"), col("__v").as("v_a")), "id_a")
      .join(side.select(col("__id").as("id_b"), col("__v").as("v_b")), "id_b")
      .withColumn("cosine", Vectors.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.Exact.roundAt(col("cosine"), 4).as("cosine"))
  }
}
