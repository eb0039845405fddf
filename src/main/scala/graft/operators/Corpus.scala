package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Corpus-preparation operators for the LLM-data-pipeline surface
  * (SURVEY.md §2.3): vocabulary building, deterministic dataset
  * splits, stratified sampling, benchmark-contamination checks, and
  * token-budget sequence packing.
  *
  * Everything is a declarative single-pass DataFrame plan; the only
  * shuffles are the groupBy/window partitionings stated per operator.
  * Hash-based assignment uses [[Text.portableHash]] so the DuckDB
  * oracle reproduces the exact bucket of every row.
  */
object Corpus {

  /** Vocabulary table: one row per distinct token with corpus term
    * frequency and document frequency.
    *
    * Scale: explode → two-phase aggregate. The term count gets
    * map-side partial aggregation for free; the doc frequency is a
    * distinct-aggregate that Spark plans as (token, doc) pre-distinct
    * then count — both shuffles carry only (token[, id]) pairs, never
    * text. At 100 TB the token key space is tiny compared to the
    * corpus, so AQE coalesces the post-agg partitions. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1L)).as("term_freq"),
        count_distinct(col(idCol)).as("doc_freq"))

  /** Streaming-capable vocabulary: same term counts, but document
    * frequency as an HLL sketch (`approx_count_distinct`) — exact
    * distinct aggregation isn't executable incrementally on a stream
    * (and at 100 TB the per-token distinct-doc state wouldn't be
    * either; the sketch is O(1) state per token). Works identically
    * on batch frames. */
  def vocabularyStream(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1L)).as("term_freq"),
        approx_count_distinct(col(idCol)).as("doc_freq_approx"))

  /** Deterministic train/val/test assignment by portable hash of the
    * id — reproducible across engines, runs, and cluster sizes
    * (nothing depends on partitioning or row order). `cuts` are
    * cumulative percentages, e.g. (80, 90) → 80/10/10.
    *
    * Scale: a pure projection — no shuffle at all. */
  def hashSplit(df: DataFrame, idCol: String,
                cuts: (Int, Int) = (80, 90)): DataFrame = {
    val bucket = Text.portableMix(col(idCol)) % 100
    df.withColumn("split_bucket", bucket)
      .withColumn("split",
        when(col("split_bucket") < cuts._1, lit("train"))
          .when(col("split_bucket") < cuts._2, lit("val"))
          .otherwise(lit("test")))
  }

  /** Deterministic stratified sample: the `k` docs per stratum with
    * the smallest (portableHash(id), id) — a reproducible "random"
    * choice with exact per-stratum counts.
    *
    * Scale: one hash-partition shuffle on the stratum key; Spark's
    * WindowGroupLimit pushes the rank-≤-k filter below the sort, so
    * each partition keeps a bounded heap instead of sorting the
    * stratum (same plan shape PlanGuardSpec checks for q_order_rank). */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       k: Int): DataFrame = {
    val w = Window.partitionBy(strataCol)
      .orderBy(Text.portableMix(col(idCol)), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
  }

  /** Benchmark-contamination check: for every candidate (non-
    * benchmark) doc, the number of distinct word n-grams it shares
    * with ANY benchmark doc. Standard decontamination step before
    * training (the reference for the technique is the n-gram overlap
    * check described in the GPT-3/PaLM data papers).
    *
    * Scale: benchmark sets are small by nature → their distinct gram
    * set broadcasts; the corpus side is explode + broadcast-hash-join
    * + partial-agg count, one shuffle on the doc id. Grams travel as
    * xxhash64 longs, never strings. */
  def contamination(df: DataFrame, idCol: String, textCol: String,
                    benchPred: Column, n: Int = 3): DataFrame = {
    val grams = df
      .withColumn("__bench", benchPred)
      .withColumn("__s", Text.tokens(col(textCol)))
      .select(col(idCol), col("__bench"),
        explode(array_distinct(
          Text.ngramsFromTokens(col("__s"), n))).as("gram"))
      .select(col(idCol), col("__bench"), xxhash64(col("gram")).as("gram_h"))
    val benchGrams = grams.filter(col("__bench"))
      .select("gram_h").distinct()
    val hits = grams.filter(!col("__bench"))
      .join(broadcast(benchGrams), "gram_h")
      .groupBy(idCol)
      .agg(count(lit(1L)).as("shared_ngrams"))
    df.filter(!benchPred)
      .select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("shared_ngrams"), lit(0L)).as("shared_ngrams"))
      .withColumn("contaminated", col("shared_ngrams") > 0)
  }

  /** [[contamination]] for the LARGE-benchmark-set regime (every eval
    * suite at once — too many grams to broadcast): the corpus gram
    * stream is BLOOM-prefiltered before the exact shuffle join, so
    * only grams that might be benchmark grams (true hits + ≤fpp false
    * positives) pay the shuffle, and the exact join then removes the
    * false positives — output IDENTICAL to the broadcast plan at any
    * fpp (no false negatives; spec- and oracle-shared), cost
    * O(corpus · fpp + true overlap) shuffle rows instead of
    * O(corpus grams). The [[Relational.bloomSemiJoin]] pattern
    * applied to decontamination. */
  def contaminationAtScale(df: DataFrame, idCol: String, textCol: String,
                           benchPred: Column, n: Int = 3,
                           fpp: Double = 0.01,
                           expectedGrams: Long = 0L): DataFrame = {
    import graft.functions.{BloomBuildAgg, BloomMightContain, BloomUtil, ColumnBridge}
    val grams = df
      .withColumn("__bench", benchPred)
      .withColumn("__s", Text.tokens(col(textCol)))
      .select(col(idCol), col("__bench"),
        explode(array_distinct(
          Text.ngramsFromTokens(col("__s"), n))).as("gram"))
      .select(col(idCol), col("__bench"), xxhash64(col("gram")).as("gram_h"))
    // materialize the benchmark gram set ONCE (it feeds the sizing
    // count, the bloom build, and the final exact join — three full
    // tokenize/distinct derivations without this); localCheckpoint
    // keeps it executor-resident with the lineage truncated, and an
    // expectedGrams estimate skips the sizing count entirely
    val benchGrams = grams.filter(col("__bench"))
      .select("gram_h").distinct().localCheckpoint(true)
    val nGrams = if (expectedGrams > 0) expectedGrams else benchGrams.count()
    val (numBits, numHashes) = BloomUtil.sizing(math.max(1L, nGrams), fpp)
    val filterWords = benchGrams.select(ColumnBridge.column(
        BloomBuildAgg(ColumnBridge.expression(col("gram_h")),
          numBits, numHashes).toAggregateExpression()).as("f"))
      .head().getSeq[Long](0)
    val pre = grams.filter(!col("__bench"))
      .filter(ColumnBridge.column(BloomMightContain(
        ColumnBridge.expression(typedLit(filterWords)),
        ColumnBridge.expression(col("gram_h")))))
    // exact join (NO broadcast hint — the scale path shuffles, but
    // only the bloom survivors reach it); removes the fpp survivors
    val hits = pre.join(benchGrams, "gram_h")
      .groupBy(idCol)
      .agg(count(lit(1L)).as("shared_ngrams"))
    df.filter(!benchPred)
      .select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("shared_ngrams"), lit(0L)).as("shared_ngrams"))
      .withColumn("contaminated", col("shared_ngrams") > 0)
  }

  /** Span-level duplication profile (ExactSubstr semantics, Lee et
    * al. 2021, at k-token granularity): a k-token window is
    * "duplicated" when the same token sequence occurs at more than
    * one (doc, position) anywhere in the corpus — including twice in
    * the SAME doc. Per doc: total spans, duplicated spans, and the
    * duplicated fraction (0.0 for docs shorter than k tokens).
    *
    * Scale: spans travel as xxhash64 longs, never shingle strings.
    * Volume is collapsed BEFORE the global count: per-(doc, span)
    * counts first (map-side combinable — repeated spans inside a doc
    * fold locally), then the global occurrence count is a sum over
    * that collapsed table, and the join back to docs carries only
    * (span_h, doc, count) triples. No all-pairs anything; two
    * hash-shuffles on the span key plus one on the doc id. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                k: Int = 10): DataFrame = {
    val spans = df
      .withColumn("__s", Text.tokens(col(textCol)))
      .select(col(idCol),
        explode(Text.ngramsFromTokens(col("__s"), k)).as("gram"))
      .select(col(idCol), xxhash64(col("gram")).as("span_h"))
      .groupBy(idCol, "span_h")
      .agg(count(lit(1L)).as("__c"))
    val occ = spans.groupBy("span_h")
      .agg(sum(col("__c")).as("__occ"))
    val perDoc = spans.join(occ, "span_h")
      .groupBy(idCol)
      .agg(sum(col("__c")).as("n_spans"),
        sum(when(col("__occ") > 1, col("__c")).otherwise(0L)).as("dup_spans"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
      .withColumn("dup_ratio", when(col("n_spans") === 0, lit(0.0))
        .otherwise(graft.functions.Exact.roundAt(
          col("dup_spans").cast("double") / col("n_spans").cast("double"), 4)))
  }

  /** Duplicated-span REMOVAL — the excision step [[spanDedup]] only
    * profiles (Lee et al. 2021's deduplicate-train-data remedy, at
    * k-token granularity): for every k-token span occurring at more
    * than one (doc, position) corpus-wide, the FIRST occurrence —
    * smallest (doc, position) — is kept and every other occurrence's
    * k tokens are cut; the cleaned text is the surviving tokens in
    * original order. Removal is token-granular: overlapping cut
    * windows union, and a cut window overlapping a kept one still
    * removes the shared tokens (deterministic either-engine
    * semantics, same rule the oracle replays). Emits
    * `(idCol, n_tokens, n_removed, clean_text)`; docs shorter than
    * `k` tokens and docs with no duplicated span pass through
    * untouched.
    *
    * Scale: spans travel as xxhash64 longs; the first occurrence is
    * a map-side-combinable `min(struct(doc, pos))` per span — never a
    * corpus-wide window; cut positions expand to at most k·|cuts|
    * (doc, token) rows, linear in the duplicated volume; and only
    * docs that actually lose a token take the re-tokenize + reassembly
    * path — the untouched corpus is a semi-join passthrough that
    * never shuffles its text. */
  def spanExcise(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 10): DataFrame = {
    val occ = spanOccurrences(df, idCol, textCol, k)
    val dupFirsts = occ.groupBy(col("span_h"))
      .agg(count(lit(1L)).as("__n"),
        min(struct(col(idCol), col("__p"))).as("__f"))
      .filter(col("__n") > 1)
      .select(col("span_h"), col("__f"))
    val cuts = occ.join(dupFirsts, "span_h")
      .filter(col(idCol) =!= col("__f").getField(idCol) ||
        col("__p") =!= col("__f").getField("__p"))
      .select(col(idCol), col("__p"))
    applySpanCuts(df, idCol, textCol, cuts, k)
  }

  /** FEED-DRIVEN span excision: [[spanExcise]]'s keep-first rule
    * applied to a NEW batch with the corpus-so-far as the standing
    * authority — `existingSpans` (one `span_h` column, the maintained
    * span-count view's live hashes) wins every tie, so a batch
    * occurrence of a span the corpus already holds is always cut,
    * and only spans NEW to the corpus resolve keep-first within the
    * batch by (doc, pos) exactly as the batch operator does. When
    * batches arrive in (doc, pos) order, folding each batch's output
    * equals one [[spanExcise]] over the final corpus (the oracle's
    * claim) — out-of-order ids would make "first" mean arrival order,
    * not (doc, pos) order.
    *
    * Scale: the ingest pays O(batch spans) hashing plus one hash join
    * against the span authority — the same cost class as the
    * maintained profile's own tick (uniform span hashes touch every
    * authority file; nothing rescans text), never O(corpus text). */
  def spanExciseAgainst(batch: DataFrame, idCol: String, textCol: String,
                        existingSpans: DataFrame, k: Int = 10): DataFrame = {
    val occ = spanOccurrences(batch, idCol, textCol, k)
    val existing = existingSpans.select(col("span_h")).distinct()
    // every batch occurrence of a corpus-held span is cut
    val cutsExisting = occ.join(existing, "span_h")
      .select(col(idCol), col("__p"))
    // spans new to the corpus: keep-first WITHIN the batch
    val occNew = occ.join(existing, Seq("span_h"), "left_anti")
    val dupFirsts = occNew.groupBy(col("span_h"))
      .agg(count(lit(1L)).as("__n"),
        min(struct(col(idCol), col("__p"))).as("__f"))
      .filter(col("__n") > 1)
      .select(col("span_h"), col("__f"))
    val cutsNew = occNew.join(dupFirsts, "span_h")
      .filter(col(idCol) =!= col("__f").getField(idCol) ||
        col("__p") =!= col("__f").getField("__p"))
      .select(col(idCol), col("__p"))
    applySpanCuts(batch, idCol, textCol, cutsExisting.union(cutsNew), k)
  }

  /** `(idCol, __p, span_h)` for every k-token window of `df`. */
  /** INGEST-TIME NOVELTY: what fraction of a new doc's k-token spans
    * the corpus has NEVER seen — the "is this shard new text or
    * re-crawled boilerplate" gauge scored BEFORE committing, the
    * read-only sibling of [[spanExciseAgainst]] (measure instead of
    * cut). `existingSpans` is a `span_h` frame — the maintained span
    * profile's live hashes
    * ([[graft.sources.IncrementalViews.spanNoveltyIngest]] wires it),
    * so the check is O(batch spans) + one hash join, never O(corpus
    * text). Output `(idCol, n_spans, novel_spans, novelty_ratio)`;
    * docs shorter than k tokens carry zero spans and ratio 1.0 (no
    * evidence of prior occurrence). Spans travel as xxhash64 longs —
    * the [[spanDedup]] collision discipline. */
  def spanNoveltyAgainst(batch: DataFrame, idCol: String,
                         textCol: String, existingSpans: DataFrame,
                         k: Int = 10): DataFrame = {
    val occ = spanOccurrences(batch, idCol, textCol, k)
    val existing = existingSpans.select(col("span_h")).distinct()
      .withColumn("__seen", lit(1))
    val per = occ.join(existing, Seq("span_h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1L)).as("n_spans"),
        sum(when(col("__seen").isNull, lit(1L)).otherwise(lit(0L)))
          .as("novel_spans"))
    batch.select(col(idCol)).distinct()
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        coalesce(col("novel_spans"), lit(0L)).cast("long")
          .as("novel_spans"))
      .withColumn("novelty_ratio",
        when(col("n_spans") === 0, lit(1.0)).otherwise(
          graft.functions.Exact.roundAt(
            col("novel_spans").cast("double") /
              col("n_spans").cast("double"), 4)))
  }

  private def spanOccurrences(df: DataFrame, idCol: String,
                              textCol: String, k: Int): DataFrame = df
    .withColumn("__s", Text.tokens(col(textCol)))
    .select(col(idCol), posexplode(Text.ngramsFromTokens(col("__s"), k)))
    .select(col(idCol), col("pos").cast("long").as("__p"),
      xxhash64(col("col")).as("span_h"))

  /** Token-granular cut application shared by [[spanExcise]] and
    * [[spanExciseAgainst]]: union the cut windows, reassemble only
    * the docs that actually lose a token. */
  private def applySpanCuts(df: DataFrame, idCol: String, textCol: String,
                            cuts: DataFrame, k: Int): DataFrame = {
    val removed = cuts
      .select(col(idCol),
        explode(sequence(col("__p"), col("__p") + lit(k - 1))).as("__t"))
      .distinct()
    val touchedIds = removed.select(col(idCol)).distinct()
    val touched = df.join(touchedIds, Seq(idCol), "left_semi")
      .withColumn("__s", Text.tokens(col(textCol)))
      .select(col(idCol), posexplode(col("__s")))
      .select(col(idCol), col("pos").cast("long").as("__t"),
        col("col").as("__tok"))
    val cleaned = touched.join(removed, Seq(idCol, "__t"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1L)).as("__kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__t"), col("__tok")))),
          x => x.getField("__tok"))).as("clean_text"))
    val nTok = df.withColumn("__s", Text.tokens(col(textCol)))
      .select(col(idCol), size(col("__s")).cast("long").as("n_tokens"),
        col(textCol))
    // a doc whose EVERY token was cut aggregates to zero rows, same
    // as a doc no cut touched — the explicit membership flag is what
    // tells "fully excised" (empty text) from "untouched" (original)
    nTok.join(touchedIds.withColumn("__touched", lit(true)),
        Seq(idCol), "left")
      .join(cleaned, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        when(col("__touched").isNotNull,
          col("n_tokens") - coalesce(col("__kept"), lit(0L)))
          .otherwise(lit(0L)).as("n_removed"),
        when(col("__touched").isNotNull,
          coalesce(col("clean_text"), lit("")))
          .otherwise(col(textCol)).as("clean_text"))
  }

  /** Fixed-token-window document chunking with overlap — context-
    * window preparation for training/embedding. Chunk starts are
    * multiples of `chunkTokens - overlap`, the last chunk may be
    * short, and every token lands in at least one chunk.
    *
    * Scale: explode over an int sequence inside one projection — no
    * shuffle, no UDF; output rows ≈ input tokens / stride. The token
    * array is materialized once per row (attribute capture, see
    * Text.tokenHashes). */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    df.withColumn("__s", Text.tokens(col(textCol)))
      .select(col(idCol), col("__s"),
        posexplode(sequence(lit(0), size(col("__s")) - 1, lit(stride)))
          .as(Seq("chunk_idx", "chunk_start")))
      .select(col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_start").cast("long").as("chunk_start"),
        concat_ws(" ", slice(col("__s"), col("chunk_start") + 1, lit(chunkTokens)))
          .as("chunk_text"),
        least(lit(chunkTokens), size(col("__s")) - col("chunk_start"))
          .cast("long").as("chunk_len"))
  }

  /** TF-IDF doc-term matrix (long form): one row per (doc, token)
    * with term frequency, document frequency, and
    * tf · ln(N / df) — the standard relevance weighting, built on
    * [[vocabulary]]'s plan shape.
    *
    * Scale: two aggregations — (doc, token) then (token) — both with
    * map-side partials; N is a broadcast 1-row aggregate (no driver
    * round-trip, same shape as the scalar-subquery query); the
    * tf⋈df join shuffles on the token key, where AQE handles the
    * Zipfian head via skew splitting. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("token"))
      .groupBy(idCol, "token")
      .agg(count(lit(1L)).as("tf"))
    val dfreq = tf.groupBy("token")
      .agg(count(lit(1L)).as("doc_freq"))
    val n = df.agg(count(lit(1L)).as("n_docs"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("token"), col("tf"), col("doc_freq"),
        graft.functions.Exact.roundAt(
          col("tf") * log(col("n_docs").cast("double") / col("doc_freq")),
          4).as("tfidf"))
  }

  /** Deterministic contiguous 0-based global index in total
    * `orderCol` order — the scale-safe replacement for a
    * partition-less `row_number()` window, which plans ONE partition
    * holding the entire dataset. Range-repartition + in-partition
    * sort gives a total order; `zipWithIndex` assigns offsets with
    * one extra tiny job that ships per-partition *counts* only.
    * `orderCol` must be unique (with ties the index among equal keys
    * would depend on the sampled range boundaries). */
  def globalIndex(df: DataFrame, orderCol: String,
                  indexName: String = "idx",
                  numPartitions: Int = 0): DataFrame = {
    val ranged =
      if (numPartitions > 0) df.repartitionByRange(numPartitions, col(orderCol))
      else df.repartitionByRange(col(orderCol))
    val sorted = ranged.sortWithinPartitions(orderCol)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        indexName, org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    sorted.sparkSession.createDataFrame(rdd, schema)
  }

  /** Composite quality filter with REASONS — the C4/Gopher-style drop
    * step as it runs in production: every doc gets a keep/drop verdict
    * plus the comma-joined list of the rules it failed, so filtering
    * stays auditable (sample the drops per reason, tune thresholds).
    *
    * Rules compose the individual Text signals: token-count band,
    * n-gram repetition, top-token concentration, stopword evidence,
    * language allowlist.
    *
    * Scale: one projection over materialized token/hash arrays — no
    * shuffle, whole-stage codegen except the HOF lambdas. */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int = 30, maxTokens: Int = 100000,
                    maxRepetition: Double = 0.5, maxTopToken: Double = 0.25,
                    minStopRatio: Double = 0.01,
                    langs: Seq[String] = Seq("en")): DataFrame = {
    val t = col(textCol)
    df.withColumn("__h", Text.tokenHashes(t))
      .select(col(idCol), t.as("__t"), col("__h"),
        Text.tokenCountWs(t).cast("long").as("n_tokens"),
        Text.stopwordRatio(t).as("__stop"),
        Text.langId(t).as("lang_pred"))
      .withColumn("__rep", Text.repetitionRatioFromHashes(col("__h"), 2))
      .withColumn("__ttf", Text.topTokenFractionFromHashes(col("__h")))
      .withColumn("reasons", concat_ws(",",
        when(col("n_tokens") < minTokens, lit("too_short")),
        when(col("n_tokens") > maxTokens, lit("too_long")),
        when(col("__rep") > maxRepetition, lit("repetitive")),
        when(col("__ttf") > maxTopToken, lit("top_token")),
        when(col("__stop") < minStopRatio, lit("low_stopword")),
        when(!col("lang_pred").isin(langs: _*), lit("wrong_lang"))))
      .select(col(idCol), col("n_tokens"), col("lang_pred"),
        col("reasons"), (col("reasons") === "").as("keep"))
  }

  /** Deterministic weighted (importance) sampling — the data-mixing
    * primitive: keep a row with probability `weight` (a column in
    * [0,1], e.g. a quality score or per-source mixing rate) by
    * comparing it against the portable hash of the id mapped to
    * [0,1). Reproducible across engines, runs, and partitionings;
    * E[kept] = Σ weights.
    *
    * Scale: pure projection + filter — zero shuffle. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column): DataFrame = {
    val u = Text.portableMix(col(idCol)).cast("double") / lit(1000000007.0)
    df.withColumn("sample_u", u).filter(col("sample_u") < weight)
  }

  /** Per-domain TOKEN-BUDGET mixing — the training-mixture recipe
    * ("200B tokens of web, 50B of code, 20B of papers") executed as
    * one deterministic plan: within each domain, docs are ordered by
    * (portableMix(id), id) — a reproducible shuffle — and a doc is
    * kept iff the token total BEFORE it is still under the domain's
    * budget, so the doc that crosses the boundary is the last one in
    * (every nonempty domain with a positive budget contributes ≥1
    * doc; overshoot is bounded by one document). Domains absent from
    * `budgets` get `defaultBudget` (0 = drop). Emits
    * `(id, domain, n_tokens, cum_before)` for the kept docs —
    * `cum_before` is the audit trail: Σ n_tokens of everything the
    * mixture took ahead of this doc.
    *
    * Deterministic across engines, runs, and partitionings: the hash
    * order ties to ids, the running sum is integer arithmetic.
    *
    * Scale: one hash-partition shuffle on the domain key. With FEW
    * GIANT domains (the actual mixing regime) the per-domain prefix
    * sum is the serial step — the same hazard
    * [[Relational.forwardFillBucketed]] solves; apply the identical
    * two-level trick by pre-bucketing on `portableMix(id)` ranges and
    * prefix-summing bucket totals if a domain outgrows one task. */
  def mixByBudget(df: DataFrame, domainCol: String, idCol: String,
                  textCol: String, budgets: Seq[(String, Long)],
                  defaultBudget: Long = 0L): DataFrame = {
    val budget = mixBudgetCol(domainCol, budgets, defaultBudget)
    val w = Window.partitionBy(domainCol)
      .orderBy(Text.portableMix(col(idCol)), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("n_tokens", Text.tokenCountWs(col(textCol)).cast("long"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col(idCol), col(domainCol), col("n_tokens"), col("cum_before"))
  }

  private def mixBudgetCol(domainCol: String, budgets: Seq[(String, Long)],
                           defaultBudget: Long): Column =
    budgets.foldRight(lit(defaultBudget): Column) {
      case ((d, b), acc) => when(col(domainCol) === d, lit(b)).otherwise(acc) }

  /** Water-filling state: one domain's row, its deterministic
    * tie-break key (the STRING rendering of the domain — both engines
    * order it identically), token capacity n, and integer weight
    * W = floor(w·10⁹ + ½) (exact: w is a 9-rounded double, so the
    * scale-up is one IEEE multiply both engines share). */
  private final class WfDomain(val row: org.apache.spark.sql.Row,
                               val key: String, val n: BigInt,
                               val w: BigInt) {
    var fixed = false
    var b: BigInt = 0
  }

  /** TEMPERATURE-SCALED domain budgets (the standard multi-source
    * mixing recipe — sampling share ∝ p_d^α): per domain, the token
    * total n_d, the unnormalized weight w_d = n_d^α (computed as
    * exp(α·ln n_d) — `pow` is not bit-portable across engines, exp/ln
    * are — and rounded at 9 like every portable double here; the N^α
    * normalizer cancels, so n_d^α suffices), and an integer token
    * budget per domain with the EXACT-TOTAL contract
    *
    *   Σ budgets == min(totalBudget, Σ n_d),  budget_d ≤ n_d,
    *
    * via capped largest-remainder apportionment (water-filling): any
    * domain whose proportional quota meets its capacity is pinned at
    * n_d and its overflow re-divides among the rest (α < 1 boosts
    * small domains, possibly past what they hold); the final floor
    * remainder goes +1 each to the domains with the largest quota
    * remainders (tie-break: remainder desc, then domain key asc — the
    * domain's string rendering, identically ordered by both engines).
    * A caller asking for 270B tokens gets exactly 270B whenever the
    * corpus holds them. α = 1 reproduces proportional sampling;
    * α → 0 flattens toward uniform-per-domain. Output one row per
    * domain `(domainCol, domain_tokens, mix_weight, budget)`.
    *
    * Exactness: past the 9-rounded weights everything is INTEGER
    * arithmetic — quotas are floor((R·W_d)/ΣW) with W_d = w_d·10⁹ as
    * exact integers, so the SQL replay (128-bit ints; |R·W| < 10³⁸
    * holds to ~10¹²-token budgets against ~10²²-scaled weights)
    * matches bit-for-bit with no iterated-double hazard. Scale: one
    * map-side-combined aggregation over corpus tokens, then the
    * apportionment runs on DOMAIN-BOUNDED driver metadata (the
    * [[mixByTemperature]] collect discipline — EAGER at call time);
    * the loop pins ≥1 domain per pass, so ≤ nDomains passes. */
  def temperatureBudgets(df: DataFrame, domainCol: String,
                         textCol: String, alpha: Double,
                         totalBudget: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"temperature alpha must be in (0, 1]: $alpha")
    require(totalBudget >= 0, s"totalBudget must be >= 0: $totalBudget")
    val perDomain = df.groupBy(col(domainCol))
      .agg(sum(Text.tokenCountWs(col(textCol)).cast("long"))
        .as("domain_tokens"))
      .withColumn("mix_weight", graft.functions.Exact.roundAt(
        exp(lit(alpha) * log(col("domain_tokens").cast("double"))), 9))
    val rows = perDomain.collect()
    rows.foreach(r => require(!r.isNullAt(0),
      s"temperatureBudgets: NULL $domainCol — every document must " +
        "carry a domain; filter or fill the null-domain rows upstream"))
    val st = rows.map { r =>
      val w = r.getDouble(2)
      new WfDomain(r, r.get(0).toString, BigInt(r.getLong(1)),
        BigDecimal(math.floor(w * 1e9 + 0.5)).toBigInt)
    }
    val b0 = BigInt(totalBudget) min st.map(_.n).sum
    var done = false
    while (!done) {
      val active = st.filter(!_.fixed)
      val s = active.map(_.w).sum max BigInt(1)
      val r = b0 - st.filter(_.fixed).map(_.b).sum
      val newlyCapped = active.filter(d => (r * d.w) / s >= d.n)
      if (newlyCapped.isEmpty) {
        active.foreach(d => d.b = (r * d.w) / s)
        val extra = (r - active.map(_.b).sum).toInt
        active.sortBy(d => (r * d.w % s, d.key))(
            Ordering.Tuple2(Ordering[BigInt].reverse, Ordering[String]))
          .take(extra).foreach(d => d.b += 1)
        done = true
      } else newlyCapped.foreach { d => d.fixed = true; d.b = d.n }
    }
    val schema = org.apache.spark.sql.types.StructType(
      perDomain.schema.fields :+ org.apache.spark.sql.types.StructField(
        "budget", org.apache.spark.sql.types.LongType, nullable = false))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(st.map(d =>
        org.apache.spark.sql.Row.fromSeq(d.row.toSeq :+ d.b.toLong)): _*),
      schema)
  }

  /** Temperature-mixed selection: [[temperatureBudgets]] collected as
    * driver metadata (one row per domain — the centroid-collect
    * budget), then the [[mixByBudgetBucketed]] deterministic prefix
    * rule selects each domain's budget-worth of docs in portable-hash
    * order. Domains absent from the budget table (none, by
    * construction) would default to 0. */
  def mixByTemperature(df: DataFrame, domainCol: String, idCol: String,
                       textCol: String, alpha: Double,
                       totalBudget: Long,
                       bucketWidth: Long = 1L << 24): DataFrame = {
    val budgets = temperatureBudgets(df, domainCol, textCol, alpha,
        totalBudget)
      .select(col(domainCol).cast("string"), col("budget"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    mixByBudgetBucketed(df, domainCol, idCol, textCol, budgets,
      defaultBudget = 0L, bucketWidth = bucketWidth)
  }

  /** [[mixByBudget]] for the FEW-GIANT-DOMAINS regime — the actual
    * mixing shape ("web" is most of the corpus). The plain variant
    * prefix-sums each domain in ONE window partition; this one adds a
    * HASH-BUCKET level (the [[Relational.forwardFillBucketed]] trick,
    * bucketed on the `portableMix` order value so buckets are
    * contiguous runs of the domain's hash order):
    *
    *  1. per (domain, bucket) token totals — one aggregation;
    *  2. each bucket's carry-in = Σ totals of preceding buckets — a
    *     window over the carry table, one row per (domain, bucket),
    *     orders of magnitude smaller than the data (the only
    *     per-domain serial step, and it is tiny);
    *  3. the within-bucket prefix sum windows over (domain, bucket) —
    *     bounded partitions — offset by the carry-in.
    *
    * Exactly equal to [[mixByBudget]] (spec-asserted). `bucketWidth`
    * partitions the mix range [0, 1e9+7); the default gives ~60
    * buckets per domain. */
  def mixByBudgetBucketed(df: DataFrame, domainCol: String, idCol: String,
                          textCol: String, budgets: Seq[(String, Long)],
                          defaultBudget: Long = 0L,
                          bucketWidth: Long = 1L << 24): DataFrame = {
    val budget = mixBudgetCol(domainCol, budgets, defaultBudget)
    val base = df
      .withColumn("__m", Text.portableMix(col(idCol)))
      .withColumn("__bucket", floor(col("__m") / bucketWidth).cast("long"))
      .withColumn("n_tokens", Text.tokenCountWs(col(textCol)).cast("long"))
    val wCarry = Window.partitionBy(domainCol).orderBy("__bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryIn = base.groupBy(col(domainCol), col("__bucket"))
      .agg(sum(col("n_tokens")).as("__btok"))
      .withColumn("__carry",
        coalesce(sum(col("__btok")).over(wCarry), lit(0L)))
      .select(col(domainCol), col("__bucket"), col("__carry"))
    val wIn = Window.partitionBy(col(domainCol), col("__bucket"))
      .orderBy(col("__m"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // null-safe join keys: a NULL domain (or NULL id → NULL bucket)
    // groups with itself in the window plan, so the carry join must
    // match it too — plain equality would silently drop those rows
    // and break the documented equality with mixByBudget
    val c = carryIn
      .withColumnRenamed(domainCol, "__cd")
      .withColumnRenamed("__bucket", "__cb")
    // the carry table is domains × buckets rows — tiny by
    // construction; pin the broadcast rather than trusting AQE's
    // runtime size estimate of a windowed aggregate
    base.join(broadcast(c), col(domainCol) <=> col("__cd") &&
        col("__bucket") <=> col("__cb"))
      .withColumn("cum_before",
        col("__carry") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col(idCol), col(domainCol), col("n_tokens"), col("cum_before"))
  }

  /** Token-budget sequence packing: shard the corpus by hash of the
    * id, order each shard by id, and cut it into bins where each bin
    * starts at the first doc whose running token offset crosses a
    * `budget` boundary (bin = starting-offset div budget). Emits the
    * shard, the doc's token count, its offset within the shard, and
    * its bin — the COMPOSITE (shard, bin_id) pair is the
    * training-batch key (bin_id restarts at 0 in every shard; a
    * single flat id, when needed, is `shard * ceil(maxOffset/budget)
    * + bin_id`, but downstream grouping should just key on both
    * columns and avoid the overflow math).
    *
    * Scale: one window shuffle on the shard key; shards are
    * independent, so the window stage runs `shards`-wide. The
    * overload without `shards` defaults it to the cluster's
    * `defaultParallelism` so the packing stage always scales with
    * the cluster instead of a hard-coded constant. The running
    * sum is integer arithmetic — exact and order-stable. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Int): DataFrame =
    packSequences(df, idCol, textCol, budget,
      df.sparkSession.sparkContext.defaultParallelism)

  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Int, shards: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(idCol)
    df.select(col(idCol), col(textCol))
      .withColumn("shard", col(idCol) % shards)
      .withColumn("n_tokens", Text.tokenCountWs(col(textCol)).cast("long"))
      .withColumn("tok_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_id", (col("tok_offset") / budget).cast("long"))
      .select(idCol, "shard", "n_tokens", "tok_offset", "bin_id")
  }

  /** CCNet-style perplexity proxy: each doc's mean unigram negative
    * log-likelihood under the corpus's OWN unigram language model —
    * nll(d) = −(1/|d|) Σ_t tf_t(d) · ln(freq(t)/total). High nll =
    * rare/unusual token mix; the standard cheap stand-in for an LM
    * perplexity filter when ranking/cleaning training data.
    *
    * Scale: the freq table is vocab-bounded (broadcast here; a
    * web-scale vocab would drop the hint and let the token-key hash
    * join shuffle), total is a broadcast 1-row aggregate, and the
    * per-doc sum runs over (doc, token) rows — corpus tokens collapse
    * map-side in the tf aggregation first. The ln-term sum uses
    * [[graft.functions.Exact.sumExact]] (128-bit exact over
    * 9-decimal-rounded terms) so the double is association-order
    * independent and bit-identical in the DuckDB oracle. */
  def unigramLogProb(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(Text.tokens(col(textCol))).as("token"))
    val tf = toks.groupBy(idCol, "token").agg(count(lit(1L)).as("tf"))
    val freq = toks.groupBy("token").agg(count(lit(1L)).as("freq"))
    val total = toks.agg(count(lit(1L)).cast("double").as("total"))
    val term = col("tf").cast("double") *
      log(col("freq").cast("double") / col("total"))
    tf.join(broadcast(freq), "token")
      .crossJoin(broadcast(total))
      .groupBy(idCol)
      .agg(graft.functions.Exact.sumExact(term, 9).as("__s"),
        sum(col("tf")).as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        graft.functions.Exact.roundAt(
          -col("__s") / col("n_tokens").cast("double"), 4).as("nll"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every RAW
    * document by how much likelier its tokens are under the TARGET
    * distribution than under the raw one —
    *   log w(x) = Σ_{t∈x} [ln p̂_tgt(t) − ln p̂_raw(t)]
    * with add-α smoothing over the UNION vocabulary (so tokens unseen
    * on either side stay finite). logw > 0 reads "more target-like
    * than raw-like"; selecting the top-n by logw is the standard
    * recipe for skimming a web-scale crawl toward a curated target
    * domain before pre-training. (The published method hashes n-grams
    * into a fixed-width bucket space; over the exact token
    * distribution the estimator is the same log-ratio — hashing is
    * only a vocab-compression device and the exact form is what a
    * DuckDB oracle can replay.)
    *
    * Output: `(idCol, n_tokens, logw)`, one row per raw doc.
    *
    * Exactness: each per-token log-ratio is two `ln` calls and a
    * subtract (bit-identical across engines), the per-doc fold is
    * tf·llr summed as DECIMAL(30,9) — order-independent, hash-exact
    * vs the SQL replay. Scale: both unigram tables are vocab-bounded
    * aggregates with map-side combine; the ratio table broadcasts
    * (drop the hint for a web-scale vocab and the token join
    * shuffles); the only per-doc work is the doc's own tf rows — one
    * pass over corpus tokens, no all-pairs anything. */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, alpha: Double = 0.5): DataFrame = {
    val tgtCnt = target
      .select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1L)).as("cnt"))
    val rawCnt = raw
      .select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1L)).as("cnt"))
    // scored docs ⊆ raw, so every token is in-vocabulary and the
    // generic scorer's out-of-vocab fallback never fires
    dsirScoreAgainst(raw, idCol, textCol, rawCnt, tgtCnt, alpha)
  }

  /** [[dsirWeights]]'s scoring half, decoupled from WHERE the two
    * unigram distributions come from — the INGEST-TIME form: score a
    * NEW batch against the corpus-so-far's MAINTAINED word counts
    * (`IncrementalViews.refreshWordFreq`'s Z-set view — zero corpus
    * rescans as it churns) and a pinned curated target, O(batch
    * tokens + vocab) per shard. `rawCounts`/`targetCounts` are
    * `(token, cnt)` frames; the smoothed vocabulary is their UNION,
    * and a batch token unseen on BOTH sides scores the constant
    * out-of-vocab log-ratio ln(α/(N_t+αV)) − ln(α/(N_r+αV)) with V
    * unchanged (the batch must not perturb the reference
    * distributions it is being judged against). */
  def dsirScoreAgainst(batch: DataFrame, idCol: String, textCol: String,
                       rawCounts: DataFrame, targetCounts: DataFrame,
                       alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"smoothing alpha must be positive: $alpha")
    val rc = rawCounts.select(col("token"),
      col("cnt").cast("long").as("rc"))
    val tc = targetCounts.select(col("token"),
      col("cnt").cast("long").as("tc"))
    val vocab = rc.join(tc, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("rc"), lit(0L)).as("rc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
    val tot = vocab.agg(
      sum(col("rc")).cast("double").as("__rn"),
      sum(col("tc")).cast("double").as("__tn"),
      count(lit(1L)).cast("double").as("__v"))
    val llr = vocab.crossJoin(broadcast(tot)).select(col("token"),
      (log((col("tc").cast("double") + alpha) /
          (col("__tn") + lit(alpha) * col("__v"))) -
        log((col("rc").cast("double") + alpha) /
          (col("__rn") + lit(alpha) * col("__v")))).as("__llr"))
    val tf = batch
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1L)).as("tf"))
    val oov =
      log(lit(alpha) / (col("__tn") + lit(alpha) * col("__v"))) -
        log(lit(alpha) / (col("__rn") + lit(alpha) * col("__v")))
    tf.join(broadcast(llr), Seq("token"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(idCol)
      .agg(
        graft.functions.Exact.sumExact(
          col("tf").cast("double") * coalesce(col("__llr"), oov), 9)
          .as("__s"),
        sum(col("tf")).as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        graft.functions.Exact.roundAt(col("__s"), 4).as("logw"))
  }

  /** Top-`n` most target-like raw documents by [[dsirWeights]] —
    * deterministic heavy-side selection (rank by logw desc, id asc;
    * the TakeOrdered plan, no full sort). The DSIR paper's
    * Gumbel-resampling variant adds per-doc noise before the top-n;
    * the deterministic form is the reproducible-pipeline default. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, n: Int,
                 alpha: Double = 0.5): DataFrame = {
    require(n >= 1, s"n must be positive: $n")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("logw").desc, col(idCol))
    dsirWeights(raw, target, idCol, textCol, alpha)
      .orderBy(col("logw").desc, col(idCol)).limit(n)
      .withColumn("rnk", row_number().over(w).cast("long"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    * every doc by its per-token cross-entropy under a smoothed
    * unigram REFERENCE LM (the curated corpus a crawl should
    * resemble), then cut the corpus into `nBins` equi-depth buckets —
    * bin 0 is the most reference-like ("head"), the highest bin the
    * least ("tail"); CCNet trains on head+middle and drops or
    * down-weights tail. nll(x) = −Σ_t tf·ln p̂_ref(t) / n_tokens with
    * add-α smoothing over the REFERENCE vocabulary; a doc token the
    * reference never saw scores the constant ln(α/(N+αV)) — the
    * scored corpus must not perturb the reference distribution.
    *
    * Output: `(idCol, n_tokens, nll, bin)`. Exactness: the same
    * sumExact-decimal fold + floor-formula rounding as
    * [[unigramLogProb]], and the bin cuts are driver-side exact
    * `percentile` interpolation over the rounded nll —
    * [[Relational.quantileBin]]'s oracle-green recipe. Scale: the
    * reference LM is vocab-bounded and broadcast; the cut computation
    * is one percentile aggregate; everything else is the doc's own tf
    * rows. */
  def perplexityBuckets(df: DataFrame, reference: DataFrame,
                        idCol: String, textCol: String, nBins: Int = 3,
                        alpha: Double = 0.5): DataFrame =
    Relational.quantileBin(
      perplexityScoreAgainst(df, idCol, textCol,
        reference
          .select(explode(Text.tokens(col(textCol))).as("token"))
          .groupBy("token").agg(count(lit(1L)).as("cnt")),
        alpha),
      "nll", nBins)

  /** Okapi BM25 scores of every document containing at least one of
    * `queryTerms` — the retrieval-ranking step next to [[tfIdf]]:
    * score(d) = Σ_t ln(1 + (N−df+0.5)/(df+0.5)) ·
    * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Scale: tokens are FILTERED to the query terms before any
    * aggregation, so the (doc, term) table is |matching docs|·|Q|
    * rows, not corpus tokens; per-term doc frequencies come from that
    * same table (≤|Q| rows, broadcast); N/avgdl is a broadcast 1-row
    * aggregate; the only per-doc shuffle joins tf with doc length on
    * the doc id. The per-doc term sum is a FIXED-ORDER fold over |Q|
    * pivoted columns (not a float `sum`), so the score is
    * association-order independent — bit-identical in the DuckDB
    * oracle like the rest of graft.functions.Exact. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    val dl = df.select(col(idCol),
      size(Text.tokens(col(textCol))).as("__dl"))
    val stats = dl.agg(
      count(lit(1L)).cast("double").as("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1L))).as("__avgdl"))
    val tf = df
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("token"))
      .filter(col("token").isin(queryTerms: _*))
      .groupBy(idCol, "token")
      .agg(count(lit(1L)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1L)).as("df"))
    val termScore =
      log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)) *
        ((col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl"))))
    val scored = tf
      .join(broadcast(dfreq), "token")
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("token"), termScore.as("__ts"))
    // fixed-order fold over the |Q| pivoted term columns
    val total = queryTerms
      .map(t => coalesce(max(when(col("token") === t, col("__ts"))), lit(0.0)))
      .reduce(_ + _)
    scored.groupBy(idCol)
      .agg(graft.functions.Exact.roundAt(total, 4).as("bm25"))
  }

  /** Sharded training-data EXPORT with a verifiable manifest — the
    * pipeline's last mile: the corpus is packed ([[packSequences]]
    * layout, text carried along), committed to a snapshot table with
    * per-file `shard` stats (a trainer reading one shard opens only
    * that shard's files via `Snapshots.readPrunedBy`), and described
    * by a returned MANIFEST: per shard, the doc count, token total,
    * and an order-independent content signature (sum of per-row
    * portable hashes mod 1e6+3 — engine-portable, overflow-safe to
    * ~10¹² rows, and any dropped/duplicated/altered row moves it).
    * Re-exporting the same data yields a byte-identical manifest —
    * the cheap integrity check between the data producer and the
    * training job; the snapshot commit gives atomic publish +
    * versioned history (yesterday's export stays readable).
    *
    * Scale: the pack window hash-partitions on the shard key and the
    * write inherits that partitioning (files hold whole shards, so
    * the shard stats prune tightly); the manifest is one further
    * aggregation over the committed table. */
  def exportShards(df: DataFrame, idCol: String, textCol: String,
                   outDir: String, budget: Int, shards: Int): DataFrame = {
    import graft.sources.Snapshots
    val w = Window.partitionBy("shard").orderBy(idCol)
    val packed = df.select(col(idCol), col(textCol))
      .withColumn("shard", col(idCol) % shards)
      .withColumn("n_tokens", Text.tokenCountWs(col(textCol)).cast("long"))
      .withColumn("tok_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_id", (col("tok_offset") / budget).cast("long"))
    // each export is a self-contained VERSION (overwrite, not append):
    // the new export replaces the readable head while every previous
    // export stays time-travelable
    Snapshots.commit(packed, outDir, overwrite = true,
      statsCol = Some("shard"))
    // manifest from the DURABLE table, so it describes what a trainer
    // will actually read, not the pre-write plan
    val stored = Snapshots.read(df.sparkSession, outDir)
    stored.groupBy("shard").agg(
      count(lit(1L)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      // concat (NOT concat_ws): a NULL text must make the row's hash
      // NULL on BOTH engines (the oracle's `||` propagates NULL;
      // concat_ws would silently skip the NULL and diverge)
      sum(Text.portableHash(
        concat(col(idCol).cast("string"), lit(":"), col(textCol))) % 1000003)
        .as("content_sig"))
  }

  /** One greedy BPE merge applied to a symbol array — the classic
    * left-to-right fold: when the running result ends in `a` and the
    * next symbol is `b`, replace the tail with `a+b` (so "aaa" under
    * (a,a) becomes [aa, a], the standard non-overlapping greedy). A
    * pure higher-order-function expression — no UDF. */
  private def applyMerge(sym: Column, a: String, b: String): Column =
    aggregate(sym, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Byte-pair-encoding vocabulary TRAINER — the subword-tokenizer
    * construction step of an LLM data pipeline (Sennrich et al. 2016),
    * distributed Spark-first:
    *
    * The corpus is read ONCE, into the distinct-word frequency table;
    * every merge iteration then runs on that table alone — one tiny
    * adjacent-pair aggregation (rows = live vocabulary, never corpus
    * rows) + one fold projection applying the chosen merge — so
    * training cost is O(numMerges × vocab), independent of corpus
    * size. The winning pair per round is the max total frequency with
    * a deterministic (count desc, left, right) tie-break, making the
    * learned merge list reproducible across runs and partitionings.
    * Lineage is truncated per round (`localCheckpoint`) so iteration N
    * does not re-evaluate N stacked folds.
    *
    * Returns the ordered merge list `(rank, left, right)` — bounded
    * driver metadata like the IVF centroids. Stops early when no
    * adjacent pair remains. */
  def bpeTrain(df: DataFrame, textCol: String,
               numMerges: Int): Seq[(Int, String, String)] = {
    val freqs = df
      .select(explode(Text.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1L)).as("freq"))
    bpeTrainFromFreq(freqs, "w", "freq", numMerges)
  }

  /** [[bpeTrain]]'s merge loop over an ALREADY-BUILT distinct-word
    * frequency table — the training substrate factored out so a
    * maintained word-frequency VIEW
    * ([[graft.sources.IncrementalViews.refreshWordFreq]]) can retrain
    * the tokenizer under corpus churn with ZERO corpus rescans: the
    * view folds the churn, this loop costs O(numMerges × vocab) on
    * the current table. Identical merges to [[bpeTrain]] by
    * construction (same loop; spec-asserted across churn). Words of
    * length 0 and non-positive frequencies (a Z-set view's dead keys)
    * are ignored. */
  def bpeTrainFromFreq(freqs: DataFrame, wordCol: String, freqCol: String,
                       numMerges: Int): Seq[(Int, String, String)] = {
    var words = freqs
      .filter(length(col(wordCol)) > 0 && col(freqCol) > 0)
      .select(split(col(wordCol), "").as("sym"),
        col(freqCol).cast("long").as("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.Buffer[(Int, String, String)]()
    var r = 0
    var done = false
    while (r < numMerges && !done) {
      val best = words
        .select(col("freq"), explode(zip_with(
          slice(col("sym"), lit(1), size(col("sym")) - 1),
          slice(col("sym"), lit(2), size(col("sym")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect().headOption
      best match {
        case None => done = true
        case Some(row) =>
          val (l, rr) = (row.getString(0), row.getString(1))
          merges += ((r, l, rr))
          val next = words
            .withColumn("sym", applyMerge(col("sym"), l, rr))
            .localCheckpoint(true)
          words.unpersist()
          words = next
          r += 1
      }
    }
    words.unpersist()
    merges.toSeq
  }

  /** Apply a learned merge list to a corpus: one projection pass —
    * each word occurrence exploded with its position, then the merges
    * folded in rank order as chained HOF expressions. Emits
    * `(id, word_pos, word, pieces)`; concatenating `pieces`
    * reconstructs `word` exactly (spec-asserted).
    *
    * Scale: shuffle-free. The plan nests one fold per merge, which is
    * fine for the hundreds-of-merges regime; a production encoder
    * with a 50k-merge vocabulary would instead broadcast the merge
    * ranks and apply them per partition imperatively (the documented
    * `mapPartitions` last resort) — the TRAINING side above is the
    * distributed piece that matters. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(Int, String, String)]): DataFrame = {
    val tok = df
      .select(col(idCol), posexplode(Text.tokens(col(textCol))))
      .withColumnRenamed("pos", "word_pos")
      .withColumnRenamed("col", "word")
      .filter(length(col("word")) > 0)
    val init = tok.withColumn("pieces", split(col("word"), ""))
    merges.sortBy(_._1).foldLeft(init) { case (d, (_, a, b)) =>
      d.withColumn("pieces", applyMerge(col("pieces"), a, b))
    }
  }

  /** CORPUS PROFILE — the "dataset card" numbers every training-data
    * release ships, as one tidy `(metric, value)` table: document and
    * token totals, vocabulary size, exact-duplicate count, mean doc
    * length, mean quality score, and per-language document counts
    * (`lang_docs_<code>` rows). One pass computes the doc-level
    * metrics (the per-doc projection reuses the oracled langid /
    * quality / token-count formulas, so every value is
    * engine-portable); the vocabulary count is the one extra
    * token-level distinct aggregation. The two 1-row aggregates
    * splice together as a broadcast constant (the scalar-subquery
    * shape), never a data join.
    *
    * `dupKeyFingerprint = true` keys the exact-duplicate count by
    * [[graft.functions.Text.fingerprint]] instead of the raw text —
    * the 100 TB mode: the distinct-count shuffle then carries one
    * int64 per doc instead of the full document body. Counts are
    * equal absent a fingerprint collision (spec-asserted on the test
    * corpus). */
  /** The shared log-log least-squares fit behind [[zipfFit]] and
    * [[heapsFit]]: given `(x, y)` columns (already ln-transformed),
    * one aggregation computes the five moment sums as 9-decimal exact
    * decimals (order-independent — the corrExact discipline) and the
    * closed forms
    *   slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²),
    *   intercept = (Σy − slope·Σx)/n,  r² = corr²(x, y). */
  private def logLogFit(pts: DataFrame, extra: Seq[Column]): DataFrame = {
    val n = count(lit(1L)).cast("double")
    val sx = graft.functions.Exact.sumExact(col("__x"), 9)
    val sy = graft.functions.Exact.sumExact(col("__y"), 9)
    val sxy = graft.functions.Exact.sumExact(col("__x") * col("__y"), 9)
    val sxx = graft.functions.Exact.sumExact(col("__x") * col("__x"), 9)
    val syy = graft.functions.Exact.sumExact(col("__y") * col("__y"), 9)
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val slope = num / den
    val r2 = (num * num) / (den * (n * syy - sy * sy))
    val cols = extra ++ Seq(
      graft.functions.Exact.roundAt(slope, 4).as("slope"),
      graft.functions.Exact.roundAt(
        (sy - slope * sx) / n, 4).as("intercept"),
      graft.functions.Exact.roundAt(r2, 4).as("r2"))
    pts.agg(cols.head, cols.tail: _*)
  }

  /** ZIPF rank-frequency fit — the dataset-card scaling law: rank the
    * vocabulary by frequency (ties to the lexicographically smaller
    * token) and least-squares-fit ln(freq) on ln(rank); natural text
    * sits near slope −1, and a corpus whose slope drifts far from it
    * (template spam → shallower head, boilerplate dedup artifacts →
    * cliff) fails the eyeball test this makes quantitative. Output
    * one row `(n_types, n_tokens, slope, intercept, r2)`.
    *
    * Scale: everything after the token count is VOCAB-bounded — the
    * global rank window runs over |vocab| rows (single task by
    * design, same budget as every other vocab-bounded collect here);
    * exactness: ln is bit-identical across engines, the five moment
    * sums fold as 9-decimal exact decimals, the closed forms are
    * pure IEEE — hash-exact vs the SQL replay. */
  def zipfFit(df: DataFrame, textCol: String): DataFrame =
    zipfFitFromCounts(df
      .select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1L)).as("cnt")))

  /** [[zipfFit]]'s fitting half over any `(token, cnt)` frame — the
    * MAINTAINED form: point it at the live word-frequency view
    * (`IncrementalViews.refreshWordFreq`'s Z-set counts) and the card
    * statistic re-fits on vocab-bounded state with ZERO corpus
    * rescans as the corpus churns.
    *
    * Ranking is the [[heapsFit]] two-level prefix, never one global
    * window task (a web-scale vocabulary has 10⁸–10⁹ types): rank =
    * (tokens in HIGHER freq classes — a carry window over the tiny
    * distinct-freq table) + (same-freq tokens in lower hash
    * sub-buckets — per-(freq, sub) counts) + a row_number bounded to
    * one (freq, sub) cell, so no task ever sorts more than
    * ~|vocab|/buckets rows even in the giant freq=1 class. The fit
    * is INVARIANT to which same-freq token gets which rank (equal
    * freq ⇒ equal __y, and a tie block always occupies the same rank
    * RANGE), so hash-bucketed tie assignment reproduces the global
    * (freq desc, token) window's moments bit-exactly — oracle hashes
    * unchanged. */
  def zipfFitFromCounts(counts: DataFrame,
                        buckets: Int = 1024): DataFrame = {
    require(buckets >= 1, s"buckets must be positive: $buckets")
    // vocab-bounded rows referenced three times below (cell sizes,
    // class carry, the rank join) — persisted so a from-text caller
    // tokenizes the corpus ONCE, not once per reference
    val freq = zipfFreqWithSub(counts, buckets).persist()
    val fit = zipfFitOverFreq(freq)
    // one row out — materialize so the vocab-bounded persist releases
    // here instead of leaking past the operator
    try {
      val spark = counts.sparkSession
      spark.createDataFrame(
        java.util.Arrays.asList(fit.collect(): _*), fit.schema)
    } finally freq.unpersist()
  }

  /** The LAZY fitting plan — package-private so specs can assert the
    * bucketed two-level rank's plan shape (the public operator
    * materializes its one-row result to scope the vocab-bounded
    * persist, which hides the plan behind a local scan). Identical
    * arithmetic to [[zipfFitFromCounts]], minus the persist. */
  private[graft] def zipfFitPlanFromCounts(counts: DataFrame,
                                           buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be positive: $buckets")
    zipfFitOverFreq(zipfFreqWithSub(counts, buckets))
  }

  private def zipfFreqWithSub(counts: DataFrame, buckets: Int): DataFrame =
    counts.select(col("token"),
      col("cnt").cast("long").as("freq"))
      .withColumn("__sub", pmod(xxhash64(col("token")),
        lit(buckets.toLong)))

  private def zipfFitOverFreq(freq: DataFrame): DataFrame = {
    val cellSizes = freq.groupBy(col("freq"), col("__sub"))
      .agg(count(lit(1L)).as("__bn"))
    // same-freq carry: tokens of this freq in LOWER sub-buckets —
    // a keyed window over the ≤buckets-rows-per-freq cell table
    val wSub = org.apache.spark.sql.expressions.Window
      .partitionBy("freq").orderBy("__sub")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val subCarry = cellSizes.select(col("freq"), col("__sub"),
      coalesce(sum(col("__bn")).over(wSub), lit(0L)).as("__cs"))
    // cross-class carry: tokens in strictly HIGHER freq classes — the
    // partition-less window runs over the TINY distinct-freq table
    // (the heapsFit bucket-table discipline), never the vocabulary
    val wF = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val fCarry = cellSizes.groupBy("freq")
      .agg(sum(col("__bn")).as("__fn"))
      .select(col("freq"),
        coalesce(sum(col("__fn")).over(wF), lit(0L)).as("__cf"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("freq", "__sub").orderBy("token")
    val pts = freq
      .join(subCarry, Seq("freq", "__sub"))
      .join(broadcast(fCarry), Seq("freq"))
      .withColumn("__r",
        col("__cf") + col("__cs") + row_number().over(wIn))
      .select(col("freq"),
        log(col("__r").cast("double")).as("__x"),
        log(col("freq").cast("double")).as("__y"))
    logLogFit(pts, Seq(
      count(lit(1L)).as("n_types"),
      sum(col("freq")).as("n_tokens")))
      .select(col("n_types"), col("n_tokens"),
        col("slope"), col("intercept"), col("r2"))
  }

  /** VOCABULARY DIVERGENCE — the corpus-drift gauge between two
    * unigram distributions (dataset-card pairings: this crawl vs the
    * last one, a candidate shard vs the standing corpus, one domain
    * vs another): add-α smoothed over the UNION vocabulary (the
    * [[dsirScoreAgainst]] discipline — a token absent from one side
    * still carries smoothed mass, so KL never divides by zero and
    * neither input perturbs the other), emitting one row
    * `(n_types, kl_pq, kl_qp, js)`:
    *   p_i = (pc_i+α)/(N_p+αV),  KL(P‖Q) = Σ p_i·(ln p_i − ln q_i),
    *   JS = ½KL(P‖M) + ½KL(Q‖M) with m_i = (p_i+q_i)/2 —
    * JS is symmetric, bounded by ln 2, and the usual "did the crawl
    * move" scalar; the two KLs tell WHICH side carries novel mass.
    *
    * Exactness: every term is ln/±/× on doubles (bit-portable) summed
    * as 9-decimal exact decimals — hash-exact vs the SQL replay.
    * Scale: both inputs are vocab-bounded `(token, cnt)` aggregates
    * (point the P side at the maintained word-frequency view and this
    * is the INGEST-TIME drift gauge — zero corpus rescans as the
    * standing corpus churns); one full-outer hash join + one
    * aggregation; only the 1-row totals broadcast. */
  def vocabDivergence(pCounts: DataFrame, qCounts: DataFrame,
                      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"smoothing alpha must be positive: $alpha")
    val pc = pCounts.select(col("token"), col("cnt").cast("long").as("pc"))
    val qc = qCounts.select(col("token"), col("cnt").cast("long").as("qc"))
    // union-vocab rows feed the totals agg AND the term pass —
    // persisted (vocab-bounded) so a from-text caller tokenizes each
    // corpus once, not twice
    val vocab = pc.join(qc, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("pc"), lit(0L)).as("pc"),
        coalesce(col("qc"), lit(0L)).as("qc"))
      .persist()
    try {
      val tot = vocab.agg(
        sum(col("pc")).cast("double").as("__np"),
        sum(col("qc")).cast("double").as("__nq"),
        count(lit(1L)).cast("double").as("__v"))
      val p = (col("pc").cast("double") + lit(alpha)) /
        (col("__np") + lit(alpha) * col("__v"))
      val q = (col("qc").cast("double") + lit(alpha)) /
        (col("__nq") + lit(alpha) * col("__v"))
      val m = (p + q) / lit(2.0)
      val out = vocab.crossJoin(broadcast(tot))
        .select(
          (p * (log(p) - log(q))).as("__pq"),
          (q * (log(q) - log(p))).as("__qp"),
          (p * (log(p) - log(m)) / lit(2.0) +
            q * (log(q) - log(m)) / lit(2.0)).as("__js"))
        .agg(
          count(lit(1L)).as("n_types"),
          graft.functions.Exact.roundAt(
            graft.functions.Exact.sumExact(col("__pq"), 9), 6).as("kl_pq"),
          graft.functions.Exact.roundAt(
            graft.functions.Exact.sumExact(col("__qp"), 9), 6).as("kl_qp"),
          graft.functions.Exact.roundAt(
            graft.functions.Exact.sumExact(col("__js"), 9), 6).as("js"))
      // one row out — materialize so the persist releases here
      val spark = pCounts.sparkSession
      spark.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally vocab.unpersist()
  }

  /** [[vocabDivergence]] straight from two text corpora — counts both
    * sides in one pass each. */
  def vocabDivergenceOf(pDocs: DataFrame, qDocs: DataFrame,
                        textCol: String,
                        alpha: Double = 0.5): DataFrame = {
    def cnts(df: DataFrame) = df
      .select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1L)).as("cnt"))
    vocabDivergence(cnts(pDocs), cnts(qDocs), alpha)
  }

  /** Distinct-domain cap of [[vocabDivergenceBy]]. */
  private[graft] val MaxDivergenceDomains = 4096

  /** PER-DOMAIN [[vocabDivergence]] — which DOMAIN is drifting, not
    * just whether the corpus moved (pairs with [[temperatureBudgets]]
    * re-weighting: the domain whose JS against the reference jumped is
    * the one to down-weight or re-crawl). P side: per-domain counts
    * `(domainCol, token, cnt)`; Q side: ONE reference count frame
    * `(token, cnt)` — the standing corpus, the previous crawl, or a
    * maintained word-frequency view (the ingest-time form: zero corpus
    * rescans as the standing side churns). One row per domain
    * `(domainCol, n_types, kl_pq, kl_qp, js)`; each domain smooths
    * over ITS OWN domain∪reference union vocabulary, so every row
    * equals [[vocabDivergence]] run on that domain alone
    * (spec-asserted). A NULL domain fails by name at scan time — null
    * keys would silently split from their reference rows in the keyed
    * full-outer join instead of unioning.
    *
    * Scale: ONE keyed full-outer hash join + one keyed aggregation,
    * no per-domain driver loop. The reference counts replicate once
    * per distinct domain (vocab × nDomains rows — domains are bounded
    * in the mixing regime, and more than [[MaxDivergenceDomains]] fail
    * by name); per-domain totals are a domain-bounded aggregate
    * broadcast back into the term pass. */
  def vocabDivergenceBy(pCounts: DataFrame, domainCol: String,
                        qCounts: DataFrame,
                        alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"smoothing alpha must be positive: $alpha")
    val dGuard = when(assert_true(col(domainCol).isNotNull,
      lit(s"vocabDivergenceBy: NULL $domainCol — filter or fill the " +
        "null-domain rows upstream")).isNull, col(domainCol))
    val pc = pCounts.select(dGuard.as("__d"), col("token"),
      col("cnt").cast("long").as("pc"))
    val qc = qCounts.select(col("token"), col("cnt").cast("long").as("qc"))
    // replicate the reference counts once per domain by EXPLODING the
    // driver-collected domain list (bounded in the mixing regime —
    // the same collect temperatureBudgets already does): a Generate,
    // not the crossJoin-of-broadcast shape PlanGuardSpec bans as
    // BroadcastNestedLoopJoin. The collect also runs the null-domain
    // guard, so a NULL domain still fails by name before any join.
    val doms = pc.select(col("__d")).distinct()
      .limit(MaxDivergenceDomains + 1).collect().map(_.get(0))
    require(doms.length <= MaxDivergenceDomains,
      s"vocabDivergenceBy: more than $MaxDivergenceDomains distinct " +
        s"$domainCol values — each one becomes a literal in the plan and " +
        "a copy of the reference vocabulary; bucket the domains upstream")
    val dType = pc.schema("__d").dataType
    val qd =
      if (doms.isEmpty)
        qc.withColumn("__d", lit(null).cast(dType)).limit(0)
      else qc.withColumn("__d",
        explode(array(doms.map(d => lit(d).cast(dType)): _*)))
    val vocab = pc.join(qd, Seq("__d", "token"), "full_outer")
      .select(col("__d"),
        coalesce(col("pc"), lit(0L)).as("pc"),
        coalesce(col("qc"), lit(0L)).as("qc"))
    // the keyed union-vocab frame feeds the per-domain totals AND the
    // term pass — persisted ((domains × vocab)-bounded) so each text
    // side tokenizes once
    val vocabP = vocab.persist()
    try {
      val tot = vocabP.groupBy(col("__d")).agg(
        sum(col("pc")).cast("double").as("__np"),
        sum(col("qc")).cast("double").as("__nq"),
        count(lit(1L)).cast("double").as("__v"))
      val p = (col("pc").cast("double") + lit(alpha)) /
        (col("__np") + lit(alpha) * col("__v"))
      val q = (col("qc").cast("double") + lit(alpha)) /
        (col("__nq") + lit(alpha) * col("__v"))
      val m = (p + q) / lit(2.0)
      val out = vocabP.join(broadcast(tot), Seq("__d"))
        .select(col("__d"),
          (p * (log(p) - log(q))).as("__pq"),
          (q * (log(q) - log(p))).as("__qp"),
          (p * (log(p) - log(m)) / lit(2.0) +
            q * (log(q) - log(m)) / lit(2.0)).as("__js"))
        .groupBy(col("__d"))
        .agg(
          count(lit(1L)).as("n_types"),
          graft.functions.Exact.roundAt(
            graft.functions.Exact.sumExact(col("__pq"), 9), 6).as("kl_pq"),
          graft.functions.Exact.roundAt(
            graft.functions.Exact.sumExact(col("__qp"), 9), 6).as("kl_qp"),
          graft.functions.Exact.roundAt(
            graft.functions.Exact.sumExact(col("__js"), 9), 6).as("js"))
        .withColumnRenamed("__d", domainCol)
      // domain-bounded rows out — materialize so the persist releases
      val spark = pCounts.sparkSession
      spark.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally vocabP.unpersist()
  }

  /** [[vocabDivergenceBy]] straight from text: per-domain counts of
    * `pDocs` against the whole of `qDocs` as the reference. */
  def vocabDivergenceByOf(pDocs: DataFrame, domainCol: String,
                          qDocs: DataFrame, textCol: String,
                          alpha: Double = 0.5): DataFrame =
    vocabDivergenceBy(
      pDocs.select(col(domainCol),
          explode(Text.tokens(col(textCol))).as("token"))
        .groupBy(col(domainCol), col("token"))
        .agg(count(lit(1L)).as("cnt")),
      domainCol,
      qDocs.select(explode(Text.tokens(col(textCol))).as("token"))
        .groupBy("token").agg(count(lit(1L)).as("cnt")),
      alpha)

  /** HEAPS vocabulary-growth fit — the card's other scaling law:
    * walk the corpus in `idCol` order, record after every doc the
    * running token total N and running distinct-type count V, and
    * fit ln V on ln N; V ≈ K·N^β with β ≈ 0.4–0.6 for natural text.
    * A β collapsing toward 0 reads "the crawl stopped finding new
    * language"; β near 1 reads "near-random token soup".
    *
    * Scale: per-doc deltas (new-type count, token count) are one
    * grouped pass each; the running sums are the two-level prefix
    * trick ([[mixByBudget]]'s discipline — per-bucket totals, a
    * carry window over the TINY bucket table, bounded within-bucket
    * windows), so no single task ever sees more than one id-bucket.
    * Output `(n_docs, slope, intercept, r2)`. */
  def heapsFit(df: DataFrame, idCol: String, textCol: String,
               buckets: Int = 256): DataFrame = {
    require(buckets >= 1, s"buckets must be positive: $buckets")
    val toks = df.select(col(idCol).as("__id"),
      explode(Text.tokens(col(textCol))).as("token"))
    val newTypes = toks.groupBy("token")
      .agg(min(col("__id")).as("__id"))
      .groupBy("__id").agg(count(lit(1L)).as("__nt"))
    // O(docs) rows, reused by the bounds probe, the bucket totals and
    // the within-bucket walk — persisted so the corpus is tokenized
    // twice (the two grouped passes above), not once per consumer
    val perDoc = toks.groupBy("__id").agg(count(lit(1L)).as("__n"))
      .join(newTypes, Seq("__id"), "left")
      .select(col("__id"), col("__n"),
        coalesce(col("__nt"), lit(0L)).as("__nt"))
      .persist()
    try {
      val bounds = perDoc.agg(min(col("__id")), max(col("__id"))).head()
      require(!bounds.isNullAt(0), "heapsFit needs a non-empty corpus")
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val width = math.max(1L, (hi - lo) / buckets + 1)
      // integral bucket id (floor division — `/` on longs is DOUBLE
      // division in Spark, wrong past 2^53)
      val bucketed = perDoc.withColumn("__b",
        expr(s"(__id - ${lo}L) div ${width}L"))
      val wIn = org.apache.spark.sql.expressions.Window
        .partitionBy("__b").orderBy("__id")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val wCarry = org.apache.spark.sql.expressions.Window
        .orderBy("__b")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      val carry = bucketed.groupBy("__b")
        .agg(sum(col("__n")).as("__bn"), sum(col("__nt")).as("__bnt"))
        .select(col("__b"),
          coalesce(sum(col("__bn")).over(wCarry), lit(0L)).as("__cn"),
          coalesce(sum(col("__bnt")).over(wCarry), lit(0L)).as("__cnt"))
      val pts = bucketed.join(carry, "__b")
        .select(
          (col("__cn") + sum(col("__n")).over(wIn)).as("__N"),
          (col("__cnt") + sum(col("__nt")).over(wIn)).as("__V"))
        .select(log(col("__N").cast("double")).as("__x"),
          log(col("__V").cast("double")).as("__y"))
      val fit = logLogFit(pts, Seq(count(lit(1L)).as("n_docs")))
        .select(col("n_docs"), col("slope"), col("intercept"), col("r2"))
      // one row out — materialize it so the O(docs) persist above can
      // be released HERE instead of leaking past the operator
      val spark = df.sparkSession
      spark.createDataFrame(
        java.util.Arrays.asList(fit.collect(): _*), fit.schema)
    } finally perDoc.unpersist()
  }

  /** [[perplexityBuckets]]' scoring half over any `(token, cnt)`
    * reference-count frame — the INGEST-TIME gate: keep the curated
    * reference corpus's word counts maintained
    * (`IncrementalViews.refreshWordFreq` — the reference can itself
    * churn as curation evolves) and score each incoming shard's
    * per-token cross-entropy against the LIVE counts at O(batch
    * tokens + vocab), zero reference rescans. Output
    * `(idCol, n_tokens, nll)`; bucket cuts are the caller's choice
    * (a shard gate usually compares against thresholds learned from
    * [[perplexityBuckets]] over the standing corpus rather than
    * re-cutting per shard). */
  def perplexityScoreAgainst(batch: DataFrame, idCol: String,
                             textCol: String, refCounts: DataFrame,
                             alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"smoothing alpha must be positive: $alpha")
    val refCnt = refCounts.select(col("token"),
      col("cnt").cast("long").as("rc"))
    val tot = refCnt.agg(
      sum(col("rc")).cast("double").as("__n"),
      count(lit(1L)).cast("double").as("__v"))
    val lp = refCnt.crossJoin(broadcast(tot)).select(col("token"),
      log((col("rc").cast("double") + alpha) /
        (col("__n") + lit(alpha) * col("__v"))).as("__lp"))
    val oov = log(lit(alpha) / (col("__n") + lit(alpha) * col("__v")))
    batch
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1L)).as("tf"))
      .join(broadcast(lp), Seq("token"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(idCol)
      .agg(
        graft.functions.Exact.sumExact(
          col("tf").cast("double") * coalesce(col("__lp"), oov), 9)
          .as("__s"),
        sum(col("tf")).as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        graft.functions.Exact.roundAt(
          -col("__s") / col("n_tokens").cast("double"), 4).as("nll"))
  }

  def corpusProfile(df: DataFrame, idCol: String, textCol: String,
                    dupKeyFingerprint: Boolean = false): DataFrame = {
    val t = col(textCol)
    val dupKey = if (dupKeyFingerprint) Text.fingerprint(t) else t
    val per = df.select(col(idCol), dupKey.as("__text"),
      Text.tokenCountWs(t).cast("long").as("__ntok"),
      graft.functions.Exact.roundAt(Text.qualityScore(t), 4).as("__q"),
      Text.langId(t).as("__lang"))
    val docAgg = per.agg(
      count(lit(1L)).as("__n"),
      sum(col("__ntok")).as("__nt"),
      countDistinct(col("__text")).as("__dtext"),
      graft.functions.Exact.sumExact(col("__q"), 4).as("__sq"))
    val vocabAgg = df
      .select(explode(Text.tokens(t)).as("__token"))
      .agg(countDistinct(col("__token")).as("__vocab"))
    val scalars = docAgg.crossJoin(broadcast(vocabAgg)).select(
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
          graft.functions.Exact.roundAt(
            col("__nt").cast("double") / col("__n").cast("double"), 4)
            .as("value")),
        struct(lit("mean_quality").as("metric"),
          graft.functions.Exact.roundAt(
            col("__sq") / col("__n").cast("double"), 4).as("value")))))
      .select(col("col.metric").as("metric"), col("col.value").as("value"))
    val langs = per.groupBy(col("__lang"))
      .agg(count(lit(1L)).as("__c"))
      .select(concat(lit("lang_docs_"), col("__lang")).as("metric"),
        col("__c").cast("double").as("value"))
    scalars.unionByName(langs)
  }

  /** BIGRAM language-model quality score — the CCNet/Gopher-style
    * perplexity filter one step up from [[unigramLogProb]]: per doc,
    * the mean negative log of the INTERPOLATED bigram probability
    * λ·c(prev,cur)/c(prev·) + (1−λ)·c(cur)/N over every adjacent
    * token transition (c(prev·) is the bigram-context count, so the
    * conditional is a true distribution; the unigram interpolation
    * floors unseen transitions). Docs with fewer than two tokens have
    * no transitions and are absent from the output.
    *
    * Scale: adjacent pairs come straight off the token array (one
    * zip projection, no positional self-join). NO count table here
    * carries a pinned broadcast hint: the DISTINCT-BIGRAM table grows
    * roughly with the corpus, and even the "vocabulary-sized" context
    * and unigram tables (`ctx`, `uni`) are heavy-tailed on raw web
    * text (URLs, numbers, typos push a token vocabulary into the
    * hundreds of millions) — every count join is declared as a plain
    * equi-join and AQE broadcasts whichever side its MEASURED runtime
    * size admits, so a curated corpus still gets the broadcast plan
    * while a web-scale one degrades to shuffle joins instead of a
    * driver OOM. Only the 1-row totals stay pinned broadcasts. The
    * per-doc reduce is one exact-decimal sum, engine-portable like
    * every score here (the DuckDB oracle replays the identical
    * formula text). */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.9): DataFrame = {
    val toks = df.select(col(idCol), Text.tokens(col(textCol)).as("__t"))
    val pairs = toks.select(col(idCol), explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as("p"))
      .select(col(idCol), col("p.prev").as("prev"), col("p.cur").as("cur"))
    val bf = pairs.groupBy(idCol, "prev", "cur").agg(count(lit(1L)).as("bf"))
    val bg = pairs.groupBy("prev", "cur").agg(count(lit(1L)).as("bcount"))
    val ctx = bg.groupBy("prev").agg(sum(col("bcount")).as("ctx"))
    val flat = df.select(explode(Text.tokens(col(textCol))).as("token"))
    val uni = flat.groupBy("token").agg(count(lit(1L)).as("freq"))
    val total = flat.agg(count(lit(1L)).cast("double").as("total"))
    val p = lit(lambda) *
      (col("bcount").cast("double") / col("ctx").cast("double")) +
      lit(1.0 - lambda) * (col("freq").cast("double") / col("total"))
    val term = col("bf").cast("double") * log(p)
    // bg is distinct-bigram-sized (corpus-scale) and ctx/uni are
    // heavy-tailed on web text: no pinned broadcasts — AQE decides
    // from each side's measured size
    bf.join(bg, Seq("prev", "cur"))
      .join(ctx, "prev")
      .join(uni, col("cur") === col("token"))
      .crossJoin(broadcast(total))
      .groupBy(idCol)
      .agg(graft.functions.Exact.sumExact(term, 9).as("__s"),
        sum(col("bf")).as("n_bigrams"))
      .select(col(idCol), col("n_bigrams"),
        graft.functions.Exact.roundAt(
          -col("__s") / col("n_bigrams").cast("double"), 4).as("nll"))
  }

  /** WINDOWED CO-OCCURRENCE counts + PMI — the statistic embedding
    * training prep (GloVe co-occurrence matrices, word2vec negative
    * sampling tables, collocation mining) is built on: for every
    * ordered token pair (t[i], t[i+d]) with 1 ≤ d ≤ `window`, the
    * corpus-wide count and the pointwise mutual information
    * ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) over the pair space and
    * p(·) over the token space.
    *
    * Scale: pairs come straight off the token array (one
    * flatten(transform(zip_with)) projection per distance — NO
    * positional self-join), the pair aggregation is one map-side
    * combined groupBy, and the unigram joins carry NO pinned
    * broadcast hint (a raw-web token vocabulary is heavy-tailed into
    * the hundreds of millions; AQE broadcasts from the measured size
    * when it is genuinely small — the [[bigramLogProb]] discipline).
    * The two 1-row totals splice as broadcast constants. `minCount`
    * prunes the long tail before the PMI join — the standard GloVe
    * move that bounds output size. */
  /** The windowed ordered-pair rows (a, b) — shared by the count-only
    * and PMI paths. */
  private def cooccurrencePairs(df: DataFrame, textCol: String,
                                window: Int): DataFrame = {
    require(window >= 1, "window must be at least 1")
    val toks = df.select(Text.tokens(col(textCol)).as("__t"))
    toks.select(explode(flatten(
        transform(sequence(lit(1), lit(window)), d =>
          zip_with(
            slice(col("__t"), lit(1), greatest(size(col("__t")) - d, lit(0))),
            slice(col("__t"), d + lit(1),
              greatest(size(col("__t")) - d, lit(0))),
            (x, y) => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
  }

  /** The windowed ordered-pair counts alone — [[cooccurrence]] without
    * the PMI normalization joins, for consumers that need only the
    * raw graph weights (e.g. [[textRank]]: feeding it this instead of
    * the full PMI table keeps its plan free of the 1-row total
    * splices it would never use). */
  def cooccurrencePairCounts(df: DataFrame, textCol: String,
                             window: Int = 2,
                             minCount: Long = 1): DataFrame =
    cooccurrencePairs(df, textCol, window)
      .groupBy("a", "b").agg(count(lit(1L)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** [[cooccurrencePairCounts]] KEYED by domain columns — one pass
    * over corpus tokens yields every domain's co-occurrence graph at
    * once (`(keyCols…, a, b, cnt)`), the input shape [[textRankBy]]
    * wants. Same window/minCount semantics per slice as the global
    * operator over that slice alone. */
  def cooccurrencePairCountsBy(df: DataFrame, keyCols: Seq[String],
                               textCol: String, window: Int = 2,
                               minCount: Long = 1): DataFrame = {
    require(window >= 1, "window must be at least 1")
    require(keyCols.nonEmpty, "cooccurrencePairCountsBy needs keys")
    val keys = keyCols.map(col)
    val toks = df.select(keys :+ Text.tokens(col(textCol)).as("__t"): _*)
    toks.select(keys :+ explode(flatten(
        transform(sequence(lit(1), lit(window)), d =>
          zip_with(
            slice(col("__t"), lit(1), greatest(size(col("__t")) - d, lit(0))),
            slice(col("__t"), d + lit(1),
              greatest(size(col("__t")) - d, lit(0))),
            (x, y) => struct(x.as("a"), y.as("b")))))).as("p"): _*)
      .select(keys ++ Seq(col("p.a").as("a"), col("p.b").as("b")): _*)
      .groupBy(keys :+ col("a") :+ col("b"): _*)
      .agg(count(lit(1L)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  def cooccurrence(df: DataFrame, textCol: String,
                   window: Int = 2, minCount: Long = 1): DataFrame = {
    val pairs = cooccurrencePairs(df, textCol, window)
    val cnt = cooccurrencePairCounts(df, textCol, window, minCount)
    val npairs = pairs.agg(count(lit(1L)).cast("double").as("__np"))
    val flat = df.select(explode(Text.tokens(col(textCol))).as("token"))
    val uni = flat.groupBy("token").agg(count(lit(1L)).as("freq"))
    val ntok = flat.agg(count(lit(1L)).cast("double").as("__nt"))
    val pmi = log((col("cnt").cast("double") / col("__np")) /
      ((col("fa").cast("double") / col("__nt")) *
        (col("fb").cast("double") / col("__nt"))))
    cnt
      .join(uni.select(col("token").as("a"), col("freq").as("fa")), "a")
      .join(uni.select(col("token").as("b"), col("freq").as("fb")), "b")
      .crossJoin(broadcast(npairs))
      .crossJoin(broadcast(ntok))
      .select(col("a"), col("b"), col("cnt"),
        graft.functions.Exact.roundAt(pmi, 4).as("pmi"))
  }

  /** TextRank keyword scores (Mihalcea & Tarau 2004): weighted
    * PageRank over the undirected word co-occurrence graph, the
    * corpus-level "which tokens matter" signal that needs no labels
    * or IDF reference. Input is any `(aCol, bCol, wCol)` pair-count
    * frame — [[cooccurrence]]'s output, or the maintained pair view
    * served by `IncrementalViews.readCooccurrence`, which makes the
    * keyword report O(graph × iters) with ZERO corpus rescans.
    *
    * Semantics: each directed pair count contributes its weight BOTH
    * ways (undirected voting), self-loops are dropped (a token cannot
    * vote for itself), and `iters` fixed Jacobi iterations run
    *   score'(v) = (1−d) + d · Σ_{u→v} w(u,v) · score(u) / out(u)
    * from score₀ = 1. A fixed iteration count (not an ε-test) keeps
    * the result deterministic and SQL-replayable.
    *
    * Exactness: edge weights and out-degrees are exact longs; each
    * contribution is one double multiply-then-divide (bit-identical
    * across engines) summed as DECIMAL(30,9) — the gram-matrix
    * contract — so the served scores hash-match an oracle that
    * unrolls the same iterations. Scale: the graph is vocab-bounded
    * (≪ corpus) and cached once; each iteration is one hash join +
    * one partial-agg shuffle over edges — the standard distributed
    * PageRank shape — chained LAZILY into a single action (no
    * per-iteration driver barriers; AQE right-sizes each iteration's
    * shuffle at runtime).
    *
    * NOTE: the call itself is EAGER — the Jacobi job runs NOW (so the
    * cached graph can be released before returning) and the returned
    * frame is pinned to call-time data: topK > 0 returns the k rows
    * as driver literals, topK == 0 an eager localCheckpoint. A later
    * action replays neither the iterations nor the source scan. */
  def textRank(pairs: DataFrame, aCol: String, bCol: String,
               wCol: String, iters: Int = 10, damping: Double = 0.85,
               topK: Int = 0): DataFrame = {
    require(iters >= 1 && iters <= 50,
      s"iters must be in [1, 50]: $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1): $damping")
    require(topK >= 0, s"topK must be non-negative: $topK")
    val fwd = pairs.select(col(aCol).as("__src"), col(bCol).as("__dst"),
      col(wCol).cast("long").as("__w"))
    val rev = pairs.select(col(bCol).as("__src"), col(aCol).as("__dst"),
      col(wCol).cast("long").as("__w"))
    val edges = fwd.union(rev).filter(col("__src") =!= col("__dst"))
      .groupBy("__src", "__dst").agg(sum(col("__w")).as("__w"))
    val outW = edges.groupBy("__src").agg(sum(col("__w")).as("__out"))
    // the graph is referenced by every iteration — cache it ONCE
    // (it must stay cached through the caller's action: uncached, the
    // lazy chain below would recompute the pair aggregation per
    // iteration) and build the whole Jacobi chain LAZILY: one job at
    // action time, no per-iteration count/persist barriers (measured
    // ~2 s of pure scheduling per iteration on a small graph). AQE
    // coalesces the tiny per-iteration shuffles at runtime.
    val g = edges.join(outW, "__src").persist()
    g.count() // fill the cache before it fans out 10 ways
    var scores = g.select(col("__src").as("token")).distinct()
      .withColumn("__score", lit(1.0))
    for (_ <- 1 to iters) {
      val contrib = (col("__w").cast("double") * col("__score") /
        col("__out").cast("double")).cast("decimal(30,9)")
      scores = g.join(scores.withColumnRenamed("token", "__src"), "__src")
        .groupBy(col("__dst"))
        .agg(sum(contrib).as("__s"))
        .select(col("__dst").as("token"),
          (lit(1.0 - damping) +
            lit(damping) * col("__s").cast("double")).as("__score"))
    }
    val ranked = scores.select(col("token"),
      graft.functions.Exact.roundAt(col("__score"), 6).as("rank"))
    // Materialize the result NOW and release the cached graph: once
    // the scores exist the lazy Jacobi chain is dead weight, and a
    // long-lived session calling textRank repeatedly (dashboard TVFs)
    // must not accumulate storage-memory residents. topK > 0 returns
    // the k rows as driver literals (bounded metadata, leaves ZERO
    // cached RDDs behind); topK == 0 is vocab-sized, so it rides an
    // eager localCheckpoint — the returned frame owns its own blocks
    // and only those survive the call.
    val spark = pairs.sparkSession
    val out =
      if (topK == 0) ranked.localCheckpoint(true)
      else {
        val top = ranked.orderBy(col("rank").desc, col("token")).limit(topK)
        val rows = top.collect().toSeq
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), top.schema)
      }
    g.unpersist()
    out
  }

  /** PER-DOMAIN [[textRank]]: one keyword ranking per key group (e.g.
    * per language, per source domain) from a pair-count frame that
    * carries the key columns — every join and aggregation of the
    * Jacobi chain is KEYED by `keyCols`, so the whole multi-domain
    * report is ONE plan (each iteration one hash join + one
    * partial-agg shuffle over all domains' edges together), not a
    * driver loop of per-slice jobs. Per-domain output is provably the
    * solo [[textRank]] over that domain's slice (spec-asserted): the
    * keyed graph never mixes edges across keys.
    *
    * `topK > 0` keeps each DOMAIN's top-k by (rank desc, token) with
    * a per-pick `rnk` — a keyed window over the vocab-bounded score
    * table, never a global sort. Output `(keyCols…, token, rank[,
    * rnk])`. Same eager-evaluation contract as [[textRank]]: the
    * returned frame owns its blocks, the cached graph is released. */
  def textRankBy(pairs: DataFrame, keyCols: Seq[String], aCol: String,
                 bCol: String, wCol: String, iters: Int = 10,
                 damping: Double = 0.85, topK: Int = 0): DataFrame = {
    require(keyCols.nonEmpty,
      "textRankBy needs at least one key column (use textRank for " +
        "the global ranking)")
    require(iters >= 1 && iters <= 50,
      s"iters must be in [1, 50]: $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1): $damping")
    require(topK >= 0, s"topK must be non-negative: $topK")
    val keys = keyCols.map(col)
    val fwd = pairs.select(keys ++ Seq(col(aCol).as("__src"),
      col(bCol).as("__dst"), col(wCol).cast("long").as("__w")): _*)
    val rev = pairs.select(keys ++ Seq(col(bCol).as("__src"),
      col(aCol).as("__dst"), col(wCol).cast("long").as("__w")): _*)
    val edges = fwd.union(rev).filter(col("__src") =!= col("__dst"))
      .groupBy(keys :+ col("__src") :+ col("__dst"): _*)
      .agg(sum(col("__w")).as("__w"))
    val outW = edges.groupBy(keys :+ col("__src"): _*)
      .agg(sum(col("__w")).as("__out"))
    val g = edges.join(outW, keyCols :+ "__src").persist()
    g.count() // fill the cache before it fans out `iters` ways
    var scores = g.select(keys :+ col("__src").as("token"): _*).distinct()
      .withColumn("__score", lit(1.0))
    for (_ <- 1 to iters) {
      val contrib = (col("__w").cast("double") * col("__score") /
        col("__out").cast("double")).cast("decimal(30,9)")
      scores = g.join(scores.withColumnRenamed("token", "__src"),
          keyCols :+ "__src")
        .groupBy(keys :+ col("__dst"): _*)
        .agg(sum(contrib).as("__s"))
        .select(keys ++ Seq(col("__dst").as("token"),
          (lit(1.0 - damping) +
            lit(damping) * col("__s").cast("double")).as("__score")): _*)
    }
    val ranked = scores.select(keys ++ Seq(col("token"),
      graft.functions.Exact.roundAt(col("__score"), 6).as("rank")): _*)
    val out =
      if (topK == 0) ranked.localCheckpoint(true)
      else {
        // per-domain top-k: a KEYED window over the vocab-bounded
        // score table (bounded partitions — one per domain)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys: _*)
          .orderBy(col("rank").desc, col("token"))
        ranked.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= topK)
          .localCheckpoint(true)
      }
    g.unpersist()
    out
  }

  /** PRODUCTION-VOCABULARY encoder: same contract and output as
    * [[bpeEncode]], but the merge table rides a broadcast and each
    * word is encoded imperatively per partition — the sanctioned
    * `mapPartitions` last resort, because a 50k-merge vocabulary
    * cannot be built as 50k nested fold expressions (the plan itself
    * becomes the bottleneck: analysis is quadratic in plan size and
    * codegen hits the JVM method limit long before that).
    *
    * EXACT parity with the folded-HOF plan (spec-asserted): ranks are
    * processed in strictly increasing order, each as one greedy
    * left-to-right non-overlapping pass — and instead of walking all
    * 50k ranks per word, each step finds the SMALLEST not-yet-visited
    * rank actually present among the word's adjacent pairs (hash
    * lookups against the broadcast map). A merge only ever creates
    * pairs the sequential semantics would see later, so skipping
    * absent ranks changes nothing; cost is O(len²) per word with tiny
    * constants, independent of vocabulary size.
    *
    * Scale: shuffle-free narrow transform; the broadcast is one
    * ~MB-scale map per executor, the per-row work is allocation-light
    * imperative Scala — the shape a 100 TB tokenization pass needs. */
  def bpeEncodeBroadcast(df: DataFrame, idCol: String, textCol: String,
                         merges: Seq[(Int, String, String)]): DataFrame = {
    val spark = df.sparkSession
    val pairRank = merges.map { case (r, a, b) => ((a, b), r) }.toMap
    val rankPair = merges.map { case (r, a, b) => (r, (a, b)) }.toMap
    val bc = spark.sparkContext.broadcast((pairRank, rankPair))
    val tok = df
      .select(col(idCol), posexplode(Text.tokens(col(textCol))))
      .withColumnRenamed("pos", "word_pos")
      .withColumnRenamed("col", "word")
      .filter(length(col("word")) > 0)
    val wordIdx = tok.schema.fieldIndex("word")
    val outSchema = tok.schema.add("pieces",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    tok.mapPartitions { it =>
      val (ranks, pairs) = bc.value
      it.map { row =>
        val pieces = encodeWord(row.getString(wordIdx), ranks, pairs)
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ pieces)
      }
    }(enc)
  }

  /** One word through the rank-ordered greedy merges — the imperative
    * twin of the [[applyMerge]] fold chain. Char split parity: Spark's
    * `split(w, "")` yields one element per char with NO trailing empty
    * (measured) — Java's limit-0 split, not limit −1. */
  private def encodeWord(word: String,
                         ranks: Map[(String, String), Int],
                         pairs: Map[Int, (String, String)]): Seq[String] = {
    var sym: Array[String] = word.split("")
    var current = 0
    var done = false
    while (!done && sym.length > 1) {
      // smallest not-yet-visited rank present among adjacent pairs
      var best = Int.MaxValue
      var i = 0
      while (i < sym.length - 1) {
        ranks.get((sym(i), sym(i + 1))) match {
          case Some(r) if r >= current && r < best => best = r
          case _ =>
        }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = pairs(best)
        // one greedy left-to-right pass: acc.last==a && next==b → a+b
        val out = new scala.collection.mutable.ArrayBuffer[String](sym.length)
        var j = 0
        while (j < sym.length) {
          if (out.nonEmpty && out.last == a && sym(j) == b)
            out(out.length - 1) = a + b
          else out += sym(j)
          j += 1
        }
        sym = out.toArray
        current = best + 1
      }
    }
    sym.toSeq
  }
}
