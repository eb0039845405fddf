package graft

import org.apache.spark.sql.functions._
import graft.operators.Corpus
import graft.functions.Text

/** Corpus-preparation operators: split determinism, stratified-sample
  * exactness, planted contamination, packing invariants, planted PII. */
class CorpusSpec extends SparkSpec {
  private val s = TestSession.spark
  import s.implicits._

  private def docs = Tables.documents(spark, sf("sf0.001"))

  test("hashSplit is deterministic, total, and roughly proportioned") {
    val a = Corpus.hashSplit(docs, "doc_id").select("doc_id", "split")
    val b = Corpus.hashSplit(docs, "doc_id").select("doc_id", "split")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    val counts = a.groupBy("split").count().as[(String, Long)].collect().toMap
    val n = counts.values.sum
    assert(counts.keySet === Set("train", "val", "test"))
    // 80/10/10 target; small-sample slack
    assert(counts("train") > n * 6 / 10, s"train too small: $counts")
    assert(counts("val") > 0 && counts("test") > 0)
  }

  test("stratifiedSample returns exactly k per stratum (strata >= k) and is stable") {
    val k = 5
    val s1 = Corpus.stratifiedSample(docs, "source", "doc_id", k)
    val sizes = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    val got = s1.groupBy("source").count().as[(String, Long)].collect().toMap
    sizes.foreach { case (src, n) =>
      assert(got(src) === math.min(n, k.toLong), s"stratum $src")
    }
    val s2 = Corpus.stratifiedSample(docs, "source", "doc_id", k)
    assert(s1.select("doc_id").except(s2.select("doc_id")).isEmpty)
  }

  test("contamination flags exactly the docs sharing an n-gram with the benchmark set") {
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon"), // benchmark (id % 2 == 0 pred below… use explicit set)
      (1L, "zeta eta theta iota kappa"),
      (2L, "x alpha beta gamma y"),           // shares 3-gram "alpha beta gamma"
      (3L, "beta alpha gamma delta order"),   // same words, no shared 3-gram
      (4L, "zeta eta theta wrong tail")       // shares "zeta eta theta"
    ).toDF("doc_id", "text")
    val bench = col("doc_id") <= 1
    val out = Corpus.contamination(df, "doc_id", "text", bench, n = 3)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(r => r._1 -> r._3).toSeq ===
      Seq(2L -> true, 3L -> false, 4L -> true))
    assert(out.find(_._1 == 2L).get._2 === 1L)
    assert(out.find(_._1 == 4L).get._2 === 1L)
  }

  test("spanDedup counts every k-token span occurring at >1 (doc,pos), including intra-doc") {
    val df = Seq(
      (1L, "a b c a b c a b"), // every 3-span repeats inside the doc
      (2L, "a b c x y z q r"), // only "a b c" is shared (with doc 1)
      (3L, "short doc")        // < k tokens: zero spans
    ).toDF("doc_id", "text")
    val out = Corpus.spanDedup(df, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    assert(out(1L) === ((6L, 6L, 1.0)))
    assert(out(2L) === ((6L, 1L, r4(1.0 / 6.0))))
    assert(out(3L) === ((0L, 0L, 0.0)))
  }

  test("spanExcise keeps the first (doc,pos) occurrence corpus-wide and cuts every other") {
    val df = Seq(
      (1L, "a b c d e f"),         // holds the FIRST "a b c" — untouched
      (2L, "x y a b c q"),         // its "a b c" (pos 2) is cut
      (3L, "a b c d e f"),         // exact copy: every span cut → empty
      (4L, "a b"),                 // < k tokens: zero spans, untouched
      (5L, "p q r s p q r s")      // intra-doc repeat: tail cut, head kept
    ).toDF("doc_id", "text")
    val out = Corpus.spanExcise(df, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) === ((6L, 0L, "a b c d e f")))
    assert(out(2L) === ((6L, 3L, "x y q")))
    assert(out(3L) === ((6L, 6L, ""))) // fully excised ≠ untouched
    assert(out(4L) === ((2L, 0L, "a b")))
    // doc 5: cuts at pos 4 (p q r) and pos 5 (q r s) union to tokens
    // 4-7 — the kept head survives, overlap semantics are the union
    assert(out(5L) === ((8L, 4L, "p q r s")))
  }

  test("packSequences default shards = cluster parallelism, window stage partitioned by shard") {
    val packed = Corpus.packSequences(docs, "doc_id", "text", 500)
    val para = spark.sparkContext.defaultParallelism
    // every shard in [0, parallelism) is populated — the window stage
    // has `parallelism` independent groups, not a hard-coded constant
    val shardsUsed = packed.select("shard").distinct().as[Long].collect().sorted
    assert(shardsUsed.toSeq === (0L until para.toLong),
      s"expected $para populated shards, got ${shardsUsed.length}")
    // and the only exchange keys on the shard column, so tasks scale
    // with the shard count
    val plan = packed.queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length == 2 && plan.contains("hashpartitioning(shard"),
      s"packing should shuffle exactly once on shard:\n$plan")
  }

  test("packSequences: offsets are contiguous per shard and bins cut at budget boundaries") {
    val budget = 500
    val packed = Corpus.packSequences(docs, "doc_id", "text", budget, shards = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
    packed.groupBy(_._2).foreach { case (_, rows) =>
      val inOrder = rows.sortBy(_._1)
      var expectOffset = 0L
      inOrder.foreach { case (_, _, nTok, off, bin) =>
        assert(off === expectOffset, "offset must be the running token sum")
        assert(bin === off / budget, "bin is starting-offset div budget")
        expectOffset += nTok
      }
      // bins are nondecreasing and dense enough: each next bin starts
      // only after the previous crossed its boundary
      inOrder.map(_._5).sliding(2).foreach { w =>
        if (w.length == 2)
          assert(w(1) >= w(0) && w(1) - w(0) <= (inOrder.map(_._3).max / budget) + 1)
      }
    }
  }

  test("tfIdf matches a hand computation on a tiny corpus") {
    val df = Seq(
      (1L, "a a b"),
      (2L, "a c")
    ).toDF("doc_id", "text")
    val out = Corpus.tfIdf(df, "doc_id", "text")
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    assert(out((1L, "a")) === ((2L, 2L, 0.0))) // ln(2/2)=0
    assert(out((1L, "b")) === ((1L, 1L, r4(math.log(2.0)))))
    assert(out((2L, "c")) === ((1L, 1L, r4(math.log(2.0)))))
    assert(out((2L, "a")) === ((1L, 2L, 0.0)))
  }

  test("unigramLogProb matches a hand computation on a tiny corpus") {
    val df = Seq(
      (1L, "a a b"),
      (2L, "a c")
    ).toDF("doc_id", "text")
    val out = Corpus.unigramLogProb(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // total = 5; freq: a=3, b=1, c=1; terms rounded at 9 decimals and
    // summed as decimals (the ExactSum128 contract), then -(sum)/n
    // rounded at 4
    def dec9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    def nll(n: Long, terms: Double*) = {
      val s = terms.map(dec9).reduce(_ add _).doubleValue()
      math.floor(-s / n * 10000 + 0.5) / 10000
    }
    val lnA = math.log(3.0 / 5.0); val ln1 = math.log(1.0 / 5.0)
    assert(out(1L) === ((3L, nll(3L, 2.0 * lnA, 1.0 * ln1))))
    assert(out(2L) === ((2L, nll(2L, 1.0 * lnA, 1.0 * ln1))))
  }

  test("bigramLogProb matches a hand computation; short docs drop out") {
    val df = Seq(
      (1L, "a b a b"), // transitions: (a,b)x2, (b,a)x1
      (2L, "a b"),     // transitions: (a,b)x1
      (3L, "a"),       // no transition -> absent
      (4L, "b c")      // transitions: (b,c)x1
    ).toDF("doc_id", "text")
    val out = Corpus.bigramLogProb(df, "doc_id", "text", lambda = 0.9)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(!out.contains(3L)) // single-token doc has no transitions
    // global: bigrams (a,b)=3, (b,a)=1, (b,c)=1; ctx a.=3, b.=2;
    // unigrams a=4, b=4, c=1; total=9
    def dec9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    def nll(n: Long, terms: Double*) = {
      val s = terms.map(dec9).reduce(_ add _).doubleValue()
      math.floor(-s / n * 10000 + 0.5) / 10000
    }
    def p(bc: Double, ctx: Double, freq: Double) =
      0.9 * (bc / ctx) + (1.0 - 0.9) * (freq / 9.0)
    val lnAB = math.log(p(3, 3, 4)) // P(b|a) interpolated
    val lnBA = math.log(p(1, 2, 4))
    val lnBC = math.log(p(1, 2, 1))
    assert(out(1L) === ((3L, nll(3L, 2.0 * lnAB, 1.0 * lnBA))))
    assert(out(2L) === ((1L, nll(1L, 1.0 * lnAB))))
    assert(out(4L) === ((1L, nll(1L, 1.0 * lnBC))))
    // a rarer-transition doc scores a higher NLL than the common one
    assert(out(4L)._2 > out(2L)._2)
  }

  test("cooccurrence + PMI match a hand computation; short docs yield no pairs") {
    val df = Seq((1L, "a b a"), (2L, "x")).toDF("doc_id", "text")
    val out = Corpus.cooccurrence(df, "text", window = 2)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // pairs: d=1 (a,b),(b,a); d=2 (a,a); 1-token doc contributes none
    // Ntok=4 (incl. x), Npairs=3; freq a=2, b=1
    def pmi(cab: Double, fa: Double, fb: Double) =
      math.floor(math.log((cab / 3.0) / ((fa / 4.0) * (fb / 4.0))) * 10000 + 0.5) / 10000
    assert(out.keySet == Set(("a", "b"), ("b", "a"), ("a", "a")))
    assert(out(("a", "b")) == ((1L, pmi(1, 2, 1))))
    assert(out(("b", "a")) == ((1L, pmi(1, 1, 2))))
    assert(out(("a", "a")) == ((1L, pmi(1, 2, 2))))
    // minCount prunes the tail before the PMI join
    assert(Corpus.cooccurrence(df, "text", window = 2,
      minCount = 2).count() == 0L)
  }

  test("textRank matches a hand computation; drops self-loops; conserves total score") {
    // path graph a—b—c from directed pair counts; a self-loop and a
    // reverse duplicate exercise symmetrization
    val pairs = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "a", 5L))
      .toDF("a", "b", "cnt")
    val r2 = Corpus.textRank(pairs, "a", "b", "cnt", iters = 2)
      .as[(String, Double)].collect().toMap
    // iter1: a=c=0.15+0.85·(1/2)=0.575, b=0.15+0.85·2=1.85
    // iter2: a=c=0.15+0.85·(1.85/2)=0.93625, b=0.15+0.85·1.15=1.1275
    assert(r2("a") == 0.93625 && r2("c") == 0.93625 && r2("b") == 1.1275)
    // forward+reverse counts merge into one undirected weight
    val sym = Corpus.textRank(
      Seq(("a", "b", 1L), ("b", "a", 2L)).toDF("a", "b", "cnt"),
      "a", "b", "cnt", iters = 3).as[(String, Double)].collect().toMap
    assert(sym("a") == 1.0 && sym("b") == 1.0) // two-node graph stays uniform
    // each node redistributes its whole score → the total is conserved
    // at n every iteration (up to the 1e-9 decimal fold)
    assert(math.abs(r2.values.sum - 3.0) < 1e-6)
    // a star hub out-ranks its leaves, and topK truncates after the
    // deterministic (rank desc, token) order
    val star = Corpus.textRank(
      Seq(("hub", "x", 1L), ("hub", "y", 1L), ("hub", "z", 1L))
        .toDF("a", "b", "cnt"), "a", "b", "cnt", iters = 10, topK = 2)
      .as[(String, Double)].collect()
    assert(star.length == 2 && star.head._1 == "hub")
    assert(star.head._2 > star(1)._2)
    // guard rails
    intercept[IllegalArgumentException] {
      Corpus.textRank(pairs, "a", "b", "cnt", iters = 0)
    }
    intercept[IllegalArgumentException] {
      Corpus.textRank(pairs, "a", "b", "cnt", damping = 1.0)
    }
  }

  test("textRank releases its cached graph (no storage-memory residents accumulate)") {
    val pairs = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 3L))
      .toDF("a", "b", "cnt")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // topK > 0 returns driver literals — ZERO new cached RDDs survive
    val top = Corpus.textRank(pairs, "a", "b", "cnt", iters = 3, topK = 2)
    assert(top.count() == 2L)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "textRank(topK>0) left cached RDDs behind")
    // topK == 0 rides an eager localCheckpoint: the RESULT owns its
    // blocks, but the edge-graph cache itself must be gone — repeated
    // calls add only their own (vocab-bounded) result storage
    val full = Corpus.textRank(pairs, "a", "b", "cnt", iters = 3)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).size <= 1,
      s"textRank(topK=0) left more than its own checkpoint cached: ${after -- before}")
    assert(full.count() == 3L)
  }

  test("dsirWeights matches a hand computation; dsirSelect ranks deterministically") {
    // raw: doc1 = "a a b", doc2 = "b c"; target corpus = "a a a b"
    val raw = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val target = Seq((9L, "a a a b")).toDF("doc_id", "text")
    val out = Corpus.dsirWeights(raw, target, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // α=0.5, vocab={a,b,c} (v=3), raw totals rn=5, target tn=4:
    //   llr(t) = ln((tc+.5)/(tn+1.5)) − ln((rc+.5)/(rn+1.5))
    def llr(tc: Double, rc: Double) =
      math.log((tc + 0.5) / 5.5) - math.log((rc + 0.5) / 6.5)
    val d1 = 2 * llr(3, 2) + llr(1, 2)
    val d2 = llr(1, 2) + llr(0, 1)
    assert(out(1L)._1 == 3L && out(2L)._1 == 2L)
    assert(math.abs(out(1L)._2 - d1) < 1e-4, s"${out(1L)._2} vs $d1")
    assert(math.abs(out(2L)._2 - d2) < 1e-4, s"${out(2L)._2} vs $d2")
    // doc1 is the more target-like (target is mostly 'a') — it wins
    assert(out(1L)._2 > out(2L)._2)
    val sel = Corpus.dsirSelect(raw, target, "doc_id", "text", n = 1)
      .select("doc_id", "rnk").as[(Long, Long)].collect()
    assert(sel.toSeq == Seq((1L, 1L)))
    intercept[IllegalArgumentException] {
      Corpus.dsirWeights(raw, target, "doc_id", "text", alpha = 0.0)
    }
  }

  test("dsirScoreAgainst scores a batch off count frames; OOV tokens take the constant ratio") {
    // reference distributions: raw {a:2, b:2}, target {a:3}
    val rawCounts = Seq(("a", 2L), ("b", 2L)).toDF("token", "cnt")
    val tgtCounts = Seq(("a", 3L)).toDF("token", "cnt")
    // 'z' is in NEITHER reference: the batch must not perturb V
    val batch = Seq((7L, "a z b")).toDF("doc_id", "text")
    val out = Corpus.dsirScoreAgainst(batch, "doc_id", "text",
        rawCounts, tgtCounts)
      .as[(Long, Long, Double)].collect()
    // vocab={a,b}, v=2, rn=4, tn=3, α=0.5:
    //   llr(a) = ln(3.5/4) − ln(2.5/5); llr(b) = ln(0.5/4) − ln(2.5/5)
    //   oov    = ln(0.5/4) − ln(0.5/5)
    val llrA = math.log(3.5 / 4) - math.log(2.5 / 5)
    val llrB = math.log(0.5 / 4) - math.log(2.5 / 5)
    val oov = math.log(0.5 / 4) - math.log(0.5 / 5)
    assert(out.length == 1 && out.head._1 == 7L && out.head._2 == 3L)
    assert(math.abs(out.head._3 - (llrA + llrB + oov)) < 1e-4,
      s"${out.head._3}")
    // consistency: dsirWeights == dsirScoreAgainst fed its own counts
    val raw = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val target = Seq((9L, "a a a b")).toDF("doc_id", "text")
    def cnts(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1L)).as("cnt"))
    val viaCounts = Corpus.dsirScoreAgainst(raw, "doc_id", "text",
      cnts(raw), cnts(target)).collect().map(_.toSeq).toSet
    val direct = Corpus.dsirWeights(raw, target, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(viaCounts == direct)
  }

  test("vocabDivergence: hand-math smoothed KL/JS; identical corpora read zero; asymmetry points at the novel side") {
    val s = spark; import s.implicits._
    val p = Seq((1L, "a a b")).toDF("doc_id", "text")
    val q = Seq((2L, "a c")).toDF("doc_id", "text")
    val got = Corpus.vocabDivergenceOf(p, q, "text")
      .as[(Long, Double, Double, Double)].collect().head
    // union vocab {a, b, c}; P counts (2,1,0), N_p=3; Q (1,0,1), N_q=2
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def s9(vs: Seq[Double]) = vs.map(v => BigDecimal(v)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    val pd = Seq(2.0, 1.0, 0.0).map(c => (c + 0.5) / (3.0 + 0.5 * 3.0))
    val qd = Seq(1.0, 0.0, 1.0).map(c => (c + 0.5) / (2.0 + 0.5 * 3.0))
    val klPq = s9(pd.zip(qd).map { case (a, b) =>
      a * (math.log(a) - math.log(b)) })
    val klQp = s9(pd.zip(qd).map { case (a, b) =>
      b * (math.log(b) - math.log(a)) })
    val js = s9(pd.zip(qd).map { case (a, b) =>
      val m = (a + b) / 2.0
      a * (math.log(a) - math.log(m)) / 2.0 +
        b * (math.log(b) - math.log(m)) / 2.0 })
    assert(got == ((3L, r6(klPq), r6(klQp), r6(js))))
    assert(got._2 > 0 && got._3 > 0 && got._4 > 0 &&
      got._4 <= math.log(2.0))
    // identical corpora: every divergence is exactly zero
    val same = Corpus.vocabDivergenceOf(p, p, "text")
      .as[(Long, Double, Double, Double)].collect().head
    assert(same == ((2L, 0.0, 0.0, 0.0)))
    intercept[IllegalArgumentException] {
      Corpus.vocabDivergence(
        p.select(lit("a").as("token"), lit(1L).as("cnt")),
        q.select(lit("a").as("token"), lit(1L).as("cnt")), alpha = 0.0)
    }
  }

  test("temperatureBudgets: hand-math shares with the cap; selection == bucketed mix on those budgets") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "a", "t1 t2 t3"), (2L, "a", "t4"),   // domain a: 4 tokens
      (3L, "b", "t5")                           // domain b: 1 token
    ).toDF("doc_id", "source", "text")
    val got = Corpus.temperatureBudgets(df, "source", "text",
        alpha = 0.5, totalBudget = 9L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // same double ops as the operator: 9-rounded n^0.5 weights,
    // decimal total, floor(total·share) capped at the domain size
    def r9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    val (wa, wb) = (r9(math.exp(0.5 * math.log(4.0))),
      r9(math.exp(0.5 * math.log(1.0))))
    val tw = BigDecimal(wa).setScale(9) + BigDecimal(wb).setScale(9)
    def bud(w: Double, n: Long) =
      math.min(math.floor(9.0 * (w / tw.toDouble)).toLong, n)
    assert(got("a") == ((4L, wa, bud(wa, 4L))))
    assert(got("b") == ((1L, wb, bud(wb, 1L))))
    // the cap bites: the big domain's uncapped floor(9·2/3) = 5 would
    // exceed its own 4 tokens; α=0.5 keeps the small domain at its cap
    assert(got("a")._3 == 4L && got("b")._3 == 1L)
    // the selection is exactly the bucketed mix on the emitted budgets
    val sel = Corpus.mixByTemperature(df, "source", "doc_id", "text",
        alpha = 0.5, totalBudget = 9L)
      .collect().map(_.toSeq).toSet
    val via = Corpus.mixByBudgetBucketed(df, "source", "doc_id", "text",
        Seq("a" -> got("a")._3, "b" -> got("b")._3), defaultBudget = 0L)
      .collect().map(_.toSeq).toSet
    assert(sel == via)
    intercept[IllegalArgumentException] {
      Corpus.temperatureBudgets(df, "source", "text", alpha = 1.5, 9L)
    }
  }

  test("temperatureBudgets: exact-total apportionment — cap overflow redistributes and the floor remainder lands by largest remainder") {
    val s = spark; import s.implicits._
    // CAP case (the old floor rule undershoots): a=100 tokens,
    // b=10000 tokens, α=0.5 → weights 10 and 100. Old rule:
    // a=min(floor(5000·10/110),100)=100, b=floor(5000·100/110)=4545,
    // Σ=4645 — 355 tokens short of the asked-for 5000 though b has
    // headroom. Water-filling: a caps at 100, the overflow re-divides,
    // b gets 4900 — Σ == 5000 exactly.
    def doc(id: Long, src: String, n: Int) =
      (id, src, Seq.fill(n)("t").mkString(" "))
    val big = Seq(doc(1L, "a", 100), doc(2L, "b", 10000))
      .toDF("doc_id", "source", "text")
    val capped = Corpus.temperatureBudgets(big, "source", "text",
        alpha = 0.5, totalBudget = 5000L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(capped == Map("a" -> 100L, "b" -> 4900L))
    assert(capped.values.sum == 5000L)
    // REMAINDER case: three equal domains, total=10 → quotas 3.33…;
    // old floors gave 9. The +1 goes to ONE domain — equal remainders
    // tie-break domain-key ascending, so "a" gets it.
    val eq = Seq(doc(1L, "a", 4), doc(2L, "b", 4), doc(3L, "c", 4))
      .toDF("doc_id", "source", "text")
    val rem = Corpus.temperatureBudgets(eq, "source", "text",
        alpha = 1.0, totalBudget = 10L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rem == Map("a" -> 4L, "b" -> 3L, "c" -> 3L))
    // budget beyond the corpus: every domain caps, Σ == Σ tokens
    val all = Corpus.temperatureBudgets(eq, "source", "text",
        alpha = 0.5, totalBudget = 1000L)
      .collect().map(r => r.getLong(3)).sum
    assert(all == 12L)
    // NULL domain fails by name, not with an anonymous NPE
    val withNull = Seq((1L, "a", "t t"), (2L, null, "t"))
      .toDF("doc_id", "source", "text")
    val e = intercept[IllegalArgumentException] {
      Corpus.temperatureBudgets(withNull, "source", "text", 0.5, 10L)
    }
    assert(e.getMessage.contains("NULL source"))
  }

  test("vocabDivergenceBy: every domain row equals vocabDivergence run on that domain alone; NULL domain fails by name") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "web", "a a b c"), (2L, "web", "b d"),
      (3L, "code", "x y a"), (4L, "wiki", "a b b z q")
    ).toDF("doc_id", "source", "text")
    val by = Corpus.vocabDivergenceByOf(docs, "source", docs, "text")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(by.keySet == Set("web", "code", "wiki"))
    for (d <- by.keySet) {
      val alone = Corpus.vocabDivergenceOf(
        docs.filter(col("source") === d), docs, "text")
        .as[(Long, Double, Double, Double)].collect().head
      assert(by(d) == alone, s"domain $d")
    }
    // a domain identical to the reference reads zero on all gauges
    val ref = docs.filter(col("source") === "web")
    val zero = Corpus.vocabDivergenceByOf(ref, "source", ref, "text")
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(zero._3 == 0.0 && zero._4 == 0.0 && zero._5 == 0.0)
    val withNull = Seq((1L, "a", "t t"), (2L, null, "u"))
      .toDF("doc_id", "source", "text")
    val e = intercept[Exception] {
      Corpus.vocabDivergenceByOf(withNull, "source", docs, "text")
        .collect()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString(" | ")
    assert(chain.contains("NULL source"))
  }

  test("vocabDivergenceBy: past the domain cap it fails by name before any join") {
    val s = spark; import s.implicits._
    val cap = Corpus.MaxDivergenceDomains
    val e = intercept[IllegalArgumentException] {
      Corpus.vocabDivergenceBy(
        spark.range(cap + 1).select(col("id").as("d"),
          lit("t").as("token"), lit(1L).as("cnt")),
        "d", Seq(("t", 1L)).toDF("token", "cnt"))
    }
    assert(e.getMessage.contains(s"more than $cap distinct d values"))
  }

  test("zipfFitFromCounts: bucketed two-level ranking is tie-invariant and keeps windows bounded") {
    val s = spark; import s.implicits._
    // heavy ties: 200 tokens over 5 frequency classes — the rank
    // PERMUTATION within a tie block must not move the fit (equal
    // freq ⇒ equal __y; a block always occupies the same rank range)
    val cnts = (1 to 200).map(i => (s"tok$i", 1L + (i % 5)))
      .toDF("token", "cnt")
    // buckets = 1 degenerates to the exact global (freq desc, token)
    // ranking — the pre-bucketing reference order
    val ref = Corpus.zipfFitFromCounts(cnts, buckets = 1)
      .collect().map(_.toSeq).toSeq
    for (b <- Seq(7, 64, 1024))
      assert(Corpus.zipfFitFromCounts(cnts, buckets = b)
        .collect().map(_.toSeq).toSeq == ref,
        s"bucketed fit at buckets=$b diverged from the global ranking")
    // the heavy window is keyed by (freq, sub-bucket): the vocabulary
    // never crosses a single partition-less WindowExec. The public
    // operator materializes its one-row result (to scope the
    // vocab-bounded persist), so the plan is asserted on the lazy
    // package-private twin the operator executes
    val plan = Corpus.zipfFitPlanFromCounts(cnts, buckets = 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__sub"),
      "sub-bucket column missing from the zipf rank plan")
  }

  test("textRankBy: per-domain ranking equals solo textRank over each slice") {
    import org.apache.spark.sql.functions._
    val d = docs.limit(40)
    val pairs = Corpus.cooccurrencePairCountsBy(d, Seq("lang"), "text",
      window = 2)
    val by = Corpus.textRankBy(pairs, Seq("lang"), "a", "b", "cnt",
      iters = 4, topK = 10)
    assert(by.columns.toSeq == Seq("lang", "token", "rank", "rnk"))
    val langs = d.select("lang").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(langs.size > 1, "need several domains for the test to bite")
    langs.foreach { l =>
      val solo = Corpus.textRank(
        Corpus.cooccurrencePairCounts(d.filter(col("lang") === l),
          "text", window = 2),
        "a", "b", "cnt", iters = 4, topK = 10)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      val slice = by.filter(col("lang") === l)
        .select("token", "rank")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(slice == solo,
        s"per-domain ranking for '$l' diverged from the solo slice")
    }
    // rnk is the per-domain pick order by (rank desc, token)
    val firstRnk = by.filter(col("rnk") === 1L).count()
    assert(firstRnk == langs.size.toLong)
    // full (topK = 0) mode keeps every token per domain
    val full = Corpus.textRankBy(pairs, Seq("lang"), "a", "b", "cnt",
      iters = 2)
    assert(full.columns.toSeq == Seq("lang", "token", "rank"))
  }

  test("zipfFit / heapsFit match hand-computed log-log least squares") {
    def dec9v(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    def fit(xs: Seq[Double], ys: Seq[Double]) = {
      def s9(vs: Seq[Double]) = vs.map(dec9v).reduce(_ add _).doubleValue()
      val n = xs.size.toDouble
      val sx = s9(xs); val sy = s9(ys)
      val sxy = s9(xs.zip(ys).map { case (a, b) => a * b })
      val sxx = s9(xs.map(a => a * a)); val syy = s9(ys.map(a => a * a))
      val num = n * sxy - sx * sy; val den = n * sxx - sx * sx
      val slope = num / den
      (r4(slope), r4((sy - slope * sx) / n),
        r4((num * num) / (den * (n * syy - sy * sy))))
    }
    // corpus: a×4, b×2, c×1 → ranks 1,2,3
    val df = Seq((1L, "a a b"), (2L, "a a b c")).toDF("doc_id", "text")
    val z = Corpus.zipfFit(df, "text")
      .as[(Long, Long, Double, Double, Double)].collect().head
    val (zs, zi, zr) = fit(
      Seq(math.log(1.0), math.log(2.0), math.log(3.0)),
      Seq(math.log(4.0), math.log(2.0), math.log(1.0)))
    assert(z == ((3L, 7L, zs, zi, zr)))
    assert(z._3 < 0, "zipf slope must be negative")
    // heaps walk: after doc 1 (3 tokens, 2 new types) N=3 V=2; after
    // doc 2 (4 tokens, 1 new type) N=7 V=3
    val h = Corpus.heapsFit(df, "doc_id", "text")
      .as[(Long, Double, Double, Double)].collect().head
    val (hs, hi, hr) = fit(
      Seq(math.log(3.0), math.log(7.0)),
      Seq(math.log(2.0), math.log(3.0)))
    assert(h == ((2L, hs, hi, hr)))
    // two points fit exactly
    assert(h._4 == 1.0)
    // real-corpus sanity: natural-ish slopes on the test documents
    val zd = Corpus.zipfFit(docs, "text")
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(zd._3 < 0, s"zipf slope on docs: ${zd._3}")
    val hd = Corpus.heapsFit(docs, "doc_id", "text")
      .as[(Long, Double, Double, Double)].collect().head
    assert(hd._2 > 0 && hd._2 < 1, s"heaps exponent on docs: ${hd._2}")
  }

  test("spanNoveltyAgainst: never-seen-span fractions by hand; short docs read fully novel") {
    // corpus-so-far holds exactly the 3-spans of "a b c d":
    // {"a b c", "b c d"} — handed in as xxhash64 longs, the same
    // hashing spanOccurrences applies to the batch side
    val existing = Seq("a b c", "b c d").toDF("g")
      .select(xxhash64(col("g")).as("span_h"))
    val batch = Seq(
      (1L, "a b c d"),     // both spans seen: novelty 0
      (2L, "a b c x"),     // "a b c" seen, "b c x" novel: 1/2
      (3L, "x y z q"),     // nothing seen: 2/2
      (4L, "a b")          // < k tokens: zero spans, ratio 1.0
    ).toDF("doc_id", "text")
    val out = Corpus.spanNoveltyAgainst(batch, "doc_id", "text",
        existing, k = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 0L, 0.0)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 2L, 1.0)))
    assert(out(4L) == ((0L, 0L, 1.0)))
  }

  test("perplexityBuckets: reference-LM nll by hand; buckets are equi-depth and ordered") {
    // reference LM: "a a a b" → vocab {a,b}, n=4, α=0.5:
    //   p(a)=(3.5)/5, p(b)=(1.5)/5, p(oov)=0.5/5
    val ref = Seq((9L, "a a a b")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a a"),   // most reference-like
      (2L, "a b"),
      (3L, "z z")    // all out-of-vocab: tail
    ).toDF("doc_id", "text")
    val out = Corpus.perplexityBuckets(docs, ref, "doc_id", "text",
        nBins = 3)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def dec9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    def nll(n: Long, terms: Double*) = {
      val s = terms.map(dec9).reduce(_ add _).doubleValue()
      math.floor(-s / n * 10000 + 0.5) / 10000
    }
    val lnA = math.log(3.5 / 5); val lnB = math.log(1.5 / 5)
    val lnO = math.log(0.5 / 5)
    assert(out(1L) == ((2L, nll(2, 2 * lnA), 0L)))
    assert(out(2L) == ((2L, nll(2, lnA, lnB), 1L)))
    assert(out(3L) == ((2L, nll(2, 2 * lnO), 2L)))
    // nll strictly orders head < middle < tail here
    assert(out(1L)._2 < out(2L)._2 && out(2L)._2 < out(3L)._2)
    intercept[IllegalArgumentException] {
      Corpus.perplexityBuckets(docs, ref, "doc_id", "text", alpha = 0.0)
    }
    // the ingest-time scorer IS the buckets' scoring half: feeding it
    // the reference's own counts reproduces the nll column exactly
    val refCnts = ref.select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1L)).as("cnt"))
    val viaCounts = Corpus.perplexityScoreAgainst(
        docs, "doc_id", "text", refCnts)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    out.foreach { case (id, (_, nll, _)) =>
      assert(viaCounts(id) == nll, s"doc $id nll diverged")
    }
  }

  test("bm25 matches a hand computation on a tiny corpus") {
    val df = Seq(
      (1L, "a a b"),
      (2L, "a c")
    ).toDF("doc_id", "text")
    val out = Corpus.bm25(df, "doc_id", "text", Seq("a", "b"))
      .as[(Long, Double)].collect().toMap
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val (k1, b) = (1.2, 0.75)
    def term(tf: Double, dfq: Double, dl: Double): Double =
      math.log(1.0 + (2.0 - dfq + 0.5) / (dfq + 0.5)) *
        (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / 2.5))
    assert(out(1L) === r4(term(2, 2, 3) + term(1, 1, 3)))
    assert(out(2L) === r4(term(1, 2, 2) + 0.0))
    assert(!out.contains(3L) && out.size === 2)
  }

  test("globalIndex is the exact global rank, contiguous from 0, across partitions") {
    val out = Corpus.globalIndex(docs.select("doc_id"), "doc_id", numPartitions = 7)
    assert(out.rdd.getNumPartitions > 1, "explicit partitioning must survive")
    val got = out.as[(Long, Long)].collect().sortBy(_._1)
    val ids = docs.select("doc_id").as[Long].collect().sorted
    assert(got.map(_._2).toSeq === got.indices.map(_.toLong))
    assert(got.map(_._1).toSeq === ids.toSeq)
  }

  test("weightedSample keeps everything at 1.0, nothing at 0.0, ~rate in between, deterministically") {
    import org.apache.spark.sql.functions.lit
    val n = docs.count()
    assert(Corpus.weightedSample(docs, "doc_id", lit(1.0)).count() === n)
    assert(Corpus.weightedSample(docs, "doc_id", lit(0.0)).count() === 0L)
    val half = Corpus.weightedSample(docs, "doc_id", lit(0.5))
    val k = half.count()
    assert(k > n * 3 / 10 && k < n * 7 / 10, s"0.5-rate kept $k of $n")
    assert(half.select("doc_id").except(
      Corpus.weightedSample(docs, "doc_id", lit(0.5)).select("doc_id")).isEmpty)
  }

  test("chunk covers every token with the declared stride and overlap") {
    val df = Seq((7L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")).toDF("doc_id", "text")
    val out = Corpus.chunk(df, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .as[(Long, Long, Long, String, Long)].collect().sortBy(_._2)
    assert(out.map(_._4).toSeq === Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10"))
    assert(out.map(_._3).toSeq === Seq(0L, 3L, 6L, 9L))
    assert(out.map(_._5).toSeq === Seq(4L, 4L, 4L, 1L))
    assert(out.map(_._2).toSeq === Seq(0L, 1L, 2L, 3L))
  }

  test("vocabularyStream on a stream == batch term counts, doc-freq sketch within HLL bounds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = s.sqlContext
    val rows = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows)
    val out = Corpus.vocabularyStream(
      mem.toDF.toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("vocab_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("vocab_stream")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val batch = Corpus.vocabulary(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(streamed.keySet === batch.keySet)
    batch.foreach { case (tok, (tf, df)) =>
      assert(streamed(tok)._1 === tf, s"term_freq($tok)")
      // HLL default rsd = 5% (one σ) — bound at ~3σ
      assert(math.abs(streamed(tok)._2 - df) <= math.max(3L, df * 15 / 100),
        s"doc_freq sketch off for $tok: ${streamed(tok)._2} vs $df")
    }
  }

  test("qualityFilter emits exact reason lists for planted violations") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and it is going to rain in the city today so we walk to the park and look at the old boats"),
      (2L, "the cat"),
      (3L, Seq.fill(20)("the dog").mkString(" ")),
      (4L, "el la de que y los del casa perro gato mesa silla libro agua fuego tierra viento sol luna mar rio arbol flor piedra cielo nube lluvia nieve campo monte valle"),
      (5L, "zebra quark lattice photon neutron proton electron muon tau lepton boson gluon hadron meson baryon quasar pulsar nebula galaxy cluster comet meteor asteroid planet moon star dust plasma vacuum field")
    ).toDF("doc_id", "text")
    val out = Corpus.qualityFilter(df, "doc_id", "text")
      .select("doc_id", "reasons", "keep")
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === (("", true)))
    assert(out(2L) === (("too_short,top_token", false)))
    assert(out(3L) === (("repetitive,top_token", false)))
    assert(out(4L) === (("wrong_lang", false)))
    assert(out(5L) === (("low_stopword,wrong_lang", false)))
  }

  test("normalize redacts planted PII and collapses whitespace") {
    val df = Seq(
      (1L, "Contact John@Example.COM   or +1 555-123-4567 now"),
      (2L, "server at 192.168.0.1 responded"),
      (3L, "clean text stays put")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), Text.normalize(col("text")).as("n"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "contact <email> or <phone> now")
    assert(out(2L) === "server at <ip> responded")
    assert(out(3L) === "clean text stays put")
  }

  test("mixByBudget: boundary doc is the last one in, defaults drop, totals audit") {
    // every doc is exactly 5 tokens, so the kept set is order-free to
    // assert: budget 12 keeps the first 3 in hash order (0, 5, 10 < 12)
    val df = (1L to 10L).map(i => (i, "a", "w w w w w")).toDF("id", "dom", "text")
      .union(Seq((11L, "b", "w w w w w")).toDF("id", "dom", "text"))
    val out = Corpus.mixByBudget(df, "dom", "id", "text",
      budgets = Seq("a" -> 12L), defaultBudget = 0L)
      .as[(Long, String, Long, Long)].collect()
    assert(out.forall(_._2 == "a")) // default 0 drops domain b entirely
    assert(out.length == 3)
    assert(out.map(_._4).sorted.toSeq == Seq(0L, 5L, 10L))
    assert(out.forall(_._3 == 5L))
    // a budget beyond the domain total keeps everything
    val all = Corpus.mixByBudget(df, "dom", "id", "text",
      budgets = Seq("a" -> 1000L, "b" -> 1000L))
    assert(all.count() == 11)
    // deterministic: same recipe, same kept ids
    val again = Corpus.mixByBudget(df, "dom", "id", "text",
      budgets = Seq("a" -> 12L), defaultBudget = 0L)
      .as[(Long, String, Long, Long)].collect()
    assert(out.map(_._1).sorted.toSeq == again.map(_._1).sorted.toSeq)
  }

  test("mixByBudgetBucketed == mixByBudget, including across bucket boundaries") {
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    // real corpus, default width
    val recipe = Seq("src0" -> 60L, "src1" -> 90L)
    assert(
      canon(Corpus.mixByBudgetBucketed(docs, "source", "doc_id", "text",
        recipe, defaultBudget = 40L)) ==
      canon(Corpus.mixByBudget(docs, "source", "doc_id", "text",
        recipe, defaultBudget = 40L)))
    // planted frame with a tiny bucket width -> many buckets per
    // domain, so carry-in composition is actually exercised
    val df = (1L to 200L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", "w w w")).toDF("id", "dom", "text")
    val plain = canon(Corpus.mixByBudget(df, "dom", "id", "text",
      Seq("a" -> 50L, "b" -> 77L)))
    val bucketed = canon(Corpus.mixByBudgetBucketed(df, "dom", "id", "text",
      Seq("a" -> 50L, "b" -> 77L), bucketWidth = 1L << 20))
    assert(plain == bucketed && plain.nonEmpty)
    // NULL domain: both plans must keep it under the default budget
    // (the bucketed carry join is null-safe — a plain equi-join
    // silently dropped these rows)
    val withNull = (1L to 20L).map(i => (i, "a", "w w"))
      .toDF("id", "dom", "text")
      .union(Seq((99L, null.asInstanceOf[String], "w w w"))
        .toDF("id", "dom", "text"))
    val p2 = canon(Corpus.mixByBudget(withNull, "dom", "id", "text",
      Seq("a" -> 10L), defaultBudget = 100L))
    val b2 = canon(Corpus.mixByBudgetBucketed(withNull, "dom", "id", "text",
      Seq("a" -> 10L), defaultBudget = 100L, bucketWidth = 1L << 20))
    assert(p2 == b2)
    assert(p2.exists(_._1 == 99L), "the NULL-domain row must survive both plans")
  }

  test("contaminationAtScale == broadcast contamination; bloom probe is in the plan") {
    val pred = col("doc_id") % 97 === 0
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val plain = canon(Corpus.contamination(docs, "doc_id", "text", pred))
    // identical at a loose fpp too — the exact join removes every
    // bloom false positive, so fpp never changes the answer
    val scaled = Corpus.contaminationAtScale(docs, "doc_id", "text", pred,
      fpp = 0.2)
    assert(canon(scaled) == plain)
    assert(scaled.queryExecution.executedPlan.toString
      .contains("graft_bloom_might_contain"),
      "the gram stream must be bloom-prefiltered")
  }

  test("exportShards: durable shard-pruned table, deterministic manifest, versioned re-export") {
    import graft.sources.Snapshots
    def canonM(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val root = java.nio.file.Files
      .createTempDirectory("graft_exportspec").toString
    val m1 = canonM(Corpus.exportShards(docs, "doc_id", "text",
      s"$root/a", budget = 512, shards = 4))
    // manifest totals match the source corpus exactly
    assert(m1.map(_._2).sum == docs.count())
    assert(m1.map(_._3).sum ==
      docs.select(sum(graft.functions.Text.tokenCountWs(col("text")).cast("long")))
        .head().getLong(0))
    // a second export of the same data is byte-identical
    val m2 = canonM(Corpus.exportShards(docs, "doc_id", "text",
      s"$root/b", budget = 512, shards = 4))
    assert(m1 == m2)
    // a trainer reading one shard gets exactly that shard's docs,
    // through the manifest's shard stats
    val one = Snapshots.readPrunedBy(spark, s"$root/a", Map("shard" -> (2, 2)))
      .filter(col("shard") === 2)
    assert(one.count() == docs.filter(col("doc_id") % 4 === 2).count())
    // re-export into the SAME dir publishes a new version; the old
    // one stays readable (versioned history)
    Corpus.exportShards(docs.limit(10), "doc_id", "text",
      s"$root/a", budget = 512, shards = 4)
    assert(Snapshots.read(spark, s"$root/a", version = Some(0L)).count() ==
      docs.count())
  }
}
