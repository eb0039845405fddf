package graft

import org.apache.spark.sql.functions._
import graft.operators.Corpus
import graft.sources.{IncrementalViews, Snapshots}
import graft.streaming.CorpusIngest

/** The deployment story, end to end: a raw landing batch flows
  * through [[CorpusIngest.ingestBatch]] (quality gate → exact/near/
  * cross-corpus dedup → exactly-once silver commit), the whole
  * round-14 serving stack (positional text index, word-frequency
  * view, spell index) maintains itself off the silver table's change
  * feed, and the user-facing serves (search with did-you-mean,
  * spellSuggest, prefixSuggest) answer correctly after churn — a
  * takedown delete included — and after a crash replay of both the
  * ingest batch and every maintainer tick. */
class MedallionServeSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_medallion").toString

  // ~40 English tokens, the seed woven into every clause (distinct
  // seeds share almost no shingles; a copy with one extra token stays
  // a near-dup), the topic word appearing 12 times per doc
  private def doc(seed: String, topic: String): String =
    (1 to 12).map(i => s"the $seed$i $topic and").mkString(" ") +
      " it was stable in the season"

  test("bronze batch -> ingest -> silver -> maintained text/word/spell stack -> serves, across churn and crash replay") {
    val s = spark; import s.implicits._
    val (silver, mhidx) = (tmp(), tmp())
    val (views, wfreq, spell) = (tmp(), tmp(), tmp())
    val (ckText, ckWord, ckSpell) = (tmp(), tmp(), tmp())

    def tickServing(): Unit = {
      IncrementalViews.maintain(spark, Seq(silver), ckText) { () =>
        IncrementalViews.refreshTextIndex(spark, silver, views,
          "doc_id", "text", positional = true)
      }.awaitTermination()
      IncrementalViews.maintain(spark, Seq(silver), ckWord) { () =>
        IncrementalViews.refreshWordFreq(spark, silver, wfreq, "text")
      }.awaitTermination()
      // the spell index cascades off the word-freq VIEW's own feed —
      // zero corpus I/O
      IncrementalViews.maintain(spark, Seq(wfreq), ckSpell) { () =>
        IncrementalViews.refreshSpellIndex(spark, wfreq, spell, maxEdits = 1)
      }.awaitTermination()
    }
    def live() = Snapshots.read(spark, silver).select("doc_id", "text")
    def freshTop(terms: Seq[String], k: Int) =
      Corpus.bm25(live(), "doc_id", "text", terms)
        .collect().map(r => r.getLong(0) -> r.getDouble(1))
        .sortBy { case (id, sc) => (-sc, id) }.take(k).toSeq
    def liveFreq(word: String): Long = live()
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") === word).count()

    // ---- arrival 1: good docs, a quality reject, an exact dup ----
    val b0 = Seq(
      (1L, doc("alpha", "telescope")),
      (2L, doc("beta", "telescope")),
      (3L, doc("gamma", "galaxy")),
      (4L, "too short"),                       // quality reject
      (5L, doc("beta", "telescope"))           // exact dup of 2
    ).toDF("doc_id", "text")
    val s0 = CorpusIngest.ingestBatch(b0, 0L, silver, mhidx,
      "doc_id", "text", threshold = 0.8)
    assert(s0.accepted == 3 && s0.failedQuality == 1 &&
      s0.dupInBatch == 1, s0)
    tickServing()

    // misspelled query serves the corrected page with the audit; the
    // ranking equals a from-scratch BM25 over the live silver corpus
    def page() = IncrementalViews.search(spark, views, Seq("telescpe"),
        k = 3, spellIndex = Some(spell))
      .collect().sortBy(_.getLong(1))
    val p1 = page()
    assert(p1.nonEmpty && p1.forall(_.getString(5) == "telescpe->telescope"))
    assert(p1.map(r => r.getLong(0) -> r.getDouble(2)).toSeq ==
      freshTop(Seq("telescope"), 3),
      "served ranking must equal from-scratch BM25 over live silver")
    assert(p1.map(_.getLong(0)).toSet == Set(1L, 2L),
      "the rejected and dup docs must never reach the page")

    // ---- arrival 2 + takedown: cross-corpus dup dropped, doc 2 erased
    val b1 = Seq(
      (6L, doc("delta", "quasar")),
      (7L, doc("alpha", "telescope") + " postscript") // near-dup of 1
    ).toDF("doc_id", "text")
    val s1 = CorpusIngest.ingestBatch(b1, 1L, silver, mhidx,
      "doc_id", "text", threshold = 0.8)
    assert(s1.accepted == 1 && s1.dupVsCorpus == 1, s1)
    Snapshots.deleteWhere(spark, silver, col("doc_id") === 2L)
    tickServing()
    assert(live().select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 3L, 6L))

    val p2 = page()
    assert(p2.map(_.getLong(0)).toSeq == Seq(1L),
      "the takedown must leave doc 1 as the only telescope hit")
    assert(p2.map(r => r.getLong(0) -> r.getDouble(2)).toSeq ==
      freshTop(Seq("telescope"), 3))
    // spell + prefix serves carry the LIVE frequency (12 after the
    // takedown halved it), straight from the maintained views
    val sg = IncrementalViews.spellSuggest(spark, spell, "telescpe")
      .collect().head
    assert(sg.getString(0) == "telescope" &&
      sg.getLong(1) == liveFreq("telescope") && sg.getLong(1) == 12L)
    val pf = IncrementalViews.prefixSuggest(spark, wfreq, "tele")
      .collect().head
    assert(pf.getString(0) == "telescope" && pf.getLong(1) == 12L)

    // ---- crash replay: the ingest batch is fenced, every maintainer
    // tick re-runs as a no-op, and the serves answer bit-identically
    val s1r = CorpusIngest.ingestBatch(b1, 1L, silver, mhidx,
      "doc_id", "text", threshold = 0.8)
    assert(s1r.fenced && s1r.accepted == 0, s1r)
    tickServing()
    assert(page().map(_.toSeq).toSeq == p2.map(_.toSeq).toSeq,
      "a replayed stack must not change a single served row")
    assert(IncrementalViews.spellSuggest(spark, spell, "telescpe")
      .collect().head.getLong(1) == 12L)
  }
}
