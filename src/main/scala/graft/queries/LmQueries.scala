package graft
package queries

import graft.SparkEntry.{checkedOncePerWave, fixture}
import graft.functions.Text
import graft.index.IndexStore
import graft.pipeline.Curation
import graft.queries.Shared._
import graft.text.{CorpusAnalysis, LanguageModel, Vocab}
import graft.util.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Language-model, vocabulary and BPE queries, persisted and as-of. */
private[graft] object LmQueries {

  /** North-star corpus vocabulary/Zipf statistics (one row): vocab size,
    * hapax count, token-mass share of the 100-term head. */
  val qVocabStats = Query("q_vocab_stats",
      CorpusAnalysis.sqlVocabStats("documents", "text"))((spark, dir) =>
    CorpusAnalysis.vocabStats(Tables.documents(spark, dir), "text"))

  /** North-star LM-perplexity quality scoring (CCNet-shape): corpus
    * self-perplexity under an add-one bigram LM — outlier docs (unusual
    * token sequences) surface with high ppl. Train-on-A/score-B is the same
    * operator with a different train corpus (LanguageModelSpec). */
  val qLmScore = Query("q_lm_score",
      s"""WITH ${LanguageModel.sqlSelfScoreCtes("documents", "doc_id", "text")}
         |SELECT id AS doc_id, lm_nlp, ppl, n_bigrams
         |FROM lmscore ORDER BY doc_id""".stripMargin)((spark, dir) =>
    LanguageModel.selfScore(Tables.documents(spark, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id"))

  /** The quality-filter LM as a PERSISTED family ([[IndexStore.saveLm]]):
    * bigram + unigram count deltas accreted per ingest wave (both
    * invertible sums — the word-count family's discipline one level up:
    * prefix counts are DERIVED from the bigram fold so they can never
    * drift, vocab size is the unigram fold's surviving support), with
    * the erased-id ledger, logical-clock waves, staleness fingerprint,
    * compaction, and as-of horizons every persisted family carries. */
  private def lmPath(spark: SparkSession, dir: String): String =
    persistedThirds(spark, dir, "lm")(IndexStore.saveLm(_, "doc_id", "text", _),
      IndexStore.appendBatchLm(_, "doc_id", "text", _, _))
  private def corpusLmDisk(spark: SparkSession, dir: String)
      : LanguageModel.BigramLm = {
    val path = lmPath(spark, dir)
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    checkedOncePerWave(spark, dir, "lm")(
      IndexStore.loadLmChecked(spark, path, d, "doc_id", "text"))(
      IndexStore.loadLm(spark, path))
  }

  /** Perplexity scoring from the PERSISTED LM fold ([[corpusLmDisk]] —
    * three committed waves): the folded model must equal a fresh
    * [[LanguageModel.train]] over the committed corpus, so this shares
    * `q_lm_score`'s self-score oracle verbatim — a drifted bigram fold,
    * a prefix count disagreeing with its bigrams, or a wrong vocab size
    * all fail the hash. Scoring cost is unchanged (two count-table
    * joins); what the family buys is the TRAIN side: the model tracks
    * the corpus at wave cost instead of a per-refresh rescan. */
  val qLmScoreInc = Query("q_lm_score_inc",
      // the persisted fold must equal a fresh train over the committed
      // corpus — SAME self-score arithmetic as q_lm_score
      qLmScore.oracleSql)((spark, dir) =>
    LanguageModel.score(corpusLmDisk(spark, dir),
        Tables.documents(spark, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id"))

  /** LM TIME TRAVEL ([[IndexStore.loadLmAsOf]]): score TODAY'S corpus
    * under the LM the BASE build saw (horizon −1 — the earliest legal
    * horizon, exercising the boundary) — the frozen-trusted-LM
    * production pattern (quality gates deliberately pin the scoring
    * model while the corpus moves) as a marker filter instead of a
    * snapshot copy. The oracle trains on exactly the horizon corpus
    * (doc_id %% 3 = 0) and LEFT-join-scores the full table, so the
    * unseen-bigram smoothing path is hash-checked too. */
  val qLmScoreAsof = Query("q_lm_score_asof",
      // LM as of the base wave scoring the FULL corpus: the oracle trains
      // on exactly the horizon subset and LEFT-join-scores everything, so
      // the unseen-bigram smoothing path is hash-checked too
      s"""WITH ${LanguageModel.sqlScoreCtes(
             "(SELECT * FROM documents WHERE doc_id % 3 = 0)",
             "documents", "doc_id", "text")}
         |SELECT id AS doc_id, lm_nlp, ppl, n_bigrams
         |FROM lmscore ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    corpusLmDisk(spark, dir) // build fixture + tip freshness
    LanguageModel.score(
        IndexStore.loadLmAsOf(spark, lmPath(spark, dir), throughWave = -1L),
        Tables.documents(spark, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** ORDER-3 quality LM with stupid backoff
    * ([[LanguageModel.train3]]/[[LanguageModel.score3]], Brants et al.
    * 2007): the CCNet-style gate at the order the add-one bigram can't
    * reach. All arithmetic is exact integer counts + a fixed α = 0.4 —
    * the oracle rebuilds the identical three count tables and CASE
    * backoff in SQL, so every branch (observed trigram, bigram backoff,
    * unigram floor) is hash-checked. */
  val qLm3Score = Query("q_lm3_score",
      // the order-3 stupid-backoff gate: identical CASE backoff over the
      // identical exact counts — every branch hash-checked
      s"""WITH ${LanguageModel.sqlScore3Ctes("documents", "documents",
             "doc_id", "text")}
         |SELECT id AS doc_id, lm3_nlp, ppl3, n_trigrams
         |FROM lm3score ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
    LanguageModel.score3(LanguageModel.train3(d, "doc_id", "text"),
        d, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** The order-3 LM as the SIXTEENTH persisted family
    * ([[IndexStore.saveLm3]]): trigram/bigram/unigram count deltas per
    * ingest wave (all invertible sums), N and V derived from the
    * unigram fold, ledger/clock/fingerprint/as-of like every family.
    * The fold must equal a fresh [[LanguageModel.train3]] over the
    * committed corpus — shares `q_lm3_score`'s oracle verbatim. */
  private def lm3Path(spark: SparkSession, dir: String): String =
    persistedThirds(spark, dir, "lm3")(IndexStore.saveLm3(_, "doc_id", "text", _),
      IndexStore.appendBatchLm3(_, "doc_id", "text", _, _))
  private def corpusLm3Disk(spark: SparkSession, dir: String)
      : LanguageModel.TrigramLm = {
    val path = lm3Path(spark, dir)
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    checkedOncePerWave(spark, dir, "lm3")(
      IndexStore.loadLm3Checked(spark, path, d, "doc_id", "text"))(
      IndexStore.loadLm3(spark, path))
  }

  val qLm3ScoreInc = Query("q_lm3_score_inc",
      // the persisted fold must equal a fresh order-3 train — same oracle
      qLm3Score.oracleSql)((spark, dir) =>
    LanguageModel.score3(corpusLm3Disk(spark, dir),
        Tables.documents(spark, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id"))

  /** Order-3 TIME TRAVEL ([[IndexStore.loadLm3AsOf]], the
    * [[qLmScoreAsof]] contract one order up): score today's corpus
    * under the trigram LM the BASE build saw — the oracle trains on
    * exactly the horizon subset and scores everything, so the bigram-
    * backoff and unigram-floor branches are exercised on every word the
    * horizon never saw. */
  val qLm3ScoreAsof = Query("q_lm3_score_asof",
      // frozen order-3 LM at the base horizon scoring the moved-on corpus
      s"""WITH ${LanguageModel.sqlScore3Ctes(
             "(SELECT * FROM documents WHERE doc_id % 3 = 0)",
             "documents", "doc_id", "text")}
         |SELECT id AS doc_id, lm3_nlp, ppl3, n_trigrams
         |FROM lm3score ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    corpusLm3Disk(spark, dir) // build fixture + tip freshness
    LanguageModel.score3(
        IndexStore.loadLm3AsOf(spark, lm3Path(spark, dir),
          throughWave = -1L),
        Tables.documents(spark, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** The order-3 quality gate over a MULTILINGUAL corpus — the alphabet
    * threaded through [[LanguageModel.train3]]/[[LanguageModel.score3]]:
    * under the frozen alphabet every planted non-Latin token vanishes
    * from the model AND the scored positions; under
    * [[Text.UnicodeSplitRe]] they participate in all three backoff
    * branches (the per-doc-varying Cyrillic tail makes real unseen-word
    * floors, not constants). */
  val qLm3ScoreUnicode = Query("q_lm3_score_unicode",
      // the multilingual order-3 gate: same CASE backoff, Unicode alphabet
      s"""WITH ${LanguageModel.sqlScore3Ctes(multilingualDocsSql,
             multilingualDocsSql, "doc_id", "text", Text.UnicodeSplitRe)}
         |SELECT id AS doc_id, lm3_nlp, ppl3, n_trigrams
         |FROM lm3score ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val d = multilingualDocs(spark, dir)
    LanguageModel.score3(
        LanguageModel.train3(d, "doc_id", "text", Text.UnicodeSplitRe),
        d, "doc_id", "text", Text.UnicodeSplitRe)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** The vocab family under the Unicode alphabet ([[Vocab.wordCounts]]
    * threading): exact counts of every planted non-Latin word — corpus
    * arithmetic both engines recompute from the augmentation rule. The
    * non-ascii filter keeps the gate row focused on the tokens the frozen
    * alphabet loses. */
  val qWordCountsUnicode = Query("q_wordcounts_unicode",
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest(${Text.sqlTokensUnicode("text")}) AS word
         |      FROM $multilingualDocsSql)
         |WHERE regexp_matches(word, '[^a-z0-9]')
         |GROUP BY word ORDER BY word""".stripMargin)((spark, dir) =>
    Vocab.wordCounts(multilingualDocs(spark, dir), "text",
        Text.UnicodeSplitRe)
      .where(col("word").rlike("[^a-z0-9]"))
      .orderBy("word"))

  /** North-star BPE vocabulary learning, stage-1 statistic gate-checked
    * ([[Vocab.pairCounts]]): the adjacent-character pair-count relation
    * the FIRST merge is argmax'd from, top-20 under the learner's own
    * deterministic (cnt DESC, l, r) order. One corpus scan builds the
    * vocabulary-bounded word-count table; the pair explosion runs on
    * THAT, never on the corpus. */
  val qBpePairs = Query("q_bpe_pairs",
      s"""SELECT l, r, cnt FROM (${Vocab.sqlPairCounts("documents", "text")})
         |ORDER BY cnt DESC, l, r LIMIT 20""".stripMargin)((spark, dir) =>
    Vocab.pairCounts(
        Vocab.wordCounts(Tables.documents(spark, dir), "text")
          .select(Vocab.encodeChars(col("word")).as("enc"), col("cnt")))
      .orderBy(desc("cnt"), asc("l"), asc("r"))
      .limit(20))

  /** The BPE learn LOOP itself under the gate ([[Vocab.learnBpe]]): three
    * merges learned from the documents corpus, hash-checked against a
    * DuckDB rendition that unrolls the same three iterations in CTEs
    * (same ¬-separated encoding, same non-overlapping replace, same
    * tie-break — see the [[Vocab]] scaladoc for why that replace IS
    * greedy BPE application). */
  val qBpeMerges = Query("q_bpe_merges",
      Vocab.sqlLearnBpe("documents", "text", 3)) { (spark, dir) =>
    import spark.implicits._
    Vocab.learnBpe(Tables.documents(spark, dir), "text", 3).toDF()
  }

  /** Learn-then-APPLY end to end: per-document subword token counts under
    * the three learned merges ([[Vocab.tokenizeBpe]] — at gate size the
    * dispatch lands on the chained-literal-replace rendition, the
    * DuckDB-twinnable form; the ≥ 1k-merge production path is the
    * compiled single-node expression, output-equality property-pinned in
    * VocabSpec). The oracle re-learns the same merges and re-applies
    * them per document in one statement. */
  val qBpeTokenize = Query("q_bpe_tokenize",
      s"""SELECT id AS doc_id, n_bpe
         |FROM (${Vocab.sqlTokenizeCounts("documents", "doc_id", "text", 3)})
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val merges = Vocab.learnBpe(Tables.documents(spark, dir), "text", 3)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(Vocab.tokenizeBpe(col("text"), merges)).cast("long").as("n_bpe"))
      .orderBy("doc_id")
  }

  /** North-star keyword extraction: per-doc top-3 terms by tf-idf with
    * partition-local window ranking. */
  val qTopTerms = Query("q_top_terms",
      (Curation.sqlTopTerms("documents", "doc_id", "text", 3)
        .replace("SELECT id, term, tfidf, rank FROM ranked",
          "SELECT id AS doc_id, term, tfidf, rank FROM ranked") +
        "\nORDER BY doc_id, rank"))((spark, dir) =>
    Curation.topTerms(Tables.documents(spark, dir), "doc_id", "text", k = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "rank"))

  /** Persisted WORD-COUNT (vocab) family fixture — the same thirds-wave
    * shape as [[corpusBm25AsofDisk]]: base wave A, appends B (wave 0)
    * and C (wave 1). The fold must equal a from-scratch
    * [[Vocab.wordCounts]] over the full corpus. */
  private def wordCountsPath(spark: SparkSession, dir: String): String =
    persistedThirds(spark, dir, "wc")(IndexStore.saveWordCounts(_, "doc_id", "text", _),
      IndexStore.appendBatchWordCounts(_, "doc_id", "text", _, _))
  private[graft] def corpusWordCountsDisk(spark: SparkSession, dir: String)
      : DataFrame = {
    val path = wordCountsPath(spark, dir)
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    checkedOncePerWave(spark, dir, "word-counts")(
      IndexStore.loadWordCountsChecked(spark, path, d, "doc_id", "text"))(
      IndexStore.loadWordCounts(spark, path))
  }

  /** BPE learning at WAVE CADENCE ([[Vocab.learnBpeFromCounts]] over the
    * persisted word-count family's fold): the learn loop runs with ZERO
    * corpus scans — the waves paid the tokenize at append time — and
    * must produce EXACTLY the merges the from-scratch [[qBpeMerges]]
    * learns, so it shares that query's oracle verbatim (the fold ≡
    * fresh-wordCounts contract, hash-checked). */
  val qBpeMergesInc = Query("q_bpe_merges_inc",
      // the wave-cadence twin learns from the persisted word-count fold,
      // which must equal a fresh corpus scan's counts — SAME oracle
      qBpeMerges.oracleSql) { (spark, dir) =>
    import spark.implicits._
    // the FAST loop (incremental pair-count maintenance,
    // [[Vocab.learnBpeFastFromCounts]]) runs here so the production
    // learner is itself gate-checked — output-identical to the naive
    // loop by construction, so the SAME unrolled DuckDB oracle applies
    Vocab.learnBpeFastFromCounts(corpusWordCountsDisk(spark, dir), 3).toDF()
  }

  /** The PLAN-DISPATCHED learn loop under the gate
    * ([[Vocab.learnBpeAutoFromCounts]]): [[Vocab.planLearn]] prices the
    * word table and — at gate scale as at most production scales, the
    * table being vocabulary-bounded — picks the DRIVER-LOCAL regime
    * (collect once, learn in-process, 2 Spark jobs total instead of
    * 3·nMerges sequential driver-blocking jobs — the ~1000× wall-clock
    * fix for 10k-merge production vocabularies). Output-identical to
    * both distributed loops by construction, so the SAME unrolled
    * DuckDB oracle applies verbatim. */
  val qBpeMergesLocal = Query("q_bpe_merges_local",
      // the driver-local regime is output-identical by construction —
      // same unrolled oracle as the distributed loops
      qBpeMerges.oracleSql) { (spark, dir) =>
    import spark.implicits._
    Vocab.learnBpeAutoFromCounts(corpusWordCountsDisk(spark, dir), 3).toDF()
  }

  /** BPE over a MULTILINGUAL vocabulary: the learn loop on Unicode word
    * counts ([[Vocab.wordCounts]] under [[Text.UnicodeSplitRe]] over the
    * planted fixture). The `¬sym·` encoding carries Unicode symbols
    * unchanged (both wrappers are outside `\p{L}\p{N}` — the object-doc
    * invariant), the local learner splits by CODE POINT exactly like the
    * oracle's `regexp_replace(word, '(.)', ...)`, and argmax ties break
    * in UTF-8 byte order on both engines. Under the frozen alphabet the
    * planted Cyrillic/CJK words would not exist to learn from. */
  val qBpeMergesUnicode = Query("q_bpe_merges_unicode",
      // same unrolled learn, Unicode alphabet, multilingual fixture
      Vocab.sqlLearnBpe(multilingualDocsSql, "text", 3,
        Text.UnicodeSplitRe)) { (spark, dir) =>
    import spark.implicits._
    Vocab.learnBpeAutoFromCounts(
      Vocab.wordCounts(multilingualDocs(spark, dir), "text",
        Text.UnicodeSplitRe), 3).toDF()
  }

  /** The composition receipt: BPE merges learned from the vocab AS OF
    * wave 0 ([[IndexStore.loadWordCountsAsOf]] over the persisted
    * word-count family) — "re-learn exactly the tokenizer a wave-0
    * training run saw", with the oracle re-deriving the same merges
    * from scratch over exactly the horizon corpus (A∪B = doc_id%3 ≠ 2).
    * Zero corpus scans on the Spark side; the horizon filter is a
    * marker filter. */
  val qBpeVocabAsof = Query("q_bpe_vocab_asof",
      // time travel x vocab: merges as of wave 0 — the oracle learns from
      // scratch over exactly the horizon corpus
      Vocab.sqlLearnBpe(
      "(SELECT * FROM documents WHERE doc_id % 3 <> 2)", "text", 3)) { (spark, dir) =>
    import spark.implicits._
    // tip freshness once per session (the fixture accessor's usual
    // guard), then the horizon fold
    corpusWordCountsDisk(spark, dir)
    Vocab.learnBpeFromCounts(
      IndexStore.loadWordCountsAsOf(spark,
        wordCountsPath(spark, dir), throughWave = 0L), 3).toDF()
  }

  /** VOCABULARY DRIFT between the wave-0 horizon and the tip of the
    * persisted word-count family ([[Vocab.countsDiff]]) — the
    * measurement [[Vocab.planRefresh]] prices tokenizer relearning
    * from: top-20 words by absolute count delta. Both sides are
    * marker-filtered folds of the SAME persisted deltas (no corpus
    * scan); the oracle recomputes both vocabularies from scratch.
    *
    * Plan note: the FULL OUTER word join surfaces as a SortMergeJoin in
    * the plan audit — correct by design: both sides are
    * vocabulary-sized (≫ broadcast at 100 TB) and Spark cannot
    * broadcast a full-outer side regardless; equality-keyed SMJ is the
    * right physical join here. */
  val qVocabDrift = Query("q_vocab_drift",
      // vocabulary drift: both horizons recomputed from scratch
      s"""SELECT * FROM (${Vocab.sqlCountsDiff(
             "(SELECT * FROM documents WHERE doc_id % 3 <> 2)",
             "documents", "text")})
         |ORDER BY abs(delta) DESC, word LIMIT 20""".stripMargin) { (spark, dir) =>
    corpusWordCountsDisk(spark, dir) // build fixture + tip freshness
    val path = wordCountsPath(spark, dir)
    Vocab.countsDiff(
        IndexStore.loadWordCountsAsOf(spark, path, throughWave = 0L),
        IndexStore.loadWordCounts(spark, path))
      .orderBy(abs(col("delta")).desc, col("word"))
      .limit(20)
  }

  /** Tolerance for the gate-checked tokenizer-refresh decision: waves B
    * and C each add ≈ a third of the tip's token mass, so the wave-0 →
    * tip changed-mass ratio sits near 2/3 at every SF — 0.25 leaves the
    * RECOMMEND branch a wide margin (the stay branch is boundary-pinned
    * in VocabSpec). Policy input, measured everything else. */
  private val VocabRefreshTol = 0.25

  /** The REFRESH ADVISOR'S ARITHMETIC under the gate
    * ([[Vocab.planRefresh]] — VERDICT r12 item 5, the
    * `q_hist_selectivity` pattern of gating the estimator itself): one
    * row of (mass_then, mass_now, changed_mass, ratio, recommend)
    * between the wave-0 horizon and the tip of the persisted word-count
    * family, with the oracle recomputing all five measurements from the
    * two horizon corpora from scratch. The Spark side prices from the
    * marker-filtered FOLDS (zero corpus scans — the whole point of the
    * family); a drifted fold, a wrong |delta| sum, or a flipped
    * recommendation fails the hash. */
  val qVocabRefreshPlan = Query("q_vocab_refresh_plan",
      // the refresh advisor's five measurements recomputed from the two
      // horizon corpora from scratch (the Spark side reads only the
      // persisted folds); recommend applies the same declared tolerance
      // to the UNROUNDED ratio on both sides
      s"""SELECT sum(cnt_then)::BIGINT AS mass_then,
         |       sum(cnt_now)::BIGINT AS mass_now,
         |       sum(abs(delta))::BIGINT AS changed_mass,
         |       round(sum(abs(delta))::DOUBLE / sum(cnt_now), 6) AS ratio,
         |       (sum(abs(delta))::DOUBLE / sum(cnt_now)) > 0.25 AS recommend
         |FROM (${Vocab.sqlCountsDiff(
             "(SELECT * FROM documents WHERE doc_id % 3 <> 2)",
             "documents", "text")})""".stripMargin) { (spark, dir) =>
    corpusWordCountsDisk(spark, dir) // build fixture + tip freshness
    val path = wordCountsPath(spark, dir)
    val plan = Vocab.planRefresh(
      Vocab.countsDiff(
        IndexStore.loadWordCountsAsOf(spark, path, throughWave = 0L),
        IndexStore.loadWordCounts(spark, path)),
      tolerance = VocabRefreshTol)
    import spark.implicits._
    Seq((plan.massThen, plan.massNow, plan.changedMass,
        BigDecimal(plan.ratio).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble,
        plan.recommend))
      .toDF("mass_then", "mass_now", "changed_mass", "ratio", "recommend")
  }
}
