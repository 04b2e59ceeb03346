package graft.text

import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus bigram language model + perplexity scoring — the classic
  * LM-based quality filter for training-data curation (CCNet-style: train a
  * small LM on a trusted corpus, score candidate documents, gate on
  * perplexity; the reference has no LM surface — this is a north-star
  * addition like the dedup family, designed for the 100 TB pipeline).
  *
  * Model: add-one-smoothed bigram LM over the frozen tokenizer
  * ([[Text.tokens]] — the same tokenization BM25 and the dedup shingles
  * use, so one staged token array serves every text operator):
  *
  *   p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)
  *
  * where `c(w1,w2)` counts the bigram in the training corpus, `c(w1)`
  * counts w1 as a bigram PREFIX (positions 1..n−1 — the event space the
  * conditional is normalized over), and `V` is the training vocabulary
  * size. A document's score is the mean negative log-probability of its
  * bigrams (`lm_nlp`, natural log) and its exponential (`ppl`, the
  * perplexity): higher = less like the training corpus. Unseen bigrams and
  * unseen prefixes are well-defined through the smoothing (c = 0), so a
  * model trained on corpus A scores ANY corpus B.
  *
  * Scale shape: training is two map-side-combinable groupBy counts over
  * exploded bigrams plus one distinct-count (shuffles keyed by bigram/term
  * hash — no skew beyond natural token skew, which AQE splits). Scoring is
  * doc-bigrams ⟕ bigram-counts ⟕ prefix-counts — two equi-joins against
  * count tables that at 100 TB are Parquet side tables bucketed by their
  * join key (the [[graft.index.IndexStore]] postings layout applies
  * verbatim), then one map-side-combinable per-doc aggregation. No windows,
  * no driver collect (the vocab size is a single scalar), no UDFs.
  *
  * Determinism: counts are exact integers; the only floats are ln and the
  * final mean, rounded to [[ScoreDecimals]] on both engines (the BM25
  * precedent — SURVEY §7.4 risk 4).
  */
object LanguageModel {
  val ScoreDecimals = 6

  /** @param bigramCounts (w1, w2, c)      — training bigram counts
    * @param prefixCounts (w1, cc)         — training bigram-prefix counts
    * @param vocabSize    V                — distinct training tokens */
  final case class BigramLm(bigramCounts: DataFrame, prefixCounts: DataFrame, vocabSize: Long)

  /** Per-document bigram pairs: (id, w1, w2) — one row per ADJACENT token
    * pair, built narrowly from the staged token array (zip_with of the two
    * shifted slices; no self-join, no window). `private[graft]`: the
    * persisted LM family ([[graft.index.IndexStore.saveLm]]) builds its
    * per-wave count deltas from the same relation, so the two can never
    * disagree about what a bigram is. */
  private[graft] def pairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    pairs(docs, idCol, textCol, Text.SplitRe)

  private[graft] def pairs(docs: DataFrame, idCol: String, textCol: String,
      splitRe: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        Text.tokens(col(textCol), splitRe).as("toks"))
      .select(col("id"), explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("id"), col("bg.w1"), col("bg.w2"))

  /** Train on a corpus (the offline job — run once on the trusted corpus,
    * persist the two count tables like any index). */
  def train(docs: DataFrame, idCol: String, textCol: String): BigramLm =
    train(docs, idCol, textCol, Text.SplitRe)

  /** [[train]] under an explicit token alphabet ([[Text.UnicodeSplitRe]]
    * for a multilingual corpus — the frozen default trains an EMPTY
    * model on non-Latin text). */
  def train(docs: DataFrame, idCol: String, textCol: String,
      splitRe: String): BigramLm = {
    val p = pairs(docs, idCol, textCol, splitRe)
    val bigramCounts = p.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val prefixCounts = p.groupBy("w1").agg(count(lit(1)).as("cc"))
    val vocabSize = docs
      .select(explode(Text.tokens(col(textCol), splitRe)).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    BigramLm(bigramCounts, prefixCounts, vocabSize)
  }

  /** Score documents under a trained model: (id, lm_nlp, ppl, n_bigrams) —
    * docs with fewer than two tokens have no bigrams and no row (a
    * zero-evidence doc has no perplexity; gate it on length instead). */
  def score(lm: BigramLm, docs: DataFrame, idCol: String, textCol: String): DataFrame =
    score(lm, docs, idCol, textCol, Text.SplitRe)

  /** [[score]] under an explicit token alphabet — must match the one the
    * model was trained with. */
  def score(lm: BigramLm, docs: DataFrame, idCol: String, textCol: String,
      splitRe: String): DataFrame = {
    val nlp = pairs(docs, idCol, textCol, splitRe)
      .join(lm.bigramCounts, Seq("w1", "w2"), "left")
      .join(lm.prefixCounts, Seq("w1"), "left")
      .withColumn("x", -log(
        (coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (coalesce(col("cc"), lit(0L)) + lit(lm.vocabSize.toDouble))))
    nlp.groupBy(col("id"))
      .agg(
        round(avg(col("x")), ScoreDecimals).as("lm_nlp"),
        round(exp(avg(col("x"))), ScoreDecimals).as("ppl"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Self-scoring convenience (corpus self-perplexity — the declared-query
    * shape: outlier documents stand out against the corpus's own LM). */
  def selfScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    score(train(docs, idCol, textCol), docs, idCol, textCol)

  // ------------------------------------------- trigram LM (stupid backoff)

  /** Backoff discount α — Brants et al. 2007 ("Large Language Models in
    * Machine Translation"), who found a FIXED α ≈ 0.4 matches learned
    * Kneser–Ney weights at corpus scale for filtering/ranking work.
    * Fixed, not learned: the whole point of stupid backoff is exact
    * integer-count arithmetic (SQL-expressible, oracle-able) with no
    * normalization pass. */
  val BackoffAlpha = 0.4

  /** Order-3 model with deterministic backoff — the CCNet-style quality
    * gate at an order the add-one bigram can't reach (add-one is a blunt
    * perplexity gate: it over-penalizes rare-but-clean technical text;
    * a trigram with backoff separates fluent from shuffled text far more
    * sharply). Score of a trigram position (w1 w2 w3):
    *
    *   S = c(w1w2w3) / c(w1w2)                   if c(w1w2w3) > 0
    *     = α · c(w2w3) / c(w2)                   else if c(w2w3) > 0
    *     = α² · (c(w3) + 1) / (N + V)            otherwise
    *
    * (denominators are safe by construction: an observed trigram implies
    * its leading bigram was observed, an observed bigram implies its
    * leading unigram). The final floor adds one at the unigram level ONLY
    * — stupid backoff is undefined on never-seen words, and a quality
    * gate must score any candidate document — keeping S total and exact.
    * All counts integers; the only floats are the divisions, ln, and the
    * rounded means (the BM25 determinism discipline).
    *
    * @param trigramCounts (w1, w2, w3, c3)
    * @param bigramCounts  (w1, w2, c2)
    * @param unigramCounts (word, c1)
    * @param totalTokens   N — training token count (Σ c1)
    * @param vocabSize     V — distinct training tokens */
  final case class TrigramLm(trigramCounts: DataFrame,
      bigramCounts: DataFrame, unigramCounts: DataFrame,
      totalTokens: Long, vocabSize: Long)

  /** Per-document trigram positions: (id, w1, w2, w3) — narrow zip of
    * three shifted slices of the staged token array (no join, no
    * window). `private[graft]`: the persisted lm3 family builds its
    * per-wave deltas from this same relation. */
  private[graft] def triples(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    triples(docs, idCol, textCol, Text.SplitRe)

  private[graft] def triples(docs: DataFrame, idCol: String,
      textCol: String, splitRe: String): DataFrame = {
    val n2 = greatest(size(col("toks")) - 2, lit(0))
    docs
      .select(col(idCol).as("id"),
        Text.tokens(col(textCol), splitRe).as("toks"))
      .select(col("id"), explode(zip_with(
        zip_with(
          slice(col("toks"), lit(1), n2),
          slice(col("toks"), lit(2), n2),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
        slice(col("toks"), lit(3), n2),
        (ab, c) => struct(ab.getField("w1").as("w1"),
          ab.getField("w2").as("w2"), c.as("w3")))).as("tg"))
      .select(col("id"), col("tg.w1"), col("tg.w2"), col("tg.w3"))
  }

  /** Train the order-3 model: three map-side-combinable counts over the
    * staged token arrays plus two scalars DERIVED from the unigram
    * relation (N = Σ c1, V = |unigrams| — derived so they can never
    * drift from the counts, the persisted-family discipline). */
  def train3(docs: DataFrame, idCol: String, textCol: String): TrigramLm =
    train3(docs, idCol, textCol, Text.SplitRe)

  /** [[train3]] under an explicit token alphabet. */
  def train3(docs: DataFrame, idCol: String, textCol: String,
      splitRe: String): TrigramLm = {
    val tg = triples(docs, idCol, textCol, splitRe)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val bg = pairs(docs, idCol, textCol, splitRe)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val uni = docs
      .select(explode(Text.tokens(col(textCol), splitRe)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c1"))
    fromCounts3(tg, bg, uni)
  }

  /** Assemble a [[TrigramLm]] from already-built count relations (the
    * persisted-family fold path) — N and V derived from the unigram
    * fold, never stored. */
  def fromCounts3(tg: DataFrame, bg: DataFrame, uni: DataFrame)
      : TrigramLm = {
    val r = uni.agg(sum(col("c1")), count(lit(1))).head()
    TrigramLm(tg, bg, uni,
      if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** Score documents under a trained order-3 model:
    * (id, lm3_nlp, ppl3, n_trigrams) — docs with fewer than three tokens
    * have no trigram positions and no row. Four LEFT equi-joins against
    * count tables (at 100 TB: parquet side tables bucketed by join key,
    * the postings layout) + one per-doc aggregation; no windows, no
    * UDFs, no driver collect. */
  def score3(lm: TrigramLm, docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    score3(lm, docs, idCol, textCol, Text.SplitRe)

  /** [[score3]] under an explicit token alphabet — must match the one
    * the model was trained with. */
  def score3(lm: TrigramLm, docs: DataFrame, idCol: String,
      textCol: String, splitRe: String): DataFrame =
    score3Join(lm, docs, idCol, textCol, splitRe, "auto")

  /** Max total count-table rows (trigram + bigram + unigram) for the
    * BROADCAST scoring regime: a count row hashes at ~100 B (three short
    * words + a long + relation overhead), so 2M rows is a ~200 MB hash
    * relation per executor — comfortable inside a 4 GB executor, and an
    * order of magnitude before the driver-side collect/serialize stall
    * becomes the bottleneck. Beyond it [[adviseScore3Join]] flips to the
    * BUCKETED regime: the count tables shuffle-hash on their join keys
    * (at 100 TB, persisted count tables are bucketed on those keys so
    * their shuffle is pre-paid by layout and only the corpus-side
    * triples move). The crossover is measured, not guessed —
    * `Measure scale`'s `lm3_bcast`/`lm3_bucketed` ladder (SCALE.md round-15
    * table): at gate scale broadcast wins (~1.5× — the count tables are
    * tiny), and the bucketed plan's flat per-point cost is what survives
    * when the vocabulary outgrows a hash relation. */
  val Lm3BroadcastMaxCountRows: Long = 2000000L

  /** "broadcast" | "bucketed" — the regime [[score3Join]] should run,
    * from the model's total count-table row count (cheap: three
    * vocabulary-bounded counts, or sidecar stats on a persisted fold). */
  def adviseScore3Join(countRows: Long): String =
    if (countRows <= Lm3BroadcastMaxCountRows) "broadcast" else "bucketed"

  /** [[score3]] with the count-table JOIN REGIME explicit: "auto" (the
    * planner decides — gate default), "broadcast" (count tables hashed
    * per executor, zero corpus shuffle), "bucketed" (shuffle-hash on the
    * join keys — the 100 TB regime where count tables outgrow a
    * broadcast; see [[Lm3BroadcastMaxCountRows]]). All three produce
    * IDENTICAL rows — the regime is a physical-plan choice, never a
    * semantics choice (LanguageModelSpec pins equality). */
  def score3Join(lm: TrigramLm, docs: DataFrame, idCol: String,
      textCol: String, splitRe: String, mode: String): DataFrame = {
    require(Seq("auto", "broadcast", "bucketed").contains(mode),
      s"unknown lm3 join mode '$mode' — auto | broadcast | bucketed")
    def side(df: DataFrame): DataFrame = mode match {
      case "broadcast" => broadcast(df)
      case "bucketed" => df.hint("shuffle_hash")
      case _ => df
    }
    val tgc = lm.trigramCounts
      .select(col("w1"), col("w2"), col("w3"), col("c3"))
    val ctx2 = lm.bigramCounts
      .select(col("w1"), col("w2"), col("c2").as("c2_ctx"))
    val bo2 = lm.bigramCounts
      .select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c2_bo"))
    val ctx1 = lm.unigramCounts
      .select(col("word").as("w2"), col("c1").as("c1_ctx"))
    val bo1 = lm.unigramCounts
      .select(col("word").as("w3"), col("c1").as("c1_bo"))
    val a = lit(BackoffAlpha)
    val s = when(coalesce(col("c3"), lit(0L)) > 0,
        col("c3").cast("double") / col("c2_ctx").cast("double"))
      .when(coalesce(col("c2_bo"), lit(0L)) > 0,
        a * col("c2_bo").cast("double") / col("c1_ctx").cast("double"))
      .otherwise(a * a * (coalesce(col("c1_bo"), lit(0L)) + lit(1.0)) /
        lit(lm.totalTokens.toDouble + lm.vocabSize.toDouble))
    triples(docs, idCol, textCol, splitRe)
      .join(side(tgc), Seq("w1", "w2", "w3"), "left")
      .join(side(ctx2), Seq("w1", "w2"), "left")
      .join(side(bo2), Seq("w2", "w3"), "left")
      .join(side(ctx1), Seq("w2"), "left")
      .join(side(bo1), Seq("w3"), "left")
      .withColumn("x", -log(s))
      .groupBy(col("id"))
      .agg(
        round(avg(col("x")), ScoreDecimals).as("lm3_nlp"),
        round(exp(avg(col("x"))), ScoreDecimals).as("ppl3"),
        count(lit(1)).as("n_trigrams"))
  }

  /** DuckDB rendition of train3+score3 with SEPARATE train and score
    * corpora, ending in `lm3score(id, lm3_nlp, ppl3, n_trigrams)` —
    * the same CASE backoff over the same exact counts. Paste after
    * `WITH `. */
  def sqlScore3Ctes(trainTable: String, scoreTable: String, idExpr: String,
      textExpr: String): String =
    sqlScore3Ctes(trainTable, scoreTable, idExpr, textExpr, Text.SplitRe)

  /** [[sqlScore3Ctes]] under an explicit token alphabet. */
  def sqlScore3Ctes(trainTable: String, scoreTable: String, idExpr: String,
      textExpr: String, splitRe: String): String =
    s"""l3toks AS (
       |  SELECT $idExpr AS id, ${Text.sqlTokens(textExpr, splitRe)} AS toks FROM $trainTable
       |), l3tg AS (
       |  SELECT z[1] AS w1, z[2] AS w2, z[3] AS w3, count(*) AS c3 FROM (
       |    SELECT unnest(list_zip(toks[1:len(toks)-2], toks[2:len(toks)-1],
       |                           toks[3:len(toks)])) AS z
       |    FROM l3toks WHERE len(toks) >= 3)
       |  GROUP BY 1, 2, 3
       |), l3bg AS (
       |  SELECT z[1] AS w1, z[2] AS w2, count(*) AS c2 FROM (
       |    SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
       |    FROM l3toks)
       |  GROUP BY 1, 2
       |), l3uni AS (
       |  SELECT t AS word, count(*) AS c1
       |  FROM (SELECT unnest(toks) AS t FROM l3toks) GROUP BY 1
       |), l3nv AS (
       |  SELECT sum(c1)::DOUBLE AS n, count(*)::DOUBLE AS v FROM l3uni
       |), l3stoks AS (
       |  SELECT $idExpr AS id, ${Text.sqlTokens(textExpr, splitRe)} AS toks FROM $scoreTable
       |), l3spos AS (
       |  SELECT id, z[1] AS w1, z[2] AS w2, z[3] AS w3 FROM (
       |    SELECT id, unnest(list_zip(toks[1:len(toks)-2], toks[2:len(toks)-1],
       |                               toks[3:len(toks)])) AS z
       |    FROM l3stoks WHERE len(toks) >= 3)
       |), l3nlp AS (
       |  SELECT p.id, -ln(CASE
       |      WHEN coalesce(t.c3, 0) > 0
       |        THEN t.c3::DOUBLE / cx.c2::DOUBLE
       |      WHEN coalesce(bo.c2, 0) > 0
       |        THEN $BackoffAlpha * bo.c2::DOUBLE / u2.c1::DOUBLE
       |      ELSE $BackoffAlpha * $BackoffAlpha
       |             * (coalesce(u3.c1, 0) + 1.0) / (l3nv.n + l3nv.v)
       |    END) AS nlp
       |  FROM l3spos p
       |  LEFT JOIN l3tg t USING (w1, w2, w3)
       |  LEFT JOIN l3bg cx USING (w1, w2)
       |  LEFT JOIN l3bg bo ON bo.w1 = p.w2 AND bo.w2 = p.w3
       |  LEFT JOIN l3uni u2 ON u2.word = p.w2
       |  LEFT JOIN l3uni u3 ON u3.word = p.w3
       |  CROSS JOIN l3nv
       |), lm3score AS (
       |  SELECT id, round(avg(nlp), $ScoreDecimals) AS lm3_nlp,
       |         round(exp(avg(nlp)), $ScoreDecimals) AS ppl3,
       |         count(*) AS n_trigrams
       |  FROM l3nlp GROUP BY 1
       |)""".stripMargin

  /** DuckDB rendition with SEPARATE train and score corpora, ending in a
    * `lmscore(id, lm_nlp, ppl, n_bigrams)` relation — the oracle for the
    * persisted-family queries (fold scoring, as-of scoring), where the
    * scored corpus can contain bigrams/prefixes the training horizon
    * never saw: LEFT joins + coalesce(0) reproduce [[score]]'s smoothing
    * exactly (identical arithmetic to the inner-join self-score when
    * train = score). Paste after `WITH `. */
  def sqlScoreCtes(trainTable: String, scoreTable: String, idExpr: String,
      textExpr: String): String =
    s"""lmtoks AS (
       |  SELECT $idExpr AS id, ${Text.sqlTokens(textExpr)} AS toks FROM $trainTable
       |), lmbg AS (
       |  SELECT id, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z FROM lmtoks
       |), lmpairs AS (
       |  SELECT id, z[1] AS w1, z[2] AS w2 FROM lmbg
       |), lmbgc AS (
       |  SELECT w1, w2, count(*) AS c FROM lmpairs GROUP BY 1, 2
       |), lmctx AS (
       |  SELECT w1, count(*) AS cc FROM lmpairs GROUP BY 1
       |), lmvocab AS (
       |  SELECT count(DISTINCT t)::DOUBLE AS v FROM (SELECT unnest(toks) AS t FROM lmtoks)
       |), lmstoks AS (
       |  SELECT $idExpr AS id, ${Text.sqlTokens(textExpr)} AS toks FROM $scoreTable
       |), lmsbg AS (
       |  SELECT id, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z FROM lmstoks
       |), lmspairs AS (
       |  SELECT id, z[1] AS w1, z[2] AS w2 FROM lmsbg
       |), lmnlp AS (
       |  SELECT p.id, -ln((coalesce(b.c, 0) + 1.0) / (coalesce(x.cc, 0) + lmvocab.v)) AS nlp
       |  FROM lmspairs p
       |  LEFT JOIN lmbgc b USING (w1, w2)
       |  LEFT JOIN lmctx x USING (w1)
       |  CROSS JOIN lmvocab
       |), lmscore AS (
       |  SELECT id, round(avg(nlp), $ScoreDecimals) AS lm_nlp,
       |         round(exp(avg(nlp)), $ScoreDecimals) AS ppl,
       |         count(*) AS n_bigrams
       |  FROM lmnlp GROUP BY 1
       |)""".stripMargin

  /** DuckDB rendition, ending in a `lmscore(id, lm_nlp, ppl, n_bigrams)`
    * relation (train = score corpus, matching [[selfScore]]). Paste after
    * `WITH `. */
  def sqlSelfScoreCtes(docsTable: String, idExpr: String, textExpr: String): String =
    s"""lmtoks AS (
       |  SELECT $idExpr AS id, ${Text.sqlTokens(textExpr)} AS toks FROM $docsTable
       |), lmbg AS (
       |  SELECT id, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z FROM lmtoks
       |), lmpairs AS (
       |  SELECT id, z[1] AS w1, z[2] AS w2 FROM lmbg
       |), lmbgc AS (
       |  SELECT w1, w2, count(*) AS c FROM lmpairs GROUP BY 1, 2
       |), lmctx AS (
       |  SELECT w1, count(*) AS cc FROM lmpairs GROUP BY 1
       |), lmvocab AS (
       |  SELECT count(DISTINCT t)::DOUBLE AS v FROM (SELECT unnest(toks) AS t FROM lmtoks)
       |), lmnlp AS (
       |  SELECT p.id, -ln((b.c + 1.0) / (x.cc + lmvocab.v)) AS nlp
       |  FROM lmpairs p
       |  JOIN lmbgc b USING (w1, w2)
       |  JOIN lmctx x USING (w1)
       |  CROSS JOIN lmvocab
       |), lmscore AS (
       |  SELECT id, round(avg(nlp), $ScoreDecimals) AS lm_nlp,
       |         round(exp(avg(nlp)), $ScoreDecimals) AS ppl,
       |         count(*) AS n_bigrams
       |  FROM lmnlp GROUP BY 1
       |)""".stripMargin
}
