package graft.text

import graft.functions.Text
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star additions — SURVEY §2.4 note, §7.2 step 10): token counting,
  * quality scoring, language identification, document fingerprinting.
  *
  * Every operator is a pure Column expression over the shared frozen
  * tokenizer ([[graft.functions.Text]]): no UDFs, fully inside whole-stage
  * codegen, trivially data-parallel — at 100 TB each executor computes its
  * partition's columns with zero shuffle (these are all narrow maps). Each
  * operator has a DuckDB SQL rendition for the oracle.
  *
  * All heuristics are FROZEN and documented here; correctness = the SQL
  * oracle computes the identical number, not agreement with any external
  * language model (SURVEY §7.4 risk 1 applies to heuristics too).
  */
object TextAnalysis {

  // ------------------------------------------------------------ token counts

  /** Whitespace token count — `split` on runs of whitespace. */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= lit("")))

  def sqlWsTokenCount(expr: String): String =
    s"len(list_filter(string_split_regex($expr, '\\s+'), t -> t <> ''))"

  /** BPE-ish sub-word token count: word pieces of ≤ [[MaxPiece]] chars.
    * A word of L alphanumeric chars costs ceil(L / MaxPiece) tokens
    * (approximating byte-pair merges capping piece length), punctuation runs
    * cost 1 token each. Deterministic, closed-form — the point is a
    * scale-cheap corpus token budget, not tokenizer parity.
    */
  val MaxPiece = 4

  def bpeTokenCount(text: Column): Column =
    bpeTokenCountFromTokens(text, Text.tokens(text))

  /** [[bpeTokenCount]] over a pre-tokenized array column (hot-path form,
    * see [[qualityPpmFromTokens]]). */
  def bpeTokenCountFromTokens(text: Column, words: Column): Column = {
    val wordCost = aggregate(words, lit(0L),
      (acc, w) => acc + ceil(length(w).cast("double") / lit(MaxPiece.toDouble)).cast("long"))
    // punctuation runs: tokens of the complement alphabet
    val punct = size(filter(split(lower(text), "[a-z0-9\\s]+"), t => t =!= lit("")))
    wordCost + punct.cast("long")
  }

  def sqlBpeTokenCount(expr: String): String = {
    val words = Text.sqlTokens(expr)
    // NOTE: DuckDB's list_sum over a BIGINT list widens to HUGEINT (int128);
    // the outer ::BIGINT pins the oracle column to Spark's long.
    s"""(coalesce(list_sum(list_transform($words, w -> ceil(length(w) / ${MaxPiece}.0)::BIGINT)), 0)
       | + len(list_filter(string_split_regex(lower($expr), '[a-z0-9\\s]+'), t -> t <> '')))::BIGINT""".stripMargin.replace("\n", "")
  }

  // ---------------------------------------------------------- quality score

  /** Frozen quality heuristic over [0,1] (higher = better training text):
    *
    *   q = 0.3·lengthScore + 0.3·(1 − stopRatio) + 0.2·alphaRatio + 0.2·diversity
    *
    *   - lengthScore = min(1, tokens/50)         (reward non-trivial length)
    *   - stopRatio   = stopword tokens / tokens   (penalize boilerplate)
    *   - alphaRatio  = [a-z0-9 ] chars / chars    (penalize punctuation soup)
    *   - diversity   = distinct tokens / tokens   (penalize repetition)
    *
    * Rounded to 6 decimals (shared with every scored operator).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def qualityScore(text: Column): Column = {
    val toks = Text.tokens(text)
    val n = size(toks).cast("double")
    val stopRatio = when(n === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.isInCollection(Stopwords))).cast("double") / n)
    val lengthScore = least(lit(1.0), n / lit(50.0))
    val alphaRatio = when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(lower(text), "[^a-z0-9 ]", "")).cast("double") /
        length(text).cast("double"))
    val diversity = when(n === 0, lit(0.0)).otherwise(
      size(array_distinct(toks)).cast("double") / n)
    round(lit(0.3) * lengthScore + lit(0.3) * (lit(1.0) - stopRatio) +
      lit(0.2) * alphaRatio + lit(0.2) * diversity, 6)
  }

  /** Integer parts-per-million rendition of [[qualityScore]] — the same
    * frozen heuristic scaled by 1e6 and computed entirely in BIGINT
    * arithmetic with a single IEEE-754 double division at the end:
    *
    *   ppm = floor((6000·min(n,50)·n·c + 300000·(n−s)·c + 200000·a·n
    *                + 200000·d·c) / (n·c))
    *
    * where n = tokens, s = stopword tokens, d = distinct tokens,
    * a = [a-z0-9 ] chars, c = chars. Spark and DuckDB build the identical
    * integer numerator/denominator, and IEEE division of identical operands
    * is bit-identical across engines — so the hash compare is immune to the
    * rounded-DOUBLE last-ULP noise that [[qualityScore]] is exposed to.
    */
  def qualityPpm(text: Column): Column =
    qualityPpmFromTokens(text, Text.tokens(text))

  /** One-pass token statistics via the codegen'd
    * [[org.apache.spark.sql.graftshim.TextExpressions.TokenSetStats]]:
    * `gateStats(toks)` = [n, distinct, stopwords, de, en, es, fr, zh]
    * counts in a single generated loop. Stage it as a COLUMN
    * (`withColumn`) and feed the attribute to the `FromGateStats`
    * variants — expression trees that reference a stats SUBTREE several
    * times (the langId argmax fold most of all) duplicate its evaluation,
    * which codegen CSE does not reliably eliminate; an attribute
    * reference is always evaluated once. */
  // lazy: LangMarkers is declared further down the object body and vals
  // initialize in declaration order
  lazy val GateSets: Seq[Seq[String]] = Stopwords +: LangMarkers.map(_._2)

  def gateStats(toks: Column): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      org.apache.spark.sql.graftshim.TextExpressions.TokenSetStats(
        org.apache.spark.sql.graftshim.GraftShim.expression(toks), GateSets))

  /** [[qualityPpm]] from a staged [[gateStats]] attribute (hot path). */
  def qualityPpmFromGateStats(text: Column, st: Column): Column =
    qualityPpmFromParts(text, st.getItem(0), st.getItem(2), st.getItem(1))

  /** [[langScore]] from a staged [[gateStats]] attribute. */
  def langScoreFromGateStats(st: Column, lang: String): Column = {
    val idx = LangMarkers.indexWhere(_._1 == lang)
    require(idx >= 0, s"unknown language '$lang'")
    scoreFromStats(st, 3 + idx)
  }

  /** [[langId]] from a staged [[gateStats]] attribute: the marker counts
    * were produced by one pass; the argmax fold only touches attribute
    * getItems. */
  def langIdFromGateStats(st: Column): Column = {
    val scored = LangMarkers.zipWithIndex.map { case ((code, _), i) =>
      (code, scoreFromStats(st, 3 + i))
    }
    scored.foldLeft(struct(lit(0.0).as("s"), lit("und").as("c"))) {
      case (best, (code, s)) =>
        when(s > best.getField("s"), struct(s.as("s"), lit(code).as("c"))).otherwise(best)
    }.getField("c")
  }

  private def scoreFromStats(st: Column, slot: Int): Column = {
    val n = st.getItem(0).cast("double")
    round(when(n === 0, lit(0.0)).otherwise(
      st.getItem(slot).cast("double") / n), 6)
  }

  /** [[qualityPpm]] over a pre-tokenized array column. Composite operators
    * that need several token-derived metrics per row (e.g.
    * [[graft.pipeline.Curation.qualityFilter]]) materialize the token
    * array ONCE and feed it here: the lambda-bearing `filter(split(…))`
    * trees defeat codegen common-subexpression elimination, so the inline
    * form re-runs the regex split per metric (~13 splits/row across the
    * quality gate — measured 5.8 s vs ~1 s at 47k docs). */
  def qualityPpmFromTokens(text: Column, toks: Column): Column =
    qualityPpmFromParts(text,
      size(toks).cast("long"),
      size(filter(toks, t => t.isInCollection(Stopwords))).cast("long"),
      size(array_distinct(toks)).cast("long"))

  /** The frozen ppm formula over already-computed counts. */
  private def qualityPpmFromParts(text: Column, n0: Column, s0: Column,
      d0: Column): Column = {
    val n = n0
    val s = s0
    val d = d0
    val a = length(regexp_replace(lower(text), "[^a-z0-9 ]", "")).cast("long")
    val c = length(text).cast("long")
    val num = lit(6000L) * least(n, lit(50L)) * n * c +
      lit(300000L) * (n - s) * c +
      lit(200000L) * a * n +
      lit(200000L) * d * c
    when(n === 0 && c === 0, lit(300000L))
      .when(n === 0,
        lit(300000L) + floor(lit(200000L).cast("double") * a.cast("double") / c.cast("double")).cast("long"))
      .otherwise(floor(num.cast("double") / (n * c).cast("double")).cast("long"))
  }

  /** DuckDB rendition of [[qualityPpm]] — byte-identical formula shape. */
  def sqlQualityPpm(expr: String): String = {
    val toks = Text.sqlTokens(expr)
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    val n = s"len($toks)::BIGINT"
    val st = s"len(list_filter($toks, t -> t IN ($stops)))::BIGINT"
    val d = s"len(list_distinct($toks))::BIGINT"
    val a = s"length(regexp_replace(lower($expr), '[^a-z0-9 ]', '', 'g'))::BIGINT"
    val c = s"length($expr)::BIGINT"
    s"""(CASE
       |  WHEN $n = 0 AND $c = 0 THEN 300000
       |  WHEN $n = 0 THEN 300000 + floor(200000::DOUBLE * ($a)::DOUBLE / ($c)::DOUBLE)::BIGINT
       |  ELSE floor(
       |    (6000 * least($n, 50) * $n * $c
       |     + 300000 * ($n - $st) * $c
       |     + 200000 * $a * $n
       |     + 200000 * $d * $c)::DOUBLE
       |    / (($n) * ($c))::DOUBLE)::BIGINT
       |END)::BIGINT""".stripMargin
  }

  // ----------------------------------------------------------- language ID

  /** Marker-word sets per language (tiny frozen stopword lists). Score(lang)
    * = marker tokens / total tokens; winner = argmax, ties broken by
    * language code ascending; no tokens → "und".
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "and", "is", "of", "to", "in", "it"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "de", "que", "para", "un"),
    "fr" -> Seq("le", "la", "les", "est", "et", "de", "que", "un", "une", "pour"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "ren", "you", "wo"),
  )

  /** Per-language marker ratio, rounded to 6 decimals. */
  def langScore(text: Column, lang: String): Column =
    langScoreFromTokens(Text.tokens(text), lang)

  /** [[langScore]] over a pre-tokenized array (see
    * [[qualityPpmFromTokens]] for why composites pre-tokenize; hot paths
    * stage [[gateStats]] and use [[langScoreFromGateStats]]). */
  def langScoreFromTokens(toks: Column, lang: String): Column = {
    val markers = LangMarkers.toMap.apply(lang)
    val n = size(toks).cast("double")
    round(when(n === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.isInCollection(markers))).cast("double") / n), 6)
  }

  /** Predicted language code: argmax marker ratio, tie-break code ASC. */
  def langId(text: Column): Column =
    langIdFromTokens(Text.tokens(text))

  /** [[langId]] over a pre-tokenized array (hot paths stage [[gateStats]]
    * and use [[langIdFromGateStats]]). */
  def langIdFromTokens(toks: Column): Column = {
    // fold over (score, code) pairs keeping the max; seed with ("und", 0)
    val scored = LangMarkers.map { case (code, _) => (code, langScoreFromTokens(toks, code)) }
    scored.foldLeft(struct(lit(0.0).as("s"), lit("und").as("c"))) {
      case (best, (code, s)) =>
        when(s > best.getField("s"), struct(s.as("s"), lit(code).as("c"))).otherwise(best)
    }.getField("c")
  }

  def sqlLangScore(expr: String, lang: String): String = {
    val markers = LangMarkers.toMap.apply(lang).map(s => s"'$s'").mkString(", ")
    val toks = Text.sqlTokens(expr)
    s"""round(CASE WHEN len($toks) = 0 THEN 0.0
       | ELSE len(list_filter($toks, t -> t IN ($markers)))::DOUBLE / len($toks) END, 6)""".stripMargin.replace("\n", "")
  }

  def sqlLangId(expr: String): String =
    // same fold, strictly-greater keeps first (= code ASC) on ties
    LangMarkers.foldLeft("struct_pack(s := 0.0, c := 'und')") { case (best, (code, _)) =>
      val s = sqlLangScore(expr, code)
      s"""(CASE WHEN $s > ($best).s THEN struct_pack(s := $s, c := '$code') ELSE $best END)"""
    } + ".c"

  // --------------------------------------------------------- fingerprinting

  /** Rolling-hash document fingerprint: min/max 60-bit hash over the
    * document's [[ShingleSize]]-token shingles (a 2-value winnowing sketch).
    * Identical content → identical fingerprint regardless of row order or
    * partitioning; used both as a cheap identity and as the dedup prefilter.
    */
  val ShingleSize = 3

  // ------------------------------------------------------- script profile

  /** Unicode SCRIPT classes for the multilingual-crawl language-ID
    * primitive: a token is attributed to the script of its FIRST code
    * point (deterministic — mixed-script tokens are attributed, never
    * split; real langid needs no more than script ratios for the coarse
    * routing a 100 TB intake does before any model-based classifier).
    * Java regex and DuckDB's RE2 implement the SAME Unicode script
    * property under different spellings — (name, Java head-anchor, RE2
    * head-anchor). */
  val Scripts: Seq[(String, String, String)] = Seq(
    ("latin", "^\\p{IsLatin}", "^\\p{Latin}"),
    ("cyrillic", "^\\p{IsCyrillic}", "^\\p{Cyrillic}"),
    ("han", "^\\p{IsHan}", "^\\p{Han}"),
    ("greek", "^\\p{IsGreek}", "^\\p{Greek}"),
    ("arabic", "^\\p{IsArabic}", "^\\p{Arabic}"),
    ("hangul", "^\\p{IsHangul}", "^\\p{Hangul}"),
    ("devanagari", "^\\p{IsDevanagari}", "^\\p{Devanagari}"))

  /** Count of tokens whose first code point matches `headRe` — a narrow
    * codegen'd size-of-filter over the staged token array, one per
    * script class; no explode, no shuffle. */
  def scriptCount(toks: Column, headRe: String): Column =
    size(filter(toks, t => t.rlike(headRe))).cast("long")

  /** DuckDB twin of [[scriptCount]] over a token-list expression. */
  def sqlScriptCount(toksExpr: String, re2Head: String): String =
    s"len(list_filter($toksExpr, t -> regexp_matches(t, '$re2Head')))::BIGINT"

  /** array<string> of k-token shingles (tokens joined by single spaces).
    * Documents shorter than k tokens get one shingle = all tokens.
    *
    * NOTE for hot paths: the `text` expression is inlined into the
    * transform lambda and re-evaluated per position (higher-order lambdas
    * are interpreted) — O(tokens²) per row when `text` is raw text. Stage
    * tokenization first and call [[shinglesFromTokens]] on the materialized
    * column instead. */
  def shingles(text: Column, k: Int = ShingleSize,
      splitRe: String = Text.SplitRe): Column =
    shinglesFromTokens(Text.tokens(text, splitRe), k)

  /** [[shingles]] over an already-computed token array column. NULL input
    * → empty (a null-text doc has no shingles — without the explicit guard
    * the null would leak through `greatest(null−k,1)=1` + concat_ws's
    * null-skipping into a bogus "" shingle). */
  def shinglesFromTokens(toks: Column, k: Int = ShingleSize): Column = {
    val n = size(toks)
    val idx = sequence(lit(1), greatest(n - lit(k - 1), lit(1)))
    when(toks.isNull || n === 0, array().cast("array<string>")).otherwise(
      array_distinct(transform(idx, i => concat_ws(" ", slice(toks, i, lit(k))))))
  }

  def sqlShingles(expr: String, k: Int = ShingleSize,
      splitRe: String = Text.SplitRe): String =
    sqlShinglesFromToks(Text.sqlTokens(expr, splitRe), k)

  /** [[sqlShingles]] over a token-LIST expression (the DuckDB twin of
    * [[shinglesFromTokens]]) — what lets an oracle shingle under a full
    * [[Text.Tokenizer]] (`sqlShinglesFromToks(tok.sql(expr))`), not just
    * a split alphabet. */
  def sqlShinglesFromToks(toks: String, k: Int = ShingleSize): String =
    // DuckDB list comprehension over generate_series; slice via list[i:i+k-1]
    s"""(CASE WHEN $toks IS NULL OR len($toks) = 0 THEN []::VARCHAR[]
       | ELSE list_distinct([array_to_string(list_slice($toks, i, i + ${k - 1}), ' ')
       |   for i in generate_series(1, greatest(len($toks) - ${k - 1}, 1))]) END)""".stripMargin.replace("\n", "")

  /** (minHash, maxHash) fingerprint struct of the shingle set.
    * Hot paths: stage tokenization and use [[fingerprintFromTokens]]
    * (see the [[shingles]] NOTE — inlined text re-evaluates per
    * position, O(tokens²) regex splits per row; measured 9.6 s vs 1-2 s
    * on the 50k-doc bench corpus). */
  def fingerprint(text: Column, splitRe: String = Text.SplitRe): Column =
    fingerprintFromTokens(Text.tokens(text, splitRe))

  /** [[fingerprint]] over a pre-tokenized array column. */
  def fingerprintFromTokens(toks: Column): Column = {
    val hashes = transform(shinglesFromTokens(toks), s => Text.hash60(s))
    struct(
      array_min(hashes).as("fp_min"),
      array_max(hashes).as("fp_max"))
  }

  def sqlFingerprintMin(expr: String,
      splitRe: String = Text.SplitRe): String =
    s"list_min(list_transform(${sqlShingles(expr, ShingleSize, splitRe)}, s -> ${Text.sqlHash60("s")}))"
  def sqlFingerprintMax(expr: String,
      splitRe: String = Text.SplitRe): String =
    s"list_max(list_transform(${sqlShingles(expr, ShingleSize, splitRe)}, s -> ${Text.sqlHash60("s")}))"
}
