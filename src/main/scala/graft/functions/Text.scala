package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Frozen tokenizer + token-hash used by every text operator (BM25, dedup,
  * fingerprinting). Spark and the DuckDB oracle must tokenize identically,
  * so the regex is fixed here and mirrored in [[sqlTokens]].
  *
  * Tokenization ≈ lucene.standard for this corpus (reference `indexes.py:84`
  * declares the `title` full-text field; testdata `documents.text` is a
  * lowercase keyword bag): lowercase, split on runs of non-alphanumerics,
  * drop empties.
  */
object Text {
  /** Split regex — identical string passed to Spark `split` and DuckDB
    * `string_split_regex`. */
  val SplitRe = "[^a-z0-9]+"

  /** UNICODE split regex — any run of code points outside letters,
    * COMBINING MARKS, and digits (general categories L, M, N, which Java
    * regex and DuckDB's RE2 implement identically for the planted
    * fixtures the gate checks). Marks are in the alphabet because Indic
    * and Arabic-script words are SPELLED with them — under a bare
    * `\p{L}\p{N}` rule Devanagari "नमस्ते" splits at its virama and vowel
    * signs into word fragments (caught by the hand-computed spec, not by
    * the mark-free planted oracles). The frozen [[SplitRe]] silently
    * tokenizes ALL non-Latin text to [] — the majority of a real
    * multilingual crawl would dedup, score and vocab-learn as EMPTY — so
    * every text consumer accepts an alphabet parameter defaulting to the
    * frozen rule, with this as the variant a real corpus run passes. CJK
    * has no word separators, so an ideograph run is ONE token under this
    * rule (deterministic; real segmentation is a tokenizer-model
    * concern, not the engine's). */
  val UnicodeSplitRe = "[^\\p{L}\\p{M}\\p{N}]+"

  /** tokens(text): array<string> of non-empty lowercase tokens. */
  def tokens(text: Column): Column = tokens(text, SplitRe)

  /** [[tokens]] under an explicit split alphabet. */
  def tokens(text: Column, splitRe: String): Column =
    filter(split(lower(text), splitRe), t => t =!= lit(""))

  /** [[tokens]] under [[UnicodeSplitRe]] — non-Latin text tokenizes
    * non-empty (lowercasing is Unicode-aware in both engines). */
  def tokensUnicode(text: Column): Column = tokens(text, UnicodeSplitRe)

  /** DuckDB rendition of [[tokens]] for oracle SQL (an expression producing
    * a VARCHAR[]; typically fed to unnest). */
  def sqlTokens(textExpr: String): String = sqlTokens(textExpr, SplitRe)

  /** DuckDB rendition of [[tokens]] under an explicit split alphabet. */
  def sqlTokens(textExpr: String, splitRe: String): String =
    s"list_filter(string_split_regex(lower($textExpr), '$splitRe'), t -> t <> '')"

  /** DuckDB rendition of [[tokensUnicode]] (RE2 shares Java's \\p{L}/\\p{N}
    * general-category classes). */
  def sqlTokensUnicode(textExpr: String): String =
    sqlTokens(textExpr, UnicodeSplitRe)

  // ------------------------------------------------- tokenizer contract

  /** Fully-anchored CJK-run class — Han/Hiragana/Katakana, the scripts
    * with NO word separators, under Java's script-property spelling and
    * RE2's (DuckDB). Hangul is NOT here: Korean writes spaces between
    * words, so its runs are real words and bigramming them would destroy
    * information rather than recover it. */
  val CjkRunReJava = "^[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]+$"
  val CjkRunReDuck = "^[\\p{Han}\\p{Hiragana}\\p{Katakana}]+$"

  /** NFC normalization column ([[org.apache.spark.sql.graftshim
    * .TextExpressions.NfcNormalize]] — codegen'd; DuckDB twin
    * `nfc_normalize`). */
  def nfc(text: Column): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      org.apache.spark.sql.graftshim.TextExpressions.NfcNormalize(
        org.apache.spark.sql.graftshim.GraftShim.expression(text)))

  /** Expand every PURE-CJK-run token of length ≥ 2 into its overlapping
    * character bigrams (the Lucene CJKAnalyzer rule — the standard
    * engine-level answer to scripts with no word separators): under
    * [[UnicodeSplitRe]] alone a Chinese sentence is ONE giant token, so
    * BM25's IDF degenerates, shingle dedup sees near-unique tokens and
    * BPE learns sentence-length symbols; bigrams give every two-character
    * word a match unit. Single-ideograph tokens and MIXED-script tokens
    * pass through unchanged (mixed tokens are attributed, never split —
    * the [[graft.text.TextAnalysis.Scripts]] posture). Deterministic and
    * SQL-expressible; both engines count CODE POINTS (Spark length/
    * substr and DuckDB length/substring agree beyond the BMP). */
  def cjkBigramExpand(toks: Column): Column =
    flatten(transform(toks, t =>
      when(t.rlike(CjkRunReJava) && length(t) >= 2,
        transform(sequence(lit(1), length(t) - 1), i => t.substr(i, lit(2))))
        .otherwise(array(t))))

  /** DuckDB twin of [[cjkBigramExpand]] over a token-list expression. */
  def sqlCjkBigramExpand(toksExpr: String): String =
    s"flatten(list_transform($toksExpr, t -> CASE WHEN " +
      s"regexp_matches(t, '$CjkRunReDuck') AND length(t) >= 2 THEN " +
      "list_transform(generate_series(1, length(t) - 1), " +
      "i -> substring(t, i, 2)) ELSE [t] END))"

  /** The tokenizer CONTRACT a text operator runs under: the split
    * alphabet plus the two engine-level options a real multilingual
    * corpus needs — NFC normalization BEFORE splitting (composed and
    * decomposed spellings unify; see [[nfc]]) and CJK bigram expansion
    * AFTER splitting (see [[cjkBigramExpand]]). The default instance is
    * byte-identical to the frozen [[SplitRe]] path, so threading a
    * Tokenizer through an operator cannot move any existing oracle.
    * [[apply]] (Spark), [[sql]] (DuckDB) and [[local]] (driver-side, for
    * query terms / planning) implement the SAME function — order: nfc →
    * lower → split → cjk-bigrams. */
  final case class Tokenizer(splitRe: String = SplitRe,
      cjkBigrams: Boolean = false, nfcNormalize: Boolean = false) {
    def apply(text: Column): Column = {
      val base = tokens(if (nfcNormalize) nfc(text) else text, splitRe)
      if (cjkBigrams) cjkBigramExpand(base) else base
    }
    def sql(textExpr: String): String = {
      val base = sqlTokens(
        if (nfcNormalize) s"nfc_normalize($textExpr)" else textExpr, splitRe)
      if (cjkBigrams) sqlCjkBigramExpand(base) else base
    }
    /** Driver-side twin — code-point arithmetic (a UTF-16 `substring`
      * would tear supplementary CJK ideographs where both engines count
      * code points). */
    def local(text: String): Seq[String] = {
      val t0 =
        if (nfcNormalize)
          java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFC)
        else text
      val base = t0.toLowerCase(java.util.Locale.ROOT)
        .split(splitRe).filter(_.nonEmpty).toSeq
      if (!cjkBigrams) base
      else base.flatMap { t =>
        val cps = t.codePoints().toArray
        if (cps.length >= 2 && t.matches(CjkRunReJava))
          (0 until cps.length - 1).map(i => new String(cps, i, 2))
        else Seq(t)
      }
    }
  }

  /** The multilingual-corpus tokenizer: Unicode alphabet + NFC + CJK
    * bigrams — what a real 100 TB crawl run passes. */
  val MultilingualTokenizer: Tokenizer =
    Tokenizer(UnicodeSplitRe, cjkBigrams = true, nfcNormalize = true)

  /** A 60-bit integer hash of a string: first 15 hex chars of md5, as a
    * BIGINT. md5 is the one hash both Spark and DuckDB expose with identical
    * output, and 15 hex digits (60 bits) always fits signed 64-bit.
    * DuckDB rendition: [[sqlHash60]].
    */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** DuckDB rendition of [[hash60]] — DuckDB lacks conv(); use md5_number_lower
    * ( = little-endian uint64 of the md5 lower half)? No: to stay exactly
    * aligned with Spark's hex-prefix semantics we parse the hex prefix:
    * 15 hex chars via a manual fold is painful in SQL, but DuckDB CAN cast
    * hex literals: ('0x' || prefix)::BIGINT works (hex string → int cast).
    */
  def sqlHash60(expr: String): String =
    s"('0x' || substr(md5($expr), 1, 15))::BIGINT"

  /** Driver-side evaluation of [[hash60]] (same md5-hex-prefix semantics) —
    * for planning-time decisions like index-bucket pruning. */
  def hash60Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }
}
