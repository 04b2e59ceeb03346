package graft
package queries

import graft.SparkEntry.{fixture, persistedPath, selfChecked}
import graft.dedup.Dedup
import graft.embed.EmbedJob
import graft.functions.Text
import graft.index.{IndexStore, Ivf}
import graft.operators.Sketches
import graft.pipeline.{Contamination, Curation}
import graft.queries.Shared._
import graft.search.AnnPlanner
import graft.text.{CorpusAnalysis, PiiScrub, TextAnalysis}
import graft.util.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LLM-data-pipeline queries: text statistics, quality gates, PII scrub,
  * contamination screens, source overlap, sampling and the intake pipeline. */
private[graft] object PipelineQueries {

  /** North-star text analysis: whitespace + BPE-ish token counts and the
    * frozen quality heuristic, per document. */
  val qTextStats = Query("q_text_stats",
      s"""SELECT doc_id,
         |       ${TextAnalysis.sqlWsTokenCount("text")} AS ws_tokens,
         |       ${TextAnalysis.sqlBpeTokenCount("text")} AS bpe_tokens,
         |       ${TextAnalysis.sqlQualityPpm("text")} AS quality_ppm
         |FROM documents ORDER BY doc_id""".stripMargin)((spark, dir) =>
    // stage the token array once (an attribute): the per-metric
    // filter/aggregate lambdas are not CSE'd, so inline tokenization
    // would re-run the regex split per metric
    Tables.documents(spark, dir)
      .withColumn("__toks", Text.tokens(col("text")))
      .withColumn("__stats", TextAnalysis.gateStats(col("__toks")))
      .select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.bpeTokenCountFromTokens(col("text"), col("__toks")).as("bpe_tokens"),
        // integer ppm score (not the rounded DOUBLE) so the driver's hash
        // compare is immune to last-ULP double representation differences
        TextAnalysis.qualityPpmFromGateStats(col("text"), col("__stats")).as("quality_ppm"))
      .orderBy("doc_id"))

  /** North-star Gopher-family repetition statistics per document: most
    * frequent bigram's token-mass, duplicated-trigram fraction, longest
    * same-token run — the repetition gates a curation run thresholds on. */
  val qRepetition = Query("q_repetition",
      (CorpusAnalysis.sqlRepetitionStats("documents", "doc_id", "text") +
        "\nORDER BY id"))((spark, dir) =>
    CorpusAnalysis.repetitionStats(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("id"))

  /** SCRIPT-PROFILE language routing ([[TextAnalysis.scriptCount]]) —
    * the coarse langid a 100 TB multilingual intake runs before any
    * model-based classifier: per document, token counts attributed by
    * FIRST-code-point Unicode script (narrow size-of-filter passes over
    * one staged token array — no explode, no shuffle) plus the majority
    * non-Latin script (ties break han > cyrillic > greek, declared).
    * The plant varies script MASS per doc (1+id%3 Cyrillic words,
    * 1+id%2 Han runs, a Greek token on even ids) so the majority flips
    * across the corpus, and Java's \p{IsXxx} must agree with RE2's
    * \p{Xxx} script property on every planted token. */
  val qScriptProfile = Query("q_script_profile", {
      // script counts via RE2's \p{Xxx} script property (the Java-regex
      // \p{IsXxx} twin); the majority CASE is the identical declared
      // tie-break on both engines
      val cyrL = cyrWords.map(w => s"'$w'").mkString(", ")
      val cjkL = cjkWords.map(w => s"'$w'").mkString(", ")
      val planted = Set("latin", "cyrillic", "han", "greek")
      val counts = TextAnalysis.Scripts
        .filter { case (name, _, _) => planted(name) }
        .map { case (name, _, re2) =>
          s"${TextAnalysis.sqlScriptCount("tk", re2)} AS n_$name"
        }.mkString(",\n       ")
      s"""WITH aug AS (
         |  SELECT doc_id,
         |         text || ' ' ||
         |         repeat(([$cyrL])[1 + CAST(doc_id % 4 AS INT)] || ' ',
         |                1 + CAST(doc_id % 3 AS INT)) ||
         |         repeat(([$cjkL])[1 + CAST(doc_id % 3 AS INT)] || ' ',
         |                1 + CAST(doc_id % 2 AS INT)) ||
         |         CASE WHEN doc_id % 2 = 0 THEN ' δξα' ELSE '' END AS text
         |  FROM documents
         |), toks AS (
         |  SELECT doc_id, ${Text.sqlTokensUnicode("text")} AS tk FROM aug
         |), prof AS (
         |  SELECT doc_id,
         |       $counts
         |  FROM toks
         |)
         |SELECT *,
         |       CASE WHEN n_han >= n_cyrillic AND n_han >= n_greek THEN 'han'
         |            WHEN n_cyrillic >= n_greek THEN 'cyrillic'
         |            ELSE 'greek' END AS main_nonlatin
         |FROM prof ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val id = col("doc_id")
    val cyr = element_at(array(cyrWords.map(lit): _*),
      (pmod(id, lit(4L)) + 1L).cast("int"))
    val cjk = element_at(array(cjkWords.map(lit): _*),
      (pmod(id, lit(3L)) + 1L).cast("int"))
    val aug = Tables.documents(spark, dir).select(id,
      concat(col("text"), lit(" "),
        array_join(array_repeat(cyr,
          (pmod(id, lit(3L)) + 1L).cast("int")), " "),
        lit(" "),
        array_join(array_repeat(cjk,
          (pmod(id, lit(2L)) + 1L).cast("int")), " "),
        when(pmod(id, lit(2L)) === 0, lit(" δξα")).otherwise(lit("")))
        .as("text"))
    // the four scripts the fixture plants (Scripts carries more — the
    // oracle above selects the same four by name)
    val re = TextAnalysis.Scripts.map { case (n, j, _) => n -> j }.toMap
    val toks = Text.tokensUnicode(col("text"))
    aug.select(col("doc_id"),
        TextAnalysis.scriptCount(toks, re("latin")).as("n_latin"),
        TextAnalysis.scriptCount(toks, re("cyrillic")).as("n_cyrillic"),
        TextAnalysis.scriptCount(toks, re("han")).as("n_han"),
        TextAnalysis.scriptCount(toks, re("greek")).as("n_greek"))
      .withColumn("main_nonlatin",
        when(col("n_han") >= col("n_cyrillic") &&
            col("n_han") >= col("n_greek"), lit("han"))
          .when(col("n_cyrillic") >= col("n_greek"), lit("cyrillic"))
          .otherwise(lit("greek")))
      .orderBy("doc_id")
  }

  /** North-star cross-document duplicate-n-gram profile: per document, the
    * share of its distinct shingles repeated elsewhere in the corpus — the
    * linear-cost boilerplate read-out pairwise near-dup detection can't
    * give (see [[CorpusAnalysis.dupNgramProfile]]). */
  val qDupNgramProfile = Query("q_dup_ngram_profile",
      (CorpusAnalysis.sqlDupNgramProfile("documents", "doc_id", "text") +
        "\nORDER BY id"))((spark, dir) =>
    CorpusAnalysis.dupNgramProfile(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("id"))

  /** North-star SOURCE-OVERLAP MATRIX: exact per-source-pair shingle-set
    * intersection / Jaccard / both directed containments — "which
    * datasets copy which" at corpus level, the pre-mixing read-out
    * ([[CorpusAnalysis.sourceOverlap]]; the directed containment is what
    * catches a crawl that swallowed a smaller dataset whole). Linear in
    * distinct (source, shingle) pairs — the per-shingle source-SET
    * formulation, never a postings self-join; output ≤ nSources² rows.
    * The KMV-sketched twin ([[CorpusAnalysis.sourceOverlapSketched]],
    * spec-pinned) answers the same matrix from ≤ nSources × k persisted
    * minima when even one corpus scan is too much. */
  val qSourceOverlap = Query("q_source_overlap",
      (CorpusAnalysis.sqlSourceOverlap("documents", "text", "source") +
        "\nORDER BY src_a, src_b"))((spark, dir) =>
    CorpusAnalysis.sourceOverlap(Tables.documents(spark, dir), "text",
        "source")
      .orderBy("src_a", "src_b"))

  /** The source-overlap matrix at PRODUCTION cadence
    * ([[CorpusAnalysis.sourceOverlapFromSummaries]] — VERDICT r12 item
    * 6): one persisted summary family PER SOURCE, each accreted in two
    * waves (base + append), and the whole matrix answered at report time
    * from ≤ nSources × k driver-held KMV minima — NO corpus scan. The
    * KMV fold theorem (k smallest of a union = k smallest of the
    * per-wave keeps) makes the two-wave min-sets equal a single-pass
    * build, so the oracle replicates the ENTIRE Beyer et al. estimator
    * in DuckDB from scratch — same frozen md5-prefix hash, same per-pair
    * union-k-min, same membership counts, same IEEE arithmetic order
    * (the `q_join_card_kmv` pattern, lifted to the full pair matrix
    * with the directed containments). */
  val qSourceOverlapInc = Query("q_source_overlap_inc",
      // the whole KMV pair-matrix estimator replicated from scratch: same
      // frozen hash, per-source k-min sets, per-pair union-k-min +
      // membership counts, same estimate/intersection arithmetic order as
      // Sketches.estimate / Sketches.kmvIntersection — both the complete
      // exact branch and the estimator branch hash-checked
      s"""WITH p AS (
         |  SELECT DISTINCT src, ${graft.functions.Text.sqlHash60("sh")} AS h FROM (
         |    SELECT source AS src, unnest(${graft.text.TextAnalysis.sqlShingles("text")}) AS sh
         |    FROM documents WHERE source IS NOT NULL)
         |), mins AS (
         |  SELECT src, h FROM (
         |    SELECT src, h, row_number() OVER (PARTITION BY src ORDER BY h) AS rk
         |    FROM p) WHERE rk <= 64
         |), st AS (
         |  SELECT src, count(*) AS n, max(h) AS mx FROM mins GROUP BY 1
         |), pr AS (
         |  SELECT a.src AS src_a, b.src AS src_b, a.n AS ca, a.mx AS mxa,
         |         b.n AS cb, b.mx AS mxb
         |  FROM st a JOIN st b ON a.src < b.src
         |), ph AS (
         |  SELECT DISTINCT pr.src_a, pr.src_b, m.h
         |  FROM pr JOIN mins m ON m.src = pr.src_a OR m.src = pr.src_b
         |), unkk AS (
         |  SELECT src_a, src_b, h FROM (
         |    SELECT src_a, src_b, h,
         |           row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
         |    FROM ph) WHERE rk <= 64
         |), um AS (
         |  SELECT src_a, src_b, max(h) AS umx FROM unkk GROUP BY 1, 2
         |), mt AS (
         |  SELECT u.src_a, u.src_b, count(*) AS m
         |  FROM unkk u
         |  JOIN mins a ON a.src = u.src_a AND a.h = u.h
         |  JOIN mins b ON b.src = u.src_b AND b.h = u.h
         |  GROUP BY 1, 2
         |), xab AS (
         |  SELECT a.src AS src_a, b.src AS src_b, count(*) AS m
         |  FROM mins a JOIN mins b ON a.h = b.h AND a.src < b.src
         |  GROUP BY 1, 2
         |), calc AS (
         |  SELECT pr.src_a, pr.src_b,
         |    CASE WHEN pr.ca < 64 THEN pr.ca
         |         ELSE floor(63::DOUBLE * 1152921504606846976.0 / pr.mxa::DOUBLE)::BIGINT END AS n_a,
         |    CASE WHEN pr.cb < 64 THEN pr.cb
         |         ELSE floor(63::DOUBLE * 1152921504606846976.0 / pr.mxb::DOUBLE)::BIGINT END AS n_b,
         |    CASE WHEN pr.ca < 64 AND pr.cb < 64 THEN coalesce(xab.m, 0)
         |         ELSE floor(coalesce(mt.m, 0)::DOUBLE * (63::DOUBLE * 1152921504606846976.0 / um.umx::DOUBLE) / 64::DOUBLE)::BIGINT
         |    END AS inter
         |  FROM pr
         |  JOIN um USING (src_a, src_b)
         |  LEFT JOIN mt USING (src_a, src_b)
         |  LEFT JOIN xab USING (src_a, src_b)
         |)
         |SELECT src_a, src_b, inter, n_a, n_b,
         |  CASE WHEN n_a + n_b - inter <= 0 THEN 0.0
         |       ELSE round(inter::DOUBLE / (n_a + n_b - inter), 6) END AS jaccard,
         |  CASE WHEN n_a <= 0 THEN 0.0
         |       ELSE round(inter::DOUBLE / n_a, 6) END AS cont_a,
         |  CASE WHEN n_b <= 0 THEN 0.0
         |       ELSE round(inter::DOUBLE / n_b, 6) END AS cont_b
         |FROM calc
         |ORDER BY src_a, src_b""".stripMargin) { (spark, dir) =>
    val srcPaths = fixture(spark, "ovsum", dir) {
      val d = Tables.documents(spark, dir).select("doc_id", "source", "text")
        .where(col("source").isNotNull)
      val sources = d.select(col("source").cast("string")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      sources.map { src =>
        val p = persistedPath("ovsum", dir, src)
        val mine = d.where(col("source") === src)
        IndexStore.saveSummary(
          CorpusAnalysis.shingleItems(
            mine.where(pmod(col("doc_id"), lit(2)) === 0), "text"),
          "sh", kMg = 32, kKmv = Sketches.DefaultK, p)
        IndexStore.appendBatchSummary(
          CorpusAnalysis.shingleItems(
            mine.where(pmod(col("doc_id"), lit(2)) === 1), "text"),
          "sh", p, batchId = 0L)
        src -> p
      }
    }
    CorpusAnalysis.sourceOverlapFromSummaries(spark,
        IndexStore.loadSummaries(spark, srcPaths))
      .orderBy("src_a", "src_b")
  }

  /** North-star PII scrub: typed redaction (email/IP/phone/digit-run) with
    * per-doc counts, one codegen'd narrow projection
    * ([[PiiScrub.scrub]]). The corpus text is synthetic prose with no PII,
    * so the query plants a deterministic PII tail derived from each
    * doc_id — the same in-query augmentation both engines compute (the
    * [[qDedupVectors]] shifted-copy precedent) — and the scrub must find
    * and redact exactly that. */
  val qPiiScrub = Query("q_pii_scrub",
      // NB: single-line subquery — sqlScrub stripMargins its interpolated
      // template, which would eat a leading `||`'s first pipe
      (PiiScrub.sqlScrub(
        "(SELECT doc_id, text || ' contact user' || doc_id || " +
          "'@example.com call +14155550' || (doc_id % 100) || " +
          "' ip 10.0.0.' || (doc_id % 256) || ' ref ' || (doc_id + 100000) " +
          "AS text FROM documents)",
        "doc_id", "text") + "\nORDER BY id")) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
    val augmented = d.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com call +14155550"),
        pmod(col("doc_id"), lit(100L)).cast("string"),
        lit(" ip 10.0.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit(" ref "), (col("doc_id") + lit(100000L)).cast("string")).as("text"))
    PiiScrub.scrub(augmented, "doc_id", "text").orderBy("id")
  }

  /** UNICODE tokenization gate ([[Text.tokensUnicode]], north-star: the
    * frozen `[a-z0-9]` alphabet silently tokenizes ALL non-Latin text to
    * [] — the majority of a real crawl — across BM25/dedup/LM/BPE). Per
    * doc: token counts under BOTH alphabets (the planted non-Latin tokens
    * vanish from n_ascii, count in n_uni) and the LAST Unicode token —
    * the lowercased form of a CAPITALIZED Cyrillic word, so Spark and
    * DuckDB must agree on \p{L}/\p{N} class splitting AND Unicode
    * lowercasing, not just ASCII. */
  val qTextUnicode = Query("q_text_unicode",
      // both alphabets over the SAME planted multilingual text: the frozen
      // count drops every non-Latin token, the Unicode count keeps them,
      // and last_tok pins Unicode lowercasing (Привет → привет) across
      // engines
      s"""SELECT doc_id,
         |       len(${Text.sqlTokens("text")}) AS n_ascii,
         |       len(${Text.sqlTokensUnicode("text")}) AS n_uni,
         |       (${Text.sqlTokensUnicode("text")})[-1] AS last_tok
         |FROM $multilingualDocsSql ORDER BY doc_id""".stripMargin)((spark, dir) =>
    multilingualDocs(spark, dir).select(col("doc_id"),
      size(Text.tokens(col("text"))).cast("long").as("n_ascii"),
      size(Text.tokensUnicode(col("text"))).cast("long").as("n_uni"),
      element_at(Text.tokensUnicode(col("text")), -1).as("last_tok"))
      .orderBy("doc_id"))

  /** The n-gram decontamination screen over a MULTILINGUAL corpus under
    * [[Text.UnicodeSplitRe]] — the r15 round's top verdict item: under
    * the frozen alphabet the planted non-Latin tokens silently vanish
    * from BOTH sides' shingles, so a contaminated multilingual benchmark
    * passes clean with no error; threading the alphabet through
    * [[Contamination.ngramOverlap]] makes them collide. Eval = the 10%
    * slice doc_id ≡ 0 (mod 10) of the SAME augmented corpus (the
    * [[qContamination]] shape on the multilingual fixture). */
  val qContaminationUnicode = Query("q_contamination_unicode",
      // the multilingual decontamination gate: same shingle/hash algebra,
      // Unicode alphabet — the planted non-Latin shingles must collide
      s"""SELECT id AS doc_id, n_shingles, n_contaminated, contamination_ratio, contaminated
         |FROM (${Contamination.sqlNgramOverlap(
                  s"(SELECT * FROM $multilingualDocsSql m WHERE doc_id % 10 <> 0)",
                  s"(SELECT * FROM $multilingualDocsSql m WHERE doc_id % 10 = 0)",
                  "doc_id", "text", Text.UnicodeSplitRe)})
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val d = multilingualDocs(spark, dir)
    Contamination.ngramOverlap(
        d.where(pmod(col("doc_id"), lit(10L)) =!= 0),
        d.where(pmod(col("doc_id"), lit(10L)) === 0),
        "doc_id", "text", Text.UnicodeSplitRe)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Gopher repetition statistics under the Unicode alphabet
    * ([[CorpusAnalysis.repetitionStats]] threading). */
  val qRepetitionUnicode = Query("q_repetition_unicode",
      (CorpusAnalysis.sqlRepetitionStats(multilingualDocsSql, "doc_id",
        "text", Text.UnicodeSplitRe) + "\nORDER BY id"))((spark, dir) =>
    CorpusAnalysis.repetitionStats(multilingualDocs(spark, dir), "doc_id",
        "text", Text.UnicodeSplitRe)
      .orderBy("id"))

  /** The source-overlap matrix under the Unicode alphabet
    * ([[CorpusAnalysis.sourceOverlap]] threading) — the multilingual
    * augmentation is doc_id-keyed, not source-keyed, so the planted
    * non-Latin shingles genuinely cross sources. */
  val qSourceOverlapUnicode = Query("q_source_overlap_unicode",
      (CorpusAnalysis.sqlSourceOverlap(
        s"(SELECT m.doc_id, m.text, d.source FROM $multilingualDocsSql m JOIN documents d USING (doc_id))",
        "text", "source", Text.UnicodeSplitRe) +
        "\nORDER BY src_a, src_b")) { (spark, dir) =>
    val aug = multilingualDocs(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"),
        "doc_id")
    CorpusAnalysis.sourceOverlap(aug, "text", "source",
        splitRe = Text.UnicodeSplitRe)
      .orderBy("src_a", "src_b")
  }

  /** PII scrub adjacent to NON-LATIN text — the PORTABLE cases: the
    * email pattern and the bare digit-run pattern carry no `\b`, so an
    * address or identifier glued directly to a Cyrillic label redacts
    * identically in both engines; the IP stands after a space because
    * [[PiiScrub.Ipv4Re]]'s `\b` is the one declared Java/RE2 divergence
    * (Unicode- vs ASCII-word boundary — PiiScrub scaladoc, pinned in
    * PiiScrubSpec), so a Cyrillic-GLUED IP is exactly what this gate
    * must not claim portable. Tail per doc: a Cyrillic-labelled glued
    * email, a space-separated IP under a Cyrillic label, and a digit
    * run glued to Cyrillic. */
  val qPiiScrubUnicode = Query("q_pii_scrub_unicode",
      // NB: single-line subquery — sqlScrub stripMargins its template
      // (the q_pii_scrub precedent)
      (PiiScrub.sqlScrub(
        s"(SELECT doc_id, text || ' контакт user' || doc_id || " +
          "'@example.com ип 10.0.0.' || (doc_id % 256) || " +
          s"' реф' || (doc_id + 100000) AS text FROM $multilingualDocsSql m)",
        "doc_id", "text") + "\nORDER BY id")) { (spark, dir) =>
    val augmented = multilingualDocs(spark, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" контакт user"), col("doc_id").cast("string"),
        lit("@example.com ип 10.0.0."),
        pmod(col("doc_id"), lit(256L)).cast("string"),
        lit(" реф"), (col("doc_id") + lit(100000L)).cast("string"))
        .as("text"))
    PiiScrub.scrub(augmented, "doc_id", "text").orderBy("id")
  }

  /** NFC normalization gate ([[Text.Tokenizer]] `nfcNormalize`):
    * composed café (U+00E9) planted on even ids, decomposed cafe +
    * U+0301 on odd — visually identical spellings that are DISTINCT
    * tokens and distinct shingles without normalization (they evade
    * exact and near dedup and miss BM25 matches). Under the
    * NFC-normalizing tokenizer both engines must fold them into ONE
    * vocabulary entry counted across every doc; java.text.Normalizer and
    * DuckDB nfc_normalize are the agreeing public twins. The literals
    * are code-point escapes on both sides — no source-encoding
    * normalization can silently fix the fixture. */
  val qNfcUnify = Query("q_nfc_unify", {
      // composed chr(233) vs decomposed chr(769) planted explicitly; the
      // NFC-normalizing tokenizer twin must fold them to one word
      val tokSql = Text.Tokenizer(Text.UnicodeSplitRe,
        nfcNormalize = true).sql("text")
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest($tokSql) AS word
         |      FROM (SELECT doc_id, text || CASE WHEN doc_id % 2 = 0 THEN ' caf' || chr(233) ELSE ' cafe' || chr(769) END AS text FROM documents))
         |WHERE regexp_matches(word, '[^a-z0-9]')
         |GROUP BY word ORDER BY word""".stripMargin
    }) { (spark, dir) =>
    val tok = Text.Tokenizer(Text.UnicodeSplitRe, nfcNormalize = true)
    val aug = Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(2L)) === 0, lit(" caf\u00e9"))
          .otherwise(lit(" cafe\u0301"))).as("text"))
    aug.select(explode(tok(col("text"))).as("word"))
      .where(col("word").rlike("[^a-z0-9]"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")
  }

  /** Per-source corpus statistics through the SKEW-SAFE salted aggregation
    * ([[graft.util.Skew.saltedSumCount]]): phase 1 spreads each source over
    * 16 salted sub-groups, phase 2 merges 16 partials per source — the
    * plan a 100 TB corpus with one dominant source (the usual web-crawl
    * shape) needs, declared at the gate because the salted result is
    * provably identical to the direct groupBy (the oracle IS the direct
    * SQL). */
  val qSourceStats = Query("q_source_stats",
      // direct groupBy SQL: the salted two-phase plan must produce the
      // identical relation (that equivalence is the operator's contract)
      """SELECT source, sum(n_chars)::BIGINT AS sum_n_chars, count(*)::BIGINT AS n
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)((spark, dir) =>
    graft.util.Skew.saltedSumCount(
        Tables.documents(spark, dir), "source", "n_chars", col("doc_id"))
      .orderBy("source"))

  /** Hierarchical corpus report — the (source, lang) ROLLUP with
    * per-source subtotals and a grand total, the one-pass reporting shape
    * a 100 TB curation run uses instead of three separate groupBys.
    * [[qRollup]] already declares the bare two-level rollup on lineitem;
    * what THIS query adds to the gate is the `grouping()` surface (the
    * subtotal-vs-real-NULL disambiguation flags) and the PlanSpec pin of
    * the one-pass Expand → partial-aggregate shape.
    * Native Spark `rollup` expands to grouping sets inside ONE
    * map-side-combinable aggregate (Expand → partial HashAggregate —
    * each input row feeds all three granularities before the shuffle),
    * so the corpus is scanned once. `grouping()` flags disambiguate
    * subtotal NULLs from any real NULL key — declared (cast to int on
    * both engines) because relying on NULL collision is exactly the
    * rollup bug a report at scale cannot afford. */
  val qCorpusRollup = Query("q_corpus_rollup",
      """SELECT source, lang,
        |       GROUPING(source)::INT AS g_source, GROUPING(lang)::INT AS g_lang,
        |       count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY g_source, g_lang, source NULLS FIRST, lang NULLS FIRST""".stripMargin)((spark, dir) =>
    Tables.documents(spark, dir)
      .rollup(col("source"), col("lang"))
      .agg(grouping(col("source")).cast("int").as("g_source"),
        grouping(col("lang")).cast("int").as("g_lang"),
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      .select("source", "lang", "g_source", "g_lang", "n_docs", "avg_chars")
      .orderBy(col("g_source"), col("g_lang"),
        col("source").asc_nulls_first, col("lang").asc_nulls_first))

  /** North-star language-ID: marker-ratio argmax per document. */
  val qLangId = Query("q_langid",
      s"""SELECT doc_id,
         |       ${TextAnalysis.sqlLangId("text")} AS lang_pred,
         |       ${TextAnalysis.sqlLangScore("text", "en")} AS en_score
         |FROM documents ORDER BY doc_id""".stripMargin)((spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("__stats", TextAnalysis.gateStats(Text.tokens(col("text"))))
      .select(
        col("doc_id"),
        TextAnalysis.langIdFromGateStats(col("__stats")).as("lang_pred"),
        TextAnalysis.langScoreFromGateStats(col("__stats"), "en").as("en_score"))
      .orderBy("doc_id"))

  /** North-star per-label diversity sample: the 20 vectors farthest from
    * their label centroid — geometric spread selection for training-mix
    * construction. */
  val qDiversitySample = Query("q_diversity_sample",
      (Curation.sqlDiversitySample("embeddings", "vec_id", "embedding",
        "label", k = 20) +
        "\nORDER BY label, rank"))((spark, dir) =>
    Curation.diversitySample(Tables.embeddings(spark, dir), "vec_id",
        "embedding", "label", k = 20)
      .orderBy("label", "rank"))

  /** Quality-filter gate thresholds for q_quality_filter. */
  private val QfMinTokens = 5
  private val QfMaxTokens = 500
  private val QfMinQualityPpm = 650000L
  private val QfLangs = Seq("en", "es")

  /** North-star composed curation gate: token window + quality floor +
    * language whitelist, first failing rule = drop reason. */
  val qQualityFilter = Query("q_quality_filter",
      s"""SELECT id AS doc_id, n_tokens, quality_ppm, lang, drop_reason, keep
         |FROM (${Curation.sqlQualityFilter("documents", "doc_id", "text",
                  QfMinTokens, QfMaxTokens, QfMinQualityPpm, QfLangs)})
         |ORDER BY doc_id""".stripMargin)((spark, dir) =>
    Curation.qualityFilter(Tables.documents(spark, dir), "doc_id", "text",
        QfMinTokens, QfMaxTokens, QfMinQualityPpm, QfLangs)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id"))

  /** North-star deterministic corpus split: 80/10/10 train/val/test as a
    * pure hash of the doc id (stable under growth — eval membership never
    * changes as data arrives). Zero shuffle. */
  val qSplit = Query("q_split",
      (Curation.sqlSplitCorpus("documents", "doc_id", 800, 100)
        .replace("SELECT *,", "SELECT doc_id,") +
        "\nORDER BY doc_id"))((spark, dir) =>
    Curation.splitCorpus(Tables.documents(spark, dir), "doc_id", 800, 100)
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id"))

  /** Corpus snapshot delta ([[Curation.corpusDiff]]): the declared "v2"
    * snapshot is derived deterministically from the fixture so all four
    * statuses appear — every 17th doc removed, every 10th changed
    * (' v2' appended), every 23rd re-added under a +1M id — and the SQL
    * twin derives the identical v2, so the delta itself is what the
    * oracle checks. The production point: downstream re-embed/re-index/
    * re-dedup runs on `status <> 'unchanged'`, work ∝ delta. */
  val qCorpusDiff = Query("q_corpus_diff",
      s"""WITH v2 AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 17 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 23 = 0
         |)
         |SELECT id AS doc_id, status
         |FROM (${Curation.sqlCorpusDiff("documents", "v2", "doc_id", "text")})
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
    val v2 = d.where(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(d.where(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Curation.corpusDiff(d.select("doc_id", "text"), v2, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** The composed corpus-INTAKE pipeline — the four gates every LLM
    * training corpus passes, in production order, as ONE declared query
    * emitting a per-document decision ledger:
    *
    *   1. quality gate ([[Curation.qualityFilter]]);
    *   2. exact dedup among the quality survivors ([[Dedup.exact]]);
    *   3. benchmark decontamination of the dedup survivors
    *      ([[Contamination.ngramOverlap]] vs the held-out eval slice);
    *   4. train/val/test split ([[Curation.splitCorpus]] — hash-stable,
    *      assigned to every doc so the ledger is re-runnable).
    *
    * Ordering carries the 100 TB economics: each stage only pays for the
    * previous stage's survivors (dedup never hashes dropped docs;
    * decontamination never shingles duplicates), exactly like
    * [[qDedupPipeline]]'s exact-first finding. `keep_dedup`/`contaminated`
    * are false for docs that never reached their stage; `final_keep` is
    * the conjunction the corpus build acts on. */
  val qIntakePipeline = Query("q_intake_pipeline",
      s"""WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
         |gate AS (
         |  SELECT id AS doc_id, keep AS keep_quality
         |  FROM (${Curation.sqlQualityFilter("train", "doc_id", "text",
                    QfMinTokens, QfMaxTokens, QfMinQualityPpm, QfLangs)})
         |), kept AS (
         |  SELECT t.doc_id, t.text FROM train t
         |  JOIN gate g ON t.doc_id = g.doc_id AND g.keep_quality
         |), dedup AS (
         |  SELECT id AS doc_id, keep AS keep_dedup
         |  FROM (${Dedup.sqlExact("kept", "doc_id", "text")})
         |), surv AS (
         |  SELECT k.doc_id, k.text FROM kept k
         |  JOIN dedup d ON k.doc_id = d.doc_id AND d.keep_dedup
         |), contam AS (
         |  SELECT id AS doc_id, contaminated
         |  FROM (${Contamination.sqlNgramOverlap("surv",
                    "(SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0)",
                    "doc_id", "text")})
         |), splits AS (
         |  SELECT doc_id, split
         |  FROM (${Curation.sqlSplitCorpus("train", "doc_id", 800, 100)})
         |)
         |SELECT t.doc_id, g.keep_quality,
         |       coalesce(d.keep_dedup, false) AS keep_dedup,
         |       coalesce(c.contaminated, false) AS contaminated,
         |       s.split,
         |       (g.keep_quality AND coalesce(d.keep_dedup, false)
         |        AND NOT coalesce(c.contaminated, false)) AS final_keep
         |FROM train t
         |JOIN gate g USING (doc_id)
         |LEFT JOIN dedup d USING (doc_id)
         |LEFT JOIN contam c USING (doc_id)
         |JOIN splits s USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val train = docs.where(pmod(col("doc_id"), lit(20L)) =!= 0)
    val eval = docs.where(pmod(col("doc_id"), lit(20L)) === 0)
    // each stage's ledger (doc_id + flag — a few bytes per doc) is
    // localCheckpoint-truncated: later stages and the final ledger join
    // all reference it, and without truncation Catalyst would re-run the
    // whole upstream cascade once per referencing branch (measured 4×
    // on the quality gate alone). This is the in-session rendition of what
    // a production intake run does anyway — persist each gate's verdict.
    // LAZY checkpoints (r16, the r15 components precedent): each ledger
    // still materializes exactly once — inside the first job that reads
    // it — instead of costing its own blocking driver round-trip at
    // build time (3 serialized jobs saved per call).
    val gate = Curation.qualityFilter(train, "doc_id", "text",
        QfMinTokens, QfMaxTokens, QfMinQualityPpm, QfLangs)
      .select(col("id").as("doc_id"), col("keep").as("keep_quality"))
      .localCheckpoint(false)
    val kept = train.join(gate.where(col("keep_quality")).select("doc_id"), "doc_id")
    val dedup = Dedup.exact(kept, "doc_id", "text")
      .select(col("id").as("doc_id"), col("keep").as("keep_dedup"))
      .localCheckpoint(false)
    val survivors = kept.join(dedup.where(col("keep_dedup")).select("doc_id"), "doc_id")
    val contam = Contamination.ngramOverlap(survivors, eval, "doc_id", "text")
      .select(col("id").as("doc_id"), col("contaminated"))
      .localCheckpoint(false)
    val splits = Curation.splitCorpus(train.select("doc_id"), "doc_id", 800, 100)
      .select("doc_id", "split")
    train.select("doc_id")
      .join(gate, Seq("doc_id"), "left")
      .join(dedup, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(splits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("keep_quality"),
        coalesce(col("keep_dedup"), lit(false)).as("keep_dedup"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"),
        col("split"),
        (col("keep_quality") && coalesce(col("keep_dedup"), lit(false)) &&
          !coalesce(col("contaminated"), lit(false))).as("final_keep"))
      .orderBy("doc_id")
  }

  /** North-star benchmark decontamination: per-training-doc n-gram overlap
    * against a (broadcast) eval set — here the deterministic 5% slice
    * doc_id ≡ 0 (mod 20) stands in for the benchmark corpus. */
  val qContamination = Query("q_contamination",
      s"""SELECT id AS doc_id, n_shingles, n_contaminated, contamination_ratio, contaminated
         |FROM (${Contamination.sqlNgramOverlap(
                  "(SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0)",
                  "(SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0)",
                  "doc_id", "text")})
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
    Contamination.ngramOverlap(
        d.where(pmod(col("doc_id"), lit(20L)) =!= 0),
        d.where(pmod(col("doc_id"), lit(20L)) === 0),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** [[qContamination]] through the BLOOM-prefiltered scale path
    * ([[Contamination.ngramOverlapBloom]]): a driver-built bloom over the
    * eval shingle hashes prefilters the training postings before the exact
    * verify join, so the eval side never needs to fit a broadcast hash
    * relation. The result is hash-identical to the exact path — the oracle
    * is literally the same SQL — which is the point: the bloom is a plan
    * change, not a semantics change. */
  val qContaminationBloom = Query("q_contamination_bloom",
      // the bloom path is exact by construction (verify join removes false
      // positives), so its oracle is the SAME SQL as the exact path
      qContamination.oracleSql) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
    Contamination.ngramOverlapBloom(
        d.where(pmod(col("doc_id"), lit(20L)) =!= 0),
        d.where(pmod(col("doc_id"), lit(20L)) === 0),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** North-star SEMANTIC eval-set decontamination
    * ([[Contamination.semanticOverlap]]): per training embedding, the
    * best raw cosine against the (tiny, disjoint) eval split and whether
    * it crosses [[SemanticContamThr]] — the paraphrase-robust complement
    * of [[qContamination]]'s n-gram screen. Plan: the eval split rides as
    * a LITERAL struct array, so the training side is ONE narrow scan with
    * a codegen'd per-row max — zero joins, zero shuffles (PlanSpec-worthy
    * shape; the orderBy is the dump determinism, not the operator). */
  val qContaminationSemantic = Query("q_contamination_semantic",
      s"""SELECT id AS vec_id, best_eval_id, best_cos, contaminated
         |FROM (${Contamination.sqlSemanticOverlap(
                  "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 41 <> 0)",
                  "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 41 = 0)",
                  "vec_id", "embedding", SemanticContamThr)})
         |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    Contamination.semanticOverlap(
        e.where(pmod(col("vec_id"), lit(41L)) =!= 0),
        e.where(pmod(col("vec_id"), lit(41L)) === 0),
        "vec_id", "embedding", SemanticContamThr)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")
  }

  /** The INDEX-routed twin: the flagged (eval, train) pairs through
    * [[Ivf.rangeJoinExact]] over the PERSISTED IVF — an exact cosine
    * range join whose corpus scan is pruned to clusters whose ball-cover
    * bound ([[Ivf.cosUpperBound]]) clears the threshold. Recall is a
    * theorem (any qualifying member contradicts a skipped cluster's
    * bound), so the brute-force pair SQL is a full oracle with no
    * selfCheck needed — the [[qKnnJoinIvf]] exactness contract, minus
    * even its probe-mass knob. On the synthetic corpus the spread-out
    * geometry prunes little (bounds sit near 1); IvfSpec pins real
    * pruning on clustered fixtures, and the receipts
    * ([[Ivf.RangeJoinStats]]) make the volume a number either way. */
  val qContaminationSemanticIdx = Query("q_contamination_semantic_idx",
      // the routed range join is EXACT by the ball-cover bound theorem
      // (Ivf.rangeJoinExact scaladoc), so the brute-force pair SQL is a
      // full oracle — no probe-mass caveat, no selfCheck
      cosinePairsSql("v.vec_id AS eval_id, t.vec_id", "t", "v",
        "FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 41 <> 0) t\n" +
          "CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 41 = 0) v",
        SemanticContamThr, "eval_id, t.vec_id")) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    Ivf.rangeJoinExact(corpusIvfDisk(spark, dir),
        e.where(pmod(col("vec_id"), lit(41L)) === 0),
        e.where(pmod(col("vec_id"), lit(41L)) =!= 0),
        "vec_id", "embedding", "vec_id", "embedding", SemanticContamThr)
      .select(col("query_id").as("eval_id"), col("nbr_id").as("vec_id"),
        col("sim"))
      .orderBy("eval_id", "vec_id")
  }

  /** The RANGE-JOIN PLANNER executed ([[AnnPlanner.planRange]] →
    * [[AnnPlanner.executeRange]] — VERDICT r12 item 4, closing the last
    * hand-dispatched regime): the same semantic-decontamination radius
    * workload as [[qContaminationSemanticIdx]], but no human picks the
    * path — the cost table does, from (nQ, n, dim), the declared IVF
    * asset, and the MEASURED surviving-mass fraction
    * ([[AnnPlanner.measureRangeMassFraction]] — centroid arithmetic
    * only, no corpus touch). On this spread-out fixture the bounds
    * barely prune (fraction ≈ 1), so the literal scan wins — the
    * genuinely right call at benchmark-sized eval sets — and the
    * [[selfChecked]] gate runs the OTHER exact path
    * ([[Ivf.rangeJoinExact]]) and requires row identity, so the
    * dispatcher, both engines, and the measurement are all checked
    * against one cross-join oracle. AnnPlannerSpec pins the flip to
    * ballCoverRange on clustered geometry / oversized eval sets. */
  val qContaminationSemanticPlan = Query("q_contamination_semantic_plan",
      // the planner-dispatched radius workload: BOTH dispatchable paths
      // are exact and selfChecked row-identical, so the brute cross-join
      // is a full oracle whichever the cost table picks
      qContaminationSemanticIdx.oracleSql) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    val evalQ = e.where(pmod(col("vec_id"), lit(41L)) === 0)
    val train = e.where(pmod(col("vec_id"), lit(41L)) =!= 0)
    val ivf = corpusIvfDisk(spark, dir)
    // n from the stats catalog (train is n·40/41 — same argmin either
    // way, both paths scale with n); nQ counted from the bounded eval
    // side the literal path collects anyway
    val n = IndexStore.statsRows(embStatsDisk(spark, dir), "label")
    val nq = evalQ.count()
    val frac = AnnPlanner.measureRangeMassFraction(ivf, evalQ,
      "vec_id", "embedding", SemanticContamThr)
    val plan = AnnPlanner.planRange(nq, n, ivf.dim, SemanticContamThr,
      assets = AnnPlanner.AnnAssets(ivfClusters = ivf.centroids.size),
      candidateMassFraction = frac)
    def shaped(df: DataFrame) = df
      .select(col("query_id").as("eval_id"), col("nbr_id").as("vec_id"),
        col("sim"))
      .orderBy("eval_id", "vec_id")
    selfChecked(
      shaped(AnnPlanner.executeRange(plan, evalQ, train,
        "vec_id", "embedding", "vec_id", "embedding", SemanticContamThr,
        ivf = Some(ivf))),
      shaped(Ivf.rangeJoinExact(ivf, evalQ, train,
        "vec_id", "embedding", "vec_id", "embedding", SemanticContamThr)),
      s"q_contamination_semantic_plan planned path ${plan.path}")
  }

  /** Quality-tier binning ([[Curation.qualityTiers]]): per-language
    * quantile tiers of the quality score, windows sharded by id-hash so
    * partitions stay bounded at corpus scale. */
  val qQualityTiers = Query("q_quality_tiers",
      (Curation.sqlQualityTiers("documents", "doc_id", "text", "lang",
        tiers = 4, shards = 8)
        .replace("SELECT id,", "SELECT id AS doc_id,") +
        "\nORDER BY doc_id"))((spark, dir) =>
    Curation.qualityTiers(Tables.documents(spark, dir), "doc_id", "text",
        "lang", tiers = 4, shards = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id"))

  /** Temperature-weighted source mixing ([[Curation.mixSources]]) — the
    * pretraining "data mixing" step: flatten the natural source
    * distribution toward √-temperature shares under a 30% global token
    * budget, with pure-id-hash acceptance (no RNG). Output is the
    * per-source mixing report. */
  val qMixSources = Query("q_mix_sources",
      (Curation.sqlMixSources("documents", "doc_id", "source", "text", 300) +
        "\nORDER BY source"))((spark, dir) =>
    Curation.mixSources(Tables.documents(spark, dir), "doc_id", "source",
        "text", budgetPermille = 300)
      .orderBy("source"))

  /** North-star RAG chunking: 200-char windows with 40-char overlap. */
  val qChunk = Query("q_chunk",
      (Curation.sqlChunkDocuments("documents", "doc_id", "text", 200, 40)
        .replace("SELECT id, i::INTEGER AS chunk_idx",
          "SELECT id AS doc_id, i::INTEGER AS chunk_idx") +
        "\nORDER BY doc_id, chunk_idx"))((spark, dir) =>
    Curation.chunkDocuments(Tables.documents(spark, dir), "doc_id", "text",
        chunkChars = 200, overlap = 40)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_idx"))

  /** North-star text cleaning: scrub + normalize with frozen regexes. */
  val qCleanText = Query("q_clean_text",
      s"""SELECT doc_id, ${Curation.sqlCleanText("text")} AS clean_text
         |FROM documents ORDER BY doc_id""".stripMargin)((spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), Curation.cleanText(col("text")).as("clean_text"))
      .orderBy("doc_id"))

  /** R16 corpus embedding as relational ops (sparse output) — the
    * oracle-checkable shape of the embed ETL; the batched mapPartitions
    * shape is parity-tested in EmbedSpec. */
  val qEmbedCorpus = Query("q_embed_corpus",
      (EmbedJob.sqlEmbedRelational("documents", "doc_id", "text")
        .replace("SELECT r.id, r.dim", "SELECT r.id AS doc_id, r.dim") +
        "\nORDER BY doc_id, dim"))((spark, dir) =>
    EmbedJob.embedRelational(Tables.documents(spark, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "dim"))

  /** North-star sequence packing: greedy per-source packing into 512-token
    * training sequences. */
  val qPackSequences = Query("q_pack_sequences",
      (Curation.sqlPackSequences("documents", "source", "doc_id", "text", 512)
        .replace("SELECT \"group\", id, n_tokens,\n       (cum_excl",
          "SELECT \"group\", id AS doc_id, n_tokens,\n       (cum_excl") +
        "\nORDER BY \"group\", doc_id"))((spark, dir) =>
    Curation.packSequences(Tables.documents(spark, dir), "source", "doc_id", "text", 512)
      .withColumnRenamed("id", "doc_id")
      .orderBy("group", "doc_id"))

  /** North-star deterministic stratified sampling (corpus rebalancing):
    * downsample en to 20%, upweight-keep zh at 80%, others 50%. */
  private val SampleRates = Map("en" -> 200, "zh" -> 800)
  private val SampleDefault = 500
  val qSampleStratified = Query("q_sample_stratified",
      (Curation.sqlStratifiedSample("documents", "lang", "doc_id",
        SampleRates, SampleDefault) + "\nORDER BY doc_id"))((spark, dir) =>
    Curation.stratifiedSample(Tables.documents(spark, dir), "lang", "doc_id",
        SampleRates, SampleDefault)
      .orderBy("doc_id"))

  /** Per-label vector centroid as pure relational ops (posexplode → avg by
    * (label, dim)) — the IVF-centroid computation shape, fully
    * oracle-checkable, map-side combinable at any scale. */
  val qLabelCentroid = Query("q_label_centroid",
      """SELECT label, (i - 1)::INTEGER AS dim, round(avg(embedding[i]::DOUBLE), 6) AS centroid
        |FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)((spark, dir) =>
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(round(avg(col("x")), 6).as("centroid"))
      .orderBy("label", "dim"))
}
