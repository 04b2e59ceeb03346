package graft.text

import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-analytics operators for training-data curation (north-star
  * additions): Gopher-family per-document repetition statistics and
  * corpus-level vocabulary/Zipf statistics — the two standard read-outs a
  * curation run computes before setting its filter thresholds.
  *
  * Scale shape: repetition stats explode each document's tokens once and
  * aggregate/window PARTITIONED BY doc id — one hash shuffle on id, work ∝
  * corpus tokens, no cross-document joins. Vocabulary stats are one
  * vocabulary-sized groupBy (map-side combined) plus a driver-tiny top-k.
  * Both linear at 100 TB.
  *
  * Frozen semantics (shared tokenizer [[Text.tokens]], mirrored in the
  * DuckDB oracle renditions):
  *
  *   - `top_bigram_frac`  — fraction of token positions covered by the most
  *     frequent token bigram: 2·max_bigram_count / n_tokens (the Gopher
  *     "fraction of characters in most common 2-gram" rule, re-based to
  *     tokens for a token-bag corpus). 0.0 when n_tokens < 2.
  *   - `dup_trigram_frac` — fraction of trigram positions whose trigram
  *     occurs more than once in the document (Gopher "fraction of
  *     characters in duplicated 3-grams", token-based). 0.0 when
  *     n_tokens < 3.
  *   - `max_run`          — length of the longest run of one token repeated
  *     consecutively (catches `aaaa…` spam the n-gram fractions dilute).
  *     0 for empty docs.
  *
  * Fractions are single integer divisions rounded to 6 decimals — both
  * engines compute the identical double (the ULP-safety argument of
  * `contamination_ratio`).
  */
object CorpusAnalysis {

  /** Per-document repetition statistics:
    * (id, n_tokens, top_bigram_frac, dup_trigram_frac, max_run). Every
    * input doc gets a row (null/empty text → zeros). */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
      splitRe: String = Text.SplitRe): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      posexplode(Text.tokens(col(textCol), splitRe)).as(Seq("pos", "term")))
    // greatest(…, 0): size(null array) is -1 in Spark — null text = 0 tokens
    val nTok = docs.select(col(idCol).as("id"),
      greatest(size(Text.tokens(col(textCol), splitRe)), lit(0)).cast("long").as("n_tokens"))

    // bigram/trigram at each position via lead() over the doc's token order
    val wPos = Window.partitionBy(col("id")).orderBy(col("pos"))
    val grams = toks
      .withColumn("t1", lead(col("term"), 1).over(wPos))
      .withColumn("t2", lead(col("term"), 2).over(wPos))

    val topBigram = grams.where(col("t1").isNotNull)
      .groupBy("id", "term", "t1").agg(count(lit(1)).as("cnt"))
      .groupBy("id").agg(max(col("cnt")).as("max_bg"))

    // \u0001 separator (= the oracle's chr(1)): tokens are [a-z0-9]+ so
    // the key is unambiguous (("ab","c") must not collide with ("a","bc"))
    val dupTrigram = grams.where(col("t2").isNotNull)
      .select(col("id"), concat_ws("\u0001", col("term"), col("t1"), col("t2")).as("tg"))
      .groupBy("id", "tg").agg(count(lit(1)).as("cnt"))
      .groupBy("id").agg(
        sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0L))).as("dup_pos"),
        sum(col("cnt")).as("all_pos"))

    // run-length: pos − row_number within (id, term) is constant per
    // consecutive run — the standard gaps-and-islands grouping
    val wTerm = Window.partitionBy(col("id"), col("term")).orderBy(col("pos"))
    val maxRun = toks
      .withColumn("grp", col("pos") - row_number().over(wTerm))
      .groupBy("id", "term", "grp").agg(count(lit(1)).as("run"))
      .groupBy("id").agg(max(col("run")).as("max_run"))

    nTok
      .join(topBigram, Seq("id"), "left")
      .join(dupTrigram, Seq("id"), "left")
      .join(maxRun, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        when(col("n_tokens") >= 2,
          round(lit(2.0) * col("max_bg") / col("n_tokens"), 6))
          .otherwise(lit(0.0)).as("top_bigram_frac"),
        when(col("n_tokens") >= 3,
          round(col("dup_pos").cast("double") / col("all_pos"), 6))
          .otherwise(lit(0.0)).as("dup_trigram_frac"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
  }

  def sqlRepetitionStats(docsTable: String, idExpr: String, textExpr: String,
      splitRe: String = Text.SplitRe): String =
    s"""WITH base AS (
       |  SELECT $idExpr AS id, ${Text.sqlTokens(textExpr, splitRe)} AS toks FROM $docsTable
       |), toks AS (
       |  -- parallel unnests zip positionally in DuckDB (lateral
       |  -- generate_series over a column is not supported)
       |  SELECT id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
       |  FROM base
       |), grams AS (
       |  SELECT id, pos, term,
       |         lead(term, 1) OVER (PARTITION BY id ORDER BY pos) AS t1,
       |         lead(term, 2) OVER (PARTITION BY id ORDER BY pos) AS t2
       |  FROM toks
       |), top_bg AS (
       |  SELECT id, max(cnt) AS max_bg FROM (
       |    SELECT id, term, t1, count(*) AS cnt FROM grams
       |    WHERE t1 IS NOT NULL GROUP BY 1, 2, 3)
       |  GROUP BY 1
       |), dup_tg AS (
       |  SELECT id,
       |         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_pos,
       |         sum(cnt)::BIGINT AS all_pos
       |  FROM (
       |    SELECT id, term || chr(1) || t1 || chr(1) || t2 AS tg, count(*) AS cnt
       |    FROM grams WHERE t2 IS NOT NULL GROUP BY 1, 2)
       |  GROUP BY 1
       |), runs AS (
       |  SELECT id, max(run) AS max_run FROM (
       |    SELECT id, term, grp, count(*) AS run FROM (
       |      SELECT id, term, pos,
       |             pos - row_number() OVER (PARTITION BY id, term ORDER BY pos) AS grp
       |      FROM toks)
       |    GROUP BY 1, 2, 3)
       |  GROUP BY 1
       |), sized AS (
       |  SELECT id, coalesce(len(toks), 0)::BIGINT AS n_tokens FROM base
       |)
       |SELECT s.id, s.n_tokens,
       |       CASE WHEN s.n_tokens >= 2
       |            THEN round(2.0 * b.max_bg / s.n_tokens, 6)
       |            ELSE 0.0 END AS top_bigram_frac,
       |       CASE WHEN s.n_tokens >= 3
       |            THEN round(t.dup_pos::DOUBLE / t.all_pos, 6)
       |            ELSE 0.0 END AS dup_trigram_frac,
       |       coalesce(r.max_run, 0)::BIGINT AS max_run
       |FROM sized s
       |LEFT JOIN top_bg b USING (id)
       |LEFT JOIN dup_tg t USING (id)
       |LEFT JOIN runs r USING (id)""".stripMargin

  /** Corpus-level vocabulary statistics, one row:
    * (total_tokens, vocab_size, hapax_count, top100_coverage) —
    * hapaxes are terms occurring exactly once; `top100_coverage` is the
    * token-mass fraction of the 100 most frequent terms (count DESC, term
    * ASC tie-break — deterministic), the Zipf head weight that tells a
    * curation run how boilerplate-heavy a source is. */
  def vocabStats(docs: DataFrame, textCol: String, topK: Int = 100): DataFrame = {
    val counts = docs
      .select(explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum(col("cnt")).as("total_tokens"),
      count(lit(1)).as("vocab_size"),
      sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax_count"))
    // head mass via orderBy+limit = TakeOrderedAndProject over the
    // vocabulary table (per-partition heap, k-row merge) — NOT a global
    // rank window (which would single-partition the vocabulary)
    val top = counts.orderBy(col("cnt").desc, col("term").asc).limit(topK)
      .agg(sum(col("cnt")).as("top_mass"))
    totals.crossJoin(top)
      .select(col("total_tokens"), col("vocab_size"), col("hapax_count"),
        round(col("top_mass").cast("double") / col("total_tokens"), 6)
          .as("top100_coverage"))
  }

  /** CROSS-document duplicate-n-gram profile: for each document, the
    * fraction of its distinct [[TextAnalysis.ShingleSize]]-token shingles
    * that also occur in at least one OTHER document —
    * (id, n_shingles, n_duplicated, dup_ratio). The shingle-granular
    * rendition of exact-substring dedup profiling (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better", which
    * profiles corpora by how much of each document is text repeated
    * elsewhere): [[repetitionStats]] reads WITHIN a document, this reads
    * ACROSS the corpus, and its `dup_ratio` is the per-doc signal a
    * curation run thresholds to drop boilerplate-heavy documents that
    * near-dup pair detection (which needs high whole-doc similarity) never
    * pairs up.
    *
    * Scale shape: postings explode once; doc frequency is a
    * map-side-combined groupBy on the shingle hash; the postings↔frequency
    * join is hash-partitioned on that same key, so it reuses the groupBy's
    * shuffle layout; the per-doc roll-up combines map-side on id. Work and
    * shuffles are all linear in corpus tokens — no self-join, no pairs, no
    * quadratic hot-shingle blow-up (a shingle shared by a million docs
    * contributes one count row here, vs 10^12 pairs in a postings
    * self-join). Linear at 100 TB where pairwise dedup needs LSH.
    *
    * Docs with no shingles (null/empty text) get a clean row:
    * (0, 0, 0.0) — the [[graft.pipeline.Contamination.ngramOverlap]]
    * contract. */
  def dupNgramProfile(docs: DataFrame, idCol: String, textCol: String,
      splitRe: String = Text.SplitRe): DataFrame = {
    import graft.dedup.Dedup
    val postings = Dedup.shinglePostings(docs, idCol, textCol,
      splitRe = splitRe).distinct()
    val docFreq = postings.groupBy("h").agg(count(lit(1)).as("ndocs"))
    val perDoc = postings.join(docFreq, "h")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_duplicated"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_duplicated"), lit(0L)).as("n_duplicated"))
      .withColumn("dup_ratio",
        when(col("n_shingles") > 0,
          round(col("n_duplicated").cast("double") / col("n_shingles"), 6))
          .otherwise(lit(0.0)))
  }

  def sqlDupNgramProfile(docsTable: String, idExpr: String, textExpr: String,
      splitRe: String = Text.SplitRe): String =
    s"""WITH postings AS (
       |  SELECT DISTINCT id, ${Text.sqlHash60("sh")} AS h FROM (
       |    SELECT $idExpr AS id, unnest(${TextAnalysis.sqlShingles(textExpr,
             TextAnalysis.ShingleSize, splitRe)}) AS sh
       |    FROM $docsTable)
       |), doc_freq AS (
       |  SELECT h, count(*) AS ndocs FROM postings GROUP BY 1
       |), per_doc AS (
       |  SELECT p.id, count(*) AS n_shingles,
       |         -- ::BIGINT: DuckDB sum(INTEGER) widens to HUGEINT; Spark emits long
       |         sum(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_duplicated
       |  FROM postings p JOIN doc_freq f USING (h)
       |  GROUP BY 1
       |)
       |SELECT b.id,
       |       coalesce(d.n_shingles, 0)::BIGINT AS n_shingles,
       |       coalesce(d.n_duplicated, 0)::BIGINT AS n_duplicated,
       |       CASE WHEN coalesce(d.n_shingles, 0) > 0
       |            THEN round(d.n_duplicated::DOUBLE / d.n_shingles, 6)
       |            ELSE 0.0 END AS dup_ratio
       |FROM (SELECT $idExpr AS id FROM $docsTable) b
       |LEFT JOIN per_doc d USING (id)""".stripMargin

  def sqlVocabStats(docsTable: String, textExpr: String, topK: Int = 100): String =
    s"""WITH counts AS (
       |  SELECT term, count(*) AS cnt
       |  FROM (SELECT unnest(${Text.sqlTokens(textExpr)}) AS term FROM $docsTable)
       |  GROUP BY 1
       |), ranked AS (
       |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk
       |  FROM counts
       |)
       |SELECT sum(cnt)::BIGINT AS total_tokens,
       |       count(*)::BIGINT AS vocab_size,
       |       sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax_count,
       |       round(sum(CASE WHEN rk <= $topK THEN cnt ELSE 0 END)::DOUBLE
       |             / sum(cnt), 6) AS top100_coverage
       |FROM ranked""".stripMargin

  /** SOURCE-OVERLAP MATRIX: for every pair of sources that share at least
    * one distinct [[TextAnalysis.ShingleSize]]-token shingle, the exact
    * shingle-set intersection, both set sizes, Jaccard, and BOTH directed
    * containments — the corpus-level read-out of "which datasets copy
    * which" that a curation run consults before mixing sources
    * ([[dupNgramProfile]] answers it per document; this answers it per
    * SOURCE). `cont_a` = the fraction of A's shingle vocabulary that also
    * appears in B: a crawl that swallowed a whole smaller dataset shows
    * cont_small→big ≈ 1 at low Jaccard — the asymmetry Jaccard alone
    * hides, and exactly the case where dropping the contained source is
    * free training data savings.
    *
    * Scale shape — deliberately NOT the postings self-join: distinct
    * (source, shingle) pairs explode once (one shuffle); the per-shingle
    * source SET is collected (bounded by the SOURCE cardinality — a
    * dimension column by contract, like the grouped-quantile group; a
    * hot shingle present in every source contributes one nSources-wide
    * row here vs nDocs² join rows in a doc-pair formulation); pairs
    * explode from each set (≤ nSources²/2 per shingle, tiny) and
    * aggregate map-side. Work is linear in distinct (source, shingle)
    * pairs at 100 TB; the output is ≤ nSources² rows. For the cadence
    * where even one corpus scan is too much, [[sourceOverlapSketched]]
    * answers the same matrix from persisted-size KMV min-sets. */
  /** Distinct (src, shingle-hash) pairs — the ONE shingling/hashing
    * pipeline both matrix paths read, so the exact and sketched
    * renditions can never silently diverge (the byte-comparability
    * contract the KMV scaladoc depends on). NULL sources are dropped:
    * they name no dataset, and the sketched path would otherwise carry
    * a null key to the driver. */
  private def srcShingleHashes(docs: DataFrame, textCol: String,
      srcCol: String, k: Int, splitRe: String): DataFrame =
    docs
      .where(col(srcCol).isNotNull)
      .select(col(srcCol).cast("string").as("src"),
        Text.tokens(col(textCol), splitRe).as("toks"))
      .select(col("src"),
        explode(TextAnalysis.shinglesFromTokens(col("toks"), k)).as("sh"))
      .select(col("src"), Text.hash60(col("sh")).as("h"))
      .distinct()

  def sourceOverlap(docs: DataFrame, textCol: String, srcCol: String,
      k: Int = TextAnalysis.ShingleSize,
      splitRe: String = Text.SplitRe): DataFrame = {
    val p = srcShingleHashes(docs, textCol, srcCol, k, splitRe)
    val sizes = p.groupBy("src").agg(count(lit(1)).as("sz"))
    // per-shingle source set, sorted so pair explosion emits src_a < src_b
    // exactly once — the same lexicographic order the SQL twin's
    // a.src < b.src join predicate walks
    val bySh = p.groupBy("h")
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .where(size(col("srcs")) >= 2)
    val pairs = bySh
      .select(explode(flatten(transform(col("srcs"), (a, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("pr"))
      .groupBy(col("pr.src_a").as("src_a"), col("pr.src_b").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes.select(col("src").as("src_a"),
        col("sz").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("src").as("src_b"),
        col("sz").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"), col("n_a"),
        col("n_b"),
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 6).as("jaccard"),
        round(col("inter").cast("double") / col("n_a"), 6).as("cont_a"),
        round(col("inter").cast("double") / col("n_b"), 6).as("cont_b"))
  }

  def sqlSourceOverlap(docsTable: String, textExpr: String,
      srcExpr: String, splitRe: String = Text.SplitRe): String =
    s"""WITH p AS (
       |  SELECT DISTINCT src, ${Text.sqlHash60("sh")} AS h FROM (
       |    SELECT $srcExpr AS src, unnest(${TextAnalysis.sqlShingles(textExpr,
             TextAnalysis.ShingleSize, splitRe)}) AS sh
       |    FROM $docsTable)
       |), sizes AS (SELECT src, count(*) AS sz FROM p GROUP BY 1),
       |inter AS (
       |  SELECT a.src AS src_a, b.src AS src_b, count(*) AS inter
       |  FROM p a JOIN p b ON a.h = b.h AND a.src < b.src
       |  GROUP BY 1, 2
       |)
       |SELECT src_a, src_b, inter, s1.sz AS n_a, s2.sz AS n_b,
       |       round(inter::DOUBLE / (s1.sz + s2.sz - inter), 6) AS jaccard,
       |       round(inter::DOUBLE / s1.sz, 6) AS cont_a,
       |       round(inter::DOUBLE / s2.sz, 6) AS cont_b
       |FROM inter JOIN sizes s1 ON src_a = s1.src
       |           JOIN sizes s2 ON src_b = s2.src""".stripMargin

  /** [[sourceOverlap]] from KMV min-sets instead of the full postings —
    * the sketch regime for when the matrix must be answered WITHOUT a
    * corpus-sized shuffle (or from persisted per-source summaries with no
    * scan at all): one bounded per-source bottom-`sketchK` pass over the
    * distinct shingle hashes (the [[graft.operators.Sketches]] KMV
    * discipline — k smallest of a union is computable per source and
    * mergeable, so production reads per-wave persisted min-sets), then
    * the whole pair matrix is DRIVER ARITHMETIC over ≤ nSources × k
    * hashes: set sizes via the k-th-minimum estimator, intersections via
    * [[graft.operators.Sketches.kmvIntersection]]. EXACT while every
    * source holds < k distinct shingles (min-sets are complete sets);
    * O(1/√k) relative error beyond. Same schema as [[sourceOverlap]]
    * with estimated counts — a pair whose sketches share no hash is
    * reported with inter = 0 rather than dropped, because at sketch
    * resolution "no shared minimum" is evidence, not proof, of
    * disjointness. */
  def sourceOverlapSketched(docs: DataFrame, textCol: String,
      srcCol: String, sketchK: Int = graft.operators.Sketches.DefaultK,
      k: Int = TextAnalysis.ShingleSize,
      splitRe: String = Text.SplitRe): DataFrame = {
    val spark = docs.sparkSession
    val p = srcShingleHashes(docs, textCol, srcCol, k, splitRe)
    val w = Window.partitionBy("src").orderBy("h")
    val mins: Map[String, Array[Long]] = p
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= sketchK)
      .select("src", "h").collect()
      .groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getLong(1)).sorted }
    kmvOverlapMatrix(spark, mins.toSeq, sketchK)
  }

  /** The pairwise KMV matrix from per-source min-sets — pure driver
    * arithmetic, shared by the one-pass sketch path and the persisted
    * path. */
  private def kmvOverlapMatrix(spark: org.apache.spark.sql.SparkSession,
      mins: Seq[(String, Array[Long])], k: Int): DataFrame = {
    import graft.operators.Sketches
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bySrc = mins.sortBy(_._1)
    val rows = for {
      i <- bySrc.indices; j <- (i + 1) until bySrc.size
      (srcA, a) = bySrc(i); (srcB, b) = bySrc(j)
      inter = Sketches.kmvIntersection(a, b, k)
      na = Sketches.estimate(a, k)
      nb = Sketches.estimate(b, k)
    } yield (srcA, srcB, inter, na, nb,
      if (na + nb - inter <= 0) 0.0
      else r6(inter.toDouble / (na + nb - inter).toDouble),
      // the directed containments are the feature's headline signal
      // (cont ≈ 1 at low Jaccard = swallowed dataset) — free arithmetic
      // on values already in hand, same schema as the exact matrix
      if (na <= 0) 0.0 else r6(inter.toDouble / na.toDouble),
      if (nb <= 0) 0.0 else r6(inter.toDouble / nb.toDouble))
    rows.toDF("src_a", "src_b", "inter", "n_a", "n_b", "jaccard",
      "cont_a", "cont_b")
  }

  /** The shingle ITEM stream of a corpus slice — one `sh` string row per
    * shingle occurrence, the relation a per-source persisted summary
    * ingests ([[graft.index.IndexStore.saveSummary]] hashes items with
    * the same hash60-of-string the in-memory paths use, so persisted KMV
    * minima and [[sourceOverlapSketched]]'s are byte-comparable). KMV
    * keeps distinct minima, so occurrence multiplicity costs nothing. */
  def shingleItems(docs: DataFrame, textCol: String,
      k: Int = TextAnalysis.ShingleSize,
      splitRe: String = Text.SplitRe): DataFrame =
    docs.select(Text.tokens(col(textCol), splitRe).as("toks"))
      .select(explode(TextAnalysis.shinglesFromTokens(col("toks"), k))
        .as("sh"))

  /** [[sourceOverlapSketched]] with NO scan at all: the matrix from
    * already-persisted per-source summaries
    * ([[graft.index.IndexStore.SummaryIndex]] — one summary family per
    * source, fed per ingest wave via `appendBatchSummary`, directly or
    * through the `IndexStore.stream` hook, over [[shingleItems]]). At 100 TB this is the
    * production cadence: each source's KMV min-set accretes at wave
    * cost, and "which datasets copy which" is answered from
    * ≤ nSources × k driver-held longs at report time. All summaries
    * must share the KMV k (the [[graft.index.IndexStore.SummaryIndex
    * .intersectionEstimate]] comparability contract). */
  def sourceOverlapFromSummaries(spark: org.apache.spark.sql.SparkSession,
      summaries: Seq[(String, graft.index.IndexStore.SummaryIndex)])
      : DataFrame = {
    require(summaries.nonEmpty, "no summaries — an empty matrix would " +
      "read as 'no overlap anywhere'")
    val ks = summaries.map(_._2.kKmv).distinct
    require(ks.size == 1,
      s"KMV k mismatch across sources: ${ks.sorted.mkString(", ")} — " +
        "summaries must share the sketch DDL to be comparable")
    kmvOverlapMatrix(spark,
      summaries.map { case (s, su) => s -> su.kmvMins }, ks.head)
  }
}
