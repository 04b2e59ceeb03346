package graft.dedup

import graft.functions.{Text, Vectors}
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{GraftShim, VectorExpressions}

/** Deduplication operators for large-scale training-data pipelines
  * (north-star additions): exact, n-gram Jaccard, MinHash+LSH, SimHash and
  * embedding-cosine near-duplicate detection.
  *
  * Scale design (the point of each variant):
  *
  *   - [[exact]] — one hash-groupBy; the canonical-keeper choice (min id) is
  *     a map-side-combinable `min` agg. Linear, one shuffle on the text hash.
  *   - [[jaccardPairs]] — EXACT pairwise Jaccard via a shingle-postings
  *     self-join. Correct but the join on shingle is quadratic in the
  *     per-shingle posting lists; it is the small-scale oracle baseline and
  *     the verifier behind LSH candidates.
  *   - [[minhashCandidates]]/[[minhashPairs]] — the 100 TB path: constant-size
  *     (16-hash) signature per doc, candidates only where an LSH band
  *     collides (4 bands × 4 rows). Shuffle volume ∝ docs × bands, never
  *     pairs. Verified against exact Jaccard afterwards, so precision = 1 and
  *     only recall depends on banding.
  *   - [[simhash]]/[[simhashPairs]] — 32-bit fingerprints; near-dup =
  *     Hamming distance ≤ d. Candidate pairs via the pigeonhole chunk trick
  *     (split into d+1 chunks; any pair within distance d shares ≥1 exact
  *     chunk) — equality joins only, no cross product, same results as brute
  *     force.
  *   - [[cosinePairs]] — brute self-join for oracle-checkable exactness; the
  *     scale path for embeddings is IVF bucketing ([[graft.index.Ivf]]) or
  *     sign-LSH over the same banding machinery.
  *
  * All hashes derive from the shared [[Text.hash60]] so the DuckDB oracle
  * reproduces every bit.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup decision per row: (id, text_hash, group_n, keep) where
    * keep ⇔ id is the minimum id of its identical-text group. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // null texts form their own duplicate group — without the sentinel the
    // null hash never equi-joins and those rows silently vanish
    val hashed = docs.select(col(idCol).as("id"),
      coalesce(md5(col(textCol)), lit("__null__")).as("text_hash"))
    val groups = hashed.groupBy("text_hash")
      .agg(count(lit(1)).as("group_n"), min(col("id")).as("keep_id"))
    hashed.join(groups, "text_hash")
      .select(col("id"), col("text_hash"), col("group_n"),
        (col("id") === col("keep_id")).as("keep"))
  }

  /** Exact dedup over an embedding column: identical vectors collapse to
    * the min id — the embedding-side rendition of [[exact]] and the first
    * pass of any vector near-dup pipeline (SCALE.md finding 1: replica
    * cliques make candidate-verify quadratic; one hash-groupBy on the
    * vector bytes removes them linearly). Grouping directly on the
    * array<double> column hash-shuffles the fixed-width vector once.
    * Output: (id, group_n, keep). */
  def exactVectors(embs: DataFrame, idCol: String, embCol: String): DataFrame = {
    val groups = embs.groupBy(col(embCol).as("__v"))
      .agg(count(lit(1)).as("group_n"), min(col(idCol)).as("keep_id"))
    embs.join(groups, embs(embCol) === groups("__v"))
      .select(col(idCol).as("id"), col("group_n"),
        (col(idCol) === col("keep_id")).as("keep"))
  }

  def sqlExactVectors(embsTable: String, idExpr: String, embExpr: String): String =
    s"""WITH groups AS (
       |  SELECT $embExpr AS v, count(*) AS group_n, min($idExpr) AS keep_id
       |  FROM $embsTable GROUP BY 1
       |)
       |SELECT e.$idExpr AS id, g.group_n, e.$idExpr = g.keep_id AS keep
       |FROM $embsTable e JOIN groups g ON e.$embExpr = g.v""".stripMargin

  /** Exact dedup with SOURCE PRIORITY — the cross-source rendition of
    * [[exact]]: when the same text appears in several sources (a page
    * crawled by two pipelines, a wiki dump + a web snapshot), a curation
    * run keeps the copy from the most trusted source, not the one with the
    * smallest id. keep_id = the group member minimizing (priority(source),
    * id) — rank from `priority` (lower = preferred, unlisted sources get
    * `defaultPriority`), id as the deterministic tie-break within a rank.
    * Same scale shape as [[exact]]: one hash-groupBy (min of a packed
    * (rank, id) struct — still map-side combinable), one equi-join back.
    * Output: (id, source, group_n, keep_id, keep). */
  def exactWithPriority(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, priority: Map[String, Int],
      defaultPriority: Int): DataFrame = {
    val rank = priority.foldLeft(lit(defaultPriority)) { case (acc, (s, p)) =>
      when(col(sourceCol) === s, lit(p)).otherwise(acc)
    }
    val hashed = docs.select(col(idCol).as("id"), col(sourceCol).as("source"),
      coalesce(md5(col(textCol)), lit("__null__")).as("text_hash"),
      rank.as("rk"))
    val groups = hashed.groupBy("text_hash")
      .agg(count(lit(1)).as("group_n"),
        min(struct(col("rk"), col("id"))).as("best"))
    hashed.join(groups, "text_hash")
      .select(col("id"), col("source"), col("group_n"),
        col("best.id").as("keep_id"),
        (col("id") === col("best.id")).as("keep"))
  }

  def sqlExactWithPriority(docsTable: String, idExpr: String, textExpr: String,
      sourceExpr: String, priority: Map[String, Int],
      defaultPriority: Int): String = {
    val cases = priority.toSeq.sortBy(_._1)
      .map { case (s, p) => s"WHEN $sourceExpr = '$s' THEN $p" }.mkString(" ")
    s"""WITH hashed AS (
       |  SELECT $idExpr AS id, $sourceExpr AS source,
       |         coalesce(md5($textExpr), '__null__') AS text_hash,
       |         (CASE $cases ELSE $defaultPriority END) AS rk
       |  FROM $docsTable
       |), groups AS (
       |  SELECT text_hash, count(*) AS group_n,
       |         min({'rk': rk, 'id': id}) AS best
       |  FROM hashed GROUP BY 1
       |)
       |SELECT h.id, h.source, g.group_n,
       |       g.best.id AS keep_id, h.id = g.best.id AS keep
       |FROM hashed h JOIN groups g USING (text_hash)""".stripMargin
  }

  def sqlExact(docsTable: String, idExpr: String, textExpr: String): String =
    s"""WITH hashed AS (
       |  SELECT $idExpr AS id, coalesce(md5($textExpr), '__null__') AS text_hash FROM $docsTable
       |), groups AS (
       |  SELECT text_hash, count(*) AS group_n, min(id) AS keep_id
       |  FROM hashed GROUP BY 1
       |)
       |SELECT h.id, h.text_hash, g.group_n, h.id = g.keep_id AS keep
       |FROM hashed h JOIN groups g USING (text_hash)""".stripMargin

  // ---------------------------------------------------- shingles / Jaccard

  /** Distinct-shingle postings: (id, shingle-hash). The base relation for
    * Jaccard and MinHash. */
  def shinglePostings(docs: DataFrame, idCol: String, textCol: String,
      k: Int = TextAnalysis.ShingleSize,
      splitRe: String = Text.SplitRe, spread: Boolean = true): DataFrame =
    shinglePostingsTok(docs, idCol, textCol, k, Text.Tokenizer(splitRe),
      spread)

  /** [[shinglePostings]] under a full [[Text.Tokenizer]] contract
    * ([[Text.MultilingualTokenizer]] makes shingle dedup meaningful on
    * CJK text — without bigram expansion an ideograph run is ONE
    * near-unique token and boilerplate never pairs). */
  def shinglePostingsTok(docs: DataFrame, idCol: String, textCol: String,
      k: Int, tok: Text.Tokenizer, spread: Boolean = true): DataFrame =
    // tokenize + shingle + the downstream pair joins do far more CPU per
    // input byte than the scan — give them the cluster's parallelism when
    // the input's split count can't (Par.spread is a no-op at corpus
    // scale). `spread = false` for batch-bounded screen inputs that are
    // checkpointed immediately ([[containmentScreen]]): there the extra
    // partitions flipped downstream index-join build sides and cost more
    // than the tokenize parallelism bought (measured r15:
    // q_dedup_containment_inc 1.8 s → 4.4 s exec with the batch side
    // spread; the self-screen paths moved the other way, 3.6 s → 0.7 s).
    (if (spread) graft.util.Par.spread(docs, Seq(col(idCol))) else docs)
      // stage tokens as a column so the shingle lambda references an
      // attribute instead of re-tokenizing per position (O(n²) otherwise)
      .select(col(idCol).as("id"),
        tok(col(textCol)).as("toks"))
      .select(col("id"), explode(TextAnalysis.shinglesFromTokens(col("toks"), k)).as("sh"))
      .select(col("id"), Text.hash60(col("sh")).as("h"))

  private def sqlShinglePostings(docsTable: String, idExpr: String, textExpr: String): String =
    s"""SELECT id, ${Text.sqlHash60("sh")} AS h FROM (
       |  SELECT $idExpr AS id, unnest(${TextAnalysis.sqlShingles(textExpr)}) AS sh
       |  FROM $docsTable)""".stripMargin

  /** Input bound for [[jaccardPairs]] — this operator is the labeled
    * QUADRATIC oracle baseline (the shingle-postings self-join blows up on a
    * hot shingle at corpus scale; see the q_dedup_jaccard scaladoc in
    * DedupQueries), so pointing it at a large corpus is always a mistake:
    * [[minhashPairs]] computes the same pairs at the declared thresholds
    * with banded candidates. 100k docs keeps every validation fixture in
    * bounds while fencing anything corpus-sized. */
  val JaccardMaxDocs = 100000

  /** Exact n-gram-Jaccard near-dup pairs: (id1, id2, jaccard) with
    * jaccard ≥ threshold, id1 < id2, rounded to 6 decimals.
    *
    * Fails LOUDLY (the repo's scale-misuse standard — cf.
    * [[components]] non-convergence) above [[JaccardMaxDocs]] input docs
    * unless `force = true`: this is the oracle baseline, not the dedup
    * path. The `limit(n+1).count()` probe stops the scan early instead of
    * counting the whole relation. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, force: Boolean = false): DataFrame = {
    if (!force) {
      val n = docs.limit(JaccardMaxDocs + 1).count()
      require(n <= JaccardMaxDocs,
        s"jaccardPairs: input has > $JaccardMaxDocs docs; this is the " +
          "quadratic oracle baseline — use minhashPairs (banded candidates, " +
          "exact verify) for corpus-scale near-dup, or pass force = true")
    }
    jaccardFromPostings(shinglePostings(docs, idCol, textCol), threshold)
  }

  /** Jaccard pairs over an existing (id, h) postings relation — lets
    * [[minhashPairs]] reuse one cached postings scan for both signature
    * build and verification. */
  def jaccardFromPostings(p: DataFrame, threshold: Double): DataFrame = {
    val sizes = p.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = p.select(col("id").as("id1"), col("h"))
    val b = p.select(col("id").as("id2"), col("h"))
    val inter = a.join(b, "h").where(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    val s1 = sizes.select(col("id").as("id1"), col("sz").as("sz1"))
    val s2 = sizes.select(col("id").as("id2"), col("sz").as("sz2"))
    inter.join(s1, "id1").join(s2, "id2")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** DIRECTED shingle-containment pairs: C(id1 → id2) =
    * |S(id1) ∩ S(id2)| / |S(id1)| ≥ threshold — "id1's content is
    * (mostly) contained in id2". Catches the asymmetric duplication
    * symmetric Jaccard misses: a quote, a boilerplate-wrapped article, a
    * subset document has C ≈ 1 against its superset while J =
    * |∩|/|∪| stays small when the sizes differ (the C4/RealNews-style
    * containment screen). Both directions are emitted when both clear the
    * threshold (mutual containment = near-identical).
    *
    * Same postings machinery, same [[JaccardMaxDocs]] loud guard, and the
    * same scale position as [[jaccardPairs]]: this is the exact ORACLE
    * BASELINE. The corpus-scale path is [[containmentPairsPrefix]] —
    * prefix-filter candidates (recall exactly 1 by construction, unlike
    * MinHash bands, which are tuned for J and miss high-C/low-J subset
    * docs) followed by this same exact verify on candidates only. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, force: Boolean = false): DataFrame = {
    if (!force) {
      val n = docs.limit(JaccardMaxDocs + 1).count()
      require(n <= JaccardMaxDocs,
        s"containmentPairs: input has > $JaccardMaxDocs docs; this is the " +
          "quadratic oracle baseline — use containmentPairsPrefix " +
          "(prefix-filter candidates, exact verify, recall 1) for " +
          "corpus-scale containment, or pass force = true")
    }
    val p = shinglePostings(docs, idCol, textCol)
    val a = p.select(col("id").as("id1"), col("h"))
    val b = p.select(col("id").as("id2"), col("h"))
    val inter = a.join(b, "h").where(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    directedContainment(inter, p.groupBy("id").agg(count(lit(1)).as("sz")),
      threshold)
  }

  /** Both directions of C = inter/|S| from an undirected (id1 < id2)
    * intersection-count relation, thresholded — the emit shared by the
    * quadratic baseline and the prefix-filter path so their outputs are
    * definitionally identical on the same candidate set. */
  private def directedContainment(inter: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame = {
    val s1 = sizes.select(col("id").as("id1"), col("sz").as("sz1"))
    val s2 = sizes.select(col("id").as("id2"), col("sz").as("sz2"))
    val joined = inter.join(s1, "id1").join(s2, "id2")
    val fwd = joined.select(col("id1"), col("id2"),
      round(col("inter").cast("double") / col("sz1"), 6).as("containment"))
    val rev = joined.select(col("id2").as("id1"), col("id1").as("id2"),
      round(col("inter").cast("double") / col("sz2"), 6).as("containment"))
    fwd.unionByName(rev).where(col("containment") >= threshold)
  }

  /** Candidate pairs for directed containment at `threshold` via PREFIX
    * FILTERING (the set-similarity-join bound of Chaudhuri/Ganti/Kaushik's
    * SSJoin and the PPJoin family, re-expressed as two Spark equi-joins) —
    * the corpus-scale candidate generator MinHash banding cannot be for
    * containment:
    *
    * Order each doc's shingles by global document frequency ascending
    * (rarest first; hash breaks ties). If C(A→B) ≥ t then A shares at
    * least ⌈t·|S(A)|⌉ shingles with B, so among A's first
    * |S(A)| − ⌈t·|S(A)|⌉ + 1 shingles — its "prefix" — at least one is in
    * S(B): indexing only prefixes has recall EXACTLY 1, a pigeonhole
    * fact, not a banding probability. Precision comes free from the
    * exact verify that follows.
    *
    * Scale shape: the candidate equi-join is prefix(A) ⋈ postings(B) on
    * the shingle hash. Prefixes hold each doc's RAREST ~(1−t) fraction of
    * shingles, so hot boilerplate shingles (huge posting lists) are
    * joined only against the few docs rare-ranking them — join volume is
    * Σ_h prefixDf(h)·df(h), concentrated on small posting lists, never
    * the quadratic hot-shingle blowup of the all-postings self-join.
    * Both aggregations (df, sz) and the rank window shuffle on real keys
    * (h, id); nothing is collected.
    *
    * Input: a (id, h) shingle-postings relation (distinct per doc — the
    * [[shinglePostings]] contract). Output: undirected candidate ids
    * (id1 < id2) covering every pair where EITHER direction can clear
    * `threshold`. */
  /** Each doc's prefix (its rarest `|S| − ⌈t·|S|⌉ + 1` shingles) with the
    * per-shingle document frequency attached — shared by candidate
    * generation, the cost estimator, and the persisted containment index
    * ([[graft.index.IndexStore.saveContainment]]). */
  private[graft] def containmentPrefix(p: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    val docFreq = p.groupBy("h").agg(count(lit(1)).as("df"))
    val sizes = p.groupBy("id").agg(count(lit(1)).as("sz"))
    val byRarity = Window.partitionBy("id").orderBy(col("df").asc, col("h").asc)
    p.join(docFreq, "h")
      .withColumn("rk", row_number().over(byRarity))
      .join(sizes, "id")
      .where(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id").as("qid"), col("h"), col("df"))
  }

  /** EXACT row count of the candidate equi-join [[containmentCandidates]]
    * would materialize (before the self-pair filter and pair-dedup), as
    * one cheap aggregate:
    * Σ over prefix entries of df(h). The prefix bound makes recall free,
    * but candidate VOLUME is a property of the corpus — on a
    * low-diversity corpus (templated pages, near-identical boilerplate
    * everywhere) even per-doc-rarest shingles can carry large df and the
    * join can approach all-pairs. Production callers budget the job with
    * this number FIRST (cost ≈ the df aggregation, nothing pairwise) and
    * route through [[exact]]-dedup-first or a higher threshold when it
    * comes back hot. */
  def containmentCandidateVolume(p: DataFrame, threshold: Double): Long = {
    // sum over zero rows is SQL null — an empty corpus partition budgets
    // to volume 0, it does not NPE the budgeting job
    val r = containmentPrefix(p, threshold).agg(sum(col("df")).as("v")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def containmentCandidates(p: DataFrame, threshold: Double): DataFrame = {
    val prefix = containmentPrefix(p, threshold).drop("df")
    prefix.join(p.select(col("id").as("cid"), col("h")), "h")
      .where(col("qid") =!= col("cid"))
      .select(least(col("qid"), col("cid")).as("id1"),
        greatest(col("qid"), col("cid")).as("id2"))
      .distinct()
  }

  /** Corpus-scale directed containment: [[containmentCandidates]] (prefix
    * filter, recall 1) → exact intersection counts on candidate pairs only
    * → the same thresholded directed emit as [[containmentPairs]]. Output
    * is IDENTICAL to the quadratic baseline at any threshold — guaranteed
    * by the prefix bound, not by testdata luck — while work scales with
    * candidate mass instead of pairs. This closes the C4-style boilerplate
    * screen at corpus scale (the high-containment/low-Jaccard pairs
    * [[minhashPairs]]' J-tuned bands structurally miss). */
  def containmentPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val p = shinglePostings(docs, idCol, textCol)
    val cands = containmentCandidates(p, threshold)
    // ROW-LOCAL exact verify (the [[jaccardPairsViaContainment]] shape):
    // each doc's distinct shingle set travels as one array and the
    // intersection is a per-candidate array_intersect — the former
    // join-and-count verify re-exploded every candidate by its shingle
    // count and shuffled candidates × shingles rows into a pair groupBy;
    // this shuffles |docs| set rows + |cands| pairs and counts locally.
    // Intersection counts are identical (postings are distinct per doc),
    // so the emit below is definitionally unchanged.
    val sets = p.groupBy("id").agg(collect_list(col("h")).as("hs"),
      count(lit(1)).as("sz"))
    val inter = cands
      .join(sets.select(col("id").as("id1"), col("hs").as("h1")), "id1")
      .join(sets.select(col("id").as("id2"), col("hs").as("h2")), "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("h1"), col("h2"))).cast("long").as("inter"))
    directedContainment(inter, sets.select(col("id"), col("sz")), threshold)
  }

  /** Exact Jaccard pairs via the CONTAINMENT prefix screen — the
    * EXECUTABLE form of [[Planner.planJaccard]]'s below-the-floor
    * recommendation (until round 9 that recommendation was prose):
    * J(A,B) = |∩|/|∪| ≤ |∩|/|S(A)| = C(A→B), so J ≥ t implies BOTH
    * directed containments ≥ t and [[containmentCandidates]] at t —
    * recall EXACTLY 1 for containment by the pigeonhole prefix bound —
    * is a superset screen for Jaccard. Screen at t, then verify exact
    * Jaccard on candidates only.
    *
    * Output is IDENTICAL to the guarded quadratic [[jaccardPairs]] at any
    * threshold (pinned in PlannerSpec), with candidate-mass work instead
    * of the all-postings self-join and NO banding miss probability — the
    * property that matters BELOW the MinHash layout's recall floor
    * (J ≈ 0.95 at the 1e-3 budget), where [[minhashPairs]] misses most
    * borderline pairs and this path misses none. Above the floor
    * MinHash stays cheaper (its bands prune harder than a low-t prefix);
    * [[Planner.planJaccard]] arbitrates. Budget candidate volume with
    * [[containmentCandidateVolume]] before launch, as with the
    * containment paths. */
  def jaccardPairsViaContainment(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    val p = shinglePostings(docs, idCol, textCol)
    // PPJoin-style prefix-PREFIX candidates, tighter than the containment
    // screen's prefix⋈postings: J ≥ t forces |A∩B| ≥ ⌈t·max(|A|,|B|)⌉
    // (≥ each side's own ⌈t·n⌉), and the prefix theorem (Chaudhuri/Ganti/
    // Kaushik; Xiao et al. PPJoin) says two sets with intersection ≥ α
    // must COLLIDE WITHIN their (n−α+1)-prefixes under one global order —
    // so for symmetric Jaccard the join can run prefix against prefix
    // (volume Σ_h prefixDf(h)², vs Σ prefixDf·df for the directional
    // containment screen, which must keep the postings side because
    // C(A→B) bounds only A's intersection share). Recall stays exactly 1.
    val prefix = containmentPrefix(p, threshold).drop("df")
    val cands = prefix
      .join(prefix.select(col("qid").as("cid"), col("h")), "h")
      .where(col("qid") =!= col("cid"))
      .select(least(col("qid"), col("cid")).as("id1"),
        greatest(col("qid"), col("cid")).as("id2"))
      .distinct()
    // ROW-LOCAL exact verify: each doc's (distinct) shingle set travels
    // as one array and the intersection is a per-candidate
    // array_intersect — work ∝ candidates × shingles-per-doc with no
    // postings re-shuffle (measured at sf0.1/J=0.5: the join-and-count
    // verify pushed ~23M rows through a shuffle for 511k candidates;
    // this does 511k row-local intersections). Arrays are bounded by
    // document length, never corpus-sized.
    val sets = p.groupBy("id").agg(collect_list(col("h")).as("hs"),
      count(lit(1)).as("sz"))
    val a = sets.select(col("id").as("id1"), col("hs").as("h1"),
      col("sz").as("sz1"))
    val b = sets.select(col("id").as("id2"), col("hs").as("h2"),
      col("sz").as("sz2"))
    cands.join(a, "id1").join(b, "id2")
      .withColumn("inter",
        size(array_intersect(col("h1"), col("h2"))).cast("long"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Shingle-hash bucket fan-out for the persisted containment index —
    * postings and prefixes are written partitioned by
    * `pmod(h, ShingleBuckets)` so a small batch's probe prunes to its
    * shingles' buckets at scan time (the BM25 [[graft.search.TextSearch
    * .TermBuckets]] trick on the shingle space). */
  val ShingleBuckets = 64

  /** INCREMENTAL directed containment — the daily-ingest rendition of
    * [[containmentPairsPrefix]], mirroring [[signLshCandidatesAgainst]]'s
    * contract: which documents of a NEW batch contain / are contained by
    * anything ALREADY in the persisted containment index
    * ([[graft.index.IndexStore.ContainmentIndex]])? The batch is shingled
    * fresh (work ∝ batch); the corpus contributes only its persisted
    * (id, h) postings/prefix rows — its TEXT is never re-shingled.
    *
    * Candidates, both directions exact by pigeonhole:
    *   - C(batch→corpus) ≥ t: the batch doc's prefix (computed over
    *     BATCH-LOCAL df — ANY `n−⌈t·n⌉+1`-subset satisfies the bound, the
    *     df ordering is purely a join-volume heuristic, so stale/local
    *     rarity never costs recall) must hit the corpus doc's postings.
    *   - C(corpus→batch) ≥ t: the corpus doc's INDEXED prefix (built at
    *     `index.threshold` ≤ t, hence at least as long as t requires)
    *     must hit the batch doc's postings.
    * Exact intersection counts then run on candidate pairs only, batch
    * shingles from the fresh postings, corpus shingles from the index —
    * output rows are IDENTICAL to [[containmentPairs]] restricted to
    * pairs with a batch member (batch-internal pairs of ids NOT in the
    * index are out of contract — self-screen the batch with
    * [[containmentPairsPrefix]] first, as with the sign-LSH incremental
    * path).
    *
    * Scale shape: every join is an equi-join on `h` between the batch
    * relation and the bucket-pruned index tables — AQE broadcasts the
    * batch side when it is small and falls back to a shuffle join when it
    * is not (no forced broadcast: batch postings are docs × shingles and
    * can legitimately exceed the broadcast budget). Nothing pairwise,
    * nothing corpus × corpus, no corpus text re-scan. */
  def containmentPairsAgainst(batch: DataFrame, idCol: String,
      textCol: String, index: graft.index.IndexStore.ContainmentIndex,
      threshold: Double): DataFrame =
    containmentScreen(batch, idCol, textCol, index, threshold)._1

  /** What the incremental containment screen actually did — the
    * [[graft.index.Ivf.ExactJoinStats]] discipline applied here, so a
    * production user sees candidate-volume blowup COMING (the
    * [[containmentCandidateVolume]] estimate is the budget; these are the
    * receipts). `bucketsScanned` of `totalBuckets` is how much of the
    * index the batch's shingles pruned to; `candidatePairs` is the
    * prefix-join survivor count (the number the estimator bounds);
    * `verifiedPairs` the canonical pairs that got exact intersection
    * counts; `emittedPairs` the pairs past the threshold in either
    * direction. */
  case class ContainmentScreenStats(bucketsScanned: Int, totalBuckets: Int,
      candidatePairs: Long, verifiedPairs: Long, emittedPairs: Long)

  /** [[containmentPairsAgainst]] plus its [[ContainmentScreenStats]] —
    * the [[graft.search.LateInteraction]] boundedCandidates discipline:
    * each screen stage is `localCheckpoint`ed ONCE and every consumer
    * (the stats counts AND the returned relation) reads the checkpoint,
    * so receipts cost one execution of the screen, not one per count.
    * Counts over checkpointed stages are cheap block scans; the returned
    * DataFrame is itself checkpointed, so consuming it later re-reads
    * materialized blocks rather than re-running the joins. One behavioral
    * consequence, deliberate: the stale-index `raise_error` (conflicting
    * re-ingest intersection counts) fires HERE, eagerly, instead of at
    * first consumption — receipts for a misused index should be loud at
    * screen time. The stats-free variant stays fully lazy. */
  def containmentPairsAgainstWithStats(batch: DataFrame, idCol: String,
      textCol: String, index: graft.index.IndexStore.ContainmentIndex,
      threshold: Double): (DataFrame, ContainmentScreenStats) = {
    val (out, cands, interC, bucketsScanned) =
      containmentScreen(batch, idCol, textCol, index, threshold,
        mat = _.localCheckpoint(true))
    val stats = ContainmentScreenStats(
      bucketsScanned = bucketsScanned,
      totalBuckets = ShingleBuckets,
      candidatePairs = cands.count(),
      verifiedPairs = interC.count(),
      emittedPairs = out.count())
    (out, stats)
  }

  /** `mat` is applied to each screen stage (candidates, canonicalized
    * intersections, emitted pairs): `identity` keeps the lazy production
    * plan; `localCheckpoint(true)` materializes each stage exactly once
    * so the WithStats variant's counts never re-execute upstream joins. */
  private def containmentScreen(batch: DataFrame, idCol: String,
      textCol: String, index: graft.index.IndexStore.ContainmentIndex,
      threshold: Double,
      mat: DataFrame => DataFrame = identity): (DataFrame, DataFrame, DataFrame, Int) = {
    require(threshold >= index.threshold,
      s"containment index was built for threshold ${index.threshold}; its " +
        s"prefixes are too short to guarantee recall at $threshold — " +
        "rebuild the index at (or below) the query threshold")
    // batch-bounded and reused by every stage below — materialize once
    // (spread = false: see shinglePostingsTok — the batch side is
    // checkpointed here and spreading it flipped index-join build sides)
    val bp = shinglePostings(batch, idCol, textCol, spread = false)
      .localCheckpoint(true)
    val buckets = bp
      .select(pmod(col("h"), lit(ShingleBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0))
    val ip = index.postings.where(col("bucket").isin(buckets: _*))
      .select(col("id").as("cid"), col("h"))
    val ipre = index.prefixes.where(col("bucket").isin(buckets: _*))
      .select(col("id").as("cid"), col("h"))
    val candA = containmentPrefix(bp, threshold)
      .select(col("qid").as("bid"), col("h")).join(ip, "h")
    val candB = bp.select(col("id").as("bid"), col("h")).join(ipre, "h")
    val cands = mat(candA.select("bid", "cid")
      .unionByName(candB.select("bid", "cid"))
      .where(col("bid") =!= col("cid")).distinct())
    val inter = cands
      .join(bp.select(col("id").as("bid"), col("h")), "bid")
      .join(ip, Seq("cid", "h"))
      .groupBy("bid", "cid").agg(count(lit(1)).as("inter"))
    // canonicalize: a pair of two batch ids (both also indexed) arrives in
    // both orientations — collapse before the directed emit or it would
    // double-report. With unchanged text both orientations carry the same
    // count and the collapse is a plain dedup; if a batch re-ingests an id
    // with CHANGED text the orientations DISAGREE (S_new(A)∩S_idx(B) ≠
    // S_new(B)∩S_idx(A) — the index is stale for that id) and any silent
    // pick would emit a containment computed from mismatched shingle sets
    // (values above 1.0 are reachable against the stale indexed size). A
    // conflict is therefore detectable misuse → distributed raise_error
    // (the [[graft.pipeline.Curation.packChunkId]] guard idiom): append or
    // rebuild the index for updated documents before screening.
    val interC = mat(inter.select(least(col("bid"), col("cid")).as("id1"),
        greatest(col("bid"), col("cid")).as("id2"), col("inter"))
      .groupBy("id1", "id2")
      .agg(max(col("inter")).as("inter"), min(col("inter")).as("__lo"))
      .select(col("id1"), col("id2"),
        when(col("__lo") === col("inter"), col("inter"))
          .otherwise(raise_error(format_string(
            "containmentPairsAgainst: conflicting intersection counts for " +
              "pair (%s, %s) — a batch id was re-ingested with text that " +
              "differs from its indexed postings (stale index); append or " +
              "rebuild the containment index before screening",
            col("id1").cast("string"), col("id2").cast("string"))))
          .as("inter")))
    val bpSizes = bp.groupBy("id").agg(count(lit(1)).as("sz"))
    val sizes = index.sizes.select("id", "sz").unionByName(
      bpSizes.join(index.sizes.select("id"), Seq("id"), "left_anti"))
    (mat(directedContainment(interC, sizes, threshold)), cands, interC,
      buckets.length)
  }

  /** Oracle rendition of [[containmentPairsAgainst]] for a batch ⊆ corpus
    * (the re-ingest verification shape): [[sqlContainmentPairs]] with the
    * pair set restricted to rows touching the batch. `batchCond` renders
    * the batch membership predicate for a given id expression (e.g.
    * `id => s"$id % 5 = 0"`). */
  def sqlContainmentPairsAgainst(docsTable: String, idExpr: String,
      textExpr: String, threshold: Double,
      batchCond: String => String): String =
    s"""WITH p AS (${sqlShinglePostings(docsTable, idExpr, textExpr)}),
       |sizes AS (SELECT id, count(*) AS sz FROM p GROUP BY 1),
       |inter AS (
       |  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
       |  FROM p a JOIN p b ON a.h = b.h AND a.id < b.id
       |  WHERE (${batchCond("a.id")}) OR (${batchCond("b.id")})
       |  GROUP BY 1, 2
       |), joined AS (
       |  SELECT id1, id2, inter, s1.sz AS sz1, s2.sz AS sz2
       |  FROM inter JOIN sizes s1 ON id1 = s1.id JOIN sizes s2 ON id2 = s2.id
       |), directed AS (
       |  SELECT id1, id2, round(inter::DOUBLE / sz1, 6) AS containment FROM joined
       |  UNION ALL
       |  SELECT id2 AS id1, id1 AS id2, round(inter::DOUBLE / sz2, 6) AS containment FROM joined
       |)
       |SELECT id1, id2, containment FROM directed
       |WHERE containment >= $threshold""".stripMargin

  def sqlContainmentPairs(docsTable: String, idExpr: String, textExpr: String,
      threshold: Double): String =
    s"""WITH p AS (${sqlShinglePostings(docsTable, idExpr, textExpr)}),
       |sizes AS (SELECT id, count(*) AS sz FROM p GROUP BY 1),
       |inter AS (
       |  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
       |  FROM p a JOIN p b ON a.h = b.h AND a.id < b.id
       |  GROUP BY 1, 2
       |), joined AS (
       |  SELECT id1, id2, inter, s1.sz AS sz1, s2.sz AS sz2
       |  FROM inter JOIN sizes s1 ON id1 = s1.id JOIN sizes s2 ON id2 = s2.id
       |), directed AS (
       |  SELECT id1, id2, round(inter::DOUBLE / sz1, 6) AS containment FROM joined
       |  UNION ALL
       |  SELECT id2 AS id1, id1 AS id2, round(inter::DOUBLE / sz2, 6) AS containment FROM joined
       |)
       |SELECT id1, id2, containment FROM directed
       |WHERE containment >= $threshold""".stripMargin

  def sqlJaccardPairs(docsTable: String, idExpr: String, textExpr: String,
      threshold: Double): String =
    s"""WITH p AS (${sqlShinglePostings(docsTable, idExpr, textExpr)}),
       |sizes AS (SELECT id, count(*) AS sz FROM p GROUP BY 1),
       |inter AS (
       |  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
       |  FROM p a JOIN p b ON a.h = b.h AND a.id < b.id
       |  GROUP BY 1, 2
       |)
       |SELECT id1, id2,
       |       round(inter::DOUBLE / (s1.sz + s2.sz - inter), 6) AS jaccard
       |FROM inter JOIN sizes s1 ON id1 = s1.id JOIN sizes s2 ON id2 = s2.id
       |WHERE round(inter::DOUBLE / (s1.sz + s2.sz - inter), 6) >= $threshold""".stripMargin

  // ------------------------------------------------------------ MinHash+LSH

  /** 16 affine hash functions h_i(x) = (a_i·x + b_i) mod P over the 31-bit
    * reduction of the shingle hash. P = 2³¹−1 (prime); products stay well
    * inside 63 bits so Spark and DuckDB BIGINT arithmetic agree exactly. */
  val MinhashP: Long = 2147483647L
  val MinhashA: Seq[Long] = Seq(
    1103515245L, 1234567891L, 766245317L, 913647891L,
    1676943009L, 515245103L, 894567121L, 103654297L,
    1794967291L, 632145987L, 1402345877L, 789123457L,
    198765433L, 1567891234L, 456789123L, 987654321L)
  val MinhashB: Seq[Long] = Seq(
    12345L, 67891L, 24680L, 13579L, 86420L, 97531L, 11111L, 22222L,
    33333L, 44444L, 55555L, 66666L, 77777L, 88888L, 99999L, 10101L)
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4

  /** MinHash signature per doc: (id, sig_0 … sig_15). Docs with no shingles
    * are dropped (no signature ⇒ never a candidate — matches Atlas-style
    * "no tokens, no match" semantics). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    signaturesFromPostings(shinglePostings(docs, idCol, textCol))

  def signaturesFromPostings(p: DataFrame): DataFrame = {
    val p31 = p.withColumn("h31", pmod(col("h"), lit(MinhashP)))
    val aggs = (0 until NumHashes).map { i =>
      min(pmod(lit(MinhashA(i)) * col("h31") + lit(MinhashB(i)), lit(MinhashP)))
        .as(s"sig_$i")
    }
    p31.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: docs sharing ≥1 of the 4 bands (bands = 4
    * consecutive signature slots hashed together). (id1, id2) distinct. */
  def minhashCandidates(sigs: DataFrame): DataFrame = {
    val banded = (0 until Bands).map { b =>
      val slots = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => col(s"sig_$i").cast("string"))
      sigs.select(col("id"),
        lit(b).as("band"),
        md5(concat_ws(":", slots: _*)).as("bkey"))
    }.reduce(_ union _)
    val l = banded.select(col("id").as("id1"), col("band"), col("bkey"))
    val r = banded.select(col("id").as("id2"), col("band"), col("bkey"))
    l.join(r, Seq("band", "bkey")).where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** LSH candidates verified with exact Jaccard ≥ threshold:
    * (id1, id2, jaccard). Precision 1; recall governed by banding. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, spread: Boolean = true): DataFrame = {
    // one shingle scan feeds both the signature build and the verify join.
    // `spread = false` for staged-pipeline inputs whose parallelism
    // already comes from an upstream shuffle (the [[shinglePostingsTok]]
    // screen-input precedent; r15 verdict: the pipeline's spread floor
    // made it 4× slower at 32 cores than at 8)
    val p = shinglePostings(docs, idCol, textCol, spread = spread).cache()
    val cands = minhashCandidates(signaturesFromPostings(p))
    // verify ONLY candidate pairs (the point of LSH): intersections are
    // computed by routing id1's postings through the candidate list and
    // matching them against id2's postings — work ∝ candidates × shingles
    // per doc, never the all-pairs shingle self-join
    val sizes = p.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = p.select(col("id").as("id1"), col("h"))
    val b = p.select(col("id").as("id2"), col("h"))
    val inter = cands.join(a, "id1").join(b, Seq("id2", "h"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    val s1 = sizes.select(col("id").as("id1"), col("sz").as("sz1"))
    val s2 = sizes.select(col("id").as("id2"), col("sz").as("sz2"))
    inter.join(s1, "id1").join(s2, "id2")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** CTE chain `p → p31 → sigs → banded → cands` (paste after `WITH `) —
    * ends in `cands(id1, id2)`, the distinct LSH candidate pairs. Shared
    * by the Jaccard-verified and cosine-verified oracle renditions. */
  def sqlMinhashCandidateCtes(docsTable: String, idExpr: String, textExpr: String): String = {
    val sigExprs = (0 until NumHashes).map { i =>
      s"min((${MinhashA(i)} * h31 + ${MinhashB(i)}) % $MinhashP) AS sig_$i"
    }.mkString(",\n         ")
    val bandRows = (0 until Bands).map { b =>
      val slots = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => s"sig_$i::VARCHAR").mkString(" || ':' || ")
      s"SELECT id, $b AS band, md5($slots) AS bkey FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""p AS (${sqlShinglePostings(docsTable, idExpr, textExpr)}),
       |p31 AS (SELECT id, ((h % $MinhashP) + $MinhashP) % $MinhashP AS h31 FROM p),
       |sigs AS (
       |  SELECT id,
       |         $sigExprs
       |  FROM p31 GROUP BY id
       |), banded AS (
       |  $bandRows
       |), cands AS (
       |  SELECT DISTINCT l.id AS id1, r.id AS id2
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.bkey = r.bkey
       |  WHERE l.id < r.id
       |)""".stripMargin
  }

  def sqlMinhashPairs(docsTable: String, idExpr: String, textExpr: String,
      threshold: Double): String =
    s"""WITH ${sqlMinhashCandidateCtes(docsTable, idExpr, textExpr)},
       |jacc AS (${sqlJaccardPairs(docsTable, idExpr, textExpr, threshold)})
       |SELECT id1, id2, jaccard
       |FROM jacc JOIN cands USING (id1, id2)""".stripMargin

  // ---------------------------------------------------------------- SimHash

  /** 32-bit SimHash per doc from term-frequency-weighted token hashes:
    * bit j set ⇔ Σ_terms tf·(2·bit_j(hash60(term))−1) > 0. (id, simhash). */
  val SimhashBits = 32

  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokenize/explode parallelism floor — no-op when the scan already
    // feeds every core (see Par.spread)
    val toks = graft.util.Par.spread(docs, Seq(col(idCol)))
      .select(col(idCol).as("id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("h", Text.hash60(col("term")))
    // one wide aggregation — 32 map-side-combinable sums per doc — instead
    // of exploding 32 rows per (doc, term): shuffle volume stays ∝ terms,
    // not terms × bits
    val bitSums = (0 until SimhashBits).map { j =>
      sum(col("tf") * (shiftright(col("h"), j).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)))
        .as(s"s_$j")
    }
    val sums = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val hashVal = (0 until SimhashBits).map { j =>
      when(col(s"s_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col("id"), hashVal.as("simhash"))
  }

  def sqlSimhash(docsTable: String, idExpr: String, textExpr: String): String =
    s"""SELECT id, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
       |FROM (
       |  SELECT id, j, sum(c) AS s FROM (
       |    SELECT id, u.j AS j, tf * (((h >> u.j) & 1) * 2 - 1) AS c
       |    FROM (
       |      SELECT id, term, count(*) AS tf, ${Text.sqlHash60("term")} AS h
       |      FROM (SELECT $idExpr AS id, unnest(${Text.sqlTokens(textExpr)}) AS term FROM $docsTable)
       |      GROUP BY id, term
       |    ), (SELECT unnest(generate_series(0, ${SimhashBits - 1})) AS j) u
       |  ) GROUP BY id, j
       |) GROUP BY id""".stripMargin

  /** Near-dup pairs by Hamming distance ≤ maxDist: (id1, id2, dist).
    *
    * Candidates via pigeonhole chunking: the 32 bits split into maxDist+1
    * contiguous chunks; any pair within distance maxDist agrees exactly on
    * ≥1 chunk, so an equality join per chunk finds every such pair — no
    * cross product, shuffle ∝ docs × chunks. Exact-verify keeps dist ≤ d.
    */
  def simhashPairs(sigs: DataFrame, maxDist: Int): DataFrame = {
    val chunks = maxDist + 1
    val base = SimhashBits / chunks
    val extra = SimhashBits % chunks
    // chunk c covers [off, off+len): first `extra` chunks get base+1 bits
    val bounds = (0 until chunks).map { c =>
      val off = c * base + math.min(c, extra)
      val len = base + (if (c < extra) 1 else 0)
      (c, off, len)
    }
    // ONE posexplode over the chunk-key array instead of a chunks-way
    // union of per-chunk selects: the union form re-evaluated the whole
    // signature subtree (tokenize → explode → tf agg → 32-bit sums) once
    // per branch per join side — 2·chunks full passes; posexplode keeps
    // one subtree per join side and the signature pass is paid twice,
    // not 2·chunks times (r15 measurement: 4.0 s → 1.3 s at sf0.1 after
    // the shingle-parallelism floor exposed the recompute)
    val banded = sigs.select(col("id"), col("simhash"),
      posexplode(array(bounds.map { case (_, off, len) =>
        val mask = (1L << len) - 1L
        shiftright(col("simhash"), off).bitwiseAND(lit(mask))
      }: _*)).as(Seq("chunk", "ckey")))
    val l = banded.select(col("id").as("id1"), col("simhash").as("sh1"), col("chunk"), col("ckey"))
    val r = banded.select(col("id").as("id2"), col("simhash").as("sh2"), col("chunk"), col("ckey"))
    l.join(r, Seq("chunk", "ckey")).where(col("id1") < col("id2"))
      .withColumn("x", col("sh1").bitwiseXOR(col("sh2")))
      .select(col("id1"), col("id2"), expr("bit_count(x)").cast("long").as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  /** Oracle rendition: brute-force pairs (provably identical output to the
    * chunked join: pigeonhole guarantees every dist ≤ d pair collides). */
  def sqlSimhashPairs(docsTable: String, idExpr: String, textExpr: String,
      maxDist: Int): String =
    s"""WITH sh AS (${sqlSimhash(docsTable, idExpr, textExpr)})
       |SELECT a.id AS id1, b.id AS id2,
       |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS dist
       |FROM sh a JOIN sh b ON a.id < b.id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxDist""".stripMargin

  // ------------------------------------------------- duplicate components

  /** Connected components over an undirected near-dup pair list — the step
    * that turns pairwise matches into dedup CLUSTERS (keep min id per
    * component, drop the rest). Iterative min-label propagation WITH
    * POINTER DOUBLING to a fixpoint: each round every node takes the min
    * of its neighbors' labels (one hop), then shortcuts through its own
    * label (`comp ← comp(comp)`), so label distance covered doubles per
    * round — rounds grow with log(diameter), not diameter, and a
    * chain-shaped near-dup run of length 10⁶ converges in ~20 rounds
    * instead of 10⁶ (real corpora DO produce long chains: boilerplate
    * families where each doc matches only its nearest revisions). Each
    * round is two equi-joins + one map-side-combinable min agg.
    * Output: (id, component = min reachable id), nodes that appear in
    * ≥1 pair only.
    *
    * REGIME DISPATCH (r15, the [[graft.text.Vocab.learnBpeLocalFromCounts]]
    * precedent): a near-dup pair list is usually orders of magnitude
    * smaller than the corpus that produced it — when it is provably
    * bounded (≤ [[ComponentsLocalMaxEdges]] edges, probed with an
    * early-stopping limit count) and long-keyed, the fixpoint collapses
    * to ONE collect + a driver-local union-find: zero rounds, zero
    * per-round scheduler latency, identical output (pinned in DedupSpec
    * local == distributed). Larger or non-long-keyed graphs take the
    * distributed fixpoint unchanged — at 100 TB the pair list of a
    * boilerplate-heavy corpus can exceed any driver, which is exactly
    * what the probe guards. */
  def components(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val sel = pairs.select(col("id1"), col("id2"))
    val longKeyed = sel.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longKeyed) {
      // checkpoint so probe + collect (or probe + fixpoint, if the probe
      // overflows) never re-run the upstream near-dup join
      val ck = sel.localCheckpoint(false)
      val n = ck.limit(ComponentsLocalMaxEdges + 1).count()
      if (n <= ComponentsLocalMaxEdges) {
        val spark = pairs.sparkSession
        import spark.implicits._
        // NULL endpoints are refused on the row→tuple boundary (riding
        // the collect — no extra job): r.getLong would silently unbox a
        // NULL id to 0L, merging a phantom node 0 into the component —
        // the executeErasureWave null-id-gate contract, r16 advice
        val edges = ck.collect().map { r =>
          require(!r.isNullAt(0) && !r.isNullAt(1),
            "components: NULL id in near-dup pair list — a NULL endpoint " +
              "names no document; filter the pair source instead of " +
              "letting it alias node 0")
          (r.getLong(0), r.getLong(1))
        }
        componentsLocal(edges).toSeq.toDF("id", "comp")
      } else componentsDistributed(ck, maxIter)
    } else componentsDistributed(sel, maxIter)
  }

  /** Driver-bound for the local union-find regime: 4M edges ≈ 64 MB of
    * longs collected — comfortably driver-sized, far above any wave's
    * relabel graph, far below a corpus-scale pair list. */
  val ComponentsLocalMaxEdges = 1 << 22

  /** Union-find with the MIN id as every set's root (union attaches the
    * larger root under the smaller, find path-compresses), so root(x) IS
    * the component label the distributed fixpoint computes: min reachable
    * id. Output covers exactly the ids appearing in ≥1 pair. */
  private[graft] def componentsLocal(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.keysIterator.map(k => (k, find(k))).toArray
  }

  private[graft] def componentsDistributed(pairs: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // localCheckpoint (not cache): an un-truncated logical plan doubles per
    // iteration and planning cost explodes — checkpointing resets the
    // lineage to the materialized result (the standard iterative pattern).
    //
    // Self-loops fold the own-label term into the neighbor minimum, so one
    // round is ONE join + ONE min-agg (the older formulation needed a
    // second join against the previous labels to re-attach own comps).
    // Convergence: Σcomp is strictly decreasing until the fixpoint (labels
    // only ever decrease), so comparing one DECIMAL sum per round replaces
    // any old-vs-new comparison — the round's single action, which also
    // materializes the lazy checkpoint.
    // checkpoint the (possibly expensive) pair computation ONCE before the
    // union fan-out — each union branch re-references its logical subtree,
    // so an UN-checkpointed 3-way union would re-run the whole near-dup
    // join three times. LAZY checkpoints (eager = false): branches share
    // the checkpointed RDD either way (it materializes once, at the first
    // action), but lazy lets base/edges/labels all materialize inside the
    // initial Σcomp job below instead of costing three scheduler
    // round-trips of their own (r15: −3 driver jobs per components call —
    // every fixpoint caller pays this, pipeline/components/incremental)
    val base = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .localCheckpoint(false)
    val sym = base.union(base.select(col("b").as("a"), col("a").as("b")))
    val edges = sym.union(sym.select(col("a"), col("a").as("b")))
      .distinct().localCheckpoint(false)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint(false)
    // decimal(38,0): Σ of 2^63-scale labels over arbitrarily many nodes
    var prevSum = {
      val r = labels.agg(sum(col("comp").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var converged = prevSum.signum() == 0 && labels.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      // hop: min over neighbour labels (self-loop folds own label in)
      val hopped = edges
        .join(labels.select(col("id").as("b"), col("comp").as("bcomp")), "b")
        .groupBy(col("a").as("id")).agg(min(col("bcomp")).as("comp"))
      // pointer doubling: shortcut through the label's own label —
      // comp(comp(id)) ≤ comp(id) always (labels are node ids with
      // self-loops, so every label is itself a keyed node), which is what
      // turns O(diameter) propagation into O(log diameter)
      val updated = hopped
        .join(hopped.select(col("id").as("comp"), col("comp").as("cc")), "comp")
        .select(col("id"), col("cc").as("comp"))
        .localCheckpoint(false)
      val newSum = {
        val r = updated.agg(sum(col("comp").cast("decimal(38,0)"))).head()
        if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
      }
      labels = updated
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"components did not converge in $maxIter rounds — component diameter " +
          "exceeds 2^$maxIter; raise maxIter (pointer doubling needs " +
          "log2(diameter) rounds)")
    labels
  }

  /** Oracle rendition: recursive transitive closure, min label per node.
    * `pairsSql` must produce (id1, id2). */
  /** INCREMENTAL connected components — the daily-ingest shape for the
    * dedup graph: a persisted (id, comp) map over the corpus-so-far is
    * updated by one wave of NEW pairs (new↔new and new↔corpus edges, the
    * output the incremental screens already produce) with graph work ∝
    * the wave, never a full recompute. The trick is the standard
    * component-contraction argument: every endpoint maps to its CURRENT
    * representative (its own id when unseen), the [[components]] fixpoint
    * runs over that REPRESENTATIVE edge list — sized by the wave's
    * touched components, not the corpus — and the resulting relabel is
    * applied back to the map in one broadcast join (the relabel relation
    * is wave-bounded by construction: ≤ 2·|new pairs| distinct
    * representatives). Labels stay the GLOBAL min id per component:
    * every old label is already its component's min, and merging
    * components takes the min of mins — so the output is row-identical
    * to recomputing [[components]] over all pairs ever seen (DedupSpec
    * property-checks this over random graphs and splits; the gate row
    * hash-matches the full-recompute oracle).
    *
    * At 100 TB the map update is the honest minimum: one narrow pass
    * over the (id, comp) relation — never the corpus text/vectors —
    * with only affected rows changing. */
  def componentsIncremental(oldMap: DataFrame, newPairs: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // lazy for the same reason as the [[components]] header checkpoints:
    // consumers share the checkpointed RDD, and materialization rides the
    // first downstream action instead of a dedicated job
    val pairs = newPairs.select(col("id1"), col("id2")).localCheckpoint(false)
    val repEdges = pairs
      .join(oldMap.select(col("id").as("id1"), col("comp").as("__c1")),
        Seq("id1"), "left")
      .join(oldMap.select(col("id").as("id2"), col("comp").as("__c2")),
        Seq("id2"), "left")
      .select(coalesce(col("__c1"), col("id1")).as("id1"),
        coalesce(col("__c2"), col("id2")).as("id2"))
    // fixpoint over representatives only (wave-sized, not corpus-sized)
    val relabel = components(repEdges, maxIter)
    val rl = broadcast(
      relabel.select(col("id").as("comp"), col("comp").as("__new")))
    // old rows: relabeled when their representative merged, else pass
    // through untouched — one map-side join over the (id, comp) relation
    val oldUpdated = oldMap.join(rl, Seq("comp"), "left")
      .select(col("id"), coalesce(col("__new"), col("comp")).as("comp"))
    // new nodes (wave endpoints the map has never seen): each was its own
    // representative in repEdges, so its relabel row IS its component
    val newRows = pairs.select(col("id1").as("id"))
      .union(pairs.select(col("id2").as("id"))).distinct()
      .join(oldMap.select("id"), Seq("id"), "left_anti")
      .join(relabel.withColumnRenamed("comp", "__new"), Seq("id"))
      .select(col("id"), col("__new").as("comp"))
    oldUpdated.unionByName(newRows)
  }

  def sqlComponents(pairsSql: String): String =
    s"""WITH RECURSIVE prs AS ($pairsSql),
       |edges AS (
       |  SELECT id1 AS a, id2 AS b FROM prs
       |  UNION SELECT id2 AS a, id1 AS b FROM prs
       |),
       |walk(id, comp) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, w.comp FROM edges e JOIN walk w ON e.b = w.id
       |)
       |SELECT id, min(comp) AS comp FROM walk GROUP BY id""".stripMargin

  // ------------------------------------------------------- cosine near-dup

  /** Embedding-cosine near-dup pairs: (id1, id2, sim) with rounded cosine ≥
    * threshold, id1 < id2.
    *
    * ORACLE-BASELINE, not the scale path: brute O(N²) crossJoin, used only
    * by specs and DuckDB oracles to pin exact semantics. Production near-dup
    * routes through [[cosinePairsLsh]] (bucketed sign-LSH candidates, exact
    * verify) — do not benchmark or deploy this operator at corpus scale. */
  def cosinePairs(embs: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    // hoist the norms out of the O(N²) pair loop: each side's ‖v‖ is
    // computed once per row, the per-pair work is a single codegen'd dot
    val withNorm = embs.select(col(idCol).as("id"), col(embCol).as("v"),
      Vectors.l2norm(col(embCol)).as("nrm"))
    val a = withNorm.select(col("id").as("id1"), col("v").as("v1"), col("nrm").as("nrm1"))
    val b = withNorm.select(col("id").as("id2"), col("v").as("v2"), col("nrm").as("nrm2"))
    a.crossJoin(b).where(col("id1") < col("id2"))
      .withColumn("sim",
        round(Vectors.dot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2")), 6))
      .where(col("sim") >= threshold)
      .select("id1", "id2", "sim")
  }

  /** The BALL-COVER cluster-pair screen behind [[cosinePairsBallCover]],
    * exposed so the candidate MASS is budgetable by arithmetic BEFORE
    * launch (the `Planner.planJaccard` Σ prefixDf² discipline for the
    * cosine-exact regime): cluster pair (i, j) survives iff members
    * could possibly reach the threshold —
    * ‖μ̂ᵢ−μ̂ⱼ‖ − rᵢ − rⱼ ≤ d(t) where d(t) = √(2−2t) is the unit-sphere
    * chord length at cosine t and the radii are the index's
    * normalized-space ball cover ([[graft.index.Ivf.clusterRadii]]).
    * The bound is evaluated at t − 5e-7, not t: the verify filter
    * ([[cosinePairsBallCover]], matching the brute oracle) accepts
    * round(sim, 6) ≥ t, so a pair whose TRUE cosine sits in
    * [t − 5e-7, t) still passes verify — the geometric screen must
    * cover everything the rounded filter can accept, or a qualifying
    * pair at the rounding boundary could be pruned and the recall-1
    * contract silently broken.
    * Degenerate geometry (zero-norm centroid, unknown radius → the
    * [[graft.index.Ivf.TrivialRadius]] never-prune bound) keeps the
    * pair. Returns (surviving unordered pairs over non-empty clusters,
    * candidate mass = Σ |Cᵢ||Cⱼ| pairwise comparisons the verify join
    * will perform). Driver cost is nlist² bound checks — for PAIRS
    * workloads size nlist ~ n^(1/3) (so nlist² ≤ n) rather than the
    * top-k default √n. */
  def ballCoverClusterPairs(index: graft.index.Ivf.IvfIndex,
      threshold: Double): (Seq[(Int, Int)], Long) = {
    require(threshold > -1 && threshold <= 1,
      s"cosine threshold in (-1, 1], got $threshold")
    // widened to the verify filter's rounding granularity (scaladoc):
    // the screen must cover every cosine that can round UP to threshold
    val d = math.sqrt(math.max(0.0, 2.0 - 2.0 * (threshold - 5e-7)))
    val normCents: Map[Int, Array[Double]] = index.centroids.map {
      case (cid, c) =>
        val n = math.sqrt(c.map(x => x * x).sum)
        cid -> (if (n == 0) null else c.map(_ / n))
    }
    def radius(cid: Int): Double =
      index.radii.getOrElse(cid, graft.index.Ivf.TrivialRadius)
    val cids = index.sizes.filter(_._2 > 0).keys.toSeq.sorted
    val pairs = for {
      i <- cids
      j <- cids
      if i <= j
      if i == j || {
        val mi = normCents.getOrElse(i, null)
        val mj = normCents.getOrElse(j, null)
        mi == null || mj == null || {
          var s = 0.0; var x = 0
          while (x < mi.length) { val dd = mi(x) - mj(x); s += dd * dd; x += 1 }
          math.sqrt(s) - radius(i) - radius(j) <= d
        }
      }
    } yield (i, j)
    val mass = pairs.map { case (i, j) =>
      val si = index.sizes(i); val sj = index.sizes(j)
      if (i == j) si * (si - 1) / 2 else si * sj
    }.sum
    (pairs, mass)
  }

  /** EXACT cosine-threshold pairs with ball-cover cluster-pair pruning —
    * the cosine twin of [[jaccardPairsViaContainment]]'s recall-1
    * contract: output is definitionally identical to [[cosinePairs]]
    * (so the brute SQL is a full oracle) while the scan is pruned to the
    * cluster pairs that could possibly hold a qualifying pair. Recall 1
    * is a THEOREM of the triangle inequality, not a tuning outcome: any
    * pair with cos(a,b) ≥ t has unit-sphere distance ‖â−b̂‖ ≤ d(t), and
    * ‖μ̂ᵢ−μ̂ⱼ‖ ≤ rᵢ + ‖â−b̂‖ + rⱼ, so its cluster pair survives the
    * [[ballCoverClusterPairs]] screen. This is the
    * [[graft.index.Ivf.knnJoinExact]] exactness discipline applied to
    * the THRESHOLD SELF-JOIN workload (near-dup detection below the
    * sign-LSH banding floor, or wherever probabilistic recall is not
    * acceptable).
    *
    * Plan shape: members ⋈ broadcast(surviving cluster pairs) ⋈ members
    * — two hash joins keyed on cluster, verify work exactly the
    * candidate mass, never a CartesianProduct. Pruning power is
    * geometry-dependent (the planner honesty boundary): on clustered
    * production embeddings most cluster pairs are separated by more
    * than d(t) and the mass collapses toward Σ|Cᵢ|²; on near-random
    * fixtures at loose thresholds the screen keeps everything and the
    * operator degrades gracefully to the bucketed all-pairs join —
    * budget with [[ballCoverClusterPairs]] BEFORE launch either way.
    * Each unordered cluster pair enters the join once and member ids are
    * normalized on emission, so every qualifying pair appears exactly
    * once and the verify row count IS the candidate mass. Under the
    * Verify gate
    * (`graft.selfcheck`) the index must cover the corpus — a member
    * missing from the assignments would be silently invisible
    * ([[graft.index.Ivf.coverageHoles]]). */
  def cosinePairsBallCover(index: graft.index.Ivf.IvfIndex,
      embs: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    if (graft.util.SelfCheck.enabled) {
      val holes = graft.index.Ivf.coverageHoles(index, embs, idCol)
      require(holes.isEmpty,
        "cosinePairsBallCover: corpus rows missing from the index " +
          s"assignments would be silently invisible to the pair screen " +
          s"— e.g. ids ${holes.mkString(", ")}; rebuild or append-repair " +
          "the index over the current corpus")
    }
    val (screen, _) = ballCoverClusterPairs(index, threshold)
    // each unordered cluster pair enters the join ONCE (the verify row
    // count is exactly the candidate mass, not double it): cross-cluster
    // member pairs are id-normalized with least/greatest (sim is
    // symmetric), same-cluster pairs keep the id1 < id2 filter
    val pairsDf = broadcast(screen.toDF("__ca", "__cb"))
    val e = embs
      .select(col(idCol).cast("long").as("__id"), col(embCol).as("__v"),
        Vectors.l2norm(col(embCol)).as("__n"))
      .join(index.assignments.select(col("id").cast("long").as("__id"),
        col("cluster")), Seq("__id"))
    val a = e.select(col("__id").as("__ida"), col("__v").as("v1"),
      col("__n").as("n1"), col("cluster").as("__ca"))
    val b = e.select(col("__id").as("__idb"), col("__v").as("v2"),
      col("__n").as("n2"), col("cluster").as("__cb"))
    a.join(pairsDf, Seq("__ca"))
      .join(b, Seq("__cb"))
      .where(col("__ca") =!= col("__cb") || col("__ida") < col("__idb"))
      .withColumn("sim",
        round(Vectors.dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6))
      .where(col("sim") >= threshold)
      .select(least(col("__ida"), col("__idb")).as("id1"),
        greatest(col("__ida"), col("__idb")).as("id2"), col("sim"))
  }

  /** Sign-LSH (random-hyperplane) candidate generation for cosine near-dup
    * — the scale-structured path: each vector gets a bands·rows-bit sketch
    * (sign of the dot with deterministic pseudo-random hyperplanes),
    * banded like MinHash; DISTINCT pairs colliding on ≥1 band are
    * exact-verified once each. Precision 1 by construction; recall grows
    * with bands and threshold (P[bit agree] = 1 − θ_angle/π).
    *
    * Honest scale note: the pruning power depends on the gap between the
    * bit-agreement probability at the threshold vs the bulk of the pair
    * distribution. At a tight threshold (sim ≥ 0.8, agreement p ≥ 0.80 vs
    * bulk ~0.53) banding discards almost everything (pruning measured in
    * DedupSpec). At the loose θ=0.45 the declared query uses (p = 0.65),
    * the gap is thin and candidates approach all pairs — the join SHAPE is
    * still bucketed (no CartesianProduct; shuffle ∝ vectors × bands for
    * sketching, then ∝ candidates for verify, never more than the brute
    * pair count) but a loose-threshold dense similarity join is inherently
    * near-quadratic in verify work; no blocking scheme beats that without
    * losing recall. 16 bands × 2 rows holds empirical recall 1 at θ=0.45
    * on the test corpora (asserted vs brute in DedupSpec) with a
    * per-pair miss bound of (1−0.42)^16 ≈ 1.6e-4 at the threshold.
    *
    * Hyperplanes are a pure function of (seed, bit, dim) via the shared
    * 60-bit hash, so executors regenerate them without broadcast.
    */
  val SignLshBands = 16
  val SignLshRows = 2

  /** Deterministic hyperplane component h[bit][d] ∈ {−1, +1}. */
  private def hyperplaneSign(seed: Long, bit: Int, d: Int): Double = {
    val h = Text.hash60Local(s"$seed:$bit:$d")
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  /** Banded sign-LSH sketch table: (id, sk, band, bkey) — one row per
    * (vector, band). The persistable index artifact
    * ([[graft.index.IndexStore.saveSignLsh]] writes it partitioned by
    * `band`): bands·rows sketch bits (≤ 62, packed into one long) are the
    * sign of Σ_d v[d]·±1, computed ONCE per vector by a single codegen'd
    * expression node ([[VectorExpressions.SignSketch]] — the unrolled
    * per-bit expression tree cost ~10 s of driver-side Catalyst work per
    * query at 32×64 terms); one narrow posexplode replicates each
    * (id, sketch) once per band. Carries only ids and packed longs, never
    * vectors — at corpus scale the index is ~32 bytes × bands per vector. */
  def signLshSketches(embs: DataFrame, idCol: String, embCol: String,
      dim: Int, seed: Long = 42L,
      bands: Int = SignLshBands, rows: Int = SignLshRows): DataFrame = {
    val nBits = bands * rows
    require(nBits <= 62, s"sketch bits $nBits exceed one long")
    val planes = Array.tabulate(nBits * dim)(i => hyperplaneSign(seed, i / dim, i % dim))
    def sketch(v: Column): Column =
      GraftShim.column(VectorExpressions.SignSketch(GraftShim.expression(v), planes, nBits, dim))
    val bandMasks = (0 until bands).map(b => ((1L << rows) - 1) << (b * rows))
    // the sketch AND every downstream broadcast-joined candidate/verify
    // stage inherit this frame's partitioning — floor it at the core
    // count when the scan can't (no-op at corpus scale, see Par.spread)
    graft.util.Par.spread(embs, Seq(col(idCol)))
      .select(col(idCol).as("id"), sketch(col(embCol)).as("sk"))
      .select(col("id"), col("sk"),
        posexplode(array(bandMasks.map(m =>
          col("sk").bitwiseAND(lit(m))): _*)).as(Seq("band", "bkey")))
  }

  /** Candidate pairs from a banded sketch table ([[signLshSketches]] shape,
    * fresh or loaded from a persisted index): docs colliding on ≥1 band,
    * emitted exactly once. Dedup WITHOUT a distinct shuffle: a colliding
    * pair is emitted only by the FIRST band on which the sketches agree —
    * a pure codegen filter on the packed sketches (the join guarantees
    * agreement on `band`, so firstAgree ≤ band and exactly one band
    * survives per pair). */
  /** The first band (by index) in which sketches `sk1`/`sk2` agree, −1 if
    * none — SHARED by the self-join and batch-vs-index candidate paths so
    * the band-agreement bit arithmetic has exactly one definition. */
  private def firstAgreeingBand(bands: Int, rows: Int): Column = {
    val bandMasks = (0 until bands).map(b => ((1L << rows) - 1) << (b * rows))
    def agree(b: Int): Column =
      col("sk1").bitwiseXOR(col("sk2")).bitwiseAND(lit(bandMasks(b))) === 0
    (0 until bands).foldRight(lit(-1): Column)(
      (b, acc) => when(agree(b), lit(b)).otherwise(acc))
  }

  def signLshCandidates(banded: DataFrame,
      bands: Int = SignLshBands, rows: Int = SignLshRows): DataFrame = {
    val l = banded.select(col("id").as("id1"), col("band"), col("bkey"), col("sk").as("sk1"))
    val r = banded.select(col("id").as("id2"), col("band"), col("bkey"), col("sk").as("sk2"))
    l.join(r, Seq("band", "bkey"))
      .where(col("id1") < col("id2") &&
        col("band") === firstAgreeingBand(bands, rows))
      .select("id1", "id2")
  }

  /** Exact cosine for a candidate pair set against the dense vectors,
    * UNFILTERED: (id1, id2, sim) for every candidate whose BOTH ids carry
    * an embedding row (a candidate referencing a missing id drops out of
    * the inner joins — that gap is what the screen receipts' verified
    * count surfaces). Work ∝ candidates. */
  def cosineSims(cands: DataFrame, embs: DataFrame, idCol: String,
      embCol: String): DataFrame = {
    val withV = embs.select(col(idCol).as("id"), col(embCol).as("v"),
      Vectors.l2norm(col(embCol)).as("nrm"))
    val a = withV.select(col("id").as("id1"), col("v").as("v1"), col("nrm").as("nrm1"))
    val b = withV.select(col("id").as("id2"), col("v").as("v2"), col("nrm").as("nrm2"))
    cands.join(a, "id1").join(b, "id2")
      .select(col("id1"), col("id2"),
        round(Vectors.dot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2")), 6).as("sim"))
  }

  /** Exact-verify a candidate pair set against the dense vectors:
    * (id1, id2, sim ≥ threshold). Work ∝ candidates. */
  def cosineVerify(cands: DataFrame, embs: DataFrame, idCol: String,
      embCol: String, threshold: Double): DataFrame =
    cosineSims(cands, embs, idCol, embCol).where(col("sim") >= threshold)

  /** Banded sign-LSH candidates + exact cosine verify. REGIME NOTE
    * (measured, SCALE.md round-7 §5): the 2-bit-band default is sized for
    * RECALL (per-pair miss ≤ 1.6e-4 at cos 0.45 — what licenses the
    * exact-cosine oracle), and at LOW thresholds a random pair still
    * collides on some band w.p. ~0.99, so the verify join approaches
    * all-pairs. Budget with [[signLshCandidateVolume]] first; for
    * low-threshold similarity at corpus scale use [[semanticPairs]]
    * (cluster-scoped) or exact-first collapse, and treat this path as
    * the high-threshold / recall-exact tool it is. */
  def cosinePairsLsh(embs: DataFrame, idCol: String, embCol: String,
      threshold: Double, dim: Int, seed: Long = 42L,
      bands: Int = SignLshBands, rows: Int = SignLshRows): DataFrame = {
    val banded = signLshSketches(embs, idCol, embCol, dim, seed, bands, rows)
    cosineVerify(signLshCandidates(banded, bands, rows),
      embs, idCol, embCol, threshold)
  }

  /** Hard cap on the per-cluster member count [[semanticPairs]] accepts:
    * within-cluster scoring is all-pairs by design (size²/2 dots per
    * cluster), so one runaway cluster is a quadratic blow-up exactly like
    * a hot shingle in [[jaccardPairs]]. 16k members ≈ 134M pairs per
    * cluster — heavy but partition-parallel; anything larger means the
    * index was built with too few clusters for this corpus (rebuild with
    * a larger k — SemDeDup runs with clusters of ~10³-10⁴ members). */
  val SemanticMaxClusterSize = 16384L

  /** SemDeDup-style cluster-scoped semantic near-dup pairs (Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): restrict pairwise cosine comparison to vectors that
    * share an IVF cell, where semantic duplicates concentrate —
    * (id1 < id2, sim ≥ threshold), same output shape as [[cosinePairs]].
    * Compose with [[components]] + keep-min for the dedup decision, exactly
    * like the LSH pair sources.
    *
    * This is the LOW-threshold complement to the sign-LSH path: banding
    * prunes well only when the threshold's bit-agreement probability sits
    * far above the bulk pair distribution (see [[signLshCandidates]]'s
    * honest scale note), so "semantic" dedup at sim ≈ 0.5-0.7 — where LSH
    * candidates approach all pairs — scopes by cluster instead and pays
    * Σ_c size_c²/2 dots, a ~1/numClusters fraction of the brute quadratic
    * when the index is built at the usual k ≈ √N.
    *
    * Approximate BY DESIGN: cross-cluster pairs are unreported (that loss
    * is SemDeDup's documented trade), and the cluster geometry comes from
    * KMeans — not SQL-reproducible, so this operator is spec-verified
    * (DedupSpec: single-cluster degenerate equals [[cosinePairs]] exactly;
    * multi-cluster pairs are a subset with identical sims and measured
    * recall) rather than oracle-gated; the oracle-gated near-dup paths
    * remain [[cosinePairsLsh]] / [[minhashPairs]].
    *
    * Scale shape: embeddings ⋈ assignments on id (co-partitioned away at
    * scale by writing assignments bucketed with the base table), then a
    * single-key equi-self-join on `cluster` — shuffle-partitioned by
    * cluster, partition-local pair generation, no CartesianProduct. The
    * per-cluster guard is driver-side arithmetic over the index's size
    * map; `force = true` is the documented escape hatch. */
  def semanticPairs(index: graft.index.Ivf.IvfIndex, embs: DataFrame,
      idCol: String, embCol: String, threshold: Double,
      force: Boolean = false): DataFrame = {
    if (!force) {
      val (hotCluster, hotSize) =
        if (index.sizes.isEmpty) (-1, 0L) else index.sizes.maxBy(_._2)
      require(hotSize <= SemanticMaxClusterSize,
        s"cluster $hotCluster has $hotSize members (> $SemanticMaxClusterSize): " +
          "within-cluster scoring is quadratic per cluster — rebuild the index " +
          "with more clusters, or pass force = true")
    }
    val m = embs
      .select(col(idCol).as("id"), col(embCol).as("v"),
        Vectors.l2norm(col(embCol)).as("nrm"))
      .join(index.assignments.select(col("id"), col("cluster")), "id")
    val a = m.select(col("cluster"), col("id").as("id1"),
      col("v").as("v1"), col("nrm").as("nrm1"))
    val b = m.select(col("cluster"), col("id").as("id2"),
      col("v").as("v2"), col("nrm").as("nrm2"))
    a.join(b, Seq("cluster")).where(col("id1") < col("id2"))
      .withColumn("sim",
        round(Vectors.dot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2")), 6))
      .where(col("sim") >= threshold)
      .select("id1", "id2", "sim")
  }

  /** Cosine-verified near-dup over a SPARSE (id, dim, val) embedding
    * relation (e.g. [[graft.embed.EmbedJob.embedRelational]]'s output,
    * already L2-normalized), restricted to a candidate pair set: pairwise
    * dot = route id1's components through the candidates and match id2's
    * on dim. Work ∝ candidates × dims — NEVER an all-pairs join (a dense
    * 64-dim space joined on dim alone degenerates to ~all pairs: measured
    * 135 s vs 2 s at sf0.1). Candidates come from any LSH stage — e.g.
    * [[minhashCandidates]] over the same text. */
  def cosinePairsSparse(sparse: DataFrame, cands: DataFrame, threshold: Double): DataFrame = {
    val a = sparse.select(col("id").as("id1"), col("dim"), col("val").as("v1"))
    val b = sparse.select(col("id").as("id2"), col("dim"), col("val").as("v2"))
    cands.join(a, "id1").join(b, Seq("id2", "dim"))
      .groupBy("id1", "id2")
      .agg(round(sum(col("v1") * col("v2")), 6).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Oracle rendition; `candsCtes` must end in `cands(id1, id2)` (e.g.
    * [[sqlMinhashCandidateCtes]]). */
  def sqlCosinePairsSparse(sparseSql: String, candsCtes: String, threshold: Double): String =
    s"""WITH $candsCtes,
       |sparse AS ($sparseSql),
       |pairs AS (
       |  SELECT c.id1, c.id2, round(sum(a.val * b.val), 6) AS sim
       |  FROM cands c
       |  JOIN sparse a ON a.id = c.id1
       |  JOIN sparse b ON b.id = c.id2 AND b.dim = a.dim
       |  GROUP BY 1, 2
       |)
       |SELECT id1, id2, sim FROM pairs WHERE sim >= $threshold""".stripMargin

  def sqlCosinePairs(embsTable: String, idExpr: String, embExpr: String,
      threshold: Double): String =
    s"""SELECT a.$idExpr AS id1, b.$idExpr AS id2,
       |       round(list_cosine_similarity(a.$embExpr::DOUBLE[], b.$embExpr::DOUBLE[]), 6) AS sim
       |FROM $embsTable a JOIN $embsTable b ON a.$idExpr < b.$idExpr
       |WHERE round(list_cosine_similarity(a.$embExpr::DOUBLE[], b.$embExpr::DOUBLE[]), 6) >= $threshold""".stripMargin

  /** Bounded-broadcast guard for the banded-batch candidate probes — the
    * [[graft.search.VectorSearch.requireBoundedBatch]] discipline applied
    * to an ALREADY-BANDED sketch table. Counting documents would need a
    * `distinct()` (a full shuffle, defeating the early-stopped
    * `limit(n+1).count()` probe), so the guard counts banded rows and
    * scales the allowance by `bands`: ≤ [[VectorSearch.MaxQueryBatch]]
    * documents × bands rows. `probeFanout` DIVIDES the allowance for
    * callers that expand each banded row before broadcasting (multi-probe
    * flips ×(1+rows)), keeping the broadcast byte budget constant across
    * probe depths rather than letting a deeper probe broadcast more. */
  private def requireBoundedBanded(banded: DataFrame, caller: String,
      bands: Int = SignLshBands, probeFanout: Int = 1): Unit = {
    val allowed =
      graft.search.VectorSearch.MaxQueryBatch.toLong * bands / probeFanout
    val n = banded.limit(allowed.toInt + 1).count()
    require(n <= allowed,
      s"$caller: banded batch has > $allowed rows (~${allowed / bands} " +
        "documents at this probe depth); a batch this large would be " +
        "broadcast. Use the all-pairs LSH path (Dedup.cosinePairsLsh) " +
        "for corpus-vs-corpus similarity instead.")
  }

  /** Candidates of a NEW batch against an EXISTING banded sketch table —
    * the incremental-ingest rendition of [[signLshCandidates]], the daily
    * operation of a production corpus: "which of today's documents
    * near-duplicate anything already ingested?". The batch side is
    * sketched fresh (work ∝ batch); the index side is the PERSISTED
    * band-partitioned sketch table ([[graft.index.IndexStore.saveSignLsh]]
    * layout), so the existing corpus contributes only its ~8-byte sketch
    * rows and is never re-embedded or re-scanned. The equi-join on
    * (band, bkey) hits only matching band buckets; the batch side is tiny
    * → broadcast.
    *
    * Pairs are DIRECTED (id1 = batch, id2 = index) and a batch id already
    * present in the index never pairs with itself (re-ingest safety).
    * First-agreeing-band dedup keeps each pair once, as in
    * [[signLshCandidates]].
    *
    * Index contract — exact-dedup-first: the persisted index must cover a
    * corpus whose EXACT clones were collapsed ([[exact]] before
    * sketching, the `q_dedup_pipeline` ordering). Clone families share
    * identical sketches, so a family of size m inflates its band buckets
    * m× and candidate generation pays m² per family (measured: a ×16
    * clone-replicated index turns a 1.1 s probe into 33–52 s — SCALE.md
    * round-5c). Under the invariant, families have size 1 and work is
    * linear in true near-dup candidates. */
  def signLshCandidatesAgainst(batchBanded: DataFrame, indexBanded: DataFrame,
      bands: Int = SignLshBands, rows: Int = SignLshRows): DataFrame = {
    // the batch side broadcasts — same bounded-batch discipline as the
    // kNN joins, so an oversized "batch" fails loudly instead of OOMing
    // the executors
    requireBoundedBanded(batchBanded, "Dedup.signLshCandidatesAgainst",
      bands, probeFanout = 1)
    val l = batchBanded.select(col("id").as("id1"), col("band"), col("bkey"),
      col("sk").as("sk1"))
    val r = indexBanded.select(col("id").as("id2"), col("band"), col("bkey"),
      col("sk").as("sk2"))
    broadcast(l).join(r, Seq("band", "bkey"))
      .where(col("id1") =!= col("id2") &&
        col("band") === firstAgreeingBand(bands, rows))
      .select("id1", "id2")
  }

  /** SELECTIVE sign-LSH sketches — the HIGH-threshold regime variant the
    * SCALE.md round-7 §5 analysis calls for: `rows` BITS PER BAND (8 by
    * default, vs the recall-first 2) so a random pair agrees on a band
    * w.p. 2⁻⁸ ≈ 0.4% instead of 25%, making the banding a real pruning
    * device. Total bits = bands × rows may exceed one packed long, so
    * each band is its OWN [[VectorExpressions.SignSketch]] expression
    * (an `rows`-bit key per band, same seeded hyperplane family at
    * globally-indexed bits — executors regenerate planes, no broadcast);
    * output is the banded (id, band, bkey) shape without a packed full
    * sketch. Recall is threshold-bound: p_bit(cos t) = 1 − acos(t)/π,
    * per-band p_bit^rows, miss = (1 − p_bit^rows)^bands — at the
    * defaults, cos 0.95 pairs are missed w.p. 1.4e-4 and exact clones
    * never; at cos 0.45 recall collapses (0.12), which is exactly why
    * [[cosinePairsLsh]]'s 2-bit recall-first design exists for the low
    * regime. */
  def signLshSketchesSelective(embs: DataFrame, idCol: String,
      embCol: String, dim: Int, seed: Long = 42L,
      bands: Int = SignLshBands, rows: Int = 8): DataFrame = {
    require(rows >= 1 && rows <= 62, s"rows per band must fit a long, got $rows")
    val perBand = (0 until bands).map { b =>
      val planes = Array.tabulate(rows * dim)(
        i => hyperplaneSign(seed, b * rows + i / dim, i % dim))
      GraftShim.column(VectorExpressions.SignSketch(
        GraftShim.expression(col(embCol)), planes, rows, dim)).as(s"__k$b")
    }
    embs.select(col(idCol).as("id") +: perBand: _*)
      .select(col("id"),
        posexplode(array((0 until bands).map(b => col(s"__k$b")): _*))
          .as(Seq("band", "bkey")))
  }

  /** High-threshold near-dup pairs over selective banding: candidates
    * from ≥ 1 agreeing 8-bit band (distinct — no packed sketch exists to
    * run the first-agreeing-band trick on), exact cosine verify. The
    * production regime for clone/near-clone detection (cos ≥ ~0.85),
    * where [[cosinePairsLsh]]'s recall-first bands degrade to all-pairs;
    * the threshold floor is enforced loudly because below it THIS path's
    * recall collapses instead. Budget with [[signLshCandidateVolume]]
    * (the banded shape is compatible). */
  def cosinePairsLshSelective(embs: DataFrame, idCol: String,
      embCol: String, threshold: Double, dim: Int, seed: Long = 42L,
      bands: Int = SignLshBands, rows: Int = 8): DataFrame = {
    require(threshold >= 0.85,
      f"cosinePairsLshSelective is the high-threshold regime (miss prob " +
        f"at $threshold%.2f with $bands×$rows-bit bands would be " +
        f"${selectiveMissProb(threshold, bands, rows)}%.3f); below 0.85 " +
        "use cosinePairsLsh (recall-first bands + exact verify) or " +
        "semanticPairs (cluster-scoped)")
    val banded = signLshSketchesSelective(embs, idCol, embCol, dim, seed,
      bands, rows)
    cosineVerify(selectiveCandidates(banded), embs, idCol, embCol, threshold)
  }

  /** Analytic per-pair miss probability of selective banding at cosine
    * exactly `t` (pairs above t miss less): (1 − p_bit^rows)^bands with
    * p_bit = 1 − acos(t)/π. Driver-side planning arithmetic, exposed so
    * callers can size bands/rows for their threshold. */
  def selectiveMissProb(t: Double, bands: Int = SignLshBands,
      rows: Int = 8): Double = {
    val pBit = 1.0 - math.acos(math.max(-1.0, math.min(1.0, t))) / math.Pi
    math.pow(1.0 - math.pow(pBit, rows), bands)
  }

  /** [[selectiveMissProb]] under HAMMING-1 multi-probe: a band hits when
    * its keys agree exactly (p^rows) OR differ in exactly one bit
    * (rows·p^(rows−1)·(1−p)) — the probe set covers both. Defaults are
    * 32×12-bit bands, NOT the single-probe 16×8: the real multi-probe
    * insight (Lv et al.) is that probing buys back the recall a LONGER
    * key loses, so you can afford keys selective enough that even the
    * ×(1+rows) probe fanout stays pruning — at 12 bits a random pair
    * hits a probed band w.p. 13·2⁻¹² ≈ 0.3% (≈ 9.7% over 32 bands),
    * vs 8-bit probing's 9·2⁻⁸ ≈ 3.5% per band (≈ 44% over 16 — hardly
    * a prune, measured in DedupSpec). Per-pair miss at cos 0.85:
    * 1.2e-6 (vs 2.2e-2 single-probe 16×8). */
  def selectiveMissProbMultiProbe(t: Double, bands: Int = 2 * SignLshBands,
      rows: Int = 12): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, t))) / math.Pi
    val perBandHit = math.pow(p, rows) +
      rows * math.pow(p, rows - 1) * (1.0 - p)
    math.pow(1.0 - perBandHit, bands)
  }

  /** [[cosinePairsLshSelective]] with HAMMING-1 MULTI-PROBE banding — the
    * [[signLshCandidatesAgainstMultiProbe]] trick (Lv et al.) applied to
    * the 8-bit selective bands: one join side also probes every band key
    * with one bit flipped, so a pair whose band keys just miss exact
    * agreement (the dominant miss mode at cos 0.85–0.90, where single-
    * probe recall is weakest) is still caught. The defaults pair the
    * probing with LONGER 12-bit keys over 32 bands (see
    * [[selectiveMissProbMultiProbe]]): probing buys back the recall the
    * longer key loses, so the path keeps BOTH the 1e-6-class miss
    * probability and a ~10× candidate prune on random backgrounds —
    * whereas probing the single-probe 16×8 layout would admit ~44% of
    * all pairs (measured, DedupSpec). Candidate work grows ×(1+rows) on
    * the probe side ONLY. Same 0.85 floor as the single-probe path:
    * below it even multi-probe recall decays and [[cosinePairsLsh]] /
    * [[semanticPairs]] are the right tools. */
  def cosinePairsLshSelectiveMultiProbe(embs: DataFrame, idCol: String,
      embCol: String, threshold: Double, dim: Int, seed: Long = 42L,
      bands: Int = 2 * SignLshBands, rows: Int = 12): DataFrame = {
    require(threshold >= 0.85,
      f"cosinePairsLshSelectiveMultiProbe is the high-threshold regime " +
        f"(miss prob at $threshold%.2f with $bands×$rows-bit bands is " +
        f"${selectiveMissProbMultiProbe(threshold, bands, rows)}%.2e); " +
        "below 0.85 use cosinePairsLsh or semanticPairs")
    val banded = signLshSketchesSelective(embs, idCol, embCol, dim, seed,
      bands, rows)
    cosineVerify(selectiveCandidatesMultiProbe(banded, rows), embs, idCol,
      embCol, threshold)
  }

  /** Distinct unordered candidate pairs from ≥ 1 agreeing selective band —
    * the candidate stage of [[cosinePairsLshSelective]], exposed so specs
    * and budget receipts can count the verify join's input without
    * re-deriving the banding join. Input is [[signLshSketchesSelective]]
    * output. */
  def selectiveCandidates(banded: DataFrame): DataFrame = {
    val l = banded.select(col("id").as("id1"), col("band"), col("bkey"))
    val r = banded.select(col("id").as("id2"), col("band"), col("bkey"))
    l.join(r, Seq("band", "bkey"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** [[selectiveCandidates]] under Hamming-1 multi-probe: one join side
    * also probes every band key with one bit flipped — selective band keys
    * are per-band values (no global bit offset, unlike the packed
    * [[signLshSketches]] layout), so flips are plain 1<<j. The candidate
    * stage of [[cosinePairsLshSelectiveMultiProbe]]. */
  def selectiveCandidatesMultiProbe(banded: DataFrame,
      rows: Int = 12): DataFrame = {
    val probes = banded.select(col("id").as("id1"), col("band"),
        explode(array((lit(0L) +: (0 until rows).map(j =>
          lit(1L << j))): _*)).as("flip"), col("bkey"))
      .select(col("id1"), col("band"),
        col("bkey").bitwiseXOR(col("flip")).as("bkey"))
    val r = banded.select(col("id").as("id2"), col("band"), col("bkey"))
    probes.join(r, Seq("band", "bkey"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** EXACT count of distinct unordered candidate pairs per (band, bkey)
    * bucket — Σ over buckets of n·(n−1)/2, the sign-LSH rendition of
    * [[containmentCandidateVolume]]. (The [[signLshCandidates]] equi-join
    * materializes roughly TWICE this plus n self-matches per bucket
    * before the id1<id2 / first-agreeing-band filters collapse it back to
    * unordered pairs; the 2× is a constant factor, so this is still the
    * budgeting number.) The number a production dedup run budgets with BEFORE
    * launching the verify join: a hot bucket (an uncollapsed exact-clone
    * family — the SCALE.md round-5c m² pathology, the reason the design
    * table pins exact-dedup-first) shows up here as a quadratic term for
    * the cost of one map-side-combined aggregation, nothing pairwise. */
  def signLshCandidateVolume(banded: DataFrame): Long = {
    val r = banded.groupBy("band", "bkey").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - 1) / 2)).head()
    if (r.isNullAt(0)) 0L else r.getDouble(0).toLong
  }

  /** [[signLshCandidateVolume]] for the batch-vs-index screen
    * ([[signLshCandidatesAgainst]]): Σ over shared (band, bkey) buckets
    * of batchCount × indexCount. Work = two map-side-combined bucket
    * counts + one join on ≤ bands × buckets keys — always run it before
    * screening a batch against an index of unknown clone hygiene. */
  def signLshCandidateVolumeAgainst(batchBanded: DataFrame,
      indexBanded: DataFrame): Long = {
    val b = batchBanded.groupBy("band", "bkey").agg(count(lit(1)).as("bn"))
    val i = indexBanded.groupBy("band", "bkey").agg(count(lit(1)).as("cn"))
    val r = b.join(i, Seq("band", "bkey"))
      .agg(sum(col("bn") * col("cn"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** MULTI-PROBE [[signLshCandidatesAgainst]]: besides each band's exact
    * key, the batch side also probes every key at HAMMING DISTANCE 1
    * within the band (flip one of its `rows` bits) — the standard
    * query-side trick (Lv et al., multi-probe LSH) that buys recall for
    * pairs just missing per-band agreement WITHOUT more bands or a second
    * index table. Candidate work grows ×(1+rows) on the batch side only;
    * the index layout is untouched, so the same persisted sketch table
    * serves both probe depths. Returns a SUPERSET of the exact-probe
    * candidates (asserted in DedupSpec); downstream cosine verification
    * makes extra candidates harmless. Pairs are distinct, directed, no
    * self-pairs — same contract as the exact-probe variant. */
  def signLshCandidatesAgainstMultiProbe(batchBanded: DataFrame,
      indexBanded: DataFrame, bands: Int = SignLshBands,
      rows: Int = SignLshRows): DataFrame = {
    // broadcast discipline as in the exact-probe variant; the probe
    // expansion multiplies the broadcast ×(1+rows), so the allowance
    // shrinks by the same factor — broadcast bytes stay constant
    requireBoundedBanded(batchBanded,
      "Dedup.signLshCandidatesAgainstMultiProbe", bands,
      probeFanout = 1 + rows)
    broadcast(signLshProbes(batchBanded, rows).withColumnRenamed("id", "id1"))
      .join(indexBanded.select(col("id").as("id2"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .where(col("id1") =!= col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Hamming-1 probe expansion of a PACKED-layout banded sketch relation
    * (the [[signLshSketches]] shape, where bit j of band b sits at global
    * position b·rows + j): each (id, band, bkey) row becomes 1+rows rows —
    * the exact key plus every single-bit flip. Exposed so budget receipts
    * can price the multi-probe join with [[signLshCandidateVolumeAgainst]]
    * over EXACTLY the relation that joins (flip 0 = the exact key). */
  def signLshProbes(banded: DataFrame, rows: Int = SignLshRows): DataFrame =
    banded.select(col("id"), col("band"),
        explode(array((lit(0L) +: (0 until rows).map(j =>
          lit(1L << j))): _*)).as("flip"),
        col("bkey"))
      .select(col("id"), col("band"),
        col("bkey").bitwiseXOR(
          expr(s"shiftleft(flip, cast(band * $rows AS INT))")).as("bkey"))

  /** Hamming-≤1 probe expansion of a SELECTIVE banded relation
    * ([[signLshSketchesSelective]] shape — per-band keys with no global
    * bit offset, so flips are plain `1 << j`): each (id, band, bkey) row
    * becomes 1+rows rows (the exact key + every single-bit flip). The
    * selective-layout twin of [[signLshProbes]], exposed so budget
    * receipts price the multi-probe join over EXACTLY the relation that
    * joins. */
  def selectiveProbes(banded: DataFrame, rows: Int): DataFrame =
    banded.select(col("id"), col("band"),
        explode(array((lit(0L) +: (0 until rows).map(j =>
          lit(1L << j))): _*)).as("flip"), col("bkey"))
      .select(col("id"), col("band"),
        col("bkey").bitwiseXOR(col("flip")).as("bkey"))

  /** Directed candidates of a NEW batch against an EXISTING SELECTIVE
    * banded index — [[signLshCandidatesAgainst]] for the selective layout
    * (per-band keys carry no packed sketch, so pair dedup is a
    * `distinct` instead of the first-agreeing-band trick; the layout
    * admits ~2^−rows of random pairs per band, so the distinct's input
    * is already pruned). Same broadcast discipline and directed
    * (id1 = batch, id2 = index) no-self-pair contract as the packed
    * variant; both sides MUST have been sketched with the same
    * (bands, rows, seed) — band keys from different layouts never
    * collide correctly. */
  def selectiveCandidatesAgainst(batchBanded: DataFrame,
      indexBanded: DataFrame, bands: Int, rows: Int,
      multiProbe: Boolean): DataFrame = {
    requireBoundedBanded(batchBanded, "Dedup.selectiveCandidatesAgainst",
      bands, probeFanout = if (multiProbe) 1 + rows else 1)
    val probes =
      if (multiProbe) selectiveProbes(batchBanded, rows) else batchBanded
    broadcast(probes.select(col("id").as("id1"), col("band"), col("bkey")))
      .join(indexBanded.select(col("id").as("id2"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .where(col("id1") =!= col("id2"))
      .select("id1", "id2").distinct()
  }

  /** The PLAN-DRIVEN daily-ingest screen for SELECTIVE layouts —
    * [[signLshScreenWithStats]]'s one-execution receipts discipline over
    * [[selectiveCandidatesAgainst]] + exact cosine verify. This is what
    * [[Planner.executeIncremental]] dispatches to when
    * [[Planner.planIncrementalCosine]] chose a selective (bands, rows)
    * layout from (batchN, indexN, threshold) instead of the shipped
    * recall-first default: the budget prices the band join BEFORE launch
    * over exactly the relation that joins (probe-expanded under
    * multi-probe), and every count reads a localCheckpoint, so receipts
    * cost one screen execution. */
  def selectiveScreenWithStats(batchBanded: DataFrame,
      indexBanded: DataFrame, embs: DataFrame, idCol: String,
      embCol: String, threshold: Double, multiProbe: Boolean,
      bands: Int, rows: Int): (DataFrame, SignLshScreenStats) = {
    val bb = batchBanded.localCheckpoint(true)
    val budget = signLshCandidateVolumeAgainst(
      if (multiProbe) selectiveProbes(bb, rows) else bb, indexBanded)
    val cands = selectiveCandidatesAgainst(bb, indexBanded, bands, rows,
      multiProbe).localCheckpoint(true)
    val sims = cosineSims(cands, embs, idCol, embCol).localCheckpoint(true)
    val out = sims.where(col("sim") >= threshold)
    (out, SignLshScreenStats(
      bandsProbed = bands,
      probeFanout = if (multiProbe) 1 + rows else 1,
      budgetedJoinRows = budget,
      candidatePairs = cands.count(),
      verifiedPairs = sims.count(),
      emittedPairs = out.count()))
  }

  /** What the incremental sign-LSH screen actually did — the
    * [[ContainmentScreenStats]] discipline for the daily-ingest dedup
    * path, pairing the BEFORE-launch budget with the after-the-fact
    * counts so a clone-inflated index (the SCALE.md round-5c m²
    * pathology) is a number before it is a bill AND a receipt after:
    * `budgetedJoinRows` is [[signLshCandidateVolumeAgainst]] over exactly
    * the relations that join (probe-expanded under multi-probe);
    * `candidatePairs` the distinct directed pairs the band join emitted;
    * `verifiedPairs` the candidates whose both sides carried an embedding
    * row (a shortfall vs candidatePairs means ids in the sketch index
    * with no vector — a stale-enrichment signal); `emittedPairs` the
    * pairs past the threshold. */
  case class SignLshScreenStats(bandsProbed: Int, probeFanout: Int,
      budgetedJoinRows: Long, candidatePairs: Long, verifiedPairs: Long,
      emittedPairs: Long)

  /** The incremental dedup screen as one composition: banded batch
    * sketches against a persisted banded index
    * ([[signLshCandidatesAgainst]], Hamming-1 multi-probe when asked),
    * then exact cosine verification of the candidates. Directed pairs
    * (id1 = batch, id2 = index), work ∝ batch — the declared
    * `q_dedup_incremental`/`_mp` path. */
  def signLshScreen(batchBanded: DataFrame, indexBanded: DataFrame,
      embs: DataFrame, idCol: String, embCol: String, threshold: Double,
      multiProbe: Boolean = false, bands: Int = SignLshBands,
      rows: Int = SignLshRows): DataFrame = {
    val cands =
      if (multiProbe)
        signLshCandidatesAgainstMultiProbe(batchBanded, indexBanded, bands, rows)
      else signLshCandidatesAgainst(batchBanded, indexBanded, bands, rows)
    cosineVerify(cands, embs, idCol, embCol, threshold)
  }

  /** [[signLshScreen]] plus its [[SignLshScreenStats]] — the containment
    * screen's one-execution receipts discipline: the candidate and sims
    * stages are `localCheckpoint`ed once and every count reads a
    * checkpoint, so receipts cost one screen execution plus the (cheap,
    * deliberate) BEFORE-launch budget aggregation. The budget runs FIRST
    * and is returned even though the screen then executes — production
    * callers wanting a pure pre-flight check call
    * [[signLshCandidateVolumeAgainst]] directly and decide before
    * launching. */
  def signLshScreenWithStats(batchBanded: DataFrame, indexBanded: DataFrame,
      embs: DataFrame, idCol: String, embCol: String, threshold: Double,
      multiProbe: Boolean = false, bands: Int = SignLshBands,
      rows: Int = SignLshRows): (DataFrame, SignLshScreenStats) = {
    // bounded by the broadcast discipline inside the candidate join;
    // checkpointing first also keeps the budget aggregation from
    // re-running the batch sketch job
    val bb = batchBanded.localCheckpoint(true)
    val budget = signLshCandidateVolumeAgainst(
      if (multiProbe) signLshProbes(bb, rows) else bb, indexBanded)
    val cands = (if (multiProbe)
        signLshCandidatesAgainstMultiProbe(bb, indexBanded, bands, rows)
      else signLshCandidatesAgainst(bb, indexBanded, bands, rows))
      .localCheckpoint(true)
    val sims = cosineSims(cands, embs, idCol, embCol).localCheckpoint(true)
    val out = sims.where(col("sim") >= threshold)
    val stats = SignLshScreenStats(
      bandsProbed = bands,
      probeFanout = if (multiProbe) 1 + rows else 1,
      budgetedJoinRows = budget,
      candidatePairs = cands.count(),
      verifiedPairs = sims.count(),
      emittedPairs = out.count())
    (out, stats)
  }
}
