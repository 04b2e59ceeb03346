package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hybrid score fusion — the Spark rendition of the reference's
  * `$scoreFusion` stage (`backend/api.py:203-254`).
  *
  * Semantics (pinned from the reference, SURVEY R12/R13):
  *   - two input pipelines: `searchOne` = vector top-k (pre-filtered),
  *     `searchTwo` = full-text matches (never pre-filtered, no limit);
  *   - each pipeline's raw score is normalized with a sigmoid
  *     1/(1+e^−x) (`normalization: "sigmoid"`);
  *   - per-document combination `10·searchOne + searchTwo`
  *     (`combination.expression`, weights from `backend/api.py:224-232`);
  *   - a document present in only one pipeline contributes nothing for the
  *     missing one (NOT sigmoid(0)=0.5) — full-outer join + coalesce(…, 0);
  *   - `scoreDetails` exposes the combined value plus per-pipeline
  *     normalized and raw scores (R13) — flattened here into plain columns
  *     (vec_norm, vec_raw, txt_norm, txt_raw) so results stay
  *     hash-comparable.
  *
  * Scale shape: both inputs are already tiny (a top-k and the postings of a
  * handful of query terms), so the full-outer join broadcasts; nothing here
  * touches the base table except the final payload re-attach, which is a
  * broadcast semi-join of ≤ k ids against the (partition-pruned) scan.
  */
object ScoreFusion {
  val ScoreDecimals = 6

  def sigmoid(c: Column): Column = lit(1.0) / (lit(1.0) + exp(-c))

  /** @param vec searchOne results: (id, score) — raw vector scores
    * @param txt searchTwo results: (id, score) — raw BM25 scores
    * @return (id, score, vec_norm, vec_raw, txt_norm, txt_raw) ranked
    *         score DESC, id ASC (not yet limited — the reference's trailing
    *         `$limit` and post-fusion `$match` are applied by the caller,
    *         placement matters: SURVEY §4.1).
    */
  def fuse(
      vec: DataFrame,
      txt: DataFrame,
      vecWeight: Double = 10.0,
      txtWeight: Double = 1.0): DataFrame = {
    val v = vec.select(col("id").as("vid"), col("score").as("vec_raw"))
    val t = txt.select(col("id").as("tid"), col("score").as("txt_raw"))
    v.join(t, v("vid") === t("tid"), "full_outer")
      .select(
        coalesce(col("vid"), col("tid")).as("id"),
        round(
          lit(vecWeight) * coalesce(sigmoid(col("vec_raw")), lit(0.0)) +
            lit(txtWeight) * coalesce(sigmoid(col("txt_raw")), lit(0.0)),
          ScoreDecimals).as("score"),
        round(sigmoid(col("vec_raw")), ScoreDecimals).as("vec_norm"),
        col("vec_raw"),
        round(sigmoid(col("txt_raw")), ScoreDecimals).as("txt_norm"),
        col("txt_raw"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** Reciprocal-rank fusion — the rank-based sibling of [[fuse]]. Atlas
    * ships this as `$rankFusion` alongside the `$scoreFusion` the reference
    * pins (`backend/api.py:208`); the two stages share the same two-pipeline
    * hybrid contract, so a reference user switching their pipeline spec from
    * score- to rank-normalization lands here with the same inputs.
    *
    * Semantics: each pipeline's results are ranked 1..n by
    * (score DESC, id ASC); a document contributes `w_p / (k0 + rank_p)` per
    * pipeline it appears in and NOTHING for a pipeline that missed it (the
    * same absent ≠ zero-score rule as [[fuse]]'s coalesce). k0 = 60 is the
    * constant from the original RRF paper (Cormack/Clarke/Buettcher 2009)
    * and Atlas's default; weights default to 1 like `$rankFusion`'s
    * `combination.weights`.
    *
    * Rank assignment is a single-partition `row_number` window — deliberate
    * and bounded, not an accident: both inputs are ALREADY reduced relations
    * (a top-k and the postings of a handful of query terms — the same
    * boundedness argument that lets [[fuse]] broadcast its outer join), so
    * the window sorts thousands of rows, never the corpus. Rank semantics
    * are inherently global per pipeline; a partitioned window would change
    * the answer, not just the plan.
    *
    * @return (id, score, vec_rank, txt_rank) ranked score DESC, id ASC —
    *         rank columns are null for the pipeline that missed the doc
    *         (the rank-fusion rendition of R13's per-pipeline details). */
  def rrf(
      vec: DataFrame,
      txt: DataFrame,
      k0: Int = 60,
      vecWeight: Double = 1.0,
      txtWeight: Double = 1.0): DataFrame = {
    require(k0 > 0, s"rrf constant k0 must be positive, got $k0")
    val byScore = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("id").asc)
    val v = vec.select(col("id").as("vid"),
      row_number().over(byScore).as("vec_rank"))
    val t = txt.select(col("id").as("tid"),
      row_number().over(byScore).as("txt_rank"))
    v.join(t, v("vid") === t("tid"), "full_outer")
      .select(
        coalesce(col("vid"), col("tid")).as("id"),
        round(
          lit(vecWeight) * coalesce(lit(1.0) / (lit(k0) + col("vec_rank")), lit(0.0)) +
            lit(txtWeight) * coalesce(lit(1.0) / (lit(k0) + col("txt_rank")), lit(0.0)),
          ScoreDecimals).as("score"),
        col("vec_rank"), col("txt_rank"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** Per-query reciprocal-rank fusion — [[rrf]] lifted to BATCH retrieval:
    * fuses the outputs of two batch joins ([[VectorSearch.knnJoin]] /
    * [[VectorSearch.sparseKnnJoin]] and [[TextSearch.bm25Join]]), which
    * already carry per-query ranks, into one hybrid top-k per query.
    *
    * Inputs are (query_id, id, rank) relations (extra columns ignored).
    * A (query, doc) pair contributes `w_p / (k0 + rank_p)` per pipeline
    * that returned it and NOTHING for a pipeline that missed it ([[rrf]]'s
    * absent ≠ zero-score rule).
    *
    * Scale shape: both inputs are already per-query top-k relations
    * (≤ k·|batch| rows), so the full-outer join and the final re-rank
    * window are bounded by the batch, never the corpus; the window
    * partitions by query_id — a real key with ≤ 2k rows per group, not a
    * global sort.
    *
    * Output: (query_id, id, score, vec_rank, txt_rank, rank ≤ k) ranked
    * per query by score DESC, id ASC. */
  def rrfJoin(
      vec: DataFrame,
      txt: DataFrame,
      k: Int,
      k0: Int = 60,
      vecWeight: Double = 1.0,
      txtWeight: Double = 1.0): DataFrame = {
    require(k0 > 0, s"rrf constant k0 must be positive, got $k0")
    val v = vec.select(col("query_id").as("vqid"), col("id").as("vid"),
      col("rank").as("vec_rank"))
    val t = txt.select(col("query_id").as("tqid"), col("id").as("tid"),
      col("rank").as("txt_rank"))
    val byQuery = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id").asc)
    v.join(t, col("vqid") === col("tqid") && col("vid") === col("tid"), "full_outer")
      .select(
        coalesce(col("vqid"), col("tqid")).as("query_id"),
        coalesce(col("vid"), col("tid")).as("id"),
        round(
          lit(vecWeight) * coalesce(lit(1.0) / (lit(k0) + col("vec_rank")), lit(0.0)) +
            lit(txtWeight) * coalesce(lit(1.0) / (lit(k0) + col("txt_rank")), lit(0.0)),
          ScoreDecimals).as("score"),
        col("vec_rank"), col("txt_rank"))
      .withColumn("rank", row_number().over(byQuery).cast("int"))
      .where(col("rank") <= k)
  }

  /** R13 full shape parity: re-nest the flattened detail columns into the
    * reference's `scoreDetails` struct —
    * `{value, details: [{inputPipelineName, value, inputPipelineRawScore}]}`
    * (`backend/api.py:233` sets `scoreDetails: True`; the consumer contract
    * is `frontend/static/js/main.js:104-151`: `details` is an array holding
    * one entry per pipeline the document scored in, looked up by
    * `inputPipelineName` ∈ {searchOne, searchTwo}). A document absent from a
    * pipeline gets no entry for it (same as the server: absent ≠ raw 0).
    * Pure projection — no shuffle, composes after [[fuse]] or after the
    * caller's post-filter/limit. */
  def nestScoreDetails(fused: DataFrame): DataFrame = {
    def detail(name: String, norm: Column, raw: Column): Column =
      when(raw.isNotNull,
        struct(lit(name).as("inputPipelineName"), norm.as("value"),
          raw.as("inputPipelineRawScore")))
    fused.withColumn("scoreDetails",
      struct(
        col("score").as("value"),
        filter(
          array(
            detail("searchOne", col("vec_norm"), col("vec_raw")),
            detail("searchTwo", col("txt_norm"), col("txt_raw"))),
          _.isNotNull).as("details")))
  }
}
