package graft.search

import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact vector top-k — the Spark rendition of the reference's
  * `$vectorSearch` stage (`backend/api.py:168-180`, `local-test.py:145-155`).
  *
  * Semantics preserved exactly:
  *   - optional pre-filter applied BEFORE top-k selection (Atlas evaluates
  *     the `filter` clause inside the index probe), so k survivors return
  *     even under selective filters;
  *   - similarity ∈ {cosine, dotProduct, euclidean} fixed per "index"
  *     (reference `indexes.py:28-31`);
  *   - score exposed as a [0,1]-normalized `score` column (R8);
  *   - deterministic tie-break `score DESC, id ASC` so results are
  *     hash-comparable (FIXTURES.md invariants).
  *
  * Physical shape: `WHERE pre → score each row → ORDER BY … LIMIT k` plans
  * as filter-pushdown + `TakeOrderedAndProject` — a single scan with a
  * per-partition heap then a k-row driver merge; no global sort, no shuffle
  * of the data. That is the plan that survives 100 TB: each executor scans
  * its split and ships k rows. `numCandidates` (R9) is a no-op here
  * (recall = 1); the IVF path in [[graft.index.Ivf]] consumes it.
  *
  * Scores are rounded to 6 decimals BEFORE ranking so the Spark and DuckDB
  * top-k boundaries agree even when two candidates differ by < 1e-6.
  */
object VectorSearch {

  val ScoreDecimals = 6

  /** The three Atlas similarities an index can be declared with
    * (`indexes.py:28-31`). */
  val Metrics: Set[String] = Set("cosine", "dotProduct", "euclidean")

  /** @param df        table holding the vectors
    * @param idCol     unique id column name (tie-breaker)
    * @param embCol    `array<double>` vector column name
    * @param queryVec  query embedding (driver-side literal)
    * @param k         top-k
    * @param metric    cosine | dotProduct | euclidean
    * @param preFilter optional predicate applied before ranking
    */
  def knn(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryVec: Array[Double],
      k: Int,
      metric: String = "cosine",
      preFilter: Option[Column] = None): DataFrame = {
    require(queryVec.length > 0, "empty query vector")
    val filtered = preFilter.map(df.where).getOrElse(df)
    filtered
      .withColumn("score",
        round(Vectors.score(metric, col(embCol), Vectors.vecLit(queryVec)), ScoreDecimals))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Matryoshka-style two-stage ANN (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022): a COARSE top-`overfetch`
    * pass scores only the first `prefixDims` dimensions of the stored
    * vector — an information-ordered (MRL-trained) embedding ranks well
    * on its prefix — then the exact re-rank reads full vectors for the
    * overfetch survivors ONLY (the [[graft.index.Pq.ann]]
    * ADC→candidates→re-rank shape with a dimension slice in place of
    * codebooks: no training step, no codebook state, exact arithmetic).
    *
    * Recall is governed by `overfetch` exactly like PQ's: correct iff the
    * true top-k sits in the coarse top-overfetch. The declared query pins
    * routed == exact at Verify time (selfChecked), making drift loud.
    *
    * Scale note: Parquet cannot prune WITHIN an array column, so slicing
    * the full table saves compute (prefixDims/dim of the dot-product work
    * inside one whole-stage-codegen'd scan) but not IO. The IO win at
    * 100 TB is the PQ codes discipline applied to the slice: persist
    * `(id, slice(emb, 1, prefixDims))` as its own narrow parquet (a plain
    * projection write — no index machinery needed, the slice IS the
    * data), pass it as `prefixRel`, and the coarse pass scans
    * dim/prefixDims-fold fewer vector bytes while the full-vector table
    * is read only for the survivors-only re-rank join (the declared
    * `q_ann_mrl` runs this shape). `prefixRel` must carry (idCol, embCol)
    * with embCol ALREADY the prefix slice; pre-filtering with a prefixRel
    * is the caller's job (filter the narrow relation — it must carry the
    * filter columns), so the combination with `preFilter` is refused
    * loudly rather than silently post-filtered below k. */
  def knnPrefix(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryVec: Array[Double],
      k: Int,
      prefixDims: Int,
      overfetch: Int,
      metric: String = "cosine",
      preFilter: Option[Column] = None,
      prefixRel: Option[DataFrame] = None): DataFrame = {
    require(prefixDims >= 1 && prefixDims <= queryVec.length,
      s"prefixDims must be in [1, ${queryVec.length}], got $prefixDims")
    require(overfetch >= k, s"overfetch $overfetch must be ≥ k = $k")
    val qPre = queryVec.take(prefixDims)
    require(metric != "cosine" || qPre.exists(_ != 0.0),
      s"the first $prefixDims dims of the query vector are all zero — the " +
        "coarse cosine stage would rank nothing; raise prefixDims")
    require(prefixRel.isEmpty || preFilter.isEmpty,
      "preFilter with a persisted prefixRel: filter the prefix relation " +
        "itself (it must carry the filter columns) — a post-filter here " +
        "would truncate results below k")
    val filtered = preFilter.map(df.where).getOrElse(df)
    // coarse: TakeOrderedAndProject over prefix scores — same bounded
    // top-k plan shape as knn, never a global sort. A SPARSE stored
    // vector can be all-zero on the prefix (no direction → cosine is
    // 0/0): CASE-guard it to the orthogonal score instead of erroring —
    // such rows rank last in the coarse pass but stay eligible, and the
    // exact re-rank scores them on the full vector like everyone else.
    val coarseSrc = prefixRel.getOrElse(filtered)
    val preVec =
      if (prefixRel.isDefined) col(embCol) // already the persisted slice
      else slice(col(embCol), 1, prefixDims)
    val preScore =
      if (metric == "cosine")
        when(Vectors.dot(preVec, preVec) > 0,
          Vectors.score(metric, preVec, Vectors.vecLit(qPre)))
          .otherwise(lit(0.5)) // (1 + cos 0)/2 — the orthogonal score
      else Vectors.score(metric, preVec, Vectors.vecLit(qPre))
    val coarse = coarseSrc
      .withColumn("__pre", round(preScore, ScoreDecimals))
      .orderBy(col("__pre").desc, col(idCol).asc)
      .limit(overfetch)
      .select(col(idCol).as("__mrl_id"))
    // survivors only: broadcast the ≤ overfetch ids against the corpus
    val narrowed = df.join(
      broadcast(coarse), df(idCol) === col("__mrl_id")).drop("__mrl_id")
    knn(narrowed, idCol, embCol, queryVec, k, metric, preFilter)
  }

  /** Bounded-state per-group top-k: keeps the k best (score DESC, id ASC)
    * pairs seen so far — ≤ k entries per map task reach the shuffle
    * (partial aggregation applies to custom Aggregators), vs a window's
    * full |group| rows. The [[graft.operators.Sketches.KmvAgg]] pattern
    * applied to ranking. */
  class TopKByScore(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    private def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    def zero: Seq[(Double, Long)] = Nil
    def reduce(b: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] =
      if (b.lengthCompare(k) >= 0 && !better(x, b.last)) b
      else ((b :+ x).sortWith(better)).take(k)
    def merge(b1: Seq[(Double, Long)], b2: Seq[(Double, Long)]): Seq[(Double, Long)] =
      (b1 ++ b2).sortWith(better).take(k)
    def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
    def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Hard cap on the query-batch side of a kNN join. The batch is
    * broadcast (and, on the IVF-routed path, collected for driver-side
    * cluster probing), so an unbounded "batch" is a driver/executor-memory
    * blow-up, not a planned degradation — a caller with more queries than
    * this is doing all-pairs similarity and should use the sign-LSH path
    * ([[graft.dedup.Dedup.cosinePairsLsh]]), which shuffles instead of
    * broadcasting. 64k rows × 1 KiB-ish embedding ≈ tens of MB broadcast —
    * the conventional broadcast-join comfort zone. */
  val MaxQueryBatch = 65536

  /** Fail LOUDLY (the repo's standard for scale misuse — cf.
    * `Dedup.components` non-convergence) when the query side exceeds
    * [[MaxQueryBatch]]. `limit(n+1).count()` stops the probe scan early
    * instead of counting the full relation. */
  private[graft] def requireBoundedBatch(queries: DataFrame, caller: String): Unit = {
    val n = queries.limit(MaxQueryBatch + 1).count()
    require(n <= MaxQueryBatch,
      s"$caller: query batch has > $MaxQueryBatch rows; a batch this large " +
        "would be broadcast/collected. Use the LSH all-pairs path " +
        "(Dedup.cosinePairsLsh) for corpus-vs-corpus similarity instead.")
  }

  /** Shared tail of the batch kNN joins: candidate (query, corpus) pairs —
    * however they were routed — with query/corpus vectors and norms
    * attached → cosine score → bounded-state per-query top-k.
    *
    * Input columns: query_id, nbr_id, __qv, __qn, __cv, __cn. The ONLY
    * shuffle is the [[TopKByScore]] partial aggregation (≤ k rows per map
    * task per query) — never the scored pairs a rank window would ship.
    * Self-pairs are excluded; sim is rounded to 6 decimals before ranking
    * (tie-break nbr_id ASC) so the DuckDB oracle's boundary agrees. */
  private[graft] def rankCandidates(pairs: DataFrame, k: Int): DataFrame =
    topKScored(scoreCandidates(pairs), k)

  /** The scoring half of [[rankCandidates]]: self-pairs out, cosine
    * rounded to [[ScoreDecimals]] BEFORE any ranking — because the
    * rounding happens here, a row scored in one pass carries exactly the
    * sim any later pass would recompute, so pre-scored rows can be
    * unioned with freshly routed candidates (the [[graft.index.Ivf
    * .knnJoinExact]] pass-1 reuse) without ordering drift. */
  private[graft] def scoreCandidates(pairs: DataFrame): DataFrame =
    pairs
      .where(col("query_id") =!= col("nbr_id"))
      .withColumn("sim",
        round(Vectors.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), ScoreDecimals))
      .select(col("query_id"), col("nbr_id"), col("sim"))

  /** The ranking half: bounded-state per-query top-k over scored
    * (query_id, nbr_id, sim) rows (tie-break nbr_id ASC inside
    * [[TopKByScore]]). */
  private[graft] def topKScored(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    val topk = udaf(new TopKByScore(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
    scored
      .groupBy("query_id")
      .agg(topk(col("sim"), col("nbr_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("query_id"), col("entry._2").as("nbr_id"),
        col("entry._1").as("sim"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Batch kNN JOIN: top-k corpus neighbors for EVERY query row — the
    * batch-retrieval shape (a RAG pipeline resolving a batch of queries,
    * or semantic dedup seeding) that generalizes [[knn]]'s single
    * driver-side query vector to a query TABLE.
    *
    * Scale shape: the query side is broadcast (a batch of queries is
    * small by definition — thousands of rows against a 100 TB corpus;
    * enforced by [[requireBoundedBatch]]), so scoring is a
    * BroadcastNestedLoopJoin: each corpus partition scores its rows
    * against the in-memory query batch, work ∝ |corpus| × |queries|,
    * zero shuffle of the corpus. The per-query top-k is
    * [[rankCandidates]]'s bounded-state aggregation. This is the EXACT
    * path; [[graft.index.Ivf.knnJoin]] routes the corpus side through
    * per-query IVF cluster probes when approximate recall is acceptable
    * (the batch rendition of the reference's `numCandidates` probe,
    * `backend/api.py:168-180`).
    *
    * Output: (query_id, nbr_id, sim, rank ≤ k). */
  def knnJoin(queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qEmbCol: String, cIdCol: String, cEmbCol: String,
      k: Int): DataFrame = {
    requireBoundedBatch(queries, "knnJoin")
    val q = broadcast(queries.select(col(qIdCol).as("query_id"),
      col(qEmbCol).as("__qv"),
      Vectors.l2norm(col(qEmbCol)).as("__qn")))
    val c = corpus.select(col(cIdCol).as("nbr_id"), col(cEmbCol).as("__cv"),
      Vectors.l2norm(col(cEmbCol)).as("__cn"))
    rankCandidates(c.crossJoin(q), k)
  }

  /** Batch kNN JOIN over SPARSE vectors — the retrieval shape for learned
    * sparse embeddings (SPLADE-style) and the relational embedder's
    * (id, dim, val) output ([[graft.embed.EmbedJob.embedRelational]]):
    * scoring is a plain equi-join on `dim` plus one map-side-combinable
    * (query_id, id) aggregation — no dense arrays materialized, work ∝
    * matched (dim, dim) postings like a text index, NOT |corpus| × |queries|
    * × dim. The bounded query side broadcasts ([[requireBoundedBatch]]);
    * the corpus side never shuffles before the bounded-state top-k
    * ([[TopKByScore]], ≤ k rows per map task per query).
    *
    * Scores are raw dot products (= cosine when both sides are
    * unit-normalized, the embedder's contract), rounded to
    * [[ScoreDecimals]] before ranking, tie-break id ASC.
    *
    * Output: (query_id, id, sim, rank ≤ k). */
  def sparseKnnJoin(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    requireBoundedBatch(queries.select("id").distinct(), "sparseKnnJoin")
    val q = broadcast(queries.select(col("id").as("query_id"),
      col("dim").as("__qd"), col("val").as("__qval")))
    val scored = corpus
      .join(q, col("dim") === col("__qd"))
      .groupBy("query_id", "id")
      .agg(round(sum(col("val") * col("__qval")), ScoreDecimals).as("sim"))
    val topk = udaf(new TopKByScore(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
    scored
      .groupBy("query_id")
      .agg(topk(col("sim"), col("id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("query_id"), col("entry._2").as("id"),
        col("entry._1").as("sim"), (col("pos") + 1).cast("int").as("rank"))
  }

  def sqlKnnJoin(corpusTable: String, idExpr: String, embExpr: String,
      queryPredicate: String, k: Int): String =
    s"""WITH q AS (
       |  SELECT $idExpr AS query_id, $embExpr AS qv FROM $corpusTable
       |  WHERE $queryPredicate
       |), scored AS (
       |  SELECT q.query_id, e.$idExpr AS nbr_id,
       |         round(list_cosine_similarity(q.qv::DOUBLE[], e.$embExpr::DOUBLE[]), $ScoreDecimals) AS sim
       |  FROM q, $corpusTable e
       |  WHERE e.$idExpr <> q.query_id
       |), ranked AS (
       |  SELECT query_id, nbr_id, sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY sim DESC, nbr_id ASC)::INTEGER AS rank
       |  FROM scored
       |)
       |SELECT query_id, nbr_id, sim, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** Reference request clamp: limit ∈ [1, 25], default 5
    * (`backend/api.py:116-119`). */
  def clampLimit(k: Int): Int = math.max(1, math.min(k, 25))

  /** Over-fetch heuristic for ANN (`local-test.py:151`). */
  def numCandidatesCli(k: Int): Int = math.max(k * 5, 200)
}
