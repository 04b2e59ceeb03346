package graft
package queries

import graft.SparkEntry.{checkedOncePerWave, fixture, persisted, persistedPath, selfChecked}
import graft.functions.Text
import graft.index.{IndexStore, Ivf}
import graft.operators.Sketches
import graft.queries.Shared._
import graft.search.{TextSearch, VectorSearch}
import graft.util.{Tables, ZOrder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index-operation queries: deletion, erasure, maintenance, time travel,
  * quantile sketches, z-order and the stats catalogs. */
private[graft] object IndexOpsQueries {

  /** The statistics catalogs' CONTENT, gate-checked: per-field value
    * counts for the embeddings catalog (label), the documents catalog
    * (lang, source, plus the n_chars fixed-boundary histogram's bucket
    * counts), and the events catalog (event_type — the funnel side's
    * step-selectivity source), summed over committed batches
    * ([[IndexStore.loadStats]]).
    * The DuckDB oracle re-derives the same counts with plain GROUP BYs
    * (the histogram arm as the identical integer-division CASE), so the
    * relation every plan-time selectivity lookup reads
    * ([[qAnnPlanFiltered]], [[IndexStore.histSelectivity]]) is itself
    * hash-verified against an independent engine — the catalog is a
    * checked computation, not trusted bookkeeping. */
  val qFieldStats = Query("q_field_stats",
      // the catalog's committed-batch sums re-derived as plain GROUP BYs —
      // the relation plan-time selectivity lookups read, independently
      // hash-verified
      """SELECT field, value, cnt FROM (
        |  SELECT 'label' AS field, CAST(label AS VARCHAR) AS value,
        |         count(*) AS cnt
        |  FROM embeddings GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'lang' AS field, lang AS value, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'source' AS field, source AS value, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'event_type' AS field, event_type AS value,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'n_chars' AS field,
        |         CAST(CASE WHEN n_chars < 0 THEN -1
        |                   WHEN n_chars >= 640 THEN 16
        |                   ELSE n_chars // 40 END AS VARCHAR) AS value,
        |         count(*) AS cnt
        |  FROM documents GROUP BY 1, 2
        |)
        |ORDER BY field, value""".stripMargin)((spark, dir) =>
    embStatsDisk(spark, dir).unionByName(docStatsDisk(spark, dir))
      .unionByName(eventStatsDisk(spark, dir))
      .orderBy("field", "value"))

  /** Quantile BRACKETS from the persisted n_chars histogram
    * ([[IndexStore.histQuantile]]): the [lo, hi) bucket provably
    * containing each rank-⌈p·n⌉ document length, computed entirely from
    * catalog rows — a report-time quantile with NO corpus scan (at
    * 100 TB, length percentiles for quality-gate calibration from a
    * 16-row relation). The oracle is the strongest possible check: it
    * finds the TRUE quantile value by sorting the raw table, buckets it
    * with the identical integer division, and hash-matches the bracket —
    * so a wrong cumulative walk, a drifted bucket count, or an
    * off-by-one rank all fail. */
  val qHistQuantile = Query("q_hist_quantile",
      // the strongest quantile check: find the TRUE rank-⌈p·n⌉ value by
      // sorting the raw table, bucket it with the identical integer
      // division, and hash-match the catalog-derived bracket
      Seq(0.25, 0.5, 0.9).map { p =>
        s"""SELECT $p::DOUBLE AS p,
           |       (v::BIGINT // 40) * 40 AS lo,
           |       ((v::BIGINT // 40) + 1) * 40 AS hi
           |FROM (
           |  SELECT n_chars AS v FROM documents ORDER BY n_chars
           |  LIMIT 1 OFFSET (CAST(ceil($p * (SELECT count(*) FROM documents)) AS BIGINT) - 1)
           |)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY p")) { (spark, dir) =>
    val docStats = docStatsDisk(spark, dir)
    val h = IndexStore.loadHistSpecs(spark,
      docStatsPath(spark, dir))("n_chars")
    import spark.implicits._
    Seq(0.25, 0.5, 0.9)
      .map { p =>
        val (lo, hi) = IndexStore.histQuantile(docStats, "n_chars", h, p)
        (p, lo, hi)
      }
      .toDF("p", "lo", "hi").orderBy("p")
  }

  /** The histogram range ESTIMATOR itself on its exact regime,
    * gate-checked: [[IndexStore.histSelectivity]] over the persisted
    * n_chars histogram for the bucket-ALIGNED range [240, 320) — where
    * the estimate is exact by construction (full buckets only, no
    * interpolation) — against the DuckDB oracle computing the true
    * fraction with a direct filtered count. One row; the number
    * [[qAnnPlanRange]] plans from is the number an independent engine
    * derives from the raw table. */
  val qHistSelectivity = Query("q_hist_selectivity",
      // the estimator's exact regime (bucket-aligned range = full buckets,
      // no interpolation): the catalog-derived selectivity equals the true
      // fraction an independent engine counts from the raw table
      """SELECT 'n_chars' AS field, 240 AS lo, 320 AS hi,
        |       round(CAST(count(*) FILTER (WHERE n_chars >= 240 AND n_chars < 320) AS DOUBLE)
        |             / count(*), 6) AS sel
        |FROM documents""".stripMargin) { (spark, dir) =>
    val docStats = docStatsDisk(spark, dir)
    val h = IndexStore.loadHistSpecs(spark,
      docStatsPath(spark, dir))("n_chars")
    val sel = IndexStore.histSelectivity(docStats, "n_chars", h, 240L, 320L)
    import spark.implicits._
    Seq(("n_chars", 240, 320,
        BigDecimal(sel).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      .toDF("field", "lo", "hi", "sel")
  }

  /** Persisted mergeable-summary fixtures ([[IndexStore.saveSummary]]
    * family), built once per (session, sfDir) in THREE deterministic
    * ingest waves each — the accreted-sketch shape: every wave writes
    * ≤ kMg + kKmv sketch rows however large the wave is, and the loaded
    * summary is the fold of the committed deltas. (a) corpus token
    * summary over documents (waves by doc_id mod 3; kMg=40 HOLDS the
    * fixture's 31-term vocabulary, so these merges run in the lossless
    * regime — the sub-capacity decrement/merge regime is SummarySpec-
    * pinned on a 33-distinct stream at kMg=12; kKmv=64); (b) user
    * summary over events (waves by event_id mod 3).
    * The wave-time staleness check runs at build ([[checkedOncePerWave]]
    * contract); the cached [[IndexStore.SummaryIndex]] values are
    * driver-bounded (≤ kMg map entries + kKmv longs each). */
  private[graft] def corpusSummariesDisk(spark: SparkSession, dir: String)
      : (IndexStore.SummaryIndex, IndexStore.SummaryIndex) =
    fixture(spark, "summary", dir) {
      val tokPath = persistedPath("summary_toks", dir)
      val usrPath = persistedPath("summary_users", dir)
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      IndexStore.saveSummary(toks.where(pmod(col("doc_id"), lit(3)) === 0)
        .select("term"), "term", kMg = 40, kKmv = 64, tokPath)
      IndexStore.appendBatchSummary(toks
        .where(pmod(col("doc_id"), lit(3)) === 1).select("term"), "term",
        tokPath, 0L)
      IndexStore.appendBatchSummary(toks
        .where(pmod(col("doc_id"), lit(3)) === 2).select("term"), "term",
        tokPath, 1L)
      val ev = Tables.events(spark, dir).select("event_id", "user_id")
      IndexStore.saveSummary(ev.where(pmod(col("event_id"), lit(3)) === 0)
        .select("user_id"), "user_id", kMg = 40, kKmv = 64, usrPath)
      IndexStore.appendBatchSummary(ev
        .where(pmod(col("event_id"), lit(3)) === 1).select("user_id"),
        "user_id", usrPath, 0L)
      IndexStore.appendBatchSummary(ev
        .where(pmod(col("event_id"), lit(3)) === 2).select("user_id"),
        "user_id", usrPath, 1L)
      // the wave-time guards: refuse if the committed waves don't cover
      // exactly these item streams
      (IndexStore.loadSummaryChecked(spark, tokPath,
          toks.select("term"), "term"),
        IndexStore.loadSummaryChecked(spark, usrPath,
          ev.select("user_id"), "user_id"))
    }

  /** EXACT heavy hitters from the PERSISTED batch-accreted summary
    * ([[IndexStore.heavyHittersFromSummary]]): the merged per-wave MG
    * deltas retain every token with frequency > n/32 (kReport=32 ≤
    * kMg=40, so the mergeable-summaries floor n/41 sits strictly below
    * the report threshold — recall 1 across ANY wave split), and one
    * candidate-restricted recount restores exact counts; n comes from
    * the summed marks, not a corpus count scan. Different threshold
    * than [[qHeavyHitters]]'s n/30 (the single-pass screen), so the two
    * receipts don't collapse. The brute groupBy-HAVING SQL is a full
    * oracle because the output is definitionally that relation. */
  val qHeavyHittersInc = Query("q_heavy_hitters_inc",
      // the batch-accreted summary's report is definitionally the same
      // HAVING relation (MG merge retains every > n/32 item, the recount
      // restores exact counts) — only the threshold differs from the
      // single-pass q_heavy_hitters receipt
      (Sketches.sqlHeavyHittersSelect(
        s"SELECT unnest(${Text.sqlTokens("text")}) AS term FROM documents",
        "term", 32) + "\nORDER BY term")) { (spark, dir) =>
    val (tokSummary, _) = corpusSummariesDisk(spark, dir)
    val toks = Tables.documents(spark, dir)
      .select(explode(Text.tokens(col("text"))).as("term"))
    IndexStore.heavyHittersFromSummary(tokSummary, toks, "term",
        kReport = 32, out = "cnt")
      .orderBy("term")
  }

  /** Distinct users from the PERSISTED KMV deltas — pure driver
    * arithmetic over the ≤ 64 batch-merged minimum hashes (no scan at
    * report time at all): the k smallest distinct hashes of a union are
    * the union of per-wave k-mins' k smallest, so the batch-merged
    * estimate is DEFINITIONALLY the single-pass one, and the oracle
    * recomputes the same (k−1)·2^60/h_k floor over the same frozen
    * md5-prefix hash in DuckDB. Exercises both estimator branches
    * across SFs (sf0.001 has < 64 distinct users → exact-count branch;
    * larger SFs engage the estimator). */
  val qDistinctUsersInc = Query("q_distinct_users_inc",
      // the KMV fold theorem: the k smallest distinct hashes of the union
      // equal the global k smallest, so the single-pass estimator over the
      // same frozen md5-prefix hash reproduces the batch-merged estimate
      // bit-for-bit (identical IEEE division, identical floor)
      s"""WITH mins AS (
         |  SELECT h FROM (
         |    SELECT DISTINCT ${Text.sqlHash60("user_id::VARCHAR")} AS h
         |    FROM events WHERE user_id IS NOT NULL)
         |  ORDER BY h LIMIT 64
         |)
         |SELECT CASE WHEN (SELECT count(*) FROM mins) < 64
         |            THEN (SELECT count(*) FROM mins)
         |            ELSE floor(63::DOUBLE * 1152921504606846976.0 / (SELECT max(h) FROM mins)::DOUBLE)::BIGINT
         |       END AS kmv_users""".stripMargin) { (spark, dir) =>
    val (_, usrSummary) = corpusSummariesDisk(spark, dir)
    import spark.implicits._
    Seq(usrSummary.distinctEstimate).toDF("kmv_users")
  }

  /** IVF index with a DELETION WAVE ([[IndexStore.deleteBatchIvf]]) —
    * the right-to-be-forgotten fixture: the full-corpus index loses the
    * vec_id ≡ 0 (mod 7) rows as one tombstone wave (work ∝ wave — no
    * rebuild), after which the additive fingerprint's NEGATIVE delta
    * makes the checked loader accept exactly the post-delete corpus
    * (and refuse the pre-delete one). Built once per (session, sfDir);
    * the one wave-time staleness check runs at build. */
  private def ivfDeletedPath(spark: SparkSession, dir: String): String =
    persisted(spark, dir, "ivfdel") { p =>
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      IndexStore.saveIvf(corpusIvf(spark, dir), p,
        source = Some((e, "vec_id", "embedding")))
      IndexStore.deleteBatchIvf(
        e.where(pmod(col("vec_id"), lit(7)) === 0), "vec_id", "embedding",
        p, 0L)
    }
  private[graft] def corpusIvfDeletedDisk(spark: SparkSession, dir: String)
      : Ivf.IvfIndex = {
    val path = ivfDeletedPath(spark, dir)
    val remaining = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
      .where(pmod(col("vec_id"), lit(7)) =!= 0)
    checkedOncePerWave(spark, dir, "ivf-del")(
      IndexStore.loadIvfChecked(spark, path, remaining, "vec_id",
        "embedding"))(
      IndexStore.loadIvf(spark, path))
  }

  /** ANN over the post-deletion index: the routed exhaustive probe over
    * the tombstone-filtered assignments must equal the exact top-k over
    * the SURVIVING corpus — a deleted row surfacing anywhere (member
    * join, score, rank) fails both the selfCheck and the oracle hash.
    * The filtered exact-kNN SQL is a full oracle ([[qAnnIvf]]'s
    * exhaustive-probe contract, post-delete). */
  val qAnnIvfDeleted = Query("q_ann_ivf_deleted",
      // post-deletion: the oracle ranks only the SURVIVING corpus — a
      // tombstoned row surfacing anywhere in the routed plan fails the hash
      exactCosineTopK("embeddings WHERE vec_id % 7 <> 0")) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
      .where(pmod(col("vec_id"), lit(7)) =!= 0)
    val idx = corpusIvfDeletedDisk(spark, dir)
    selfChecked(
      Ivf.ann(idx, e, "vec_id", "embedding", flagshipQueryVec, k = 10,
          numCandidates = Int.MaxValue, forceRoute = true)
        .select("vec_id", "score"),
      VectorSearch.knn(e, "vec_id", "embedding", flagshipQueryVec, k = 10)
        .select("vec_id", "score"),
      "q_ann_ivf_deleted routed-over-tombstones")
  }

  /** BM25 index with a DELETION WAVE ([[IndexStore.deleteBatchBm25]]) —
    * document erasure from search at wave cost: the doc_id ≡ 0 (mod 9)
    * documents leave as one tombstone wave (postings anti-joined at
    * load, term_df and stats subtracted from the wave's own re-tokenize,
    * fingerprint subtracted), after which the merged index IS the
    * surviving corpus's index — same df, same avgdl — so scores match a
    * fresh build bit-for-bit and the filtered-corpus BM25 SQL is a full
    * oracle. Built once per (session, sfDir); the wave-time staleness
    * check runs on first touch. */
  private def bm25DeletedPath(spark: SparkSession, dir: String): String =
    persisted(spark, dir, "bm25del") { p =>
      val d = Tables.documents(spark, dir).select("doc_id", "text")
      IndexStore.createBm25(d, "doc_id", "text", p)
      IndexStore.deleteBatchBm25(
        d.where(pmod(col("doc_id"), lit(9)) === 0), "doc_id", "text", p, 0L)
    }
  private[graft] def corpusBm25DeletedDisk(spark: SparkSession, dir: String)
      : TextSearch.Bm25Index = {
    val path = bm25DeletedPath(spark, dir)
    val remaining = Tables.documents(spark, dir).select("doc_id", "text")
      .where(pmod(col("doc_id"), lit(9)) =!= 0)
    checkedOncePerWave(spark, dir, "bm25-del")(
      IndexStore.loadBm25Checked(spark, path, remaining, "doc_id", "text"))(
      IndexStore.loadBm25(spark, path))
  }

  /** Full-text search over the post-deletion index: an erased document
    * surfacing anywhere in the ranking — or the survivors' scores
    * drifting from a fresh build's (df/avgdl subtraction exactness) —
    * fails the oracle hash. */
  val qBm25Deleted = Query("q_bm25_deleted",
      // post-deletion: the oracle builds BM25 over the SURVIVING corpus
      // from scratch — df/avgdl/postings subtraction must match it exactly
      s"""WITH ${TextSearch.oracleCtes(
             "(SELECT * FROM documents WHERE doc_id % 9 <> 0)",
             "doc_id", "text", flagshipQueryText)}
         |SELECT id AS doc_id, score FROM bm25
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin)((spark, dir) =>
    TextSearch.search(corpusBm25DeletedDisk(spark, dir), flagshipQueryText,
        k = 10)
      .withColumnRenamed("id", "doc_id"))

  /** TIME-TRAVEL fixture: base build over thirds split A (doc_id%3=0),
    * then append waves 0 (B) and 1 (C). The tip holds A∪B∪C; the as-of
    * horizon at wave 0 must reconstruct exactly A∪B. Tip freshness runs
    * once per session against the FULL corpus ([[checkedOncePerWave]]) —
    * time travel is a view over a healthy index, not a substitute for
    * the staleness guard. */
  private[graft] def corpusBm25AsofDisk(spark: SparkSession, dir: String)
      : TextSearch.Bm25Index = {
    val path = persistedThirds(spark, dir, "bm25asof")(
      IndexStore.createBm25(_, "doc_id", "text", _),
      IndexStore.appendBatchBm25(_, "doc_id", "text", _, _))
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    checkedOncePerWave(spark, dir, "bm25-asof")(
      { IndexStore.loadBm25Checked(spark, path, d, "doc_id", "text"); () })(())
    IndexStore.loadBm25AsOf(spark, path, throughWave = 0L)
  }

  /** IVF TIME-TRAVEL fixture, the [[corpusBm25AsofDisk]] shape on the
    * vector side: base IVF trained on thirds split A (vec_id%3=0), then
    * append waves 0 (B) and 1 (C) assigned to the frozen centroids. The
    * horizon at wave 0 must surface exactly A∪B's members. */
  private[graft] def corpusIvfAsofDisk(spark: SparkSession, dir: String)
      : Ivf.IvfIndex = {
    val path = persisted(spark, dir, "ivfasof") { p =>
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      val a = e.where(pmod(col("vec_id"), lit(3)) === 0)
      IndexStore.saveIvf(Ivf.build(a, "vec_id", "embedding"), p,
        source = Some((a, "vec_id", "embedding")))
      IndexStore.appendBatchIvf(
        e.where(pmod(col("vec_id"), lit(3)) === 1), "vec_id", "embedding",
        p, 0L)
      IndexStore.appendBatchIvf(
        e.where(pmod(col("vec_id"), lit(3)) === 2), "vec_id", "embedding",
        p, 1L)
    }
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    checkedOncePerWave(spark, dir, "ivf-asof")(
      { IndexStore.loadIvfChecked(spark, path, e, "vec_id", "embedding"); () })(())
    IndexStore.loadIvfAsOf(spark, path, throughWave = 0L)
  }

  /** ANN AS OF wave 0 ([[IndexStore.loadIvfAsOf]]): exhaustive routed
    * top-k over the horizon snapshot must equal the exact kNN over
    * exactly A∪B (vec_id%3 ≠ 2) — a wave-1 member surfacing (horizon
    * leak) or a wave-0 member missing (over-filtering) fails the hash.
    * Exhaustive depth + forceRoute keep the filtered exact-kNN SQL a
    * full oracle (every as-of member sits in a probed cluster, so
    * routed == exact with recall 1 — the [[qAnnIvfFiltered]] contract). */
  val qAnnAsof = Query("q_ann_asof",
      // time travel: exact kNN over exactly the waves at-or-below the
      // horizon (A∪B = vec_id%3 ≠ 2)
      exactCosineTopK("embeddings WHERE vec_id % 3 <> 2")) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    Ivf.ann(corpusIvfAsofDisk(spark, dir), e, "vec_id", "embedding",
        flagshipQueryVec, k = 10, numCandidates = Int.MaxValue,
        forceRoute = true)
      .select("vec_id", "score")
  }

  /** Full-text search AS OF wave 0 ([[IndexStore.loadBm25AsOf]]): the
    * horizon snapshot must score EXACTLY like an index that had simply
    * stopped after wave 0 — the oracle rebuilds BM25 from scratch over
    * A∪B (doc_id%3 ≠ 2), so a leaked wave-1 posting, a df/avgdl
    * contribution from C, or any horizon-filter drift fails the hash.
    * Same plan shape as [[qBm25Idx]]: the as-of filter only changes
    * WHICH marker partitions the scan reads. */
  val qBm25Asof = Query("q_bm25_asof",
      // time travel: the oracle builds BM25 from scratch over exactly the
      // waves at-or-below the horizon (A∪B = doc_id%3 ≠ 2) — a leaked
      // wave-1 contribution to postings, df, or avgdl fails the hash
      s"""WITH ${TextSearch.oracleCtes(
             "(SELECT * FROM documents WHERE doc_id % 3 <> 2)",
             "doc_id", "text", flagshipQueryText)}
         |SELECT id AS doc_id, score FROM bm25
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin)((spark, dir) =>
    TextSearch.search(corpusBm25AsofDisk(spark, dir), flagshipQueryText,
        k = 10)
      .withColumnRenamed("id", "doc_id"))

  /** IVF index with a HOT-CELL SPLIT ([[IndexStore.splitClusterIvf]]) —
    * the maintenance middle path between tolerating a hot cell's probe
    * cost and a corpus-sized retrain: the advised largest cell
    * ([[IndexStore.adviseSplitIvf]], sizes arithmetic alone) is
    * re-clustered into two children at cell cost, with the centroid
    * table rewrite as the probe switch. Built once per (session, sfDir);
    * the wave-time staleness check runs on first touch. */
  private[graft] def corpusIvfSplitDisk(spark: SparkSession, dir: String)
      : Ivf.IvfIndex = {
    val path = persisted(spark, dir, "ivfsplit") { p =>
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      IndexStore.saveIvf(corpusIvf(spark, dir), p,
        source = Some((e, "vec_id", "embedding")))
      val preSplit = IndexStore.loadIvf(spark, p)
      val advice = IndexStore.adviseSplitIvf(preSplit, factor = 1.0001)
      IndexStore.splitClusterIvf(e, "vec_id", "embedding", p,
        advice.cluster, batchId = 0L)
      // and the twin maintenance op on cells OTHER than the fresh
      // children: proximity-aware advice would otherwise pick the two
      // 2-means children (the closest pair in the index by
      // construction) and the merge wave would just undo the split
      // wave — the fixture must carry BOTH layouts, and the exactness
      // contract must hold through the pair
      val postSplit = IndexStore.loadIvf(spark, p)
      val children = postSplit.sizes.keySet -- preSplit.sizes.keySet
      val m = IndexStore.adviseMergeIvf(
        postSplit.copy(sizes = postSplit.sizes -- children,
          centroids = postSplit.centroids -- children),
        factor = 100.0)
      IndexStore.mergeClustersIvf(e, "vec_id", "embedding", p,
        m.clusterA, m.clusterB, batchId = 0L)
    }
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    checkedOncePerWave(spark, dir, "ivf-split")(
      IndexStore.loadIvfChecked(spark, path, e, "vec_id", "embedding"))(
      IndexStore.loadIvf(spark, path))
  }

  /** ANN over the post-split, post-merge index: the routed exhaustive
    * probe over the re-laid-out cells must equal the exact top-k — a
    * member lost (old cell unreachable too early) or doubled (old rows
    * still routed) by EITHER maintenance wave fails both the selfCheck
    * and the oracle hash. The corpus did not change, so the exact-kNN
    * SQL is the same full oracle as `q_ann_ivf`; only the physical
    * layout moved — twice. */
  val qAnnIvfSplit = Query("q_ann_ivf_split",
      // post-split: the corpus did not change, only the physical layout —
      // the exact-kNN oracle is identical to q_ann_ivf's
      VectorQueries.qAnnIvf.oracleSql) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    val idx = corpusIvfSplitDisk(spark, dir)
    selfChecked(
      Ivf.ann(idx, e, "vec_id", "embedding", flagshipQueryVec, k = 10,
          numCandidates = Int.MaxValue, forceRoute = true)
        .select("vec_id", "score"),
      VectorSearch.knn(e, "vec_id", "embedding", flagshipQueryVec, k = 10)
        .select("vec_id", "score"),
      "q_ann_ivf_split routed-over-split-cells")
  }

  /** Quantile sample sketch over the documents corpus
    * ([[IndexStore.saveQuantile]]) with the FULL lifecycle exercised:
    * base build on two-thirds of the corpus, one append wave (merge
    * theorem: fold == single pass, definitionally), one deletion wave
    * (the sample shrinks by exactly the erased rows — sound, unlike the
    * refused MG/KMV erasure). Built once per (session, sfDir); the
    * wave-time staleness check runs on first touch. */
  private[graft] def corpusQuantileDisk(spark: SparkSession, dir: String)
      : IndexStore.QuantileSketch = {
    val path = persisted(spark, dir, "qsketch") { p =>
      val d = Tables.documents(spark, dir).select("doc_id", "n_chars")
      IndexStore.saveQuantile(d.where(pmod(col("doc_id"), lit(3)) =!= 2),
        "doc_id", "n_chars", k = 1024, p)
      IndexStore.appendBatchQuantile(
        d.where(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "n_chars",
        p, 0L)
      IndexStore.deleteBatchQuantile(
        d.where(pmod(col("doc_id"), lit(9)) === 0), "doc_id", "n_chars",
        p, 0L)
    }
    val survivors = Tables.documents(spark, dir)
      .select("doc_id", "n_chars")
      .where(pmod(col("doc_id"), lit(9)) =!= 0)
    checkedOncePerWave(spark, dir, "quantile")(
      IndexStore.loadQuantileChecked(spark, path, survivors, "doc_id",
        "n_chars"))(
      IndexStore.loadQuantile(spark, path))
  }

  /** Distribution questions from the persisted sample — rank-⌈p·m⌉
    * quantiles of doc length as DRIVER ARITHMETIC over ≤ k (hash, value)
    * pairs: no corpus scan at report time, no [lo, hi) histogram DDL
    * ([[IndexStore.histQuantile]]'s one constraint this family drops).
    * The gate pins the COMPLETE regime (k = 1024 ≥ the sf0.01 corpus —
    * selfCheck-enforced): the sample is the surviving corpus's multiset,
    * so the oracle recomputes the identical rank rule over the survivors
    * in SQL and the values must match exactly, through the append's
    * merge AND the erasure wave. At 100 TB the sampled regime applies
    * instead — a uniform bottom-k-by-id-hash sample with O(1/√k) rank
    * error, maintained at ≤ k rows per ingest wave (the
    * [[IndexStore]] quantile family comment). */
  val qQuantileSketch = Query("q_quantile_sketch",
      // the complete-regime contract: the sketch holds every surviving row,
      // so the oracle recomputes the same rank-⌈p·n⌉ rule over the
      // survivors (post-append, post-erasure) and values match exactly
      """WITH ranked AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS val,
        |         row_number() OVER (ORDER BY n_chars) AS rk
        |  FROM documents WHERE doc_id % 9 <> 0
        |), nn AS (SELECT count(*) AS c FROM documents WHERE doc_id % 9 <> 0),
        |ps(p) AS (VALUES (CAST(0.1 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
        |                 (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE)))
        |SELECT p, val FROM ps, nn, ranked
        |WHERE rk = CAST(ceil(p * c) AS BIGINT)
        |ORDER BY p""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = corpusQuantileDisk(spark, dir)
    if (sys.props.get("graft.selfcheck").contains("1"))
      require(s.complete,
        "q_quantile_sketch declares the complete (exact) regime at the " +
          s"gate SF but the sketch holds ${s.m} of ${s.n} rows — raise k " +
          "or the oracle comparison is sample-vs-exact")
    Seq(0.1, 0.5, 0.9, 0.99).map(p => (p, s.quantile(p))).toDF("p", "val")
  }

  /** Grouped quantile sample sketch — the per-group twin of
    * [[corpusQuantileDisk]] over (source → n_chars), same lifecycle
    * (save two-thirds, append one-third, erase the mod-9 wave). */
  private[graft] def corpusGroupedQuantileDisk(spark: SparkSession, dir: String)
      : IndexStore.GroupedQuantileSketch = {
    val path = persisted(spark, dir, "gqsketch") { p =>
      val d = Tables.documents(spark, dir)
        .select("doc_id", "source", "n_chars")
      IndexStore.saveGroupedQuantile(
        d.where(pmod(col("doc_id"), lit(3)) =!= 2), "doc_id", "source",
        "n_chars", k = 1024, p)
      IndexStore.appendBatchGroupedQuantile(
        d.where(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "source",
        "n_chars", p, 0L)
      IndexStore.deleteBatchGroupedQuantile(
        d.where(pmod(col("doc_id"), lit(9)) === 0), "doc_id", "source",
        "n_chars", p, 0L)
    }
    val survivors = Tables.documents(spark, dir)
      .select("doc_id", "source", "n_chars")
      .where(pmod(col("doc_id"), lit(9)) =!= 0)
    checkedOncePerWave(spark, dir, "grouped-quantile")(
      IndexStore.loadGroupedQuantileChecked(spark, path, survivors,
        "doc_id", "source", "n_chars"))(
      IndexStore.loadGroupedQuantile(spark, path))
  }

  /** PER-GROUP distribution questions from the persisted grouped sample
    * ([[IndexStore.saveGroupedQuantile]]): "median and p90 doc length per
    * source" — the curation question every mixing/quality decision needs
    * — as driver arithmetic over ≤ groups × k (hash, value) pairs, no
    * corpus scan and no histogram DDL at report time. The gate pins the
    * complete regime per group (selfCheck), so the oracle recomputes the
    * identical per-group rank rule over the survivors; at 100 TB the
    * uniform per-group sample applies, maintained at ≤ groups × k rows
    * per ingest wave. */
  val qQuantileBySource = Query("q_quantile_by_source",
      // per-group complete regime: the oracle recomputes the identical
      // per-group rank rule over the survivors
      """WITH ranked AS (
        |  SELECT source, CAST(n_chars AS DOUBLE) AS val,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars)
        |           AS rk,
        |         count(*) OVER (PARTITION BY source) AS c
        |  FROM documents WHERE doc_id % 9 <> 0 AND source IS NOT NULL
        |), ps(p) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)))
        |SELECT source, p, val FROM ps, ranked
        |WHERE rk = CAST(ceil(p * c) AS BIGINT)
        |ORDER BY source, p""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = corpusGroupedQuantileDisk(spark, dir)
    if (sys.props.get("graft.selfcheck").contains("1"))
      s.groups.foreach(g => require(s.complete(g),
        s"q_quantile_by_source declares the complete regime but group " +
          s"'$g' holds ${s.m(g)} of ${s.nByGroup(g)} rows"))
    s.groups.toSeq.sorted.flatMap(g =>
        Seq(0.5, 0.9).map(p => (g, p, s.quantile(g, p))))
      .toDF("source", "p", "val")
  }

  /** ERASURE AUDIT over the deletion-wave fixtures
    * ([[IndexStore.erasureAudit]]) — the verification step that closes
    * the right-to-be-forgotten loop: after the `q_ann_ivf_deleted` /
    * `q_bm25_deleted` waves, PROVE through each family's own live loader
    * (the same tombstone-filtered, commit-marker-scoped relation every
    * query reads) that zero erased ids remain visible. `erased_n` is the
    * wave size the oracle recomputes from the corpus; `residual` = 0 is
    * the certificate — earned by probing the actual index state, so a
    * half-applied wave or a missed family surfaces as a positive
    * residual and fails the hash. One narrow id-projection scan per
    * family per wave: the compliance cadence, never per query. */
  /** FLEET ERASURE WAVE ([[IndexStore.executeErasureWave]]): one call
    * drains a GDPR wave (doc_id ≡ 0 mod 6, EVERY doomed doc — the wave
    * is a LEFT join onto embeddings, so doc-keyed families erase users
    * with no embedding too, the r14-advice production shape) into SEVEN
    * families built over
    * the same corpus — BM25, the scalar quantile sample, the per-source
    * grouped sample, and (round 13) the word-count vocab family AND the
    * bigram LM, both admitted by the erased-id ledger
    * ([[IndexStore.deleteBatchWordCounts]]/[[IndexStore.deleteBatchLm]]:
    * overlapping requests dedupe instead of double-subtracting, and the
    * ledger IS the family's certificate — erased ids with no committed
    * ledger entry count as residual). The returned relation IS the
    * compliance certificate: per family, the wave size and the residual
    * (live-loader probe for the id-keyed families, ledger probe for
    * wordcount). The oracle pins residual = 0 and erased_n = the wave's
    * distinct ids; a half-applied wave (one family missed, a broken
    * anti-join, a double subtraction on the replay this query performs
    * every run — the wave commits once, re-invocations are fleet-wide
    * no-ops) fails the hash. Wave + audit run at erasure-wave cadence:
    * each family's delete is work ∝ wave, the audit one narrow
    * projection per family. */
  val qErasureWave = Query("q_erasure_wave",
      // the engine's zeros must come out of the LIVE loaders after a real
      // fleet-wide delete — the SQL states the certificate the wave must
      // earn. The catalog spans BOTH id spaces: doc-keyed families plus
      // the embedding-keyed ivf (vec_id ≡ doc_id, 1:1), erased in ONE wave
      // the wave is the docs ⋈ embeddings join (both id spaces must carry
      // their exact stored bytes), so the oracle counts the SAME join —
      // at SFs where the two tables differ in row count (sf0.1: 5,000
      // docs vs 2,000 embeddings) a documents-only count would overstate
      // the wave
      // the wave is the FULL doomed doc set (left join — the production
      // shape; the audit's erased_n counts every requested id for every
      // family, embedded or not, and residual 0 certifies each family
      // holds none of them)
      """SELECT family, n AS erased_n, CAST(0 AS BIGINT) AS residual
        |FROM (SELECT count(DISTINCT doc_id) AS n
        |      FROM documents WHERE doc_id % 6 = 0),
        |     (SELECT unnest(['bm25', 'gquantile', 'ivf', 'lm', 'lm3', 'quantile', 'wordcount']) AS family)
        |ORDER BY family""".stripMargin) { (spark, dir) =>
    val targets = fixture(spark, "erasurewave", dir) {
      val d = Tables.documents(spark, dir)
        .select("doc_id", "text", "source", "n_chars")
      val bm = persistedPath("wavebm", dir)
      val q = persistedPath("waveq", dir)
      val gq = persistedPath("wavegq", dir)
      val wc = persistedPath("wavewc", dir)
      val lmp = persistedPath("wavelm", dir)
      val iv = persistedPath("waveivf", dir)
      val lm3 = persistedPath("wavelm3", dir)
      IndexStore.createBm25(d, "doc_id", "text", bm)
      IndexStore.saveQuantile(d, "doc_id", "n_chars", k = 1024, q)
      IndexStore.saveGroupedQuantile(d, "doc_id", "source", "n_chars",
        1024, gq)
      IndexStore.saveWordCounts(d, "doc_id", "text", wc)
      IndexStore.saveLm(d, "doc_id", "text", lmp)
      IndexStore.saveLm3(d, "doc_id", "text", lm3)
      // the VECTOR-keyed family: a user's docs AND their embeddings
      // erase in ONE wave — the real GDPR shape spans both id spaces
      // (doc_id ≡ vec_id in the fixture corpus, as in any 1:1 enrich)
      IndexStore.createIvf(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"),
        "vec_id", "embedding", iv, numClusters = 8)
      Seq(IndexStore.ErasureTarget("bm25", bm, Seq("text")),
        IndexStore.ErasureTarget("ivf", iv, Seq("embedding")),
        IndexStore.ErasureTarget("lm", lmp, Seq("text")),
        IndexStore.ErasureTarget("lm3", lm3, Seq("text")),
        IndexStore.ErasureTarget("quantile", q, Seq("n_chars")),
        IndexStore.ErasureTarget("gquantile", gq, Seq("source", "n_chars")),
        IndexStore.ErasureTarget("wordcount", wc, Seq("text")))
    }
    val d = Tables.documents(spark, dir)
      .select("doc_id", "text", "source", "n_chars")
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // ONE wave carrying every column any family re-derives from: text/
    // value columns for the doc-keyed families, the exact stored vector
    // for the embedding-keyed one (doc_id ≡ vec_id — the 1:1 enrich id
    // space). LEFT join — the PRODUCTION shape (r14-advice): every
    // doomed doc erases from the doc-keyed families even when it has no
    // embedding (at sf0.1 docs and embeddings cardinalities DIVERGE:
    // 5,000 vs 2,000 — an inner join would silently skip 60% of the
    // users for bm25/lm/quantiles); executeErasureWave's per-family
    // narrowing routes only embedding-carrying rows into the
    // vector-keyed delete, and the audit probes the FULL wave against
    // every family.
    val doomed = d.join(e, d("doc_id") === e("vec_id"), "left")
      .drop("vec_id")
      .where(pmod(col("doc_id"), lit(6)) === 0)
    IndexStore.executeErasureWave(doomed, "doc_id", targets, batchId = 0L)
      .orderBy("family")
  }

  /** FLEET MAINTENANCE PRICING ([[IndexStore.maintenanceWave]], dry-run):
    * the compaction advisor's arithmetic under the gate. The fixture is a
    * quantile sketch accreted in THREE waves (base + two appends) with
    * k = 50, so the persisted sample holds exactly min(wave, 50) rows per
    * wave — the oracle recomputes that sum from the raw table (the
    * fold-cost honesty pin: the advisor must price the PERSISTED sample,
    * never the ingested corpus the marks fingerprint counts) and states
    * the recommendation the amortization inequality forces at 50
    * queries/wave. Dry-run (`execute = false`) so the receipts are
    * deterministic across invocations — pricing is repeatable; acting
    * would fold once and change the second read's batch count. */
  val qMaintenanceWave = Query("q_maintenance_wave",
      // the advisor must price the PERSISTED sample (Σ min(wave, k)) — the
      // oracle recomputes that sum from the raw table and states the
      // recommendation the amortization inequality forces
      """WITH w AS (
        |  SELECT doc_id % 3 AS wv, count(*) AS n FROM documents GROUP BY 1
        |)
        |SELECT 'quantile' AS family,
        |       3 AS batches,
        |       (SELECT sum(least(n, 50)) FROM w)::BIGINT AS total_rows,
        |       true AS recommend,
        |       false AS folded""".stripMargin) { (spark, dir) =>
    val path = persisted(spark, dir, "maintq") { p =>
      val d = Tables.documents(spark, dir).select("doc_id", "n_chars")
      IndexStore.saveQuantile(d.where(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "n_chars", k = 50, p)
      IndexStore.appendBatchQuantile(
        d.where(pmod(col("doc_id"), lit(3)) === 1), "doc_id", "n_chars",
        p, 0L)
      IndexStore.appendBatchQuantile(
        d.where(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "n_chars",
        p, 1L)
    }
    IndexStore.maintenanceWave(spark, Seq("quantile" -> path),
        queriesPerWave = 50L, execute = false)
      .select(col("family"), col("batches"), col("total_rows"),
        col("recommend"), col("folded"))
  }

  val qErasureAudit = Query("q_erasure_audit",
      // erasure certificate: erased_n is real corpus arithmetic; the zero
      // residual is EARNED on the Spark side by probing each family's live
      // tombstone-filtered loader — a half-applied wave or missed family
      // yields a positive residual and fails the hash
      """SELECT * FROM (
        |  SELECT 'bm25' AS family,
        |         (SELECT count(*) FROM documents WHERE doc_id % 9 = 0)
        |           AS erased_n,
        |         CAST(0 AS BIGINT) AS residual
        |  UNION ALL
        |  SELECT 'ivf',
        |         (SELECT count(*) FROM embeddings WHERE vec_id % 7 = 0),
        |         CAST(0 AS BIGINT)
        |) ORDER BY family""".stripMargin) { (spark, dir) =>
    // the fixture accessors return LOADED index handles (tombstone-
    // filtered live relations) — hand those to the audit so it probes
    // them directly instead of paying each family's sidecar/marker load
    // a second time (r16; the load was ~half the audit's wall time), and
    // run the two per-id-space audits CONCURRENTLY (guide §2.6 — each is
    // a chain of small driver-synced jobs over disjoint indexes)
    val doomedDocs = Tables.documents(spark, dir)
      .where(pmod(col("doc_id"), lit(9)) === 0).select("doc_id")
    val doomedVecs = Tables.embeddings(spark, dir)
      .where(pmod(col("vec_id"), lit(7)) === 0).select("vec_id")
    val Seq(docRows, vecRows) = graft.util.Par.all(Seq(
      () => {
        val bm = corpusBm25DeletedDisk(spark, dir)
        IndexStore.erasureAudit(spark, doomedDocs, "doc_id",
          Seq("bm25" -> bm25DeletedPath(spark, dir)),
          live = Map("bm25" -> bm.postings.select(col("id"))))
      },
      () => {
        val ivf = corpusIvfDeletedDisk(spark, dir)
        IndexStore.erasureAudit(spark, doomedVecs, "vec_id",
          Seq("ivf" -> ivfDeletedPath(spark, dir)),
          live = Map("ivf" -> ivf.assignments.select(col("id"))))
      }))
    docRows.unionByName(vecRows).orderBy("family")
  }

  /** Z-order layout of lineitem on (l_partkey, l_suppkey), built once
    * per (session, sfDir) — the LAYOUT lifecycle (the once-paid
    * clustering shuffle that every later box query amortizes); domains
    * measured from the data at build time (one min/max agg), bits=3 →
    * 64 z-buckets as parquet partition dirs. */
  private val ZOrderBits = 3
  private[graft] def lineitemZorderDisk(spark: SparkSession, dir: String)
      : (DataFrame, ZOrder.Dim, ZOrder.Dim) = {
    val (path, dx, dy) = fixture(spark, "zorder", dir) {
      val li = Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      val r = li.agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      val dx = ZOrder.Dim("l_partkey", r.getLong(0), r.getLong(1))
      val dy = ZOrder.Dim("l_suppkey", r.getLong(2), r.getLong(3))
      val p = persistedPath("zorder", dir)
      ZOrder.writeLayout(li, dx, dy, ZOrderBits, p)
      (p, dx, dy)
    }
    (ZOrder.readLayout(spark, path), dx, dy)
  }

  /** Multi-dimensional scan pruning via the z-ordered layout
    * ([[ZOrder.boxQuery]]): a 2-D box on (l_partkey, l_suppkey) —
    * [xlo, xlo+(xhi−xlo)/10] × [ylo, ylo+(yhi−ylo)/4], derived from the
    * measured domains on BOTH sides so the constants agree at every
    * SF — served from the buckets whose cell rectangle intersects the
    * box (an IN-list partition filter over ≤ 64 directory ids; 2 of 64
    * at these domains) plus the exact residual predicate. Grouped per
    * z-bucket: the oracle recomputes each row's bucket id with the
    * identical integer-division cells and shift-or-mask interleave —
    * hash-matching the Morton arithmetic itself, not just the filtered
    * aggregate. */
  val qZorderBox = Query("q_zorder_box",
      // recomputes each in-box row's z-bucket with the identical
      // integer-division cells + shift-or-mask Morton interleave (the
      // ZOrder sql* twins) — hash-matching the layout arithmetic itself
      s"""WITH dom AS (
         |  SELECT min(l_partkey)::BIGINT AS xlo, max(l_partkey)::BIGINT AS xhi,
         |         min(l_suppkey)::BIGINT AS ylo, max(l_suppkey)::BIGINT AS yhi
         |  FROM lineitem
         |), sel AS (
         |  SELECT ${ZOrder.sqlCellExpr("l.l_partkey", "d.xlo", "d.xhi", 3)} AS cx,
         |         ${ZOrder.sqlCellExpr("l.l_suppkey", "d.ylo", "d.yhi", 3)} AS cy,
         |         l.l_quantity
         |  FROM lineitem l, dom d
         |  WHERE l.l_partkey BETWEEN d.xlo AND d.xlo + (d.xhi - d.xlo) // 10
         |    AND l.l_suppkey BETWEEN d.ylo AND d.ylo + (d.yhi - d.ylo) // 4
         |)
         |SELECT ${ZOrder.sqlZValue("cx", "cy")} AS zb,
         |       count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
         |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val (layout, dx, dy) = lineitemZorderDisk(spark, dir)
    val x1 = dx.lo + (dx.hi - dx.lo) / 10
    val y1 = dy.lo + (dy.hi - dy.lo) / 4
    ZOrder.boxQuery(layout, dx, dy, ZOrderBits, dx.lo, x1, dy.lo, y1)
      .groupBy(col("__zb").cast("long").as("zb"))
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
      .orderBy("zb")
  }

  /** INCREMENTAL z-order layout fixture ([[IndexStore.saveZOrder]]
    * family): the clustered base holds three deterministic quarters of
    * lineitem (l_orderkey mod 4 ≠ 3), the last quarter lands as TWO
    * append waves split on l_partkey parity — each wave written with NO
    * clustering shuffle (work ∝ batch), exactly the 100 TB daily-ingest
    * shape the tail exists for. Built once per (session, sfDir); the one
    * wave-time staleness check (summed committed marks vs the corpus
    * fingerprint) runs at build, per the [[checkedOncePerWave]]
    * contract — box queries afterwards read unchecked. */
  private[graft] def lineitemZorderIncDisk(spark: SparkSession, dir: String)
      : (String, ZOrder.Dim, ZOrder.Dim) =
    fixture(spark, "zorderinc", dir) {
      val li = Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      val r = li.agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      val dx = ZOrder.Dim("l_partkey", r.getLong(0), r.getLong(1))
      val dy = ZOrder.Dim("l_suppkey", r.getLong(2), r.getLong(3))
      val p = persistedPath("zorderinc", dir)
      val lastQuarter = pmod(col("l_orderkey"), lit(4)) === 3
      IndexStore.saveZOrder(li.where(!lastQuarter), dx, dy, ZOrderBits, p)
      IndexStore.appendBatchZOrder(
        li.where(lastQuarter && pmod(col("l_partkey"), lit(2)) === 0), p, 0L)
      IndexStore.appendBatchZOrder(
        li.where(lastQuarter && pmod(col("l_partkey"), lit(2)) === 1), p, 1L)
      // the wave-time guard: refuses if the committed waves don't cover
      // exactly this corpus (e.g. a batch written but never committed)
      IndexStore.loadZOrderChecked(spark, p, li)
      (p, dx, dy)
    }

  /** Exact 2-D box query across the layout LIFECYCLE: IN-list-pruned
    * clustered base ∪ fully-scanned committed tail, residual predicate
    * on both ([[IndexStore.boxZOrder]]) — exactness under appends is the
    * family's contract (the tail costs scan width, never correctness),
    * and the oracle recomputes every surviving row's bucket id with the
    * identical Morton arithmetic over the RAW table, so a row lost (or
    * double-read) anywhere in the base/tail/marks lifecycle fails the
    * hash. Different box than [[qZorderBox]] (a mid-domain rectangle)
    * so the two rows don't collapse into the same receipt. */
  val qZorderBoxInc = Query("q_zorder_box_inc",
      // the INCREMENTAL layout's lifecycle receipt: the oracle never sees
      // base/tail/marks — it filters and re-buckets the RAW table, so any
      // row the base∪committed-tail union lost or double-read fails the hash
      s"""WITH dom AS (
         |  SELECT min(l_partkey)::BIGINT AS xlo, max(l_partkey)::BIGINT AS xhi,
         |         min(l_suppkey)::BIGINT AS ylo, max(l_suppkey)::BIGINT AS yhi
         |  FROM lineitem
         |), sel AS (
         |  SELECT ${ZOrder.sqlCellExpr("l.l_partkey", "d.xlo", "d.xhi", 3)} AS cx,
         |         ${ZOrder.sqlCellExpr("l.l_suppkey", "d.ylo", "d.yhi", 3)} AS cy,
         |         l.l_quantity
         |  FROM lineitem l, dom d
         |  WHERE l.l_partkey BETWEEN d.xlo + (d.xhi - d.xlo) // 3
         |                        AND d.xlo + (d.xhi - d.xlo) // 2
         |    AND l.l_suppkey BETWEEN d.ylo + (d.yhi - d.ylo) // 2 AND d.yhi
         |)
         |SELECT ${ZOrder.sqlZValue("cx", "cy")} AS zb,
         |       count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
         |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val (path, dx, dy) = lineitemZorderIncDisk(spark, dir)
    val x0 = dx.lo + (dx.hi - dx.lo) / 3
    val x1 = dx.lo + (dx.hi - dx.lo) / 2
    val y0 = dy.lo + (dy.hi - dy.lo) / 2
    IndexStore.boxZOrder(spark, path, x0, x1, y0, dy.hi)
      .groupBy(col("__zb").cast("long").as("zb"))
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
      .orderBy("zb")
  }
}
