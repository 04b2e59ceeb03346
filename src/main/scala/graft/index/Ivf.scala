package graft.index

import graft.functions.Vectors
import graft.search.VectorSearch
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate-nearest-neighbor index — the Spark
  * rendition of the reference's vector index DDL + ANN probe
  * (`indexes.py:54-71` declares the Atlas index; `backend/api.py:168-180`
  * probes it with `numCandidates` as the recall knob — SURVEY S5/R7/R9).
  *
  * Build (offline batch job, like `indexes.py`): k-means over the embedding
  * column (`spark.ml.clustering.KMeans`, pinned seed); persist
  *
  *   - `assignments(id, cluster)` — row-per-vector, co-partitioned with the
  *     base table on id (at scale: written bucketed by cluster so a probe
  *     prunes file groups);
  *   - `centroids` + per-cluster sizes — k × dim doubles, driver-side
  *     (k ≈ √N keeps this a few MB even at 10⁹ vectors).
  *
  * Probe (query time): rank clusters by centroid distance to the query
  * (driver-side arithmetic on the tiny centroid table, tie-break cluster id
  * ASC), take clusters until the candidate pool ≥ numCandidates, scan ONLY
  * those clusters' members, exact re-rank with [[VectorSearch.knn]].
  * `numCandidates ≥ N` probes every cluster and degenerates to exact search
  * (recall 1) — that is the oracle-checkable mode (SURVEY §5: IVF recall is
  * unit-tested, not hash-compared).
  *
  * At 100 TB: the probe reads `numCandidates/N` of the data instead of all
  * of it; the scan is partition-pruned by the cluster bucketing; the re-rank
  * is a per-partition heap + k-row driver merge (TakeOrderedAndProject) —
  * no shuffle of the candidate set.
  */
object Ivf {

  /** @param assignments (id, cluster) mapping
    * @param centroids   cluster id → centroid vector (driver-side)
    * @param sizes       cluster id → member count (driver-side)
    * @param metric      similarity fixed at DDL time (`indexes.py:28-31`
    *                    pins Atlas `similarity` in the index definition;
    *                    probes with another metric are rejected, not
    *                    silently rescored)
    * @param dim         vector dimensionality fixed at DDL time
    *                    (`indexes.py:64` `numDimensions`; Atlas errors on
    *                    mismatched query vectors)
    * @param radii       cluster id → max distance from any member's
    *                    UNIT-NORMALIZED vector to the cluster's normalized
    *                    centroid — the ball-cover metadata behind
    *                    [[knnJoinExact]]'s triangle-inequality pruning
    *                    (k doubles, driver-side like centroids/sizes). A
    *                    missing entry means "unknown" and disables pruning
    *                    for that cluster (bound 1.0), never unsoundness.
    */
  final case class IvfIndex(
      assignments: DataFrame,
      centroids: Map[Int, Array[Double]],
      sizes: Map[Int, Long],
      metric: String = "cosine",
      dim: Int = -1,
      radii: Map[Int, Double] = Map.empty)

  /** Max possible distance between two unit vectors — the radius that makes
    * every pruning bound trivial (used for zero-norm members/centroids and
    * unknown clusters: sound, just never pruned). */
  val TrivialRadius = 2.0

  /** Batch index build. k defaults to ⌈√N⌉ (classic IVF sizing: probe cost
    * balances centroid scan vs cluster scan). `metric` is baked into the
    * index like Atlas `similarity`; `dim` is derived from the fitted
    * centroids. */
  def build(embs: DataFrame, idCol: String, embCol: String,
      numClusters: Int = 0, seed: Long = 42L,
      metric: String = "cosine"): IvfIndex = {
    require(VectorSearch.Metrics.contains(metric),
      s"metric must be one of ${VectorSearch.Metrics}, got '$metric'")
    val k = if (numClusters > 0) numClusters
      else math.max(1, math.ceil(math.sqrt(embs.count().toDouble)).toInt)
    val feats = embs.select(col(idCol).as("id"),
      array_to_vector(col(embCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cluster")
      .fit(feats)
    val assigned = model.transform(feats).select(col("id"), col("cluster"),
      org.apache.spark.ml.functions.vector_to_array(col("features")).as("__v"))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => i -> c.toArray }.toMap
    val dim = model.clusterCenters.headOption.map(_.size).getOrElse(0)
    // sizes AND ball-cover radii from ONE aggregation over ONE transform —
    // separate collects would each re-run the batch × k × dim assignment
    // job ("one extra linear pass" means one, not three)
    val stats = clusterStats(assigned, "cluster", "__v", centroids)
    IvfIndex(assigned.select("id", "cluster"), centroids,
      stats.map { case (c, (n, _)) => c -> n },
      metric, dim,
      stats.map { case (c, (_, r)) => c -> r })
  }

  /** Per-cluster max normalized distance ‖x̂ − μ̂_c‖ over an assigned
    * (cluster, vector) relation — the radius side of [[knnJoinExact]]'s
    * ball bound. Zero-norm members or centroids poison their cluster to
    * [[TrivialRadius]] (sound: that cluster is simply never pruned). One
    * map + one max-aggregate; also reused per-batch by the incremental
    * index upkeep ([[graft.index.IndexStore.appendBatchIvf]]). */
  def clusterRadii(assigned: DataFrame, clusterCol: String, vecCol: String,
      centroids: Map[Int, Array[Double]]): Map[Int, Double] =
    clusterStats(assigned, clusterCol, vecCol, centroids)
      .map { case (c, (_, r)) => c -> r }

  /** [[clusterRadii]] plus member counts, in the SAME aggregation job —
    * [[build]] needs both and the assignment transform they aggregate over
    * is the expensive part, so they must share one pass. */
  /** The normalized distance-to-assigned-centroid column ‖x̂ − μ̂_c‖,
    * shared by the radius aggregation and the drift monitor so the two
    * can never disagree about what "distance" means. Degenerate inputs
    * (zero-norm member or centroid) poison to [[TrivialRadius]]. */
  private def assignedDistCol(spark: org.apache.spark.sql.SparkSession,
      clusterCol: String, vecCol: String,
      centroids: Map[Int, Array[Double]]): Column = {
    val normCents = centroids.map { case (cid, c) =>
      val n = math.sqrt(c.map(x => x * x).sum)
      cid -> (if (n == 0) null else c.map(_ / n))
    }
    val bc = spark.sparkContext.broadcast(normCents)
    val dist = udf { (cluster: Int, v: Seq[Double]) =>
      val mu = bc.value.getOrElse(cluster, null)
      var n2 = 0.0
      v.foreach(x => n2 += x * x)
      val n = math.sqrt(n2)
      if (mu == null || n == 0) TrivialRadius
      else {
        var s = 0.0; var i = 0
        while (i < mu.length) { val d = v(i) / n - mu(i); s += d * d; i += 1 }
        math.min(TrivialRadius, math.sqrt(s))
      }
    }
    dist(col(clusterCol), col(vecCol).cast("array<double>"))
  }

  private[graft] def clusterStats(assigned: DataFrame, clusterCol: String,
      vecCol: String,
      centroids: Map[Int, Array[Double]]): Map[Int, (Long, Double)] =
    assigned
      .select(col(clusterCol).as("__c"),
        assignedDistCol(assigned.sparkSession, clusterCol, vecCol,
          centroids).as("__d"))
      .groupBy("__c").agg(count(lit(1)).as("__n"), max(col("__d")).as("__r"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap

  /** Global quantization-error receipts of an assigned relation:
    * (member count, Σ ‖x̂ − μ̂_assigned‖) in one map-side-combinable
    * aggregation — the drift monitor's per-wave measurement
    * ([[graft.index.IndexStore.planRetrain]]): a wave drawn from the
    * trained distribution averages ≈ the base's mean cell distance, a
    * drifted wave measurably exceeds it. */
  def quantizationStats(assigned: DataFrame, clusterCol: String,
      vecCol: String, centroids: Map[Int, Array[Double]]): (Long, Double) = {
    val r = assigned
      .select(assignedDistCol(assigned.sparkSession, clusterCol, vecCol,
        centroids).as("__d"))
      .agg(count(lit(1)), sum(col("__d"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  /** Upper bound on cos(query, x) over every member x of cluster `cid`,
    * from the ball cover: on the unit sphere cos(q,x) = 1 − ‖q̂−x̂‖²/2 and
    * ‖q̂−x̂‖ ≥ max(0, ‖q̂−μ̂_c‖ − r_c), so
    * cos ≤ 1 − max(0, ‖q̂−μ̂_c‖ − r_c)²/2. Degenerate geometry (zero-norm
    * query/centroid, unknown radius) returns 1.0 — the never-prune bound. */
  def cosUpperBound(index: IvfIndex, qNorm: Array[Double], cid: Int): Double = {
    val r = index.radii.getOrElse(cid, TrivialRadius)
    val c = index.centroids(cid)
    var cn2 = 0.0
    c.foreach(x => cn2 += x * x)
    val cn = math.sqrt(cn2)
    if (qNorm == null || cn == 0 || r >= TrivialRadius) 1.0
    else {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = qNorm(i) - c(i) / cn; s += d * d; i += 1 }
      val dmin = math.max(0.0, math.sqrt(s) - r)
      1.0 - dmin * dmin / 2.0
    }
  }

  /** Assign each row's vector to its nearest trained centroid (squared-L2,
    * the same geometry KMeans assigned the base members with): adds an
    * integer `cluster` column. The batch-side half of the incremental
    * index upkeep ([[IndexStore.appendBatchIvf]]) — work ∝ rows ×
    * numClusters × dim, centroids ride a broadcast variable.
    *
    * A Scala UDF is the right tool here (repo-wide "functions, not UDFs"
    * notwithstanding): the argmin over k centroid arrays has no built-in
    * rendition short of exploding rows × k pairs through a join, and this
    * runs on micro-BATCHES, never on the corpus. */
  def assignToNearest(df: DataFrame, embCol: String,
      centroids: Map[Int, Array[Double]], dim: Int): DataFrame = {
    require(centroids.nonEmpty, "cannot assign against zero centroids")
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(centroids.toArray.sortBy(_._1))
    val assign = udf { (v: Seq[Double]) =>
      require(dim < 0 || v.length == dim,
        s"vector dimension ${v.length} != index numDimensions $dim")
      val arr = v.toArray
      var bestId = bc.value.head._1
      var bestD = Double.MaxValue
      for ((cid, c) <- bc.value) {
        var s = 0.0; var i = 0
        while (i < c.length) { val d = c(i) - arr(i); s += d * d; i += 1 }
        // strict <: centroids iterate in ascending cid, so ties keep the
        // lowest cid automatically (same convention as Pq.encode)
        if (s < bestD) { bestD = s; bestId = cid }
      }
      bestId
    }
    df.withColumn("cluster", assign(col(embCol).cast("array<double>")))
  }

  /** Clusters to probe for `queryVec`, nearest-centroid first, until the
    * cumulative member count reaches numCandidates. */
  /** The probe ORDER — clusters by ascending squared centroid distance,
    * ties by cid. Shared verbatim by [[probeSet]] and the covering-mass
    * measurement ([[graft.search.AnnPlanner.measureIvfDepth]]), so a
    * measured depth replayed as `numCandidates` selects exactly the
    * clusters the measurement counted. */
  private[graft] def clusterProbeOrder(index: IvfIndex,
      queryVec: Array[Double]): Seq[Int] = {
    def dist2(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - queryVec(i); s += d * d; i += 1 }
      s
    }
    index.centroids.toSeq
      .map { case (cid, c) => (dist2(c), cid) }
      .sortBy { case (d, cid) => (d, cid) }
      .map(_._2)
  }

  def probeSet(index: IvfIndex, queryVec: Array[Double], numCandidates: Int): Seq[Int] = {
    var pool = 0L
    val picked = Seq.newBuilder[Int]
    val it = clusterProbeOrder(index, queryVec).iterator
    while (pool < numCandidates && it.hasNext) {
      val cid = it.next()
      picked += cid
      pool += index.sizes.getOrElse(cid, 0L)
    }
    picked.result()
  }

  /** Transparent ANN: register this index for the Catalyst rewrite rule
    * ([[org.apache.spark.sql.graftshim.IvfRewrite]]) — every subsequent
    * EXACT `orderBy(score.desc).limit(k)` over `tablePath` is narrowed to
    * an IVF probe by the optimizer, no query change needed. Pass
    * `filterSelectivity` (a measured wave-time statistic) to make the
    * rule consult the ANN planner on FILTERED top-k queries and leave the
    * filtered exact scan in place when it wins — the
    * [[graft.search.AnnPlanner.planKnn]] break-even surfaced at the plain
    * SQL/DataFrame layer. */
  def registerForRewrite(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      index: IvfIndex, idCol: String, numCandidates: Int,
      filterSelectivity: Option[Double] = None,
      stats: Option[IndexStore.CollectedFieldStats] = None): Unit = {
    org.apache.spark.sql.graftshim.IvfRewrite.install(spark)
    org.apache.spark.sql.graftshim.IvfRewrite.register(
      tablePath, index.assignments, index.centroids, index.sizes, idCol,
      numCandidates, filterSelectivity, stats)
  }

  /** ANN top-k: probe → candidate scan → exact re-rank. Same contract as
    * [[VectorSearch.knn]] plus the index and the `numCandidates` knob.
    *
    * Enforces the DDL-time index contract the way Atlas does: a probe whose
    * metric differs from the one the index was built with, or whose query
    * vector dimensionality differs from the indexed vectors', throws instead
    * of returning silently-wrong scores (`indexes.py:28-31,64`). */
  def ann(index: IvfIndex, table: DataFrame, idCol: String, embCol: String,
      queryVec: Array[Double], k: Int, numCandidates: Int,
      metric: String = "cosine", preFilter: Option[Column] = None,
      forceRoute: Boolean = false): DataFrame = {
    require(metric == index.metric,
      s"index was created with similarity '${index.metric}'; a '$metric' probe " +
        "must use a matching index (rebuild with Ivf.build(..., metric = ...))")
    require(index.dim < 0 || queryVec.length == index.dim,
      s"query vector dimension ${queryVec.length} != index numDimensions ${index.dim}")
    val probe = probeSet(index, queryVec, numCandidates)
    // exhaustive probe (numCandidates ≥ N covers every cluster) would
    // broadcast EVERY id through the member semi-join just to select the
    // whole table — skip the join entirely and run the exact scan.
    // `forceRoute = true` opts OUT of the short-circuit (the [[knnJoin]]
    // VERIFICATION pattern): the full routed plan — member semi-join,
    // preFilter placement, candidate scan — runs at a probe depth where
    // its output is provably the exact result, so an oracle can check the
    // routed plan itself (q_ann_ivf_filtered); exactness then additionally
    // needs table ids ⊆ assignments ids (trivial when the table IS the
    // indexed one).
    val probedMembers = probe.map(index.sizes.getOrElse(_, 0L)).sum
    if (!forceRoute && probedMembers == index.sizes.values.sum)
      return VectorSearch.knn(table, idCol, embCol, queryVec, k, metric, preFilter)
    val members = index.assignments
      .where(col("cluster").isin(probe: _*))
      .select(col("id").as("__ivf_id"))
    val candidates = table.join(
      broadcast(members), table(idCol) === col("__ivf_id")).drop("__ivf_id")
    VectorSearch.knn(candidates, idCol, embCol, queryVec, k, metric, preFilter)
  }

  /** Batch ANN kNN JOIN — [[VectorSearch.knnJoin]] with the corpus side
    * routed through PER-QUERY IVF cluster probes: the batch rendition of the
    * reference's `numCandidates` probe (`backend/api.py:168-180` probes
    * `numCandidates` candidates per request; here every row of the query
    * batch gets its own probe set against the same index).
    *
    * Scale shape: probing is driver-side arithmetic over the tiny centroid
    * table (bounded batch × k centroids — [[VectorSearch.requireBoundedBatch]]
    * makes an unbounded batch fail loudly instead of OOMing the driver). The
    * resulting (query_id, cluster) probe-pair table is broadcast, so the
    * corpus flows through ONCE: restrict the assignments to the union of
    * probed clusters (the [[IndexStore]] layout is cluster-partitioned, so
    * this `cluster IN (...)` partition-prunes the assignments scan), attach
    * the cluster to each surviving corpus row, then a broadcast join on
    * `cluster` fans each corpus row out to exactly the queries probing its
    * cluster. Candidate work is Σ_q (probed cluster mass) instead of
    * |corpus| × |queries|, and the only corpus-sized shuffle is the
    * corpus ⋈ assignments id join (co-partitioned away at scale by writing
    * assignments bucketed with the base table). Per-query top-k stays the
    * bounded-state [[VectorSearch.rankCandidates]] aggregation (≤ k rows per
    * map task per query reach the shuffle).
    *
    * `numCandidates ≥ N` probes every cluster and degenerates to the exact
    * [[VectorSearch.knnJoin]] result (recall 1) — the oracle-checkable mode
    * (`q_knn_join_ivf` hash-matches the exact-kNN SQL); sub-exhaustive
    * recall is asserted in IvfSpec. When every query's probe covers every
    * cluster, the assignments join is SKIPPED entirely (same short-circuit
    * as [[ann]]): the exact [[VectorSearch.knnJoin]] runs directly, so no
    * |queries| × |clusters| probe-pair table is built and the degenerate
    * contract holds for ANY corpus, indexed or not. Scores are cosine,
    * matching [[VectorSearch.knnJoin]]; the index must have been built with
    * the cosine similarity (enforced like [[ann]]'s metric contract).
    *
    * Index-coverage contract (sub-exhaustive probes only): the router is
    * the assignments table, so corpus rows whose id is NOT in
    * `index.assignments` are invisible to a probe — exactly Atlas's
    * semantics, where a document missing from the vector index can never
    * surface from `$vectorSearch`. Keep the index current with
    * [[IndexStore.appendBatchIvf]]-style upkeep; coverage is NOT verified
    * on every production call because that check is itself a corpus-sized
    * join — as expensive as the routing it would guard. It IS verified at
    * correctness-gate time: under the `graft.selfcheck` system property
    * (set by `graft.Verify`) the routed path runs [[coverageHoles]] first
    * and fails loudly on a stale index instead of silently dropping rows.
    *
    * Output: (query_id, nbr_id, sim, rank ≤ k); ids must be integral
    * (they ride the bounded-state aggregator as longs). */
  def knnJoin(index: IvfIndex, queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qEmbCol: String, cIdCol: String, cEmbCol: String,
      k: Int, numCandidates: Int, forceRoute: Boolean = false): DataFrame = {
    require(index.metric == "cosine",
      s"knnJoin scores cosine; index was created with similarity '${index.metric}' " +
        "(rebuild with Ivf.build(..., metric = \"cosine\"))")
    VectorSearch.requireBoundedBatch(queries, "Ivf.knnJoin")
    val spark = queries.sparkSession
    import spark.implicits._
    // exhaustive short-circuit, decided BEFORE collecting the batch: when
    // numCandidates covers the whole indexed mass, probeSet picks every
    // cluster for every query (its stop condition is mass-based and
    // order-independent), so routing would only rebuild the corpus — run
    // the exact join directly instead. `forceRoute = true` opts OUT of the
    // short-circuit: the VERIFICATION mode (q_knn_join_ivf) that runs the
    // full routed plan — probe pairs, assignments join, fan-out — at a
    // depth where its output is provably the exact result; exactness then
    // additionally needs corpus ids ⊆ assignments ids (see the coverage
    // contract above), which holds trivially when the corpus IS the
    // indexed table.
    if (!forceRoute && numCandidates >= index.sizes.values.sum) {
      if (index.dim >= 0) {
        // the DDL dim contract still applies on the exact path (one scan
        // of the bounded batch, not the corpus)
        val bad = queries.where(size(col(qEmbCol)) =!= index.dim).limit(1)
          .select(size(col(qEmbCol))).collect()
        require(bad.isEmpty,
          s"query vector dimension ${bad.head.getInt(0)} != index numDimensions ${index.dim}")
      }
      return VectorSearch.knnJoin(queries, corpus,
        qIdCol, qEmbCol, cIdCol, cEmbCol, k)
    }
    maybeVerifyCoverage(index, corpus, cIdCol, "Ivf.knnJoin")
    val qRows = queries
      .select(col(qIdCol).cast("long"), col(qEmbCol).cast("array<double>"))
      .collect()
    val probePairs = qRows.toSeq.flatMap { r =>
      require(!r.isNullAt(1),
        s"query ${r.getLong(0)} has a null $qEmbCol — IVF routing needs a " +
          "vector for every query row (filter nulls upstream)")
      val qv = r.getSeq[Double](1).toArray
      require(index.dim < 0 || qv.length == index.dim,
        s"query vector dimension ${qv.length} != index numDimensions ${index.dim}")
      probeSet(index, qv, numCandidates).map(cid => (r.getLong(0), cid))
    }
    routedTopK(index, qRows, corpus, cIdCol, cEmbCol, probePairs, k)
  }

  /** The routed batch plan shared by [[knnJoin]] and [[knnJoinExact]]:
    * corpus ⋈ probed-cluster members ⋈ broadcast (query, cluster) probe
    * pairs ⋈ broadcast query snapshot → bounded-state per-query top-k.
    * The joined batch is REBUILT from the same collected snapshot the
    * probes came from: a nondeterministic query source (sample, unordered
    * limit) can therefore never diverge between its probe set and its
    * joined rows, and the query subplan is evaluated once, not three
    * times (guard count + collect + broadcast re-execution). */
  private def routedTopK(index: IvfIndex,
      qRows: Array[org.apache.spark.sql.Row], corpus: DataFrame,
      cIdCol: String, cEmbCol: String, probePairs: Seq[(Long, Int)],
      k: Int): DataFrame =
    VectorSearch.topKScored(
      routedScored(index, qRows, corpus, cIdCol, cEmbCol, probePairs), k)

  /** The routed plan up to (but not including) the top-k aggregation:
    * scored (query_id, nbr_id, sim) candidate rows. Split out so
    * [[knnJoinExact]]'s final pass can union freshly routed extension
    * candidates with its already-scored pass-1 survivors before ONE
    * shared top-k. */
  private def routedScored(index: IvfIndex,
      qRows: Array[org.apache.spark.sql.Row], corpus: DataFrame,
      cIdCol: String, cEmbCol: String,
      probePairs: Seq[(Long, Int)]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val probedClusters = probePairs.map(_._2).distinct
    val q = broadcast(
      qRows.toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toDF("query_id", "__qv")
        .select(col("query_id"), col("__qv"),
          Vectors.l2norm(col("__qv")).as("__qn")))
    val c = corpus.select(col(cIdCol).cast("long").as("nbr_id"),
      col(cEmbCol).as("__cv"), Vectors.l2norm(col(cEmbCol)).as("__cn"))
    val members = index.assignments
      .where(col("cluster").isin(probedClusters: _*))
      .select(col("id").cast("long").as("nbr_id"), col("cluster"))
    val routed = c
      .join(members, "nbr_id")
      .join(broadcast(probePairs.toDF("query_id", "cluster")), "cluster")
      .join(q, "query_id")
    VectorSearch.scoreCandidates(routed)
  }

  /** Corpus ids INVISIBLE to IVF routing: rows of `corpus` whose id is
    * absent from `index.assignments` (a stale index — rows ingested after
    * the last [[IndexStore.appendBatchIvf]] upkeep, or a corpus that was
    * never the indexed table). Routing silently drops them (Atlas
    * semantics: unindexed documents never surface from `$vectorSearch`),
    * so this probe is the loud version of that contract. Cost: one
    * narrow anti-join on the id columns alone — linear in the inverted
    * file, nothing pairwise, no vector columns read. Returns at most
    * `maxReport` offending ids (empty = fully covered). */
  def coverageHoles(index: IvfIndex, corpus: DataFrame, cIdCol: String,
      maxReport: Int = 5): Seq[Long] =
    corpus.select(col(cIdCol).cast("long").as("id"))
      .join(index.assignments.select(col("id").cast("long").as("id")),
        Seq("id"), "left_anti")
      .limit(maxReport).collect().map(_.getLong(0)).toSeq

  /** The Verify-time enforcement of the index-coverage contract (the
    * same [[graft.util.SelfCheck]] opt-in as `SparkEntry.selfChecked`):
    * free on production calls, loud at the correctness gate. */
  private def maybeVerifyCoverage(index: IvfIndex, corpus: DataFrame,
      cIdCol: String, caller: String): Unit =
    if (graft.util.SelfCheck.enabled) {
      val holes = coverageHoles(index, corpus, cIdCol)
      require(holes.isEmpty,
        s"$caller: corpus rows missing from index.assignments would be " +
          s"silently invisible to routing (stale index?) — e.g. ids " +
          s"${holes.mkString(", ")}; run IndexStore.appendBatchIvf upkeep " +
          "or rebuild the index over the current corpus")
    }

  /** EXACT batch kNN join over the index with sub-exhaustive scanning —
    * [[knnJoin]]'s recall knob replaced by a ball-cover guarantee
    * (branch-and-bound over the inverted file, the classic metric-tree
    * search re-expressed as two routed Spark passes):
    *
    *  1. probe pass: each query probes its nearest clusters covering
    *     `probeMass` of the indexed mass (the [[knnJoin]] plan); the
    *     per-query kth-best similarity s_k is collected (≤ k·|batch| rows
    *     — bounded, like the probe routing itself).
    *  2. bound check (driver-side arithmetic on k doubles per cluster):
    *     a skipped cluster can hold a better neighbor only if its
    *     [[cosUpperBound]] ≥ s_k − 1e-6 (the margin covers the rounded
    *     comparison in [[VectorSearch.rankCandidates]]); only such
    *     (query, cluster) pairs are added. A query with < k pass-1 rows
    *     extends to every remaining non-empty cluster.
    *  3. final pass: the per-query top-k over pass-1's SURVIVORS (the
    *     collected ≤ k·|batch| rows, whose rounded sims are exactly what
    *     re-scoring would produce — see [[VectorSearch.scoreCandidates]])
    *     unioned with freshly routed EXTENSION candidates only. No
    *     probed-cluster row outside pass-1's top-k can re-enter (the
    *     final kth-best is ≥ pass-1's s_k, which that row already
    *     failed; a query with < k pass-1 rows keeps all of them and
    *     extends everywhere), so the pass-1 clusters are never scanned
    *     twice — when no extension fires, the final pass scans NOTHING.
    *
    * Any true top-k member x of a skipped cluster would need
    * cos(q,x) ≥ true s_k ≥ pass-1 s_k, contradicting the bound — so the
    * result EQUALS [[VectorSearch.knnJoin]] by construction at every
    * `probeMass`, while the corpus scan stays pruned to the clusters that
    * could matter. On tightly-clustered real embeddings the extension is
    * rare (bounds are far below s_k); on adversarial geometry the cost
    * degrades gracefully toward exhaustive WITHOUT ever returning an
    * approximate row — recall is a theorem here, not a tuning outcome.
    * Requires [[IvfIndex.radii]] (built by [[build]] and maintained by
    * the incremental upkeep); unknown radii disable pruning for their
    * cluster but never exactness. */
  def knnJoinExact(index: IvfIndex, queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qEmbCol: String, cIdCol: String, cEmbCol: String,
      k: Int, probeMass: Double = 0.9): DataFrame =
    knnJoinExactWithStats(index, queries, corpus,
      qIdCol, qEmbCol, cIdCol, cEmbCol, k, probeMass)._1

  /** How much work [[knnJoinExact]]'s two passes actually did — the
    * pruning receipts. `probedClusters` is the union of pass-1 probe
    * sets; `extensionPairs`/`extensionClusters` count the (query,
    * cluster) bound-check escalations (0 ⇒ the final pass scanned no
    * corpus rows at all); `nonEmptyClusters` is the denominator;
    * `extensionMass` is the SUM of extended clusters' member counts
    * across pairs — the pass-2 row-scan volume, and the numerator of the
    * batch planner's measured `extendFraction`
    * ([[graft.search.AnnPlanner.measureExtendFraction]]). */
  case class ExactJoinStats(probedClusters: Int, extensionPairs: Int,
      extensionClusters: Int, nonEmptyClusters: Int,
      extensionMass: Long = 0L)

  /** [[knnJoinExact]] plus its [[ExactJoinStats]] — pass-1 runs eagerly
    * inside this call (its kth-best drives the bound check), so the
    * returned plan alone can't show how much was pruned; the stats can.
    * Production callers can log them; specs pin them. */
  def knnJoinExactWithStats(index: IvfIndex, queries: DataFrame,
      corpus: DataFrame,
      qIdCol: String, qEmbCol: String, cIdCol: String, cEmbCol: String,
      k: Int, probeMass: Double = 0.9): (DataFrame, ExactJoinStats) = {
    require(index.metric == "cosine",
      s"knnJoinExact scores cosine; index was created with similarity '${index.metric}' " +
        "(rebuild with Ivf.build(..., metric = \"cosine\"))")
    require(probeMass > 0 && probeMass <= 1,
      s"probeMass must be in (0, 1], got $probeMass")
    VectorSearch.requireBoundedBatch(queries, "Ivf.knnJoinExact")
    maybeVerifyCoverage(index, corpus, cIdCol, "Ivf.knnJoinExact")
    val qRows = queries
      .select(col(qIdCol).cast("long"), col(qEmbCol).cast("array<double>"))
      .collect()
    val total = index.sizes.values.sum
    val initialNc =
      math.min(Int.MaxValue.toLong, math.max(k.toLong, (total * probeMass).toLong)).toInt
    val probes: Map[Long, Seq[Int]] = qRows.map { r =>
      require(!r.isNullAt(1),
        s"query ${r.getLong(0)} has a null $qEmbCol — IVF routing needs a " +
          "vector for every query row (filter nulls upstream)")
      val qv = r.getSeq[Double](1).toArray
      require(index.dim < 0 || qv.length == index.dim,
        s"query vector dimension ${qv.length} != index numDimensions ${index.dim}")
      r.getLong(0) -> probeSet(index, qv, initialNc)
    }.toMap
    val pass1Pairs = probes.toSeq.flatMap { case (qid, cids) => cids.map(qid -> _) }
    // pass-1 kth-best per query; the collect is ≤ k·|batch| rows
    val p1 = routedTopK(index, qRows, corpus, cIdCol, cEmbCol, pass1Pairs, k)
      .select(col("query_id"), col("nbr_id"), col("sim")).collect()
    val kth: Map[Long, Double] = p1.groupBy(_.getLong(0)).map { case (qid, rows) =>
      // a NaN kth-best (zero-norm query → every cosine is 0/0) must mean
      // "extend everywhere", not "extend nowhere": NaN fails every >=
      // comparison at the bound check, which would silently disable the
      // extension exactly in the degenerate case cosUpperBound's
      // qNorm==null never-prune path was built for. Under default ANSI
      // mode 0/0 already raised DIVIDE_BY_ZERO in pass-1 (loud, fine —
      // IvfSpec pins it); this collapse keeps the exactness contract for
      // non-ANSI deployments where the division quietly yields NaN
      val m = if (rows.length < k) Double.NegativeInfinity
              else rows.map(_.getDouble(2)).min
      qid -> (if (m.isNaN) Double.NegativeInfinity else m)
    }
    val nonEmpty = index.sizes.filter(_._2 > 0).keySet
    val extraPairs = qRows.toSeq.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Double](1).toArray
      var n2 = 0.0
      qv.foreach(x => n2 += x * x)
      val qNorm = if (n2 == 0) null else qv.map(_ / math.sqrt(n2))
      val sk = kth.getOrElse(qid, Double.NegativeInfinity)
      val probed = probes(qid).toSet
      (nonEmpty -- probed).toSeq
        .filter(cid => cosUpperBound(index, qNorm, cid) >= sk - 1e-6)
        .map(qid -> _)
    }
    // Final pass scans ONLY the extension clusters. Pass-1's per-query
    // top-k already carries the exact (rounded) sim of every probed-
    // cluster survivor, and no probed-cluster row OUTSIDE that top-k can
    // re-enter: the final kth-best is ≥ pass-1's s_k, which such a row
    // already failed. (A query with < k pass-1 rows keeps all of them
    // and extends to every remaining cluster, so nothing is lost there
    // either.) So union the collected survivors with freshly routed
    // extension candidates under ONE shared top-k instead of re-scanning
    // the pass-1 clusters — on clustered data extension is rare and the
    // second corpus pass touches (almost) nothing.
    val spark = corpus.sparkSession
    import spark.implicits._
    val p1Scored = p1.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toDF("query_id", "nbr_id", "sim")
    val finalScored =
      if (extraPairs.isEmpty) p1Scored
      else p1Scored.union(
        routedScored(index, qRows, corpus, cIdCol, cEmbCol, extraPairs))
    val stats = ExactJoinStats(
      probedClusters = pass1Pairs.map(_._2).distinct.size,
      extensionPairs = extraPairs.size,
      extensionClusters = extraPairs.map(_._2).distinct.size,
      nonEmptyClusters = nonEmpty.size,
      extensionMass = extraPairs.map { case (_, cid) =>
        index.sizes.getOrElse(cid, 0L) }.sum)
    (VectorSearch.topKScored(finalScored, k), stats)
  }

  /** How much corpus the range join's bound pruning skipped:
    * `candidatePairs` is the number of (query, cluster) probes that
    * survived the bound (the routed scan volume driver);
    * `candidateMass` their summed member counts (the row-scan volume —
    * vs `totalMass` × |batch| for the un-pruned scan);
    * `nonEmptyClusters` the per-query denominator. */
  case class RangeJoinStats(candidatePairs: Int, candidateMass: Long,
      nonEmptyClusters: Int, totalMass: Long)

  /** EXACT cosine RANGE join: every (query, corpus) pair with
    * cos ≥ `threshold` — the radius-search twin of [[knnJoinExact]], and
    * the retrieval primitive behind semantic eval-set decontamination and
    * SemDeDup-style semantic dedup (Abbas et al. 2023), where the
    * question is "which corpus rows are within ε of ANY probe", not
    * "the k nearest".
    *
    * One routed pass suffices (simpler than the kNN's two): the cut is a
    * CONSTANT, so the bound check needs no pass-1 kth-best — a cluster
    * can hold a qualifying member only if its [[cosUpperBound]] ≥
    * threshold − 1e-6 (margin covers [[VectorSearch.scoreCandidates]]'s
    * rounding). Any member x with cos(q,x) ≥ threshold contradicts a
    * skipped cluster's bound, so recall is exactly 1 at any geometry —
    * pruning quality degrades gracefully, correctness never (the
    * [[knnJoinExact]] theorem, minus its extension machinery). Unknown
    * radii bound at 1.0: never pruned, never unsound. The corpus scan
    * stays pruned to candidate clusters' members (cluster-partitioned
    * parquet under [[IndexStore.saveIvf]] → PartitionFilters); the query
    * side is a bounded broadcast batch ([[VectorSearch.MaxQueryBatch]]).
    * Self-pairs (query_id == nbr_id) are excluded, matching the batch
    * kNN joins. Output: (query_id, nbr_id, sim ≥ threshold). */
  def rangeJoinExact(index: IvfIndex, queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qEmbCol: String, cIdCol: String, cEmbCol: String,
      threshold: Double): DataFrame =
    rangeJoinExactWithStats(index, queries, corpus,
      qIdCol, qEmbCol, cIdCol, cEmbCol, threshold)._1

  /** [[rangeJoinExact]] plus its [[RangeJoinStats]] pruning receipts. */
  def rangeJoinExactWithStats(index: IvfIndex, queries: DataFrame,
      corpus: DataFrame, qIdCol: String, qEmbCol: String,
      cIdCol: String, cEmbCol: String, threshold: Double,
      maxPairsPerSlice: Int = MaxProbePairsPerSlice)
      : (DataFrame, RangeJoinStats) = {
    require(maxPairsPerSlice >= 1,
      s"maxPairsPerSlice must be >= 1, got $maxPairsPerSlice")
    require(index.metric == "cosine",
      s"rangeJoinExact scores cosine; index was created with similarity " +
        s"'${index.metric}' (rebuild with Ivf.build(..., metric = \"cosine\"))")
    require(threshold > -1.0 && threshold <= 1.0,
      s"cosine range threshold must be in (-1, 1], got $threshold")
    VectorSearch.requireBoundedBatch(queries, "Ivf.rangeJoinExact")
    maybeVerifyCoverage(index, corpus, cIdCol, "Ivf.rangeJoinExact")
    val qRows = queries
      .select(col(qIdCol).cast("long"), col(qEmbCol).cast("array<double>"))
      .collect()
    val nonEmpty = index.sizes.filter(_._2 > 0).keySet
    // LAZY pair stream, consumed in bounded slices (below): unlike the
    // kNN joins, whose pass-1 probe volume is capped by probeMass, the
    // range join's constant-cut bound check can survive EVERY
    // (query, cluster) pair under degenerate geometry (spread-out
    // corpus, low threshold — every bound sits near 1), and at
    // MaxQueryBatch queries that is |Q|·|clusters| tuples; materializing
    // them in one driver Seq + one broadcast is exactly how the driver
    // dies. Slicing costs nothing when pruning works (one slice = the
    // old plan) and degrades to more routed scans when it doesn't.
    val pairIt = qRows.iterator.flatMap { r =>
      require(!r.isNullAt(1),
        s"query ${r.getLong(0)} has a null $qEmbCol — IVF routing needs a " +
          "vector for every query row (filter nulls upstream)")
      val qv = r.getSeq[Double](1).toArray
      require(index.dim < 0 || qv.length == index.dim,
        s"query vector dimension ${qv.length} != index numDimensions ${index.dim}")
      var n2 = 0.0
      qv.foreach(x => n2 += x * x)
      // a zero-norm query has no direction: its cosine against every
      // corpus row is 0/0 — NaN under non-ANSI Spark, which compares
      // GREATER than any threshold, so every probed pair would be
      // SILENTLY emitted as contaminated (cosUpperBound's qNorm==null
      // never-prune path would even probe everything). Refuse loudly —
      // the [[graft.pipeline.Contamination.semanticOverlap]] eval-side
      // contract this indexed twin must honor.
      require(n2 > 0,
        s"Ivf.rangeJoinExact: query ${r.getLong(0)} has a zero-norm " +
          s"$qEmbCol — cosine range search against it is undefined; " +
          "filter zero-norm probes upstream")
      val qNorm = qv.map(_ / math.sqrt(n2))
      nonEmpty.toSeq
        .filter(cid => cosUpperBound(index, qNorm, cid) >= threshold - 1e-6)
        .map(r.getLong(0) -> _)
    }
    // zero-norm (or null) CORPUS rows report clean rather than flagged:
    // their cosine is 0/0 — NaN > threshold under non-ANSI ordering, a
    // DIVIDE_BY_ZERO raise under ANSI — the semanticOverlap train-side
    // gate, fused by codegen into the routed candidate scan.
    val cleanCorpus = corpus.where(col(cEmbCol).isNotNull &&
      Vectors.l2norm(col(cEmbCol).cast("array<double>")) > 0)
    val spark = corpus.sparkSession
    import spark.implicits._
    var nPairs = 0L
    var mass = 0L
    def scoreSlice(slice: Seq[(Long, Int)]): DataFrame = {
      nPairs += slice.size
      slice.foreach { case (_, cid) => mass += index.sizes.getOrElse(cid, 0L) }
      routedScored(index, qRows, cleanCorpus, cIdCol, cEmbCol, slice)
        .where(col("sim") >= threshold)
    }
    // slice-at-a-time EXECUTION, not just slice-at-a-time planning: the
    // one-slice normal path stays a lazy plan (zero change), but under
    // degenerate geometry each further slice is eagerly materialized
    // (localCheckpoint → executor-resident blocks of the FILTERED output)
    // and its pair list dropped before the next slice is even pulled from
    // the iterator — peak driver memory is ONE slice's pairs + broadcast,
    // never O(total pairs), which is the contract the slicing claims.
    val grouped = pairIt.grouped(maxPairsPerSlice)
    val out =
      if (!grouped.hasNext)
        Seq.empty[(Long, Long, Double)].toDF("query_id", "nbr_id", "sim")
      else {
        val first = scoreSlice(grouped.next())
        if (!grouped.hasNext) first
        else {
          val parts = Seq.newBuilder[DataFrame]
          parts += first.localCheckpoint(true)
          while (grouped.hasNext)
            parts += scoreSlice(grouped.next()).localCheckpoint(true)
          parts.result().reduce(_ unionByName _)
        }
      }
    val stats = RangeJoinStats(
      candidatePairs = math.min(nPairs, Int.MaxValue.toLong).toInt,
      candidateMass = mass,
      nonEmptyClusters = nonEmpty.size,
      totalMass = index.sizes.values.sum)
    (out, stats)
  }

  /** Max (query, cluster) probe pairs one [[rangeJoinExactWithStats]]
    * slice materializes on the driver and broadcasts into its routed
    * scan. The union of per-slice outputs is exactly the un-sliced
    * output — range-join rows are a plain per-pair threshold filter,
    * with no cross-pair aggregation a split could break — so degenerate
    * geometry degrades to more scan slices, never to driver exhaustion. */
  val MaxProbePairsPerSlice: Int = 1 << 20
}
