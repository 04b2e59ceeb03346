package graft.pipeline

import graft.functions.Text
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators (north-star additions): per-document
  * keyword extraction and sequence packing — the window-function family of
  * the engine.
  *
  * Scale shape: both operators partition their analytic windows by a real
  * key (document id / source shard), so the sort inside each window is
  * partition-local after one hash shuffle — no global single-partition
  * window (the classic `Window.orderBy`-without-partition scaling trap).
  */
object Curation {

  /** Top-k terms per document by tf-idf (idf = ln(N/df), the plain
    * variant), deterministic tie-break (tfidf DESC, term ASC):
    * (id, term, tfidf, rank ≤ k). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val n = docs.select(col(idCol)).distinct().count()
    val df = toks.groupBy("term").agg(countDistinct(col("id")).as("df"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    // No broadcast hint on the term→df table: at corpus scale the
    // vocabulary (typos, hashes, code tokens) is GB-sized and heavy-tailed —
    // forcing a broadcast would blow the driver/executor broadcast limit.
    // A shuffle join on `term` co-partitions with the tf aggregation that
    // produced `toks` (same key), and AQE is free to locally convert to
    // broadcast when the measured df side is actually small.
    toks.join(df, "term")
      .withColumn("tfidf",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("id", "term", "tfidf", "rank")
  }

  def sqlTopTerms(docsTable: String, idExpr: String, textExpr: String, k: Int): String =
    s"""WITH toks AS (
       |  SELECT $idExpr AS id, unnest(${Text.sqlTokens(textExpr)}) AS term FROM $docsTable
       |), tf AS (
       |  SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2
       |), n AS (SELECT count(DISTINCT $idExpr)::DOUBLE AS n FROM $docsTable),
       |df AS (SELECT term, count(DISTINCT id) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.id, tf.term,
       |         round(tf.tf * ln(n.n / df.df), 6) AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN n
       |), ranked AS (
       |  SELECT id, term, tfidf,
       |         row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term ASC)::INTEGER AS rank
       |  FROM scored
       |)
       |SELECT id, term, tfidf, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** RAG-style document chunking: fixed character windows with overlap.
    * Chunk i covers [i·stride, i·stride + chunkChars), stride = chunkChars
    * − overlap; the last window starts before the text ends (no empty
    * chunks); docs shorter than one chunk yield exactly one. A narrow
    * per-row explode — zero shuffle, linear at any corpus size.
    * Output: (id, chunk_idx, chunk_text, chunk_chars). */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkChars: Int, overlap: Int): DataFrame = {
    require(chunkChars > overlap && overlap >= 0, "need chunkChars > overlap >= 0")
    val stride = chunkChars - overlap
    val n = length(col(textCol))
    val numChunks = greatest(ceil((n - lit(overlap)).cast("double") / stride).cast("int"), lit(1))
    docs
      .select(col(idCol).as("id"), col(textCol).as("__t"),
        explode(sequence(lit(0), numChunks - 1)).as("chunk_idx"))
      .select(col("id"), col("chunk_idx"),
        col("__t").substr(col("chunk_idx") * stride + 1, lit(chunkChars)).as("chunk_text"))
      .withColumn("chunk_chars", length(col("chunk_text")))
  }

  def sqlChunkDocuments(docsTable: String, idExpr: String, textExpr: String,
      chunkChars: Int, overlap: Int): String = {
    val stride = chunkChars - overlap
    // unnest(generate_series(...)) derives the series length from each
    // row's text — no fixed chunk cap, so an arbitrarily long document
    // chunks identically to the Spark side's sequence() explode
    s"""SELECT id, i::INTEGER AS chunk_idx,
       |       substr(t, i * $stride + 1, $chunkChars) AS chunk_text,
       |       length(substr(t, i * $stride + 1, $chunkChars))::INTEGER AS chunk_chars
       |FROM (
       |  SELECT id, t,
       |         unnest(generate_series(0, greatest(ceil((length(t) - $overlap)::DOUBLE / $stride)::INT, 1) - 1)) AS i
       |  FROM (SELECT $idExpr AS id, $textExpr AS t FROM $docsTable)
       |)""".stripMargin
  }

  /** Default chunk-index width for [[packChunkId]]: 2^20 ≈ 1M chunks/doc
    * (a ~167 MB document at the 160-char stride) before the pack guard
    * trips — far past any real document, loud when exceeded. */
  val ChunkIdxBits = 20

  /** Collision-free packing of a (doc id, chunk idx) pair into one long:
    * `id << idxBits | chunk_idx`. Packing instead of a composite key keeps
    * downstream dedup/group keys a single fixed-width column (one narrow
    * shuffle key), but a silent overflow would alias chunks ACROSS
    * documents — so both coordinates are range-guarded with a distributed
    * `raise_error` (no extra action, fails the task loudly) rather than a
    * driver-side check that would need its own pass over the data. */
  def packChunkId(id: Column, chunkIdx: Column, idxBits: Int = ChunkIdxBits): Column = {
    val mult = 1L << idxBits
    val idMax = 1L << (63 - idxBits)
    when(chunkIdx >= 0 && chunkIdx < mult && id >= 0 && id < idMax,
        id.cast("long") * mult + chunkIdx.cast("long"))
      .otherwise(raise_error(format_string(
        s"(id, chunk_idx) (%s, %s) overflows the 2^$idxBits chunk-id packing",
        id.cast("string"), chunkIdx.cast("string"))))
  }

  /** Training-text cleaning: lowercase, scrub URL-ish and email-ish spans
    * to a placeholder, strip non [a-z0-9 .,!?] chars, collapse whitespace,
    * trim. Frozen regexes, shared with the oracle. */
  val UrlRe = "https?://[^\\s]+"
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  def cleanText(text: Column): Column = {
    val lowered = lower(text)
    val scrubbed = regexp_replace(regexp_replace(lowered, UrlRe, "<url>"), EmailRe, "<email>")
    val stripped = regexp_replace(scrubbed, "[^a-z0-9 .,!?<>]", " ")
    trim(regexp_replace(stripped, "\\s+", " "))
  }

  def sqlCleanText(expr: String): String =
    s"""trim(regexp_replace(
       |  regexp_replace(
       |    regexp_replace(
       |      regexp_replace(lower($expr), '$UrlRe', '<url>', 'g'),
       |      '$EmailRe', '<email>', 'g'),
       |    '[^a-z0-9 .,!?<>]', ' ', 'g'),
       |  '\\s+', ' ', 'g'))""".stripMargin.replace("\n", "")

  /** Deterministic stratified sampling for corpus rebalancing: a row
    * survives iff hash60(id) mod 1000 < permille(stratum). Reproducible
    * across runs/partitionings (pure function of the id — no RNG, no
    * `sample()` seed sensitivity), exact-SQL-expressible, and the sample
    * is stable under corpus growth (adding rows never evicts old ones).
    * Rates per stratum value, with a default for unlisted strata. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      permille: Map[String, Int], defaultPermille: Int): DataFrame = {
    val rate = permille.foldLeft(lit(defaultPermille)) { case (acc, (value, p)) =>
      when(col(stratumCol) === value, lit(p)).otherwise(acc)
    }
    df.where(pmod(Text.hash60(col(idCol).cast("string")), lit(1000L)) < rate)
  }

  def sqlStratifiedSample(docsTable: String, stratumExpr: String, idExpr: String,
      permille: Map[String, Int], defaultPermille: Int): String = {
    val cases = permille.toSeq.sortBy(_._1)
      .map { case (v, p) => s"WHEN $stratumExpr = '$v' THEN $p" }.mkString(" ")
    s"""SELECT * FROM $docsTable
       |WHERE ${Text.sqlHash60(s"($idExpr)::VARCHAR")} % 1000
       |      < (CASE $cases ELSE $defaultPermille END)""".stripMargin
  }

  /** Deterministic train/val/test corpus split: bucket = hash60(id ∥ salt)
    * mod 1000; [0, trainPermille) → train, [trainPermille,
    * trainPermille+valPermille) → val, rest → test. Same reproducibility
    * contract as [[stratifiedSample]]: a pure function of the id — stable
    * across runs, partitionings and corpus growth (a document never
    * changes split when new data arrives — the property that keeps eval
    * sets uncontaminated over time). Zero shuffle: one codegen'd
    * projection. Output: input columns + (bucket, split). */
  def splitCorpus(df: DataFrame, idCol: String, trainPermille: Int,
      valPermille: Int, salt: String = "graft-split"): DataFrame = {
    require(trainPermille >= 0 && valPermille >= 0 &&
      trainPermille + valPermille <= 1000, "permilles must fit in 1000")
    val bucket = pmod(Text.hash60(concat(col(idCol).cast("string"), lit(":" + salt))), lit(1000L))
    df.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPermille, "train")
          .when(col("bucket") < trainPermille + valPermille, "val")
          .otherwise("test"))
  }

  def sqlSplitCorpus(docsTable: String, idExpr: String, trainPermille: Int,
      valPermille: Int, salt: String = "graft-split"): String =
    s"""SELECT *,
       |       ${Text.sqlHash60(s"(($idExpr)::VARCHAR || ':$salt')")} % 1000 AS bucket,
       |       CASE WHEN ${Text.sqlHash60(s"(($idExpr)::VARCHAR || ':$salt')")} % 1000 < $trainPermille THEN 'train'
       |            WHEN ${Text.sqlHash60(s"(($idExpr)::VARCHAR || ':$salt')")} % 1000 < ${trainPermille + valPermille} THEN 'val'
       |            ELSE 'test' END AS split
       |FROM $docsTable""".stripMargin

  /** Snapshot delta between two corpus versions — the operator a daily
    * re-crawled corpus needs so downstream stages (re-embed, re-index,
    * re-dedup) process the DELTA, not the world: (id, status) with
    * status ∈ added | removed | changed | unchanged.
    *
    * Scale shape: presence is a `lit(true)` marker per side (never
    * "text IS NULL" — a PRESENT row with a null document must read as
    * unchanged/changed, not as an add), and content equality compares
    * 60-bit text hashes, so the full-outer id-keyed join ships 9 bytes
    * per row instead of documents. A colliding changed pair reads as
    * unchanged w.p. 2⁻⁶⁰ per id — the standard content-hash delta
    * trade, stated here rather than hidden. Null-safe: a null text
    * hashes to null and null <=> null is true on both engines. `idCol`
    * must be unique per side (the corpus invariant every id-keyed
    * operator here assumes) — duplicate ids would multiply through the
    * full-outer join. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).as("id"),
      Text.hash60(col(textCol)).as("__oh"), lit(true).as("__in_old"))
    val n = newDocs.select(col(idCol).as("id"),
      Text.hash60(col(textCol)).as("__nh"), lit(true).as("__in_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(col("__oh") <=> col("__nh"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** SQL twin of [[corpusDiff]] (DuckDB): `oldTable`/`newTable` may be
    * subqueries; IS NOT DISTINCT FROM mirrors Spark's <=>. */
  def sqlCorpusDiff(oldTable: String, newTable: String, idExpr: String,
      textExpr: String): String =
    s"""SELECT coalesce(o.id, n.id) AS id,
       |       CASE WHEN o.present IS NULL THEN 'added'
       |            WHEN n.present IS NULL THEN 'removed'
       |            WHEN o.h IS NOT DISTINCT FROM n.h THEN 'unchanged'
       |            ELSE 'changed' END AS status
       |FROM (SELECT $idExpr AS id, ${Text.sqlHash60(textExpr)} AS h, true AS present
       |      FROM $oldTable) o
       |FULL OUTER JOIN
       |     (SELECT $idExpr AS id, ${Text.sqlHash60(textExpr)} AS h, true AS present
       |      FROM $newTable) n
       |  ON o.id = n.id""".stripMargin

  /** Per-label diversity sampling for training-mix construction: within
    * each label, keep the k vectors FARTHEST from the label centroid
    * (farthest-first = the spread/edge examples; rank 1 = farthest;
    * dist DESC, id ASC tie-break). The coreset-flavored counterpart of
    * [[stratifiedSample]]: rates pick how MUCH of each stratum, this picks
    * WHICH examples carry the most geometric diversity.
    *
    * Scale shape: centroids via posexplode + avg by (label, dim) — the
    * [[graft.queries.PipelineQueries]] q_label_centroid shape, map-side combinable;
    * distances via one equi-join on (label, dim) over the exploded
    * components (work ∝ vectors × dims); the rank window partitions by
    * label. Centroids are ROUNDED to 6 decimals before the distance so
    * both engines feed bit-identical c into Σ(x−c)² (avg over doubles is
    * summation-order-sensitive at the last ULP).
    * Output: (label, id, dist, rank ≤ k). */
  def diversitySample(embs: DataFrame, idCol: String, embCol: String,
      labelCol: String, k: Int): DataFrame = {
    val comps = embs.select(col(labelCol).as("label"), col(idCol).as("id"),
      posexplode(col(embCol)).as(Seq("dim", "x")))
    val cents = comps.groupBy("label", "dim")
      .agg(round(avg(col("x")), 6).as("c"))
    val dists = comps.join(cents, Seq("label", "dim"))
      .groupBy("label", "id")
      .agg(round(sqrt(sum(pow(col("x") - col("c"), lit(2)))), 6).as("dist"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist").desc, col("id").asc)
    dists.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("label", "id", "dist", "rank")
  }

  def sqlDiversitySample(embsTable: String, idExpr: String, embExpr: String,
      labelExpr: String, k: Int): String =
    s"""WITH comps AS (
       |  SELECT $labelExpr AS label, $idExpr AS id,
       |         unnest(range(len($embExpr))) AS dim,
       |         unnest($embExpr::DOUBLE[]) AS x
       |  FROM $embsTable
       |), cents AS (
       |  SELECT label, dim, round(avg(x), 6) AS c FROM comps GROUP BY 1, 2
       |), dists AS (
       |  SELECT label, id, round(sqrt(sum(pow(x - c, 2))), 6) AS dist
       |  FROM comps JOIN cents USING (label, dim)
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT label, id, dist,
       |         row_number() OVER (PARTITION BY label
       |                            ORDER BY dist DESC, id ASC)::INTEGER AS rank
       |  FROM dists
       |)
       |SELECT label, id, dist, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** The composed curation gate every training pipeline runs per document:
    * token-length window, quality floor ([[TextAnalysis.qualityPpm]] — the
    * integer ppm score, hash-stable), language whitelist
    * ([[TextAnalysis.langId]]). First failing rule names the drop reason
    * (checked in a fixed order so the reason is deterministic); empty
    * reason = kept. One codegen'd projection, zero shuffle, linear at any
    * corpus size. Output: (id, n_tokens, quality_ppm, lang, drop_reason,
    * keep). */
  def qualityFilter(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int, maxTokens: Int, minQualityPpm: Long,
      langs: Seq[String]): DataFrame = {
    val reason = when(col("n_tokens") < minTokens, "too_short")
      .when(col("n_tokens") > maxTokens, "too_long")
      .when(col("quality_ppm") < minQualityPpm, "low_quality")
      .when(!col("lang").isInCollection(langs), "wrong_lang")
      .otherwise("")
    // tokenize ONCE per row, then count every metric's token sets in ONE
    // generated pass (TokenSetStats): both stages are attributes, so
    // nothing is re-evaluated per metric — the HOF filter/argmax
    // formulation re-walked the array per metric through the lambda
    // interpreter
    docs.select(col(idCol).as("id"), col(textCol).as("__text"))
      .withColumn("__toks", graft.functions.Text.tokens(col("__text")))
      .withColumn("__stats", TextAnalysis.gateStats(col("__toks")))
      .select(col("id"),
        TextAnalysis.wsTokenCount(col("__text")).cast("long").as("n_tokens"),
        TextAnalysis.qualityPpmFromGateStats(col("__text"), col("__stats")).as("quality_ppm"),
        TextAnalysis.langIdFromGateStats(col("__stats")).as("lang"))
      .withColumn("drop_reason", reason)
      .withColumn("keep", col("drop_reason") === "")
  }

  def sqlQualityFilter(docsTable: String, idExpr: String, textExpr: String,
      minTokens: Int, maxTokens: Int, minQualityPpm: Long,
      langs: Seq[String]): String = {
    val langList = langs.map(l => s"'$l'").mkString(", ")
    s"""WITH scored AS (
       |  SELECT $idExpr AS id,
       |         ${TextAnalysis.sqlWsTokenCount(textExpr)}::BIGINT AS n_tokens,
       |         ${TextAnalysis.sqlQualityPpm(textExpr)} AS quality_ppm,
       |         ${TextAnalysis.sqlLangId(textExpr)} AS lang
       |  FROM $docsTable
       |)
       |SELECT id, n_tokens, quality_ppm, lang,
       |       CASE WHEN n_tokens < $minTokens THEN 'too_short'
       |            WHEN n_tokens > $maxTokens THEN 'too_long'
       |            WHEN quality_ppm < $minQualityPpm THEN 'low_quality'
       |            WHEN lang NOT IN ($langList) THEN 'wrong_lang'
       |            ELSE '' END AS drop_reason,
       |       CASE WHEN n_tokens < $minTokens THEN false
       |            WHEN n_tokens > $maxTokens THEN false
       |            WHEN quality_ppm < $minQualityPpm THEN false
       |            WHEN lang NOT IN ($langList) THEN false
       |            ELSE true END AS keep
       |FROM scored""".stripMargin
  }

  /** Greedy sequential sequence packing for LLM training batches: within
    * each `groupCol` shard, documents (ordered by id) are appended to the
    * current sequence until the token budget is crossed; a document is
    * never split — it belongs to the sequence its first token lands in
    * (exclusive running sum ÷ budget).
    * Output: (group, id, n_tokens, seq_id, seq_offset). */
  def packSequences(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, tokenBudget: Int): DataFrame = {
    val w = Window.partitionBy(col("group")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(groupCol).as("group"), col(idCol).as("id"),
        TextAnalysis.wsTokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("cum_excl", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("group"), col("id"), col("n_tokens"),
        floor(col("cum_excl") / tokenBudget).as("seq_id"),
        pmod(col("cum_excl"), lit(tokenBudget.toLong)).as("seq_offset"))
  }

  def sqlPackSequences(docsTable: String, groupExpr: String, idExpr: String,
      textExpr: String, tokenBudget: Int): String =
    s"""WITH sized AS (
       |  SELECT $groupExpr AS "group", $idExpr AS id,
       |         ${TextAnalysis.sqlWsTokenCount(textExpr)}::BIGINT AS n_tokens
       |  FROM $docsTable
       |), packed AS (
       |  SELECT "group", id, n_tokens,
       |         sum(n_tokens) OVER (PARTITION BY "group" ORDER BY id
       |                             ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_excl
       |  FROM sized
       |)
       |SELECT "group", id, n_tokens,
       |       (cum_excl // $tokenBudget)::BIGINT AS seq_id,
       |       (cum_excl % $tokenBudget)::BIGINT AS seq_offset
       |FROM packed""".stripMargin

  /** Training-shard EXPORT — the last mile of the pipeline: pack documents
    * into fixed-token-budget sequences ([[packSequences]]) and write them
    * as a shard-partitioned parquet layout a training loader streams
    * shard-by-shard, plus a manifest.
    *
    * Layout under `path`:
    *   - `shards/group=<g>/` — one partition dir per source shard, rows
    *     (id, text, n_tokens, seq_id, seq_offset) sorted WITHIN each file
    *     by (seq_id, seq_offset) via `sortWithinPartitions` — a loader
    *     reads sequences in order with zero post-sorting;
    *   - `manifest/` — one row per (group, seq_id): n_docs, n_tokens —
    *     the loader's index, and the integrity check (Σ manifest tokens ==
    *     Σ shard tokens, asserted in CurationSpec).
    *
    * Scale shape: one packSequences pass (group-partitioned running-sum
    * window), one `partitionBy("group")` write (files ∝ groups × tasks),
    * and a map-side-combinable manifest aggregation. Overwrite semantics —
    * the export is a derived artifact, rebuilt wholesale (S3/S7 lifecycle,
    * like every [[graft.index.IndexStore]] base build). Returns the
    * manifest for convenience. */
  def exportPackedShards(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, tokenBudget: Int, path: String): DataFrame = {
    val spark = docs.sparkSession
    val packed = packSequences(docs, groupCol, idCol, textCol, tokenBudget)
      .join(docs.select(col(idCol).as("id"), col(textCol).as("text")), "id")
    packed
      .repartition(col("group"))
      .sortWithinPartitions("seq_id", "seq_offset")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("group")
      .parquet(s"$path/shards")
    // manifest from the MATERIALIZED shards (a pruned id-free read), not
    // from re-evaluating the packing window + corpus join a second time —
    // which also makes manifest ≡ shards true by construction
    spark.read.parquet(s"$path/shards")
      .groupBy("group", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/manifest")
    spark.read.parquet(s"$path/manifest")
  }

  /** Durable corpus-intake ledger — the production rendition of
    * PipelineQueries' `q_intake_pipeline` (quality gate → exact dedup among the
    * quality survivors → benchmark decontamination of the dedup survivors →
    * hash-stable split), with each gate's verdict PERSISTED as parquet under
    * `path/{quality,dedup,contam,splits}` instead of in-session
    * `localCheckpoint`s.
    *
    * Restartable at every crash point, IndexStore-style: a gate directory's
    * `_SUCCESS` marker (written last by the Hadoop commit protocol) is the
    * commit record — a run that died mid-gate rewrites that gate wholesale
    * (Overwrite over a markerless dir) and SKIPS every gate already
    * committed, so a retry resumes from the crash instead of recomputing
    * the cascade. The persisted verdicts double as the audit trail a
    * production intake keeps anyway (why was doc X dropped, and at which
    * gate?). Each downstream gate reads its predecessor's parquet, so the
    * in-session multi-branch re-execution problem the localCheckpoints
    * solved disappears by construction.
    *
    * A gate is only trusted as committed when its stored RUN FINGERPRINT
    * matches this invocation's: the fingerprint (written to
    * `_GRAFT_FINGERPRINT` after the gate's `_SUCCESS`) hashes the
    * canonicalized logical plans of `docs`/`evalDocs` plus every threshold
    * parameter, so resuming the same path with different inputs or config
    * FAILS LOUDLY instead of silently serving stale verdicts (the repo's
    * misuse standard). Plan-level fingerprinting is metadata-only — no extra
    * corpus scan — and catches changed source paths/schemas/filters and
    * changed parameters; it deliberately does NOT catch files mutated
    * in-place under an identical source path (parquet inputs are immutable
    * in the intake contract, as everywhere else in [[graft.index.IndexStore]]).
    * A gate with `_SUCCESS` but no fingerprint (crash between the two
    * writes, or a pre-fingerprint layout) is treated as uncommitted and
    * recomputed wholesale — safe, because gates are Overwrite.
    *
    * Returns the same per-document decision ledger as `q_intake_pipeline`:
    * (id, keep_quality, keep_dedup, contaminated, split, final_keep). */
  def intakeLedger(docs: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, path: String, minTokens: Int, maxTokens: Int,
      minQualityPpm: Long, langs: Seq[String],
      trainPermille: Int = 800, valPermille: Int = 100): DataFrame = {
    import graft.dedup.Dedup
    import org.apache.hadoop.fs.Path
    val spark = docs.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val runFp = {
      val material = Seq(
        docs.queryExecution.analyzed.canonicalized.toString,
        evalDocs.queryExecution.analyzed.canonicalized.toString,
        idCol, textCol, minTokens, maxTokens, minQualityPpm,
        langs.mkString(","), trainPermille, valPermille).mkString("\u0000")
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(material.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def readSmall(p: Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    def gate(sub: String)(compute: => DataFrame): DataFrame = {
      val dir = s"$path/$sub"
      val fpPath = new Path(s"$dir/_GRAFT_FINGERPRINT")
      val committed = fs.exists(new Path(s"$dir/_SUCCESS")) && fs.exists(fpPath)
      if (committed) {
        val stored = readSmall(fpPath)
        if (stored != runFp) throw new IllegalStateException(
          s"intakeLedger gate '$sub' at $dir was committed by a run with " +
            s"different inputs/parameters (stored fingerprint $stored != " +
            s"this run's $runFp). Refusing to serve stale verdicts — use a " +
            "fresh path, or delete the gate directories to recompute.")
      } else {
        compute.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
        val out = fs.create(fpPath, true)
        try out.write((runFp + "\n").getBytes("UTF-8")) finally out.close()
      }
      spark.read.parquet(dir)
    }
    val quality = gate("quality") {
      qualityFilter(docs, idCol, textCol, minTokens, maxTokens,
          minQualityPpm, langs)
        .select(col("id"), col("keep").as("keep_quality"))
    }
    val kept = docs.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(quality.where(col("keep_quality")).select("id"), "id")
    val dedup = gate("dedup") {
      Dedup.exact(kept, "id", "__text")
        .select(col("id"), col("keep").as("keep_dedup"))
    }
    val survivors = kept.join(
      dedup.where(col("keep_dedup")).select("id"), "id")
    val contam = gate("contam") {
      Contamination.ngramOverlap(survivors,
          evalDocs.select(col(idCol).as("id"), col(textCol).as("__text")),
          "id", "__text")
        .select(col("id"), col("contaminated"))
    }
    val splits = gate("splits") {
      splitCorpus(docs.select(col(idCol).as("id")), "id",
          trainPermille, valPermille)
        .select("id", "split")
    }
    docs.select(col(idCol).as("id"))
      .join(quality, Seq("id"), "left")
      .join(dedup, Seq("id"), "left")
      .join(contam, Seq("id"), "left")
      .join(splits, Seq("id"), "left")
      .select(col("id"),
        col("keep_quality"),
        coalesce(col("keep_dedup"), lit(false)).as("keep_dedup"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"),
        col("split"),
        (col("keep_quality") && coalesce(col("keep_dedup"), lit(false)) &&
          !coalesce(col("contaminated"), lit(false))).as("final_keep"))
  }

  // ------------------------------------------------------------- source mix

  /** Temperature-weighted source mixing — the "data mixing" step of a
    * pretraining pipeline: given a corpus with a `source` column, sample
    * each source at a rate that FLATTENS the natural source distribution
    * toward a √-temperature target (α = 0.5, the multilingual-sampling
    * convention) under a global token budget, deterministically.
    *
    * Math: with per-source token mass n_s and budget B =
    * ⌊N·budgetPermille/1000⌋ tokens, the target share of source s is
    * q_s = √n_s / Σ_t √n_t, and its per-document acceptance rate is
    * r_s = min(1, q_s·B / n_s) — big sources are downsampled hard, small
    * sources kept (near-)whole. A document is kept iff
    * hash(id:salt) mod 10⁶ < r_s·10⁶ — the same pure-id-hash device as
    * [[splitCorpus]]: no RNG, reproducible across runs and partitionings,
    * and a document's verdict is stable as OTHER sources grow.
    *
    * Cross-engine determinism (the oracle contract): √n_s is snapped to
    * integer micro-units w_s = ⌊√n_s · 10⁶⌋ BEFORE summing, so W = Σ w_s is
    * exact integer arithmetic (a sum of raw doubles is
    * summation-order-sensitive at the last ULP — enough to flip a floor on
    * another engine). The acceptance test is then evaluated WITHOUT
    * division: keep ⇔ hash_ppm·W·n_s < w_s·B·10⁶, all integer products —
    * Spark decimal(38,0) / DuckDB HUGEINT. Headroom: at 100 TB
    * (n_s ≤ 2.5·10¹³ tokens, ≤ ~10⁴ sources) the largest product is
    * ~10³⁶ < 10³⁸. ⌊√n·10⁶⌋ itself is safe because IEEE sqrt and multiply
    * are correctly rounded — both engines see bit-identical doubles.
    *
    * Scale shape: two corpus scans (per-source stats, then the acceptance
    * filter — inherent, since rates depend on global stats), both narrow;
    * the per-source stats groupBy is map-side combinable into ≤ |sources|
    * rows; the rates table broadcasts. No corpus-sized shuffle anywhere.
    *
    * Output (one row per source, the mixing report):
    * (source, n_docs, n_tokens, docs_kept, tokens_kept). */
  def mixSources(docs: DataFrame, idCol: String, sourceCol: String,
      textCol: String, budgetPermille: Int,
      salt: String = "graft-mix"): DataFrame = {
    require(budgetPermille >= 0 && budgetPermille <= 1000,
      s"budgetPermille must be in [0, 1000], got $budgetPermille")
    val dec = "decimal(38,0)"
    val tok = docs.select(col(idCol).as("id"), col(sourceCol).as("source"),
      size(Text.tokens(col(textCol))).cast("long").as("n_tok"))
    val src = tok.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_s"))
      .withColumn("w_s", floor(sqrt(col("n_s").cast("double")) * 1e6).cast("long"))
    // global totals: ≤ |sources| rows reduced to one — driver-trivial
    val tot = src.agg(sum("n_s").as("n_total"), sum("w_s").as("w_total"))
    val rates = src.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"n_total * $budgetPermille DIV 1000"))
    val hashPpm = pmod(
      Text.hash60(concat(col("id").cast("string"), lit(":" + salt))),
      lit(1000000L))
    val kept = tok.join(broadcast(rates), "source")
      .where(hashPpm.cast(dec) * col("w_total").cast(dec) * col("n_s").cast(dec) <
        col("w_s").cast(dec) * col("budget").cast(dec) * lit(1000000L).cast(dec))
      .groupBy("source")
      .agg(count(lit(1)).as("docs_kept"), sum("n_tok").as("tokens_kept"))
    src.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_s").as("n_tokens"),
        coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
  }

  // ---------------------------------------------------------- quality tiers

  /** Quality-tier binning for curriculum/mixing decisions: assign each
    * document a quantile tier (1 = best) of [[TextAnalysis.qualityPpm]]
    * WITHIN its stratum (language/source), via `ntile`.
    *
    * Scale shape — the window is partitioned by (stratum, SHARD), not by
    * stratum alone: a per-stratum ntile would sort one stratum's entire
    * corpus inside single window partitions (the global-window scaling
    * trap this repo pins against in CurationSpec). The shard is an id-hash
    * bucket, so shard membership is random w.r.t. quality; each shard's
    * ntile is an independent sample estimate of the stratum's quantile
    * boundaries, and per-shard tiers converge to stratum tiers at shard
    * sizes ≫ tiers (standard sharded-quantile design). Window partitions
    * are corpus/shards-bounded; `shards` tunes memory, not semantics-at-
    * scale. Deterministic: ntile over (ppm DESC, id ASC) total order,
    * shard from [[graft.functions.Text.hash60]] — reproducible across
    * runs, partitionings, and engines.
    *
    * Output: (id, stratum, shard, q_ppm, tier ∈ [1, tiers]). */
  def qualityTiers(docs: DataFrame, idCol: String, textCol: String,
      stratumCol: String, tiers: Int, shards: Int = 64,
      salt: String = "graft-tier"): DataFrame = {
    require(tiers >= 1, s"tiers must be >= 1, got $tiers")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val w = Window.partitionBy(col("stratum"), col("shard"))
      .orderBy(col("q_ppm").desc, col("id").asc)
    docs.select(col(idCol).as("id"), col(stratumCol).as("stratum"),
        pmod(Text.hash60(concat(col(idCol).cast("string"), lit(":" + salt))),
          lit(shards.toLong)).as("shard"),
        TextAnalysis.qualityPpm(col(textCol)).as("q_ppm"))
      .withColumn("tier", ntile(tiers).over(w))
  }

  /** DuckDB rendition of [[qualityTiers]]. */
  def sqlQualityTiers(docsTable: String, idExpr: String, textExpr: String,
      stratumExpr: String, tiers: Int, shards: Int = 64,
      salt: String = "graft-tier"): String =
    s"""SELECT id, stratum, shard, q_ppm,
       |       ntile($tiers) OVER (PARTITION BY stratum, shard
       |                           ORDER BY q_ppm DESC, id ASC)::INTEGER AS tier
       |FROM (
       |  SELECT $idExpr AS id, $stratumExpr AS stratum,
       |         ${Text.sqlHash60(s"(($idExpr)::VARCHAR || ':$salt')")} % $shards AS shard,
       |         ${TextAnalysis.sqlQualityPpm(textExpr)} AS q_ppm
       |  FROM $docsTable
       |)""".stripMargin

  /** DuckDB rendition of [[mixSources]] (same snapped-√ weights, same
    * division-free HUGEINT acceptance test). */
  def sqlMixSources(docsTable: String, idExpr: String, sourceExpr: String,
      textExpr: String, budgetPermille: Int,
      salt: String = "graft-mix"): String = {
    // evaluated inside the `kept` CTE, where the id is aliased `t.id`
    val hashPpm = Text.sqlHash60(s"((t.id)::VARCHAR || ':$salt')") + " % 1000000"
    s"""WITH tok AS (
       |  SELECT $idExpr AS id, $sourceExpr AS source,
       |         len(${Text.sqlTokens(textExpr)})::BIGINT AS n_tok
       |  FROM $docsTable
       |), src AS (
       |  SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_s,
       |         CAST(floor(sqrt(n_s::DOUBLE) * 1e6) AS BIGINT) AS w_s
       |  FROM tok GROUP BY source
       |), tot AS (
       |  SELECT sum(n_s)::BIGINT AS n_total, sum(w_s)::BIGINT AS w_total FROM src
       |), rates AS (
       |  SELECT src.*, tot.w_total, tot.n_total * $budgetPermille // 1000 AS budget
       |  FROM src CROSS JOIN tot
       |), kept AS (
       |  SELECT t.source, count(*)::BIGINT AS docs_kept,
       |         sum(t.n_tok)::BIGINT AS tokens_kept
       |  FROM tok t JOIN rates r USING (source)
       |  WHERE ($hashPpm)::HUGEINT * r.w_total::HUGEINT * r.n_s::HUGEINT
       |        < r.w_s::HUGEINT * r.budget::HUGEINT * 1000000::HUGEINT
       |  GROUP BY t.source
       |)
       |SELECT src.source, src.n_docs, src.n_s AS n_tokens,
       |       coalesce(kept.docs_kept, 0)::BIGINT AS docs_kept,
       |       coalesce(kept.tokens_kept, 0)::BIGINT AS tokens_kept
       |FROM src LEFT JOIN kept USING (source)""".stripMargin
  }
}
