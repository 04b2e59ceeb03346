package graft
package queries

import graft.multimodal.Multimodal
import graft.queries.Shared._
import graft.search.VectorSearch
import graft.util.Tables
import org.apache.spark.sql.functions._

/** Multimodal queries: image/audio/video decode, features and kNN. */
private[graft] object MultimodalQueries {

  /** North-star multimodal plumbing: binary payload column → batched
    * partition-local decode (stubbed codec) → byte-level features. The
    * oracle recomputes the same features character-wise (the corpus is
    * pure ASCII, so chars ≡ bytes). */
  val qMultimodal = Query("q_multimodal",
      """WITH chars AS (
        |  SELECT doc_id, list_transform(string_split(text, ''), c -> ord(c)) AS cs
        |  FROM documents
        |)
        |SELECT doc_id AS asset_id,
        |       len(cs)::BIGINT AS n_bytes,
        |       coalesce(round(list_avg(cs), 6), 0.0) AS mean_byte,
        |       len(list_filter(cs, c -> c // 64 = 0))::BIGINT AS h0,
        |       len(list_filter(cs, c -> c // 64 = 1))::BIGINT AS h1,
        |       len(list_filter(cs, c -> c // 64 = 2))::BIGINT AS h2,
        |       len(list_filter(cs, c -> c // 64 = 3))::BIGINT AS h3
        |FROM chars ORDER BY asset_id""".stripMargin)((spark, dir) =>
    Multimodal.imageFeatures(
        Multimodal.assetsFromDocuments(Tables.documents(spark, dir), "doc_id", "text"))
      .toDF()
      .orderBy("asset_id"))

  /** REAL image decode under the gate ([[Multimodal.decodeImageStats]]
    * via JDK ImageIO): one planted PNG per document — dims and every
    * pixel a pure function of doc_id ([[Multimodal.plantedImageAssets]])
    * — is encoded and decoded THROUGH A REAL CODEC on executors, and the
    * oracle recomputes the decoded per-channel sums from the
    * construction arithmetic alone (generate_series over the pixel
    * grid). A codec that lied about dimensions, channel order, or any
    * pixel value hash-mismatches. Narrow typed maps end to end — zero
    * shuffle; at 100 TB each executor decodes its own splits. */
  val qMultimodalDecode = Query("q_multimodal_decode",
      // the REAL-codec gate: expected decode output recomputed from the
      // planted construction arithmetic (w = 3+id%4, h = 2+id%3,
      // r=(id+x)%256, g=(id+y)%256, b=(id+x*y)%256) — no image library on
      // the oracle side at all, which is the point: the codec's output
      // must equal pure arithmetic
      """WITH dims AS (
        |  SELECT doc_id, 3 + doc_id % 4 AS w, 2 + doc_id % 3 AS h
        |  FROM documents
        |), xs AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x
        |  FROM dims
        |), px AS (
        |  SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
        |  FROM xs
        |)
        |SELECT doc_id, any_value(w)::BIGINT AS width,
        |       any_value(h)::BIGINT AS height,
        |       sum((doc_id + x) % 256)::BIGINT AS sum_r,
        |       sum((doc_id + y) % 256)::BIGINT AS sum_g,
        |       sum((doc_id + x * y) % 256)::BIGINT AS sum_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin)((spark, dir) =>
    Multimodal.imageStats(
        Multimodal.plantedImageAssets(Tables.documents(spark, dir),
          "doc_id"))
      .toDF()
      .withColumnRenamed("asset_id", "doc_id")
      .orderBy("doc_id"))

  /** REAL audio decode under the gate ([[Multimodal.decodeWavStats]] via
    * JDK javax.sound): one planted mono 16-bit WAV per document — frame
    * count and every PCM sample a pure function of doc_id
    * ([[Multimodal.plantedAudioAssets]]) — encoded and decoded through a
    * real container parser on executors; the oracle recomputes the exact
    * integer sample sum from the construction arithmetic. */
  val qMultimodalAudio = Query("q_multimodal_audio",
      // the real-audio-codec gate: expected decode output recomputed from
      // the planted construction arithmetic (n = 20+id%16,
      // sample(i) = (id*37 + i*11) % 4001 - 2000) — lossless PCM, so the
      // container parser's output must equal pure arithmetic
      """WITH dims AS (
        |  SELECT doc_id, 20 + doc_id % 16 AS n FROM documents
        |), sm AS (
        |  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
        |  FROM dims
        |)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(1 AS BIGINT) AS channels,
        |       any_value(n)::BIGINT AS n_frames,
        |       sum((doc_id * 37 + i * 11) % 4001 - 2000)::BIGINT AS sum_samples
        |FROM sm GROUP BY doc_id ORDER BY doc_id""".stripMargin)((spark, dir) =>
    Multimodal.audioStats(
        Multimodal.plantedAudioAssets(Tables.documents(spark, dir),
          "doc_id"))
      .toDF()
      .withColumnRenamed("asset_id", "doc_id")
      .orderBy("doc_id"))

  /** FRAME-SAMPLED video decode under the gate
    * ([[Multimodal.videoFrameStats]]): per document a planted GVID frame
    * container (length-prefixed PNG frames — the post-demux shape a real
    * pipeline hands the engine), every 2nd frame decoded through the
    * REAL image codec, channel sums aggregated. The oracle recomputes
    * total/sampled frame counts and the sampled frames' channel sums
    * from the construction arithmetic alone. */
  val qMultimodalFrames = Query("q_multimodal_frames",
      // frame-sampled video: container arithmetic (f frames, every 2nd
      // sampled) × the planted-PNG pixel arithmetic with the frame index
      // folded in — the codec's aggregated output must equal pure math
      """WITH fr AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS f FROM documents
        |), ks AS (
        |  SELECT doc_id, f, unnest(generate_series(0, f - 1)) AS k FROM fr
        |), sk AS (
        |  SELECT doc_id, f, k, 2 + (doc_id + k) % 3 AS w,
        |         1 + (doc_id + k) % 2 AS h
        |  FROM ks WHERE k % 2 = 0
        |), xs AS (
        |  SELECT doc_id, f, k, w, h, unnest(generate_series(0, w - 1)) AS x
        |  FROM sk
        |), px AS (
        |  SELECT doc_id, f, k, x, unnest(generate_series(0, h - 1)) AS y
        |  FROM xs
        |)
        |SELECT doc_id, any_value(f)::BIGINT AS n_frames,
        |       count(DISTINCT k)::BIGINT AS n_sampled,
        |       sum((doc_id + k + x) % 256)::BIGINT AS sum_r,
        |       sum((doc_id + k + y) % 256)::BIGINT AS sum_g,
        |       sum((doc_id + k + x * y) % 256)::BIGINT AS sum_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin)((spark, dir) =>
    Multimodal.videoFrameStats(
        Multimodal.plantedVideoAssets(Tables.documents(spark, dir),
          "doc_id"), everyNth = 2)
      .toDF()
      .withColumnRenamed("asset_id", "doc_id")
      .orderBy("doc_id"))

  /** REAL AVI-MJPEG demux → sampled-frame JPEG decode
    * ([[Multimodal.aviFrameStats]], r14 verdict item 6): the container is
    * the PUBLIC RIFF/AVI format (fourcc MJPG, 00dc chunks, idx1) built
    * byte-for-byte in-query, each sampled frame decoded through the
    * JDK's real JPEG codec. The deterministic observables are the
    * DIMENSIONS (JPEG geometry is exact through the lossy codec; pixel
    * values are decoder-defined and pinned instead on the lossless PNG
    * row [[qMultimodalFrames]]), so the oracle recomputes every output
    * from the plant arithmetic while the engine runs demux → sample →
    * decode for real. Truncation/corruption still refuses loudly
    * (MultimodalSpec). */
  val qMultimodalAvi = Query("q_multimodal_avi",
      // demux/decode structure from plant arithmetic: n_frames = 2+id%3,
      // sampled = every 2nd from 0, dims w=4+(id+k)%5 / h=3+(id+k)%4 —
      // exact through the lossy JPEG codec (geometry, not pixels)
      """WITH fr AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS f FROM documents
        |), ks AS (
        |  SELECT doc_id, f, unnest(generate_series(0, f - 1)) AS k FROM fr
        |), sk AS (
        |  SELECT doc_id, f, k, 4 + (doc_id + k) % 5 AS w,
        |         3 + (doc_id + k) % 4 AS h
        |  FROM ks WHERE k % 2 = 0
        |)
        |SELECT doc_id, any_value(f)::BIGINT AS n_frames,
        |       count(*)::BIGINT AS n_sampled,
        |       sum(w)::BIGINT AS sum_w,
        |       sum(h)::BIGINT AS sum_h
        |FROM sk GROUP BY doc_id ORDER BY doc_id""".stripMargin)((spark, dir) =>
    Multimodal.aviFrameStats(
        Multimodal.plantedAviAssets(Tables.documents(spark, dir),
          "doc_id"), everyNth = 2)
      .toDF()
      .withColumnRenamed("asset_id", "doc_id")
      .orderBy("doc_id"))

  /** Query histogram for [[qMultimodalKnn]]: the 4-bin byte histogram of a
    * fixed probe payload, computed through the SAME featurizer the corpus
    * runs ([[Multimodal.extractFeatures]]) so query and corpus features
    * can never drift apart. */
  private val multimodalQueryVec: Array[Double] = {
    val payload = flagshipQueryText.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val f = Multimodal.extractFeatures(Multimodal.Asset(0L, "image", payload,
      Multimodal.AssetMeta("fake/raw", payload.length, 1, 1, 0, 0L)))
    Array(f.h0.toDouble, f.h1.toDouble, f.h2.toDouble, f.h3.toDouble)
  }

  /** MULTIMODAL RETRIEVAL end-to-end — the composition [[qMultimodal]]
    * only plumbs: binary assets → batched stub decode → histogram
    * features ([[Multimodal.imageFeatures]], the mapInPandas-shaped
    * boundary a real vision model call crosses) → exact cosine top-k over
    * the feature vectors ([[VectorSearch.knn]]). With a real encoder the
    * feature column becomes a 1024-dim embedding and the SAME second
    * stage applies unchanged (swap exact knn for the IVF probe at corpus
    * scale); the deterministic stub keeps the whole path under the
    * DuckDB oracle. Zero-byte assets are filtered BEFORE scoring — a
    * zero histogram has no direction, the [[graft.search.VectorSearch
    * .knnPrefix]] sparse-prefix concern at the asset level. */
  val qMultimodalKnn = Query("q_multimodal_knn",
      // same featurization CTE as q_multimodal; the second stage is the
      // exact-kNN shape every vector oracle uses
      s"""WITH chars AS (
         |  SELECT doc_id, list_transform(string_split(text, ''), c -> ord(c)) AS cs
         |  FROM documents
         |), feats AS (
         |  SELECT doc_id AS asset_id,
         |         [len(list_filter(cs, c -> c // 64 = 0))::DOUBLE,
         |          len(list_filter(cs, c -> c // 64 = 1))::DOUBLE,
         |          len(list_filter(cs, c -> c // 64 = 2))::DOUBLE,
         |          len(list_filter(cs, c -> c // 64 = 3))::DOUBLE] AS emb
         |  FROM chars WHERE len(cs) > 0
         |)
         |SELECT asset_id,
         |       round((1.0 + list_cosine_similarity(emb, ${graft.functions.Vectors.vecSql(multimodalQueryVec)})) / 2.0, 6) AS score
         |FROM feats
         |ORDER BY score DESC, asset_id ASC LIMIT 10""".stripMargin) { (spark, dir) =>
    val feats = Multimodal.imageFeatures(
        Multimodal.assetsFromDocuments(Tables.documents(spark, dir),
          "doc_id", "text"))
      .toDF()
      .where(col("n_bytes") > 0)
      .withColumn("emb", array(col("h0").cast("double"),
        col("h1").cast("double"), col("h2").cast("double"),
        col("h3").cast("double")))
    VectorSearch.knn(feats, "asset_id", "emb", multimodalQueryVec, k = 10)
      .select("asset_id", "score")
  }
}
