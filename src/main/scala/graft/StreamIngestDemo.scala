package graft

import graft.dedup.Dedup
import graft.index.{IndexStore, Ivf, Pq}
import graft.search.{TextSearch, VectorSearch}
import graft.util.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** End-to-end streaming-ingest demo (the [[ScaleProbe]] sibling for the
  * index-upkeep story): one runnable that drives ALL SEVEN incremental
  * index paths together the way a production ingest would —
  *
  *   1. offline DDL on the first 20% of the corpus (`Ivf.build`/`Pq.build`
  *      need trained centroids/codebooks; BM25, sign-LSH, containment,
  *      window and positional-phrase bases are saved for symmetry — the
  *      containment threshold, the window width and the gram width are
  *      each index's DDL),
  *   2. the remaining 80% arrives as a Structured Streaming flow in
  *      rate-limited waves, fanned through the one `IndexStore.stream`
  *      hook into `appendBatchBm25` / `appendBatchIvf` /
  *      `appendBatchSignLsh` / `appendBatchPq` / `appendBatchContainment`
  *      / `appendBatchWindows` / `appendBatchPhrase` (commit-marker
  *      batches — each wave is visible to the next load the moment its
  *      marker lands),
  *   3. MID-STREAM, after each wave, the serving-side queries run against
  *      consistent snapshots (`load*`): BM25 top-10, ball-cover-exact
  *      batch kNN over the growing IVF, incremental near-dup dedup of the
  *      JUST-ARRIVED wave against the sign-LSH index-so-far, incremental
  *      CONTAINMENT screen of the wave's documents against the prefix
  *      index-so-far, PQ/ADC top-10, late-interaction maxsim over the
  *      growing window index, an exact phrase locate over the growing
  *      positional index (its occurrence count rises as clones stream
  *      in) — the reader/writer concurrency contract exercised live,
  *   4. streams stop, all seven indexes compact (file-count bound; the
  *      containment compaction re-ranks prefixes against the merged df),
  *      and the same queries re-run — results must be IDENTICAL pre/post
  *      compaction.
  *
  * Prints one `STREAMDEMO <label> <value>` line per measurement; the
  * SCALE.md "streaming ingest" section is produced from this output.
  *
  * Usage: `sbt "runMain graft.StreamIngestDemo"` (env `SPARK_GRAFT_SF_DIR`
  * to change the corpus, default sf0.1; `SPARK_GRAFT_WAVES`, default 4). */
object StreamIngestDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val waves = sys.env.getOrElse("SPARK_GRAFT_WAVES", "4").toInt
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_stream_demo").toString
    def dir(name: String) = s"$root/$name"
    println(s"STREAMDEMO workdir $root")

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").cache()
    val embs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding").cache()
    val nDocs = docs.count(); val nEmbs = embs.count()
    println(s"STREAMDEMO corpus docs=$nDocs embs=$nEmbs")

    // ---- 1. offline DDL on the first 20% (the indexes.py lifecycle) ----
    val baseDocs = docs.where(col("doc_id") % 5 === 0)
    val baseEmbs = embs.where(col("vec_id") % 5 === 0)
    val t0 = System.nanoTime()
    IndexStore.saveBm25(TextSearch.buildIndex(baseDocs, "doc_id", "text"), dir("bm25"))
    IndexStore.saveIvf(Ivf.build(baseEmbs, "vec_id", "embedding"), dir("ivf"))
    IndexStore.saveSignLsh(
      Dedup.signLshSketches(baseEmbs, "vec_id", "embedding",
        graft.embed.Embedder.TestdataDim), dir("lsh"))
    IndexStore.savePq(Pq.build(baseEmbs, "vec_id", "embedding"), dir("pq"))
    IndexStore.saveContainment(baseDocs, "doc_id", "text", 0.9, dir("cont"))
    IndexStore.saveWindows(baseDocs, "doc_id", "text",
      graft.search.LateInteraction.DefaultWindowTokens, dir("win"))
    IndexStore.savePhrase(baseDocs, "doc_id", "text",
      graft.dedup.SubstringDedup.DefaultGramTokens, dir("phrase"))
    println(f"STREAMDEMO ddl_base_sec ${(System.nanoTime() - t0) / 1e9}%.2f")
    // the mid-stream phrase probe: the base corpus's min-id doc's first 8
    // tokens, collected once through the ENGINE tokenizer
    val phraseToks = baseDocs.orderBy("doc_id").limit(1)
      .select(slice(graft.functions.Text.tokens(col("text")), 1,
        graft.dedup.SubstringDedup.DefaultGramTokens).as("p"))
      .head.getSeq[String](0)

    // ---- 2. the remaining 80% arrives as four streaming upkeep flows ----
    // one MemoryStream per consumer: a query's offset commit truncates the
    // shared buffer, so fanning one stream into three sinks would race
    val docStreams = Seq.fill(4)(MemoryStream[(Long, String)](spark))
    val embStreams = Seq.fill(3)(MemoryStream[(Long, Seq[Double])](spark))
    val docDfs = docStreams.map(_.toDF().toDF("doc_id", "text"))
    val embDfs = embStreams.map(_.toDF().toDF("vec_id", "embedding"))
    val queries = Seq(
      IndexStore.stream(docDfs(0), dir("ck_bm25"))(
        IndexStore.appendBatchBm25(_, "doc_id", "text", dir("bm25"), _)),
      IndexStore.stream(docDfs(1), dir("ck_cont"))(
        IndexStore.appendBatchContainment(_, "doc_id", "text", dir("cont"), _)),
      IndexStore.stream(docDfs(2), dir("ck_win"))(
        IndexStore.appendBatchWindows(_, "doc_id", "text", dir("win"), _)),
      IndexStore.stream(docDfs(3), dir("ck_phrase"))(
        IndexStore.appendBatchPhrase(_, "doc_id", "text", dir("phrase"), _)),
      IndexStore.stream(embDfs(0), dir("ck_ivf"))(
        IndexStore.appendBatchIvf(_, "vec_id", "embedding", dir("ivf"), _)),
      IndexStore.stream(embDfs(1), dir("ck_lsh"))(
        IndexStore.appendBatchSignLsh(_, "vec_id", "embedding",
          graft.embed.Embedder.TestdataDim, dir("lsh"), _)),
      IndexStore.stream(embDfs(2), dir("ck_pq"))(
        IndexStore.appendBatchPq(_, "vec_id", "embedding", dir("pq"), _)),
    )

    val restDocs = docs.where(col("doc_id") % 5 =!= 0)
      .as[(Long, String)].collect()
    val restEmbs = embs.where(col("vec_id") % 5 =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val queryText = "fast table scan merge"
    val queryVec = graft.embed.Embedder.default.embed(queryText)

    def midStreamQueries(wave: Int, waveEmbs: Seq[(Long, Seq[Double])],
        waveDocs: Seq[(Long, String)]): Unit = {
      val t = System.nanoTime()
      val bm = TextSearch.search(IndexStore.loadBm25(spark, dir("bm25")),
        queryText, 10).collect()
      val ivf = IndexStore.loadIvf(spark, dir("ivf"))
      val probeBatch = embs.where(col("vec_id") < 20)
      val knn = Ivf.knnJoinExact(ivf, probeBatch,
          ivf.assignments.join(embs, ivf.assignments("id") === embs("vec_id"))
            .select("vec_id", "embedding"),
          "vec_id", "embedding", "vec_id", "embedding", k = 3,
          probeMass = 0.9).collect()
      // incremental dedup: is anything in THIS wave a near-dup of the
      // index-so-far? (work ∝ wave, the daily-ingest contract)
      val waveDf = waveEmbs.toDF("vec_id", "embedding")
      val cands = Dedup.signLshCandidatesAgainst(
        Dedup.signLshSketches(waveDf, "vec_id", "embedding",
          graft.embed.Embedder.TestdataDim),
        IndexStore.loadSignLsh(spark, dir("lsh")))
      // embs already holds every wave id (waves are slices of it) — a
      // waveDf ∪ embs union would duplicate the wave's vector rows and
      // multiply each verified pair by its endpoints' copy counts
      val dups = Dedup.cosineVerify(cands,
        embs, "vec_id", "embedding", 0.45).count()
      // incremental containment: does anything in THIS wave contain / get
      // contained by a document already indexed? (same work ∝ wave shape)
      val contained =
        if (waveDocs.isEmpty) 0L
        else Dedup.containmentPairsAgainst(waveDocs.toDF("doc_id", "text"),
          "doc_id", "text",
          IndexStore.loadContainment(spark, dir("cont")), 0.9).count()
      val pq = IndexStore.loadPq(spark, dir("pq"))
      val adc = Pq.ann(pq, embs.join(pq.codes.select("id"),
            embs("vec_id") === pq.codes("id")).select("vec_id", "embedding"),
          "vec_id", "embedding", queryVec, k = 10,
          overfetch = math.max(100, (pq.n / 2).toInt)).collect()
      // late interaction over the growing window index: a 4-doc query
      // batch maxsim-scored against every indexed document's windows —
      // the corpus text is never re-windowed mid-stream
      val maxsim = graft.search.LateInteraction.maxSimJoin(
        docs.where(col("doc_id") % 499 === 0).limit(4), "doc_id", "text",
        IndexStore.loadWindows(spark, dir("win")), k = 3).collect()
      // exact phrase locate over the growing positional index: occurrence
      // count rises as exact clones of the probe doc stream in
      val phrase = TextSearch.phraseOccurrencesIndexed(
        IndexStore.loadPhrase(spark, dir("phrase")), docs, "doc_id", "text",
        phraseToks).count()
      println(f"STREAMDEMO wave$wave%d_queries_sec ${(System.nanoTime() - t) / 1e9}%.2f " +
        s"bm25=${bm.length} knn=${knn.length} wave_neardups=$dups " +
        s"wave_containments=$contained adc=${adc.length} maxsim=${maxsim.length} " +
        s"phrase=$phrase " +
        s"indexed=${IndexStore.loadIvf(spark, dir("ivf")).sizes.values.sum}")
    }

    val tStream = System.nanoTime()
    val dWaves = restDocs.grouped(math.max(1, restDocs.length / waves)).toSeq
    val eWaves = restEmbs.grouped(math.max(1, restEmbs.length / waves)).toSeq
    try {
      for (w <- 0 until math.max(dWaves.length, eWaves.length)) {
        if (w < dWaves.length)
          docStreams.foreach(_.addData(dWaves(w).toIndexedSeq))
        if (w < eWaves.length)
          embStreams.foreach(_.addData(eWaves(w).toIndexedSeq))
        queries.foreach(_.processAllAvailable())
        midStreamQueries(w,
          if (w < eWaves.length) eWaves(w).toIndexedSeq else Nil,
          if (w < dWaves.length) dWaves(w).toIndexedSeq else Nil)
      }
    } finally queries.foreach(_.stop())
    println(f"STREAMDEMO stream_total_sec ${(System.nanoTime() - tStream) / 1e9}%.2f")

    // ---- 4. compaction: fold batches, identical answers, bounded files ----
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(p))
    }
    val before = Seq("bm25", "ivf", "lsh", "pq", "cont", "win", "phrase")
      .map(n => parquetFiles(dir(n))).sum
    val bmPre = TextSearch.search(IndexStore.loadBm25(spark, dir("bm25")),
      queryText, 10).collect().toSeq
    val contProbe = docs.where(col("doc_id") % 50 === 0)
    def contScreen() = Dedup.containmentPairsAgainst(contProbe, "doc_id",
        "text", IndexStore.loadContainment(spark, dir("cont")), 0.9)
      .orderBy("id1", "id2").collect().toSeq
    val contPre = contScreen()
    def maxsimScreen() = graft.search.LateInteraction.maxSimJoin(
        docs.where(col("doc_id") % 499 === 0).limit(4), "doc_id", "text",
        IndexStore.loadWindows(spark, dir("win")), k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val maxsimPre = maxsimScreen()
    def phraseLocate() = TextSearch.phraseOccurrencesIndexed(
        IndexStore.loadPhrase(spark, dir("phrase")), docs, "doc_id", "text",
        phraseToks)
      .orderBy("id", "pos").collect().toSeq
    val phrasePre = phraseLocate()
    val tC = System.nanoTime()
    IndexStore.compactBm25(spark, dir("bm25"))
    IndexStore.compactIvf(spark, dir("ivf"))
    IndexStore.compactSignLsh(spark, dir("lsh"))
    IndexStore.compactPq(spark, dir("pq"))
    IndexStore.compactContainment(spark, dir("cont"))
    IndexStore.compactWindows(spark, dir("win"))
    IndexStore.compactPhrase(spark, dir("phrase"))
    println(f"STREAMDEMO compact_sec ${(System.nanoTime() - tC) / 1e9}%.2f")
    val after = Seq("bm25", "ivf", "lsh", "pq", "cont", "win", "phrase")
      .map(n => parquetFiles(dir(n))).sum
    println(s"STREAMDEMO parquet_files before=$before after=$after")
    val bmPost = TextSearch.search(IndexStore.loadBm25(spark, dir("bm25")),
      queryText, 10).collect().toSeq
    require(bmPre == bmPost, "compaction changed BM25 answers")
    // prefix re-ranking at compaction may swap WHICH shingles each prefix
    // holds — the screen's output must not move (recall is the bound, not
    // the ranking)
    require(contPre == contScreen(), "compaction changed containment answers")
    require(maxsimPre == maxsimScreen(), "compaction changed maxsim answers")
    require(phrasePre == phraseLocate(), "compaction changed phrase answers")
    val finalIvf = IndexStore.loadIvf(spark, dir("ivf"))
    require(finalIvf.sizes.values.sum == nEmbs,
      s"indexed ${finalIvf.sizes.values.sum} of $nEmbs vectors")
    println(s"STREAMDEMO final_indexed ${finalIvf.sizes.values.sum} of $nEmbs OK")
    spark.stop()
  }
}
