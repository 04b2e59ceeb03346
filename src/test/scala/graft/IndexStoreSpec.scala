package graft

import java.nio.file.Files

import graft.embed.Embedder
import graft.index.{IndexStore, Ivf, Pq}
import graft.search.{TextSearch, VectorSearch}
import graft.util.Tables
import org.scalatest.funsuite.AnyFunSuite

/** Index persistence round-trips: saved+loaded indexes answer queries
  * identically to freshly-built ones; overwrite is idempotent replace. */
class IndexStoreSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val query = Embedder.default.embed("nuggets para desayuno")

  test("bm25 save/load round-trip preserves search results; overwrite replaces") {
    val dir = Files.createTempDirectory("bm25idx").toString
    val docs = Tables.documents(spark, Sf0001)
    val built = TextSearch.buildIndex(docs, "doc_id", "text")
    IndexStore.saveBm25(built, dir)
    val loaded = IndexStore.loadBm25(spark, dir)
    assert(loaded.numDocs === built.numDocs && loaded.avgdl === built.avgdl)
    val a = TextSearch.search(built, "fast table scan merge", 10)
      .as[(Long, Double)].collect().toSeq
    val b = TextSearch.search(loaded, "fast table scan merge", 10)
      .as[(Long, Double)].collect().toSeq
    assert(a === b)
    // S7 --replace: a second create over the same path must not fail or dup
    IndexStore.saveBm25(built, dir)
    assert(IndexStore.loadBm25(spark, dir).postings.count() === built.postings.count())
    // persisted-index search prunes postings partitions by term bucket
    // (and by committed batch — both are partition columns now)
    val pruned = TextSearch.search(loaded, "fast table scan merge", 10)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"expected bucket partition pruning in:\n$plan")
  }

  test("BM25 as-of wave: every horizon reconstructs a fresh build exactly; compaction bounds it") {
    val dir = Files.createTempDirectory("bm25asof").toString
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").localCheckpoint(true)
    val a = docs.where($"doc_id" % 3 === 0)
    val b = docs.where($"doc_id" % 3 === 1)
    val c = docs.where($"doc_id" % 3 === 2)
    IndexStore.createBm25(a, "doc_id", "text", dir)
    IndexStore.appendBatchBm25(b, "doc_id", "text", dir, batchId = 0L)
    IndexStore.appendBatchBm25(c, "doc_id", "text", dir, batchId = 1L)
    // delete wave 2 erases part of A — visible only at horizons ≥ 2
    val doomed = a.where($"doc_id" % 9 === 0)
    IndexStore.deleteBatchBm25(doomed, "doc_id", "text", dir, 2L)
    def top(i: TextSearch.Bm25Index) =
      TextSearch.search(i, "fast table scan merge", 10)
        .as[(Long, Double)].collect().toSeq
    def sameAsFresh(asOf: Long,
        corpus: org.apache.spark.sql.DataFrame): Unit = {
      val got = IndexStore.loadBm25AsOf(spark, dir, asOf)
      val fresh = TextSearch.buildIndex(corpus, "doc_id", "text")
      assert(got.numDocs === fresh.numDocs, s"numDocs at asOf=$asOf")
      assert(got.avgdl === fresh.avgdl, s"avgdl at asOf=$asOf")
      assert(got.termDf.as[(String, Long)].collect().toSet ===
        fresh.termDf.as[(String, Long)].collect().toSet, s"df at asOf=$asOf")
      assert(top(got) === top(fresh), s"scores at asOf=$asOf")
    }
    sameAsFresh(-1L, a)                         // base only
    sameAsFresh(0L, a.union(b))                 // + wave 0
    sameAsFresh(1L, docs)                       // + wave 1, delete not yet
    sameAsFresh(2L, docs.where($"doc_id" % 9 =!= 0 || $"doc_id" % 3 =!= 0))
    // the tip IS the max horizon
    assert(top(IndexStore.loadBm25(spark, dir)) ===
      top(IndexStore.loadBm25AsOf(spark, dir, Long.MaxValue)))
    // compaction erases per-wave history: the floor is the max folded
    // wave (2 — the delete), horizons below it refuse loudly, at/above
    // it the folded state answers
    IndexStore.compactBm25(spark, dir)
    val e = intercept[IllegalArgumentException](
      IndexStore.loadBm25AsOf(spark, dir, 1L))
    assert(e.getMessage.contains("predates the last compaction"))
    sameAsFresh(2L, docs.where($"doc_id" % 9 =!= 0 || $"doc_id" % 3 =!= 0))
    // a replace resets the horizon: fresh base = full history again
    IndexStore.saveBm25(TextSearch.buildIndex(a, "doc_id", "text"), dir)
    assert(IndexStore.loadBm25AsOf(spark, dir, -1L).numDocs === a.count())
  }

  test("word-count family: fold equals fresh counts through append/delete/compact; guard flips") {
    import graft.text.Vocab
    val dir = Files.createTempDirectory("wcfam").toString
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").localCheckpoint(true)
    val a = docs.where($"doc_id" % 3 === 0)
    val b = docs.where($"doc_id" % 3 === 1)
    val c = docs.where($"doc_id" % 3 === 2)
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long)].collect().toMap
    def fresh(d: org.apache.spark.sql.DataFrame) =
      counts(Vocab.wordCounts(d, "text"))
    IndexStore.saveWordCounts(a, "doc_id", "text", dir)
    IndexStore.appendBatchWordCounts(b, "doc_id", "text", dir, 0L)
    IndexStore.appendBatchWordCounts(c, "doc_id", "text", dir, 1L)
    assert(counts(IndexStore.loadWordCounts(spark, dir)) === fresh(docs))
    // replay is a no-op; checked load accepts the full corpus, refuses a gap
    IndexStore.appendBatchWordCounts(b, "doc_id", "text", dir, 0L)
    assert(counts(IndexStore.loadWordCounts(spark, dir)) === fresh(docs))
    assert(counts(IndexStore.loadWordCountsChecked(spark, dir, docs,
      "doc_id", "text")) === fresh(docs))
    intercept[IllegalStateException](
      IndexStore.loadWordCountsChecked(spark, dir, a, "doc_id", "text"))
    // learn-from-counts over the fold == learn-from-scratch
    assert(Vocab.learnBpeFromCounts(
        IndexStore.loadWordCounts(spark, dir), 3) ===
      Vocab.learnBpe(docs, "text", 3))
    // deletion: negated counts cancel exactly; guard flips to survivors
    IndexStore.deleteBatchWordCounts(c, "doc_id", "text", dir, 2L)
    val surv = docs.where($"doc_id" % 3 =!= 2)
    assert(counts(IndexStore.loadWordCounts(spark, dir)) === fresh(surv))
    assert(counts(IndexStore.loadWordCountsChecked(spark, dir, surv,
      "doc_id", "text")) === fresh(surv))
    intercept[IllegalStateException](
      IndexStore.loadWordCountsChecked(spark, dir, docs, "doc_id", "text"))
    // as-of horizons: base / +wave0 / +wave1 / post-delete
    assert(counts(IndexStore.loadWordCountsAsOf(spark, dir, -1L)) === fresh(a))
    assert(counts(IndexStore.loadWordCountsAsOf(spark, dir, 0L)) ===
      fresh(a.union(b)))
    assert(counts(IndexStore.loadWordCountsAsOf(spark, dir, 1L)) === fresh(docs))
    assert(counts(IndexStore.loadWordCountsAsOf(spark, dir, 2L)) === fresh(surv))
    // compaction folds to base, bounds time travel, keeps checkability
    IndexStore.compactWordCounts(spark, dir)
    assert(counts(IndexStore.loadWordCounts(spark, dir)) === fresh(surv))
    assert(counts(IndexStore.loadWordCountsChecked(spark, dir, surv,
      "doc_id", "text")) === fresh(surv))
    val eF = intercept[IllegalArgumentException](
      IndexStore.loadWordCountsAsOf(spark, dir, 1L))
    assert(eF.getMessage.contains("predates the last compaction"))
  }

  test("IVF as-of wave: horizons reconstruct membership; maintenance beyond the horizon refuses") {
    val dir = Files.createTempDirectory("ivfasof").toString
    val e = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    val a = e.where($"vec_id" % 3 === 0)
    val b = e.where($"vec_id" % 3 === 1)
    val c = e.where($"vec_id" % 3 === 2)
    IndexStore.saveIvf(Ivf.build(a, "vec_id", "embedding"), dir,
      source = Some((a, "vec_id", "embedding")))
    IndexStore.appendBatchIvf(b, "vec_id", "embedding", dir, 0L)
    IndexStore.appendBatchIvf(c, "vec_id", "embedding", dir, 1L)
    val doomed = b.where($"vec_id" % 9 === 1)
    IndexStore.deleteBatchIvf(doomed, "vec_id", "embedding", dir, 2L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id".cast("long")).as[Long].collect().toSet
    def memberIds(asOf: Long) =
      IndexStore.loadIvfAsOf(spark, dir, asOf).assignments
        .select($"id".cast("long")).as[Long].collect().toSet
    assert(memberIds(-1L) === ids(a))
    assert(memberIds(0L) === ids(a) ++ ids(b))
    assert(memberIds(1L) === ids(e))
    assert(memberIds(2L) === ids(e) -- ids(doomed))
    // sizes track the horizon too (probe-mass math sees the era's counts)
    val at0 = IndexStore.loadIvfAsOf(spark, dir, 0L)
    assert(at0.sizes.values.sum === (ids(a) ++ ids(b)).size.toLong)
    // tip == MaxValue horizon
    assert(memberIds(Long.MaxValue) ===
      ids(IndexStore.loadIvf(spark, dir).assignments
        .withColumnRenamed("id", "vec_id")))
    // a split at wave 3 rewrites the centroid table in place: horizons
    // BEFORE it are unreachable and refuse loudly; at/after it, fine
    val advice = IndexStore.adviseSplitIvf(
      IndexStore.loadIvf(spark, dir), factor = 1.0001)
    IndexStore.splitClusterIvf(e, "vec_id", "embedding", dir,
      advice.cluster, batchId = 3L)
    val eMaint = intercept[IllegalArgumentException](
      IndexStore.loadIvfAsOf(spark, dir, 2L))
    assert(eMaint.getMessage.contains("rewrote the centroid table"))
    assert(memberIds(3L) === ids(e) -- ids(doomed))
    // compaction folds history: the floor is the max folded wave (3)
    IndexStore.compactIvf(spark, dir)
    val eFloor = intercept[IllegalArgumentException](
      IndexStore.loadIvfAsOf(spark, dir, 2L))
    assert(eFloor.getMessage.contains("predates the last compaction"))
    assert(memberIds(3L) === ids(e) -- ids(doomed))
  }

  test("BM25 deletion wave: merged index equals a fresh build of the survivors; guard flips") {
    val dir = Files.createTempDirectory("bm25del").toString
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").localCheckpoint(true)
    IndexStore.createBm25(docs, "doc_id", "text", dir)
    val doomed = docs.where($"doc_id" % 9 === 0)
    val remaining = docs.where($"doc_id" % 9 =!= 0).localCheckpoint(true)
    IndexStore.deleteBatchBm25(doomed, "doc_id", "text", dir, 0L)
    // the negative fingerprint flips acceptance to the post-delete corpus
    val idx = IndexStore.loadBm25Checked(spark, dir, remaining, "doc_id",
      "text")
    intercept[IllegalStateException](
      IndexStore.loadBm25Checked(spark, dir, docs, "doc_id", "text"))
    // the merged index IS the survivors' index: same stats, same df sums,
    // same postings, therefore bit-identical scores
    val fresh = TextSearch.buildIndex(remaining, "doc_id", "text")
    assert(idx.numDocs === fresh.numDocs)
    assert(idx.avgdl === fresh.avgdl)
    assert(idx.postings.count() === fresh.postings.count())
    assert(idx.termDf.as[(String, Long)].collect().toSet ===
      fresh.termDf.as[(String, Long)].collect().toSet)
    def top(i: TextSearch.Bm25Index) =
      TextSearch.search(i, "fast table scan merge", 10)
        .as[(Long, Double)].collect().toSeq
    assert(top(idx) === top(fresh))
    assert(top(idx).nonEmpty)
    // replayed delete wave is a no-op
    IndexStore.deleteBatchBm25(doomed, "doc_id", "text", dir, 0L)
    assert(IndexStore.loadBm25(spark, dir).numDocs === fresh.numDocs)
    // compaction purges the tombstones; the folded index stays checkable
    // against the survivors and scores unchanged
    IndexStore.compactBm25(spark, dir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "tombstones")))
    assert(top(IndexStore.loadBm25Checked(spark, dir, remaining, "doc_id",
      "text")) === top(fresh))
    // an all-unknown erasure request still COMMITS (never a silent no-op):
    // the fingerprint drifts and the next checked load refuses
    IndexStore.deleteBatchBm25(
      Seq((999999L, "never indexed text")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 1L)
    intercept[IllegalStateException](
      IndexStore.loadBm25Checked(spark, dir, remaining, "doc_id", "text"))
    // and the sketch family refuses deletion honestly (not invertible)
    intercept[UnsupportedOperationException](
      IndexStore.deleteBatchSummary(doomed.select($"text".as("item")),
        "item", dir, 0L))
  }

  test("streaming word counts equal a full rebuild; checked load accepts the final corpus") {
    import graft.text.Vocab
    val dir = Files.createTempDirectory("wcinc").toString
    val ckpt = Files.createTempDirectory("wcckpt").toString
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").cache()
    val half1 = docs.where($"doc_id" % 2 === 0)
    val half2 = docs.where($"doc_id" % 2 === 1).as[(Long, String)].collect()
    IndexStore.saveWordCounts(half1, "doc_id", "text", dir)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](spark)
    val q = IndexStore.stream(mem.toDF().toDF("doc_id", "text"), ckpt)(
      IndexStore.appendBatchWordCounts(_, "doc_id", "text", dir, _))
    try {
      val (b1, b2) = half2.splitAt(half2.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val inc = IndexStore.loadWordCountsChecked(spark, dir, docs,
      "doc_id", "text").as[(String, Long)].collect().toMap
    val full = Vocab.wordCounts(docs, "text")
      .as[(String, Long)].collect().toMap
    assert(inc === full)
    // and the vocab learned from the streamed fold matches from-scratch
    assert(Vocab.learnBpeFromCounts(
        IndexStore.loadWordCounts(spark, dir), 2) ===
      Vocab.learnBpe(docs, "text", 2))
  }

  test("streaming incremental BM25 equals a full rebuild over the final corpus") {
    val dir = Files.createTempDirectory("bm25inc").toString
    val ckpt = Files.createTempDirectory("bm25ckpt").toString
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").cache()
    val half1 = docs.where($"doc_id" % 2 === 0)
    val half2 = docs.where($"doc_id" % 2 === 1).as[(Long, String)].collect()
    // offline DDL on the first half…
    IndexStore.saveBm25(TextSearch.buildIndex(half1, "doc_id", "text"), dir)
    // …then the second half arrives as a stream, split across two batches
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](spark)
    val q = IndexStore.stream(mem.toDF().toDF("doc_id", "text"), ckpt)(
      IndexStore.appendBatchBm25(_, "doc_id", "text", dir, _))
    try {
      val (b1, b2) = half2.splitAt(half2.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val inc = IndexStore.loadBm25(spark, dir)
    val full = TextSearch.buildIndex(docs, "doc_id", "text")
    assert(inc.numDocs === full.numDocs)
    assert(inc.avgdl === full.avgdl)
    val a = TextSearch.search(inc, "fast table scan merge", 10)
      .as[(Long, Double)].collect().toSeq
    val b = TextSearch.search(full, "fast table scan merge", 10)
      .as[(Long, Double)].collect().toSeq
    assert(a === b)
    // replaying an already-applied batch id is a no-op (foreachBatch retry)
    val before = inc.postings.count()
    IndexStore.appendBatchBm25(half1.limit(5), "doc_id", "text", dir, batchId = 0L)
    assert(IndexStore.loadBm25(spark, dir).postings.count() === before)
  }

  test("bm25 batch replay is idempotent at every crash point; compaction bounds files") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("bm25atomic").toString
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").cache()
    val base = docs.where($"doc_id" % 3 === 0)
    val b0 = docs.where($"doc_id" % 3 === 1)
    val b1 = docs.where($"doc_id" % 3 === 2)
    IndexStore.saveBm25(TextSearch.buildIndex(base, "doc_id", "text"), dir)

    // crash-point simulation: batch 0's postings land but the stats commit
    // marker never does (the exact window the v1 append layout corrupted)
    import graft.functions.Text
    TextSearch.buildIndex(b0, "doc_id", "text").postings
      .withColumn("batch", org.apache.spark.sql.functions.lit(0L))
      .withColumn("bucket", org.apache.spark.sql.functions.pmod(
        Text.hash60(col("term")),
        org.apache.spark.sql.functions.lit(TextSearch.TermBuckets.toLong)))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "bucket").parquet(s"$dir/postings")
    // a reader between crash and retry sees ONLY committed batches
    assert(IndexStore.loadBm25(spark, dir).numDocs ===
      TextSearch.buildIndex(base, "doc_id", "text").numDocs)
    // the foreachBatch retry re-delivers batch 0: overwrite, not append
    IndexStore.appendBatchBm25(b0, "doc_id", "text", dir, batchId = 0L)
    IndexStore.appendBatchBm25(b1, "doc_id", "text", dir, batchId = 1L)
    // a full replay of a committed batch is a no-op
    IndexStore.appendBatchBm25(b0, "doc_id", "text", dir, batchId = 0L)

    val full = TextSearch.buildIndex(docs, "doc_id", "text")
    def results(idx: TextSearch.Bm25Index) =
      TextSearch.search(idx, "fast table scan merge", 10)
        .as[(Long, Double)].collect().toSeq
    val inc = IndexStore.loadBm25(spark, dir)
    assert(inc.numDocs === full.numDocs)
    assert(inc.avgdl === full.avgdl)
    assert(inc.postings.count() === full.postings.count())
    assert(results(inc) === results(full))

    // compaction folds the 3 batch partitions into one base: same results,
    // bounded batch count regardless of how many micro-batches streamed in
    IndexStore.compactBm25(spark, dir)
    val compacted = IndexStore.loadBm25(spark, dir)
    assert(results(compacted) === results(full))
    assert(compacted.numDocs === full.numDocs && compacted.avgdl === full.avgdl)
    val batchDirs = new java.io.File(s"$dir/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(batchDirs.toSeq === Seq("batch=-1"))
  }

  test("persisted sign-LSH sketch index: probe equals in-query LSH, plan scans the index") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("signlsh").toString
    val embs = Tables.embeddings(spark, Sf0001)
    IndexStore.saveSignLsh(
      Dedup.signLshSketches(embs, "vec_id", "embedding", dim = 64), dir)
    val probe = Dedup.cosineVerify(
      Dedup.signLshCandidates(IndexStore.loadSignLsh(spark, dir)),
      embs, "vec_id", "embedding", threshold = 0.45)
    val fresh = Dedup.cosinePairsLsh(embs, "vec_id", "embedding", 0.45, dim = 64)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id1", "id2").as[(Long, Long, Double)].collect().toSeq
    assert(rows(probe) === rows(fresh))
    // the candidate stage reads the band-partitioned sketch parquet (one
    // partition per band side of the self-join) and never cross-joins
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("sketches"), s"expected index scan in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cross product in:\n$plan")
    // band partition pruning is available to a single-band read
    val one = IndexStore.loadSignLsh(spark, dir).where(col("band") === 0)
    assert(one.queryExecution.executedPlan.toString
      .matches("(?s).*PartitionFilters: \\[[^\\]]*band.*"))
  }

  test("sign-LSH batch appends: crash-replay idempotent, equals full rebuild, compacts") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.functions.{col, lit}
    val dir = Files.createTempDirectory("signlshinc").toString
    val embs = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding").cache()
    val base = embs.where($"vec_id" % 3 === 0)
    val b0 = embs.where($"vec_id" % 3 === 1)
    val b1 = embs.where($"vec_id" % 3 === 2)
    IndexStore.saveSignLsh(
      Dedup.signLshSketches(base, "vec_id", "embedding", dim = 64), dir)

    // crash-point simulation: batch 0's sketches land but the commit
    // marker never does — a reader must see ONLY the committed base
    Dedup.signLshSketches(b0, "vec_id", "embedding", dim = 64)
      .withColumn("batch", lit(0L))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "band").parquet(s"$dir/sketches")
    assert(IndexStore.loadSignLsh(spark, dir).select("id").distinct().count()
      === base.count())

    // the foreachBatch retry re-delivers batch 0 (overwrite, not append),
    // then batch 1 arrives; a replay of a committed batch is a no-op
    IndexStore.appendBatchSignLsh(b0, "vec_id", "embedding", 64, dir, batchId = 0L)
    IndexStore.appendBatchSignLsh(b1, "vec_id", "embedding", 64, dir, batchId = 1L)
    IndexStore.appendBatchSignLsh(b0, "vec_id", "embedding", 64, dir, batchId = 0L)

    def pairs(banded: org.apache.spark.sql.DataFrame) =
      Dedup.cosineVerify(Dedup.signLshCandidates(banded),
          embs, "vec_id", "embedding", threshold = 0.45)
        .orderBy("id1", "id2").as[(Long, Long, Double)].collect().toSeq
    val fresh = pairs(Dedup.signLshSketches(embs, "vec_id", "embedding", 64))
    assert(pairs(IndexStore.loadSignLsh(spark, dir)) === fresh)

    // compaction folds the 3 batches into one base partition, same pairs
    IndexStore.compactSignLsh(spark, dir)
    assert(pairs(IndexStore.loadSignLsh(spark, dir)) === fresh)
    val batchDirs = new java.io.File(s"$dir/sketches").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(batchDirs.toSeq === Seq("batch=-1"))
  }

  test("ivf radii: pre-radius base + post-radius appends never understate the ball") {
    import graft.index.Ivf
    import graft.search.VectorSearch
    import org.apache.spark.sql.SaveMode
    val dir = Files.createTempDirectory("ivfupgrade").toString
    val embs = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding").cache()
    val base = embs.where($"vec_id" % 2 === 0)
    IndexStore.saveIvf(Ivf.build(base, "vec_id", "embedding"), dir)
    // simulate the PRE-radius on-disk layout: rewrite sizes without the
    // radius column, exactly what an older release persisted
    val legacy = spark.read.parquet(s"$dir/sizes").drop("radius").cache()
    legacy.count()
    legacy.write.mode(SaveMode.Overwrite).partitionBy("batch")
      .parquet(s"$dir/.legacy_sizes")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/sizes"), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/.legacy_sizes"),
      new org.apache.hadoop.fs.Path(s"$dir/sizes")))
    // legacy-only load: radii are UNKNOWN (no pruning), never invented
    assert(IndexStore.loadIvf(spark, dir).radii.isEmpty)
    // new code appends the other half — its sizes rows DO carry radius,
    // so the table now mixes schemas; every cluster still holding a
    // legacy (null-radius) row must resolve to the trivial never-prune
    // radius — skipping nulls would leave a ball covering only appended
    // members and silently break the exactness theorem
    IndexStore.appendBatchIvf(embs.where($"vec_id" % 2 === 1),
      "vec_id", "embedding", dir, batchId = 0L)
    val idx = IndexStore.loadIvf(spark, dir)
    assert(idx.radii.nonEmpty)
    assert(idx.radii.values.forall(_ === Ivf.TrivialRadius),
      s"legacy rows must force the trivial radius, got ${idx.radii}")
    val queries = embs.where($"vec_id" < 10)
    val exact = VectorSearch.knnJoin(queries, embs,
        "vec_id", "embedding", "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val routed = Ivf.knnJoinExact(idx, queries, embs,
        "vec_id", "embedding", "vec_id", "embedding", k = 3, probeMass = 0.5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(routed === exact)
  }

  test("containment batch appends: crash-replay idempotent, equals full rebuild, compacts") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val dir = Files.createTempDirectory("continc").toString
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").cache()
    val base = docs.where($"doc_id" % 3 === 0)
    val b0 = docs.where($"doc_id" % 3 === 1)
    val b1 = docs.where($"doc_id" % 3 === 2)
    IndexStore.saveContainment(base, "doc_id", "text", 0.9, dir)

    // crash-point simulation: batch 0's postings land but the sizes
    // marker never does — a reader must see ONLY the committed base
    Dedup.shinglePostings(b0, "doc_id", "text")
      .withColumn("batch", lit(0L))
      .withColumn("bucket", pmod(col("h"), lit(Dedup.ShingleBuckets.toLong)))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "bucket").parquet(s"$dir/postings")
    assert(IndexStore.loadContainment(spark, dir)
      .postings.select("id").distinct().count() === base.count())

    // foreachBatch retry re-delivers batch 0 (overwrite, not append),
    // then batch 1 arrives; a replay of a committed batch is a no-op
    IndexStore.appendBatchContainment(b0, "doc_id", "text", dir, batchId = 0L)
    IndexStore.appendBatchContainment(b1, "doc_id", "text", dir, batchId = 1L)
    IndexStore.appendBatchContainment(b0, "doc_id", "text", dir, batchId = 0L)

    // screening a batch against the incrementally-built index equals the
    // screen against a fresh full rebuild — batch-local prefix ranking
    // (appends) vs global ranking (rebuild) may choose different prefix
    // SHINGLES, but recall is the pigeonhole theorem either way and the
    // exact verify makes the outputs identical
    val probe = docs.where($"doc_id" % 7 === 0)
    def screen(idx: IndexStore.ContainmentIndex) =
      Dedup.containmentPairsAgainst(probe, "doc_id", "text", idx, 0.9)
        .orderBy("id1", "id2").as[(Long, Long, Double)].collect().toSeq
    val freshDir = Files.createTempDirectory("contfresh").toString
    IndexStore.saveContainment(docs, "doc_id", "text", 0.9, freshDir)
    val fresh = screen(IndexStore.loadContainment(spark, freshDir))
    assert(screen(IndexStore.loadContainment(spark, dir)) === fresh)

    // compaction folds the 3 batches into one base partition (re-ranking
    // prefixes against the merged df), same screen output
    IndexStore.compactContainment(spark, dir)
    val compacted = IndexStore.loadContainment(spark, dir)
    assert(screen(compacted) === fresh)
    val batchDirs = new java.io.File(s"$dir/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(batchDirs.toSeq === Seq("batch=-1"))
    assert(compacted.threshold === 0.9)

    // the threshold is index DDL: appends onto a path with no meta fail
    // loudly instead of guessing
    val emptyDir = Files.createTempDirectory("contempty").toString + "/idx"
    assert(intercept[IllegalArgumentException] {
      IndexStore.appendBatchContainment(b0, "doc_id", "text", emptyDir, 0L)
    }.getMessage.contains("saveContainment base"))
  }

  test("window index lifecycle: load equals fresh windowVectors, crash-replay idempotent, compacts") {
    import graft.search.LateInteraction
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.functions.{col, lit}
    val dir = Files.createTempDirectory("winidx").toString
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").cache()
    val base = docs.where($"doc_id" % 3 === 0)
    val b0 = docs.where($"doc_id" % 3 === 1)
    val b1 = docs.where($"doc_id" % 3 === 2)
    IndexStore.saveWindows(base, "doc_id", "text",
      LateInteraction.DefaultWindowTokens, dir)
    def rows(idx: IndexStore.WindowIndex) = idx.windows
      .select("id", "w", "dim", "val")
      .orderBy("id", "w", "dim")
      .as[(Long, Long, Int, Double)].collect().toSeq
    def fresh(d: org.apache.spark.sql.DataFrame) =
      LateInteraction.windowVectors(d, "doc_id", "text")
        .orderBy("id", "w", "dim")
        .as[(Long, Long, Int, Double)].collect().toSeq
    assert(rows(IndexStore.loadWindows(spark, dir)) === fresh(base))
    assert(IndexStore.loadWindows(spark, dir).windowTokens ===
      LateInteraction.DefaultWindowTokens)

    // crash-point simulation: batch 0's window rows land but the marks
    // marker never does — a reader sees ONLY the committed base
    LateInteraction.windowVectors(b0, "doc_id", "text")
      .withColumn("batch", lit(0L))
      .withColumn("bucket", IndexStore.windowBucket(col("id")))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "bucket").parquet(s"$dir/windows")
    assert(rows(IndexStore.loadWindows(spark, dir)) === fresh(base))

    // foreachBatch retry re-delivers batch 0, then batch 1; a replay of a
    // committed batch is a no-op — the union equals one fresh build
    IndexStore.appendBatchWindows(b0, "doc_id", "text", dir, batchId = 0L)
    IndexStore.appendBatchWindows(b1, "doc_id", "text", dir, batchId = 1L)
    IndexStore.appendBatchWindows(b0, "doc_id", "text", dir, batchId = 0L)
    assert(rows(IndexStore.loadWindows(spark, dir)) === fresh(docs))

    // compaction folds the 3 batches into one base partition, same rows
    IndexStore.compactWindows(spark, dir)
    assert(rows(IndexStore.loadWindows(spark, dir)) === fresh(docs))
    val batchDirs = new java.io.File(s"$dir/windows").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(batchDirs.toSeq === Seq("batch=-1"))

    // the window width is index DDL: appends onto a path with no meta
    // fail loudly instead of guessing
    val emptyDir = Files.createTempDirectory("winempty").toString + "/idx"
    assert(intercept[IllegalArgumentException] {
      IndexStore.appendBatchWindows(b0, "doc_id", "text", emptyDir, 0L)
    }.getMessage.contains("saveWindows base"))
  }

  test("window index: an empty-corpus base round-trips as a typed empty index and accepts appends") {
    import graft.search.LateInteraction
    // an all-filtered (or all-null-text) corpus writes ZERO window data
    // files; meta records the loaded-shape schema, so loadWindows returns
    // a typed EMPTY relation instead of a parquet schema-inference error
    val dir = Files.createTempDirectory("winempty0").toString
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").cache()
    val none = docs.where($"doc_id" < 0)
    IndexStore.saveWindows(none, "doc_id", "text",
      LateInteraction.DefaultWindowTokens, dir)
    val empty = IndexStore.loadWindows(spark, dir)
    assert(empty.windowTokens === LateInteraction.DefaultWindowTokens,
      "the DDL survives an empty base")
    assert(empty.windows.columns.toSeq === Seq("id", "w", "dim", "val", "bucket"),
      "the empty index is TYPED — consumers select the same columns")
    assert(empty.windows.count() === 0L)
    // the empty base is a genuine bootstrap point: day-1 appends work and
    // the index then equals a fresh build of the appended batch
    val b0 = docs.where($"doc_id" % 3 === 1)
    IndexStore.appendBatchWindows(b0, "doc_id", "text", dir, batchId = 0L)
    def rows(idx: IndexStore.WindowIndex) = idx.windows
      .select("id", "w", "dim", "val")
      .orderBy("id", "w", "dim")
      .as[(Long, Long, Int, Double)].collect().toSeq
    val fresh = LateInteraction.windowVectors(b0, "doc_id", "text")
      .orderBy("id", "w", "dim")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(rows(IndexStore.loadWindows(spark, dir)) === fresh)
    assert(fresh.nonEmpty, "append fixture must window or the pin is vacuous")
  }

  test("batch appends bootstrap a FRESH index path (no prior save* base)") {
    import graft.dedup.Dedup
    // BM25: a stream's first micro-batch onto an empty path must succeed
    val bm25Dir = Files.createTempDirectory("bm25boot").toString + "/idx"
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").cache()
    val half1 = docs.where($"doc_id" % 2 === 0)
    val half2 = docs.where($"doc_id" % 2 === 1)
    IndexStore.appendBatchBm25(half1, "doc_id", "text", bm25Dir, batchId = 0L)
    IndexStore.appendBatchBm25(half2, "doc_id", "text", bm25Dir, batchId = 1L)
    val inc = IndexStore.loadBm25(spark, bm25Dir)
    val full = TextSearch.buildIndex(docs, "doc_id", "text")
    assert(inc.numDocs === full.numDocs && inc.avgdl === full.avgdl)
    assert(TextSearch.search(inc, "fast table scan merge", 10)
        .as[(Long, Double)].collect().toSeq ===
      TextSearch.search(full, "fast table scan merge", 10)
        .as[(Long, Double)].collect().toSeq)

    // sign-LSH twin: first sketch batch onto an empty path
    val lshDir = Files.createTempDirectory("lshboot").toString + "/idx"
    val embs = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding").cache()
    IndexStore.appendBatchSignLsh(embs.where($"vec_id" % 2 === 0),
      "vec_id", "embedding", 64, lshDir, batchId = 0L)
    IndexStore.appendBatchSignLsh(embs.where($"vec_id" % 2 === 1),
      "vec_id", "embedding", 64, lshDir, batchId = 1L)
    def pairs(banded: org.apache.spark.sql.DataFrame) =
      Dedup.cosineVerify(Dedup.signLshCandidates(banded),
          embs, "vec_id", "embedding", threshold = 0.45)
        .orderBy("id1", "id2").as[(Long, Long, Double)].collect().toSeq
    assert(pairs(IndexStore.loadSignLsh(spark, lshDir)) ===
      pairs(Dedup.signLshSketches(embs, "vec_id", "embedding", 64)))
  }

  test("ivf save/load round-trip preserves ann results and probe pruning") {
    val dir = Files.createTempDirectory("ivfidx").toString
    val embs = Tables.embeddings(spark, Sf0001)
    val built = Ivf.build(embs, "vec_id", "embedding")
    IndexStore.saveIvf(built, dir)
    val loaded = IndexStore.loadIvf(spark, dir)
    assert(loaded.centroids.keySet === built.centroids.keySet)
    assert(loaded.sizes === built.sizes)
    val a = Ivf.ann(built, embs, "vec_id", "embedding", query, 10, 200)
      .select("vec_id").as[Long].collect().toSeq
    val b = Ivf.ann(loaded, embs, "vec_id", "embedding", query, 10, 200)
      .select("vec_id").as[Long].collect().toSeq
    assert(a === b)
    // partition pruning: reading one cluster must scan only its directory
    // (batch is the outer partition column now, so it appears first)
    val one = loaded.assignments.where(org.apache.spark.sql.functions.col("cluster") === 0)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*\\(cluster[^\\]]* = 0\\).*"),
      s"expected cluster partition filter in:\n$plan")
  }

  test("ivf batch appends: nearest-cell assignment, crash-replay idempotent, compacts") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("ivfinc").toString
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").cache()
    val base = embs.where($"vec_id" % 3 === 0)
    val b0 = embs.where($"vec_id" % 3 === 1)
    val b1 = embs.where($"vec_id" % 3 === 2)

    // append before any base must fail loudly — assignment needs centroids
    val ex = intercept[IllegalArgumentException] {
      IndexStore.appendBatchIvf(b0, "vec_id", "embedding",
        Files.createTempDirectory("ivfboot").toString + "/idx", 0L)
    }
    assert(ex.getMessage.contains("no trained IVF base"))

    val built = Ivf.build(base, "vec_id", "embedding")
    IndexStore.saveIvf(built, dir)
    IndexStore.appendBatchIvf(b0, "vec_id", "embedding", dir, batchId = 0L)
    IndexStore.appendBatchIvf(b1, "vec_id", "embedding", dir, batchId = 1L)
    // replay of a committed batch is a no-op
    IndexStore.appendBatchIvf(b0, "vec_id", "embedding", dir, batchId = 0L)

    val inc = IndexStore.loadIvf(spark, dir)
    // every vector indexed exactly once; sizes are the merged deltas and
    // agree with the assignment table (probe-mass math counts appends)
    assert(inc.assignments.count() === embs.count())
    assert(inc.assignments.select("id").distinct().count() === embs.count())
    assert(inc.sizes.values.sum === embs.count())
    val fromTable = inc.assignments.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(inc.sizes === fromTable)
    // appended members went to their NEAREST trained centroid
    val appended = inc.assignments
      .join(b0.union(b1), col("id") === col("vec_id"))
      .select("vec_id", "cluster", "embedding")
      .collect()
    appended.foreach { r =>
      val v = r.getSeq[Double](2).toArray
      val nearest = built.centroids.minBy { case (cid, c) =>
        (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }._1
      assert(r.getInt(1) === nearest,
        s"vec ${r.getLong(0)} assigned ${r.getInt(1)}, nearest is $nearest")
    }
    // exhaustive ann over the appended index finds appended vectors
    val query = b0.limit(1).select("embedding").head().getSeq[Double](0).toArray
    val top = Ivf.ann(inc, embs, "vec_id", "embedding", query, 1, Int.MaxValue)
      .select("vec_id").head().getLong(0)
    assert(b0.where($"vec_id" === top).count() === 1)

    // compaction folds the 3 batches into one base partition, same answers
    // (captured first: inc's file listing goes stale once compaction
    // rewrites the layout)
    def members(idx: Ivf.IvfIndex) = idx.assignments.select("id", "cluster")
      .orderBy("id").collect().map(r => (r.get(0).toString, r.getInt(1))).toSeq
    def top10(idx: Ivf.IvfIndex) =
      Ivf.ann(idx, embs, "vec_id", "embedding", query, 10, Int.MaxValue)
        .select("vec_id").as[Long].collect().toSeq
    val (incMembers, incTop) = (members(inc), top10(inc))
    IndexStore.compactIvf(spark, dir)
    val compacted = IndexStore.loadIvf(spark, dir)
    assert(compacted.sizes === inc.sizes)
    assert(compacted.assignments.count() === embs.count())
    assert(members(compacted) === incMembers)
    assert(top10(compacted) === incTop)
    val batchDirs = new java.io.File(s"$dir/assignments").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(batchDirs.toSeq === Seq("batch=-1"))
  }

  test("ivf radii persist, widen on far appends, and keep knnJoinExact exact") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("ivfrad").toString
    // tight angular base: small balls, so the appended outlier's widening
    // is unambiguous
    val base = (0 until 30).map { i =>
      (i.toLong, Seq(1.0, 0.02 * (i % 5), 0.01 * (i % 3)))
    }.toDF("id", "emb")
    val built = Ivf.build(base, "id", "emb", numClusters = 3)
    IndexStore.saveIvf(built, dir)
    val loaded = IndexStore.loadIvf(spark, dir)
    assert(loaded.radii.keySet === built.radii.keySet)
    built.radii.foreach { case (cid, r) =>
      assert(math.abs(loaded.radii(cid) - r) < 1e-12) }
    // append a vector pointing FAR from its cluster's direction: whichever
    // cell it lands in must widen its persisted ball to cover it — without
    // that, knnJoinExact could prune the appended vector's cluster and
    // silently miss it
    val outlier = Seq((99L, Seq(-1.0, 0.9, 0.0))).toDF("id", "emb")
    IndexStore.appendBatchIvf(outlier, "id", "emb", dir, batchId = 0L)
    val after = IndexStore.loadIvf(spark, dir)
    val outlierCell = after.assignments.where(col("id") === 99L)
      .select("cluster").head().getInt(0)
    assert(after.radii(outlierCell) > loaded.radii(outlierCell),
      "far append must widen its cluster's persisted ball radius")
    // the appended outlier IS the nearest neighbor of a same-direction
    // query; the ball-cover join must find it at a shallow probe
    val all = base.union(outlier)
    val probe = Seq((200L, Seq(-1.0, 0.89, 0.01))).toDF("id", "emb")
    val exact = VectorSearch.knnJoin(probe, all, "id", "emb", "id", "emb", k = 2)
      .orderBy("query_id", "rank").collect().toSeq
    val routed = Ivf.knnJoinExact(after, probe, all, "id", "emb", "id", "emb",
        k = 2, probeMass = 0.3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(routed === exact)
    assert(exact.exists(_.getLong(1) == 99L),
      "test setup: the appended outlier should be a top-2 neighbor")
    // compaction folds batches and preserves the widened ball
    IndexStore.compactIvf(spark, dir)
    val compacted = IndexStore.loadIvf(spark, dir)
    assert(math.abs(compacted.radii(outlierCell) - after.radii(outlierCell)) < 1e-12)
  }

  test("ivf DDL metadata (metric, dim) round-trips and is enforced at probe") {
    val dir = Files.createTempDirectory("ivfmeta").toString
    val embs = Tables.embeddings(spark, Sf0001)
    val built = Ivf.build(embs, "vec_id", "embedding", metric = "dotProduct")
    assert(built.metric === "dotProduct")
    assert(built.dim === 64)
    IndexStore.saveIvf(built, dir)
    val loaded = IndexStore.loadIvf(spark, dir)
    assert(loaded.metric === built.metric && loaded.dim === built.dim)
    // Atlas parity (indexes.py:28-31,64): a probe with a similarity other
    // than the one declared at DDL time, or a query vector of the wrong
    // dimensionality, is an error — not a silent rescore
    intercept[IllegalArgumentException] {
      Ivf.ann(loaded, embs, "vec_id", "embedding", query, 10, 200, metric = "cosine")
    }
    intercept[IllegalArgumentException] {
      Ivf.ann(loaded, embs, "vec_id", "embedding", query.take(16), 10, 200,
        metric = "dotProduct")
    }
    // the declared metric + dim probe works
    assert(Ivf.ann(loaded, embs, "vec_id", "embedding", query, 10, 200,
      metric = "dotProduct").count() === 10)
    // an unknown similarity is rejected at DDL time, like Atlas
    intercept[IllegalArgumentException] {
      Ivf.build(embs, "vec_id", "embedding", metric = "manhattan")
    }
  }

  test("pq save/load round-trip; batch appends encode against frozen codebooks, " +
      "replay-idempotent, compacts") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("pqidx").toString
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").cache()
    val base = embs.where($"vec_id" % 3 === 0)
    val b0 = embs.where($"vec_id" % 3 === 1)
    val b1 = embs.where($"vec_id" % 3 === 2)

    // append before any base must fail loudly — encoding needs codebooks
    val ex = intercept[IllegalArgumentException] {
      IndexStore.appendBatchPq(b0, "vec_id", "embedding",
        Files.createTempDirectory("pqboot").toString + "/idx", 0L)
    }
    assert(ex.getMessage.contains("no trained PQ base"))

    val built = Pq.build(base, "vec_id", "embedding")
    IndexStore.savePq(built, dir)
    val loaded = IndexStore.loadPq(spark, dir)
    // DDL + geometry round-trip
    assert(loaded.metric === built.metric && loaded.dim === built.dim)
    assert(loaded.m === built.m && loaded.ksub === built.ksub && loaded.n === built.n)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      built.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // identical ann through the full ADC→re-rank plan
    def top(idx: Pq.PqIndex, table: org.apache.spark.sql.DataFrame) =
      Pq.ann(idx, table, "vec_id", "embedding", query, 10,
          overfetch = Int.MaxValue, forceRerank = true)
        .select("vec_id").as[Long].collect().toSeq
    assert(top(loaded, base) === top(built, base))

    IndexStore.appendBatchPq(b0, "vec_id", "embedding", dir, batchId = 0L)
    IndexStore.appendBatchPq(b1, "vec_id", "embedding", dir, batchId = 1L)
    // replay of a committed batch is a no-op
    IndexStore.appendBatchPq(b0, "vec_id", "embedding", dir, batchId = 0L)

    val inc = IndexStore.loadPq(spark, dir)
    // every vector encoded exactly once; n is the merged per-batch delta
    assert(inc.codes.count() === embs.count())
    assert(inc.codes.select("id").distinct().count() === embs.count())
    assert(inc.n === embs.count())
    // appended codes are exactly an encode against the FROZEN base codebooks
    val appended = inc.codes
      .join(b0.union(b1).select(col("vec_id")), col("id") === col("vec_id"))
      .select("id", "codes").as[(Long, Seq[Int])].collect().toMap
    val direct = Pq.encode(b0.union(b1), "vec_id", "embedding",
        built.codebooks, built.dim)
      .as[(Long, Seq[Int])].collect().toMap
    assert(appended === direct)
    // exhaustive ann over the appended index finds appended vectors
    val q2 = b0.limit(1).select("embedding").head().getSeq[Double](0).toArray
    val best = Pq.ann(inc, embs, "vec_id", "embedding", q2, 1,
        overfetch = Int.MaxValue, forceRerank = true)
      .select("vec_id").head().getLong(0)
    assert(b0.where($"vec_id" === best).count() === 1)

    // compaction folds the 3 batches into one base partition, same answers
    // (capture pre-compaction results first: inc's file listing goes stale
    // the moment compaction rewrites the layout)
    val incTop = top(inc, embs)
    IndexStore.compactPq(spark, dir)
    val compacted = IndexStore.loadPq(spark, dir)
    assert(compacted.n === inc.n)
    assert(compacted.codes.count() === embs.count())
    assert(top(compacted, embs) === incTop)
    val batchDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(batchDirs.toSeq === Seq("batch=-1"))
  }

  test("daily-ingest loop: each arriving batch dedup-checks against the index-so-far, then appends") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("ingestloop").toString
    val embs = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding").cache()
    val waves = Seq(
      embs.where($"vec_id" % 3 === 0),
      embs.where($"vec_id" % 3 === 1),
      embs.where($"vec_id" % 3 === 2))
    IndexStore.saveSignLsh(
      Dedup.signLshSketches(waves.head, "vec_id", "embedding", dim = 64), dir)
    val found = scala.collection.mutable.Set.empty[(Long, Long)]
    waves.tail.zipWithIndex.foreach { case (wave, i) =>
      // 1) check the NEW wave against everything ingested so far
      val hits = Dedup.cosineVerify(
          Dedup.signLshCandidatesAgainst(
            Dedup.signLshSketches(wave, "vec_id", "embedding", dim = 64),
            IndexStore.loadSignLsh(spark, dir)),
          embs, "vec_id", "embedding", 0.45)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      found ++= hits
      // 2) then append the wave (survivors in production; all, here)
      IndexStore.appendBatchSignLsh(wave, "vec_id", "embedding", 64, dir, i.toLong)
    }
    // the loop must surface exactly the brute cross-wave pairs where the
    // LEFT side arrived strictly later than the right side's wave
    val waveOf = embs.select("vec_id").collect()
      .map(_.getLong(0)).map(id => id -> (id % 3)).toMap
    val expected = Dedup.cosinePairs(embs, "vec_id", "embedding", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (late, early) => waveOf(late) > waveOf(early) }.toSet
    assert(found.toSet === expected)
    // and the final index covers the whole corpus
    assert(IndexStore.loadSignLsh(spark, dir).select("id").distinct().count()
      === embs.count())
  }

  test("MRL prefix staleness guard: append/mutation detected loudly; rebuild restores routed==exact") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("prefixidx").toString
    val base = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    IndexStore.savePrefix(base, "vec_id", "embedding", prefixDims = 32, dir)
    def routed(corpus: org.apache.spark.sql.DataFrame) =
      VectorSearch.knnPrefix(corpus, "vec_id", "embedding", query, k = 10,
          prefixDims = 32, overfetch = corpus.count().toInt,
          prefixRel = Some(IndexStore.loadPrefixChecked(spark, dir, corpus,
            "vec_id", "embedding")))
        .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    def exact(corpus: org.apache.spark.sql.DataFrame) =
      VectorSearch.knn(corpus, "vec_id", "embedding", query, k = 10)
        .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    // fresh build over exactly this corpus: check passes, routed == exact
    assert(routed(base) === exact(base))
    // CORPUS GROWTH: the coarse pass would silently never see the new
    // vectors — the guard must refuse instead
    val wave = base.limit(3)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
      .localCheckpoint(true)
    val grown = base.unionByName(wave).localCheckpoint(true)
    val e1 = intercept[IllegalStateException] {
      IndexStore.loadPrefixChecked(spark, dir, grown, "vec_id", "embedding")
    }
    assert(e1.getMessage.contains("STALE") && e1.getMessage.contains("savePrefix"))
    // IN-PLACE MUTATION at unchanged count: content fingerprint catches it
    val mutated = base
      .select($"vec_id", transform($"embedding", x => x * 2.0d).as("embedding"))
      .localCheckpoint(true)
    assert(intercept[IllegalStateException] {
      IndexStore.loadPrefixChecked(spark, dir, mutated, "vec_id", "embedding")
    }.getMessage.contains("STALE"))
    // the REPAIR path with work ∝ batch: append the wave's projection and
    // its additive fingerprint delta — the guard passes and routed ==
    // exact again, no corpus rescan, and a crash replay is a no-op
    IndexStore.appendBatchPrefix(wave, "vec_id", "embedding", dir, batchId = 0L)
    IndexStore.appendBatchPrefix(wave, "vec_id", "embedding", dir, batchId = 0L)
    assert(routed(grown) === exact(grown))
    // compaction folds batches without changing the answer or the guard
    IndexStore.compactPrefix(spark, dir)
    assert(routed(grown) === exact(grown))
    // the ORIGINAL corpus no longer matches the grown index — refuse
    assert(intercept[IllegalStateException] {
      IndexStore.loadPrefixChecked(spark, dir, base, "vec_id", "embedding")
    }.getMessage.contains("STALE"))
    // full rebuild also restores the contract (the --replace path)
    IndexStore.savePrefix(grown, "vec_id", "embedding", prefixDims = 32, dir)
    assert(routed(grown) === exact(grown))
    // a prefix without meta (interrupted build) is refused, not trusted
    val dir2 = Files.createTempDirectory("prefixidx2").toString
    base.limit(1).select($"vec_id".as("id"), $"embedding")
      .write.parquet(s"$dir2/prefix")
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadPrefixChecked(spark, dir2, base, "vec_id", "embedding")
    }.getMessage.contains("never completed"))
  }

  test("streaming prefix upkeep: streamed vectors stay checkable and routed==exact") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("prefixstream").toString
    val ckpt = Files.createTempDirectory("prefixstreamckpt").toString
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    // offline DDL on the even half…
    val half1 = embs.where($"vec_id" % 2 === 0)
    IndexStore.savePrefix(half1, "vec_id", "embedding", prefixDims = 32, dir)
    // …then the odd half arrives as a stream, split across two batches
    // (the streamIntoBm25 test shape — this was the ninth family's
    // missing streaming hook until round 10)
    val half2 = embs.where($"vec_id" % 2 === 1)
      .as[(Long, Seq[Double])].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])](spark)
    val q = IndexStore.stream(mem.toDF().toDF("vec_id", "embedding"), ckpt)(
      IndexStore.appendBatchPrefix(_, "vec_id", "embedding", dir, _))
    try {
      val (b1, b2) = half2.splitAt(half2.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // the appended state passes the checked loader against the FULL corpus
    // (the q_ann_mrl loader contract), and the routed two-stage pass over
    // it equals the exact scan
    val prefixRel = IndexStore.loadPrefixChecked(spark, dir, embs,
      "vec_id", "embedding")
    val routed = VectorSearch.knnPrefix(embs, "vec_id", "embedding", query,
        k = 10, prefixDims = 32, overfetch = embs.count().toInt,
        prefixRel = Some(prefixRel))
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    val exact = VectorSearch.knn(embs, "vec_id", "embedding", query, k = 10)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(routed === exact)
    // and compaction of the streamed batches preserves checkability
    IndexStore.compactPrefix(spark, dir)
    assert(IndexStore.loadPrefixChecked(spark, dir, embs,
      "vec_id", "embedding").count() === embs.count())
  }

  test("IVF deletion wave: tombstones at wave cost, fingerprint subtracts, probes exact over survivors") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("ivfdel").toString
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    IndexStore.createIvf(embs, "vec_id", "embedding", dir, numClusters = 8)
    val before = IndexStore.loadIvf(spark, dir)
    val doomed = embs.where($"vec_id" % 7 === 0)
    val remaining = embs.where($"vec_id" % 7 =!= 0).localCheckpoint(true)
    IndexStore.deleteBatchIvf(doomed, "vec_id", "embedding", dir, 0L)
    // the negative fingerprint delta flips the acceptance: the checked
    // loader now takes exactly the post-delete corpus and refuses the
    // pre-delete one (staleness cuts both ways)
    val idx = IndexStore.loadIvfChecked(spark, dir, remaining, "vec_id",
      "embedding")
    intercept[IllegalStateException](
      IndexStore.loadIvfChecked(spark, dir, embs, "vec_id", "embedding"))
    // tombstoned rows are gone from the live assignments; the merged
    // size deltas count exactly the survivors; radii are untouched (the
    // delete rows' -1 sentinel never wins a max)
    assert(idx.assignments.count() === remaining.count())
    assert(idx.sizes.values.sum === remaining.count())
    assert(before.sizes.values.sum === embs.count())
    assert(idx.radii === before.radii)
    // routed exhaustive == exact over the SURVIVING corpus
    def routed(i: Ivf.IvfIndex) =
      Ivf.ann(i, remaining, "vec_id", "embedding", query, k = 10,
          numCandidates = Int.MaxValue, forceRoute = true)
        .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    val exact = VectorSearch.knn(remaining, "vec_id", "embedding", query,
        k = 10)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(routed(idx) === exact)
    // a replayed delete wave is a no-op (marker-keyed idempotence)
    IndexStore.deleteBatchIvf(doomed, "vec_id", "embedding", dir, 0L)
    assert(IndexStore.loadIvf(spark, dir).sizes.values.sum
      === remaining.count())
    // compaction physically purges the tombstones and the folded index
    // stays checkable and exact
    IndexStore.compactIvf(spark, dir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "tombstones")))
    val folded = IndexStore.loadIvfChecked(spark, dir, remaining, "vec_id",
      "embedding")
    assert(routed(folded) === exact)
    // deleting a row that was never indexed drifts the summed fingerprint
    // and the NEXT checked load refuses — the guard doing its job
    IndexStore.deleteBatchIvf(
      Seq((999999L, Seq.fill(before.dim)(0.25))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, 1L)
    intercept[IllegalStateException](
      IndexStore.loadIvfChecked(spark, dir, remaining, "vec_id", "embedding"))
  }

  test("PQ and prefix deletion waves: erased vectors leave the probes; guards flip; compaction purges") {
    import org.apache.spark.sql.functions._
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    val doomed = embs.where($"vec_id" % 7 === 0)
    val remaining = embs.where($"vec_id" % 7 =!= 0).localCheckpoint(true)
    // ---- PQ
    val pqDir = Files.createTempDirectory("pqdel").toString
    IndexStore.savePq(Pq.build(embs, "vec_id", "embedding", m = 8,
      ksub = 8), pqDir, source = Some((embs, "vec_id", "embedding")))
    IndexStore.deleteBatchPq(doomed, "vec_id", "embedding", pqDir, 0L)
    val pq = IndexStore.loadPqChecked(spark, pqDir, remaining, "vec_id",
      "embedding")
    intercept[IllegalStateException](
      IndexStore.loadPqChecked(spark, pqDir, embs, "vec_id", "embedding"))
    assert(pq.codes.count() === remaining.count())
    assert(pq.n === remaining.count())
    // the exhaustive-overfetch ADC path degenerates to exact over the
    // SURVIVORS — an erased vector surfacing anywhere fails this
    val adc = Pq.ann(pq, remaining, "vec_id", "embedding", query, k = 10,
        overfetch = remaining.count().toInt)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    val exact = VectorSearch.knn(remaining, "vec_id", "embedding", query,
        k = 10)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(adc === exact)
    IndexStore.compactPq(spark, pqDir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(pqDir, "tombstones")))
    assert(IndexStore.loadPqChecked(spark, pqDir, remaining, "vec_id",
      "embedding").n === remaining.count())
    // an all-unknown erasure still commits: the next checked load refuses
    IndexStore.deleteBatchPq(
      Seq((999999L, Seq.fill(pq.dim)(0.25))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", pqDir, 1L)
    intercept[IllegalStateException](
      IndexStore.loadPqChecked(spark, pqDir, remaining, "vec_id",
        "embedding"))
    // ---- prefix
    val pfDir = Files.createTempDirectory("prefixdel").toString
    IndexStore.savePrefix(embs, "vec_id", "embedding", prefixDims = 32,
      pfDir)
    IndexStore.deleteBatchPrefix(doomed, "vec_id", "embedding", pfDir, 0L)
    val rel = IndexStore.loadPrefixChecked(spark, pfDir, remaining,
      "vec_id", "embedding")
    assert(rel.count() === remaining.count())
    intercept[IllegalStateException](
      IndexStore.loadPrefixChecked(spark, pfDir, embs, "vec_id",
        "embedding"))
    IndexStore.compactPrefix(spark, pfDir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(pfDir, "tombstones")))
    assert(IndexStore.loadPrefixChecked(spark, pfDir, remaining, "vec_id",
      "embedding").count() === remaining.count())
  }

  test("deletion waves across the remaining families: id-keyed tombstones, fingerprint-only grams, exact stats subtraction") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .localCheckpoint(true)
    val doomedDocs = docs.where($"doc_id" % 9 === 0)
    val remainingDocs = docs.where($"doc_id" % 9 =!= 0).localCheckpoint(true)
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    val doomedEmbs = embs.where($"vec_id" % 7 === 0)
    val remainingEmbs = embs.where($"vec_id" % 7 =!= 0).localCheckpoint(true)
    // ---- sign-LSH: erased vectors leave the sketch relation
    val slDir = Files.createTempDirectory("sldel").toString
    IndexStore.saveSignLsh(
      graft.dedup.Dedup.signLshSketches(embs, "vec_id", "embedding", 64),
      slDir, source = Some((embs, "vec_id", "embedding")))
    IndexStore.deleteBatchSignLsh(doomedEmbs, "vec_id", "embedding",
      slDir, 0L)
    val sl = IndexStore.loadSignLshChecked(spark, slDir, remainingEmbs,
      "vec_id", "embedding")
    assert(sl.select("id").distinct().count() === remainingEmbs.count())
    intercept[IllegalStateException](IndexStore.loadSignLshChecked(spark,
      slDir, embs, "vec_id", "embedding"))
    IndexStore.compactSignLsh(spark, slDir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(slDir, "tombstones")))
    assert(IndexStore.loadSignLshChecked(spark, slDir, remainingEmbs,
      "vec_id", "embedding").select("id").distinct().count()
      === remainingEmbs.count())
    // ---- phrase: erased docs stop matching lookups
    val phDir = Files.createTempDirectory("phdel").toString
    IndexStore.savePhrase(docs, "doc_id", "text", 8, phDir)
    IndexStore.deleteBatchPhrase(doomedDocs, "doc_id", "text", phDir, 0L)
    val ph = IndexStore.loadPhraseChecked(spark, phDir, remainingDocs,
      "doc_id", "text")
    assert(ph.postings.select("id").distinct().count()
      === remainingDocs.count())
    intercept[IllegalStateException](IndexStore.loadPhraseChecked(spark,
      phDir, docs, "doc_id", "text"))
    // ---- windows: the rerank never scores erased docs
    val wDir = Files.createTempDirectory("wdel").toString
    IndexStore.saveWindows(docs, "doc_id", "text", 8, wDir)
    IndexStore.deleteBatchWindows(doomedDocs, "doc_id", "text", wDir, 0L)
    assert(IndexStore.loadWindowsChecked(spark, wDir, remainingDocs,
      "doc_id", "text").windows.select("id").distinct().count()
      === remainingDocs.count())
    // ---- containment: both screen directions lose the erased docs
    val cDir = Files.createTempDirectory("cdel").toString
    IndexStore.saveContainment(docs, "doc_id", "text", 0.5, cDir)
    IndexStore.deleteBatchContainment(doomedDocs, "doc_id", "text", cDir, 0L)
    val ci = IndexStore.loadContainmentChecked(spark, cDir, remainingDocs,
      "doc_id", "text")
    assert(ci.sizes.count() === remainingDocs.count())
    assert(ci.postings.select("id").distinct().count()
      === remainingDocs.count())
    intercept[IllegalStateException](IndexStore.loadContainmentChecked(
      spark, cDir, docs, "doc_id", "text"))
    // ---- grams: fingerprint-only (membership is veto-only, so leftover
    // hashes cost a scan, never a wrong answer); checked loader flips
    val gDir = Files.createTempDirectory("gdel").toString
    IndexStore.saveGrams(docs, "doc_id", "text", 8, gDir)
    val hashesBefore = IndexStore.loadGrams(spark, gDir).hashes.count()
    IndexStore.deleteBatchGrams(doomedDocs, "doc_id", "text", gDir, 0L)
    assert(IndexStore.loadGramsChecked(spark, gDir, remainingDocs,
      "doc_id", "text").hashes.count() === hashesBefore)
    intercept[IllegalStateException](IndexStore.loadGramsChecked(spark,
      gDir, docs, "doc_id", "text"))
    // ---- stats: the merged catalog equals a fresh ANALYZE of survivors
    val sDir = Files.createTempDirectory("statsdel").toString
    IndexStore.saveStats(docs, "doc_id", "text", Seq("lang", "source"),
      sDir, hists = Map("n_chars" -> IndexStore.HistSpec(0L, 640L, 16)))
    IndexStore.deleteBatchStats(doomedDocs, "doc_id", "text", sDir, 0L)
    val merged = IndexStore.loadStatsChecked(spark, sDir, remainingDocs,
        "doc_id", "text")
      .as[(String, String, Long)].collect().toSet
    intercept[IllegalStateException](IndexStore.loadStatsChecked(spark,
      sDir, docs, "doc_id", "text"))
    val freshDir = Files.createTempDirectory("statsfresh").toString
    IndexStore.saveStats(remainingDocs, "doc_id", "text",
      Seq("lang", "source"), freshDir,
      hists = Map("n_chars" -> IndexStore.HistSpec(0L, 640L, 16)))
    val fresh = IndexStore.loadStats(spark, freshDir)
      .as[(String, String, Long)].collect().toSet
    assert(merged === fresh)
  }

  test("IVF staleness guard: append/mutation detected loudly; repair at batch cost keeps probes exact") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("ivfguard").toString
    val base = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    // createIvf = build + save + fingerprint in one call
    IndexStore.createIvf(base, "vec_id", "embedding", dir, numClusters = 8)
    def routed(corpus: org.apache.spark.sql.DataFrame) =
      Ivf.ann(IndexStore.loadIvfChecked(spark, dir, corpus, "vec_id",
          "embedding"), corpus, "vec_id", "embedding", query, k = 10,
          numCandidates = Int.MaxValue, forceRoute = true)
        .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    def exact(corpus: org.apache.spark.sql.DataFrame) =
      VectorSearch.knn(corpus, "vec_id", "embedding", query, k = 10)
        .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(routed(base) === exact(base))
    // CORPUS GROWTH: a sub-exhaustive probe would silently never surface
    // the new vectors (the knnJoin index-coverage contract) — refuse
    val wave = base.limit(3)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
      .localCheckpoint(true)
    val grown = base.unionByName(wave).localCheckpoint(true)
    val e1 = intercept[IllegalStateException] {
      IndexStore.loadIvfChecked(spark, dir, grown, "vec_id", "embedding")
    }
    assert(e1.getMessage.contains("STALE") &&
      e1.getMessage.contains("appendBatchIvf"))
    // IN-PLACE MUTATION at unchanged count: an assignment computed from a
    // vector that has since changed is exactly as stale as a missing one
    val mutated = base
      .select($"vec_id", transform($"embedding", x => x * 2.0d).as("embedding"))
      .localCheckpoint(true)
    assert(intercept[IllegalStateException] {
      IndexStore.loadIvfChecked(spark, dir, mutated, "vec_id", "embedding")
    }.getMessage.contains("STALE"))
    // REPAIR at batch cost: append the wave (fprint delta rides the same
    // commit), crash replay is a no-op, probes are exact again
    IndexStore.appendBatchIvf(wave, "vec_id", "embedding", dir, batchId = 0L)
    IndexStore.appendBatchIvf(wave, "vec_id", "embedding", dir, batchId = 0L)
    assert(routed(grown) === exact(grown))
    // compaction preserves the summed fingerprint — still checkable
    IndexStore.compactIvf(spark, dir)
    assert(routed(grown) === exact(grown))
    // the ORIGINAL corpus no longer matches the grown index — refuse
    assert(intercept[IllegalStateException] {
      IndexStore.loadIvfChecked(spark, dir, base, "vec_id", "embedding")
    }.getMessage.contains("STALE"))
    // an index saved WITHOUT its source has no fingerprint: the checked
    // loader refuses with rebuild guidance instead of guessing
    val dir2 = Files.createTempDirectory("ivfguard2").toString
    IndexStore.saveIvf(Ivf.build(base, "vec_id", "embedding",
      numClusters = 8), dir2)
    assert(intercept[IllegalStateException] {
      IndexStore.loadIvfChecked(spark, dir2, base, "vec_id", "embedding")
    }.getMessage.contains("fingerprint"))
    // ...while the unchecked loader still works for per-query callers
    assert(IndexStore.loadIvf(spark, dir2).sizes.values.sum === base.count())
  }

  test("BM25/PQ/sign-LSH staleness guards: stale refuses, append repairs, compaction keeps checkability") {
    import org.apache.spark.sql.functions._
    // --- BM25 (text content) ---
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
      .localCheckpoint(true)
    val dWave = docs.limit(2)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
      .localCheckpoint(true)
    val dGrown = docs.unionByName(dWave).localCheckpoint(true)
    val bm25Dir = Files.createTempDirectory("bm25guard").toString
    IndexStore.createBm25(docs, "doc_id", "text", bm25Dir)
    assert(IndexStore.loadBm25Checked(spark, bm25Dir, docs, "doc_id",
      "text").numDocs === docs.count())
    assert(intercept[IllegalStateException] {
      IndexStore.loadBm25Checked(spark, bm25Dir, dGrown, "doc_id", "text")
    }.getMessage.contains("STALE"))
    IndexStore.appendBatchBm25(dWave, "doc_id", "text", bm25Dir, 0L)
    assert(IndexStore.loadBm25Checked(spark, bm25Dir, dGrown, "doc_id",
      "text").numDocs === dGrown.count())
    IndexStore.compactBm25(spark, bm25Dir)
    assert(IndexStore.loadBm25Checked(spark, bm25Dir, dGrown, "doc_id",
      "text").numDocs === dGrown.count())
    assert(intercept[IllegalStateException] {
      IndexStore.loadBm25Checked(spark, bm25Dir, docs, "doc_id", "text")
    }.getMessage.contains("STALE"))
    // an index saved WITHOUT its source is refused with rebuild guidance
    val bm25Legacy = Files.createTempDirectory("bm25legacy").toString
    IndexStore.saveBm25(TextSearch.buildIndex(docs, "doc_id", "text"),
      bm25Legacy)
    assert(intercept[IllegalStateException] {
      IndexStore.loadBm25Checked(spark, bm25Legacy, docs, "doc_id", "text")
    }.getMessage.contains("fingerprint"))
    // a sourceless REBUILD over a previously-fingerprinted path drops the
    // old marks — honestly uncheckable, never checked against the old
    // corpus's fingerprint
    IndexStore.saveBm25(TextSearch.buildIndex(dGrown, "doc_id", "text"),
      bm25Dir)
    assert(intercept[IllegalStateException] {
      IndexStore.loadBm25Checked(spark, bm25Dir, dGrown, "doc_id", "text")
    }.getMessage.contains("fingerprint"))
    // --- PQ (vector content) ---
    val embs = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
      .localCheckpoint(true)
    val eWave = embs.limit(2)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
      .localCheckpoint(true)
    val eGrown = embs.unionByName(eWave).localCheckpoint(true)
    val pqDir = Files.createTempDirectory("pqguard").toString
    IndexStore.savePq(Pq.build(embs, "vec_id", "embedding"), pqDir,
      source = Some((embs, "vec_id", "embedding")))
    assert(IndexStore.loadPqChecked(spark, pqDir, embs, "vec_id",
      "embedding").n === embs.count())
    assert(intercept[IllegalStateException] {
      IndexStore.loadPqChecked(spark, pqDir, eGrown, "vec_id", "embedding")
    }.getMessage.contains("STALE"))
    IndexStore.appendBatchPq(eWave, "vec_id", "embedding", pqDir, 0L)
    assert(IndexStore.loadPqChecked(spark, pqDir, eGrown, "vec_id",
      "embedding").n === eGrown.count())
    IndexStore.compactPq(spark, pqDir)
    assert(IndexStore.loadPqChecked(spark, pqDir, eGrown, "vec_id",
      "embedding").n === eGrown.count())
    // --- sign-LSH (sketch side table) ---
    val lshDir = Files.createTempDirectory("lshguard").toString
    IndexStore.saveSignLsh(
      graft.dedup.Dedup.signLshSketches(embs, "vec_id", "embedding", 64),
      lshDir, source = Some((embs, "vec_id", "embedding")))
    assert(IndexStore.loadSignLshChecked(spark, lshDir, embs, "vec_id",
      "embedding").count() > 0)
    assert(intercept[IllegalStateException] {
      IndexStore.loadSignLshChecked(spark, lshDir, eGrown, "vec_id",
        "embedding")
    }.getMessage.contains("STALE"))
    IndexStore.appendBatchSignLsh(eWave, "vec_id", "embedding", 64, lshDir, 0L)
    val repaired = IndexStore.loadSignLshChecked(spark, lshDir, eGrown,
      "vec_id", "embedding")
    assert(repaired.select("id").distinct().count() === eGrown.count())
    IndexStore.compactSignLsh(spark, lshDir)
    assert(IndexStore.loadSignLshChecked(spark, lshDir, eGrown, "vec_id",
      "embedding").select("id").distinct().count() === eGrown.count())
  }

  test("containment/gram/phrase/window staleness guards: stale refuses, append repairs, compaction keeps checkability") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
      .localCheckpoint(true)
    val wave = docs.limit(2)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
      .localCheckpoint(true)
    val grown = docs.unionByName(wave).localCheckpoint(true)
    // one lifecycle driver per family: (name, save, append, loadChecked,
    // compact) — the guard arithmetic is shared, so the pinned contract
    // is the same four-step dance for each
    type Fam = (String,
      String => Unit,               // save(base over docs)
      (String, Long) => Unit,       // appendBatch(wave)
      (String, org.apache.spark.sql.DataFrame) => Unit, // loadChecked
      String => Unit)               // compact
    val families: Seq[Fam] = Seq(
      ("containment",
        p => IndexStore.saveContainment(docs, "doc_id", "text", 0.9, p),
        (p, b) => IndexStore.appendBatchContainment(wave, "doc_id", "text", p, b),
        (p, c) => { IndexStore.loadContainmentChecked(spark, p, c, "doc_id", "text"); () },
        p => IndexStore.compactContainment(spark, p)),
      ("grams",
        p => IndexStore.saveGrams(docs, "doc_id", "text", 4, p),
        (p, b) => IndexStore.appendBatchGrams(wave, "doc_id", "text", p, b),
        (p, c) => { IndexStore.loadGramsChecked(spark, p, c, "doc_id", "text"); () },
        p => IndexStore.compactGrams(spark, p)),
      ("phrase",
        p => IndexStore.savePhrase(docs, "doc_id", "text", 4, p),
        (p, b) => IndexStore.appendBatchPhrase(wave, "doc_id", "text", p, b),
        (p, c) => { IndexStore.loadPhraseChecked(spark, p, c, "doc_id", "text"); () },
        p => IndexStore.compactPhrase(spark, p)),
      ("windows",
        p => IndexStore.saveWindows(docs, "doc_id", "text", 8, p),
        (p, b) => IndexStore.appendBatchWindows(wave, "doc_id", "text", p, b),
        (p, c) => { IndexStore.loadWindowsChecked(spark, p, c, "doc_id", "text"); () },
        p => IndexStore.compactWindows(spark, p)))
    for ((name, save, append, loadChecked, compact) <- families) {
      val dir = Files.createTempDirectory(s"${name}guard").toString
      save(dir)
      loadChecked(dir, docs) // fresh: passes
      val e = intercept[IllegalStateException] { loadChecked(dir, grown) }
      assert(e.getMessage.contains("STALE"), s"$name: ${e.getMessage}")
      append(dir, 0L)
      append(dir, 0L) // replay is a no-op
      loadChecked(dir, grown) // repaired at batch cost
      compact(dir)
      loadChecked(dir, grown) // fold preserves the summed fingerprint
      assert(intercept[IllegalStateException] { loadChecked(dir, docs) }
        .getMessage.contains("STALE"), s"$name post-compact original-corpus")
    }
  }

  test("stats catalog: save+append sum to the direct group-by; replay idempotent; helpers look up") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("statscat").toString
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text", "lang", "source").localCheckpoint(true)
    val half1 = docs.where($"doc_id" % 2 === 0)
    val half2 = docs.where($"doc_id" % 2 === 1)
    IndexStore.saveStats(half1, "doc_id", "text", Seq("lang", "source"), dir)
    IndexStore.appendBatchStats(half2, "doc_id", "text", dir, batchId = 0L)
    // foreachBatch retry of a committed batch is a no-op
    IndexStore.appendBatchStats(half2, "doc_id", "text", dir, batchId = 0L)
    val stats = IndexStore.loadStats(spark, dir)
    def direct(f: String) = docs.groupBy(col(f).cast("string")).count()
      .as[(String, Long)].collect().toSet.map((t: (String, Long)) =>
        (f, t._1, t._2))
    assert(stats.as[(String, String, Long)].collect().toSet ===
      direct("lang") ++ direct("source"))
    // plan-time lookups: totals, value counts, selectivity, honest zero,
    // loud refusal of an undeclared field
    val n = docs.count()
    val en = docs.where($"lang" === "en").count()
    assert(IndexStore.statsRows(stats, "lang") === n)
    assert(IndexStore.statsCount(stats, "lang", "en") === en)
    assert(IndexStore.statsSelectivity(stats, "lang", "en") ===
      en.toDouble / n)
    assert(IndexStore.statsCount(stats, "lang", "tlh") === 0L)
    assert(intercept[IllegalArgumentException] {
      IndexStore.statsRows(stats, "no_such_field")
    }.getMessage.contains("no field"))
  }

  test("stats staleness guard dance; compaction keeps counts; cardinality cap refuses free text") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("statsguard").toString
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text", "lang", "source").localCheckpoint(true)
    val wave = docs.limit(2)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text", $"lang",
        $"source")
      .localCheckpoint(true)
    val grown = docs.unionByName(wave).localCheckpoint(true)
    IndexStore.saveStats(docs, "doc_id", "text", Seq("lang"), dir)
    def checked(c: org.apache.spark.sql.DataFrame) =
      IndexStore.loadStatsChecked(spark, dir, c, "doc_id", "text")
    checked(docs) // fresh: passes
    // a selectivity read off stale stats mis-prices every plan — refuse
    assert(intercept[IllegalStateException] { checked(grown) }
      .getMessage.contains("STALE"))
    IndexStore.appendBatchStats(wave, "doc_id", "text", dir, batchId = 0L)
    checked(grown) // repaired at batch cost
    IndexStore.compactStats(spark, dir)
    val folded = checked(grown) // fold preserves the summed fingerprint
    assert(folded.as[(String, String, Long)].collect().toSet ===
      grown.groupBy($"lang".cast("string")).count()
        .as[(String, Long)].collect().toSet
        .map((t: (String, Long)) => ("lang", t._1, t._2)))
    assert(intercept[IllegalStateException] { checked(docs) }
      .getMessage.contains("STALE"))
    // the low-cardinality DDL cap: a free-text field would make the
    // catalog corpus-sized — the exact failure it exists to avoid
    val big = spark.range(IndexStore.StatsMaxDistinct + 1)
      .select($"id".as("doc_id"), $"id".cast("string").as("txt"))
    assert(intercept[IllegalArgumentException] {
      IndexStore.saveStats(big, "doc_id", "txt", Seq("txt"),
        Files.createTempDirectory("statscap").toString)
    }.getMessage.contains("low-cardinality"))
  }

  test("streaming stats upkeep equals a full rebuild over the final corpus") {
    val dir = Files.createTempDirectory("statsinc").toString
    val ckpt = Files.createTempDirectory("statsckpt").toString
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text", "lang", "source").localCheckpoint(true)
    val half1 = docs.where($"doc_id" % 2 === 0)
    val half2 = docs.where($"doc_id" % 2 === 1)
      .as[(Long, String, String, String)].collect()
    IndexStore.saveStats(half1, "doc_id", "text", Seq("lang", "source"), dir)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, String)](spark)
    val q = IndexStore.stream(
      mem.toDF().toDF("doc_id", "text", "lang", "source"), ckpt)(
      IndexStore.appendBatchStats(_, "doc_id", "text", dir, _))
    try {
      val (b1, b2) = half2.splitAt(half2.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // the streamed state passes the checked loader against the FULL
    // corpus and its counts equal a fresh single-pass build
    val streamed = IndexStore
      .loadStatsChecked(spark, dir, docs, "doc_id", "text")
      .as[(String, String, Long)].collect().toSet
    val rebuilt = Files.createTempDirectory("statsfull").toString
    IndexStore.saveStats(docs, "doc_id", "text", Seq("lang", "source"),
      rebuilt)
    assert(streamed === IndexStore.loadStats(spark, rebuilt)
      .as[(String, String, Long)].collect().toSet)
  }

  test("histogram stats: bucket counts sum across appends; aligned ranges exact, misaligned bounded by edge mass") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("statshist").toString
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text", "lang", "n_chars").localCheckpoint(true)
    val h = IndexStore.HistSpec(0L, 640L, 16)
    IndexStore.saveStats(docs.where($"doc_id" % 2 === 0), "doc_id", "text",
      Seq("lang"), dir, hists = Map("n_chars" -> h))
    IndexStore.appendBatchStats(docs.where($"doc_id" % 2 === 1), "doc_id",
      "text", dir, batchId = 0L)
    val stats = IndexStore.loadStats(spark, dir).localCheckpoint(true)
    // bucket counts equal the direct integer-division group-by
    val direct = docs.groupBy(expr(
        "cast(case when n_chars < 0 then -1 when n_chars >= 640 then 16 " +
          "else n_chars div 40 end as string)").as("value"))
      .count().as[(String, Long)].collect().toSet
    assert(stats.where($"field" === "n_chars").select("value", "cnt")
      .as[(String, Long)].collect().toSet === direct)
    // a bucket-boundary-ALIGNED range estimate is exact by construction
    val n = docs.count().toDouble
    val aligned = docs.where($"n_chars" >= 200 && $"n_chars" < 400)
      .count() / n
    assert(IndexStore.histSelectivity(stats, "n_chars", h, 200L, 400L)
      === aligned)
    // a misaligned range is off by at most the two edge buckets' mass
    val truth = docs.where($"n_chars" >= 210 && $"n_chars" < 390)
      .count() / n
    val est = IndexStore.histSelectivity(stats, "n_chars", h, 210L, 390L)
    val edgeMass = docs.where(($"n_chars" >= 200 && $"n_chars" < 240) ||
      ($"n_chars" >= 360 && $"n_chars" < 400)).count() / n
    assert(math.abs(est - truth) <= edgeMass,
      s"estimate $est vs truth $truth beyond edge mass $edgeMass")
    // DDL + estimator guard rails: non-dividing boundaries, a range
    // outside the declared [lo, hi), a field declared both ways
    assert(intercept[IllegalArgumentException] {
      IndexStore.HistSpec(0L, 100L, 16)
    }.getMessage.contains("divide evenly"))
    assert(intercept[IllegalArgumentException] {
      IndexStore.histSelectivity(stats, "n_chars", h, -10L, 20L)
    }.getMessage.contains("outside the histogram"))
    assert(intercept[IllegalArgumentException] {
      IndexStore.saveStats(docs, "doc_id", "text", Seq("n_chars"),
        Files.createTempDirectory("statsboth").toString,
        hists = Map("n_chars" -> h))
    }.getMessage.contains("not both"))
    // compaction preserves the histogram DDL and the folded counts
    IndexStore.compactStats(spark, dir)
    assert(IndexStore.loadHistSpecs(spark, dir) === Map("n_chars" -> h))
    assert(IndexStore.loadStats(spark, dir)
      .where($"field" === "n_chars").select("value", "cnt")
      .as[(String, Long)].collect().toSet === direct)
  }

  test("histogram quantile: the bracket provably contains the true rank value; edge refusals") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("statsquant").toString
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text", "n_chars").localCheckpoint(true)
    val h = IndexStore.HistSpec(0L, 640L, 16)
    IndexStore.saveStats(docs, "doc_id", "text", Seq.empty, dir,
      hists = Map("n_chars" -> h))
    val stats = IndexStore.loadStats(spark, dir).localCheckpoint(true)
    val n = docs.count()
    val sorted = docs.select($"n_chars".cast("long")).orderBy("n_chars")
      .as[Long].collect()
    for (p <- Seq(0.1, 0.25, 0.5, 0.9, 1.0)) {
      val (lo, hi) = IndexStore.histQuantile(stats, "n_chars", h, p)
      val truth = sorted(math.ceil(p * n).toInt - 1)
      assert(lo <= truth && truth < hi,
        s"p=$p: true rank value $truth outside bracket [$lo, $hi)")
      assert(hi - lo === h.width)
    }
    // pure-arithmetic refusals: bad p, empty field, out-of-domain rank
    intercept[IllegalArgumentException](
      IndexStore.histQuantileFromCounts(Map(0L -> 1L), 1L, h, 0.0))
    intercept[IllegalArgumentException](
      IndexStore.histQuantileFromCounts(Map(0L -> 1L), 0L, h, 0.5))
    // everything in the overflow bucket: no finite bracket, refused
    val e = intercept[IllegalArgumentException](
      IndexStore.histQuantileFromCounts(Map(16L -> 10L), 10L, h, 0.5))
    assert(e.getMessage.contains("overflow"))
    val e2 = intercept[IllegalArgumentException](
      IndexStore.histQuantileFromCounts(Map(-1L -> 10L), 10L, h, 0.5))
    assert(e2.getMessage.contains("underflow"))
    // a NULL-bearing field: the rank is over the NON-NULL count (NULLs
    // never land in a bucket), so a high-p quantile brackets the true
    // value instead of shifting upward or blaming the catalog
    val nullDir = Files.createTempDirectory("statsquantnull").toString
    val hv = IndexStore.HistSpec(0L, 100L, 10)
    val withNulls = spark.range(100).select($"id",
      when($"id" < 80, $"id").otherwise(lit(null)).cast("long").as("v"),
      concat(lit("t"), $"id").as("txt"))
    IndexStore.saveStats(withNulls, "id", "txt", Seq.empty, nullDir,
      hists = Map("v" -> hv))
    val nullStats = IndexStore.loadStats(spark, nullDir)
    // values are 0..79 uniform; p=0.95 over the 80 NON-NULL rows is rank
    // 76 → value 75 → bucket [70, 80). Over the NULL-inclusive 100 the
    // rank would be 95 — past every bucket, the misleading
    // "corrupt catalog" failure this pins against.
    assert(IndexStore.histQuantile(nullStats, "v", hv, 0.95) === (70L, 80L))
    assert(IndexStore.histQuantile(nullStats, "v", hv, 1.0) === (70L, 80L))
  }

  test("hot-cluster split: cell-cost maintenance, exactness through the switch, crash-repair idempotent") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("ivfsplit").toString
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    // full lifecycle before the split: base + append wave + delete wave
    IndexStore.createIvf(embs.where($"vec_id" % 2 === 0), "vec_id",
      "embedding", dir, numClusters = 6)
    IndexStore.appendBatchIvf(embs.where($"vec_id" % 2 === 1), "vec_id",
      "embedding", dir, batchId = 0L)
    val doomed = embs.where($"vec_id" % 11 === 0).localCheckpoint(true)
    val survivors = embs.where($"vec_id" % 11 =!= 0).localCheckpoint(true)
    IndexStore.deleteBatchIvf(doomed, "vec_id", "embedding", dir, 0L)
    val before = IndexStore.loadIvfChecked(spark, dir, survivors, "vec_id",
      "embedding")
    val advice = IndexStore.adviseSplitIvf(before, factor = 1.0001)
    assert(advice.advise && advice.size === before.sizes.values.max)
    // split the advised cell — the wave id deliberately COLLIDES with the
    // committed append id 0 (own marker namespace: must not no-op)
    IndexStore.splitClusterIvf(survivors, "vec_id", "embedding", dir,
      advice.cluster, batchId = 0L)
    val after = IndexStore.loadIvfChecked(spark, dir, survivors, "vec_id",
      "embedding")
    // one more cell, old cell gone, every member still assigned once
    assert(after.sizes.size === before.sizes.size + 1)
    assert(!after.sizes.contains(advice.cluster) &&
      !after.centroids.contains(advice.cluster))
    assert(after.centroids.keySet === after.sizes.keySet)
    assert(after.sizes.values.sum === survivors.count())
    assert(after.assignments.count() === survivors.count())
    assert(after.assignments.select("id").distinct().count()
      === survivors.count())
    // children partition the old cell's mass
    val kids = after.sizes.keySet -- before.sizes.keySet
    assert(kids.size === 2)
    assert(kids.toSeq.map(after.sizes).sum === advice.size)
    // the old cell's physical partitions are gone
    assert(java.nio.file.Files.walk(
        java.nio.file.Paths.get(dir, "assignments"), 2)
      .filter(p => p.getFileName.toString == s"cluster=${advice.cluster}")
      .count() === 0L)
    // exactness through the switch: routed exhaustive == exact over the
    // survivors, and the ball-cover exact join still agrees (sound radii)
    def routed(i: Ivf.IvfIndex) =
      Ivf.ann(i, survivors, "vec_id", "embedding", query, k = 10,
          numCandidates = Int.MaxValue, forceRoute = true)
        .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    val exact = VectorSearch.knn(survivors, "vec_id", "embedding", query,
        k = 10)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(routed(after) === exact)
    // crash-repair: re-running with the same wave id is idempotent and
    // re-executes the switch + cleanup from the committed wave
    IndexStore.splitClusterIvf(survivors, "vec_id", "embedding", dir,
      advice.cluster, batchId = 0L)
    val again = IndexStore.loadIvfChecked(spark, dir, survivors, "vec_id",
      "embedding")
    assert(again.sizes === after.sizes)
    assert(again.centroids.keySet === after.centroids.keySet)
    assert(routed(again) === exact)
    // compaction folds the split state and stays checkable + exact
    IndexStore.compactIvf(spark, dir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "splits")))
    val folded = IndexStore.loadIvfChecked(spark, dir, survivors, "vec_id",
      "embedding")
    assert(routed(folded) === exact)
    // guard rails: unknown cell, sub-2 membership via a fresh tiny index
    intercept[IllegalArgumentException](IndexStore.splitClusterIvf(
      survivors, "vec_id", "embedding", dir, cluster = 999, batchId = 1L))
    // ---- merge: the split's twin — fuse the two smallest cells, same
    // switch discipline, routed==exact through and after, repair-idempotent
    val preMerge = IndexStore.loadIvfChecked(spark, dir, survivors,
      "vec_id", "embedding")
    val mAdvice = IndexStore.adviseMergeIvf(preMerge, factor = 100.0)
    assert(mAdvice.advise)
    assert(mAdvice.combinedSize === preMerge.sizes(mAdvice.clusterA) +
      preMerge.sizes(mAdvice.clusterB))
    IndexStore.mergeClustersIvf(survivors, "vec_id", "embedding", dir,
      mAdvice.clusterA, mAdvice.clusterB, batchId = 0L)
    val merged = IndexStore.loadIvfChecked(spark, dir, survivors,
      "vec_id", "embedding")
    assert(merged.sizes.size === preMerge.sizes.size - 1)
    assert(!merged.sizes.contains(mAdvice.clusterA) &&
      !merged.sizes.contains(mAdvice.clusterB))
    assert(merged.centroids.keySet === merged.sizes.keySet)
    assert(merged.sizes.values.sum === survivors.count())
    assert(merged.assignments.select("id").distinct().count()
      === survivors.count())
    val mergedCell = (merged.sizes.keySet -- preMerge.sizes.keySet).head
    assert(merged.sizes(mergedCell) === mAdvice.combinedSize)
    assert(routed(merged) === exact)
    // repair re-run is idempotent
    IndexStore.mergeClustersIvf(survivors, "vec_id", "embedding", dir,
      mAdvice.clusterA, mAdvice.clusterB, batchId = 0L)
    val mergedAgain = IndexStore.loadIvfChecked(spark, dir, survivors,
      "vec_id", "embedding")
    assert(mergedAgain.sizes === merged.sizes)
    assert(routed(mergedAgain) === exact)
    // the old cells' physical partitions are gone
    for (c <- Seq(mAdvice.clusterA, mAdvice.clusterB))
      assert(java.nio.file.Files.walk(
          java.nio.file.Paths.get(dir, "assignments"), 2)
        .filter(p => p.getFileName.toString == s"cluster=$c")
        .count() === 0L)
    // compaction folds the merged state and stays checkable + exact
    IndexStore.compactIvf(spark, dir)
    assert(routed(IndexStore.loadIvfChecked(spark, dir, survivors,
      "vec_id", "embedding")) === exact)
    intercept[IllegalArgumentException](IndexStore.mergeClustersIvf(
      survivors, "vec_id", "embedding", dir, 5, 5, batchId = 1L))
  }

  test("family-state catalog: wave inventory from markers alone; compaction resets it") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("famstate").toString
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    IndexStore.createIvf(embs.where($"vec_id" % 2 === 0), "vec_id",
      "embedding", dir, numClusters = 6)
    IndexStore.appendBatchIvf(embs.where($"vec_id" % 2 === 1), "vec_id",
      "embedding", dir, 0L)
    val doomed = embs.where($"vec_id" % 11 === 0).localCheckpoint(true)
    val survivors = embs.where($"vec_id" % 11 =!= 0).localCheckpoint(true)
    IndexStore.deleteBatchIvf(doomed, "vec_id", "embedding", dir, 0L)
    val adv = IndexStore.adviseSplitIvf(
      IndexStore.loadIvf(spark, dir), factor = 1.0001)
    IndexStore.splitClusterIvf(survivors, "vec_id", "embedding", dir,
      adv.cluster, 0L)
    val madv = IndexStore.adviseMergeIvf(
      IndexStore.loadIvf(spark, dir), factor = 100.0)
    IndexStore.mergeClustersIvf(survivors, "vec_id", "embedding", dir,
      madv.clusterA, madv.clusterB, 0L)
    val st = IndexStore.describeFamily(spark, "ivf", dir)
    assert(st === IndexStore.FamilyState("ivf", base = true, appends = 1,
      deletes = 1, splits = 1, merges = 1,
      fingerprintN = Some(survivors.count()), tombstonesPending = true))
    // compaction folds everything to the base and purges the ledger —
    // the inventory shows maintenance is done
    IndexStore.compactIvf(spark, dir)
    assert(IndexStore.describeFamily(spark, "ivf", dir) ===
      IndexStore.FamilyState("ivf", base = true, appends = 0,
        deletes = 0, splits = 0, merges = 0,
        fingerprintN = Some(survivors.count()), tombstonesPending = false))
    // the fleet view is one relation; unknown families refuse
    assert(IndexStore.describeFamilies(spark, Seq("ivf" -> dir)).count()
      === 1L)
    intercept[IllegalArgumentException](
      IndexStore.describeFamily(spark, "nope", dir))
  }

  test("erasure audit: residuals through the live loaders; zero only after the wave; no-linkage families refuse") {
    import org.apache.spark.sql.functions._
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").localCheckpoint(true)
    val doomedVecs = embs.where($"vec_id" % 7 === 0).localCheckpoint(true)
    val doomedDocs = docs.where($"doc_id" % 9 === 0).localCheckpoint(true)
    val ivfDir = Files.createTempDirectory("auditivf").toString
    val bmDir = Files.createTempDirectory("auditbm").toString
    val phDir = Files.createTempDirectory("auditph").toString
    IndexStore.createIvf(embs, "vec_id", "embedding", ivfDir,
      numClusters = 8)
    IndexStore.createBm25(docs, "doc_id", "text", bmDir)
    IndexStore.savePhrase(docs, "doc_id", "text", 8, phDir)
    // BEFORE any delete wave: the audit reports the full wave as residual
    // (every erased id is still visible) — the detection side of the
    // certificate
    def auditVecs() = IndexStore.erasureAudit(spark, doomedVecs, "vec_id",
        Seq("ivf" -> ivfDir))
      .as[(String, Long, Long)].collect().toSeq
    def auditDocs() = IndexStore.erasureAudit(spark, doomedDocs, "doc_id",
        Seq("bm25" -> bmDir, "phrase" -> phDir))
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    val nVecs = doomedVecs.count(); val nDocs = doomedDocs.count()
    assert(auditVecs() === Seq(("ivf", nVecs, nVecs)))
    assert(auditDocs() === Seq(("bm25", nDocs, nDocs),
      ("phrase", nDocs, nDocs)))
    // apply the waves — the audit flips to the zero-residual certificate
    IndexStore.deleteBatchIvf(doomedVecs, "vec_id", "embedding", ivfDir, 0L)
    IndexStore.deleteBatchBm25(doomedDocs, "doc_id", "text", bmDir, 0L)
    IndexStore.deleteBatchPhrase(doomedDocs, "doc_id", "text", phDir, 0L)
    assert(auditVecs() === Seq(("ivf", nVecs, 0L)))
    assert(auditDocs() === Seq(("bm25", nDocs, 0L), ("phrase", nDocs, 0L)))
    // a HALF-APPLIED erasure (one family missed) is exactly what the
    // certificate catches: a second doc wave deletes from BM25 only
    val doomed2 = docs.where($"doc_id" % 13 === 0 && $"doc_id" % 9 =!= 0)
      .localCheckpoint(true)
    IndexStore.deleteBatchBm25(doomed2, "doc_id", "text", bmDir, 1L)
    val partial = IndexStore.erasureAudit(spark, doomed2, "doc_id",
        Seq("bm25" -> bmDir, "phrase" -> phDir))
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(partial === Seq(("bm25", doomed2.count(), 0L),
      ("phrase", doomed2.count(), doomed2.count())))
    // hash-keyed quantile samples audit by id-hash: complete samples
    // hold every erased row pre-delete (residual = wave) and none after
    val qDir = Files.createTempDirectory("auditq").toString
    val gqDir = Files.createTempDirectory("auditgq").toString
    val docsN = Tables.documents(spark, Sf0001)
      .select("doc_id", "source", "n_chars").localCheckpoint(true)
    IndexStore.saveQuantile(docsN, "doc_id", "n_chars", 2048, qDir)
    IndexStore.saveGroupedQuantile(docsN, "doc_id", "source", "n_chars",
      2048, gqDir)
    def auditQ() = IndexStore.erasureAudit(spark, doomedDocs, "doc_id",
        Seq("quantile" -> qDir, "gquantile" -> gqDir))
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(auditQ() === Seq(("gquantile", nDocs, nDocs),
      ("quantile", nDocs, nDocs)))
    IndexStore.deleteBatchQuantile(doomedDocs
      .join(docsN, "doc_id"), "doc_id", "n_chars", qDir, 0L)
    IndexStore.deleteBatchGroupedQuantile(doomedDocs
      .join(docsN, "doc_id"), "doc_id", "source", "n_chars", gqDir, 0L)
    assert(auditQ() === Seq(("gquantile", nDocs, 0L),
      ("quantile", nDocs, 0L)))
    // families with no id linkage refuse rather than certify
    for (fam <- Seq("grams", "summary", "stats"))
      assert(intercept[IllegalArgumentException](
        IndexStore.erasureAudit(spark, doomedDocs, "doc_id",
          Seq(fam -> bmDir))).getMessage.contains("no id linkage"))
    intercept[IllegalArgumentException](
      IndexStore.erasureAudit(spark, doomedDocs, "doc_id",
        Seq("nope" -> bmDir)))
  }

  test("delete waves own their marker namespace; overlapping erasure requests are idempotent") {
    import org.apache.spark.sql.functions._
    // ---- IVF: a delete wave id that COLLIDES with an already-committed
    // append/stream batch id must still take effect (pre-fix: the shared
    // idempotency guard silently no-opped the erasure)
    val dir = Files.createTempDirectory("ivfdelns").toString
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    IndexStore.createIvf(embs.where($"vec_id" % 2 === 0), "vec_id",
      "embedding", dir, numClusters = 8)
    IndexStore.appendBatchIvf(embs.where($"vec_id" % 2 === 1), "vec_id",
      "embedding", dir, batchId = 0L)
    val doomed = embs.where($"vec_id" % 7 === 0).localCheckpoint(true)
    val remaining = embs.where($"vec_id" % 7 =!= 0).localCheckpoint(true)
    IndexStore.deleteBatchIvf(doomed, "vec_id", "embedding", dir,
      batchId = 0L) // same id as the committed append — must NOT no-op
    val idx = IndexStore.loadIvfChecked(spark, dir, remaining, "vec_id",
      "embedding")
    assert(idx.assignments.count() === remaining.count())
    assert(idx.sizes.values.sum === remaining.count())
    // ---- overlapping waves: re-requesting already-erased ids under a
    // NEW wave id must not double-decrement sizes or re-subtract the
    // fingerprint (pre-fix: permanent checked-loader refusal + phantom
    // negative cluster mass)
    val doomed2 = embs.where($"vec_id" % 7 === 0 || $"vec_id" % 11 === 0)
      .localCheckpoint(true)
    val remaining2 = embs
      .where($"vec_id" % 7 =!= 0 && $"vec_id" % 11 =!= 0)
      .localCheckpoint(true)
    IndexStore.deleteBatchIvf(doomed2, "vec_id", "embedding", dir,
      batchId = 1L)
    val idx2 = IndexStore.loadIvfChecked(spark, dir, remaining2, "vec_id",
      "embedding")
    assert(idx2.assignments.count() === remaining2.count())
    assert(idx2.sizes.values.sum === remaining2.count())
    // ---- BM25 (count-subtraction family): overlapping waves still merge
    // to EXACTLY the survivors' fresh build — df subtracted once, not twice
    val bDir = Files.createTempDirectory("bm25delns").toString
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").localCheckpoint(true)
    IndexStore.createBm25(docs, "doc_id", "text", bDir)
    IndexStore.deleteBatchBm25(docs.where($"doc_id" % 9 === 0), "doc_id",
      "text", bDir, 0L)
    IndexStore.deleteBatchBm25(
      docs.where($"doc_id" % 9 === 0 || $"doc_id" % 13 === 0), "doc_id",
      "text", bDir, 1L)
    val rem = docs.where($"doc_id" % 9 =!= 0 && $"doc_id" % 13 =!= 0)
      .localCheckpoint(true)
    val merged = IndexStore.loadBm25Checked(spark, bDir, rem, "doc_id",
      "text")
    val fresh = TextSearch.buildIndex(rem, "doc_id", "text")
    assert(merged.numDocs === fresh.numDocs)
    assert(merged.avgdl === fresh.avgdl)
    assert(merged.termDf.as[(String, Long)].collect().toSet ===
      fresh.termDf.as[(String, Long)].collect().toSet)
    // ---- stats catalog: the erasure ledger makes overlapping waves
    // idempotent; the merged catalog equals a fresh ANALYZE of survivors
    val sDir = Files.createTempDirectory("statsdelns").toString
    val cat = Tables.documents(spark, Sf0001)
      .select("doc_id", "text", "lang", "source").localCheckpoint(true)
    IndexStore.saveStats(cat, "doc_id", "text", Seq("lang", "source"), sDir)
    IndexStore.deleteBatchStats(cat.where($"doc_id" % 9 === 0), "doc_id",
      "text", sDir, 0L)
    IndexStore.deleteBatchStats(
      cat.where($"doc_id" % 9 === 0 || $"doc_id" % 13 === 0), "doc_id",
      "text", sDir, 1L)
    val sRem = cat.where($"doc_id" % 9 =!= 0 && $"doc_id" % 13 =!= 0)
      .localCheckpoint(true)
    val mergedCat = IndexStore.loadStatsChecked(spark, sDir, sRem,
      "doc_id", "text").as[(String, String, Long)].collect().toSet
    val freshDir = Files.createTempDirectory("statsdelnsfresh").toString
    IndexStore.saveStats(sRem, "doc_id", "text", Seq("lang", "source"),
      freshDir)
    assert(mergedCat === IndexStore.loadStats(spark, freshDir)
      .as[(String, String, Long)].collect().toSet)
  }

  test("quantile sketch: exact in the complete regime, merge equals single-pass, deletion shrinks without bias") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "n_chars").localCheckpoint(true)
    val n = docs.count()
    val sortedVals = docs.select($"n_chars".cast("double"))
      .as[Double].collect().sorted
    // ---- complete regime (k ≥ n): quantiles are EXACT by rank rule
    val dir = Files.createTempDirectory("qsketch").toString
    IndexStore.saveQuantile(docs, "doc_id", "n_chars", k = 2048, dir)
    val s = IndexStore.loadQuantileChecked(spark, dir, docs, "doc_id",
      "n_chars")
    assert(s.complete && s.n === n && s.m.toLong === n)
    for (p <- Seq(0.1, 0.5, 0.9, 0.99, 1.0))
      assert(s.quantile(p) === sortedVals(math.ceil(p * n).toInt - 1),
        s"p=$p")
    // ---- merge theorem: three waves at k < n fold to the SAME sample a
    // single pass over the whole corpus keeps (definitional, not
    // approximate)
    val mDir = Files.createTempDirectory("qsketchm").toString
    IndexStore.saveQuantile(docs.where($"doc_id" % 3 === 0), "doc_id",
      "n_chars", k = 64, mDir)
    IndexStore.appendBatchQuantile(docs.where($"doc_id" % 3 === 1),
      "doc_id", "n_chars", mDir, 0L)
    IndexStore.appendBatchQuantile(docs.where($"doc_id" % 3 === 2),
      "doc_id", "n_chars", mDir, 1L)
    // replayed append is a no-op
    IndexStore.appendBatchQuantile(docs.where($"doc_id" % 3 === 2),
      "doc_id", "n_chars", mDir, 1L)
    val folded = IndexStore.loadQuantileChecked(spark, mDir, docs,
      "doc_id", "n_chars")
    val singlePass = docs
      .select(graft.functions.Text.hash60($"doc_id".cast("string")).as("h"),
        $"n_chars".cast("double").as("v"))
      .orderBy("h").limit(64)
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(folded.sample.toSeq === singlePass.toSeq)
    assert(!folded.complete && folded.n === n && folded.m === 64)
    // ---- staleness guard: an unappended wave refuses; append repairs
    intercept[IllegalStateException](IndexStore.loadQuantileChecked(spark,
      mDir, docs.where($"doc_id" % 3 =!= 2), "doc_id", "n_chars"))
    // ---- deletion: the surviving sample is exactly {survivors with
    // h ≤ pre-erasure threshold} — shrunken, never re-thresholded
    val doomed = docs.where($"doc_id" % 5 === 0).localCheckpoint(true)
    val remaining = docs.where($"doc_id" % 5 =!= 0).localCheckpoint(true)
    IndexStore.deleteBatchQuantile(doomed, "doc_id", "n_chars", mDir, 0L)
    val afterDel = IndexStore.loadQuantileChecked(spark, mDir, remaining,
      "doc_id", "n_chars")
    intercept[IllegalStateException](IndexStore.loadQuantileChecked(spark,
      mDir, docs, "doc_id", "n_chars"))
    val doomedHashes = doomed
      .select(graft.functions.Text.hash60($"doc_id".cast("string")).as("h"))
      .as[Long].collect().toSet
    assert(afterDel.sample.toSeq ===
      singlePass.filterNot(hv => doomedHashes(hv._1)).toSeq)
    assert(afterDel.n === remaining.count() && !afterDel.complete)
    // overlapping erasure is idempotent (no double fp subtraction)
    IndexStore.deleteBatchQuantile(doomed, "doc_id", "n_chars", mDir, 1L)
    assert(IndexStore.loadQuantileChecked(spark, mDir, remaining,
      "doc_id", "n_chars").sample.length === afterDel.m)
    // ---- compaction: the incomplete, erased sample narrows k to m (the
    // threshold cannot re-expand without the discarded rows); the folded
    // sketch answers identically and the ledger is purged
    IndexStore.compactQuantile(spark, mDir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(mDir, "tombstones")))
    val foldedDel = IndexStore.loadQuantileChecked(spark, mDir, remaining,
      "doc_id", "n_chars")
    assert(foldedDel.k === afterDel.m)
    assert(foldedDel.sample.toSeq === afterDel.sample.toSeq)
    // a complete sample keeps its DDL k through the fold
    IndexStore.compactQuantile(spark, dir)
    val foldedFull = IndexStore.loadQuantileChecked(spark, dir, docs,
      "doc_id", "n_chars")
    assert(foldedFull.k === 2048 && foldedFull.complete)
    assert(foldedFull.quantile(0.5) === sortedVals(
      math.ceil(0.5 * n).toInt - 1))
    // range selectivity: exact in the complete regime (the planner
    // input for fields with no histogram DDL), never domain-refusing
    val lo = sortedVals(n.toInt / 4); val hi = sortedVals(3 * n.toInt / 4)
    assert(foldedFull.rangeSelectivity(lo, hi) ===
      sortedVals.count(v => v >= lo && v < hi).toDouble / n)
    assert(foldedFull.rangeSelectivity(-1e18, 1e18) === 1.0)
    intercept[IllegalArgumentException](
      foldedFull.rangeSelectivity(5.0, 5.0))
    // edge refusals
    intercept[IllegalArgumentException](foldedFull.quantile(0.0))
    intercept[IllegalArgumentException](
      IndexStore.saveQuantile(docs, "doc_id", "n_chars", 0, dir))
  }

  test("grouped quantile sketch: per-group exactness, merge, erasure shrink, fold refusal on stuck groups") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "source", "n_chars").localCheckpoint(true)
    val dir = Files.createTempDirectory("gqsketch").toString
    // lifecycle: base two-thirds, one append wave, one erasure wave
    IndexStore.saveGroupedQuantile(docs.where($"doc_id" % 3 =!= 2),
      "doc_id", "source", "n_chars", k = 1024, dir)
    IndexStore.appendBatchGroupedQuantile(docs.where($"doc_id" % 3 === 2),
      "doc_id", "source", "n_chars", dir, 0L)
    IndexStore.deleteBatchGroupedQuantile(docs.where($"doc_id" % 9 === 0),
      "doc_id", "source", "n_chars", dir, 0L)
    val survivors = docs.where($"doc_id" % 9 =!= 0).localCheckpoint(true)
    val s = IndexStore.loadGroupedQuantileChecked(spark, dir, survivors,
      "doc_id", "source", "n_chars")
    intercept[IllegalStateException](IndexStore.loadGroupedQuantileChecked(
      spark, dir, docs, "doc_id", "source", "n_chars"))
    // complete per group at this scale → per-group quantiles exact
    val truth = survivors.where($"source".isNotNull)
      .select($"source", $"n_chars".cast("double"))
      .as[(String, Double)].collect().groupBy(_._1)
      .map { case (g, rs) => g -> rs.map(_._2).sorted }
    assert(s.groups === truth.keySet)
    for (g <- s.groups) {
      assert(s.complete(g), g)
      for (p <- Seq(0.5, 0.9))
        assert(s.quantile(g, p) ===
          truth(g)(math.ceil(p * truth(g).length).toInt - 1), s"$g p=$p")
    }
    // complete-everywhere folds fine and answers identically
    IndexStore.compactGroupedQuantile(spark, dir)
    val folded = IndexStore.loadGroupedQuantileChecked(spark, dir,
      survivors, "doc_id", "source", "n_chars")
    assert(folded.groups === s.groups)
    for (g <- s.groups)
      assert(folded.quantile(g, 0.9) === s.quantile(g, 0.9))
    // merge theorem per group at k < group size: fold == single pass
    val mDir = Files.createTempDirectory("gqsketchm").toString
    IndexStore.saveGroupedQuantile(docs.where($"doc_id" % 2 === 0),
      "doc_id", "source", "n_chars", k = 4, mDir)
    IndexStore.appendBatchGroupedQuantile(docs.where($"doc_id" % 2 === 1),
      "doc_id", "source", "n_chars", mDir, 0L)
    val m = IndexStore.loadGroupedQuantile(spark, mDir)
    val onePass = docs.where($"source".isNotNull)
      .select($"source".as("g"),
        graft.functions.Text.hash60($"doc_id".cast("string")).as("h"),
        $"n_chars".cast("double").as("v"))
      .as[(String, Long, Double)].collect().groupBy(_._1)
      .map { case (g, rs) =>
        g -> rs.map(r => (r._2, r._3)).sortBy(_._1).take(4) }
    for (g <- m.groups) assert(m.samples(g).toSeq === onePass(g).toSeq, g)
    // an incomplete group that loses erased rows jams the fold — refusal
    // names it; a rebuild is the way out
    val victim = m.samples.keys.head
    IndexStore.deleteBatchGroupedQuantile(
      docs.where($"source" === victim).limit(1), "doc_id", "source",
      "n_chars", mDir, 0L)
    val e = intercept[IllegalArgumentException](
      IndexStore.compactGroupedQuantile(spark, mDir))
    assert(e.getMessage.contains("incomplete AND erased"))
  }

  test("streaming erasure: a GDPR queue as a stream of delete waves") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("ivfstreamdel").toString
    val ckpt = Files.createTempDirectory("ivfstreamdelckpt").toString
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    IndexStore.createIvf(embs, "vec_id", "embedding", dir, numClusters = 8)
    val doomed = embs.where($"vec_id" % 7 === 0)
      .as[(Long, Seq[Double])].collect()
    val remaining = embs.where($"vec_id" % 7 =!= 0).localCheckpoint(true)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])](spark)
    val q = IndexStore.stream(mem.toDF().toDF("vec_id", "embedding"), ckpt)(
      IndexStore.deleteBatchIvf(_, "vec_id", "embedding", dir, _,
        issuer = ckpt))
    try {
      val (w1, w2) = doomed.splitAt(doomed.length / 2)
      mem.addData(w1.toIndexedSeq); q.processAllAvailable()
      mem.addData(w2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // two streamed waves erased exactly the doomed rows; checked loader
    // flips to the survivors and the audit certifies zero residual
    val idx = IndexStore.loadIvfChecked(spark, dir, remaining, "vec_id",
      "embedding")
    assert(idx.assignments.count() === remaining.count())
    assert(IndexStore.erasureAudit(spark,
        embs.where($"vec_id" % 7 === 0).select("vec_id"), "vec_id",
        Seq("ivf" -> dir))
      .as[(String, Long, Long)].head()._3 === 0L)
    // the quantile sample drains the same kind of queue
    val qDir = Files.createTempDirectory("qstreamdel").toString
    val qCkpt = Files.createTempDirectory("qstreamdelckpt").toString
    val docs = Tables.documents(spark, Sf0001)
      .select($"doc_id", $"n_chars".cast("long").as("n_chars"))
      .localCheckpoint(true)
    IndexStore.saveQuantile(docs, "doc_id", "n_chars", 2048, qDir)
    val doomedDocs = docs.where($"doc_id" % 9 === 0)
      .as[(Long, Long)].collect()
    val qmem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)](spark)
    val qq = IndexStore.stream(qmem.toDF().toDF("doc_id", "n_chars"), qCkpt)(
      IndexStore.deleteBatchQuantile(_, "doc_id", "n_chars", qDir, _))
    try {
      val (w1, w2) = doomedDocs.splitAt(doomedDocs.length / 2)
      qmem.addData(w1.toIndexedSeq); qq.processAllAvailable()
      qmem.addData(w2.toIndexedSeq); qq.processAllAvailable()
    } finally qq.stop()
    val qs = IndexStore.loadQuantileChecked(spark, qDir,
      docs.where($"doc_id" % 9 =!= 0), "doc_id", "n_chars")
    assert(qs.complete && qs.n === docs.where($"doc_id" % 9 =!= 0).count())
    assert(IndexStore.erasureAudit(spark,
        docs.where($"doc_id" % 9 === 0).select("doc_id"), "doc_id",
        Seq("quantile" -> qDir))
      .as[(String, Long, Long)].head()._3 === 0L)
    // the word-count vocab family drains the same queue — including the
    // queue's signature REPEATS: wave 2 re-requests part of wave 1's
    // ids, and the r13 erased-id ledger dedupes them to ONE subtraction
    // (the exact shape that kept this family off the hook roster before)
    val wcDir = Files.createTempDirectory("wcstreamdel").toString
    val wcCkpt = Files.createTempDirectory("wcstreamdelckpt").toString
    val dText = Tables.documents(spark, Sf0001)
      .select($"doc_id", $"text").localCheckpoint(true)
    IndexStore.saveWordCounts(dText, "doc_id", "text", wcDir)
    val doomedText = dText.where($"doc_id" % 8 === 0)
      .as[(Long, String)].collect()
    val wmem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](spark)
    val wq = IndexStore.stream(wmem.toDF().toDF("doc_id", "text"), wcCkpt)(
      IndexStore.deleteBatchWordCounts(_, "doc_id", "text", wcDir, _,
        issuer = wcCkpt))
    try {
      val (w1, w2) = doomedText.splitAt(doomedText.length / 2)
      wmem.addData(w1.toIndexedSeq); wq.processAllAvailable()
      wmem.addData((w2 ++ w1.take(w1.length / 2)).toIndexedSeq)
      wq.processAllAvailable()
    } finally wq.stop()
    IndexStore.loadWordCountsChecked(spark, wcDir,
      dText.where($"doc_id" % 8 =!= 0), "doc_id", "text")
    assert(IndexStore.erasureAudit(spark,
        dText.where($"doc_id" % 8 === 0).select("doc_id"), "doc_id",
        Seq("wordcount" -> wcDir))
      .as[(String, Long, Long)].head()._3 === 0L)
  }

  test("delete waves from a fresh checkpoint drain against a family whose ingest waves are ahead") {
    // THE r13-advice topology: the erasure queue is its own stream, so
    // its checkpoint batch ids start at 0 while the family's ingest
    // waves are already at 5/7 — under the raw monotonic-wave check
    // every micro-batch refused and the GDPR stream crash-looped
    // forever. resolveDeleteWave remaps behind-the-clock ids past the
    // committed horizon instead.
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("bm25behind").toString
    val ckpt = Files.createTempDirectory("bm25behindckpt").toString
    val docs = Tables.documents(spark, Sf0001)
      .select($"doc_id", $"text").localCheckpoint(true)
    val base = docs.where($"doc_id" % 3 === 0)
    IndexStore.saveBm25(TextSearch.buildIndex(base, "doc_id", "text"), dir,
      source = Some((base, "doc_id", "text")))
    // ingest waves 5 and 7: the clock is far ahead of a fresh checkpoint
    IndexStore.appendBatchBm25(docs.where($"doc_id" % 3 === 1), "doc_id",
      "text", dir, 5L)
    IndexStore.appendBatchBm25(docs.where($"doc_id" % 3 === 2), "doc_id",
      "text", dir, 7L)
    val preDelete = IndexStore.loadBm25(spark, dir).numDocs
    assert(preDelete === docs.count())
    val doomed = docs.where($"doc_id" % 5 === 0)
      .as[(Long, String)].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](spark)
    val q = IndexStore.stream(mem.toDF().toDF("doc_id", "text"), ckpt)(
      IndexStore.deleteBatchBm25(_, "doc_id", "text", dir, _, issuer = ckpt))
    try {
      // two micro-batches (checkpoint ids 0 and 1, both behind wave 7)
      val (w1, w2) = doomed.splitAt(doomed.length / 2)
      mem.addData(w1.toIndexedSeq); q.processAllAvailable()
      mem.addData(w2.toIndexedSeq); q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
    } finally q.stop()
    val survivors = docs.where($"doc_id" % 5 =!= 0)
    val idx = IndexStore.loadBm25Checked(spark, dir, survivors, "doc_id",
      "text")
    assert(idx.numDocs === survivors.count())
    assert(IndexStore.erasureAudit(spark,
        docs.where($"doc_id" % 5 === 0).select("doc_id"), "doc_id",
        Seq("bm25" -> dir))
      .as[(String, Long, Long)].head()._3 === 0L)
    // the logical clock stays truthful: the remapped deletes landed
    // AFTER wave 7, so the as-of horizon at wave 7 still shows the full
    // pre-delete corpus
    assert(IndexStore.loadBm25AsOf(spark, dir, 7L).numDocs === preDelete)
    // same topology direct-call, word-count family: two behind-the-clock
    // waves naming OVERLAPPING ids (the GDPR repeat shape) remap to
    // distinct fresh waves and the ledger keeps a single subtraction
    val wcDir = Files.createTempDirectory("wcbehind").toString
    IndexStore.saveWordCounts(base, "doc_id", "text", wcDir)
    IndexStore.appendBatchWordCounts(docs.where($"doc_id" % 3 === 1),
      "doc_id", "text", wcDir, 5L)
    IndexStore.appendBatchWordCounts(docs.where($"doc_id" % 3 === 2),
      "doc_id", "text", wcDir, 7L)
    val wcDoomed = docs.where($"doc_id" % 5 === 0).localCheckpoint(true)
    IndexStore.deleteBatchWordCounts(wcDoomed, "doc_id", "text", wcDir, 0L)
    IndexStore.deleteBatchWordCounts(wcDoomed, "doc_id", "text", wcDir, 1L)
    IndexStore.loadWordCountsChecked(spark, wcDir, survivors, "doc_id",
      "text")
  }

  test("resolveDeleteWave: pass-through at/above the clock, remap below, floor respected") {
    // fresh dir per scenario: the resolver records provenance, so one
    // shared dir would make later calls read earlier calls' rows
    def fresh() = Files.createTempDirectory("resolvewave").toString
    // no committed markers, no floor: ids pass through
    assert(IndexStore.resolveDeleteWave(spark, fresh(), Seq.empty, 0L) === 0L)
    assert(IndexStore.resolveDeleteWave(spark, fresh(), Seq(-1L, 3L), 3L) === 3L)
    assert(IndexStore.resolveDeleteWave(spark, fresh(), Seq(-1L, 3L), 9L) === 9L)
    // behind the clock: first wave past the committed horizon
    assert(IndexStore.resolveDeleteWave(spark, fresh(), Seq(-1L, 3L), 0L) === 4L)
    // a committed DELETE marker advances the clock too (wave 4's marker)
    assert(IndexStore.resolveDeleteWave(spark, fresh(),
      Seq(-1L, 3L, -(3L * 4L + 2L)), 1L) === 5L)
  }

  test("resolveDeleteWave provenance: replays stick to their wave, colliding issuers remap instead of skipping") {
    val dir = Files.createTempDirectory("resolveprov").toString
    // issuer a, src batch 0, clock at wave 3 → remaps to 4
    assert(IndexStore.resolveDeleteWave(spark, dir, Seq(-1L, 3L), 0L,
      issuer = "a") === 4L)
    // a's replay of src 0 (marker not yet committed — crash before
    // commit) resolves to the SAME wave, not a fresh one
    assert(IndexStore.resolveDeleteWave(spark, dir, Seq(-1L, 3L), 0L,
      issuer = "a") === 4L)
    // a's replay AFTER the wave-4 marker committed (lost checkpoint ack)
    // still resolves to 4 — the caller's committed-marker guard then
    // skips it cleanly
    val mid4 = -(3L * 4L + 2L)
    assert(IndexStore.resolveDeleteWave(spark, dir, Seq(-1L, 3L, mid4), 0L,
      issuer = "a") === 4L)
    // THE r14-advice hole: issuer b's pass-through id 4 equals a's
    // remapped committed wave — provenance names a different issuer, so
    // b REMAPS past the collision (5) instead of being silently skipped
    assert(IndexStore.resolveDeleteWave(spark, dir, Seq(-1L, 3L, mid4), 4L,
      issuer = "b") === 5L)
    // a marker with NO provenance row (legacy, pre-provenance commit)
    // keeps the old treat-as-replay behavior
    val legacy = Files.createTempDirectory("resolvelegacy").toString
    val mid2 = -(3L * 2L + 2L)
    assert(IndexStore.resolveDeleteWave(spark, legacy,
      Seq(-1L, -(3L * 1L + 2L), mid2), 2L, issuer = "b") === 2L)
  }

  test("two erasure issuers on one family: the second issuer's deletions apply instead of silently skipping") {
    // end-to-end rendition of the resolver pin above, word-count family:
    // issuer A erases a wave (remapped onto the clock), then issuer B
    // arrives with a caller-controlled id equal to A's landed wave — its
    // ids must still be erased (pre-fix: the committed-marker guard
    // swallowed B's whole batch)
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("twoissuers").toString
    val docs = Tables.documents(spark, Sf0001)
      .select($"doc_id", $"text").localCheckpoint(true)
    IndexStore.saveWordCounts(docs.where($"doc_id" % 3 === 0), "doc_id",
      "text", dir)
    IndexStore.appendBatchWordCounts(docs.where($"doc_id" % 3 =!= 0),
      "doc_id", "text", dir, 3L)
    // issuer A: behind-the-clock src 0 remaps to wave 4
    IndexStore.deleteBatchWordCounts(docs.where($"doc_id" % 7 === 0),
      "doc_id", "text", dir, 0L, issuer = "streamA")
    // issuer B: pass-through id 4 collides with A's landed wave
    IndexStore.deleteBatchWordCounts(docs.where($"doc_id" % 7 === 1),
      "doc_id", "text", dir, 4L, issuer = "streamB")
    val survivors = docs.where($"doc_id" % 7 =!= 0 && $"doc_id" % 7 =!= 1)
    // the checked load only accepts the fold if BOTH waves subtracted
    IndexStore.loadWordCountsChecked(spark, dir, survivors, "doc_id",
      "text")
  }

  test("compaction advisor: receipts from sidecars, workload flips the fold, execute folds and preserves checkability") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("compadvise").toString
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    val base = embs.where($"vec_id" % 3 === 0)
    val w1 = embs.where($"vec_id" % 3 === 1)
    val w2 = embs.where($"vec_id" % 3 === 2)
    IndexStore.saveSignLsh(
      graft.dedup.Dedup.signLshSketches(base, "vec_id", "embedding", 64),
      dir, source = Some((base, "vec_id", "embedding")))
    IndexStore.appendBatchSignLsh(w1, "vec_id", "embedding", 64, dir, 0L)
    IndexStore.appendBatchSignLsh(w2, "vec_id", "embedding", 64, dir, 1L)
    // receipts: batch count and total rows come from the fprint sidecar
    val busy = IndexStore.planCompaction(spark, dir, "sign-lsh",
      queriesPerWave = 1000L)
    assert(busy.batches === 3)
    assert(busy.totalRows === embs.count())
    assert(busy.foldCost === 2.0 * busy.totalRows)
    assert(busy.perQueryExtraCost === 2 * IndexStore.OpenCostRows)
    assert(busy.savingsPerWave === 1000L * busy.perQueryExtraCost)
    assert(busy.wavesToBreakEven === busy.foldCost / busy.savingsPerWave)
    // the amortization inequality flips with the workload: a hot index
    // folds, an idle one carries its batches
    assert(busy.recommend, s"1000 q/wave should fold 3 batches: $busy")
    val idle = IndexStore.planCompaction(spark, dir, "sign-lsh",
      queriesPerWave = 0L)
    assert(!idle.recommend)
    assert(idle.wavesToBreakEven.isPosInfinity)
    // execute: the no-op leaves the batches, the fold collapses them to
    // one and the fingerprint survives (checked load still passes)
    assert(!IndexStore.executeCompaction(spark, dir, idle))
    assert(IndexStore.planCompaction(spark, dir, "sign-lsh", 1000L)
      .batches === 3)
    assert(IndexStore.executeCompaction(spark, dir, busy))
    val folded = IndexStore.planCompaction(spark, dir, "sign-lsh", 1000L)
    assert(folded.batches === 1)
    assert(folded.totalRows === busy.totalRows)
    assert(!folded.recommend) // nothing left to fold
    IndexStore.loadSignLshChecked(spark, dir, embs, "vec_id", "embedding")
    // an unknown family and an uncheckable index refuse loudly
    assert(intercept[IllegalArgumentException] {
      IndexStore.planCompaction(spark, dir, "btree", 1L)
    }.getMessage.contains("unknown index family"))
    val nofp = Files.createTempDirectory("compnofp").toString
    IndexStore.saveSignLsh(
      graft.dedup.Dedup.signLshSketches(base, "vec_id", "embedding", 64),
      nofp) // no source → no fingerprint → unpriceable
    assert(intercept[IllegalArgumentException] {
      IndexStore.planCompaction(spark, nofp, "sign-lsh", 1L)
    }.getMessage.contains("no fingerprint sidecar"))
  }

  test("wave ids are a logical clock: post-compaction reuse and out-of-order waves refuse") {
    // ADVICE r12: append/delete used to accept ANY uncommitted batchId >= 0,
    // so a fresh stream checkpoint restarting at 0 after a compaction
    // (asof floor = W) would land data that loadBm25AsOf/loadWordCountsAsOf
    // then surface at HISTORICAL horizons — silently corrupting the as-of
    // reconstruction. The writers now enforce the clock loudly.
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
    val a = docs.where($"doc_id" % 3 === 0)
    val b = docs.where($"doc_id" % 3 === 1)
    val c = docs.where($"doc_id" % 3 === 2)

    // BM25: out-of-order append (behind the max committed wave) refuses
    val bmDir = Files.createTempDirectory("monobm").toString
    IndexStore.createBm25(a, "doc_id", "text", bmDir)
    IndexStore.appendBatchBm25(b, "doc_id", "text", bmDir, 5L)
    val e1 = intercept[IllegalArgumentException] {
      IndexStore.appendBatchBm25(c, "doc_id", "text", bmDir, 3L)
    }
    assert(e1.getMessage.contains("logical clock"))
    // same-wave maintenance stays legal (delete wave shares the append's id)
    IndexStore.deleteBatchBm25(b, "doc_id", "text", bmDir, 5L)
    // replay of a committed wave stays a silent no-op (idempotency wins
    // over the clock check — the guard fires only for NEW waves)
    IndexStore.appendBatchBm25(b, "doc_id", "text", bmDir, 5L)
    // post-compaction: floor = 5, so a reused low id (fresh checkpoint
    // restarting at 0) refuses instead of polluting horizons <= 5
    IndexStore.compactBm25(spark, bmDir)
    val e2 = intercept[IllegalArgumentException] {
      IndexStore.appendBatchBm25(c, "doc_id", "text", bmDir, 0L)
    }
    assert(e2.getMessage.contains("horizon floor"))
    IndexStore.appendBatchBm25(c, "doc_id", "text", bmDir, 6L) // past it: fine
    IndexStore.loadBm25Checked(spark, bmDir,
      a.unionByName(c), "doc_id", "text")

    // word counts: same contract (the family the as-of vocab relearn reads)
    val wcDir = Files.createTempDirectory("monowc").toString
    IndexStore.saveWordCounts(a, "doc_id", "text", wcDir)
    IndexStore.appendBatchWordCounts(b, "doc_id", "text", wcDir, 4L)
    assert(intercept[IllegalArgumentException] {
      IndexStore.appendBatchWordCounts(c, "doc_id", "text", wcDir, 2L)
    }.getMessage.contains("logical clock"))
    IndexStore.compactWordCounts(spark, wcDir)
    // DELETES differ from appends since the r13-advice fix: a
    // behind-the-floor id from a fresh erasure checkpoint REMAPS past
    // the committed horizon (resolveDeleteWave) instead of refusing —
    // an append reusing a stale id corrupts history, but a GDPR delete
    // refusing forever was the worse bug. The wave drains and the fold
    // equals a fresh build over the survivors.
    IndexStore.deleteBatchWordCounts(b, "doc_id", "text", wcDir, 0L)
    IndexStore.loadWordCountsChecked(spark, wcDir, a, "doc_id", "text")

    // IVF: same contract on the vector side
    val embs = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val ivfDir = Files.createTempDirectory("monoivf").toString
    IndexStore.saveIvf(
      Ivf.build(embs.where($"vec_id" % 2 === 0), "vec_id", "embedding"),
      ivfDir)
    IndexStore.appendBatchIvf(embs.where($"vec_id" % 2 === 1),
      "vec_id", "embedding", ivfDir, 3L)
    assert(intercept[IllegalArgumentException] {
      IndexStore.appendBatchIvf(embs.where($"vec_id" % 2 === 1),
        "vec_id", "embedding", ivfDir, 1L)
    }.getMessage.contains("logical clock"))
  }

  test("bigram-LM family: fold == fresh train through append/delete/ledger/compaction/as-of") {
    import graft.text.LanguageModel
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
      .localCheckpoint(true)
    val a = docs.where($"doc_id" % 3 === 0)
    val b = docs.where($"doc_id" % 3 === 1)
    val c = docs.where($"doc_id" % 3 === 2)
    val dir = Files.createTempDirectory("lmfam").toString
    def rows(lm: LanguageModel.BigramLm,
        scored: org.apache.spark.sql.DataFrame) =
      LanguageModel.score(lm, scored, "doc_id", "text")
        .as[(Long, Double, Double, Long)].collect().toSet
    // save + append: the fold scores EXACTLY like a fresh train over the
    // committed corpus (prefix counts derived, vocab from the unigram
    // support — any drift in either flips scores)
    IndexStore.saveLm(a, "doc_id", "text", dir)
    IndexStore.appendBatchLm(b, "doc_id", "text", dir, 0L)
    val ab = a.unionByName(b)
    assert(rows(IndexStore.loadLmChecked(spark, dir, ab, "doc_id", "text"),
        docs)
      === rows(LanguageModel.train(ab, "doc_id", "text"), docs))
    // staleness: the corpus moved on (wave c exists) -> checked refuses
    assert(intercept[IllegalStateException] {
      IndexStore.loadLmChecked(spark, dir, docs, "doc_id", "text")
    }.getMessage.contains("STALE"))
    IndexStore.appendBatchLm(c, "doc_id", "text", dir, 1L)
    IndexStore.loadLmChecked(spark, dir, docs, "doc_id", "text")
    // as-of: the base-wave model scores today's corpus like a fresh
    // train on A alone (unseen-bigram smoothing included)
    assert(rows(IndexStore.loadLmAsOf(spark, dir, throughWave = -1L), docs)
      === rows(LanguageModel.train(a, "doc_id", "text"), docs))
    // delete + ledger: erase B under wave 2; an OVERLAPPING request
    // under wave 3 dedupes to a no-op (no double subtraction); the fold
    // equals a fresh train over the survivors
    IndexStore.deleteBatchLm(b, "doc_id", "text", dir, 2L)
    IndexStore.deleteBatchLm(b.limit(20), "doc_id", "text", dir, 3L)
    val ac = a.unionByName(c)
    assert(rows(IndexStore.loadLmChecked(spark, dir, ac, "doc_id", "text"),
        docs)
      === rows(LanguageModel.train(ac, "doc_id", "text"), docs))
    // ledger-based certificate + re-ingest refusal + logical clock
    assert(IndexStore.erasureAudit(spark, b.select("doc_id"), "doc_id",
        Seq("lm" -> dir))
      .as[(String, Long, Long)].collect().head._3 === 0L)
    assert(intercept[IllegalArgumentException] {
      IndexStore.appendBatchLm(b.limit(1), "doc_id", "text", dir, 9L)
    }.getMessage.contains("re-ingests erased id"))
    // wave 2 is UNCOMMITTED as an append (only its delete marker is),
    // and sits behind the max committed wave (3) — the clock refuses;
    // a replay of committed wave 1 would instead no-op by idempotency
    assert(intercept[IllegalArgumentException] {
      IndexStore.appendBatchLm(c, "doc_id", "text", dir, 2L)
    }.getMessage.contains("logical clock"))
    IndexStore.appendBatchLm(c, "doc_id", "text", dir, 1L) // replay: no-op
    // compaction: reports unchanged, ledger survives (post-fold replay
    // of a served request still dedupes), early horizons refuse
    IndexStore.compactLm(spark, dir)
    assert(rows(IndexStore.loadLmChecked(spark, dir, ac, "doc_id", "text"),
        docs)
      === rows(LanguageModel.train(ac, "doc_id", "text"), docs))
    IndexStore.deleteBatchLm(b, "doc_id", "text", dir, 11L)
    IndexStore.loadLmChecked(spark, dir, ac, "doc_id", "text")
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadLmAsOf(spark, dir, throughWave = 0L)
    }.getMessage.contains("horizon floor"))
    // fleet admission: the maintenance sweep prices it; the erasure wave
    // dispatches it (one-family wave, certificate earned)
    assert(IndexStore.maintenanceWave(spark, Seq("lm" -> dir),
      queriesPerWave = 10L, execute = false).count() === 1L)
    val dir2 = Files.createTempDirectory("lmfam2").toString
    IndexStore.saveLm(docs, "doc_id", "text", dir2)
    val cert = IndexStore.executeErasureWave(
        docs.where($"doc_id" % 5 === 0), "doc_id",
        Seq(IndexStore.ErasureTarget("lm", dir2, Seq("text"))), 0L)
      .as[(String, Long, Long)].collect().head
    assert(cert._1 === "lm" && cert._3 === 0L)
    IndexStore.loadLmChecked(spark, dir2,
      docs.where($"doc_id" % 5 =!= 0), "doc_id", "text")
  }
}
