package graft

import graft.api.FoodFinder
import graft.search.{ScoreFusion, TextSearch, VectorSearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Vector top-k, BM25 on a hand-computed toy corpus, score fusion, and
  * filter-placement semantics (SURVEY §5 unit plan + FIXTURES.md
  * invariants). */
class SearchSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("phraseOccurrences: exact positions, overlaps, longer-than-gram phrases, loud guards") {
    val docs = Seq(
      (1L, "a b c d a b c d"), // "a b" at token positions 0 and 4
      (2L, "x a b y"),         // at 1
      (3L, "a c b d"),         // none
      (4L, "b a"),             // none (reversed)
    ).toDF("id", "text")
    val ab = Seq(Tuple1(Seq("a", "b"))).toDF("p")
    val got = TextSearch.phraseOccurrences(docs, "id", "text", ab, k = 2)
      .orderBy("id", "pos").as[(Long, Int)].collect().toSeq
    assert(got === Seq((1L, 0), (1L, 4), (2L, 1)))
    // phrase LONGER than the gram width: candidates come from the 2-token
    // prefix hash, the slice verify checks the full 3 tokens
    val abc = Seq(Tuple1(Seq("a", "b", "c"))).toDF("p")
    assert(TextSearch.phraseOccurrences(docs, "id", "text", abc, k = 2)
      .orderBy("id", "pos").as[(Long, Int)].collect().toSeq
      === Seq((1L, 0), (1L, 4)))
    // overlapping occurrences are all reported
    val ov = Seq((9L, "a a a")).toDF("id", "text")
    val aa = Seq(Tuple1(Seq("a", "a"))).toDF("p")
    assert(TextSearch.phraseOccurrences(ov, "id", "text", aa, k = 2)
      .orderBy("pos").as[(Long, Int)].collect().toSeq === Seq((9L, 0), (9L, 1)))
    // a phrase shorter than the gram width can never match a gram key —
    // refuse loudly instead of returning a lying empty result
    assert(intercept[IllegalArgumentException] {
      TextSearch.phraseOccurrences(docs, "id", "text",
        Seq(Tuple1(Seq("a"))).toDF("p"), k = 2)
    }.getMessage.contains("gram width"))
    assert(intercept[IllegalArgumentException] {
      TextSearch.phraseOccurrences(docs, "id", "text",
        Seq.empty[Tuple1[Seq[String]]].toDF("p"), k = 2)
    }.getMessage.contains("empty"))
    // a MULTI-row phrase relation would silently cross-join — refuse loudly
    // (the batch contract is phrasesOccurrences)
    val two = Seq(Tuple1(Seq("a", "b")), Tuple1(Seq("c", "d"))).toDF("p")
    assert(intercept[IllegalArgumentException] {
      TextSearch.phraseOccurrences(docs, "id", "text", two, k = 2)
    }.getMessage.contains("ONE"))
  }

  test("phrasesOccurrences: batch locate == per-phrase locates, keyed by phrase_id; loud guards") {
    val docs = Seq(
      (1L, "a b c d a b c d"),
      (2L, "x a b y"),
      (3L, "c d e f"),
      (4L, "b a")).toDF("id", "text")
    val phrases = Seq(
      (10L, Seq("a", "b")),
      (11L, Seq("c", "d")),
      (12L, Seq("a", "b", "c")),
      (13L, Seq("z", "z"))).toDF("phrase_id", "p")
    val got = TextSearch.phrasesOccurrences(docs, "id", "text", phrases, k = 2)
      .orderBy("phrase_id", "id", "pos")
      .as[(Long, Long, Int)].collect().toSeq
    // ground truth: loop the single-phrase operator (exactly what the
    // batch path exists to avoid at scale)
    val want = Seq(10L -> Seq("a", "b"), 11L -> Seq("c", "d"),
        12L -> Seq("a", "b", "c"), 13L -> Seq("z", "z")).flatMap {
      case (pid, p) =>
        TextSearch.phraseOccurrences(docs, "id", "text",
            Seq(Tuple1(p)).toDF("p"), k = 2)
          .as[(Long, Int)].collect().toSeq.map { case (id, pos) => (pid, id, pos) }
    }.sorted
    assert(got === want)
    assert(got.contains((10L, 2L, 1)) && got.contains((12L, 1L, 4)))
    assert(!got.exists(_._1 == 13L)) // absent phrase: no rows, no error
    // a short phrase anywhere in the batch is refused loudly
    assert(intercept[IllegalArgumentException] {
      TextSearch.phrasesOccurrences(docs, "id", "text",
        Seq((20L, Seq("a", "b")), (21L, Seq("a"))).toDF("phrase_id", "p"), k = 2)
    }.getMessage.contains("gram width"))
    // missing contract columns are refused loudly
    assert(intercept[IllegalArgumentException] {
      TextSearch.phrasesOccurrences(docs, "id", "text",
        Seq(Tuple1(Seq("a", "b"))).toDF("p"), k = 2)
    }.getMessage.contains("phrase_id"))
  }

  test("phraseOccurrencesScreened: membership veto short-circuits; present phrases locate identically") {
    val docs = Seq(
      (1L, "a b c d a b c d"),
      (2L, "x a b y")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("gramsidx").toString
    graft.index.IndexStore.saveGrams(docs, "id", "text", k = 2, dir)
    val idx = graft.index.IndexStore.loadGrams(spark, dir)
    val ab = Seq(Tuple1(Seq("a", "b"))).toDF("p")
    val got = TextSearch.phraseOccurrencesScreened(idx, docs, "id", "text", ab)
      .orderBy("id", "pos").as[(Long, Int)].collect().toSeq
    assert(got === Seq((1L, 0), (1L, 4), (2L, 1)))
    // absent phrase: the index vetoes — empty result with the right schema
    val zz = Seq(Tuple1(Seq("z", "z"))).toDF("p")
    val vetoed = TextSearch.phraseOccurrencesScreened(idx, docs, "id", "text", zz)
    assert(vetoed.schema.map(_.name) === Seq("id", "pos"))
    assert(vetoed.count() === 0L)
    // width mismatch is loud (the index's k is its DDL)
    assert(intercept[IllegalArgumentException] {
      TextSearch.phraseOccurrencesScreened(idx, docs, "id", "text",
        Seq(Tuple1(Seq("a"))).toDF("p"))
    }.getMessage.contains("gram width"))
  }

  test("positional phrase index: indexed locate == scan locate; append/replay/compact parity") {
    val d1 = Seq(
      (1L, "a b c d a b c d"),
      (2L, "x a b y")).toDF("id", "text")
    val d2 = Seq((5L, "q a b r")).toDF("id", "text")
    val all = d1.unionByName(d2)
    val dir = java.nio.file.Files.createTempDirectory("phraseidx").toString
    graft.index.IndexStore.savePhrase(d1, "id", "text", k = 2, dir)
    graft.index.IndexStore.appendBatchPhrase(d2, "id", "text", dir, batchId = 0L)
    // crash replay: re-applying a committed batch is a no-op
    graft.index.IndexStore.appendBatchPhrase(d2, "id", "text", dir, batchId = 0L)
    def locate(p: Seq[String]) = TextSearch.phraseOccurrencesIndexed(
        graft.index.IndexStore.loadPhrase(spark, dir), all, "id", "text", p)
      .orderBy("id", "pos").as[(Long, Int)].collect().toSeq
    def scan(p: Seq[String]) = TextSearch.phraseOccurrences(
        all, "id", "text", Seq(Tuple1(p)).toDF("p"), k = 2)
      .orderBy("id", "pos").as[(Long, Int)].collect().toSeq
    // k-length, longer-than-k (offset intersection), and absent phrases
    val probes = Seq(Seq("a", "b"), Seq("a", "b", "c"),
      Seq("a", "b", "c", "d", "a"), Seq("z", "z"))
    for (p <- probes) assert(locate(p) === scan(p), s"phrase $p")
    assert(locate(Seq("a", "b")) === Seq((1L, 0), (1L, 4), (2L, 1), (5L, 1)))
    // compaction folds batches without changing any answer
    val before = probes.map(locate)
    graft.index.IndexStore.compactPhrase(spark, dir)
    assert(probes.map(locate) === before)
    assert(locate(Seq("a", "b", "c", "d", "a")) === Seq((1L, 0)))
    // a phrase narrower than the index's gram width is refused loudly
    assert(intercept[IllegalArgumentException] {
      TextSearch.phraseOccurrencesIndexed(
        graft.index.IndexStore.loadPhrase(spark, dir), all, "id", "text",
        Seq("a"))
    }.getMessage.contains("gram width"))
    // DOUBLE-INDEXED doc: re-ingesting a doc under a NEW batch id (source
    // replay / checkpoint reset — appendBatchPhrase's idempotence is keyed
    // by batchId only) duplicates its postings; the offset intersection
    // must count DISTINCT offsets, not rows, or true occurrences with
    // duplicated postings silently vanish (round-8 advice, medium)
    graft.index.IndexStore.appendBatchPhrase(d2, "id", "text", dir, batchId = 1L)
    for (p <- Seq(Seq("a", "b"), Seq("a", "b", "c"), Seq("q", "a", "b", "r")))
      assert(locate(p) === scan(p), s"double-indexed phrase $p")

    // BATCH over the index: == the scan-based batch operator, keyed by
    // phrase_id, including mixed lengths, absent phrases, and the
    // double-indexed postings above
    val idx = graft.index.IndexStore.loadPhrase(spark, dir)
    val phrases = Seq(
      (10L, Seq("a", "b")),
      (11L, Seq("a", "b", "c", "d", "a")),
      (12L, Seq("q", "a", "b", "r")),
      (13L, Seq("z", "z"))).toDF("phrase_id", "p")
    val gotIdx = TextSearch.phrasesOccurrencesIndexed(idx, all, "id", "text",
        phrases)
      .orderBy("phrase_id", "id", "pos").as[(Long, Long, Int)].collect().toSeq
    val gotScan = TextSearch.phrasesOccurrences(all, "id", "text", phrases,
        k = 2)
      .orderBy("phrase_id", "id", "pos").as[(Long, Long, Int)].collect().toSeq
    assert(gotIdx === gotScan)
    assert(gotIdx.contains((10L, 5L, 1)) && gotIdx.contains((11L, 1L, 0)))
    assert(!gotIdx.exists(_._1 == 13L))
    // short-phrase and contract guards stay loud in the batch path
    assert(intercept[IllegalArgumentException] {
      TextSearch.phrasesOccurrencesIndexed(idx, all, "id", "text",
        Seq((20L, Seq("a"))).toDF("phrase_id", "p"))
    }.getMessage.contains("gram width"))
  }

  // 4 unit-ish vectors on the plane: ids ordered so ties are observable
  private def vecs = Seq(
    (1L, Seq(1.0, 0.0), "en"),
    (2L, Seq(0.8, 0.6), "en"),
    (3L, Seq(0.0, 1.0), "de"),
    (4L, Seq(-1.0, 0.0), "en"),
  ).toDF("id", "emb", "lang")

  test("knn: pre-filter returns exactly min(k, matching) rows; ranked desc") {
    val q = Array(1.0, 0.0)
    val all = VectorSearch.knn(vecs, "id", "emb", q, k = 10)
    assert(all.count() === 4)
    val got = all.select("id").as[Long].collect()
    assert(got === Seq(1L, 2L, 3L, 4L)) // cos: 1, .8, 0, -1
    val filtered = VectorSearch.knn(vecs, "id", "emb", q, k = 10,
      preFilter = Some(col("lang") === "de"))
    assert(filtered.count() === 1) // min(k, matching)
    val scores = all.select("score").as[Double].collect()
    assert(scores === scores.sorted.reverse)
  }

  test("knn: top-k is a prefix of the full ranking (property)") {
    val q = Array(0.3, 0.7)
    val full = VectorSearch.knn(vecs, "id", "emb", q, k = 10).select("id").as[Long].collect()
    for (k <- 1 to 4) {
      val topk = VectorSearch.knn(vecs, "id", "emb", q, k).select("id").as[Long].collect()
      assert(topk.toSeq === full.take(k).toSeq, s"k=$k")
    }
  }

  // 3-doc toy corpus, hand-computed BM25 (k1=1.2, b=0.75, Lucene idf)
  private def toyDocs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry date"),
  ).toDF("id", "text")

  test("knnJoin: per-query top-k, self-pairs excluded, query batch broadcast") {
    // cos(1,2)=0.8, cos(1,3)=0, cos(1,4)=-1; cos(2,3)=0.6, cos(2,4)=-0.8
    val got = VectorSearch.knnJoin(
        vecs.where($"id" < 3), vecs, "id", "emb", "id", "emb", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got === Map(
      (1L, 1) -> ((2L, 0.8)), (1L, 2) -> ((3L, 0.0)),
      (2L, 1) -> ((1L, 0.8)), (2L, 2) -> ((3L, 0.6))))
    // the corpus side must not shuffle for scoring: the query batch is the
    // broadcast side of a nested-loop join
    val plan = VectorSearch.knnJoin(
        vecs.where($"id" < 3), vecs, "id", "emb", "id", "emb", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast NL join for the scoring pass in:\n$plan")
    // ...and the top-k must be the bounded-state aggregator with a partial
    // (map-side) phase, so the shuffle carries <= k rows per task per query
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial"),
      s"expected partial ObjectHashAggregate top-k in:\n$plan")
  }

  test("TopKByScore: random reduce/merge orders equal sort-truth (seeded)") {
    val rnd = new scala.util.Random(7)
    val agg = new VectorSearch.TopKByScore(5)
    for (trial <- 1 to 20) {
      // duplicate scores force the id tie-break; duplicate ids are fine
      val xs = Seq.fill(3 + rnd.nextInt(40))(
        (rnd.nextInt(6).toDouble / 2.0, rnd.nextInt(30).toLong))
      val truth = xs.sortBy { case (s, id) => (-s, id) }.take(5)
      // arbitrary partitioning into buffers, reduced then merged pairwise
      val parts = xs.grouped(1 + rnd.nextInt(7)).toSeq
      val merged = parts
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged) === truth, s"trial $trial: $xs")
    }
  }

  test("knnJoin bounded top-k equals the rank-window formulation") {
    import org.apache.spark.sql.expressions.Window
    val e = graft.util.Tables.embeddings(spark, Sf0001)
    val agg = VectorSearch.knnJoin(e.where($"vec_id" < 20), e,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val q = broadcast(e.select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .where($"query_id" < 20))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"nbr_id".asc)
    val win = e.select($"vec_id".as("nbr_id"), $"embedding".as("cv"))
      .crossJoin(q).where($"query_id" =!= $"nbr_id")
      .withColumn("sim", round(
        graft.functions.Vectors.dot($"qv", $"cv") /
          (graft.functions.Vectors.l2norm($"qv") * graft.functions.Vectors.l2norm($"cv")), 6))
      .withColumn("rank", row_number().over(w)).where($"rank" <= 5)
      .select($"query_id", $"nbr_id", $"sim", $"rank".cast("int"))
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(agg === win)
  }

  test("bm25 matches hand-computed scores on the toy corpus") {
    // N=3, dl = (3,2,2), avgdl = 7/3; df(apple)=1, df(cherry)=2
    val idfApple = math.log(1.0 + (3 - 1 + 0.5) / (1 + 0.5))
    val idfCherry = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    def contrib(idf: Double, tf: Double, dl: Double): Double =
      idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (7.0 / 3.0)))
    val exp = Map(
      1L -> contrib(idfApple, 2, 3),  // apple×2 in d1
      2L -> contrib(idfCherry, 1, 2), // cherry in d2
      3L -> contrib(idfCherry, 1, 2), // cherry in d3
    ).map { case (k, v) => k -> math.rint(v * 1e6) / 1e6 }
    val got = TextSearch.fullTextSearch(toyDocs, "id", "text", "apple cherry")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === exp)
    // ranked form (finite k): d2 and d3 tie exactly → id ASC between them;
    // the unlimited form above is contractually UNRANKED (callers re-rank)
    val ranked = TextSearch.fullTextSearch(toyDocs, "id", "text", "apple cherry", k = 3)
      .select("id").as[Long].collect()
    assert(ranked === Seq(1L, 2L, 3L))
  }

  test("bm25: empty query and unknown terms return no rows") {
    assert(TextSearch.fullTextSearch(toyDocs, "id", "text", "—").count() === 0)
    assert(TextSearch.fullTextSearch(toyDocs, "id", "text", "zzz").count() === 0)
  }

  test("bm25Join: per-query results equal per-query search; empty/unknown " +
      "queries vanish; oversized batch fails loudly") {
    val docs = graft.util.Tables.documents(spark, Sf0001)
    val index = TextSearch.buildIndex(docs, "doc_id", "text")
    val queryTexts = Seq(
      10L -> "fast table scan merge",
      11L -> "nuggets breakfast",
      12L -> "",      // no tokens → no output rows
      13L -> "zzzzz") // no matching terms → no output rows
    val queries = queryTexts.toDF("query_id", "qtext")
    val got = TextSearch.bm25Join(index, queries, "query_id", "qtext", k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val expect = queryTexts.flatMap { case (qid, text) =>
      TextSearch.search(index, text, k = 5)
        .as[(Long, Double)].collect().toSeq.zipWithIndex
        .map { case ((id, score), i) => (qid, id, score, i + 1) }
    }
    assert(got === expect)
    assert(!got.exists(r => r._1 == 12L || r._1 == 13L))
    // scale-misuse guard: the batch side is broadcast, so it must be bounded
    val big = spark.range(VectorSearch.MaxQueryBatch + 1L)
      .select($"id".as("query_id"), lit("apple").as("qtext"))
    val ex = intercept[IllegalArgumentException] {
      TextSearch.bm25Join(index, big, "query_id", "qtext", k = 5)
    }
    assert(ex.getMessage.contains("bm25Join"))
  }

  test("sparseKnnJoin: dot products equal dense arithmetic; per-query top-k; " +
      "oversized batch fails loudly") {
    // two queries over a 3-doc sparse corpus (unit-norm not required for
    // the dot-product contract)
    val corpus = Seq(
      (1L, 0, 0.6), (1L, 1, 0.8),
      (2L, 0, 1.0),
      (3L, 1, 1.0)).toDF("id", "dim", "val")
    val queries = Seq(
      (10L, 0, 1.0),
      (11L, 0, 0.6), (11L, 1, 0.8)).toDF("id", "dim", "val")
    val got = VectorSearch.sparseKnnJoin(queries, corpus, k = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // q10 = e0: best doc2 (1.0), then doc1 (0.6); doc3 shares no dim
    // q11 = (.6,.8): doc1 = 1.0, doc3 = 0.8, doc2 = 0.6 → top-2
    assert(got === Seq(
      (10L, 2L, 1.0, 1), (10L, 1L, 0.6, 2),
      (11L, 1L, 1.0, 1), (11L, 3L, 0.8, 2)))
    val big = spark.range(VectorSearch.MaxQueryBatch + 1L)
      .select($"id", lit(0).as("dim"), lit(1.0).as("val"))
    val ex = intercept[IllegalArgumentException] {
      VectorSearch.sparseKnnJoin(big, corpus, k = 2)
    }
    assert(ex.getMessage.contains("sparseKnnJoin"))
  }

  test("rrfJoin: per-query reciprocal ranks sum, absent pipeline contributes 0, " +
      "re-rank bounded by k") {
    val vec = Seq((1L, 100L, 1), (1L, 101L, 2), (2L, 200L, 1))
      .toDF("query_id", "id", "rank")
    val txt = Seq((1L, 101L, 1), (1L, 102L, 2), (2L, 200L, 1))
      .toDF("query_id", "id", "rank")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = ScoreFusion.rrfJoin(vec, txt, k = 2)
      .orderBy("query_id", "rank")
      .select("query_id", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // q1: 101 in both (1/62 + 1/61), 100 vec-only (1/61), 102 txt-only
    // (1/62) → top-2 = 101, 100; q2: 200 in both pipelines at rank 1
    assert(got === Seq(
      (1L, 101L, r6(1.0 / 62 + 1.0 / 61), 1),
      (1L, 100L, r6(1.0 / 61), 2),
      (2L, 200L, r6(2.0 / 61), 1)))
    // weights scale per-pipeline contributions
    val weighted = ScoreFusion.rrfJoin(vec, txt, k = 3, vecWeight = 2.0)
      .where($"query_id" === 1L && $"id" === 100L)
      .select("score").as[Double].head()
    assert(weighted === r6(2.0 / 61))
  }

  test("fusion: missing side contributes 0, not sigmoid(0)") {
    val vec = Seq((1L, 2.0)).toDF("id", "score")
    val txt = Seq((2L, 3.0)).toDF("id", "score")
    val got = ScoreFusion.fuse(vec, txt)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    assert(math.abs(got(1L) - math.rint(10 * sig(2.0) * 1e6) / 1e6) < 1e-9)
    assert(math.abs(got(2L) - math.rint(sig(3.0) * 1e6) / 1e6) < 1e-9)
  }

  test("fusion: document in both pipelines gets weighted sum; monotone in each input") {
    val vec = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "score")
    val txt = Seq((1L, 0.5), (2L, 0.5)).toDF("id", "score")
    val got = ScoreFusion.fuse(vec, txt)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(2L) > got(1L)) // higher vec raw → higher fused
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    assert(math.abs(got(1L) - math.rint((10 * sig(1.0) + sig(0.5)) * 1e6) / 1e6) < 1e-9)
  }

  test("rrf: reciprocal ranks sum; a missing pipeline contributes 0, rank ties break on id") {
    // vec ranks: id 3 (score .9) → 1, id 1 (.5) → 2, id 2 (.5, tie → id ASC) → 3
    val vec = Seq((1L, 0.5), (2L, 0.5), (3L, 0.9)).toDF("id", "score")
    // txt ranks: id 2 → 1, id 4 → 2 (id 4 absent from vec)
    val txt = Seq((2L, 7.0), (4L, 1.0)).toDF("id", "score")
    val got = ScoreFusion.rrf(vec, txt)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), Option(r.get(2)), Option(r.get(3))))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(3L) === ((r6(1.0 / 61), Some(1), None)))
    assert(got(1L) === ((r6(1.0 / 62), Some(2), None)))
    assert(got(2L) === ((r6(1.0 / 63 + 1.0 / 61), Some(3), Some(1))))
    assert(got(4L) === ((r6(1.0 / 62), None, Some(2))))
  }

  test("rrf: pipeline weights scale each pipeline's contribution") {
    val vec = Seq((1L, 1.0)).toDF("id", "score")
    val txt = Seq((1L, 1.0)).toDF("id", "score")
    val got = ScoreFusion.rrf(vec, txt, vecWeight = 10.0, txtWeight = 2.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - math.rint((10.0 / 61 + 2.0 / 61) * 1e6) / 1e6) < 1e-9)
  }

  test("mode validation mirrors the reference's request checks") {
    assertThrows[IllegalArgumentException](FoodFinder.validate("bogus", None, None, 5))
    assertThrows[IllegalArgumentException](FoodFinder.validate("vector", None, None, 5))
    assertThrows[IllegalArgumentException](FoodFinder.validate("fulltext", Some("x"), None, 5))
    assert(FoodFinder.validate("vector", Some("q"), None, 100) === 25) // clamp
    assert(FoodFinder.validate("hybrid", Some("q"), Some("t"), 0) === 1)
    assert(FoodFinder.validate("fulltext", None, Some("t"), 5) === 5)
  }

  test("declared index dimension rejects mismatched query vectors") {
    val docs = Seq((1L, "x", Seq(1.0, 0.0))).toDF("id", "text", "emb")
    val tbl = FoodFinder.SearchTable(docs, "id", "emb", "text", dim = Some(2))
    assertThrows[IllegalArgumentException](
      FoodFinder.vector(tbl, Array(1.0, 0.0, 0.0), k = 1))
    assert(FoodFinder.vector(tbl, Array(1.0, 0.0), k = 1).count() === 1)
  }

  test("dimension is enforced WITHOUT opt-in: derived from the data, every vector mode") {
    // Atlas always knows numDimensions (indexes.py:64) — a table with no
    // declared dim must still reject a mismatched query vector, in both
    // vector-consuming modes (fulltext takes no query vector)
    val docs = Seq(
      (1L, "apple banana", Seq(1.0, 0.0)),
      (2L, "banana cherry", Seq(0.8, 0.6)),
    ).toDF("id", "text", "emb")
    val tbl = FoodFinder.SearchTable(docs, "id", "emb", "text") // no dim
    assert(tbl.resolvedDim === Some(2))
    val bad = Array(1.0, 0.0, 0.0)
    assert(intercept[IllegalArgumentException](
      FoodFinder.vector(tbl, bad, k = 1)).getMessage.contains("dimension"))
    assert(intercept[IllegalArgumentException](
      FoodFinder.hybrid(tbl, bad, "banana", k = 1)).getMessage.contains("dimension"))
    // matched vectors still work in both modes
    assert(FoodFinder.vector(tbl, Array(1.0, 0.0), k = 1).count() === 1)
    assert(FoodFinder.hybrid(tbl, Array(1.0, 0.0), "banana", k = 2).count() === 2)
  }

  test("heterogeneous embedding dims fail loudly at derivation, not arbitrarily") {
    // a mixed-dim table has no single numDimensions: deriving one from
    // whichever row comes first would make enforcement partition-order
    // dependent — the derivation itself must throw instead
    val docs = Seq(
      (1L, "apple", Seq(1.0, 0.0)),
      (2L, "banana", Seq(0.8, 0.6, 0.1)),
    ).toDF("id", "text", "emb")
    val tbl = FoodFinder.SearchTable(docs, "id", "emb", "text")
    val ex = intercept[IllegalArgumentException](tbl.resolvedDim)
    assert(ex.getMessage.contains("heterogeneous"))
    // an explicitly declared dim bypasses derivation (caller's contract)
    val declared = FoodFinder.SearchTable(docs, "id", "emb", "text", dim = Some(2))
    assert(declared.resolvedDim === Some(2))
  }

  test("sanitize: string ids, double scores, plain-JSON row (R15)") {
    val res = Seq((1L, 0.75)).toDF("id", "score")
    val got = FoodFinder.sanitize(res).head()
    assert(got.getString(0) === "1")
    assert(got.getDouble(1) === 0.75)
    assert(got.getString(2) === """{"id":"1","score":0.75}""")
  }

  test("nested scoreDetails struct matches the reference shape and the flattened columns") {
    val docs = Seq(
      (1L, "apple banana apple", Seq(1.0, 0.0)),
      (2L, "banana cherry", Seq(0.8, 0.6)),
      (3L, "cherry date", Seq(0.0, 1.0)),
    ).toDF("id", "text", "emb")
    val tbl = FoodFinder.SearchTable(docs, "id", "emb", "text")
    val got = FoodFinder.hybrid(tbl, Array(1.0, 0.0), "cherry", k = 5,
      nestedDetails = true)
    // shape: scoreDetails STRUCT<value, details ARRAY<STRUCT<
    //   inputPipelineName, value, inputPipelineRawScore>>> — the contract
    // frontend/static/js/main.js:104-151 consumes
    val sd = got.schema("scoreDetails").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sd.fieldNames.toSeq === Seq("value", "details"))
    val det = sd("details").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(det.fieldNames.toSeq === Seq("inputPipelineName", "value", "inputPipelineRawScore"))
    // values agree with the flattened columns, per pipeline membership
    got.select("id", "score", "vec_norm", "vec_raw", "txt_norm", "txt_raw",
        "scoreDetails.value", "scoreDetails.details").collect().foreach { r =>
      assert(r.getDouble(6) === r.getDouble(1), "struct value = fused score")
      val details = r.getSeq[org.apache.spark.sql.Row](7)
        .map(d => d.getString(0) -> (d.getDouble(1), d.getDouble(2))).toMap
      if (!r.isNullAt(3)) assert(details("searchOne") === ((r.getDouble(2), r.getDouble(3))))
      else assert(!details.contains("searchOne"))
      if (!r.isNullAt(5)) assert(details("searchTwo") === ((r.getDouble(4), r.getDouble(5))))
      else assert(!details.contains("searchTwo"))
      assert(details.nonEmpty)
    }
    // every doc matching only one pipeline yields exactly one detail entry
    val vecOnly = got.where(col("txt_raw").isNull)
      .select(size(col("scoreDetails.details"))).as[Int].collect()
    assert(vecOnly.forall(_ === 1))
  }

  test("post-filter placement can return fewer than k rows (hybrid/fulltext)") {
    val docs = Seq(
      (1L, "apple banana apple", Seq(1.0, 0.0), "en"),
      (2L, "banana cherry", Seq(0.8, 0.6), "de"),
      (3L, "cherry date", Seq(0.0, 1.0), "de"),
    ).toDF("id", "text", "emb", "lang")
    val tbl = FoodFinder.SearchTable(docs, "id", "emb", "text")
    // all 3 match the text query terms' docs? query 'cherry' matches d2,d3;
    // post-filter lang='en' removes both → 0 rows despite k=5
    val got = FoodFinder.fulltext(tbl, "cherry", k = 5, filter = Some(col("lang") === "en"))
    assert(got.count() === 0)
    // vector mode pre-filters: k=5 over lang='en' → exactly 1 row
    val gotV = FoodFinder.vector(tbl, Array(1.0, 0.0), k = 5, filter = Some(col("lang") === "en"))
    assert(gotV.count() === 1)
  }

  test("SparkEntry.clearCaches drops this session's entries; queries rebuild cleanly") {
    // populate several per-(session, dir) caches through a declared query,
    // clear, and re-run: the long-lived-host contract is that clearing is
    // safe at any point and later queries simply rebuild their DDL state
    val before = SparkEntry.queries("q_vector_knn")(spark, Sf0001)
      .collect().toSeq
    SparkEntry.clearCaches(spark)
    SparkEntry.clearCaches(spark) // idempotent on an empty cache set
    val after = SparkEntry.queries("q_vector_knn")(spark, Sf0001)
      .collect().toSeq
    assert(after === before)
  }
}
