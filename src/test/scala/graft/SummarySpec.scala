package graft

import java.nio.file.Files

import graft.index.IndexStore
import graft.operators.Sketches
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted mergeable-summary family contracts: batch-accreted MG
  * deltas keep heavy-hitter recall 1 across arbitrary wave splits (and
  * the recount restores exactness), the KMV fold is DEFINITIONALLY the
  * single-pass estimate, staleness refuses loudly, replays are no-ops,
  * compaction preserves both reports, and the streaming hook commits
  * per-batch deltas. */
class SummarySpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  /** A skewed item stream with known exact counts: 30 light items ×10
    * plus three heavies ×200/×300/×400 (n = 1200, 33 distinct), so the
    * > n/kReport answer is computable by hand and FLIPS across report
    * thresholds (k=5 → 2 hitters, k=8/12 → 3), while kMg=12 < 33
    * distinct forces genuine MG decrements and merge survivals. */
  private lazy val items = {
    val rows = (0 until 30).flatMap(i => Seq.fill(10)(s"it$i")) ++
      Seq.fill(200)("hvy200") ++ Seq.fill(300)("hvy300") ++
      Seq.fill(400)("hvy400")
    // deterministic shuffle so waves aren't sorted runs
    val rnd = new scala.util.Random(17)
    rnd.shuffle(rows).zipWithIndex
      .map { case (it, ix) => (ix.toLong, it) }
      .toDF("ix", "item").localCheckpoint(true)
  }

  private def brute(k: Int): Seq[(String, Long)] =
    items.groupBy("item").agg(count(lit(1)).as("cnt"))
      .crossJoin(items.agg(count(lit(1)).as("n")))
      .where(col("cnt") * k > col("n"))
      .select("item", "cnt").orderBy("item")
      .as[(String, Long)].collect().toSeq

  private def buildWaves(path: String, kMg: Int, kKmv: Int,
      waves: Int): Unit = {
    IndexStore.saveSummary(items.where(pmod(col("ix"), lit(waves)) === 0)
      .select("item"), "item", kMg, kKmv, path)
    for (w <- 1 until waves)
      IndexStore.appendBatchSummary(
        items.where(pmod(col("ix"), lit(waves)) === w).select("item"),
        "item", path, (w - 1).toLong)
  }

  test("heavy hitters from batch-accreted deltas == brute HAVING at every report k") {
    val p = Files.createTempDirectory("sumhh").toString
    buildWaves(p, kMg = 12, kKmv = 64, waves = 5)
    val s = IndexStore.loadSummaryChecked(spark, p, items.select("item"), "item")
    assert(s.n === items.count())
    for ((kr, expectHitters) <- Seq(5 -> 2, 8 -> 3, 12 -> 3)) {
      val got = IndexStore.heavyHittersFromSummary(s, items, "item", kr)
        .orderBy("item").as[(String, Long)].collect().toSeq
      assert(got === brute(kr), s"kReport=$kr drifted from the brute answer")
      assert(got.size === expectHitters,
        s"kReport=$kr should report $expectHitters heavy hitters")
    }
    // above kMg the retention floor no longer guarantees recall: refused
    intercept[IllegalArgumentException](
      IndexStore.heavyHittersFromSummary(s, items, "item", 13))
  }

  test("KMV fold is definitionally the single-pass estimate; replay is a no-op") {
    val p = Files.createTempDirectory("sumkmv").toString
    buildWaves(p, kMg = 12, kKmv = 16, waves = 4)
    val s = IndexStore.loadSummary(spark, p)
    // single-pass: 16 smallest distinct hashes of the whole stream
    val direct = items
      .select(graft.functions.Text.hash60(col("item")).as("h"))
      .distinct().orderBy("h").limit(16)
      .as[Long].collect()
    assert(s.kmvMins.toSeq === direct.toSeq)
    assert(s.distinctEstimate === Sketches.estimate(direct, 16))
    // 40 distinct items, k=16: the estimator branch engages and lands
    // within the theory's ballpark (not exact — it's an estimator)
    assert(s.distinctEstimate > 20 && s.distinctEstimate < 80)
    // a replayed wave changes nothing (marks-keyed idempotence)
    IndexStore.appendBatchSummary(
      items.where(pmod(col("ix"), lit(4)) === 1).select("item"), "item",
      p, 0L)
    val s2 = IndexStore.loadSummary(spark, p)
    assert(s2.n === s.n && s2.kmvMins.toSeq === s.kmvMins.toSeq &&
      s2.mg === s.mg)
  }

  test("staleness guard refuses a moved-on stream; compaction preserves reports") {
    val p = Files.createTempDirectory("sumstale").toString
    buildWaves(p, kMg = 12, kKmv = 64, waves = 3)
    // grown stream refused
    val grown = items.select("item")
      .unionByName(Seq("brand-new").toDF("item"))
    val e = intercept[IllegalStateException](
      IndexStore.loadSummaryChecked(spark, p, grown, "item"))
    assert(e.getMessage.contains("STALE"))
    // appending the missing wave repairs at batch cost
    IndexStore.appendBatchSummary(Seq("brand-new").toDF("item"), "item",
      p, 77L)
    assert(IndexStore.loadSummaryChecked(spark, p, grown, "item")
      .n === items.count() + 1)
    // compaction folds to one base batch and reports are unchanged
    val before = IndexStore.loadSummary(spark, p)
    val hhBefore = IndexStore
      .heavyHittersFromSummary(before, items, "item", 8)
      .orderBy("item").as[(String, Long)].collect().toSeq
    val plan = IndexStore.planCompaction(spark, p, "summary",
      queriesPerWave = 1000000)
    assert(plan.recommend) // 5 committed batches, huge read workload
    assert(IndexStore.executeCompaction(spark, p, plan))
    val after = IndexStore.loadSummary(spark, p)
    assert(after.n === before.n)
    assert(after.kmvMins.toSeq === before.kmvMins.toSeq)
    assert(after.distinctEstimate === before.distinctEstimate)
    val hhAfter = IndexStore
      .heavyHittersFromSummary(after, items, "item", 8)
      .orderBy("item").as[(String, Long)].collect().toSeq
    assert(hhAfter === hhBefore)
    // still checkable after the fold
    assert(IndexStore.loadSummaryChecked(spark, p, grown, "item")
      .n === before.n)
  }

  test("summary overlap estimate: exact for complete sketches; DDL mismatch refused") {
    val pa = Files.createTempDirectory("sumixa").toString
    val pb = Files.createTempDirectory("sumixb").toString
    // two small streams sharing exactly 10 items — complete sketches at
    // kKmv=64, so the overlap estimate is the exact intersection
    val sa = (0 until 30).map(i => s"s$i")
    val sb = (20 until 45).map(i => s"s$i")
    IndexStore.saveSummary(sa.toDF("item"), "item", kMg = 8, kKmv = 64, pa)
    IndexStore.saveSummary(sb.toDF("item"), "item", kMg = 8, kKmv = 64, pb)
    val a = IndexStore.loadSummary(spark, pa)
    val b = IndexStore.loadSummary(spark, pb)
    assert(a.intersectionEstimate(b) === 10L)
    assert(b.intersectionEstimate(a) === 10L)
    // mismatched sketch DDL is refused, not silently compared
    val pc = Files.createTempDirectory("sumixc").toString
    IndexStore.saveSummary(sa.toDF("item"), "item", kMg = 8, kKmv = 32, pc)
    intercept[IllegalArgumentException](
      a.intersectionEstimate(IndexStore.loadSummary(spark, pc)))
  }

  test("fleet load is bounded: a broken family fails fast and is NAMED") {
    val ok = Files.createTempDirectory("sumfleetok").toString
    IndexStore.saveSummary((0 until 20).map(i => s"x$i").toDF("item"),
      "item", kMg = 8, kKmv = 64, ok)
    // the happy path returns in input order
    val loaded = IndexStore.loadSummaries(spark,
      Seq("alpha" -> ok, "beta" -> ok))
    assert(loaded.map(_._1) === Seq("alpha", "beta"))
    // a deliberately-missing path fails FAST (no Duration.Inf hang) and
    // the failure names the family, not just a path fragment — the
    // 50-source fleet diagnostic contract
    val e = intercept[IllegalStateException](
      IndexStore.loadSummaries(spark, Seq("alpha" -> ok,
        "ghost" -> "/nonexistent/graft-summary-fleet-test")))
    assert(e.getMessage.contains("ghost"))
    assert(e.getMessage.contains("/nonexistent/graft-summary-fleet-test"))
  }

  test("streaming summary upkeep commits per-batch deltas") {
    val p = Files.createTempDirectory("sumstream").toString
    val ckpt = Files.createTempDirectory("sumstreamckpt").toString
    IndexStore.saveSummary(items.where(pmod(col("ix"), lit(2)) === 0)
      .select("item"), "item", kMg = 12, kKmv = 64, p)
    val tail = items.where(pmod(col("ix"), lit(2)) === 1)
      .select("item").as[String].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String](spark)
    val q = IndexStore.stream(mem.toDF().toDF("item"), ckpt)(
      IndexStore.appendBatchSummary(_, "item", p, _))
    try {
      val (b1, b2) = tail.splitAt(tail.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val s = IndexStore.loadSummaryChecked(spark, p,
      items.select("item"), "item")
    val got = IndexStore.heavyHittersFromSummary(s, items, "item", 8)
      .orderBy("item").as[(String, Long)].collect().toSeq
    assert(got === brute(8))
  }
}
