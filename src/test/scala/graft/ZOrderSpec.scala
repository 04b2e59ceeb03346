package graft

import graft.util.ZOrder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Z-order layout contracts: the Morton Column expression vs the local
  * bit-interleave, box-query exactness vs the raw filter, the partition
  * pruning receipt, and the refusal surface. */
class ZOrderSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val dx = ZOrder.Dim("x", 0, 1999)
  private val dy = ZOrder.Dim("y", 0, 99)

  private lazy val (layoutPath, fixture) = {
    val rnd = new scala.util.Random(13)
    val df = Seq.fill(5000)(
        (rnd.nextInt(2000).toLong, rnd.nextInt(100).toLong, rnd.nextDouble()))
      .toDF("x", "y", "v")
    val p = Files.createTempDirectory("zorder").toString
    ZOrder.writeLayout(df, dx, dy, bits = 3, p, validate = true)
    (p, df)
  }

  test("zvalue Column matches the local bit-interleave on random cells") {
    val rnd = new scala.util.Random(7)
    val cells = Seq.fill(500)(
        (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
      .toDF("cx", "cy")
    cells.withColumn("z", ZOrder.zvalue(col("cx"), col("cy")))
      .collect().foreach { r =>
        assert(r.getLong(2) === ZOrder.zvalueLocal(r.getLong(0), r.getLong(1)))
      }
  }

  test("box query over a written layout equals the raw filter") {
    val layout = ZOrder.readLayout(spark, layoutPath)
    val rnd = new scala.util.Random(29)
    for (_ <- 1 to 8) {
      val x0 = rnd.nextInt(2000).toLong; val x1 = x0 + rnd.nextInt(500)
      val y0 = rnd.nextInt(100).toLong; val y1 = y0 + rnd.nextInt(30)
      val got = ZOrder.boxQuery(layout, dx, dy, 3, x0, x1, y0, y1)
        .agg(count(lit(1)), sum("v")).head()
      val want = fixture
        .where(col("x").between(x0, x1) && col("y").between(y0, y1))
        .agg(count(lit(1)), sum("v")).head()
      assert(got.getLong(0) === want.getLong(0), s"box [$x0,$x1]x[$y0,$y1]")
      if (want.getLong(0) > 0)
        assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-6)
    }
    // a box that misses the domain entirely: zero buckets, zero rows
    assert(ZOrder.bucketsForBox(dx, dy, 3, 5000, 6000, 0, 10).isEmpty)
    assert(ZOrder.boxQuery(layout, dx, dy, 3, 5000, 6000, 0, 10).count() === 0)
  }

  test("box scan prunes z-bucket partitions — the layout's receipt") {
    val layout = ZOrder.readLayout(spark, layoutPath)
    // a 10% × 25% box covers 1×2 of the 8×8 cells
    val zbs = ZOrder.bucketsForBox(dx, dy, 3, 0, 199, 0, 24)
    assert(zbs === Seq(0L, 2L)) // cells (0,0) and (0,1) → z 0 and 2
    val q = ZOrder.boxQuery(layout, dx, dy, 3, 0, 199, 0, 24)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*__zb.*"),
      s"expected __zb partition pruning in:\n$plan")
  }

  test("layout advisor: break-even arithmetic, measured coverage, refusals") {
    // measured coverage of the receipt box: 2 of 64 buckets
    val cov = ZOrder.measureCoverage(dx, dy, 3, Seq((0L, 199L, 0L, 24L)))
    assert(cov === 2.0 / 64.0)
    // n=1000, coverage 2/64: layout 2000 units, saving 968/query →
    // break-even ceil(2000/968) = 3 queries
    val a = ZOrder.adviseLayout(1000, cov, expectedBoxQueries = 3)
    assert(a.layoutCostUnits === 2000L)
    assert(a.perQuerySavingUnits === 968L)
    assert(a.breakEvenQueries === 3L)
    assert(a.build)
    assert(!ZOrder.adviseLayout(1000, cov, expectedBoxQueries = 2).build)
    // domain-spanning boxes save nothing: never build, no div-by-zero
    val never = ZOrder.adviseLayout(1000, 1.0, expectedBoxQueries = 1000000)
    assert(!never.build && never.breakEvenQueries === Long.MaxValue)
    intercept[IllegalArgumentException](ZOrder.adviseLayout(0, 0.5, 1))
    intercept[IllegalArgumentException](ZOrder.adviseLayout(10, 1.5, 1))
    intercept[IllegalArgumentException](
      ZOrder.measureCoverage(dx, dy, 3, Seq.empty))
  }

  test("refusals: inverted dim, overflow-risk span, out-of-domain rows") {
    intercept[IllegalArgumentException](ZOrder.Dim("x", 5, 4))
    intercept[IllegalArgumentException](
      ZOrder.cell(ZOrder.Dim("x", 0, Long.MaxValue / 2), 16))
    val bad = Seq((5000L, 5L, 1.0)).toDF("x", "y", "v")
    val p = Files.createTempDirectory("zorderbad").toString
    intercept[IllegalArgumentException](
      ZOrder.writeLayout(bad, dx, dy, 3, p, validate = true))
  }

  // ------------------------------------------ incremental layout lifecycle

  import graft.index.IndexStore

  /** Base = x mod 5 ≠ 4 (~80%), waves split the rest on y parity —
    * deterministic, so every test sees the same lifecycle. */
  private lazy val (incPath, incFixture) = {
    val rnd = new scala.util.Random(41)
    val df = Seq.fill(4000)(
        (rnd.nextInt(2000).toLong, rnd.nextInt(100).toLong, rnd.nextDouble()))
      .toDF("x", "y", "v").localCheckpoint(true)
    val p = Files.createTempDirectory("zorderinc").toString
    IndexStore.saveZOrder(df.where($"x" % 5 =!= 4), dx, dy, 3, p,
      validate = true)
    IndexStore.appendBatchZOrder(
      df.where($"x" % 5 === 4 && $"y" % 2 === 0), p, 0L)
    IndexStore.appendBatchZOrder(
      df.where($"x" % 5 === 4 && $"y" % 2 === 1), p, 1L)
    (p, df)
  }

  test("incremental layout: box query over base∪tail equals the raw filter") {
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 6) {
      val x0 = rnd.nextInt(2000).toLong; val x1 = x0 + rnd.nextInt(600)
      val y0 = rnd.nextInt(100).toLong; val y1 = y0 + rnd.nextInt(40)
      val got = IndexStore.boxZOrder(spark, incPath, x0, x1, y0, y1)
        .agg(count(lit(1)), sum("v")).head()
      val want = incFixture
        .where(col("x").between(x0, x1) && col("y").between(y0, y1))
        .agg(count(lit(1)), sum("v")).head()
      assert(got.getLong(0) === want.getLong(0), s"box [$x0,$x1]x[$y0,$y1]")
      if (want.getLong(0) > 0)
        assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-6)
    }
    // the base side still carries the directory-pruning receipt
    val plan = IndexStore.boxZOrder(spark, incPath, 0, 199, 0, 24)
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*__zb.*"),
      s"expected __zb partition pruning on the base scan in:\n$plan")
    // a replay of a committed wave is a no-op (idempotent appends)
    val before = IndexStore.loadZOrder(spark, incPath).count()
    IndexStore.appendBatchZOrder(
      incFixture.where($"x" % 5 === 4 && $"y" % 2 === 0), incPath, 0L)
    assert(IndexStore.loadZOrder(spark, incPath).count() === before)
  }

  test("incremental layout: staleness guard refuses a moved-on corpus") {
    // the committed waves cover exactly the fixture: accepted
    assert(IndexStore.loadZOrderChecked(spark, incPath, incFixture)
      .count() === incFixture.count())
    // an unindexed append refuses loudly…
    val grown = incFixture.unionByName(Seq((7L, 7L, 0.5)).toDF("x", "y", "v"))
    val e1 = intercept[IllegalStateException](
      IndexStore.loadZOrderChecked(spark, incPath, grown))
    assert(e1.getMessage.contains("STALE"))
    // …and so does an in-place payload mutation (content sensitivity:
    // the fingerprint hashes ALL columns, not just the layout dims)
    val mutated = incFixture.withColumn("v",
      when($"x" === incFixture.head.getLong(0), lit(-1.0)).otherwise($"v"))
    val e2 = intercept[IllegalStateException](
      IndexStore.loadZOrderChecked(spark, incPath, mutated))
    assert(e2.getMessage.contains("STALE"))
    // out-of-domain wave refused at APPEND time (a fold would otherwise
    // bury the rows in edge buckets where base pruning skips them)
    val e3 = intercept[IllegalArgumentException](
      IndexStore.appendBatchZOrder(
        Seq((5000L, 5L, 1.0)).toDF("x", "y", "v"), incPath, 9L))
    assert(e3.getMessage.contains("outside declared domains"))
  }

  test("fold advisor + compaction: priced from sidecars, fold restores full pruning") {
    // a fresh copy so the shared fixture stays unfolded for other tests
    val p = Files.createTempDirectory("zorderfold").toString
    IndexStore.saveZOrder(incFixture.where($"x" % 5 =!= 4), dx, dy, 3, p,
      validate = true)
    IndexStore.appendBatchZOrder(
      incFixture.where($"x" % 5 === 4 && $"y" % 2 === 0), p, 0L)
    IndexStore.appendBatchZOrder(
      incFixture.where($"x" % 5 === 4 && $"y" % 2 === 1), p, 1L)
    val baseN = incFixture.where($"x" % 5 =!= 4).count()
    val tailN = incFixture.where($"x" % 5 === 4).count()
    // adviseFold arithmetic: fold cost 2(base+tail), saving tail·(1−cov)
    val cov = 2.0 / 64.0
    val a = ZOrder.adviseFold(baseN, tailN, cov, expectedBoxQueries = 1000)
    assert(a.foldCostUnits === 2 * (baseN + tailN))
    assert(a.perQuerySavingUnits ===
      math.floor(tailN * (1 - cov)).toLong)
    assert(a.fold)
    assert(!ZOrder.adviseFold(baseN, tailN, cov, 1).fold)
    val never = ZOrder.adviseFold(baseN, tailN, 1.0, 1000000)
    assert(!never.fold && never.breakEvenQueries === Long.MaxValue)
    // the persisted plan reads baseN/tailN from the marks sidecar alone
    val plan = IndexStore.planZOrderCompaction(spark, p, cov,
      queriesPerWave = 1000)
    assert(plan.family === "zorder")
    assert(plan.totalRows === baseN + tailN)
    assert(plan.foldCost === 2.0 * (baseN + tailN))
    assert(plan.perQueryExtraCost === a.perQuerySavingUnits.toDouble)
    assert(plan.recommend)
    // the generic advisor refuses the layout family (it would under-fold)
    intercept[IllegalArgumentException](
      IndexStore.planCompaction(spark, p, "zorder", 1000))
    // a low-read workload carries the tail instead
    assert(!IndexStore.planZOrderCompaction(spark, p, cov,
      queriesPerWave = 1).recommend)
    // execute the fold: results unchanged, tail gone, marks folded,
    // checked loader still accepts, and the previously-tail rows are now
    // behind the directory-pruned base
    val before = IndexStore.boxZOrder(spark, p, 0, 599, 0, 49)
      .agg(count(lit(1)), sum("v")).head()
    assert(IndexStore.executeCompaction(spark, p, plan))
    val after = IndexStore.boxZOrder(spark, p, 0, 599, 0, 49)
      .agg(count(lit(1)), sum("v")).head()
    assert(after.getLong(0) === before.getLong(0))
    assert(math.abs(after.getDouble(1) - before.getDouble(1)) < 1e-6)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p, "tail")))
    assert(IndexStore.loadZOrderChecked(spark, p, incFixture)
      .count() === incFixture.count())
    assert(IndexStore.planZOrderCompaction(spark, p, cov, 1000)
      .batches === 1)
  }

  test("streaming layout upkeep: streamed waves stay exact and checkable") {
    val p = Files.createTempDirectory("zorderstream").toString
    val ckpt = Files.createTempDirectory("zorderstreamckpt").toString
    IndexStore.saveZOrder(incFixture.where($"x" % 5 =!= 4), dx, dy, 3, p,
      validate = true)
    val tailRows = incFixture.where($"x" % 5 === 4)
      .as[(Long, Long, Double)].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Double)](spark)
    val q = IndexStore.stream(mem.toDF().toDF("x", "y", "v"), ckpt)(
      IndexStore.appendBatchZOrder(_, p, _))
    try {
      val (b1, b2) = tailRows.splitAt(tailRows.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    assert(IndexStore.loadZOrderChecked(spark, p, incFixture)
      .count() === incFixture.count())
    val got = IndexStore.boxZOrder(spark, p, 100, 899, 10, 59)
      .agg(count(lit(1)), sum("v")).head()
    val want = incFixture
      .where(col("x").between(100, 899) && col("y").between(10, 59))
      .agg(count(lit(1)), sum("v")).head()
    assert(got.getLong(0) === want.getLong(0))
    assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-6)
  }

  test("content-addressed erasure: delete wave, box exactness over survivors, guard flips, fold purges") {
    val rnd = new scala.util.Random(47)
    val df = Seq.fill(3000)(
        (rnd.nextInt(2000).toLong, rnd.nextInt(100).toLong, rnd.nextDouble()))
      .toDF("x", "y", "v").localCheckpoint(true)
    val p = Files.createTempDirectory("zorderdel").toString
    IndexStore.saveZOrder(df.where($"x" % 5 =!= 4), dx, dy, 3, p,
      validate = true)
    IndexStore.appendBatchZOrder(df.where($"x" % 5 === 4), p, 0L)
    // the erased wave spans base AND tail; the survivors are its complement
    val doomed = df.where($"y" % 7 === 0).localCheckpoint(true)
    val survivors = df.where($"y" % 7 =!= 0).localCheckpoint(true)
    IndexStore.deleteBatchZOrder(doomed, p, 0L)
    assert(IndexStore.loadZOrderChecked(spark, p, survivors).count()
      === survivors.count())
    intercept[IllegalStateException](
      IndexStore.loadZOrderChecked(spark, p, df))
    // box queries are exact over the SURVIVORS at every lifecycle point
    def boxesMatch(corpus: org.apache.spark.sql.DataFrame): Unit =
      for (_ <- 1 to 4) {
        val x0 = rnd.nextInt(2000).toLong; val x1 = x0 + rnd.nextInt(600)
        val y0 = rnd.nextInt(100).toLong; val y1 = y0 + rnd.nextInt(40)
        val got = IndexStore.boxZOrder(spark, p, x0, x1, y0, y1)
          .agg(count(lit(1)), sum("v")).head()
        val want = corpus
          .where(col("x").between(x0, x1) && col("y").between(y0, y1))
          .agg(count(lit(1)), sum("v")).head()
        assert(got.getLong(0) === want.getLong(0),
          s"box [$x0,$x1]x[$y0,$y1]")
        if (want.getLong(0) > 0)
          assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-6)
      }
    boxesMatch(survivors)
    // replayed wave is a no-op; an OVERLAPPING wave is idempotent per
    // content (already-erased rows are anti-joined out of the deltas)
    IndexStore.deleteBatchZOrder(doomed, p, 0L)
    assert(IndexStore.loadZOrder(spark, p).count() === survivors.count())
    val survivors2 = df.where($"y" % 7 =!= 0 && $"y" % 11 =!= 0)
      .localCheckpoint(true)
    IndexStore.deleteBatchZOrder(
      df.where($"y" % 7 === 0 || $"y" % 11 === 0), p, 1L)
    assert(IndexStore.loadZOrderChecked(spark, p, survivors2).count()
      === survivors2.count())
    // the fold excludes erased rows and purges the ledger; still exact
    IndexStore.compactZOrder(spark, p)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(p, "tombstones")))
    assert(IndexStore.loadZOrderChecked(spark, p, survivors2).count()
      === survivors2.count())
    boxesMatch(survivors2)
    // the multiset contract: content addressing removes EVERY live copy,
    // so erasing the full duplicate multiset is accepted while a wave
    // that misses one copy drifts the sum and the guard refuses
    val dup = Seq((1L, 1L, 1.0), (1L, 1L, 1.0), (2L, 2L, 2.0))
      .toDF("x", "y", "v")
    val dims = (ZOrder.Dim("x", 0, 7), ZOrder.Dim("y", 0, 7))
    val pFull = Files.createTempDirectory("zorderdupfull").toString
    IndexStore.saveZOrder(dup, dims._1, dims._2, 2, pFull, validate = true)
    IndexStore.deleteBatchZOrder(dup.where($"x" === 1), pFull, 0L)
    assert(IndexStore.loadZOrderChecked(spark, pFull,
      dup.where($"x" =!= 1)).count() === 1L)
    val pHalf = Files.createTempDirectory("zorderduphalf").toString
    IndexStore.saveZOrder(dup, dims._1, dims._2, 2, pHalf, validate = true)
    IndexStore.deleteBatchZOrder(dup.where($"x" === 1).limit(1), pHalf, 0L)
    intercept[IllegalStateException](IndexStore.loadZOrderChecked(spark,
      pHalf, dup.where($"x" =!= 1)))
  }
}
