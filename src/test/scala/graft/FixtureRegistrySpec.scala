package graft

import graft.util.Par
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The session fixture registry behind [[SparkEntry]]'s per-session
  * caches: every fixture a query builds is an entry that
  * [[SparkEntry.cachedEntryCount]] counts and [[SparkEntry.clearCaches]]
  * evicts, a build or staleness check that throws records nothing, and
  * builds may nest and run concurrently. Sessions come from
  * `newSession()`, so each test starts from an empty registry slice. */
class FixtureRegistrySpec extends AnyFunSuite with SparkTest {

  test("queries over the LM, overlap, planted-IVF and depth fixtures register and evict per session") {
    val live = spark.newSession()
    val liveAnswer = SparkEntry.queries("q_lm_score_inc")(live, Sf0001).collect().toSeq
    val liveCount = SparkEntry.cachedEntryCount(live)
    assert(liveCount > 0)

    val s = spark.newSession()
    val queries = Seq("q_lm_score_inc", "q_lm3_score_inc", "q_source_overlap_inc",
      "q_neardup_cosine_ball", "q_ann_plan")
    val answers = queries.map { q =>
      val before = SparkEntry.cachedEntryCount(s)
      val rows = SparkEntry.queries(q)(s, Sf0001).collect().toSeq
      assert(SparkEntry.cachedEntryCount(s) > before, s"$q must register its fixtures")
      q -> rows
    }

    SparkEntry.clearCaches(s)
    assert(SparkEntry.cachedEntryCount(s) === 0)
    assert(SparkEntry.cachedEntryCount(live) === liveCount,
      "clearCaches must not touch another live session's entries")

    // the evicted session rebuilds to the same answers; the live one
    // still answers from its own entries
    answers.foreach { case (q, rows) =>
      assert(SparkEntry.queries(q)(s, Sf0001).collect().toSeq === rows, q)
    }
    assert(SparkEntry.queries("q_lm_score_inc")(live, Sf0001).collect().toSeq === liveAnswer)
    SparkEntry.clearCaches(s)
    SparkEntry.clearCaches(live)
    assert(SparkEntry.cachedEntryCount(s) === 0)
    assert(SparkEntry.cachedEntryCount(live) === 0)
  }

  test("a build that throws leaves no entry, and the next call builds again") {
    val s = spark.newSession()
    val builds = new AtomicInteger(0)
    intercept[IllegalStateException] {
      SparkEntry.fixture[Int](s, "spec-flaky", "x") {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(SparkEntry.cachedEntryCount(s) === 0)
    assert(SparkEntry.fixture(s, "spec-flaky", "x") { builds.incrementAndGet(); 42 } === 42)
    assert(SparkEntry.fixture(s, "spec-flaky", "x") { builds.incrementAndGet(); 7 } === 42)
    assert(builds.get === 2)
    assert(SparkEntry.cachedEntryCount(s) === 1)
    SparkEntry.clearCaches(s)
    assert(SparkEntry.cachedEntryCount(s) === 0)
  }

  test("a failing checked load is never marked verified; a passing one is checked once") {
    val s = spark.newSession()
    val checks = new AtomicInteger(0)
    def load(ok: Boolean): String =
      SparkEntry.checkedOncePerWave(s, "spec-dir", "spec-family") {
        checks.incrementAndGet()
        if (!ok) throw new IllegalStateException("stale index")
        "checked"
      }("unchecked")
    intercept[IllegalStateException](load(ok = false))
    intercept[IllegalStateException](load(ok = false))
    assert(checks.get === 2, "a stale index must refuse on every attempt")
    assert(SparkEntry.cachedEntryCount(s) === 0)
    assert(load(ok = true) === "checked")
    assert(load(ok = true) === "unchecked")
    assert(checks.get === 3)
    SparkEntry.clearCaches(s)
    assert(load(ok = true) === "checked", "eviction drops the verdict too")
    SparkEntry.clearCaches(s)
  }

  test("clearCaches runs each release once, for the cleared session only") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val released = new AtomicInteger(0)
    Seq(s1, s2).foreach { s =>
      SparkEntry.pinnedFixture[String](s, "spec-pinned", "x",
        _ => released.incrementAndGet())("value")
    }
    SparkEntry.clearCaches(s1)
    SparkEntry.clearCaches(s1)
    assert(released.get === 1)
    assert(SparkEntry.cachedEntryCount(s2) === 1)
    SparkEntry.clearCaches(s2)
    assert(released.get === 2)
  }

  test("builds may look up other fixtures, concurrently, without deadlock") {
    val s = spark.newSession()
    val inner = new AtomicInteger(0)
    def innerFixture: Int = SparkEntry.fixture(s, "spec-inner", "x") {
      inner.incrementAndGet()
      Thread.sleep(50)
      1
    }
    def outer(n: Int): Int = SparkEntry.fixture(s, s"spec-outer-$n", "x")(innerFixture + n)
    val (a, b, c) = Par.all(outer(1), outer(2), outer(3))
    assert((a, b, c) === ((2, 3, 4)))
    assert(inner.get >= 1)
    assert(SparkEntry.cachedEntryCount(s) === 4)
    assert(innerFixture === 1)
    SparkEntry.clearCaches(s)
  }
}
