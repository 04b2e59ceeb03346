package graft

import java.io.ByteArrayOutputStream

import graft.queries.Query
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Measure` in-process at sf0.001: the shared per-query loop
  * reports a failing query and runs on, argument refusal happens before
  * any session starts, and `plan` prints one flags line per query. */
class MeasureSpec extends AnyFunSuite with SparkTest with BeforeAndAfterAll {

  // a session of its own, so the fixtures its queries build are released
  // with it instead of staying pinned on the suite's shared session
  private lazy val session = spark.newSession()
  override def afterAll(): Unit = SparkEntry.clearCaches(session)

  private def captured(body: => Int): (Int, Seq[String]) = {
    val out = new ByteArrayOutputStream()
    val failed = Console.withOut(out)(body)
    (failed, out.toString("UTF-8").linesIterator.toSeq)
  }

  private val boom = Query("q_boom", "SELECT 1")((_, _) =>
    throw new IllegalStateException("boom"))

  test("a query that throws is reported with its name and exception class; the next still runs") {
    val next = SparkEntry.selectQueries(Some("q_distinct_sort"))
    val (failed, lines) = captured(
      Measure.plan(session, Sf0001, boom +: next, run = false))
    assert(failed === 1)
    assert(lines.contains("FAILED q_boom: java.lang.IllegalStateException: boom"))
    assert(lines.contains("---- q_distinct_sort flags: none"))
  }

  test("an unknown mode or arity is refused; an unknown query name is refused through selectQueries") {
    assert(intercept[IllegalArgumentException](Measure.parse(Seq("bogus", Sf0001)))
      .getMessage.startsWith("usage: graft.Measure"))
    assert(intercept[IllegalArgumentException](Measure.parse(Seq("scale")))
      .getMessage.startsWith("usage: graft.Measure"))
    assert(intercept[IllegalArgumentException](Measure.parse(Seq("profile", Sf0001, "--run")))
      .getMessage.startsWith("usage: graft.Measure"))
    assert(intercept[IllegalArgumentException](Measure.parse(Seq("warm", Sf0001, "q1_agg")))
      .getMessage.startsWith("usage: graft.Measure"))
    assert(intercept[IllegalArgumentException](
      Measure.parse(Seq("plan", Sf0001, "q_distinct_sort,q_nope")))
      .getMessage === "requirement failed: unknown queries: 'q_nope'")
  }

  test("plan over two named queries prints exactly one flags line each") {
    val (failed, lines) = captured(
      Measure.parse(Seq("plan", Sf0001, "q1_agg,q_distinct_sort", "--run"))(session))
    assert(failed === 0)
    assert(lines.filter(_.startsWith("---- ")).map(_.takeWhile(_ != ':')) ===
      Seq("---- q_distinct_sort flags", "---- q1_agg flags"))
  }
}
