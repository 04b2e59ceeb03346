package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one declaration per query, each with its oracle,
  * in one fixed order. The two pins hash the registry order and every
  * (name, oracle SQL) pair, so moving, reordering or re-spelling a query
  * fails here before the goldens run. */
class RegistrySpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("every query has a unique name and a non-blank oracle, keyed alike in queries and oracleSql") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size === 173)
    assert(names.distinct === names)
    assert(SparkEntry.queries.keys.toSeq === names)
    assert(SparkEntry.oracleSql.keys.toSeq === names)
    SparkEntry.oracleSql.foreach { case (n, sql) => assert(sql.trim.nonEmpty, n) }
  }

  test("the query names are exactly the golden file's") {
    val Key = """  "(\w+)": \{""".r
    val golden = Files.readString(Paths.get("tools/golden_sf0.01.json"))
      .linesIterator.collect { case Key(name) => name }.toSeq
    assert(golden.size === 173)
    assert(SparkEntry.queries.keySet === golden.toSet)
  }

  test("registry order is pinned") {
    assert(sha256(SparkEntry.queries.keys.mkString(",")) ===
      "1c70b666a57d4bd8bc3c5283fa9b1fe24c9e7b0a7894d25acd7078816ba42906")
  }

  test("every oracle SQL string is pinned") {
    val pairs = SparkEntry.oracleSql.toSeq
      .map { case (n, sql) => n + "\u0000" + sql }.sorted
    assert(sha256(pairs.mkString("\n")) ===
      "81b40c6589956cd172651be008eda1a55dec29f5a8e4bc92463efcacf430fd72")
  }

  test("selectQueries refuses unknown names and defaults to every query in order") {
    assert(SparkEntry.selectQueries(None).map(_.name) === SparkEntry.queries.keys.toSeq)
    assert(SparkEntry.selectQueries(Some("q_mmr,q_bm25")).map(_.name) === Seq("q_bm25", "q_mmr"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectQueries(Some("q_bm25,q_typo,q_nope")))
    assert(e.getMessage.contains("'q_typo'") && e.getMessage.contains("'q_nope'"))
    assert(!e.getMessage.contains("'q_bm25'"))
  }
}
