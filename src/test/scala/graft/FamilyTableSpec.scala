package graft

import graft.index.IndexStore
import graft.util.Tables
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The fleet operations resolve every family name through one table:
  * one refusal for an unknown name at every entry point, the alias
  * spellings accepted and echoed back, and the content-addressed layout
  * refused by the erasure audit. */
class FamilyTableSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("an unknown family name is refused by describeFamily, executeCompaction and executeErasureWave") {
    val dir = Files.createTempDirectory("famunknown").toString
    def unknown(f: => Any): Unit =
      assert(intercept[IllegalArgumentException](f).getMessage
        .contains("unknown index family 'btree'"))
    unknown(IndexStore.describeFamily(spark, "btree", dir))
    unknown(IndexStore.executeCompaction(spark, dir,
      IndexStore.CompactionPlan("btree", batches = 2, totalRows = 10L,
        perQueryExtraCost = 1.0, foldCost = 20.0, savingsPerWave = 100.0,
        wavesToBreakEven = 0.2, recommend = true, rationale = Nil)))
    unknown(IndexStore.executeErasureWave(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"), "doc_id",
      Seq(IndexStore.ErasureTarget("btree", dir, Seq("text"))), 0L))
  }

  test("erasureAudit refuses the zorder layout as content-addressed") {
    val dir = Files.createTempDirectory("famzorder").toString
    val e = intercept[IllegalArgumentException](
      IndexStore.erasureAudit(spark, Seq(1L, 2L).toDF("doc_id"), "doc_id",
        Seq("zorder" -> dir)))
    assert(e.getMessage.contains("CONTENT-addressed"))
  }

  test("describeFamily accepts both alias spellings and echoes the caller's") {
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    val lsh = Files.createTempDirectory("famlsh").toString
    IndexStore.saveSignLsh(
      graft.dedup.Dedup.signLshSketches(embs, "vec_id", "embedding", 64),
      lsh, source = Some((embs, "vec_id", "embedding")))
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
    val wc = Files.createTempDirectory("famwc").toString
    IndexStore.saveWordCounts(docs, "doc_id", "text", wc)
    for ((a, b, path) <- Seq(("signlsh", "sign-lsh", lsh),
        ("wordcount", "wc", wc))) {
      val sa = IndexStore.describeFamily(spark, a, path)
      val sb = IndexStore.describeFamily(spark, b, path)
      assert(sa.family === a && sb.family === b)
      assert(sa.copy(family = b) === sb)
      assert(sa.base && sa.fingerprintN.isDefined)
    }
  }
}
