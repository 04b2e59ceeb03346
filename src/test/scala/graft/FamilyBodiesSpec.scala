package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.embed.Embedder
import graft.index.{IndexStore, Ivf}
import graft.search.VectorSearch
import graft.util.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The shared family bodies of [[IndexStore]], pinned on behaviour no other
  * spec covers: the scalar quantile family and a grouped one with a single
  * constant group run the same body, and the IVF cell-rewrite wave repairs
  * a crash between its sizes commit and its centroid switch. */
class FamilyBodiesSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val query = Embedder.default.embed("nuggets para desayuno")

  test("scalar and one-group grouped quantile sketches agree through save, append, delete and load") {
    val rows = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), length(col("text")).as("len"), lit("all").as("g"))
      .localCheckpoint(true)
    val (sDir, gDir) = (Files.createTempDirectory("qscalar").toString,
      Files.createTempDirectory("qgrouped").toString)
    // k below the corpus size: the sampled regime, where the merged
    // threshold decides which rows survive
    val k = 60
    def agree(live: DataFrame): Unit = {
      val s = IndexStore.loadQuantileChecked(spark, sDir, live, "doc_id", "len")
      val g = IndexStore.loadGroupedQuantileChecked(spark, gDir, live,
        "doc_id", "g", "len")
      assert(g.groups === Set("all"))
      assert(g.samples("all").toSeq === s.sample.toSeq)
      assert(g.nByGroup("all") === s.n)
      assert(g.complete("all") === s.complete)
      for (p <- Seq(0.05, 0.5, 0.9, 1.0))
        assert(g.quantile("all", p) === s.quantile(p))
    }
    val base = rows.where(pmod(col("doc_id"), lit(3)) =!= 2)
    IndexStore.saveQuantile(base, "doc_id", "len", k, sDir)
    IndexStore.saveGroupedQuantile(base, "doc_id", "g", "len", k, gDir)
    agree(base)
    IndexStore.appendBatchQuantile(rows.where(pmod(col("doc_id"), lit(3)) === 2),
      "doc_id", "len", sDir, 0L)
    IndexStore.appendBatchGroupedQuantile(
      rows.where(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "g", "len",
      gDir, 0L)
    agree(rows)
    val doomed = rows.where(pmod(col("doc_id"), lit(5)) === 0)
    IndexStore.deleteBatchQuantile(doomed, "doc_id", "len", sDir, 0L)
    IndexStore.deleteBatchGroupedQuantile(doomed, "doc_id", "g", "len", gDir, 0L)
    val survivors = rows.where(pmod(col("doc_id"), lit(5)) =!= 0)
    agree(survivors)
    assert(IndexStore.loadQuantile(spark, sDir).n === survivors.count())
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Runs `wave` on a fresh index, then puts back the pre-wave centroid
    * table and the `old` cells' assignment dirs — the on-disk state of a
    * crash after the sizes commit but before the centroid switch — and
    * re-runs `wave`: the repair must equal the uninterrupted run. */
  private def crashRepairEqualsUninterrupted(name: String,
      old: Ivf.IvfIndex => Seq[Int])(wave: (DataFrame, String, Seq[Int]) => Unit): Unit = {
    val embs = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").localCheckpoint(true)
    val dir = Files.createTempDirectory(s"ivf$name").toString
    IndexStore.createIvf(embs.where($"vec_id" % 2 === 0), "vec_id",
      "embedding", dir, numClusters = 6)
    IndexStore.appendBatchIvf(embs.where($"vec_id" % 2 === 1), "vec_id",
      "embedding", dir, batchId = 0L)
    val cells = old(IndexStore.loadIvf(spark, dir))
    val pre = Files.createTempDirectory(s"ivf${name}pre")
    copyTree(Paths.get(dir), pre)
    def snapshot() = {
      val i = IndexStore.loadIvfChecked(spark, dir, embs, "vec_id", "embedding")
      val routed = Ivf.ann(i, embs, "vec_id", "embedding", query, k = 10,
          numCandidates = Int.MaxValue, forceRoute = true)
        .select("vec_id", "score").as[(Long, Double)].collect().toSeq
      (i.sizes, i.centroids.map { case (c, v) => c -> v.toSeq }, routed)
    }
    val exact = VectorSearch.knn(embs, "vec_id", "embedding", query, k = 10)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    wave(embs, dir, cells)
    val (sizes, centroids, routed) = snapshot()
    assert(routed === exact)
    assert(cells.forall(c => !centroids.contains(c)))
    // the crash: sizes committed, centroid switch and cleanup undone
    deleteTree(Paths.get(dir, "centroids"))
    copyTree(pre.resolve("centroids"), Paths.get(dir, "centroids"))
    Files.list(pre.resolve("assignments")).iterator().asScala.foreach { b =>
      for (c <- cells) {
        val cell = b.resolve(s"cluster=$c")
        if (Files.exists(cell))
          copyTree(cell, Paths.get(dir, "assignments", b.getFileName.toString,
            s"cluster=$c"))
      }
    }
    assert(IndexStore.loadIvf(spark, dir).centroids.keySet ===
      IndexStore.loadIvf(spark, pre.toString).centroids.keySet)
    wave(embs, dir, cells)
    val (rSizes, rCentroids, rRouted) = snapshot()
    assert(rSizes === sizes)
    assert(rCentroids === centroids)
    assert(rRouted === routed)
    assert(rRouted === exact)
  }

  test("IVF split: a crash between the sizes commit and the centroid switch is repaired by a re-run") {
    crashRepairEqualsUninterrupted("split",
        i => Seq(IndexStore.adviseSplitIvf(i, factor = 1.0001).cluster)) {
      (embs, dir, cells) =>
        IndexStore.splitClusterIvf(embs, "vec_id", "embedding", dir,
          cells.head, batchId = 0L)
    }
  }

  test("IVF merge: a crash between the sizes commit and the centroid switch is repaired by a re-run") {
    crashRepairEqualsUninterrupted("merge", { i =>
      val m = IndexStore.adviseMergeIvf(i, factor = 100.0)
      Seq(m.clusterA, m.clusterB)
    }) { (embs, dir, cells) =>
      IndexStore.mergeClustersIvf(embs, "vec_id", "embedding", dir,
        cells(0), cells(1), batchId = 0L)
    }
  }
}
