package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.index.{IndexStore, Pq}
import graft.util.{Tables, ZOrder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The commit protocol every persisted family shares, pinned table-driven
  * over all 17: negative wave ids refuse, replaying a committed append or
  * delete wave leaves the file tree byte-for-byte in place, every checked
  * loader refuses a never-built path as "never completed", and the
  * partition-directory layout after save → append(0) → delete(0) is the
  * literal table below (hash-valued `bucket`/`band`/`cluster` values are
  * wildcarded; directory names, partition columns and marker ids are
  * exact). */
class CommitProtocolSpec extends AnyFunSuite with SparkTest {

  private lazy val docs = Tables.documents(spark, Sf0001)
    .select("doc_id", "text", "lang", "source", "n_chars").localCheckpoint(true)
  private lazy val embs = Tables.embeddings(spark, Sf0001)
    .select("vec_id", "embedding").localCheckpoint(true)
  // base = ids not ≡ 0 (mod 3); wave 0 appends the ≡ 0 ids (all new);
  // delete wave 0 erases the base ids ≡ 1 (mod 7)
  private def base(df: DataFrame, id: String) = df.where(col(id) % 3 =!= 0)
  private def wave(df: DataFrame, id: String) = df.where(col(id) % 3 === 0)
  private def doomed(df: DataFrame, id: String) =
    base(df, id).where(col(id) % 7 === 1)
  private lazy val zrows = docs.select(col("doc_id"),
    (col("doc_id") % 2000).as("x"), (col("n_chars") % 100).as("y"))
  private val dx = ZOrder.Dim("x", 0, 1999)
  private val dy = ZOrder.Dim("y", 0, 99)

  /** One family's save, append, id-keyed delete (when it has one) and
    * checked load, each over a path. */
  private case class Fam(name: String, save: String => Unit,
      append: (String, Long) => Unit, delete: Option[(String, Long) => Unit],
      checked: String => Any)

  private def text(name: String,
      save: (DataFrame, String) => Unit,
      append: (DataFrame, String, Long) => Unit,
      delete: (DataFrame, String, Long) => Unit,
      checked: (String, DataFrame) => Any) =
    Fam(name, p => save(base(docs, "doc_id"), p),
      (p, b) => append(wave(docs, "doc_id"), p, b),
      Some((p, b) => delete(doomed(docs, "doc_id"), p, b)),
      p => checked(p, docs))

  private def vec(name: String,
      save: (DataFrame, String) => Unit,
      append: (DataFrame, String, Long) => Unit,
      delete: (DataFrame, String, Long) => Unit,
      checked: (String, DataFrame) => Any) =
    Fam(name, p => save(base(embs, "vec_id"), p),
      (p, b) => append(wave(embs, "vec_id"), p, b),
      Some((p, b) => delete(doomed(embs, "vec_id"), p, b)),
      p => checked(p, embs))

  private lazy val families: Seq[Fam] = Seq(
    text("bm25", (d, p) => IndexStore.createBm25(d, "doc_id", "text", p),
      IndexStore.appendBatchBm25(_, "doc_id", "text", _, _),
      IndexStore.deleteBatchBm25(_, "doc_id", "text", _, _),
      IndexStore.loadBm25Checked(spark, _, _, "doc_id", "text")),
    vec("signlsh", (e, p) => IndexStore.saveSignLsh(
        graft.dedup.Dedup.signLshSketches(e, "vec_id", "embedding", 64), p,
        Some((e, "vec_id", "embedding"))),
      IndexStore.appendBatchSignLsh(_, "vec_id", "embedding", 64, _, _),
      IndexStore.deleteBatchSignLsh(_, "vec_id", "embedding", _, _),
      IndexStore.loadSignLshChecked(spark, _, _, "vec_id", "embedding")),
    text("containment",
      IndexStore.saveContainment(_, "doc_id", "text", 0.8, _),
      IndexStore.appendBatchContainment(_, "doc_id", "text", _, _),
      IndexStore.deleteBatchContainment(_, "doc_id", "text", _, _),
      IndexStore.loadContainmentChecked(spark, _, _, "doc_id", "text")),
    text("grams", IndexStore.saveGrams(_, "doc_id", "text", 8, _),
      IndexStore.appendBatchGrams(_, "doc_id", "text", _, _),
      IndexStore.deleteBatchGrams(_, "doc_id", "text", _, _),
      IndexStore.loadGramsChecked(spark, _, _, "doc_id", "text")),
    text("phrase", IndexStore.savePhrase(_, "doc_id", "text", 8, _),
      IndexStore.appendBatchPhrase(_, "doc_id", "text", _, _),
      IndexStore.deleteBatchPhrase(_, "doc_id", "text", _, _),
      IndexStore.loadPhraseChecked(spark, _, _, "doc_id", "text")),
    text("windows", IndexStore.saveWindows(_, "doc_id", "text", 8, _),
      IndexStore.appendBatchWindows(_, "doc_id", "text", _, _),
      IndexStore.deleteBatchWindows(_, "doc_id", "text", _, _),
      IndexStore.loadWindowsChecked(spark, _, _, "doc_id", "text")),
    vec("ivf", (e, p) => IndexStore.createIvf(e, "vec_id", "embedding", p,
        numClusters = 4),
      IndexStore.appendBatchIvf(_, "vec_id", "embedding", _, _),
      IndexStore.deleteBatchIvf(_, "vec_id", "embedding", _, _),
      IndexStore.loadIvfChecked(spark, _, _, "vec_id", "embedding")),
    vec("pq", (e, p) => IndexStore.savePq(Pq.build(e, "vec_id", "embedding",
        m = 8, ksub = 8), p, Some((e, "vec_id", "embedding"))),
      IndexStore.appendBatchPq(_, "vec_id", "embedding", _, _),
      IndexStore.deleteBatchPq(_, "vec_id", "embedding", _, _),
      IndexStore.loadPqChecked(spark, _, _, "vec_id", "embedding")),
    vec("prefix", IndexStore.savePrefix(_, "vec_id", "embedding", 32, _),
      IndexStore.appendBatchPrefix(_, "vec_id", "embedding", _, _),
      IndexStore.deleteBatchPrefix(_, "vec_id", "embedding", _, _),
      IndexStore.loadPrefixChecked(spark, _, _, "vec_id", "embedding")),
    text("stats", IndexStore.saveStats(_, "doc_id", "text",
        Seq("lang", "source"), _),
      IndexStore.appendBatchStats(_, "doc_id", "text", _, _),
      IndexStore.deleteBatchStats(_, "doc_id", "text", _, _),
      IndexStore.loadStatsChecked(spark, _, _, "doc_id", "text")),
    Fam("summary",
      p => IndexStore.saveSummary(base(docs, "doc_id"), "lang", 4, 16, p),
      (p, b) => IndexStore.appendBatchSummary(wave(docs, "doc_id"), "lang",
        p, b),
      None, p => IndexStore.loadSummaryChecked(spark, p, docs, "lang")),
    Fam("zorder",
      p => IndexStore.saveZOrder(base(zrows, "doc_id"), dx, dy, 3, p),
      (p, b) => IndexStore.appendBatchZOrder(wave(zrows, "doc_id"), p, b),
      Some((p, b) => IndexStore.deleteBatchZOrder(doomed(zrows, "doc_id"),
        p, b)),
      p => IndexStore.loadZOrderChecked(spark, p, zrows)),
    text("quantile", IndexStore.saveQuantile(_, "doc_id", "n_chars", 64, _),
      IndexStore.appendBatchQuantile(_, "doc_id", "n_chars", _, _),
      IndexStore.deleteBatchQuantile(_, "doc_id", "n_chars", _, _),
      IndexStore.loadQuantileChecked(spark, _, _, "doc_id", "n_chars")),
    text("gquantile", IndexStore.saveGroupedQuantile(_, "doc_id", "source",
        "n_chars", 16, _),
      IndexStore.appendBatchGroupedQuantile(_, "doc_id", "source", "n_chars",
        _, _),
      IndexStore.deleteBatchGroupedQuantile(_, "doc_id", "source", "n_chars",
        _, _),
      IndexStore.loadGroupedQuantileChecked(spark, _, _, "doc_id", "source",
        "n_chars")),
    text("wordcount", IndexStore.saveWordCounts(_, "doc_id", "text", _),
      IndexStore.appendBatchWordCounts(_, "doc_id", "text", _, _),
      IndexStore.deleteBatchWordCounts(_, "doc_id", "text", _, _),
      IndexStore.loadWordCountsChecked(spark, _, _, "doc_id", "text")),
    text("lm", IndexStore.saveLm(_, "doc_id", "text", _),
      IndexStore.appendBatchLm(_, "doc_id", "text", _, _),
      IndexStore.deleteBatchLm(_, "doc_id", "text", _, _),
      IndexStore.loadLmChecked(spark, _, _, "doc_id", "text")),
    text("lm3", IndexStore.saveLm3(_, "doc_id", "text", _),
      IndexStore.appendBatchLm3(_, "doc_id", "text", _, _),
      IndexStore.deleteBatchLm3(_, "doc_id", "text", _, _),
      IndexStore.loadLm3Checked(spark, _, _, "doc_id", "text")))

  /** Each family saved, appended (wave 0) and deleted (wave 0) once. */
  private lazy val built: Map[String, String] = families.map { f =>
    val p = Files.createTempDirectory(s"commit-${f.name}").toString
    f.save(p)
    f.append(p, 0L)
    f.delete.foreach(_(p, 0L))
    f.name -> p
  }.toMap

  private def entries(root: String): Seq[Path] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.filter(_ != r).toSeq finally s.close()
  }

  /** Every file under `root`: relative path → size in bytes. */
  private def tree(root: String): Map[String, Long] =
    entries(root).filter(Files.isRegularFile(_)).map(p =>
      Paths.get(root).relativize(p).toString -> Files.size(p)).toMap

  /** The relative partition directories under `root`, hash-valued
    * partition values wildcarded. */
  private def layout(root: String): Set[String] =
    entries(root).filter(Files.isDirectory(_)).map(p =>
      Paths.get(root).relativize(p).toString
        .replaceAll("(bucket|band|cluster)=-?\\d+", "$1=*")).toSet

  test("(a) batch id -1 is refused by every append and id-keyed delete") {
    for (f <- families) {
      val p = built(f.name)
      val before = tree(p)
      intercept[IllegalArgumentException](f.append(p, -1L))
      f.delete.foreach(d => intercept[IllegalArgumentException](d(p, -1L)))
      assert(tree(p) === before, f.name)
    }
  }

  test("(b) replaying a committed append or delete wave leaves the file tree unchanged") {
    for (f <- families) {
      val p = built(f.name)
      val before = tree(p)
      f.append(p, 0L)
      assert(tree(p) === before, s"${f.name} append replay")
      f.delete.foreach { d =>
        d(p, 0L)
        assert(tree(p) === before, s"${f.name} delete replay")
      }
    }
  }

  test("(c) every checked loader refuses a never-built path as never completed") {
    for (f <- families) {
      val p = Files.createTempDirectory(s"commit-empty-${f.name}").toString
      val e = intercept[IllegalArgumentException](f.checked(p))
      assert(e.getMessage.contains("never completed"), s"${f.name}: $e")
    }
  }

  test("(d) partition layout after save, append(0), delete(0)") {
    for (f <- families)
      assert(layout(built(f.name)) === Layouts(f.name), f.name)
  }

  private val Layouts: Map[String, Set[String]] = Map(
    "bm25" -> Set(
      "delete_prov", "delete_prov/wave=0", "fprint", "fprint/batch=-1",
      "fprint/batch=-2", "fprint/batch=0", "postings", "postings/batch=-1",
      "postings/batch=-1/bucket=*", "postings/batch=0",
      "postings/batch=0/bucket=*", "stats", "stats/batch=-1",
      "stats/batch=-2", "stats/batch=0", "term_df", "term_df/batch=-1",
      "term_df/batch=-2", "term_df/batch=0", "tombstones",
      "tombstones/batch=-2"),
    "signlsh" -> Set(
      "commits", "commits/batch=-1", "commits/batch=-2", "commits/batch=0",
      "fprint", "fprint/batch=-1", "fprint/batch=-2", "fprint/batch=0",
      "sketches", "sketches/batch=-1", "sketches/batch=-1/band=*",
      "sketches/batch=0", "sketches/batch=0/band=*", "tombstones",
      "tombstones/batch=-2"),
    "containment" -> Set(
      "fprint", "fprint/batch=-1", "fprint/batch=-2", "fprint/batch=0",
      "meta", "postings", "postings/batch=-1", "postings/batch=-1/bucket=*",
      "postings/batch=0", "postings/batch=0/bucket=*", "prefixes",
      "prefixes/batch=-1", "prefixes/batch=-1/bucket=*", "prefixes/batch=0",
      "prefixes/batch=0/bucket=*", "sizes", "sizes/batch=-1",
      "sizes/batch=-2", "sizes/batch=0", "tombstones", "tombstones/batch=-2"),
    "grams" -> Set(
      "fprint", "fprint/batch=-1", "fprint/batch=-2", "fprint/batch=0",
      "hashes", "hashes/batch=-1", "hashes/batch=-1/bucket=*",
      "hashes/batch=0", "hashes/batch=0/bucket=*", "marks", "marks/batch=-1",
      "marks/batch=-2", "marks/batch=0", "meta"),
    "phrase" -> Set(
      "fprint", "fprint/batch=-1", "fprint/batch=-2", "fprint/batch=0",
      "marks", "marks/batch=-1", "marks/batch=-2", "marks/batch=0", "meta",
      "postings", "postings/batch=-1", "postings/batch=-1/bucket=*",
      "postings/batch=0", "postings/batch=0/bucket=*", "tombstones",
      "tombstones/batch=-2"),
    "windows" -> Set(
      "fprint", "fprint/batch=-1", "fprint/batch=-2", "fprint/batch=0",
      "marks", "marks/batch=-1", "marks/batch=-2", "marks/batch=0", "meta",
      "tombstones", "tombstones/batch=-2", "windows", "windows/batch=-1",
      "windows/batch=-1/bucket=*", "windows/batch=0",
      "windows/batch=0/bucket=*"),
    "ivf" -> Set(
      "assignments", "assignments/batch=-1", "assignments/batch=-1/cluster=*",
      "assignments/batch=0", "assignments/batch=0/cluster=*", "centroids",
      "delete_prov", "delete_prov/wave=0", "drift", "drift/base",
      "drift/waves", "drift/waves/batch=0", "fprint", "fprint/batch=-1",
      "fprint/batch=-2", "fprint/batch=0", "meta", "sizes", "sizes/batch=-1",
      "sizes/batch=-2", "sizes/batch=0", "tombstones", "tombstones/batch=-2"),
    "pq" -> Set(
      "codebooks", "codes", "codes/batch=-1", "codes/batch=0", "counts",
      "counts/batch=-1", "counts/batch=-2", "counts/batch=0", "drift",
      "drift/base", "drift/waves", "drift/waves/batch=0", "fprint",
      "fprint/batch=-1", "fprint/batch=-2", "fprint/batch=0", "meta",
      "tombstones", "tombstones/batch=-2"),
    "prefix" -> Set(
      "marks", "marks/batch=-1", "marks/batch=-2", "marks/batch=0", "meta",
      "prefix", "prefix/batch=-1", "prefix/batch=0", "tombstones",
      "tombstones/batch=-2"),
    "stats" -> Set(
      "commits", "commits/batch=-1", "commits/batch=-2", "commits/batch=0",
      "fields", "fprint", "fprint/batch=-1", "fprint/batch=-2",
      "fprint/batch=0", "histmeta", "stats", "stats/batch=-1",
      "stats/batch=-1/field=lang", "stats/batch=-1/field=source",
      "stats/batch=-2", "stats/batch=-2/field=lang",
      "stats/batch=-2/field=source", "stats/batch=0",
      "stats/batch=0/field=lang", "stats/batch=0/field=source", "tombstones",
      "tombstones/batch=-2"),
    "summary" -> Set(
      "kmv", "kmv/batch=-1", "kmv/batch=0", "marks", "marks/batch=-1",
      "marks/batch=0", "meta", "mg", "mg/batch=-1", "mg/batch=0"),
    "zorder" -> Set(
      "base", "base/__zb=0", "base/__zb=1", "base/__zb=10", "base/__zb=11",
      "base/__zb=2", "base/__zb=3", "base/__zb=32", "base/__zb=33",
      "base/__zb=34", "base/__zb=35", "base/__zb=40", "base/__zb=41",
      "base/__zb=42", "base/__zb=43", "base/__zb=8", "base/__zb=9", "marks",
      "marks/batch=-1", "marks/batch=-2", "marks/batch=0", "meta", "tail",
      "tail/batch=0", "tombstones", "tombstones/batch=-2"),
    "quantile" -> Set(
      "marks", "marks/batch=-1", "marks/batch=-2", "marks/batch=0", "meta",
      "q", "q/batch=-1", "q/batch=0", "tombstones", "tombstones/batch=-2"),
    "gquantile" -> Set(
      "gn", "gn/batch=-1", "gn/batch=-2", "gn/batch=0", "marks",
      "marks/batch=-1", "marks/batch=-2", "marks/batch=0", "meta", "q",
      "q/batch=-1", "q/batch=0", "tombstones", "tombstones/batch=-2"),
    "wordcount" -> Set(
      "delete_prov", "delete_prov/wave=0", "marks", "marks/batch=-1",
      "marks/batch=-2", "marks/batch=0", "tombstones", "tombstones/batch=-2",
      "wc", "wc/batch=-1", "wc/batch=-2", "wc/batch=0"),
    "lm" -> Set(
      "bg", "bg/batch=-1", "bg/batch=-2", "bg/batch=0", "delete_prov",
      "delete_prov/wave=0", "marks", "marks/batch=-1", "marks/batch=-2",
      "marks/batch=0", "tombstones", "tombstones/batch=-2", "uni",
      "uni/batch=-1", "uni/batch=-2", "uni/batch=0"),
    "lm3" -> Set(
      "bg", "bg/batch=-1", "bg/batch=-2", "bg/batch=0", "delete_prov",
      "delete_prov/wave=0", "marks", "marks/batch=-1", "marks/batch=-2",
      "marks/batch=0", "tg", "tg/batch=-1", "tg/batch=-2", "tg/batch=0",
      "tombstones", "tombstones/batch=-2", "uni", "uni/batch=-1",
      "uni/batch=-2", "uni/batch=0"))
}
