package graft

import graft.sources.BsonSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BSON/mongodump ingestion: byte-level parser semantics on a hand-built
  * document, then a mongodump `catalog` dump end-to-end — the migration
  * path for the reference's canonical data. The dump is the committed
  * fixture `src/test/resources/dump/catalog/products.bson.gz` (built by
  * [[BsonSourceSpec.fixture]]); the reference's real dump
  * (`/root/reference/dump/catalog`) runs as an extra when it is present. */
class BsonSourceSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._
  import BsonSourceSpec._

  private val fixtureDir =
    new java.io.File(getClass.getResource("/dump/catalog").toURI).getPath
  private val referenceDir = "/root/reference/dump/catalog"
  private def dumpDirs: Seq[String] =
    fixtureDir +: Seq(referenceDir).filter(d =>
      java.nio.file.Files.isRegularFile(
        java.nio.file.Paths.get(s"$d/products.bson.gz")))

  private def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  test("the committed fixture dump is exactly what the byte builders produce") {
    val gz = java.nio.file.Paths.get(s"$fixtureDir/products.bson.gz")
    assert(gunzip(java.nio.file.Files.readAllBytes(gz)) sameElements fixture)
  }

  test("parser: every supported BSON type renders to the expected JSON") {
    val inner = doc(("k", 0x10, i32(7)))
    val arr = doc(("0", 0x02, str("a")), ("1", 0x10, i32(2))) // array = doc with index keys
    val bytes = doc(
      ("d", 0x01, i64(java.lang.Double.doubleToLongBits(2.5))),
      ("s", 0x02, str("hi \"there\"")),
      ("sub", 0x03, inner),
      ("xs", 0x04, arr),
      ("bin", 0x05, i32(3) ++ Array(0.toByte) ++ "abc".getBytes),
      ("oid", 0x07, (1 to 12).map(_.toByte).toArray),
      ("t", 0x08, Array(1.toByte)),
      ("f", 0x08, Array(0.toByte)),
      ("when", 0x09, i64(1700000000123L)),
      ("nul", 0x0a, Array.empty[Byte]),
      ("n32", 0x10, i32(-5)),
      ("n64", 0x12, i64(1234567890123L)),
      ("dec", 0x13, Array.fill(16)(0.toByte)),
      // zero-payload exotics: deprecated undefined, MaxKey, MinKey — one
      // of these in a collection must not abort the migration
      ("und", 0x06, Array.empty[Byte]),
      ("mx", 0x7f, Array.empty[Byte]),
      ("mn", 0xff, Array.empty[Byte]),
    )
    val docs = BsonSource.parseDocuments(bytes).toSeq
    assert(docs.length === 1)
    assert(docs.head ===
      """{"d":2.5,"s":"hi \"there\"","sub":{"k":7},"xs":["a",2],""" +
      """"bin":"YWJj","oid":"0102030405060708090a0b0c","t":true,"f":false,""" +
      """"when":1700000000123,"nul":null,"n32":-5,"n64":1234567890123,"dec":null,""" +
      """"und":null,"mx":null,"mn":null}""")
    // two concatenated documents parse as two (the mongodump layout)
    assert(BsonSource.parseDocuments(bytes ++ bytes).size === 2)
    // corrupt length fails loudly, never silently truncates
    val broken = bytes.clone(); broken(0) = 100.toByte
    intercept[IllegalArgumentException] {
      BsonSource.parseDocuments(broken).toSeq
    }
  }

  test("chaos: corrupted dump bytes fail loudly or parse correctly — never hang, never drop") {
    // fuzz over the dump's bytes: the parser's contract under
    // corruption is loud-failure-or-correct-parse — a mutated stream must
    // never silently yield wrong/fewer documents (the failure mode that
    // would corrupt a migration without anyone noticing), and every parse
    // must terminate (all parser loops advance ≥ 1 byte per iteration)
    for (dir <- dumpDirs) chaos(gunzip(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/products.bson.gz"))))
  }

  private def chaos(bytes: Array[Byte]): Unit = {
    val baseline = BsonSource.parseDocuments(bytes).toVector
    // document boundaries from the length prefixes (the layout contract)
    def lenAt(p: Int): Int =
      (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
        ((bytes(p + 2) & 0xff) << 16) | ((bytes(p + 3) & 0xff) << 24)
    val starts = Iterator.iterate(0)(p => p + lenAt(p))
      .takeWhile(_ < bytes.length).toVector
    assert(starts.length === baseline.length)
    val boundaries = (starts :+ bytes.length).toSet

    def parseAll(b: Array[Byte]): Either[Throwable, Vector[String]] =
      try Right(BsonSource.parseDocuments(b).toVector)
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    // docs that parsed BEFORE the failure point must be untouched — the
    // iterator yields them lazily, so re-walk collecting until the throw
    def parsedPrefix(b: Array[Byte]): Vector[String] = {
      val it = BsonSource.parseDocuments(b)
      val acc = Vector.newBuilder[String]
      try { while (it.hasNext) acc += it.next() } catch {
        case scala.util.control.NonFatal(_) =>
      }
      acc.result()
    }

    val rnd = new scala.util.Random(20260813L)
    // 1. random truncations: a cut at a document boundary is a VALID
    //    shorter dump (exactly the fitting prefix); any other cut throws
    for (_ <- 1 to 150) {
      val cut = 1 + rnd.nextInt(bytes.length - 1)
      parseAll(bytes.take(cut)) match {
        case Right(docs) =>
          assert(boundaries.contains(cut),
            s"mid-document cut at $cut parsed 'successfully'")
          assert(docs === baseline.take(docs.length) &&
            starts.count(_ < cut) === docs.length,
            s"boundary cut at $cut must yield exactly the fitting prefix")
        case Left(_) =>
          assert(!boundaries.contains(cut) || cut < 5,
            s"clean boundary cut at $cut must parse")
      }
    }
    // 2. flipped length prefixes: any changed declared length must throw
    //    (range check, terminator-position check, or a bounds error) —
    //    and the documents before the corrupted one survive verbatim
    for (_ <- 1 to 100) {
      val di = rnd.nextInt(starts.length)
      val start = starts(di)
      val mutated = bytes.clone()
      val byteIdx = start + rnd.nextInt(4)
      val orig = mutated(byteIdx)
      val flipped = (orig ^ (1 << rnd.nextInt(8))).toByte
      mutated(byteIdx) = flipped
      assert(parseAll(mutated).isLeft,
        s"flipped length prefix of doc $di (byte $byteIdx " +
          s"$orig→$flipped) must fail loudly")
      assert(parsedPrefix(mutated) === baseline.take(di),
        s"docs before the corrupted doc $di must parse untouched")
    }
    // 3. unknown tags: an unsupported type code must refuse loudly (the
    //    parser cannot know the payload width, so skipping would be a
    //    silent misparse of everything after)
    for (tag <- Seq(0x0b, 0x0c, 0x0d, 0x0e, 0x0f, 0x20, 0x42, 0xfe)) {
      val di = rnd.nextInt(starts.length)
      val mutated = bytes.clone()
      mutated(starts(di) + 4) = tag.toByte // first element's tag byte
      parseAll(mutated) match {
        case Left(e) => assert(
          e.getMessage == null || !e.getMessage.contains("silently"),
          s"tag 0x${tag.toHexString}: $e")
        case Right(docs) => fail(
          s"unknown tag 0x${tag.toHexString} in doc $di parsed: ${docs(di)}")
      }
      assert(parsedPrefix(mutated) === baseline.take(di))
    }
  }

  test("reference mongodump ingests end-to-end: catalog collections to queryable JSON") {
    dumpDirs.foreach(ingestsEndToEnd)
  }

  private def ingestsEndToEnd(dir: String): Unit = {
    val dump = BsonSource.readDump(spark, dir).cache()
    val byColl = dump.groupBy("collection").count()
      .as[(String, Long)].collect().toMap
    assert(byColl.contains("products"), s"collections found: ${byColl.keySet}")
    assert(byColl("products") > 100, "the catalog dump holds the menu corpus")
    val products = dump.where(col("collection") === "products")
      .select(
        get_json_object(col("doc_json"), "$._id").as("_id"),
        get_json_object(col("doc_json"), "$.id").as("id"),
        get_json_object(col("doc_json"), "$.title").as("title"),
        get_json_object(col("doc_json"), "$.countryCode").as("cc"),
        get_json_object(col("doc_json"), "$.availability[0].dayOfWeek").as("day"))
      .cache()
    // every document has a well-formed ObjectId and the flagship fields
    assert(products.where(col("_id").rlike("^[0-9a-f]{24}$")).count()
      === byColl("products"))
    assert(products.where(col("id").isNull || col("title").isNull).count() === 0)
    // the first document of the dump (byte-level ground truth, see the
    // hexdump in the source scaladoc): MX drive-thru breakfast menu
    val mx = products.where(col("id") === "MX-DRIVE_THRU-510851").collect()
    assert(mx.length === 1)
    assert(mx.head.getAs[String]("title") === "Menu Ejecutivo Flex (Desayuno)")
    assert(mx.head.getAs[String]("cc") === "MX")
    assert(mx.head.getAs[String]("day") === "SUNDAY")
    // nested availability arrays survived as real JSON arrays
    val days = products.where(col("day").isNotNull).select("day")
      .distinct().as[String].collect().toSet
    assert(days.nonEmpty && days.subsetOf(Set("MONDAY", "TUESDAY", "WEDNESDAY",
      "THURSDAY", "FRIDAY", "SATURDAY", "SUNDAY")))
    // non-ASCII text survives byte-exact (UTF-8 string lengths)
    if (dir == fixtureDir)
      assert(products.where(col("title") === NonAsciiTitle).count() === 1L)
    dump.unpersist(); products.unpersist()
  }
}

/** The BSON byte builders and the fixture dump built with them.
  * Regenerate the committed file with
  * `sbt "Test/runMain graft.BsonSourceSpec src/test/resources/dump/catalog"`. */
object BsonSourceSpec {

  /** Build a BSON document from (name, tag, payload) elements. */
  def doc(elems: (String, Int, Array[Byte])*): Array[Byte] = {
    val body = elems.flatMap { case (name, tag, payload) =>
      Array(tag.toByte) ++ name.getBytes("UTF-8") ++ Array(0.toByte) ++ payload
    }.toArray
    val len = body.length + 5
    Array[Byte](
      (len & 0xff).toByte, ((len >> 8) & 0xff).toByte,
      ((len >> 16) & 0xff).toByte, ((len >> 24) & 0xff).toByte) ++
      body ++ Array(0.toByte)
  }
  def i32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  def i64(v: Long): Array[Byte] =
    (0 until 8).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
  /** BSON string: int32 UTF-8 byte length (incl. the NUL), bytes, NUL. */
  def str(s: String): Array[Byte] = {
    val b = s.getBytes("UTF-8")
    i32(b.length + 1) ++ b ++ Array(0.toByte)
  }
  /** BSON array: a document keyed "0", "1", … */
  def arr(tag: Int, xs: Seq[Array[Byte]]): Array[Byte] =
    doc(xs.zipWithIndex.map { case (x, i) => (i.toString, tag, x) }: _*)

  val NonAsciiTitle = "Menú Niños Jalapeño Crème Brûlée 🍔 (Almuerzo)"
  private val Titles = Seq("Combo Pollo Crujiente (Cena)",
    "Cajita Feliz Café con Leche (Desayuno)",
    "Promo Açaí Fresco (Merienda)", "Box Hamburguesa Doble (Almuerzo)",
    "Duo Piña Colada Helado (Postre)")
  private val Days = Seq("SUNDAY", "MONDAY", "TUESDAY", "WEDNESDAY",
    "THURSDAY", "FRIDAY", "SATURDAY")
  private val Countries = Seq("MX", "PE", "CL", "CO")
  private val AreaTypes = Seq("DRIVE_THRU", "PICKUP", "DELIVERY", "EAT_IN")

  /** Catalog document `i`: ObjectId `_id`, nested availability and
    * product arrays; document 0 is the reference dump's first document
    * (MX drive-thru breakfast menu), document 1 carries [[NonAsciiTitle]]. */
  private def catalog(i: Int): Array[Byte] = {
    val oid = i32(1700000000 + i).reverse ++
      Array.tabulate(8)(j => ((i * 31 + j * 7) & 0xff).toByte)
    val cc = if (i == 0) "MX" else Countries(i % Countries.size)
    val id =
      if (i == 0) "MX-DRIVE_THRU-510851"
      else s"$cc-${AreaTypes(i % AreaTypes.size)}-${100000 + i * 7919}"
    val title =
      if (i == 0) "Menu Ejecutivo Flex (Desayuno)"
      else if (i == 1) NonAsciiTitle
      else s"${Titles(i % Titles.size)} #$i"
    val availability = Days.indices.map { d =>
      doc(("dayOfWeek", 0x02, str(Days((d + i) % Days.size))),
        ("timePeriods", 0x04, arr(0x03, Seq(doc(
          ("startTime", 0x02, str(f"${6 + (i + d) % 4}%02d:00")),
          ("endTime", 0x02, str(f"${20 + (i + d) % 4}%02d:00")))))))
    }
    val products = (0 until 3 + i % 4).map { j =>
      val amount = 3.5 + (i * 13 + j * 5) % 57
      doc(("name", 0x02, str(s"Producto $i-$j Pequeño")),
        ("price", 0x03, doc(
          ("amount", 0x01, i64(java.lang.Double.doubleToLongBits(amount))),
          ("formatted", 0x02, str(s"$$$amount".replace('.', ','))))),
        ("available", 0x08, Array((if ((i + j) % 5 != 0) 1 else 0).toByte)),
        ("areas", 0x04, arr(0x02, AreaTypes.take(1 + j % 3).map(str))))
    }
    doc(("_id", 0x07, oid), ("id", 0x02, str(id)), ("title", 0x02, str(title)),
      ("countryCode", 0x02, str(cc)),
      ("availability", 0x04, arr(0x03, availability)),
      ("products", 0x04, arr(0x03, products)),
      ("createdAt", 0x09, i64(1700000000000L + i * 86400000L)),
      ("__v", 0x10, i32(0)))
  }

  /** The fixture `products` collection: 120 concatenated documents. */
  def fixture: Array[Byte] = (0 until 120).map(catalog).reduce(_ ++ _)

  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(dir)
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("products.bson.gz")))
    try out.write(fixture) finally out.close()
  }
}
