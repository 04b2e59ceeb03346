package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The tables the `batch` queries read (`documents`, `embeddings`,
  * `lineitem`), generated in the shape of the program's test data: keyword
  * bags over a 31-word vocabulary with a few exact and near duplicates,
  * 64-dim float embeddings, and a TPC-H-like `lineitem`. A fixed seed makes
  * the tables identical on every run, so query results can be checked
  * against hashes recorded from the program. */
object Fixture {
  final case class Size(name: String, documents: Int, embeddings: Int, lineitems: Long)

  val Seed = 42L
  val Vocabulary: Vector[String] = Vector("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Vector("en", "en", "en", "es", "de", "fr", "zh")

  def write(spark: SparkSession, dir: String, size: Size): Unit = {
    val rnd = new java.util.Random(Seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until size.documents).foreach { i =>
      val r = rnd.nextDouble()
      texts += (if (i > 10 && r < 0.004) {
        // exact duplicate of an earlier document
        texts(rnd.nextInt(i))
      } else if (i > 10 && r < 0.02) {
        // near duplicate: an earlier document with one token replaced
        val ws = texts(rnd.nextInt(i)).split(' ')
        ws(rnd.nextInt(ws.length)) = Vocabulary(rnd.nextInt(Vocabulary.size))
        ws.mkString(" ")
      } else Seq.fill(10 + rnd.nextInt(91))(Vocabulary(rnd.nextInt(Vocabulary.size))).mkString(" "))
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Langs(rnd.nextInt(Langs.size)), s"src${i % 20}", t.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(docs.toSeq, 1), StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .write.parquet(s"$dir/documents.parquet")
    val embs = (0 until size.embeddings).map { i =>
      Row(i.toLong, Seq.fill(64)((rnd.nextGaussian() * 0.125).toFloat), rnd.nextInt(10))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(embs, 1), StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))))
      .write.parquet(s"$dir/embeddings.parquet")
    // lineitem from hashes of the row number: identical under any partitioning
    def h(salt: Int, mod: Long) = pmod(xxhash64(col("id"), lit(salt)), lit(mod))
    spark.range(0, size.lineitems, 1, Sessions.Cores)
      .select(
        h(1, size.lineitems / 4 + 1).as("l_orderkey"),
        h(2, 20000).as("l_partkey"),
        h(3, 1000).as("l_suppkey"),
        (h(4, 7) + 1).cast("int").as("l_linenumber"),
        (h(5, 50) + 1).cast("double").as("l_quantity"),
        (h(6, 10410000) / 100.0 + 900.0).as("l_extendedprice"),
        (h(7, 11) / 100.0).as("l_discount"),
        (h(8, 9) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), (h(9, 3) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")), (h(10, 2) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(lit(788832000L) + h(11, 2500) * 86400L).as("l_shipdate"))
      .write.parquet(s"$dir/lineitem.parquet")
  }

  /** Delete every persisted index family the program keeps under
    * java.io.tmpdir (`graft_<family>_<dataDir>`). */
  def dropPersistedIndexes(): Unit = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_"))
      .foreach(f => Sessions.deleteTree(f.toPath))
  }
}
