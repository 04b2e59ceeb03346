package graft

import graft.api.FoodFinder
import graft.embed.{EmbedJob, Embedder}
import graft.etl.Flatten
import graft.index.{IndexStore, Ivf}
import graft.search.TextSearch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Command-line entry points mirroring the reference's scripts 1:1
  * (`README.md:14-31`): transform-seed.py → `flatten`, embed.py → `embed`,
  * indexes.py → `index`, local-test.py → `search`.
  *
  * Usage (spark-submit or sbt "runMain graft.Cli <cmd> ..."):
  *   flatten <catalog.parquet> <outDir>
  *   embed   <detail.parquet> <textCol> <outDir>            [--skip-existing embCol]
  *   index   <detail.parquet> <idCol> <embCol|textCol> <outDir> [--type vector|fulltext]
  *   search  <detail.parquet> <mode> <query> [k] [--available true] [--max-price x] [--restaurant s]
  */
object Cli {

  /** (session, ownsIt) — commands must only stop sessions they created
    * (a host JVM, e.g. the test suite, may already own one). */
  private def session(): (SparkSession, Boolean) = {
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    (SparkEntry.session(), preexisting.isEmpty)
  }

  private def flag(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "flatten" :: in :: out :: _ =>
      val (spark, owns) = session()
      Flatten.productDetail(spark.read.parquet(in))
        .write.mode("overwrite").parquet(out)
      println(s"[flatten] $in -> $out")
      if (owns) spark.stop()

    case "embed" :: in :: textCol :: out :: rest =>
      val (spark, owns) = session()
      val df = spark.read.parquet(in)
      val embedded = flag(rest.toArray, "--skip-existing") match {
        case Some(embCol) => EmbedJob.embedMissing(df, textCol, embCol)
        case None => EmbedJob.embedBatched(df, textCol)
          .withColumnRenamed("emb", "emb_description")
      }
      embedded.write.mode("overwrite").parquet(out)
      println(s"[embed] $in ($textCol) -> $out")
      if (owns) spark.stop()

    case "index" :: in :: idCol :: valueCol :: out :: rest =>
      val (spark, owns) = session()
      val df = spark.read.parquet(in)
      flag(rest.toArray, "--type").getOrElse("vector") match {
        case "vector" =>
          val widened = df.withColumn(valueCol, col(valueCol).cast("array<double>"))
          IndexStore.saveIvf(Ivf.build(widened, idCol, valueCol), out)
          println(s"[index] vector (IVF) on $valueCol -> $out")
        case "fulltext" =>
          IndexStore.saveBm25(TextSearch.buildIndex(df, idCol, valueCol), out)
          println(s"[index] fulltext (BM25) on $valueCol -> $out")
        case other => sys.error(s"unknown index type $other")
      }
      if (owns) spark.stop()

    case "search" :: in :: mode :: query :: rest =>
      val (spark, owns) = session()
      val k = FoodFinder.validate(mode,
        description = Some(query), title = Some(query),
        limit = rest.headOption.flatMap(h => scala.util.Try(h.toInt).toOption).getOrElse(5))
      val restArr = rest.toArray
      val preds = Seq(
        flag(restArr, "--available").map(v => col("product.available") === v.toBoolean),
        flag(restArr, "--max-price").map(v => col("product.price.amount") < v.toDouble),
        // min-price is gte and exists only in the CLI dialect
        // (reference local-test.py:32-36,99-102 — SURVEY R6)
        flag(restArr, "--min-price").map(v => col("product.price.amount") >= v.toDouble),
        flag(restArr, "--restaurant").map(v => col("restaurantName") === v),
      ).flatten
      val filter = preds.reduceOption(_ && _)
      val df = spark.read.parquet(in)
        .withColumn("emb_description", col("emb_description").cast("array<double>"))
      val tbl = FoodFinder.SearchTable(df, "_id", "emb_description",
        textCol = "title")
      val qvec = Embedder.default.embed(query)
      val results = mode match {
        case "vector" => FoodFinder.vector(tbl, qvec, k, filter)
        case "hybrid" => FoodFinder.hybrid(tbl, qvec, query, k, filter)
        case "fulltext" => FoodFinder.fulltext(tbl, query, k, filter)
      }
      FoodFinder.sanitize(results).select("json").collect()
        .foreach(r => println(r.getString(0)))
      if (owns) spark.stop()

    case _ =>
      System.err.println(
        """usage: graft.Cli <flatten|embed|index|search> ...
          |  flatten <catalog.parquet> <outDir>
          |  embed   <detail.parquet> <textCol> <outDir> [--skip-existing embCol]
          |  index   <detail.parquet> <idCol> <col> <outDir> [--type vector|fulltext]
          |  search  <detail.parquet> <mode> <query> [k] [--available b] [--max-price x] [--min-price x] [--restaurant s]""".stripMargin)
      sys.exit(2)
  }
}
