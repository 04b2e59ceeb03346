package graft
import org.apache.spark.sql.SparkSession

/** Writes `.explain("formatted")` output for declared queries to files —
  * the optimization rounds' plan receipts (`plans/r15/<query>_before.txt`
  * / `_after.txt`). Usage:
  *
  *   sbt "runMain graft.ExplainDump <sfDir> <outDir> <suffix> [names]"
  *
  * Static (pre-execution) formatted plans: deterministic, shows Exchange
  * placement, join strategy, PushedFilters/ReadSchema — the shapes the
  * optimization guide's checklist reads. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val selected = SparkEntry.selectQueries(args.lift(3))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.warmIndexes(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (query <- selected) {
      val (name, fn) = (query.name, query.build)
      try {
        val txt = fn(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"WROTE $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"FAILED $name: ${e.toString.take(300)}")
      }
    }
    spark.stop()
  }
}
