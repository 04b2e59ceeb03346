package graft
import org.apache.spark.sql.SparkSession

/** Plan-audit instrument: print the EXECUTED physical plan of declared
  * queries, so the `.explain`-and-iterate discipline (SCALE.md design
  * table) has a runnable entry point — `sbt "runMain graft.PlanDump
  * <sfDir> [name,name,...]"`. Prints each query's executed plan plus a
  * one-line red-flag summary (CartesianProduct / non-broadcast join /
  * missing partition filters are the usual suspects); no data is
  * materialized beyond what plan construction itself runs (index
  * builds, planner lookups). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // --run: materialize each query first and print the FINAL adaptive
    // plan — AQE converts small-side sort-merge joins to broadcast at
    // runtime, so only flags that survive execution are real findings;
    // the static (pre-adaptive) plan overstates SMJ on bounded relations.
    val run = args.contains("--run")
    val rest = args.filterNot(_ == "--run")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val selected = SparkEntry.selectQueries(rest.lift(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // With --run, an executed AdaptiveSparkPlan prints "== Final Plan =="
    // AND the superseded "== Initial Plan ==" side by side; flags must
    // scan only what actually ran, or every AQE-converted broadcast join
    // re-reports the sort-merge join it replaced. An initial-plan block
    // ends where indentation returns to the marker's level.
    def stripInitialPlans(plan: String): String = {
      def indentOf(l: String): Int = l.indexWhere(!_.isWhitespace) match {
        case -1 => l.length
        case i  => i
      }
      var skipBelow = -1 // indent of the active Initial Plan marker
      plan.linesIterator.filter { l =>
        val i = indentOf(l)
        if (skipBelow >= 0 && i > skipBelow) false
        else {
          skipBelow = if (l.contains("== Initial Plan ==")) i else -1
          skipBelow < 0
        }
      }.mkString("\n")
    }
    for (query <- selected) {
      val (name, fn) = (query.name, query.build)
      println(s"==== $name")
      try {
        val qe = fn(spark, sfDir).queryExecution
        if (run) qe.toRdd.count()
        val plan = qe.executedPlan.toString
        val effective = if (run) stripInitialPlans(plan) else plan
        val flags = Seq(
          "CartesianProduct" -> effective.contains("CartesianProduct"),
          "SortMergeJoin" -> effective.contains("SortMergeJoin"))
          .collect { case (f, true) => f }
        println(plan)
        println(s"---- $name flags: " +
          (if (flags.isEmpty) "none" else flags.mkString(", ")))
      } catch { case e: Throwable =>
        println(s"---- $name FAILED to construct: ${e.toString.take(300)}")
      }
    }
    spark.stop()
  }
}
