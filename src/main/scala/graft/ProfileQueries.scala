package graft
import org.apache.spark.sql.SparkSession

/** Measurement instrument for the optimization rounds (guide §1: measure
  * first): splits each declared query's wall time into
  *
  *   construct — `queries(name)(spark, dir)` returning the DataFrame
  *               (driver-side collects, index-cache lookups, literal
  *               building all land here),
  *   plan      — forcing `queryExecution.executedPlan` (analysis,
  *               optimization, physical planning),
  *   exec      — `toRdd.count()` (the Bench timed action).
  *
  * Per query it prints min-of-iters for each phase, so a 5 s bench line
  * can be attributed to driver work vs Catalyst vs execution before any
  * code is touched. Not part of the driver contract; prints one labeled
  * line per query plus a sorted summary. */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt.max(1)
    val selected = SparkEntry.selectQueries(args.headOption)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.warmIndexes(spark, sfDir)
    // stage accounting (guide §7.1 without the UI): per stage — task count,
    // summed executor run time, max single-task run time (the straggler /
    // single-task-bottleneck signal), shuffle bytes
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, Int, Long, Long, Long, Long)]()
    val taskMax = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            taskMax.merge(t.stageId, t.taskMetrics.executorRunTime, math.max)
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          stages.add((i.stageId, i.numTasks,
            i.taskMetrics.executorRunTime,
            Option(taskMax.get(i.stageId)).getOrElse(0L),
            i.taskMetrics.shuffleReadMetrics.totalBytesRead,
            i.taskMetrics.shuffleWriteMetrics.bytesWritten))
        }
      })
    // job accounting (SPARK_GRAFT_PROF_JOBS): construct-phase driver
    // actions (eager checkpoints, sidecar collects, counts) are invisible
    // to the stage table above — record every job's wall time +
    // description so a 3 s construct can be attributed job by job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, Long, String)]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[
      Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobStart.put(j.jobId, (System.nanoTime(),
            Option(j.properties.getProperty("spark.job.description"))
              .orElse(Option(j.properties.getProperty("callSite.short")))
              .getOrElse(j.stageInfos.map(_.name.takeWhile(_ != ' '))
                .mkString(s"stages=${j.stageInfos.size} ", ",", ""))))
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = jobStart.remove(j.jobId)
          if (st != null)
            jobs.add((j.jobId, System.nanoTime() - st._1, st._2))
        }
      })
    def t[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val profJobs = sys.env.contains("SPARK_GRAFT_PROF_JOBS")
    def drainJobs(label: String): Unit = if (profJobs) {
      Thread.sleep(200)
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      jobs.clear()
      js.foreach { case (id, ns, desc) =>
        println(f"  JOB[$label] $id%5d ${ns / 1e9}%7.3fs ${desc.take(110)}")
      }
    }
    val rows = selected.map { query =>
      val (name, fn) = (query.name, query.build)
      val obs = (1 to iters).map { it =>
        if (it == iters) jobs.clear()
        val (tc, df) = t(fn(spark, sfDir))
        if (it == iters) drainJobs("construct")
        val (tp, _) = t(df.queryExecution.executedPlan)
        if (it == iters) { stages.clear(); taskMax.clear() }
        val (te, _) = t(df.queryExecution.toRdd.count())
        if (it == iters) drainJobs("exec")
        (tc, tp, te)
      }
      val c = obs.map(_._1).min; val p = obs.map(_._2).min
      val e = obs.map(_._3).min
      println(f"PROF $name%-36s construct=$c%7.3f plan=$p%7.3f exec=$e%7.3f total=${c + p + e}%7.3f")
      if (sys.env.contains("SPARK_GRAFT_PROF_STAGES")) {
        Thread.sleep(300) // let the listener bus drain
        import scala.jdk.CollectionConverters._
        val big = stages.asScala.toSeq.sortBy(-_._3).take(12)
        big.foreach { case (id, n, run, mx, sr, sw) =>
          println(f"  STAGE $id%5d tasks=$n%4d runSum=${run / 1e3}%7.2fs taskMax=${mx / 1e3}%6.2fs shufR=${sr >> 10}%8dK shufW=${sw >> 10}%8dK")
        }
      }
      (name, c, p, e)
    }
    println("==== sorted by total (construct+plan+exec) ====")
    rows.sortBy(r => -(r._2 + r._3 + r._4)).foreach { case (n, c, p, e) =>
      println(f"PROFSUM $n%-36s construct=$c%7.3f plan=$p%7.3f exec=$e%7.3f total=${c + p + e}%7.3f")
    }
    spark.stop()
  }
}
