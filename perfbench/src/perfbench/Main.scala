package perfbench

/** Entry point: `perfbench.Main --workload serve|batch --seed N
  * --seconds S --trace 0|1 [--smoke]`, or `--self-test`.
  *
  * Prints one JSON line describing the run (load, contention, GC), one JSON
  * line per detail metric, and last a line `RESULT {...}` holding the
  * result object, which `run.py` prints as its final line. */
object Main {
  /** Machine CPUs busy with other work when the run starts: a run that
    * starts with more than this many busy is labelled contended. */
  val ContendedCpus = 1.0

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Opts(workload = kv.getOrElse("--workload", sys.error("--workload is required")),
      seed = kv.get("--seed").map(_.toLong).getOrElse(1L),
      seconds = kv.get("--seconds").map(_.toInt).getOrElse(10),
      trace = kv.get("--trace").contains("1"),
      smoke = args.contains("--smoke"))
  }

  /** The machine's CPU counters from /proc/stat: (total, idle). */
  private def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val cpu = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (cpu.sum, cpu(3) + cpu.lift(4).getOrElse(0L))
    } finally f.close()
  }

  /** CPUs of the machine busy over a short sample. */
  def busyCpus(sampleMs: Long = 500): Double =
    try {
      val (t0, i0) = cpuTicks(); Thread.sleep(sampleMs); val (t1, i1) = cpuTicks()
      val cpus = Runtime.getRuntime.availableProcessors
      if (t1 == t0) 0.0 else cpus * (1.0 - (i1 - i0).toDouble / (t1 - t0))
    } catch { case _: Exception => Double.NaN }

  def main(args: Array[String]): Unit = {
    if (args.contains("--self-test")) { SelfTest.run(); return }
    val opts = parse(args)
    val busy = busyCpus()
    val loadStart = Jvm.loadAverage
    val (spark, startNanos) = Timing.timed(Sessions.start())
    val gc0 = Jvm.gcMillis
    val outcome = try opts.workload match {
      case "serve" => Serve.run(spark, opts)
      case "batch" => Batch.run(spark, opts)
      case w => sys.error(s"unknown workload '$w'")
    } catch {
      case e: Throwable =>
        // no result line: a run that could not finish reports nothing
        e.printStackTrace()
        sys.exit(1)
    }
    val gcMs = Jvm.gcMillis - gc0
    spark.stop()
    val contended = busy > ContendedCpus
    println(s"""{"run": {"workload": ${Json.str(opts.workload)}, "seed": ${opts.seed}, """ +
      s""""seconds": ${opts.seconds}, "trace": ${opts.trace}, "smoke": ${opts.smoke}, """ +
      s""""busy_cpus_at_start": ${Json.num(busy)}, "contended": $contended, """ +
      s""""load_avg_start": ${Json.num(loadStart)}, "load_avg_end": ${Json.num(Jvm.loadAverage)}, """ +
      s""""jvm_gc_ms": $gcMs, "spark_start_s": ${Json.num(startNanos / 1e9)}}}""")
    outcome.details.foreach { m =>
      println(s"""{"detail": ${Json.str(m.name)}, "value": ${Json.num(m.value)}, "unit": ${Json.str(m.unit)}}""")
    }
    outcome.tally.reasons.take(20).foreach(r => System.err.println(s"FAILED: $r"))
    val t = outcome.tally
    val metrics = if (opts.trace) outcome.perLayer else outcome.endToEnd
    println(s"""RESULT {"correct": ${t.failedCount == 0 && t.attemptedCount > 0}, """ +
      s""""attempted": ${t.attemptedCount}, "failed": ${t.failedCount}, """ +
      s""""metrics": ${Json.metrics(metrics)}}""")
    sys.exit(0)
  }
}
