package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One named number with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run hands back to [[Main]].
  *
  * @param endToEnd the declared end-to-end metrics (printed with `--trace 0`)
  * @param perLayer the declared per-layer metrics (printed with `--trace 1`)
  * @param details  every further named number (the per-workload metric
  *                 names, per-query and per-mode splits); printed as JSON
  *                 lines ahead of the result line */
final case class Outcome(tally: Tally, endToEnd: Seq[Metric],
    perLayer: Seq[Metric], details: Seq[Metric])

/** Workload options parsed from the command line. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, smoke: Boolean) {
  def deadlineNanos(from: Long): Long = from + seconds * 1000000000L
}

/** Counts attempted and failed operations; a failure keeps its reason. */
final class Tally {
  private val attempted = new java.util.concurrent.atomic.AtomicLong
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
  def attempt(): Unit = attempted.incrementAndGet()
  def fail(why: String): Unit = failures.add(why)
  /** Count one operation; `problems` empty means it succeeded. */
  def record(problems: Seq[String]): Unit = {
    attempt()
    if (problems.nonEmpty) fail(problems.mkString("; "))
  }
  def attemptedCount: Long = attempted.get
  def failedCount: Long = failures.size.toLong
  def reasons: Seq[String] = failures.asScala.toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p95/p90/p75/p50 that leaves at least ten samples above
    * it, with its label (a p95 needs 200 samples). */
  def tail(xs: Seq[Double]): (String, Double) = {
    val q = Seq(0.95, 0.9, 0.75).find(q => xs.size * (1 - q) >= 10).getOrElse(0.5)
    (s"p${math.round(q * 100)}", quantile(xs, q))
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def ms(nanos: Long): Double = nanos / 1e6
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def metrics(ms: Seq[Metric]): String = ms.map { m =>
    s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}"
  }.mkString("{", ", ", "}")
}

/** Process-level readings: GC time, heap, load average. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
  def loadAverage: Double = os.getSystemLoadAverage
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  /** Used heap after forced full collections, in MiB. Collections repeat
    * until the reading settles: objects freed by reference processing
    * (Spark's context cleaner, finalizers) only go on a later pass. */
  def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = { System.gc(); Thread.sleep(100); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    used(); used()
    var prev = used()
    var cur = used()
    var passes = 4
    while (math.abs(prev - cur) > 1.0 && passes < 10) { prev = cur; cur = used(); passes += 1 }
    cur
  }
}

object Timing {
  /** Run `body`, returning its result and elapsed nanoseconds. */
  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}

object Sessions {
  val Cores = 4

  def start(): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounded status history: without it the retained job and SQL records
      // grow with the number of operations and blur the heap reading
      .config("spark.ui.retainedJobs", 200)
      .config("spark.ui.retainedStages", 200)
      .config("spark.ui.retainedTasks", 2000)
      .config("spark.sql.ui.retainedExecutions", 50)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Delete a directory tree (benchmark scratch under java.io.tmpdir). */
  def deleteTree(path: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(path))
      java.nio.file.Files.walk(path).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))

  def scratch(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), name)
}

/** Metric names BENCHMARK.json declares; every workload reports all of
  * them (end-to-end with `--trace 0`, per-layer with `--trace 1`). */
object Declared {
  val endToEnd: Seq[String] = Seq("setup_s", "op_p50_ms", "ops_per_s", "heap_after_gc_mb")
  val perLayer: Seq[String] = Seq("construct_ms", "exec_ms", "jobs_per_op", "tasks_per_op",
    "rows_read_per_op", "launch_wait_ms", "task_busy_share", "gc_ms", "trace_overhead_ms")
}

/** The declared per-layer metrics, which every workload's traced run
  * reports: the driver-side and engine-side split of one operation, and the
  * cost of tracing itself. */
object Layers {
  def generic(constructMs: Double, execMs: Double, ops: Int, total: GroupStats,
      wallMs: Double, gcMs: Long, overheadMs: Double): Seq[Metric] = Seq(
    Metric("construct_ms", constructMs, "ms"),
    Metric("exec_ms", execMs, "ms"),
    Metric("jobs_per_op", total.jobs.toDouble / ops, "count"),
    Metric("tasks_per_op", total.tasks.toDouble / ops, "count"),
    Metric("rows_read_per_op", total.inputRecords.toDouble / ops, "count"),
    Metric("launch_wait_ms", total.launchWaitMs.toDouble / total.tasks.max(1), "ms"),
    Metric("task_busy_share", total.runMs / (wallMs * Sessions.Cores), "ratio"),
    Metric("gc_ms", gcMs.toDouble, "ms"),
    Metric("trace_overhead_ms", overheadMs, "ms"))
}
