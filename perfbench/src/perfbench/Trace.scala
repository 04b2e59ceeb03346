package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine-side counters of one Spark job group, read by [[JobListener]]. */
final case class GroupStats(jobs: Long = 0, tasks: Long = 0,
    runMs: Long = 0, inputRecords: Long = 0, launchWaitMs: Long = 0) {
  def +(o: GroupStats): GroupStats = GroupStats(jobs + o.jobs, tasks + o.tasks,
    runMs + o.runMs, inputRecords + o.inputRecords, launchWaitMs + o.launchWaitMs)
}

/** A SparkListener keyed by the job group the benchmark sets around each
  * call it times (`SparkContext.setJobGroup`, thread-local). Jobs without a
  * group are ignored. Task launch wait is the time from stage submission to
  * the task's launch. */
final class JobListener extends SparkListener {
  private val groups = TrieMap.empty[String, GroupStats]
  private val stageGroup = TrieMap.empty[Int, String]
  private val stageSubmitted = TrieMap.empty[Int, Long]

  private def add(group: String, d: GroupStats): Unit = groups.synchronized {
    groups.put(group, groups.getOrElse(group, GroupStats()) + d)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        e.stageIds.foreach(stageGroup.put(_, g))
        add(g, GroupStats(jobs = 1))
      }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageGroup.get(e.stageId).foreach { g =>
      val m = Option(e.taskMetrics)
      val wait = stageSubmitted.get(e.stageId)
        .map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
      add(g, GroupStats(tasks = 1,
        runMs = m.map(_.executorRunTime).getOrElse(0L),
        inputRecords = m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        launchWaitMs = wait))
    }

  /** Counters of `group`, after every event posted so far was delivered. */
  def stats(spark: SparkSession, group: String): GroupStats = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    groups.getOrElse(group, GroupStats())
  }

  def total(spark: SparkSession, groupPrefix: String): GroupStats = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    groups.collect { case (g, s) if g.startsWith(groupPrefix) => s }
      .foldLeft(GroupStats())(_ + _)
  }
}

object JobListener {
  /** Run `body` on this thread under job group `group`. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

/** In-memory spans recorded around the calls the benchmark makes into each
  * layer. A span's self time is its duration minus the time its child spans
  * cover; spans of one operation share a trace id. */
final class Spans {
  private final case class Open(name: String, start: Long, var childNanos: Long)
  final case class Span(trace: String, name: String, parent: Option[String],
      start: Long, end: Long, selfNanos: Long)

  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[mutable.Stack[Open]](() => mutable.Stack.empty)

  def span[T](trace: String, name: String)(body: => T): T = {
    val st = stack.get
    val open = Open(name, System.nanoTime(), 0L)
    val parent = st.headOption.map(_.name)
    st.push(open)
    try body finally {
      st.pop()
      val end = System.nanoTime()
      val dur = end - open.start
      st.headOption.foreach(_.childNanos += dur)
      done.add(Span(trace, name, parent, open.start, end, dur - open.childNanos))
    }
  }

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq
  }

  /** Self times in ms of every span called `name`. */
  def selfMs(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => s.selfNanos / 1e6)

  /** Every span as one JSON line on standard output, in start order. */
  def write(): Unit = {
    val t0 = all.map(_.start).minOption.getOrElse(0L)
    all.sortBy(_.start).foreach { s =>
      println(s"""{"span": ${Json.str(s.name)}, "trace": ${Json.str(s.trace)}, """ +
        s""""parent": ${s.parent.map(Json.str).getOrElse("null")}, """ +
        s""""start_ms": ${Json.num((s.start - t0) / 1e6)}, "dur_ms": ${Json.num((s.end - s.start) / 1e6)}, """ +
        s""""self_ms": ${Json.num(s.selfNanos / 1e6)}}""")
    }
  }
}
