package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `batch`: eight fixed `SparkEntry.queries`, run back to back by one
  * caller, each timed as `fn(spark, dir).queryExecution.toRdd.count()` (the
  * program's own bench action: construct + plan + full materialisation).
  *
  * Four are construct-heavy (driver work before the DataFrame exists:
  * fixture loads, checkpoints, sidecar reads) and four are exec-dominated
  * controls, so a construct-phase change should move the first group and
  * leave the second flat. */
object Batch {
  val ConstructHeavy: Seq[String] =
    Seq("q_dedup_pipeline", "q_ann_plan", "q_mmr", "q_hybrid_join_dense")
  val Controls: Seq[String] = Seq("q_hybrid", "q_bm25", "q_vector_knn", "q1_agg")
  val Queries: Seq[String] = ConstructHeavy ++ Controls

  val Full = Fixture.Size("sf0.01", documents = 500, embeddings = 500, lineitems = 60000)
  val Smoke = Fixture.Size("smoke", documents = 200, embeddings = 200, lineitems = 6000)
  def size(smoke: Boolean): Fixture.Size = if (smoke) Smoke else Full

  /** Canonical result hashes of the program at the commit that defined this
    * benchmark, per fixture size: columns sorted by name, cells rendered
    * with floats rounded to 9 decimals, rows sorted. */
  val Expected: Map[String, Map[String, String]] = Map(
    "sf0.01" -> Map(
      "q_dedup_pipeline" -> "1437e1f203bf691cf1c503aa",
      "q_ann_plan" -> "ac10669c4294089ed2e6f7fb",
      "q_mmr" -> "ebc17617f3cde110e7697b94",
      "q_hybrid_join_dense" -> "687b90a967c0e51b8ed5e40d",
      "q_hybrid" -> "b6d2c0dc02ce8c602120c68a",
      "q_bm25" -> "a9f12ed243346b807e8dd305",
      "q_vector_knn" -> "a43599b7019dfe073d3174d8",
      "q1_agg" -> "a17e91df5213406a73835c43"),
    "smoke" -> Map(
      "q_dedup_pipeline" -> "faa8aa0383904ab2b9e91767",
      "q_ann_plan" -> "121b62879ca79e2ea0c8a9c4",
      "q_mmr" -> "90e56b005952397485f1e4f9",
      "q_hybrid_join_dense" -> "24480b296e52700f01a1e0db",
      "q_hybrid" -> "828e32cafd14402adee6f852",
      "q_bm25" -> "1f2ff3fae3359e45bebab6fd",
      "q_vector_knn" -> "30e5642d5b75a4c0536579b5",
      "q1_agg" -> "58e0b6a08d337dc4bf3942af"))

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }
      .sorted.mkString("<", ",", ">")
    case o => o.toString
  }

  /** Row count and order-insensitive hash of a result: sorted columns,
    * sorted rows. */
  def canonicalHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.zipWithIndex.sortBy(_._1)
    val rows = df.collect().map(r => cols.map { case (_, i) => cell(r.get(i)) }.mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.map(_._1).mkString(",").getBytes("UTF-8"))
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().take(12).map(b => f"$b%02x").mkString)
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"query $name not declared"))

  /** The program's bench action for one query; returns the row count. */
  def action(spark: SparkSession, dir: String, name: String): Long =
    query(name)(spark, dir).queryExecution.toRdd.count()

  /** The execution order of round `r`: a seeded permutation of the eight. */
  def order(seed: Long, r: Int): Seq[String] =
    new scala.util.Random(seed * 31 + r).shuffle(Queries)

  /** One checked execution of query `q` on the cold pass. */
  final case class Cold(rows: Long, hash: String, nanos: Long)

  /** Set-up: a fresh fixture, then a cold pass over the eight queries that
    * builds the session caches and persisted index families they read.
    * The cold pass collects each result for the output check. */
  def setUp(spark: SparkSession, dir: String, size: Fixture.Size): Map[String, Cold] = {
    Fixture.write(spark, dir, size)
    Queries.map { q =>
      val ((rows, hash), nanos) = Timing.timed(canonicalHash(query(q)(spark, dir)))
      q -> Cold(rows, hash, nanos)
    }.toMap
  }

  def tearDown(spark: SparkSession, dir: String): Unit = {
    SparkEntry.clearCaches(spark)
    Fixture.dropPersistedIndexes()
    Sessions.deleteTree(java.nio.file.Paths.get(dir))
  }

  /** Problems with one query's cold-pass result against the recorded hash. */
  def check(size: Fixture.Size, q: String, hash: String): Seq[String] =
    Expected.getOrElse(size.name, Map.empty).get(q) match {
      case Some(h) if h == hash => Nil
      case other => Seq(s"$q: result hash $hash != recorded ${other.getOrElse("none")}")
    }

  /** Problems with one timed execution's row count (-1: it threw). */
  def countCheck(q: String, rows: Long, expected: Long): Seq[String] =
    if (rows == expected) Nil else Seq(s"$q: $rows rows, expected $expected")

  def run(spark: SparkSession, opts: Opts): Outcome = {
    val sz = size(opts.smoke)
    val dir = Sessions.scratch("pb_batch").toString
    val (cold, setupNanos) = Timing.timed(setUp(spark, dir, sz))
    val tally = new Tally
    Queries.foreach(q => tally.record(check(sz, q, cold(q).hash)))
    val counts = cold.map { case (q, c) => q -> c.rows }
    val samples = Queries.map(_ -> Seq.newBuilder[Double]).toMap
    val gc0 = Jvm.gcMillis
    val t0 = System.nanoTime()
    val deadline = opts.deadlineNanos(t0)
    // a round starts only if it can end by the deadline, judged by the
    // slowest round so far; the first round always runs
    var round = 0
    var slowest = 0L
    while (round == 0 || System.nanoTime() + slowest <= deadline) {
      val r0 = System.nanoTime()
      order(opts.seed, round).foreach { q =>
        val (n, nanos) = Timing.timed(
          try action(spark, dir, q) catch { case e: Exception => -1L })
        tally.record(countCheck(q, n, counts(q)))
        samples(q) += Stats.ms(nanos)
      }
      slowest = math.max(slowest, System.nanoTime() - r0)
      round += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val gcMs = Jvm.gcMillis - gc0
    val heapMb = Jvm.heapAfterGcMb()
    val lat = Queries.map(q => q -> samples(q).result()).toMap
    val med = Queries.map(q => q -> Stats.median(lat(q))).toMap
    val endToEnd = Seq(
      Metric("setup_s", setupNanos / 1e9, "s"),
      Metric("op_p50_ms", Stats.geomean(Queries.map(med)), "ms"),
      Metric("ops_per_s", Queries.size * round / windowS, "1/s"),
      Metric("heap_after_gc_mb", heapMb, "MB"))
    val details = Seq(
      Metric("batch_total_s", Queries.map(med).sum / 1000, "s"),
      Metric("batch_geomean_s", Stats.geomean(Queries.map(med)) / 1000, "s"),
      Metric("rounds", round.toDouble, "count"),
      Metric("documents", sz.documents.toDouble, "count"),
      Metric("embeddings", sz.embeddings.toDouble, "count"),
      Metric("lineitems", sz.lineitems.toDouble, "count"),
      Metric("gc_ms", gcMs.toDouble, "ms")) ++
      Queries.flatMap(q => Seq(Metric(s"$q.median_s", med(q) / 1000, "s"),
        Metric(s"$q.cold_s", cold(q).nanos / 1e9, "s"),
        Metric(s"$q.rows", cold(q).rows.toDouble, "count")))
    val (perLayer, layerDetails) =
      if (opts.trace) traced(spark, dir, counts, med, tally) else (Nil, Nil)
    tearDown(spark, dir)
    Outcome(tally, endToEnd, perLayer, details ++ layerDetails)
  }

  /** The traced pass: each query once more, split into construct (the
    * catalog call), plan (`executedPlan`) and exec (`toRdd.count()`), each
    * phase under its own job group. */
  private def traced(spark: SparkSession, dir: String, counts: Map[String, Long],
      untracedMs: Map[String, Double], tally: Tally): (Seq[Metric], Seq[Metric]) = {
    val spans = new Spans
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val gc0 = Jvm.gcMillis
    val t0 = System.nanoTime()
    val total = try Queries.map { q =>
      val (_, nanos) = Timing.timed {
        val df = spans.span(q, s"construct.$q")(
          JobListener.inGroup(spark, s"pb-batch-$q-construct")(query(q)(spark, dir)))
        spans.span(q, s"plan.$q")(
          JobListener.inGroup(spark, s"pb-batch-$q-plan")(df.queryExecution.executedPlan))
        val n = spans.span(q, s"exec.$q")(
          JobListener.inGroup(spark, s"pb-batch-$q-exec")(df.queryExecution.toRdd.count()))
        tally.record(countCheck(q, n, counts(q)))
      }
      q -> Stats.ms(nanos)
    }.toMap finally spark.sparkContext.removeSparkListener(listener)
    val wallMs = (System.nanoTime() - t0) / 1e6
    val gcMs = Jvm.gcMillis - gc0
    spans.write()
    def ms(phase: String, q: String) = spans.selfMs(s"$phase.$q").sum
    val perQuery = Queries.flatMap { q =>
      Seq(Metric(s"entry.$q.construct_s", ms("construct", q) / 1000, "s"),
        Metric(s"entry.$q.plan_s", ms("plan", q) / 1000, "s"),
        Metric(s"entry.$q.exec_s", ms("exec", q) / 1000, "s"),
        Metric(s"entry.$q.construct_jobs",
          listener.stats(spark, s"pb-batch-$q-construct").jobs.toDouble, "count"),
        Metric(s"entry.$q.exec_jobs",
          listener.stats(spark, s"pb-batch-$q-exec").jobs.toDouble, "count"))
    }
    val constructAll = Queries.map(ms("construct", _)).sum
    val all = listener.total(spark, "pb-batch-")
    val layer = perQuery ++ Seq(
      Metric("entry.construct_share", constructAll / Queries.map(total).sum, "ratio"),
      Metric("spark.gc_ms", gcMs.toDouble, "ms"))
    (Layers.generic(
      constructMs = Stats.geomean(Queries.map(ms("construct", _))),
      execMs = Stats.geomean(Queries.map(ms("exec", _))),
      ops = Queries.size, total = all, wallMs = wallMs, gcMs = gcMs,
      overheadMs = Stats.geomean(Queries.map(total)) - Stats.geomean(Queries.map(untracedMs))),
      layer)
  }
}
