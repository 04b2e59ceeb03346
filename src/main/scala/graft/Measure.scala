package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import graft.functions.Text
import graft.queries.Query
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

import scala.jdk.CollectionConverters._

/** The measurement main: plan audit, plan receipts, phase profile and the
  * replication scaling probe, one mode each. Usage (`sbt "runMain
  * graft.Measure <mode> <sfDir> ..."`; cores from `SPARK_GRAFT_CPUS`):
  *
  *   plan    <sfDir> [names] [--run]  executed physical plan of each query
  *           plus a one-line red-flag summary (`---- <name> flags: …`);
  *           `--run` materializes first and flags the FINAL adaptive plan
  *   explain <sfDir> <outDir> <suffix> [names]  `.explain("formatted")`
  *           of each query to `<outDir>/<name>_<suffix>.txt`
  *   profile <sfDir> [names]  construct / plan / exec split per query,
  *           with its jobs and its costliest stages
  *   scale   <sfDir>  heavy operators over the tables replicated ×1/×4/×16
  *   warm    <sfDir>  each `SparkEntry.warmIndexes` step: wall ms and
  *           Spark jobs (`WARM <step> <ms> ms jobs=<n>`) — the index
  *           write path (save, append/delete waves, checked loads)
  *
  * `names` is a comma-separated filter resolved by
  * `SparkEntry.selectQueries` (unknown names are refused). The query modes
  * share one loop: a query that throws prints `FAILED <name>: <exception>`
  * and the rest still run; any failure makes the run exit 1. */
object Measure {

  private val Usage =
    """usage: graft.Measure <mode> <sfDir> ...
      |  plan    <sfDir> [names] [--run]
      |  explain <sfDir> <outDir> <suffix> [names]
      |  profile <sfDir> [names]
      |  scale   <sfDir>
      |  warm    <sfDir>""".stripMargin

  /** The replication ladder of `scale`. */
  private val ScaleReps = Seq(1, 4, 16)

  def main(args: Array[String]): Unit = {
    val measure = parse(args.toSeq)
    val spark = SparkEntry.session()
    val failed = try measure(spark) finally spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** The run `args` ask for, as a function of the session returning its
    * failed-query count. An unknown mode or arity, or an unknown query
    * name, is refused here — before any session starts. */
  private[graft] def parse(args: Seq[String]): SparkSession => Int = {
    val run = args.contains("--run")
    def select(names: Seq[String]) = SparkEntry.selectQueries(names.headOption)
    args.filterNot(_ == "--run") match {
      case Seq("plan", sfDir, names @ _*) if names.size <= 1 =>
        val selected = select(names)
        plan(_, sfDir, selected, run)
      case Seq("explain", sfDir, outDir, suffix, names @ _*)
          if !run && names.size <= 1 =>
        val selected = select(names)
        explain(_, sfDir, outDir, suffix, selected)
      case Seq("profile", sfDir, names @ _*) if !run && names.size <= 1 =>
        val selected = select(names)
        profile(_, sfDir, selected)
      case Seq("scale", sfDir) if !run =>
        spark => { scale(spark, sfDir); 0 }
      case Seq("warm", sfDir) if !run =>
        spark => { warm(spark, sfDir); 0 }
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  /** Runs `body` on each query in order; one that throws prints `FAILED
    * <name>: <exception>` and the next still runs. Returns the number of
    * queries that threw. */
  private def eachQuery(selected: Seq[Query])(body: Query => Unit): Int =
    selected.count { query =>
      try { body(query); false } catch { case e: Throwable =>
        println(s"FAILED ${query.name}: ${e.toString.take(300)}")
        true
      }
    }

  /** Plan audit — the `.explain`-and-iterate discipline (SCALE.md design
    * table): prints each query's executed plan, then its red flags
    * (CartesianProduct / SortMergeJoin). No data is materialized beyond
    * what construction itself runs unless `run`: AQE converts small-side
    * sort-merge joins to broadcast at runtime, so only flags that survive
    * execution are real findings. */
  private[graft] def plan(spark: SparkSession, sfDir: String,
      selected: Seq[Query], run: Boolean): Int = eachQuery(selected) { query =>
    println(s"==== ${query.name}")
    val qe = query.build(spark, sfDir).queryExecution
    if (run) qe.toRdd.count()
    val plan = qe.executedPlan.toString
    val effective = if (run) stripInitialPlans(plan) else plan
    val flags = Seq("CartesianProduct", "SortMergeJoin").filter(effective.contains)
    println(plan)
    println(s"---- ${query.name} flags: " +
      (if (flags.isEmpty) "none" else flags.mkString(", ")))
  }

  /** An executed AdaptiveSparkPlan prints "== Final Plan ==" AND the
    * superseded "== Initial Plan ==" side by side; flags must scan only
    * what actually ran, or every AQE-converted broadcast join re-reports
    * the sort-merge join it replaced. An initial-plan block ends where
    * indentation returns to the marker's level. */
  private def stripInitialPlans(plan: String): String = {
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

  /** Plan receipts (`plans/<round>/<query>_before.txt` / `_after.txt`):
    * static formatted plans — deterministic, showing Exchange placement,
    * join strategy, PushedFilters/ReadSchema. */
  private[graft] def explain(spark: SparkSession, sfDir: String,
      outDir: String, suffix: String, selected: Seq[Query]): Int = {
    SparkEntry.warmIndexes(spark, sfDir)
    Files.createDirectories(Paths.get(outDir))
    eachQuery(selected) { query =>
      val path = s"$outDir/${query.name}_$suffix.txt"
      Files.writeString(Paths.get(path), query.build(spark, sfDir)
        .queryExecution.explainString(FormattedMode))
      println(s"WROTE $path")
    }
  }

  /** Splits each query's wall time into construct (`build` returning the
    * DataFrame: driver-side collects, index lookups, literal building),
    * plan (forcing `executedPlan`) and exec (`toRdd.count()`, Bench's
    * timed action), as minima over `Bench.iters` runs (`PROF`). The last
    * run's jobs are listed by phase with wall time and description
    * (`JOB[construct]` / `JOB[exec]`: construct-phase driver actions are
    * invisible to a stage table), then its 12 costliest exec stages:
    * tasks, summed and slowest task run time, shuffle bytes (`STAGE`).
    * `PROFSUM` lines close the run, sorted by total. */
  private[graft] def profile(spark: SparkSession, sfDir: String,
      selected: Seq[Query]): Int = {
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.warmIndexes(spark, sfDir)
    val rec = new Recorder
    def timed[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def drainJobs(label: String): Unit =
      rec.drainJobs(spark).foreach { case (id, ns, desc) =>
        println(f"  JOB[$label] $id%5d ${ns / 1e9}%7.3fs ${desc.take(110)}")
      }
    val iters = Bench.iters
    val rows = Seq.newBuilder[(String, Double, Double, Double)]
    spark.sparkContext.addSparkListener(rec)
    val failed = try eachQuery(selected) { query =>
      val obs = (1 to iters).map { it =>
        val last = it == iters
        if (last) rec.drainJobs(spark)
        val (tc, df) = timed(query.build(spark, sfDir))
        if (last) drainJobs("construct")
        val (tp, _) = timed(df.queryExecution.executedPlan)
        if (last) { rec.stages.clear(); rec.taskMax.clear() }
        val (te, _) = timed(df.queryExecution.toRdd.count())
        if (last) drainJobs("exec")
        (tc, tp, te)
      }
      val (c, p, e) = (obs.map(_._1).min, obs.map(_._2).min, obs.map(_._3).min)
      println(f"PROF ${query.name}%-36s construct=$c%7.3f plan=$p%7.3f exec=$e%7.3f total=${c + p + e}%7.3f")
      rec.stages.asScala.toSeq.sortBy(-_._3).take(12).foreach {
        case (id, n, run, mx, sr, sw) =>
          println(f"  STAGE $id%5d tasks=$n%4d runSum=${run / 1e3}%7.2fs taskMax=${mx / 1e3}%6.2fs shufR=${sr >> 10}%8dK shufW=${sw >> 10}%8dK")
      }
      rows += ((query.name, c, p, e))
    } finally spark.sparkContext.removeSparkListener(rec)
    println("==== sorted by total (construct+plan+exec) ====")
    rows.result().sortBy(r => -(r._2 + r._3 + r._4)).foreach { case (n, c, p, e) =>
      println(f"PROFSUM $n%-36s construct=$c%7.3f plan=$p%7.3f exec=$e%7.3f total=${c + p + e}%7.3f")
    }
    failed
  }

  /** The job and stage listener of `profile` and `warm`: every finished
    * job's (id, wall ns, description), and per completed stage (stage,
    * tasks, summed run ms, slowest task ms, shuffle read/write bytes). */
  private final class Recorder extends SparkListener {
    val stages = new ConcurrentLinkedQueue[(Int, Int, Long, Long, Long, Long)]()
    val taskMax = new ConcurrentHashMap[Int, Long]()
    private val jobs = new ConcurrentLinkedQueue[(Int, Long, String)]()
    private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null)
        taskMax.merge(t.stageId, t.taskMetrics.executorRunTime, math.max)
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      stages.add((i.stageId, i.numTasks, i.taskMetrics.executorRunTime,
        Option(taskMax.get(i.stageId)).getOrElse(0L),
        i.taskMetrics.shuffleReadMetrics.totalBytesRead,
        i.taskMetrics.shuffleWriteMetrics.bytesWritten))
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobStart.put(j.jobId, (System.nanoTime(),
        Option(j.properties.getProperty("spark.job.description"))
          .orElse(Option(j.properties.getProperty("callSite.short")))
          .getOrElse(j.stageInfos.map(_.name.takeWhile(_ != ' '))
            .mkString(s"stages=${j.stageInfos.size} ", ",", ""))))
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val st = jobStart.remove(j.jobId)
      if (st != null) jobs.add((j.jobId, System.nanoTime() - st._1, st._2))
    }
    /** The jobs finished since the last drain, by id, once the listener
      * bus has delivered every event posted so far. */
    def drainJobs(spark: SparkSession): Seq[(Int, Long, String)] = {
      GraftShim.drainListeners(spark.sparkContext)
      val done = jobs.asScala.toSeq.sortBy(_._1)
      jobs.clear()
      done
    }
  }

  /** The index write path as a receipt: each [[SparkEntry.warmIndexes]]
    * step in order — saves, append/delete/split waves, checked loads —
    * with its wall time and the Spark jobs it ran, one `WARM` line each.
    * Persisted fixtures are rewritten by every fresh session, so each
    * step pays its full build. */
  private[graft] def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try SparkEntry.warmSteps.foreach { step =>
      rec.drainJobs(spark)
      val t0 = System.nanoTime()
      step.run(spark, sfDir)
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"WARM ${step.name}%-22s $ms%9.1f ms jobs=${rec.drainJobs(spark).size}%4d")
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  /** Replication scaling probe (the SCALE.md measurement harness): the
    * heavy operators over the `sfDir` tables replicated ×1/×4/×16 with
    * shifted ids, one `PROBE <op>_x<n> <sec>` line per point. It answers
    * one question per operator: does runtime track input size (linear /
    * flat), or does it bend quadratic where replication is adversarial
    * (every doc/vector gains 4–16 exact clones, every shingle becomes
    * corpus-duplicated)? Index builds are DDL — outside the timed window,
    * like Bench's warmIndexes. */
  private def scale(spark: SparkSession, sfDir: String): Unit = {
    val docs0 = graft.util.Tables.documents(spark, sfDir)
    val embs0 = graft.util.Tables.embeddings(spark, sfDir)
    // id shift per replica keeps ids unique while every text/vector gains
    // n−1 exact clones — maximally adversarial for dedup/postings shapes
    def repD(n: Int): DataFrame = (0 until n)
      .map(i => docs0.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _).cache()
    def repE(n: Int): DataFrame = (0 until n)
      .map(i => embs0.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _).cache()
    def t(label: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count()
      println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // JVM/codegen warmup so the ×1 point isn't charged Spark boot time
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.pipeline.Curation.mixSources(docs0.limit(100), "doc_id", "source",
      "text", 300).queryExecution.toRdd.count()

    val qv = graft.embed.Embedder.default.embed("nuggets para desayuno")
    for (n <- ScaleReps) {
      val d = repD(n); val e = repE(n); d.count(); e.count()
      t(s"mix_x$n")(graft.pipeline.Curation.mixSources(
        d, "doc_id", "source", "text", 300))
      val pq = {
        val i = graft.index.Pq.build(e, "vec_id", "embedding")
        val c = i.copy(codes = i.codes.cache()); c.codes.count(); c
      }
      t(s"pq_adc_x$n")(graft.index.Pq.ann(
        pq, e, "vec_id", "embedding", qv, k = 10, overfetch = 50))
      // batch retrieval: the query batch stays FIXED (~52 queries from the
      // base table) while the corpus grows — the production shape
      val queries = docs0.where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(Text.tokens(col("text")), 1, 8)).as("qtext"))
        .cache()
      queries.count()
      val bm = graft.search.TextSearch.buildIndex(d, "doc_id", "text")
      t(s"bm25join_x$n")(graft.search.TextSearch.bm25Join(
        bm, queries, "query_id", "qtext", k = 10))
      val cands = graft.search.TextSearch.bm25Join(
        bm, queries, "query_id", "qtext", k = 10).cache()
      cands.count()
      val pairs = d.select(col("doc_id").as("id"), col("text"))
        .join(broadcast(cands.select("query_id", "id")), "id")
        .join(broadcast(queries), "query_id")
      t(s"rerank_x$n")(graft.search.Rerank.rerankJoin(
        pairs, "query_id", "id", "qtext", "text", k = 3))
      // MMR over the same fixed candidate batch — must stay flat like rerank
      val candsScored = cands.select("query_id", "id", "score")
        .localCheckpoint(true)
      val sims = graft.search.Mmr.candidatePairSims(candsScored,
        graft.embed.EmbedJob.embedRelational(d, "doc_id", "text"))
      t(s"mmr_x$n")(graft.search.Mmr.mmrSelectAgg(
        candsScored, sims, k = 3, lambda = 0.7))
      // quality tiers: one scan + sharded windows — linear
      t(s"tiers_x$n")(graft.pipeline.Curation.qualityTiers(
        d, "doc_id", "text", "lang", tiers = 4, shards = 64))
      // incremental dedup: FIXED batch (base-table ids) against the
      // replicated index — replication is adversarial (every batch vector
      // gains n−1 exact clones in the index, so true candidates grow ∝ n)
      val idxSk = graft.dedup.Dedup.signLshSketches(
        e, "vec_id", "embedding", 64).localCheckpoint(true)
      val batchSk = graft.dedup.Dedup.signLshSketches(
        embs0.where(col("vec_id") % 5 === 0), "vec_id", "embedding", 64)
      t(s"inc_dedup_x$n")(graft.dedup.Dedup.cosineVerify(
        graft.dedup.Dedup.signLshCandidatesAgainst(batchSk, idxSk),
        e, "vec_id", "embedding", 0.45))
      // substring-span dedup: replication is maximally adversarial (every
      // gram becomes corpus-duplicated, so every document surfaces as one
      // full-width span) — all stages must still track corpus tokens
      t(s"substring_spans_x$n")(
        graft.dedup.SubstringDedup.duplicatedSpans(d, "doc_id", "text"))
      t(s"substring_passages_x$n")(
        graft.dedup.SubstringDedup.topDuplicatedPassages(d, "doc_id", "text"))
      // late-interaction rerank against the PERSISTED window index: FIXED
      // query batch and FIXED candidate pairs while the indexed corpus
      // grows — candidate-bucket pruning must keep the scan (and the
      // candidate-bounded join above it) from tracking corpus size
      val wdir = s"${sys.props("java.io.tmpdir")}/graft_probe_windows_x$n"
      graft.index.IndexStore.saveWindows(d, "doc_id", "text",
        graft.search.LateInteraction.DefaultWindowTokens, wdir)
      val widx = graft.index.IndexStore.loadWindows(spark, wdir)
      val liQueries = docs0.where(col("doc_id") % 97 === 0)
        .select("doc_id", "text").cache()
      val qids = liQueries.select("doc_id").collect().map(_.getLong(0))
      val nbrIds = docs0.where(col("doc_id") % 211 === 0)
        .select("doc_id").collect().map(_.getLong(0))
      val liCands = spark.createDataFrame(
        for (q <- qids.toSeq; c <- nbrIds.toSeq) yield (q, c))
        .toDF("query_id", "nbr_id")
      t(s"maxsim_rerank_x$n")(graft.search.LateInteraction.maxSimRerank(
        liQueries, "doc_id", "text", widx, liCands, k = 5))
      // exact phrase locate: a FIXED phrase while the corpus grows.
      // Replication is adversarial for the TRUE-match side (every replica
      // of the source doc matches, so candidates grow ∝ n), yet the
      // positional path still reads only its grams' bucket partitions
      // (1/64th of a table growing ∝ n) plus those candidates — the scan
      // path streams EVERY position of the n×-corpus through the gram map
      val pdir = s"${sys.props("java.io.tmpdir")}/graft_probe_phrase_x$n"
      graft.index.IndexStore.savePhrase(d, "doc_id", "text",
        graft.dedup.SubstringDedup.DefaultGramTokens, pdir)
      val pidx = graft.index.IndexStore.loadPhrase(spark, pdir)
      val probeToks = docs0.orderBy("doc_id").limit(1)
        .select(slice(Text.tokens(col("text")), 1, 8).as("p"))
        .head.getSeq[String](0)
      t(s"phrase_pos_x$n")(graft.search.TextSearch.phraseOccurrencesIndexed(
        pidx, d, "doc_id", "text", probeToks))
      t(s"phrase_scan_x$n") {
        import spark.implicits._
        graft.search.TextSearch.phraseOccurrences(
          d, "doc_id", "text", Seq(Tuple1(probeToks)).toDF("p"))
      }
      // lm3 scoring join regimes (r14 verdict item 4): the count tables
      // grow with the replicated corpus (shifted ids keep texts identical
      // so vocabulary is constant but COUNTS tables still carry the same
      // rows; what scales is the corpus-side triples relation), and the
      // two regimes must stay result-identical while their plans differ —
      // broadcast hashes the count tables per executor, bucketed
      // shuffle-hashes them on the join keys (the shape whose count-side
      // shuffle a 100 TB deployment pre-pays with bucketed layout). The
      // measured crossover backs LanguageModel.Lm3BroadcastMaxCountRows.
      val lm3 = graft.text.LanguageModel.train3(d, "doc_id", "text")
      t(s"lm3_bcast_x$n")(graft.text.LanguageModel.score3Join(
        lm3, d, "doc_id", "text", Text.SplitRe, "broadcast"))
      t(s"lm3_bucketed_x$n")(graft.text.LanguageModel.score3Join(
        lm3, d, "doc_id", "text", Text.SplitRe, "bucketed"))
      liQueries.unpersist()
      d.unpersist(); e.unpersist(); pq.codes.unpersist()
      queries.unpersist(); cands.unpersist()
    }
    // event-stream attribution: events replicated with shifted users so the
    // per-user pair cardinality stays constant — runtime must track rows
    val ev0 = graft.util.Tables.events(spark, sfDir)
    for (n <- ScaleReps) {
      val ev = (0 until n).map(i => ev0
          .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
          .withColumn("user_id", col("user_id") + lit(i * 1000000000L)))
        .reduce(_ unionByName _).cache()
      ev.count()
      t(s"attribution_x$n")(graft.streaming.EventStreams.intervalJoin(
        ev.where(col("event_type") === "click")
          .select("event_id", "user_id", "ts"),
        ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value"),
        gapMinutes = 60))
      ev.unpersist()
    }
  }
}
