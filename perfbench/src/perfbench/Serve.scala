package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.{FoodFinder, SearchServer}
import graft.embed.{EmbedJob, Embedder, HashingEmbedder}
import graft.etl.Flatten
import graft.search.{TextSearch, VectorSearch}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `serve`: `POST /api/search` requests against an in-process
  * [[SearchServer]] over a seeded, reference-shaped `product_detail` table
  * (cached, with a prebuilt BM25 index on `title`, as `SearchServer.main`
  * sets it up). A closed loop of two clients sends sessions of three
  * requests (vector, hybrid, fulltext) sharing one description and title. */
object Serve {
  val Modes: Seq[String] = Seq("vector", "hybrid", "fulltext")
  val Clients = 2
  /** Sessions the two clients send through the server before the window. */
  val WarmSessions = 2
  /** Catalogs of the small build that precedes the measured set-ups. */
  val WarmCatalogs = 50

  final case class Size(catalogs: Int, dim: Int, setups: Int)
  def size(smoke: Boolean): Size =
    if (smoke) Size(catalogs = 50, dim = 1024, setups = 1)
    else Size(catalogs = 1000, dim = 1024, setups = 3)

  sealed trait Filter {
    def json: String
    def column: Option[Column]
    def accepts(d: Doc): Boolean
  }
  case object NoFilter extends Filter {
    def json = ""; def column = None; def accepts(d: Doc) = true
  }
  final case class Available(v: Boolean) extends Filter {
    def json = s""", "available": $v"""
    def column = Some(col("product.available") === v)
    def accepts(d: Doc) = d.available == v
  }
  final case class MaxPrice(p: Double) extends Filter {
    def json = s""", "maxPrice": $p"""
    def column = Some(col("product.price.amount") < p)
    def accepts(d: Doc) = d.price < p
  }
  final case class Restaurant(name: String) extends Filter {
    def json = s""", "restaurant": ${Json.str(name)}"""
    def column = Some(col("restaurantName") === name)
    def accepts(d: Doc) = d.restaurant == name
  }

  /** One session: the three modes share description, title, limit, filter. */
  final case class Session(description: String, title: String, limit: Int,
      filter: Filter) {
    def body(mode: String): String =
      s"""{"mode": "$mode", "description": ${Json.str(description)}, """ +
        s""""title": ${Json.str(title)}, "limit": $limit${filter.json}}"""
  }

  /** A product_detail row as the output checks see it. */
  final case class Doc(id: String, vec: Array[Double], available: Boolean,
      price: Double, restaurant: String)

  final case class Served(df: DataFrame, table: FoodFinder.SearchTable,
      index: TextSearch.Bm25Index, embedder: Embedder, rows: Long) {
    def unpersist(): Unit = {
      df.unpersist(); index.postings.unpersist(); index.termDf.unpersist()
    }
  }

  /** flatten → embed (1024-dim hashing embedder) → cache, plus the BM25
    * index on `title`, cached — `SearchServer.main`'s set-up. */
  def build(spark: SparkSession, catalogs: Seq[Row], dim: Int): Served = {
    val embedder = new HashingEmbedder(dim)
    val flat = Flatten.productDetail(Catalog.toDF(spark, catalogs))
      .withColumn("description", col("product.description"))
    val df = EmbedJob.embedBatched(flat, "description", embedder)
      .withColumnRenamed("emb", "emb_description").drop("description")
      .cache()
    val rows = df.count()
    val idx = TextSearch.buildIndex(df, "_id", "title")
    val index = idx.copy(postings = idx.postings.cache(), termDf = idx.termDf.cache())
    index.postings.count(); index.termDf.count()
    val table = FoodFinder.SearchTable(df, "_id", "emb_description", "title")
    table.resolvedDim
    Served(df, table, index, embedder, rows)
  }

  def docs(s: Served): Map[String, Doc] =
    s.df.select(col("_id"), col("emb_description"), col("product.available"),
        col("product.price.amount"), col("restaurantName"))
      .collect().map { r =>
        r.getString(0) -> Doc(r.getString(0), r.getSeq[Double](1).toArray,
          r.getBoolean(2), r.getDouble(3), r.getString(4))
      }.toMap

  /** The seeded request stream: each session starts from a generated
    * product (its description with one word swapped, two words of its
    * catalog title), with a filter from none / available / maxPrice /
    * restaurant. */
  def sessions(seed: Long, catalogs: Seq[Row], n: Int): IndexedSeq[Session] = {
    val rnd = new java.util.Random(seed ^ 0x5eed5eedL)
    val prods = catalogs.flatMap { c =>
      val title = c.getString(Catalog.Schema.fieldIndex("title"))
      c.getSeq[Row](Catalog.Schema.fieldIndex("products")).map(p => (p.getString(3), title))
    }.toIndexedSeq
    val vocab = prods.flatMap(_._1.split(' ')).distinct.sorted
    (0 until n).map { i =>
      val (desc, title) = prods(rnd.nextInt(prods.size))
      val words = desc.split(' ')
      words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(vocab.size))
      val tw = title.toLowerCase.replaceAll("[()]", "").split(' ')
      val t = Seq.fill(2)(tw(rnd.nextInt(tw.length))).distinct.mkString(" ")
      // the mix is fixed, the values drawn: filter kinds cycle with period
      // 5 and one session in five asks for the largest limit (each kind in turn),
      // so runs on different seeds send the same shares of each
      val filter = i % 5 match {
        case 0 | 2 => NoFilter
        case 1 => Available(true)
        case 3 => MaxPrice(math.round(8.0 + rnd.nextDouble() * 32.0).toDouble)
        case _ => Restaurant(Catalog.Restaurants(rnd.nextInt(Catalog.Restaurants.size)))
      }
      val limit = if (i % 5 == (i / 5) % 5) 25 else FoodFinder.DefaultLimit
      Session(words.mkString(" "), t, limit, filter)
    }
  }

  /** One answered request: mode, latency, HTTP status, JSON body. */
  final case class Reply(session: Int, mode: String, nanos: Long, status: Int,
      body: String)

  /** Closed loop of [[Clients]] clients in lock step: client c sends
    * sessions c, c+C, … (each mode in turn) until `deadline`, and the
    * clients start each request together, so every request of a mode meets
    * the same concurrent load. Each request is timed from send to the last
    * byte of its reply. */
  def closedLoop(sessions: IndexedSeq[Session], deadline: Long)(
      send: (Int, String) => (Int, String)): Seq[Reply] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Reply]
    // the session barrier's action decides, once for both clients, whether
    // another round of sessions starts
    @volatile var go = false
    var rounds = 0
    val sessionStart = new java.util.concurrent.CyclicBarrier(Clients, () => {
      go = System.nanoTime() < deadline && (rounds + 1) * Clients <= sessions.size
      if (go) rounds += 1
    })
    val requestStart = new java.util.concurrent.CyclicBarrier(Clients)
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        var r = 0
        while ({ sessionStart.await(); go }) {
          val i = r * Clients + c
          Modes.foreach { m =>
            requestStart.await()
            val t0 = System.nanoTime()
            val (status, body) =
              try send(i, m) catch { case e: Throwable => (-1, e.toString) }
            out.add(Reply(i, m, System.nanoTime() - t0, status, body))
          }
          r += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  def httpSender(port: Int, sessions: IndexedSeq[Session]): (Int, String) => (Int, String) = {
    val clients = new ThreadLocal[java.net.http.HttpClient] {
      override def initialValue() = java.net.http.HttpClient.newBuilder()
        .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    }
    val uri = java.net.URI.create(s"http://127.0.0.1:$port/api/search")
    (i, mode) => {
      val req = java.net.http.HttpRequest.newBuilder(uri)
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(sessions(i).body(mode)))
        .build()
      val r = clients.get.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
  }

  /** The public calls behind one request, as the server makes them:
    * embed → `FoodFinder.<mode>` → sanitize → collect. With `trace`, each
    * step is a span and the Spark jobs run under the request's job group. */
  def direct(spark: SparkSession, s: Served, sessions: IndexedSeq[Session],
      trace: Option[Spans]): (Int, String) => (Int, String) = (i, mode) => {
    val q = sessions(i)
    val id = s"pb-serve-$mode-$i"
    def span[T](name: String)(body: => T): T =
      trace.fold(body)(_.span(id, s"$name.$mode")(body))
    JobListener.inGroup(spark, id) {
      val limit = VectorSearch.clampLimit(q.limit)
      val vec = if (mode == "fulltext") null
        else span("embed")(s.embedder.embed(q.description))
      val df = span("construct") {
        val r = mode match {
          case "vector" => FoodFinder.vector(s.table, vec, limit, q.filter.column)
          case "fulltext" => FoodFinder.fulltext(s.table, q.title, limit, q.filter.column,
            Some(s.index))
          case "hybrid" => FoodFinder.hybrid(s.table, vec, q.title, limit,
            q.filter.column, index = Some(s.index))
        }
        FoodFinder.sanitize(r).select("json")
      }
      span("plan")(df.queryExecution.executedPlan)
      val rows = span("exec")(df.collect())
      (200, rows.map(_.getString(0)).mkString("[", ",", "]"))
    }
  }

  // ------------------------------------------------------------ checks

  private val mapper = new ObjectMapper()
  private val Eps = 2e-6

  def round6(x: Double): Double =
    BigDecimal(x).setScale(VectorSearch.ScoreDecimals, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Cosine score as `VectorSearch.knn` reports it: (1 + cos) / 2, rounded. */
  def cosineScore(a: Array[Double], b: Array[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    round6((1.0 + dot / (math.sqrt(na) * math.sqrt(nb))) / 2.0)
  }

  private def num(n: JsonNode, f: String): Option[Double] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asDouble)

  /** Problems with one reply; empty when it is right. */
  def check(docs: Map[String, Doc], embedder: Embedder, q: Session,
      mode: String, status: Int, body: String): Seq[String] = {
    if (status != 200) return Seq(s"$mode: HTTP $status ${body.take(200)}")
    val arr = try mapper.readTree(body) catch { case e: Exception => null }
    if (arr == null || !arr.isArray) return Seq(s"$mode: reply is not a JSON array")
    val rows = (0 until arr.size).map(arr.get)
    val ids = rows.map(r => Option(r.get("id")).map(_.asText).orNull)
    val scores = rows.map(r => num(r, "score").getOrElse(Double.NaN))
    val limit = VectorSearch.clampLimit(q.limit)
    val problems = Seq.newBuilder[String]
    def bad(cond: Boolean, what: => String): Unit = if (cond) problems += s"$mode: $what"
    bad(rows.size > limit, s"${rows.size} rows over limit $limit")
    bad(ids.distinct.size != ids.size, "duplicate ids")
    bad(ids.exists(id => !docs.get(id).exists(q.filter.accepts)),
      s"a row is unknown or fails filter ${q.filter}")
    bad(scores.exists(_.isNaN), "a row has no score")
    bad(scores.zip(scores.drop(1)).exists { case (a, b) => b > a },
      "scores not in non-increasing order")
    bad(rows.indices.drop(1).exists(i => scores(i) == scores(i - 1) && ids(i) < ids(i - 1)),
      "equal scores not ordered by id")
    lazy val qv = embedder.embed(q.description)
    lazy val exact = docs.values.filter(q.filter.accepts).toSeq
      .map(d => d.id -> cosineScore(d.vec, qv)).toMap
    mode match {
      case "vector" =>
        val want = exact.toSeq.sortBy { case (id, s) => (-s, id) }.take(limit)
        bad(rows.size != want.size, s"${rows.size} rows, expected ${want.size}")
        bad(ids.zip(scores).exists { case (id, s) =>
          exact.get(id).forall(e => math.abs(e - s) > Eps) }, "a score differs from brute force")
        bad(scores.zip(want).exists { case (s, (_, w)) => math.abs(s - w) > Eps },
          "ranking differs from brute-force top-k")
      case "hybrid" =>
        rows.zip(scores).foreach { case (r, s) =>
          val fused = 10 * num(r, "vec_norm").getOrElse(0.0) + num(r, "txt_norm").getOrElse(0.0)
          bad(math.abs(fused - s) > 1.2e-5, f"score $s%.6f != 10*vec_norm + txt_norm = $fused%.6f")
          val id = r.get("id").asText
          num(r, "vec_raw").foreach { v =>
            bad(exact.get(id).forall(e => math.abs(e - v) > Eps), "vec_raw differs from brute force")
          }
        }
      case _ =>
        bad(scores.exists(_ <= 0), "a non-positive BM25 score")
    }
    problems.result()
  }

  // ------------------------------------------------------------ the run

  def run(spark: SparkSession, opts: Opts): Outcome = {
    val sz = size(opts.smoke)
    val catalogs = Catalog.catalogs(opts.seed, 0, sz.catalogs)
    val stream = sessions(opts.seed, catalogs, 20000)
    // one small build first, so JIT and code generation do not land on the
    // first measured set-up
    build(spark, catalogs.take(WarmCatalogs), sz.dim).unpersist()
    var served: Served = null
    val setupNanos = (1 to sz.setups).map { _ =>
      if (served != null) served.unpersist()
      Timing.timed { served = build(spark, catalogs, sz.dim) }._2
    }
    val docMap = docs(served)
    val tally = new Tally
    val server = new SearchServer(served.table, served.embedder, Some(served.index)).start(0)
    val (replies, warmNanos, windowS, gcMs) = try {
      // warm-up: both clients, every mode, through the server, on sessions
      // from the far end of the stream that the window never reaches
      val warmStream = stream.takeRight(WarmSessions)
      val warmNanos = Timing.timed(closedLoop(warmStream, Long.MaxValue)(
        httpSender(server.getAddress.getPort, warmStream)))._2
      val gc0 = Jvm.gcMillis
      val t0 = System.nanoTime()
      val replies = closedLoop(stream, opts.deadlineNanos(t0))(
        httpSender(server.getAddress.getPort, stream))
      (replies, warmNanos, (System.nanoTime() - t0) / 1e9, Jvm.gcMillis - gc0)
    } finally server.stop(0)
    val heapMb = Jvm.heapAfterGcMb()
    replies.foreach(r =>
      tally.record(check(docMap, served.embedder, stream(r.session), r.mode, r.status, r.body)))
    val lat = Modes.map(m => m -> replies.filter(_.mode == m).map(r => Stats.ms(r.nanos))).toMap
    val p50 = Modes.map(m => Stats.median(lat(m)))
    val tails = Modes.map(m => Stats.tail(lat(m)))
    val qps = replies.size / windowS
    val sent = replies.map(_.session).distinct
    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setupNanos.map(_ / 1e9)), "s"),
      Metric("op_p50_ms", Stats.geomean(p50), "ms"),
      Metric("ops_per_s", qps, "1/s"),
      Metric("heap_after_gc_mb", heapMb, "MB"))
    val details = Modes.zip(p50).zip(tails).flatMap { case ((m, p), (label, t)) =>
      Seq(Metric(s"${m}_p50_ms", p, "ms"), Metric(s"$m.requests", lat(m).size.toDouble, "count")) ++
        (if (label == "p50") Nil else Seq(Metric(s"${m}_${label}_ms", t, "ms")))
    } ++ Seq(Metric("search_qps", qps, "1/s"),
      Metric("rows", served.rows.toDouble, "count"),
      Metric("catalogs", sz.catalogs.toDouble, "count"),
      Metric("limit_25_share", sent.count(stream(_).limit == 25).toDouble / sent.size, "ratio"),
      Metric("gc_ms", gcMs.toDouble, "ms"),
      Metric("warmup_s", warmNanos / 1e9, "s")) ++
      setupNanos.zipWithIndex.map { case (n, i) => Metric(s"setup_s.rep$i", n / 1e9, "s") }
    val (perLayer, layerDetails) =
      if (opts.trace) traced(spark, served, stream, replies, p50) else (Nil, Nil)
    served.unpersist()
    Outcome(tally, endToEnd, perLayer, details ++ layerDetails)
  }

  /** The traced run: the sessions the HTTP window answered, replayed
    * through the public calls directly — untraced, and with spans and the
    * job-group listener. */
  private def traced(spark: SparkSession, s: Served, stream: IndexedSeq[Session],
      replies: Seq[Reply], httpP50: Seq[Double]): (Seq[Metric], Seq[Metric]) = {
    val n = replies.map(_.session).max + 1
    val replay = stream.take(n)
    val far = Long.MaxValue
    // untraced passes before and after the traced one, over the two halves
    // of the replay, so warming during the passes favours neither side
    val (firstHalf, secondHalf) = replay.splitAt(n / 2 max 2)
    val plain = closedLoop(firstHalf, far)(direct(spark, s, firstHalf, None))
    val spans = new Spans
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val gc0 = Jvm.gcMillis
    val t0 = System.nanoTime()
    val traced = try closedLoop(replay, far)(direct(spark, s, replay, Some(spans)))
      finally spark.sparkContext.removeSparkListener(listener)
    val wallMs = (System.nanoTime() - t0) / 1e6
    val gcMs = Jvm.gcMillis - gc0
    spans.write()
    val plainAll = plain ++ closedLoop(secondHalf, far)(direct(spark, s, secondHalf, None))
    val byMode = (rs: Seq[Reply], m: String) => rs.filter(_.mode == m).map(r => Stats.ms(r.nanos))
    val plainP50 = Modes.map(m => Stats.median(byMode(plainAll, m)))
    val tracedP50 = Modes.map(m => Stats.median(byMode(traced, m)))
    def perReq(m: String, f: GroupStats => Double): Seq[Double] =
      traced.filter(_.mode == m).map(r => f(listener.stats(spark, s"pb-serve-$m-${r.session}")))
    val rowsOut = traced.map(r => r.mode -> mapper.readTree(r.body).size)
    val total = listener.total(spark, "pb-serve-")
    val perMode = Modes.zipWithIndex.flatMap { case (m, k) =>
      val returned = rowsOut.filter(_._1 == m).map(_._2).sum.max(1)
      Seq(
        Metric(s"api.http_overhead_ms.$m", httpP50(k) - plainP50(k), "ms"),
        Metric(s"search.construct_ms.$m", Stats.median(spans.selfMs(s"construct.$m")), "ms"),
        Metric(s"search.plan_ms.$m", Stats.median(spans.selfMs(s"plan.$m")), "ms"),
        Metric(s"search.exec_ms.$m", Stats.median(spans.selfMs(s"exec.$m")), "ms"),
        Metric(s"search.jobs_per_req.$m", Stats.median(perReq(m, _.jobs.toDouble)), "count"),
        Metric(s"search.tasks_per_req.$m", Stats.median(perReq(m, _.tasks.toDouble)), "count"),
        Metric(s"search.rows_read_per_row_returned.$m",
          perReq(m, _.inputRecords.toDouble).sum / returned, "ratio"),
        Metric(s"trace.overhead_ms.$m", tracedP50(k) - plainP50(k), "ms"))
    }
    val embedUs = (spans.selfMs("embed.vector") ++ spans.selfMs("embed.hybrid")).map(_ * 1000)
    val layer = perMode ++ Seq(
      Metric("embed.query_us", Stats.median(embedUs), "us"),
      Metric("spark.sched_delay_ms", total.launchWaitMs.toDouble / total.tasks.max(1), "ms"),
      Metric("spark.task_busy_share", total.runMs / (wallMs * Sessions.Cores), "ratio"))
    (Layers.generic(
      constructMs = Stats.geomean(Modes.map(m => Stats.median(spans.selfMs(s"construct.$m")))),
      execMs = Stats.geomean(Modes.map(m => Stats.median(spans.selfMs(s"exec.$m")))),
      ops = traced.size, total = total, wallMs = wallMs, gcMs = gcMs,
      overheadMs = Stats.geomean(tracedP50) - Stats.geomean(plainP50)),
      layer ++ setupLayers(spark, s.rows))
  }

  /** The set-up's layers, each materialised on its own: flatten (`etl`),
    * flatten + batched embedding (`embed`, reported as the difference), and
    * the in-memory BM25 index build (`index`). */
  private def setupLayers(spark: SparkSession, rows: Long): Seq[Metric] = {
    val catalogs = Catalog.toDF(spark, Catalog.catalogs(1, 0, (rows / 5.5).toInt.max(1)))
    val flat = Flatten.productDetail(catalogs)
      .withColumn("description", col("product.description"))
    val (flatRows, flattenNanos) = Timing.timed(flat.queryExecution.toRdd.count())
    val embedded = EmbedJob.embedBatched(flat, "description", new HashingEmbedder(size(false).dim))
    val (_, bothNanos) = Timing.timed(embedded.queryExecution.toRdd.count())
    val batches = flat.rdd.mapPartitions(it => Iterator(it.size)).collect()
      .map(n => (n + Embedder.BatchSize - 1) / Embedder.BatchSize).sum
    val (_, bm25Nanos) = Timing.timed {
      val idx = TextSearch.buildIndex(embedded, "_id", "title")
      idx.postings.queryExecution.toRdd.count(); idx.termDf.queryExecution.toRdd.count()
    }
    Seq(Metric("etl.flatten_ms", Stats.ms(flattenNanos), "ms"),
      Metric("etl.rows_out", flatRows.toDouble, "count"),
      Metric("embed.batch_ms", Stats.ms(bothNanos - flattenNanos), "ms"),
      Metric("embed.batches", batches.toDouble, "count"),
      Metric("index.bm25_build_ms", Stats.ms(bm25Nanos), "ms"))
  }
}
