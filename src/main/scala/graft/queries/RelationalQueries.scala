package graft
package queries

import graft.SparkEntry.{fixture, selfCheckEnabled}
import graft.etl.Flatten
import graft.functions.Text
import graft.operators.{AsOfJoin, RangeJoin, Sketches}
import graft.queries.Shared._
import graft.streaming.EventStreams
import graft.util.Tables
import org.apache.spark.sql.functions._

/** Relational and event-analytics queries: aggregation, joins, funnels,
  * sessions, rollups and sketches. */
private[graft] object RelationalQueries {

  /** R2 distinct + sort (the /api/restaurants pipeline,
    * `backend/api.py:87-94`) over documents.source. */
  val qDistinctSort = Query("q_distinct_sort",
      "SELECT DISTINCT source FROM documents WHERE source IS NOT NULL ORDER BY source")((spark, dir) =>
    Tables.documents(spark, dir)
      .select("source")
      .where(col("source").isNotNull)
      .distinct()
      .orderBy("source"))

  /** Baseline relational aggregation (north-star; TPC-H Q1 shape). */
  val q1Agg = Query("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(sum(l_extendedprice), 4) AS sum_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)((spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus"))

  /** R1 unwind/flatten: nested (collect_list) → exploded back flat —
    * the catalog→product_detail ETL exercised on orders⋈lineitem. */
  val qFlatten = Query("q_flatten",
      """SELECT o.o_orderkey, o.o_custkey, l.l_linenumber, l.l_partkey, l.l_quantity
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |ORDER BY o.o_orderkey, l.l_linenumber, l.l_partkey, l.l_quantity, o.o_custkey""".stripMargin) { (spark, dir) =>
    val nested = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_custkey")
      .agg(collect_list(struct(col("l_linenumber"), col("l_partkey"), col("l_quantity"))).as("items"))
    Flatten.unwind(nested, "items", "item")
      .select(col("o_orderkey"), col("o_custkey"),
        col("item.l_linenumber").as("l_linenumber"),
        col("item.l_partkey").as("l_partkey"),
        col("item.l_quantity").as("l_quantity"))
      // testdata l_linenumber is NOT unique within an order — sort on every
      // column so the dump is deterministically ordered for the hash compare
      .orderBy("o_orderkey", "l_linenumber", "l_partkey", "l_quantity", "o_custkey")
  }

  /** TPC-H Q5-shape multi-table star join: revenue per nation for one
    * region, with the classic local-supplier condition (customer and
    * supplier in the same nation). Scale shape: region/nation/supplier are
    * dimension tables — explicitly broadcast, so the only shuffles are the
    * two fact-fact equi-joins (orders ⋈ customer survives as a shuffle on
    * custkey, lineitem ⋈ orders on orderkey) and the final tiny
    * per-nation aggregation (map-side combined). */
  val qRegionRevenue = Query("q_region_revenue",
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (spark, dir) =>
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg.where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
      .orderBy("n_name")
  }

  /** Click→purchase attribution via [[EventStreams.intervalJoin]] in batch
    * mode — the same declaration runs as a watermarked stream-stream join
    * with bounded state on a live stream (StreamingSpec parity). */
  val qAttribution = Query("q_attribution",
      // half-open interval (r.ts − 60min, r.ts]: same bounds as intervalJoin
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |       c.user_id, p.value
        |FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |      WHERE event_type = 'click') c
        |JOIN (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND c.ts <= p.ts
        | AND c.ts > p.ts - INTERVAL 60 MINUTES
        |ORDER BY click_id, purchase_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    EventStreams.intervalJoin(
        ev.where(col("event_type") === "click")
          .select("event_id", "user_id", "ts"),
        ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value"),
        gapMinutes = 60)
      .select(col("l_event_id").as("click_id"),
        col("r_event_id").as("purchase_id"),
        col("l_user_id").as("user_id"), col("r_value").as("value"))
      .orderBy("click_id", "purchase_id")
  }

  /** Ordered view→click→purchase funnel
    * ([[graft.operators.EventAnalytics.funnel]]): per-step user counts
    * under strictly-after attribution — k−1 user-keyed joins of
    * shrinking relations, one aggregation for all step counts. */
  val qFunnel = Query("q_funnel",
      (graft.operators.EventAnalytics.sqlFunnel(
        "events", "user_id", "event_type", "ts::TIMESTAMP",
        Seq("view", "click", "purchase")) + "\nORDER BY step_idx"))((spark, dir) =>
    graft.operators.EventAnalytics.funnel(Tables.events(spark, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .orderBy("step_idx"))

  /** [[qFunnel]] under a 60-minute CONVERSION WINDOW — each step must land
    * within an hour of the previous one (half-open (prev, prev+60m], the
    * [[qAttribution]] bound convention). The windowed counts differ from
    * the unwindowed funnel's on this fixture, so the two queries pin two
    * genuinely different semantics. */
  val qFunnelGap = Query("q_funnel_gap",
      (graft.operators.EventAnalytics.sqlFunnel(
        "events", "user_id", "event_type", "ts::TIMESTAMP",
        Seq("view", "click", "purchase"), maxGapMinutes = Some(60)) +
        "\nORDER BY step_idx"))((spark, dir) =>
    graft.operators.EventAnalytics.funnel(Tables.events(spark, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
        maxGapMinutes = Some(60))
      .orderBy("step_idx"))

  /** Funnel TRANSITION latencies
    * ([[graft.operators.EventAnalytics.funnelDurations]]): converted
    * users + average conversion seconds per consecutive step pair — the
    * where-do-users-stall companion to [[qFunnel]]'s counts. */
  val qFunnelLatency = Query("q_funnel_latency",
      (graft.operators.EventAnalytics.sqlFunnelDurations(
        "events", "user_id", "event_type", "ts::TIMESTAMP",
        Seq("view", "click", "purchase")) +
        "\nORDER BY step_idx"))((spark, dir) =>
    graft.operators.EventAnalytics.funnelDurations(Tables.events(spark, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .orderBy("step_idx"))

  /** REPEATED-step funnel (view→view→purchase) — real funnels repeat
    * event types (two page views before a purchase); each repeated stage
    * resolves to the user's NEXT such event strictly after the previous
    * stage's time, so counts stay non-increasing. Until round 9 a
    * `require` blocked repeats even though the strictly-after fold
    * already supported them. */
  val qFunnelRepeat = Query("q_funnel_repeat",
      (graft.operators.EventAnalytics.sqlFunnel(
        "events", "user_id", "event_type", "ts::TIMESTAMP",
        Seq("view", "view", "purchase")) + "\nORDER BY step_idx"))((spark, dir) =>
    graft.operators.EventAnalytics.funnel(Tables.events(spark, dir),
        "user_id", "event_type", "ts", Seq("view", "view", "purchase"))
      .orderBy("step_idx"))

  /** STREAMING-FUNNEL LATE-DATA RECONCILIATION, end-to-end (round-9
    * verdict gap 4): [[EventStreams.funnelTrackerSim]] replays the
    * fixture's events through the live tracker's OWN transition function
    * under an adversarial micro-batch assignment (`event_id % 3` — a
    * user's later-step events routinely land in earlier batches than a
    * late prior step, the exact cross-batch under-advance
    * [[EventStreams.funnelStateful]] documents), then
    * [[EventStreams.funnelReconcile]] diffs the tracker output against
    * the ledger replayed through the batch operator and
    * [[EventStreams.funnelRepaired]] applies the corrections. The
    * declared output is the REPAIRED per-step counts — equal to the
    * batch funnel by construction, so [[qFunnel]]'s SQL twin is a full
    * oracle; under the Verify gate a `require` proves the corrections
    * were NON-EMPTY (the tracker genuinely under-advanced and the repair
    * genuinely repaired — not a vacuous diff of identical relations). */
  val qFunnelReconcile = Query("q_funnel_reconcile",
      // the REPAIRED streaming-tracker output equals the batch funnel by
      // construction (funnelReconcile's corrections are exactly the diff to
      // truth); the Verify-time require proves the diff was non-empty
      qFunnel.oracleSql) { (spark, dir) =>
    import spark.implicits._
    val steps = Seq("view", "click", "purchase")
    val ev = Tables.events(spark, dir)
    val tracked = EventStreams.funnelTrackerSim(
      ev.select("event_id", "ts", "user_id", "event_type", "value")
        .as[EventStreams.Event],
      steps, batchOf = e => e.event_id % 3).toDF()
    val corrections = EventStreams.funnelReconcile(
      ev, "user_id", "event_type", "ts", steps, None, tracked)
    if (selfCheckEnabled)
      require(corrections.where(col("action") === "add").limit(1).count() > 0,
        "q_funnel_reconcile expected genuine cross-batch under-advance " +
          "on this fixture — with no corrections the repair path is " +
          "untested and the query is a no-op twin of q_funnel")
    val repaired = EventStreams.funnelRepaired(tracked, corrections)
    // per-step user counts over the repaired advancement rows (one row
    // per user per reached step), zero-filled so unreached steps still
    // produce their row like the oracle's count(*) over an empty CTE
    val stepDf = steps.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("step_idx", "step")
    stepDf
      .join(repaired.groupBy("step_idx").agg(count(lit(1)).as("__n")),
        Seq("step_idx"), "left")
      .select(col("step_idx"), col("step"),
        coalesce(col("__n"), lit(0L)).as("users"))
      .orderBy("step_idx")
  }

  /** Weekly cohort-retention matrix
    * ([[graft.operators.EventAnalytics.retention]]): users cohorted by
    * first-activity week since the fixture's anchor, counted once per
    * active week — integer calendar arithmetic, engine-identical. */
  val qRetention = Query("q_retention",
      (graft.operators.EventAnalytics.sqlRetention(
        "events", "user_id", "ts::TIMESTAMP",
        anchorDate = "2024-01-01", periodDays = 7) +
        "\nORDER BY cohort_period, period_offset"))((spark, dir) =>
    graft.operators.EventAnalytics.retention(Tables.events(spark, dir),
        "user_id", "ts", anchorDate = "2024-01-01", periodDays = 7)
      .orderBy("cohort_period", "period_offset"))

  /** As-of join: each purchase event attributed to the user's latest
    * preceding (or simultaneous) click — union+window formulation, one
    * shuffle, no range-join pair explosion. */
  val qAsofJoin = Query("q_asof_join",
      """WITH p AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |  WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, ts::TIMESTAMP AS click_ts, event_id AS click_id, value
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT p.event_id, p.user_id, p.ts,
        |       latest.click_ts AS asof_click_ts,
        |       latest.click_id AS asof_click_id,
        |       latest.value AS asof_value
        |FROM p LEFT JOIN LATERAL (
        |  SELECT * FROM c
        |  WHERE c.user_id = p.user_id AND c.click_ts <= p.ts
        |  ORDER BY c.click_ts DESC, c.click_id DESC LIMIT 1
        |) latest ON true
        |ORDER BY p.event_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"), col("value"))
    AsOfJoin.asOf(purchases, clicks, "user_id", "ts", "click_ts", "click_id", Seq("value"))
      .orderBy("event_id")
  }

  /** Banded interval range join: same-user event pairs within 60 s. */
  val qRangeJoin = Query("q_range_join",
      """SELECT a.user_id, a.event_id AS id1, b.event_id AS id2,
        |       epoch_us(b.ts::TIMESTAMP) - epoch_us(a.ts::TIMESTAMP) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(epoch_us(a.ts::TIMESTAMP) - epoch_us(b.ts::TIMESTAMP)) <= 60000000
        |ORDER BY id1, id2""".stripMargin)((spark, dir) =>
    RangeJoin.pairsWithin(Tables.events(spark, dir), "user_id", "event_id", "ts",
        widthUs = 60L * 1000000L)
      .withColumnRenamed("key", "user_id")
      .orderBy("id1", "id2"))

  /** Streaming-capable tumbling-window aggregation, exercised in batch mode
    * for the oracle (the same plan runs under readStream — StreamingSpec). */
  val qWindowAgg = Query("q_window_agg",
      """SELECT date_trunc('hour', ts::TIMESTAMP) AS window_start, event_type,
        |       count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)((spark, dir) =>
    EventStreams.windowedCounts(Tables.events(spark, dir))
      .orderBy("window_start", "event_type"))

  /** Gap-based sessionization via built-in session_window (streaming-capable);
    * oracle is the lag/cumsum SQL rendition. */
  val qSessionize = Query("q_sessionize",
      (EventStreams.sqlSessionAgg(
        "(SELECT event_id, user_id, value, ts::TIMESTAMP AS ts FROM events)") +
        "\nORDER BY user_id, session_start"))((spark, dir) =>
    EventStreams.sessionAgg(Tables.events(spark, dir))
      .orderBy("user_id", "session_start"))

  /** JSON scalar extraction over events.props ('{"k": 87}') — the
    * semi-structured column path at scale (codegen'd get_json_object; no
    * UDF, pushdown-friendly). */
  val qJsonExtract = Query("q_json_extract",
      """SELECT (props->>'$.k')::BIGINT AS k, count(*) AS n
        |FROM events WHERE (props->>'$.k') IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin)((spark, dir) =>
    Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .where(col("k").isNotNull)
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .orderBy("k"))

  /** TPC-H Q3-shaped join + agg + top-k: broadcastable dims, single
    * shuffle on the agg key, TakeOrderedAndProject finish. */
  val qJoinTopk = Query("q_join_topk",
      """SELECT o.o_orderkey,
        |       round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue,
        |       count(*) AS n_items
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin)((spark, dir) =>
    Tables.customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10))

  /** Rollup aggregation (subtotals + grand total) — multi-level agg class.
    * Spark `rollup` ≡ SQL GROUPING SETS with the same null markers. */
  val qRollup = Query("q_rollup",
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)((spark, dir) =>
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))

  /** Set operations: customers in BUILDING except those with an open order,
    * intersected/unioned shapes folded into one output via a tag column. */
  val qSetOps = Query("q_setops",
      """WITH building AS (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |), has_open AS (
        |  SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
        |), ex AS (
        |  SELECT DISTINCT c_custkey, 'building_no_open' AS tag FROM (
        |    SELECT c_custkey FROM building EXCEPT ALL SELECT DISTINCT c_custkey FROM has_open)
        |), inter AS (
        |  SELECT c_custkey, 'building_open' AS tag FROM (
        |    SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM has_open)
        |)
        |SELECT * FROM ex UNION ALL SELECT * FROM inter
        |ORDER BY tag, c_custkey""".stripMargin) { (spark, dir) =>
    val building = Tables.customer(spark, dir)
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val hasOpen = Tables.orders(spark, dir)
      .where(col("o_orderstatus") === "O").select(col("o_custkey").as("c_custkey"))
    val exceptSet = building.exceptAll(hasOpen.distinct()).distinct()
      .withColumn("tag", lit("building_no_open"))
    val intersectSet = building.intersect(hasOpen)
      .withColumn("tag", lit("building_open"))
    exceptSet.unionByName(intersectSet).orderBy("tag", "c_custkey")
  }

  /** Pivot: event counts per user-id decile × event_type (wide table
    * construction; oracle spells the same cells as CASE sums). */
  val qPivot = Query("q_pivot",
      """SELECT user_id % 10 AS decile,
        |       count(*) FILTER (event_type = 'click') AS "click",
        |       count(*) FILTER (event_type = 'error') AS "error",
        |       count(*) FILTER (event_type = 'purchase') AS "purchase",
        |       count(*) FILTER (event_type = 'signup') AS "signup",
        |       count(*) FILTER (event_type = 'view') AS "view"
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)((spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("decile", pmod(col("user_id"), lit(10L)))
      .groupBy("decile")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("decile"))

  /** Deterministic sketches with a real oracle: KMV distinct-user estimate
    * (bounded-state custom Aggregator — every map task ships ≤ k longs to
    * the shuffle) and exact discrete p50/p95 value quantiles per event type.
    * HLL++/t-digest stay available as the engine surface
    * (`approx_count_distinct`/`percentile_approx`, accuracy-tested in
    * SketchSpec) but can never hash-match an external engine; KMV's estimate
    * is a closed-form function of the k smallest md5-derived hashes, so
    * DuckDB computes the identical number. */
  val qSketches = Query("q_sketches",
      s"""WITH kmv AS (
         |${Sketches.sqlKmvDistinctSelect("events", "event_type", Text.sqlHash60("user_id::VARCHAR"), Sketches.DefaultK, "kmv_users")}
         |), qq AS (
         |${Sketches.sqlQuantilesDiscSelect("events", "event_type", "value", Seq(50, 95))}
         |)
         |SELECT kmv.event_type, kmv_users, p50, p95
         |FROM kmv JOIN qq USING (event_type)
         |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val kmv = Sketches.kmvDistinct(
      ev, "event_type", Text.hash60(col("user_id").cast("string")), Sketches.DefaultK, "kmv_users")
    val qq = Sketches.quantilesDisc(ev, "event_type", "value", Seq(50, 95))
    kmv.join(qq, "event_type")
      .select("event_type", "kmv_users", "p50", "p95")
      .orderBy("event_type")
  }

  /** Corpus-wide heavy hitters — every token whose frequency strictly
    * exceeds n/30 of the corpus token stream, with its EXACT count —
    * via the bounded-state Misra–Gries screen + exact recount
    * ([[Sketches.heavyHitters]]): map-side summary state ≤ k per task
    * regardless of vocabulary, vs the brute token-groupBy whose shuffle
    * carries every distinct term (the oracle plan — billions of terms
    * for web-scale text). k=30 sits BELOW this fixture's 31-term
    * near-uniform vocabulary, so the screen genuinely decrements and
    * merges at the theorem's edge: the retention floor n/(k+1) = n/31
    * is just under every term's ~n/31 frequency, and the declared
    * threshold n/30 is strictly above it — recall of the > n/30 answer
    * is the mergeable-summaries guarantee, not fixture luck. */
  val qHeavyHitters = Query("q_heavy_hitters",
      // brute token groupBy-HAVING — a FULL oracle for the MG screen+verify
      // (the screen's recall is the mergeable-summaries theorem, so the two
      // relations are definitionally identical)
      (Sketches.sqlHeavyHittersSelect(
        s"SELECT unnest(${Text.sqlTokens("text")}) AS term FROM documents",
        "term", 30) + "\nORDER BY term")) { (spark, dir) =>
    val toks = Tables.documents(spark, dir)
      .select(explode(Text.tokens(col("text"))).as("term"))
    Sketches.heavyHitters(toks, "term", k = 30, out = "cnt").orderBy("term")
  }

  /** JOIN-CARDINALITY pricing from KMV sketches
    * ([[Sketches.kmvIntersection]], Beyer et al. 2007): how many distinct
    * users two event segments share, estimated from 2×64 driver-held
    * hashes BEFORE any join runs — at 100 TB the question "how big is
    * this join / decontamination overlap" becomes sketch arithmetic
    * instead of a dry-run join. Each segment's min-set is one bounded
    * top-k scan (TakeOrderedAndProject over distinct hashes — the
    * wave-time measurement; production reads them from persisted
    * summaries, [[IndexStore.SummaryIndex.intersectionEstimate]]). The
    * oracle replicates the ENTIRE estimator in DuckDB — same frozen
    * md5-prefix hash, same k-min union, same membership counts, same
    * IEEE arithmetic order — so both the exact branch (sf0.001: 15
    * users/segment < k, sketches are complete sets) and the estimator
    * branch (sf0.01+: 150+ users ≥ k) are hash-checked. */
  val qJoinCardKmv = Query("q_join_card_kmv",
      // the whole Beyer et al. intersection estimator replicated: same
      // frozen hash, same k-min union, same membership counts, same IEEE
      // arithmetic order — both the complete-sets exact branch and the
      // K-based estimator branch are hash-checked
      s"""WITH ma AS (
         |  SELECT h FROM (SELECT DISTINCT ${Text.sqlHash60("user_id::VARCHAR")} AS h
         |                 FROM events WHERE event_type = 'click' AND user_id IS NOT NULL)
         |  ORDER BY h LIMIT 64
         |), mb AS (
         |  SELECT h FROM (SELECT DISTINCT ${Text.sqlHash60("user_id::VARCHAR")} AS h
         |                 FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL)
         |  ORDER BY h LIMIT 64
         |), un AS (
         |  SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM ma UNION ALL SELECT h FROM mb))
         |  ORDER BY h LIMIT 64
         |), ca AS (SELECT count(*) AS n, max(h) AS mx FROM ma),
         |   cb AS (SELECT count(*) AS n, max(h) AS mx FROM mb),
         |   cu AS (SELECT max(h) AS mx FROM un),
         |   mt AS (SELECT count(*) AS m FROM un
         |          WHERE h IN (SELECT h FROM ma) AND h IN (SELECT h FROM mb)),
         |   xab AS (SELECT count(*) AS m FROM ma WHERE h IN (SELECT h FROM mb))
         |SELECT
         |  CASE WHEN ca.n < 64 THEN ca.n
         |       ELSE floor(63::DOUBLE * 1152921504606846976.0 / ca.mx::DOUBLE)::BIGINT END AS a_distinct,
         |  CASE WHEN cb.n < 64 THEN cb.n
         |       ELSE floor(63::DOUBLE * 1152921504606846976.0 / cb.mx::DOUBLE)::BIGINT END AS b_distinct,
         |  CASE WHEN ca.n < 64 AND cb.n < 64 THEN xab.m
         |       ELSE floor(mt.m::DOUBLE * (63::DOUBLE * 1152921504606846976.0 / cu.mx::DOUBLE) / 64::DOUBLE)::BIGINT
         |  END AS overlap_est
         |FROM ca, cb, cu, mt, xab""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    def mins(t: String): Array[Long] = ev
      .where(col("event_type") === t)
      .select(Text.hash60(col("user_id").cast("string")).as("h"))
      .where(col("h").isNotNull)
      .distinct().orderBy("h").limit(Sketches.DefaultK)
      .collect().map(_.getLong(0))
    val a = mins("click")
    val b = mins("purchase")
    import spark.implicits._
    Seq((Sketches.estimate(a, Sketches.DefaultK),
        Sketches.estimate(b, Sketches.DefaultK),
        Sketches.kmvIntersection(a, b, Sketches.DefaultK)))
      .toDF("a_distinct", "b_distinct", "overlap_est")
  }
}
