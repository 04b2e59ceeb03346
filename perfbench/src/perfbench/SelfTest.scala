package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own tests (`python3 perfbench/run.py --self-test`):
  * every workload runs end to end at its smoke size with zero failed
  * operations, and every output check rejects a deliberately wrong result. */
object SelfTest {
  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def run(): Unit = {
    val spark = Sessions.start()
    try {
      smokeRuns(spark)
      serveChecks(spark)
      batchChecks(spark)
    } catch {
      case e: Throwable => e.printStackTrace(); failures += 1
    } finally spark.stop()
    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def smokeRuns(spark: SparkSession): Unit =
    for (w <- Seq("serve", "batch"); trace <- Seq(false, true)) {
      val out = w match {
        case "serve" => Serve.run(spark, Opts(w, seed = 7, seconds = 2, trace = trace, smoke = true))
        case "batch" => Batch.run(spark, Opts(w, seed = 7, seconds = 1, trace = trace, smoke = true))
      }
      out.tally.reasons.foreach(r => println(s"     $r"))
      expect(s"$w smoke (trace=$trace): ${out.tally.attemptedCount} operations, none failed",
        out.tally.attemptedCount > 0 && out.tally.failedCount == 0)
      val names = (if (trace) out.perLayer else out.endToEnd).map(_.name)
      val declared = if (trace) Declared.perLayer else Declared.endToEnd
      expect(s"$w smoke (trace=$trace): reports exactly the declared metrics",
        names.sorted == declared.sorted)
      expect(s"$w smoke (trace=$trace): every metric is a finite number",
        (out.endToEnd ++ out.perLayer).forall(m => !m.value.isNaN && !m.value.isInfinite))
    }

  private val mapper = new ObjectMapper()

  /** A reply body with `edit` applied to its parsed rows. */
  private def edited(body: String)(edit: ArrayNode => Unit): String = {
    val arr = mapper.readTree(body).asInstanceOf[ArrayNode]
    edit(arr)
    arr.toString
  }
  private def row(a: ArrayNode, i: Int): ObjectNode = a.get(i).asInstanceOf[ObjectNode]

  private def serveChecks(spark: SparkSession): Unit = {
    val catalogs = Catalog.catalogs(11, 0, 50)
    val served = Serve.build(spark, catalogs, 1024)
    val docs = Serve.docs(served)
    val plain = Serve.sessions(11, catalogs, 1).head.copy(limit = 5, filter = Serve.NoFilter)
    val unavailable = docs.values.find(!_.available).map(_.id)
      .getOrElse(sys.error("fixture has no unavailable product"))
    val stream = IndexedSeq(plain, plain.copy(filter = Serve.Available(true)), plain.copy(limit = 6))
    val send = Serve.direct(spark, served, stream, None)
    /** The check of session `s` must fail `body` with a problem naming `why`. */
    def reject(what: String, why: String, s: Int, mode: String, status: Int, body: String): Unit = {
      val problems = Serve.check(docs, served.embedder, stream(s), mode, status, body)
      expect(s"serve check rejects $what", problems.exists(_.contains(why)))
    }
    for (mode <- Serve.Modes) {
      val (status, body) = send(0, mode)
      val problems = Serve.check(docs, served.embedder, plain, mode, status, body)
      expect(s"serve check accepts the program's $mode reply ${problems.mkString}", problems.isEmpty)
      expect(s"serve $mode reply has rows to corrupt", mapper.readTree(body).size >= 2)
      reject(s"a $mode HTTP 500", "HTTP 500", 0, mode, 500, """{"message":"boom"}""")
      reject(s"a $mode reply over the limit", "over limit", 0, mode, 200, send(2, mode)._2)
      reject(s"$mode duplicate ids", "duplicate ids", 0, mode, 200,
        edited(body)(a => a.set(1, a.get(0).deepCopy[ObjectNode]())))
      reject(s"$mode rows out of score order", "non-increasing", 0, mode, 200, edited(body) { a =>
        val first = a.remove(0).asInstanceOf[ObjectNode]
        a.add(first.put("score", first.get("score").asDouble + 1))
      })
    }
    val (_, vec) = send(0, "vector")
    reject("a vector reply missing its last row", "rows, expected", 0, "vector", 200,
      edited(vec)(a => a.remove(a.size - 1)))
    reject("a vector score that differs from brute force", "differs from brute force", 0,
      "vector", 200, edited(vec)(a => row(a, a.size - 1).put("score",
        row(a, a.size - 1).get("score").asDouble - 0.01)))
    reject("a vector top-k that is not the brute-force top-k", "ranking differs", 0, "vector", 200,
      edited(vec) { a =>
        val kept = (0 until a.size).map(a.get(_).get("id").asText).toSet
        val (other, score) = docs.values.filterNot(d => kept(d.id))
          .map(d => d.id -> Serve.cosineScore(d.vec, served.embedder.embed(plain.description)))
          .minBy(_._2)
        row(a, a.size - 1).put("id", other).put("score", score)
      })
    val (_, filtered) = send(1, "vector")
    reject("a row that fails the request's filter", "fails filter", 1, "vector", 200,
      edited(filtered)(a => row(a, 0).put("id", unavailable)))
    val (_, hyb) = send(0, "hybrid")
    reject("a hybrid score that is not 10*vec_norm + txt_norm", "10*vec_norm", 0, "hybrid", 200,
      edited(hyb)(a => row(a, a.size - 1).put("txt_norm",
        row(a, a.size - 1).path("txt_norm").asDouble + 0.5)))
    val (_, ft) = send(0, "fulltext")
    reject("a non-positive fulltext score", "non-positive", 0, "fulltext", 200,
      edited(ft)(a => row(a, a.size - 1).put("score", 0.0)))
    served.unpersist()
  }

  private def batchChecks(spark: SparkSession): Unit = {
    import spark.implicits._
    val df = Seq((1L, "a", 0.5), (2L, "b", 0.25)).toDF("id", "t", "s")
    expect("batch hash ignores row and column order",
      Batch.canonicalHash(df)._2 == Batch.canonicalHash(df.orderBy(desc("id")).select("s", "t", "id"))._2)
    expect("batch hash changes with a value",
      Batch.canonicalHash(df)._2 != Batch.canonicalHash(df.withColumn("s", col("s") + 1e-6))._2)
    expect("batch check rejects a wrong result hash",
      Batch.check(Batch.Smoke, "q1_agg", "000000000000000000000000").nonEmpty)
    expect("batch check rejects a wrong row count", Batch.countCheck("q1_agg", 5, 6).nonEmpty)
    expect("batch check rejects a failed execution", Batch.countCheck("q1_agg", -1, 6).nonEmpty)
  }
}
