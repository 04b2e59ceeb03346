package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation

/** Scale-adaptive parallelism floor for compute-heavy fan-out stages
  * (optimization guide §2.5 "input skew: one huge unsplittable file …
  * repartition immediately after the read").
  *
  * The engine's pair/shingle/sketch operators do orders of magnitude more
  * CPU per input byte than a plain scan (tokenize → explode → self-join →
  * verify), so their parallelism must come from the SCAN — but a scan's
  * task count is bounded by the input's split count, and a small or
  * unsplittable input (one parquet row group, one gzip member) pins the
  * whole chain of narrow ops — including every downstream broadcast-hash
  * join — to that split count, serializing the expensive stage on one
  * core while the rest of the machine idles (measured: q_neardup_cosine's
  * candidate+verify chain ran as two 1-task stages of 3.5 s + 3.0 s on a
  * 32-core local mode; the whole cluster-shaped plan was single-threaded).
  *
  * [[spread]] inserts ONE deterministic hash repartition (explicit key,
  * explicit partition count — never `rand()`, see SPARK-38388; never
  * keyless round-robin, which pays a per-partition sort) in front of such
  * a stage, but ONLY when the input cannot already feed that many tasks:
  * the guard estimates the frame's scan-split count from optimizer size
  * statistics (`sizeInBytes / spark.sql.files.maxPartitionBytes`) and
  * skips the exchange when the estimate reaches the cluster's core count.
  * At 100 TB the estimate is millions of splits, so production plans are
  * untouched — no added Exchange, no full-corpus shuffle; the exchange
  * only appears when its cost (shuffling a provably small input) buys
  * back the idle cores. Frames already under an explicit repartition are
  * left alone regardless of size.
  */
object Par {

  /** `df` hash-repartitioned on `keys` to `defaultParallelism` partitions
    * iff its estimated scan-split count is below the cluster's core count
    * (see object scaladoc); identity otherwise. Keys must be
    * high-cardinality (document/vector ids) so the hash spreads evenly. */
  def spread(df: DataFrame, keys: Seq[Column]): DataFrame = {
    require(keys.nonEmpty, "Par.spread needs at least one partition key")
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (target <= 1) return df
    val qe = df.queryExecution
    // an explicit upstream repartition already made this decision — a
    // second exchange would just move the same rows again
    if (qe.logical.exists { case _: RepartitionOperation => true; case _ => false })
      return df
    val bytes = qe.optimizedPlan.stats.sizeInBytes
    val maxSplit = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val estSplits = (bytes + maxSplit - 1) / maxSplit
    if (estSplits >= target) df
    else df.repartition(target, keys: _*)
  }

  /** Run independent driver thunks concurrently (optimization guide §2.6
    * — overlap independent jobs): Spark's scheduler runs several jobs at
    * once inside one application; sequences of driver-side actions are
    * only sequential because the caller's code is. Results keep input
    * order. The first failure to complete is rethrown (its cause, not the
    * ExecutionException wrapper) after the rest is cancelled: thunks not
    * yet started never start, and the Spark jobs the running ones already
    * submitted are cancelled through a per-call job tag. A tag, not a job
    * group: the pool threads inherit the caller's local properties, so
    * the caller's job group (which tracers key on) stays on every job. */
  def all[A](thunks: Seq[() => A], maxInFlight: Int = 8): Seq[A] =
    if (thunks.lengthCompare(1) <= 0) thunks.map(_.apply())
    else {
      val sc = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
      val tag = s"graft-par-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(thunks.size, maxInFlight))
      val done = new java.util.concurrent.ExecutorCompletionService[A](pool)
      val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def cancel(): Unit = sc.foreach(
        _.cancelJobsWithTag(tag, "a sibling Par.all thunk failed"))
      try {
        val futs = thunks.map(t => done.submit(
          new java.util.concurrent.Callable[A] {
            def call(): A = {
              sc.foreach(_.addJobTag(tag))
              try t() finally {
                // a job this thunk submitted after the cancel went out
                if (failed.get) cancel()
                sc.foreach(_.removeJobTag(tag))
              }
            }
          }))
        // completion order, not input order: a fast failure must not
        // wait behind a slow sibling before the cancel goes out
        for (_ <- thunks.indices) try done.take().get() catch {
          case e: java.util.concurrent.ExecutionException =>
            failed.set(true)
            cancel()
            throw e.getCause
        }
        futs.map(_.get())
      } finally pool.shutdownNow()
    }

  /** [[all]] over three thunks of different types, typed: the same pool,
    * failure and cancellation contract, results as a tuple. */
  def all[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val Seq(x, y, z) = all[Any](Seq(() => a, () => b, () => c))
    (x.asInstanceOf[A], y.asInstanceOf[B], z.asInstanceOf[C])
  }

  /** [[all]] over four thunks of different types, typed. */
  def all[A, B, C, D](a: => A, b: => B, c: => C, d: => D): (A, B, C, D) = {
    val Seq(w, x, y, z) = all[Any](Seq(() => a, () => b, () => c, () => d))
    (w.asInstanceOf[A], x.asInstanceOf[B], y.asInstanceOf[C], z.asInstanceOf[D])
  }
}
