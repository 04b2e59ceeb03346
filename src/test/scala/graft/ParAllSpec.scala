package graft

import graft.util.Par
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** [[Par.all]]'s failure contract: the first failure is rethrown as its
  * original cause, and the Spark jobs its siblings already submitted are
  * cancelled (per-call job tag) instead of running to completion — while
  * the caller's job group stays on every job. */
class ParAllSpec extends AnyFunSuite with SparkTest {

  test("all: results keep input order and the caller's job tags are untouched") {
    val sc = spark.sparkContext
    val got = Par.all(Seq(
      () => sc.parallelize(1 to 10, 2).count(),
      () => sc.parallelize(1 to 20, 2).count(),
      () => 7L))
    assert(got === Seq(10L, 20L, 7L))
    assert(sc.getJobTags().isEmpty)
  }

  test("all: a failing thunk cancels a sibling's running Spark job and rethrows the original cause") {
    val sc = spark.sparkContext
    val slowStarted = new CountDownLatch(1)
    val slowEnded = new CountDownLatch(1)
    val slowJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val props = new ConcurrentHashMap[Int, java.util.Properties]()
    @volatile var slowResult: JobResult = null
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.job.description") == "slow") {
          props.put(e.jobId, e.properties)
          slowJob.set(e.jobId)
          slowStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == slowJob.get) {
          slowResult = e.jobResult
          slowEnded.countDown()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("par-all-caller", "the caller's own job group")
    try {
      val boom = new IllegalStateException("boom")
      val thrown = intercept[IllegalStateException] {
        Par.all(Seq(
          // 64 tasks × 500 ms on 4 cores: ~8 s if it ran to completion.
          // It comes first, so a failure handled in input order would
          // wait for it to succeed before any cancel could go out.
          () => {
            sc.setJobDescription("slow")
            sc.parallelize(1 to 64, 64).map { i => Thread.sleep(500); i }
              .count()
          },
          () => {
            assert(slowStarted.await(60, TimeUnit.SECONDS),
              "the slow job never started")
            throw boom
          }))
      }
      assert(thrown eq boom)
      assert(slowEnded.await(60, TimeUnit.SECONDS), "the slow job never ended")
      assert(slowResult != JobSucceeded,
        "the slow job ran to completion instead of being cancelled")
      // tags, not a job group: the caller's group rode on the job
      assert(props.get(slowJob.get).getProperty("spark.jobGroup.id") ===
        "par-all-caller")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
