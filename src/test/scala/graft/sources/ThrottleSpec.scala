package graft.sources

import java.util.concurrent.{CountDownLatch, Executors}

import graft.SparkSpec

class ThrottleSpec extends SparkSpec {

  test("perJvmShare splits a cluster budget so the executor-sum equals the quota") {
    // the reference's 1 req/s geocode quota over 100 executors: each
    // JVM gets 0.01/s — 100 buckets × 0.01 = the quota, never 100× it
    assert(Throttle.perJvmShare(1.0, 100) === 0.01)
    assert(Throttle.perJvmShare(60.0, 4) === 15.0)
    assert(Throttle.perJvmShare(1.0, 1) === 1.0)
    intercept[IllegalArgumentException](Throttle.perJvmShare(0.0, 4))
    intercept[IllegalArgumentException](Throttle.perJvmShare(1.0, 0))
    // the share feeds the same acquire() bucket: 3 acquisitions at a
    // 20/s share must space by >= 50ms after the first
    val key = s"spec-bucket-${System.nanoTime()}"
    val t0 = System.nanoTime()
    (1 to 3).foreach(_ => Throttle.acquire(key, Throttle.perJvmShare(80.0, 4)))
    assert((System.nanoTime() - t0) / 1e6 >= 95.0)
  }

  test("concurrent task threads share one acquire bucket per key") {
    // 8 threads (an executor's task slots) acquire a fresh key at once:
    // the first slot is immediate and the other 7 queue on the SAME
    // bucket, so together they take at least 7/R — per-thread buckets
    // would all finish at once
    val rate = 40.0
    val key = s"spec-shared-${System.nanoTime()}"
    val pool = Executors.newFixedThreadPool(8)
    val go = new CountDownLatch(1)
    try {
      val t0 = System.nanoTime()
      val done = (1 to 8).map(_ => pool.submit(new Runnable {
        def run(): Unit = { go.await(); Throttle.acquire(key, rate) }
      }))
      go.countDown()
      done.foreach(_.get())
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(elapsedMs >= 7 * 1000.0 / rate, s"8 acquisitions took ${elapsedMs}ms")
    } finally pool.shutdown()
  }
}
