package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[Overlap]]: independent actions run at the same time under the
  * caller's Spark thread context, and a failure surfaces only after
  * every body has finished.
  */
class OverlapSpec extends SparkSpec {

  test("jobs launched through Overlap carry the caller's job description") {
    val desc = "overlap-spec-description"
    val started = new CountDownLatch(2)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.job.description") == desc)
          started.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobDescription(desc)
    try {
      val r = Overlap.all(spark)(() => spark.range(10).count(),
        () => spark.range(5).count())
      assert(r === Seq(10L, 5L))
      assert(started.await(10, TimeUnit.SECONDS),
        "a job launched through Overlap lost the caller's job description")
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("every body finishes before the first failure is rethrown") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap.all[Unit](spark)(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); done.set(true) },
        () => throw new IllegalArgumentException("third"))
    }
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("third"))
    assert(done.get(), "a failure must not abandon a body still running")
  }
}
