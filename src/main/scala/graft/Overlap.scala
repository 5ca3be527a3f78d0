package graft

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** Run independent Spark actions at the same time — the one overlap
  * idiom of the engine. A driver-bound lifecycle spends most of its
  * wall waiting on one small job after another; two actions that do
  * not read each other's output can share that wait.
  *
  * Each body runs on a daemon pool thread under the CALLER's Spark
  * thread context ([[GraftSqlBridge.withThreadLocalCaptured]]): job
  * descriptions, job groups and any other local property the caller
  * set follow the work. A plain global-ExecutionContext `Future`
  * instead runs under whatever properties its pool thread inherited
  * from the thread that happened to create it.
  */
object Overlap {

  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger(0)
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-overlap-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Run `bodies` concurrently and return their results in order once
    * EVERY one has finished. If any failed, the first failure in
    * argument order is rethrown (the others attached as suppressed),
    * still only after all have finished — a caller never proceeds
    * while work it started is running. A single body runs inline.
    */
  def all[A](s: SparkSession)(bodies: (() => A)*): Seq[A] =
    if (bodies.size <= 1) bodies.map(_())
    else {
      val fs = bodies.map(b => GraftSqlBridge.withThreadLocalCaptured(s, pool)(b()))
      val done = fs.map { f =>
        try Right(f.get()) catch {
          case e: ExecutionException if e.getCause != null => Left(e.getCause)
        }
      }
      done.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => done.collect { case Right(a) => a }
      }
    }

  /** [[all]] for two bodies of different types. */
  def both[A, B](s: SparkSession)(a: => A, b: => B): (A, B) = {
    val r = all[Any](s)(() => a, () => b)
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
