package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec

/** Crash-recovery proof for the STATEFUL event streams (verdict ask:
  * DocPipeline has checkpointed crash replay; sessionize and watermark
  * dedup had none). Shape per operator:
  *
  *  - drive a file-source stream (maxFilesPerTrigger=1, so state and
  *    watermark build across several micro-batches), kill the
  *    MicroBatchExecution mid-stream (`stop()` interrupts the stream
  *    thread with input files still pending), drop MORE input in
  *    after the kill, restart from the SAME checkpoint + file sink,
  *    drain, and assert the final committed output equals an
  *    UNINTERRUPTED run of the same operator over the same input —
  *    exactly-once, no loss, no duplication.
  *
  * The fixtures are built so the assertion can only pass if state
  * actually survives the kill: a session SPANS the kill point (its
  * opening events pre-kill, its continuation post-kill — lost state
  * would split or drop it), and a dedup key first seen pre-kill
  * repeats post-kill (lost state would re-emit it). The file sink's
  * metadata log provides the exactly-once read-back (only committed
  * batches are visible), so a torn batch at the kill point cannot
  * leak partial output into the compare.
  */
class StreamRecoverySpec extends SparkSpec {

  import spark.implicits._

  private def ts(h: Int, m: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  private def ev(id: Long, t: Timestamp, uid: Long, typ: String, v: Double) =
    Event(id, t, uid, typ, v, "{}")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def addFile(dir: String, events: Seq[Event]): Unit =
    events.toDS().coalesce(1).write.mode("append").parquet(dir)

  private def readEvents(dir: String) =
    spark.readStream.schema(Encoders.product[Event].schema)
      .option("maxFilesPerTrigger", "1") // one input file per micro-batch
      .parquet(dir).as[Event]

  /** Run `op` over the input dir until all currently-available files
    * are processed, then stop. Same checkpoint/out across calls =
    * restart from checkpoint.
    */
  private def drain(inDir: String, cpDir: String, outDir: String,
      op: DataFrame => DataFrame): Unit = {
    val q = op(readEvents(inDir).toDF())
      .writeStream.format("parquet")
      .option("checkpointLocation", cpDir).option("path", outDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Start the query and KILL it mid-stream: stop() fires as soon as
    * the first `minRows` input rows have been committed — interrupting
    * the MicroBatchExecution thread while later input files are still
    * pending (maxFilesPerTrigger=1 guarantees they ride later
    * batches). State as of the kill lives only in the checkpoint.
    */
  private def killAfter(inDir: String, cpDir: String, outDir: String,
      minRows: Long, op: DataFrame => DataFrame): Unit = {
    val q = op(readEvents(inDir).toDF())
      .writeStream.format("parquet")
      .option("checkpointLocation", cpDir).option("path", outDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (q.recentProgress.map(_.numInputRows).sum < minRows &&
          System.nanoTime() < deadline) Thread.sleep(1)
      assert(q.recentProgress.map(_.numInputRows).sum >= minRows,
        "stream never committed the pre-kill batch")
    } finally q.stop()
  }

  private def outRows(dir: String): Set[String] =
    spark.read.parquet(dir).collect().map(_.mkString("|")).toSet

  // session files: u1 opens a session that SPANS the kill (10:00, 10:05
  // pre-kill; 10:12 post-kill, within the 15-min gap), u2 closes one
  // session pre-kill (10:01) and opens another (10:20); the flush event
  // advances the watermark past every session end + gap
  private val preKill = Seq(
    Seq(ev(1, ts(10, 0), 1, "click", 1.0), ev(2, ts(10, 1), 2, "click", 2.0)),
    Seq(ev(3, ts(10, 5), 1, "view", 3.0), ev(4, ts(10, 20), 2, "view", 4.0)))
  private val postKill = Seq(
    Seq(ev(5, ts(10, 12), 1, "click", 5.0), ev(6, ts(10, 25), 3, "click", 1.0)),
    Seq(ev(7, ts(20, 0), 999, "flush", 0.0)))

  private def runBoth(op: DataFrame => DataFrame): (Set[String], Set[String]) = {
    val base = tmp("recovery")
    val inA = s"$base/in_a"; val inB = s"$base/in_b"
    (preKill ++ postKill).foreach(addFile(inA, _))
    drain(inA, s"$base/cp_a", s"$base/out_a", op)
    preKill.foreach(addFile(inB, _))
    // kill once the FIRST file's rows are committed (the second pre-kill
    // file is still pending), then land the post-kill files and restart
    // from the checkpoint
    killAfter(inB, s"$base/cp_b", s"$base/out_b", preKill.head.size.toLong, op)
    postKill.foreach(addFile(inB, _))
    drain(inB, s"$base/cp_b", s"$base/out_b", op)
    (outRows(s"$base/out_a"), outRows(s"$base/out_b"))
  }

  test("sessionize survives a mid-stream kill: restart closes the spanning session exactly once") {
    val (uninterrupted, recovered) = runBoth(df =>
      EventStreams.sessionize(df.as[Event]).toDF())
    assert(uninterrupted.nonEmpty, "flush event must close the sessions in the baseline run")
    // u1's [10:00 .. 10:12] session exists only if the open-session
    // state crossed the kill intact
    assert(uninterrupted.exists(_.startsWith("1|2024-01-01 10:00:00")), uninterrupted.toString)
    assert(recovered === uninterrupted)
  }

  test("dedupKeepFirst survives a mid-stream kill: pre-kill keys stay deduped after restart") {
    // u1 "click" first seen pre-kill (10:00) repeats post-kill (10:12):
    // recovered dedup state must drop the repeat, lost state would
    // re-emit it as a fresh first
    val (uninterrupted, recovered) = runBoth(EventStreams.dedupKeepFirst(_))
    assert(uninterrupted.exists(_.contains("2024-01-01 10:00:00")), uninterrupted.toString)
    assert(!uninterrupted.exists(_.contains("2024-01-01 10:12:00")),
      s"the 10:12 repeat of (u1, click) must be deduped: $uninterrupted")
    assert(recovered === uninterrupted)
  }
}
