package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the program, plus what Spark
  * reports about the work those calls caused. Everything is observed
  * from outside the program: the benchmark opens a span around each call
  * it makes into a layer's entry point, tags the jobs the call starts
  * with the span's id (a local property, inherited by streaming
  * threads), and keeps Spark's job, task, SQL-execution and streaming
  * progress events. Records stay in memory until [[toJson]].
  *
  * With tracing off only op spans are kept (their times are the
  * end-to-end metrics); no listener is registered.
  */
final class Trace(val on: Boolean, t0Ns: Long) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val requests = new ConcurrentLinkedQueue[Span]()
  // spans are opened by the benchmark's one driver thread only
  private var stack: List[Span] = Nil
  // (span id, op) open now, as read by emulator and streaming threads
  @volatile private var current: (Long, String) = (0L, "")

  def sec(ns: Long): Double = (ns - t0Ns) / 1e9

  /** Run `body` inside a span; returns its result and the span. */
  def span[T](name: String, layer: String, op: String = null)(body: => T): (T, Span) = {
    val s = Span(ids.incrementAndGet(), name, layer, stack.headOption.map(_.id).getOrElse(0L),
      Option(op).getOrElse(stack.headOption.map(_.op).orNull), System.nanoTime(), 0L)
    stack = s :: stack
    current = (s.id, s.op)
    if (on) spark.foreach(_.sparkContext.setLocalProperty(SpanProperty, s.id.toString))
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      current = stack.headOption.map(h => (h.id, h.op)).getOrElse((0L, ""))
      if (on) spark.foreach(_.sparkContext.setLocalProperty(SpanProperty,
        stack.headOption.map(_.id.toString).orNull))
      spans.add(s)
    }
  }

  /** One emulator request; its parent is the span open at the time. */
  def request(endpoint: String, startNs: Long, endNs: Long): Unit =
    if (on) {
      val (parent, op) = current
      requests.add(Span(ids.incrementAndGet(), s"http.$endpoint", "sources.Http",
        parent, op, startNs, endNs))
    }

  // ---- Spark side (tracing on only) --------------------------------

  private var spark: Option[SparkSession] = None
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val accName = new ConcurrentHashMap[Long, String]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val streamOp = new ConcurrentHashMap[String, (Long, String)]()
  private val drained = new java.util.concurrent.CountDownLatch(1)
  @volatile private var drainJob = -1
  private var codegen0 = (0L, 0.0)

  /** Register the listeners (when tracing) and remember the session. */
  def attach(s: SparkSession): Unit = {
    spark = Some(s)
    if (on) {
      s.sparkContext.addSparkListener(listener)
      s.streams.addListener(streamListener)
      codegen0 = codegenCompile()
    }
  }

  /** Wait until every Spark event posted so far has been delivered: a
    * marker job goes through the same FIFO queue as the listener.
    */
  def drain(sc: SparkContext): Unit = if (on) {
    sc.setJobDescription(DrainJob)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    drained.await(30, java.util.concurrent.TimeUnit.SECONDS)
    Thread.sleep(300) // streaming progress rides a separate queue
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).getOrElse(new java.util.Properties)
      if (p.getProperty("spark.job.description") == DrainJob) { drainJob = e.jobId; return }
      // RDD actions carry no call-site property: fall back to where the
      // job's final RDD was created
      val last = e.stageInfos.sortBy(_.stageId).lastOption
      val j = new Job(e.jobId, e.time, Option(p.getProperty(SpanProperty)).map(_.toLong).getOrElse(0L),
        Option(p.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L),
        Option(p.getProperty("callSite.short")).orElse(last.map(_.name)).getOrElse(""),
        graftFrames(Option(p.getProperty("callSite.long")).orElse(last.map(_.details)).getOrElse("")))
      e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob) drained.countDown()
      else Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(id => Option(jobs.get(id)))
        .foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        collectMetricNames(s.sparkPlanInfo)
        execs.put(s.executionId, new Exec(s.executionId, s.time, s.description, graftFrames(s.details)))
      // adaptive re-planning gives the write command fresh accumulators
      case s: SparkListenerSQLAdaptiveExecutionUpdate =>
        collectMetricNames(s.sparkPlanInfo)
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_.endMs = s.time)
      case u: SparkListenerDriverAccumUpdates =>
        Option(execs.get(u.executionId)).foreach { x =>
          u.accumUpdates.foreach { case (id, v) =>
            accName.get(id) match {
              case "number of written files" => x.files += v
              case "written output" => x.bytes += v
              case _ => ()
            }
          }
        }
      case _ => ()
    }
  }

  private def collectMetricNames(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => accName.put(m.accumulatorId, m.name))
    p.children.foreach(collectMetricNames)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamOp.put(e.id.toString, current)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val (span, op) = streamOp.getOrDefault(p.id.toString, (0L, ""))
      progress.add(Progress(span, op, p.batchId,
        ms("triggerExecution") / 1e3, ms("addBatch") / 1e3, p.numInputRows))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Cumulative janino compile (count, seconds) from Spark's codegen metrics. */
  private def codegenCompile(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    // the histogram samples; scale its mean back up to every compile
    (h.getCount, if (snap.size == 0) 0.0 else snap.getMean * h.getCount / 1e3)
  }

  // ---- output ------------------------------------------------------

  def toJson: java.util.Map[String, Any] = {
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("spans", (spans.asScala ++ requests.asScala).toSeq.sortBy(_.startNs).map(_.json(this)).asJava)
    if (on) {
      def rel(ms: Long): Double = if (ms <= 0) -1.0 else ms / 1e3 - wallT0
      out.put("jobs", jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map[String, Any](
        "id" -> j.id, "start" -> rel(j.startMs), "end" -> rel(j.endMs), "span" -> j.span,
        "exec" -> j.exec, "short" -> j.short, "frames" -> j.frames.asJava, "stages" -> j.stages,
        "tasks" -> j.tasks, "cpu_s" -> j.cpuNs / 1e9,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill, "input" -> j.input,
        "output" -> j.output).asJava).asJava)
      out.put("executions", execs.values.asScala.toSeq.sortBy(_.id).map(x => Map[String, Any](
        "id" -> x.id, "start" -> rel(x.startMs), "end" -> rel(x.endMs), "short" -> x.short,
        "frames" -> x.frames.asJava, "files" -> x.files, "bytes" -> x.bytes).asJava).asJava)
      out.put("streaming", progress.asScala.toSeq.map(p => Map[String, Any](
        "span" -> p.span, "op" -> p.op, "batch" -> p.batchId, "batch_s" -> p.batchS, "add_batch_s" -> p.addBatchS,
        "input_rows" -> p.inputRows).asJava).asJava)
      val (n1, s1) = codegenCompile()
      out.put("codegen", Map("compiles" -> (n1 - codegen0._1), "compile_s" -> (s1 - codegen0._2)).asJava)
    }
    out
  }

  // wall-clock ms of t0Ns, for converting Spark's event times
  private val wallT0: Double =
    (System.currentTimeMillis() - (System.nanoTime() - t0Ns) / 1000000L) / 1e3
}

object Trace {
  val SpanProperty = "perfbench.span"
  val DrainJob = "perfbench:drain"

  final case class Span(id: Long, name: String, layer: String, parent: Long, op: String,
      startNs: Long, var endNs: Long) {
    def json(t: Trace): java.util.Map[String, Any] = Map[String, Any](
      "id" -> id, "name" -> name, "layer" -> layer, "parent" -> parent, "op" -> op,
      "start" -> t.sec(startNs), "end" -> t.sec(endNs)).asJava
  }

  final class Job(val id: Int, val startMs: Long, val span: Long, val exec: Long,
      val short: String, val frames: Seq[String]) {
    @volatile var endMs = 0L
    var stages = 0; var tasks = 0; var cpuNs = 0L
    var shuffleWrite = 0L; var spill = 0L; var input = 0L; var output = 0L
  }

  final class Exec(val id: Long, val startMs: Long, val short: String, val frames: Seq[String]) {
    @volatile var endMs = 0L
    @volatile var files = 0L
    @volatile var bytes = 0L
  }

  final case class Progress(span: Long, op: String, batchId: Long, batchS: Double, addBatchS: Double,
      inputRows: Long)

  /** The program's frames of a long call site, innermost first, as
    * `graft.pkg.Object$.method(File.scala:line)`.
    */
  def graftFrames(callSiteLong: String): Seq[String] =
    callSiteLong.split("\n").iterator.map(_.trim)
      .map(_.stripPrefix("at "))
      .filter(_.startsWith("graft.")).toSeq
}
