package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.sources.AtomicSwap

/** One document event on the incremental pipeline's input stream. */
case class DocEvent(doc_id: Long, ts: Timestamp,
    text: String, lang: String, source: String)

/** Incremental-vs-batch agreement for the training-data pipeline: the
  * sf0.001 corpus replayed as an in-order document stream through
  * [[DocPipeline]] must produce EXACTLY the batch p01 result (same
  * stages, same expressions — the composition is the contract).
  */
class DocPipelineSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("incremental pipeline over a replayed stream equals batch p01, for ANY batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val docs = graft.Tables(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source")
      .orderBy("doc_id")
      .collect()
      .map(r => DocEvent(r.getLong(0), new Timestamp(base + r.getLong(0) * 1000L),
        r.getString(1), r.getString(2), r.getString(3)))

    val batch = graft.SparkEntry.queries("p01_training_pipeline")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(batch.nonEmpty)

    // two different micro-batch chunkings must both agree with the
    // batch result — verdicts depend on arrival ORDER, never on where
    // the batch boundaries fall
    for (chunkSize <- Seq(13, 7)) {
      val stateDir =
        java.nio.file.Files.createTempDirectory(s"docpipe$chunkSize").toString
      val mem = MemoryStream[DocEvent]
      val q = DocPipeline.start(mem.toDF(), stateDir)
      try {
        docs.grouped(chunkSize).foreach { chunk =>
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val streamed = DocPipeline.aggregate(spark, stateDir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(streamed === batch, s"chunkSize=$chunkSize")
    }
  }

  test("a pre-r14 state layout fails loudly instead of serving null verdicts") {
    import spark.implicits._
    // a docs store written before the n_windows/n_kept columns existed:
    // reading it with the explicit current schema would silently yield
    // NULL for both — the older-layout guard must reject it instead
    val stateDir = java.nio.file.Files.createTempDirectory("docpipelegacy").toString
    Seq((1L, "t", "en", "s", "h", Seq("sh"), false))
      .toDF("doc_id", "text", "lang", "source", "text_hash", "sh", "is_neardup")
      .write.parquet(s"$stateDir/docs")
    val e = intercept[IllegalArgumentException] {
      DocPipeline.docsStore(spark, stateDir).collect()
    }
    assert(e.getMessage.contains("older layout") &&
      e.getMessage.contains("no generation manifest"))
  }

  test("compaction shrinks the store file count and changes nothing observable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val docs = graft.Tables(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source").orderBy("doc_id").collect()
      .map(r => DocEvent(r.getLong(0), new Timestamp(base + r.getLong(0) * 1000L),
        r.getString(1), r.getString(2), r.getString(3)))
    val stateDir = java.nio.file.Files.createTempDirectory("docpipec").toString
    val mem = MemoryStream[DocEvent]
    val q = DocPipeline.start(mem.toDF(), stateDir)
    try {
      docs.grouped(10).foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
    } finally q.stop()
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    val before = DocPipeline.aggregate(spark, stateDir).collect().map(_.toSeq).toSeq
    val filesBefore = parquetFiles(AtomicSwap.dataDir(spark, s"$stateDir/docs"))
    DocPipeline.compact(spark, stateDir, targetFiles = 1)
    assert(parquetFiles(AtomicSwap.dataDir(spark, s"$stateDir/docs")) < filesBefore)
    assert(DocPipeline.aggregate(spark, stateDir).collect().map(_.toSeq).toSeq === before)
  }

  test("kill and resume from checkpoint mid-stream agrees with batch p01") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val docs = graft.Tables(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source").orderBy("doc_id").collect()
      .map(r => DocEvent(r.getLong(0), new Timestamp(base + r.getLong(0) * 1000L),
        r.getString(1), r.getString(2), r.getString(3)))
    val batch = graft.SparkEntry.queries("p01_training_pipeline")(spark, dir)
      .collect().map(_.toSeq).toSeq

    val stateDir = java.nio.file.Files.createTempDirectory("docpipekill").toString
    val ckpt = java.nio.file.Files.createTempDirectory("docpipeckpt").toString
    val mem = MemoryStream[DocEvent]
    val chunks = docs.grouped(11).toSeq
    val (firstHalf, secondHalf) = chunks.splitAt(chunks.length / 2)

    // phase 1: process half the stream, then KILL the query
    val q1 = DocPipeline.start(mem.toDF(), stateDir, checkpointDir = Some(ckpt))
    try {
      firstHalf.foreach { c => mem.addData(c.toSeq); q1.processAllAvailable() }
    } finally q1.stop()

    // data arriving while the pipeline is down
    secondHalf.foreach(c => mem.addData(c.toSeq))

    // phase 2: RESUME from the same checkpoint — picks up exactly the
    // unprocessed offsets, including what arrived during the outage
    val q2 = DocPipeline.start(mem.toDF(), stateDir, checkpointDir = Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()

    val streamed = DocPipeline.aggregate(spark, stateDir).collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("a replayed micro-batch (at-least-once crash recovery) is idempotent") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("docpipereplay").toString
    def mkBatch(ids: Seq[Long]) = graft.Tables(spark, dir, "documents")
      .filter($"doc_id".isin(ids: _*))
      .select($"doc_id", $"text", $"lang", $"source",
        org.apache.spark.sql.functions.md5($"text").as("text_hash"))
    DocPipeline.processBatch(mkBatch(0L to 20L), stateDir)
    val b2 = mkBatch(21L to 40L)
    DocPipeline.processBatch(b2, stateDir)
    val docsAfter = spark.read.parquet(AtomicSwap.dataDir(spark, s"$stateDir/docs"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val aggAfter = DocPipeline.aggregate(spark, stateDir).collect().map(_.toSeq).toSeq
    // the crash: batch 2 replays wholesale
    DocPipeline.processBatch(b2, stateDir)
    assert(spark.read.parquet(AtomicSwap.dataDir(spark, s"$stateDir/docs"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq === docsAfter)
    assert(DocPipeline.aggregate(spark, stateDir).collect().map(_.toSeq).toSeq === aggAfter)
  }

  test("crash between the two state writes (bands landed, docs didn't) recovers") {
    import spark.implicits._
    val dirA = java.nio.file.Files.createTempDirectory("docpipepartA").toString
    val dirB = java.nio.file.Files.createTempDirectory("docpipepartB").toString
    def mkBatch(ids: Seq[Long]) = graft.Tables(spark, dir, "documents")
      .filter($"doc_id".isin(ids: _*))
      .select($"doc_id", $"text", $"lang", $"source",
        org.apache.spark.sql.functions.md5($"text").as("text_hash"))
    val b1 = mkBatch(0L to 20L); val b2 = mkBatch(21L to 40L)
    // reference run: both batches, no crash
    DocPipeline.processBatch(b1, dirA); DocPipeline.processBatch(b2, dirA)
    // crashed run: batch 2's BANDS write completes, docs write doesn't
    // (exactly the partial state the load-bearing write order leaves),
    // then the batch replays in full
    DocPipeline.processBatch(b1, dirB)
    val orphanBands = graft.queries.Dedup.bandKeys(
      b2.join(spark.read.parquet(AtomicSwap.dataDir(spark, s"$dirB/docs")).select("text_hash"),
          Seq("text_hash"), "left_anti")
        .withColumn("sh", graft.functions.Text.distinctShingles($"text"))
        .select("doc_id", "sh"))
    orphanBands.write.mode("append").parquet(AtomicSwap.dataDir(spark, s"$dirB/bands"))
    DocPipeline.processBatch(b2, dirB) // the replay
    // observable state agrees with the no-crash run
    assert(DocPipeline.aggregate(spark, dirB).collect().map(_.toSeq).toSeq ===
      DocPipeline.aggregate(spark, dirA).collect().map(_.toSeq).toSeq)
    assert(spark.read.parquet(AtomicSwap.dataDir(spark, s"$dirB/docs"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq ===
      spark.read.parquet(AtomicSwap.dataDir(spark, s"$dirA/docs"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq)
    // the orphan band duplicates exist until compaction sweeps them
    DocPipeline.compact(spark, dirB, targetFiles = 1)
    assert(spark.read.parquet(AtomicSwap.dataDir(spark, s"$dirB/bands"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq ===
      spark.read.parquet(AtomicSwap.dataDir(spark, s"$dirA/bands"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq)
  }

  test("the maintained edge store equals the lshVerifiedPairs recompute " +
      "(r19, verdict ask #4), incl. across a crash replay; probe clean; " +
      "pre-edge-store layouts fail loudly") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("docpipeedges").toString
    def mkBatch(ids: Seq[Long]) = graft.Tables(spark, dir, "documents")
      .filter($"doc_id".isin(ids: _*))
      .select($"doc_id", $"text", $"lang", $"source",
        org.apache.spark.sql.functions.md5($"text").as("text_hash"))
    DocPipeline.processBatch(mkBatch(0L to 200L), stateDir)
    val b2 = mkBatch(201L to 499L)
    DocPipeline.processBatch(b2, stateDir)
    DocPipeline.processBatch(b2, stateDir) // crash replay: dup appends
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val store = DocPipeline.docsStore(spark, stateDir).select("doc_id", "sh")
    val expect = pairs(graft.queries.Dedup.lshVerifiedPairs(store))
    val got = pairs(DocPipeline.edgesStore(spark, stateDir))
    assert(got.nonEmpty, "the fixture corpus must yield verified edges")
    assert(got === expect,
      "the maintained edge store must equal the full recompute")
    // probe: replay duplicates show as rows > distinct; no orphans, no
    // inverted pairs
    val p = DocPipeline.edgesProbe(spark, stateDir).head()
    assert(p.getLong(0) >= p.getLong(1))
    assert(p.getLong(1) === expect.size.toLong)
    assert(p.getLong(2) === 0L, "no orphan endpoints after a clean replay")
    assert(p.getLong(3) === 0L, "edges must be (a_id < b_id) oriented")
    // compact sweeps the replay duplicates
    DocPipeline.compact(spark, stateDir, targetFiles = 1)
    val p2 = DocPipeline.edgesProbe(spark, stateDir).head()
    assert(p2.getLong(0) === p2.getLong(1), "compact must sweep dup edges")
    assert(pairs(DocPipeline.edgesStore(spark, stateDir)) === expect)
    // a pre-r19 layout (docs present, edges absent) fails loudly
    new scala.reflect.io.Directory(
      new java.io.File(s"$stateDir/edges")).deleteRecursively()
    val ex = intercept[IllegalArgumentException] {
      DocPipeline.edgesStore(spark, stateDir)
    }
    assert(ex.getMessage.contains("pre-edge-store"))
  }

  test("an out-of-order batch of genuinely new docs fails loudly; replays stay exempt") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("docpipeooo").toString
    def mkBatch(ids: Seq[Long]) = graft.Tables(spark, dir, "documents")
      .filter($"doc_id".isin(ids: _*))
      .select($"doc_id", $"text", $"lang", $"source",
        org.apache.spark.sql.functions.md5($"text").as("text_hash"))
    DocPipeline.processBatch(mkBatch(21L to 40L), stateDir)
    // new docs with ids BELOW the stored max: verdicts would be
    // batch-order-dependent, so the contract is enforced loudly
    val ex = intercept[IllegalArgumentException] {
      DocPipeline.processBatch(mkBatch(0L to 20L), stateDir)
    }
    assert(ex.getMessage.contains("in-order"))
    // a wholesale replay of an already-processed batch is NOT an
    // ordering violation — its rows anti-join away before the check
    val docsAfter = spark.read.parquet(AtomicSwap.dataDir(spark, s"$stateDir/docs"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    DocPipeline.processBatch(mkBatch(21L to 40L), stateDir)
    assert(spark.read.parquet(AtomicSwap.dataDir(spark, s"$stateDir/docs"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq === docsAfter)
  }

  test("a docsStore frame planned before compact returns the same rows after it") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("docpipereader").toString
    def mkBatch(ids: Seq[Long]) = graft.Tables(spark, dir, "documents")
      .filter($"doc_id".isin(ids: _*))
      .select($"doc_id", $"text", $"lang", $"source",
        org.apache.spark.sql.functions.md5($"text").as("text_hash"))
    DocPipeline.processBatch(mkBatch(0L to 20L), stateDir)
    DocPipeline.processBatch(mkBatch(21L to 40L), stateDir)
    // the frame resolves its file list now; compact publishes a new
    // generation and must leave the planned one's files in place
    val frame = DocPipeline.docsStore(spark, stateDir)
    val before = frame.collect().map(_.toSeq).sortBy(_.toString).toSeq
    DocPipeline.compact(spark, stateDir, targetFiles = 1)
    assert(frame.collect().map(_.toSeq).sortBy(_.toString).toSeq === before)
    assert(DocPipeline.docsStore(spark, stateDir)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq === before)
  }

  test("crash mid-compact (next generation written, never published) leaves readers on the live one") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("docpipeswap").toString
    def mkBatch(ids: Seq[Long]) = graft.Tables(spark, dir, "documents")
      .filter($"doc_id".isin(ids: _*))
      .select($"doc_id", $"text", $"lang", $"source",
        org.apache.spark.sql.functions.md5($"text").as("text_hash"))
    DocPipeline.processBatch(mkBatch(0L to 30L), stateDir)
    val before = DocPipeline.aggregate(spark, stateDir).collect().map(_.toSeq).toSeq
    val nDocs = DocPipeline.docsStore(spark, stateDir).count()
    // the crash: compact committed docs/g<next> (with _SUCCESS) but not
    // its manifest. The stray holds a strict subset, so a reader that
    // wrongly followed it would see history shrink.
    val live = new org.apache.hadoop.fs.Path(AtomicSwap.dataDir(spark, s"$stateDir/docs"))
    val stray = new java.io.File(s"$stateDir/docs/g${live.getName.stripPrefix("g").toInt + 1}")
    spark.read.parquet(live.toString).filter($"doc_id" <= 10L)
      .write.parquet(stray.toString)
    assert(new java.io.File(stray, "_SUCCESS").exists)
    assert(DocPipeline.aggregate(spark, stateDir).collect().map(_.toSeq).toSeq === before)
    // the next batch still sees history: its replayed rows anti-join
    // away (no re-admitted duplicates) and only the new ids land
    DocPipeline.processBatch(mkBatch(0L to 35L), stateDir)
    val ids = DocPipeline.docsStore(spark, stateDir).select("doc_id").as[Long].collect()
    assert(ids.length === ids.distinct.length, "history re-admitted")
    assert(ids.length > nDocs && ids.count(_ <= 30L) === nDocs)
    // the next compact prunes the stray
    val after = DocPipeline.aggregate(spark, stateDir).collect().map(_.toSeq).toSeq
    DocPipeline.compact(spark, stateDir, targetFiles = 1)
    assert(!stray.exists, "compact must prune the unpublished generation")
    assert(DocPipeline.aggregate(spark, stateDir).collect().map(_.toSeq).toSeq === after)
  }

  test("a duplicate text arriving in a later batch is dropped (exact stage)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(id: Long, text: String) =
      DocEvent(id, new Timestamp(base + id * 1000L), text, "en", "web")

    val stateDir = java.nio.file.Files.createTempDirectory("docpipe2").toString
    val mem = MemoryStream[DocEvent]
    val q = DocPipeline.start(mem.toDF(), stateDir)
    val txt = "the quick brown fox jumps over the lazy dog again and again today"
    try {
      mem.addData(ev(1, txt)); q.processAllAvailable()
      mem.addData(ev(2, txt)); q.processAllAvailable() // exact dup, later batch
    } finally q.stop()
    val store = spark.read.parquet(AtomicSwap.dataDir(spark, s"$stateDir/docs"))
    assert(store.count() === 1L)
    assert(store.select("doc_id").collect().head.getLong(0) === 1L)
  }

  test("incremental substring verdicts equal batch d10 over the survivor corpus, any boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def mkBatch(lo: Long, hi: Long) = graft.Tables(spark, dir, "documents")
      .filter($"doc_id" >= lo && $"doc_id" <= hi)
      .select($"doc_id", $"text", $"lang", $"source", md5($"text").as("text_hash"))
    val maxId = graft.Tables(spark, dir, "documents")
      .agg(max($"doc_id")).head().getLong(0)
    // two different batchings must agree with each other AND with batch
    // d10 run over the exact-dedup survivor corpus (the store's scope)
    def run(cuts: Seq[Long]): Map[Long, (Long, Long)] = {
      val stateDir = java.nio.file.Files.createTempDirectory("docpipewin").toString
      (Seq(-1L) ++ cuts ++ Seq(maxId)).sliding(2).foreach { case Seq(a, b) =>
        DocPipeline.processBatch(mkBatch(a + 1, b), stateDir)
      }
      DocPipeline.docsStore(spark, stateDir)
        .select("doc_id", "n_windows", "n_kept").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val inc1 = run(Seq(maxId / 3, 2 * maxId / 3))
    val inc2 = run(Seq(maxId / 5))
    assert(inc1 === inc2, "substring verdicts depend on batch boundaries")
    // batch reference: d10's substringDedup over the SAME survivor set
    val survivors = graft.Tables(spark, dir, "documents")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5($"text")).orderBy($"doc_id")))
      .filter($"rk" === 1).select($"doc_id", $"text")
    val batch = graft.queries.Dedup.substringDedup(survivors)
      .select("doc_id", "n_windows", "n_kept").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(inc1 === batch, "incremental substring dedup diverged from batch d10")
  }

  test("crash between the winfps and docs writes replays to identical verdicts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dirA = java.nio.file.Files.createTempDirectory("docpipewinA").toString
    val dirB = java.nio.file.Files.createTempDirectory("docpipewinB").toString
    def mkBatch(ids: Seq[Long]) = graft.Tables(spark, dir, "documents")
      .filter($"doc_id".isin(ids: _*))
      .select($"doc_id", $"text", $"lang", $"source", md5($"text").as("text_hash"))
    val b1 = mkBatch(0L to 20L); val b2 = mkBatch(21L to 40L)
    DocPipeline.processBatch(b1, dirA); DocPipeline.processBatch(b2, dirA)
    // crashed run: batch 2's WINFPS write lands, docs write doesn't —
    // replay must reproduce n_kept (the stored winners ARE the replayed
    // batch's own minima, so the keep-first verdicts re-match)
    DocPipeline.processBatch(b1, dirB)
    val freshB2 = b2.join(spark.read.parquet(AtomicSwap.dataDir(spark, s"$dirB/docs"))
        .select("text_hash"),
        Seq("text_hash"), "left_anti")
      .select($"doc_id", posexplode(graft.functions.Text.windowFps($"text")))
      .select($"doc_id", $"pos".cast("long").as("seq"), $"col".as("wfp"))
    val histFps = spark.read.parquet(AtomicSwap.dataDir(spark, s"$dirB/winfps")).select("wfp")
    freshB2.join(histFps, Seq("wfp"), "left_anti")
      .groupBy("wfp").agg(min(struct($"doc_id", $"seq")).as("w"))
      .select($"wfp", $"w.doc_id".as("doc_id"), $"w.seq".as("seq"))
      .write.mode("append").parquet(AtomicSwap.dataDir(spark, s"$dirB/winfps"))
    DocPipeline.processBatch(b2, dirB) // the replay
    def verdicts(d: String) = spark.read.parquet(AtomicSwap.dataDir(spark, s"$d/docs"))
      .select("doc_id", "n_windows", "n_kept").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(verdicts(dirB) === verdicts(dirA),
      "winfps-orphan crash replay changed substring verdicts")
    // compaction sweeps the duplicate winner rows
    DocPipeline.compact(spark, dirB, targetFiles = 1)
    assert(spark.read.parquet(AtomicSwap.dataDir(spark, s"$dirB/winfps"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq ===
      spark.read.parquet(AtomicSwap.dataDir(spark, s"$dirA/winfps"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq)
  }

  test("a state dir with no committed data files reads as the empty store") {
    // crash during the very first write of a store leaves the dir with
    // only _temporary — the older-layout guard must not turn that into
    // a permanent failure (r16, ADVICE): it is the empty store, and
    // replay recovers it
    val stateDir = java.nio.file.Files.createTempDirectory("dpempty").toString
    assert(new java.io.File(s"$stateDir/docs/_temporary").mkdirs())
    assert(DocPipeline.docsStore(spark, stateDir).isEmpty,
      "an uncommitted state dir should read as empty, not fail")
    // and the next batch recovers it: its first write publishes a
    // generation beside the leftover _temporary
    import spark.implicits._
    DocPipeline.processBatch(graft.Tables(spark, dir, "documents")
      .filter($"doc_id" <= 20L)
      .select($"doc_id", $"text", $"lang", $"source",
        org.apache.spark.sql.functions.md5($"text").as("text_hash")), stateDir)
    assert(!DocPipeline.docsStore(spark, stateDir).isEmpty)
  }
}
