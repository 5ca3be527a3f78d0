package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Similarity
import graft.sources.{IvfIndex, PqIndex}

/** One embedding event on the ingest stream. */
case class VecEvent(vec_id: Long, label: Int, embedding: Seq[Float])

/** Streaming vector-index maintenance (r15): vectors streamed through
  * [[IndexIngest]] (IVFADC, float IVF) must land in EXACTLY the index a
  * batch append-over-the-same-artifacts produces, replayed batches must be
  * absorbed (at-least-once → exactly-once index content), and a killed
  * stream resumed from its checkpoint must converge to the same index.
  */
class VecIngestSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def cmap(p: String) = PqIndex.read(spark, p)
    .select("vec_id", "c_id", "pq").collect()
    .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2).toList)).toMap

  test("replayed batches are absorbed; streamed index == batch append") {
    val base = java.nio.file.Files.createTempDirectory("vecingest").toString
    val emb = graft.Tables(spark, dir, "embeddings")
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut = maxId / 2

    // bootstrap: build over the first half (freezes the codebook)
    val halfDir = s"$base/halfdata"
    emb.filter(col("vec_id") <= cut).write.parquet(s"$halfDir/embeddings.parquet")
    def bootstrap(p: String): Unit =
      graft.queries.Similarity.buildIvfAdcIndex(spark, halfDir, p)

    // reference: one batch append of the whole second half
    val ref = s"$base/ref"
    bootstrap(ref)
    graft.queries.Similarity.appendToIvfAdcIndex(
      spark, emb.filter(col("vec_id") > cut), ref)
    val expected = cmap(ref)

    // streamed: three chunks with the SECOND chunk fully replayed
    // (at-least-once semantics) — processBatch must absorb it
    val streamed = s"$base/streamed"
    bootstrap(streamed)
    val rest = emb.filter(col("vec_id") > cut)
      .select("vec_id", "label", "embedding").orderBy("vec_id").collect()
    val chunks = rest.grouped(math.max(1, rest.length / 3)).toSeq
    def stream(target: IndexIngest.Target): Unit =
      for ((chunk, i) <- chunks.zipWithIndex) {
        import spark.implicits._
        val b = chunk.toSeq
          .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
          .toDF("vec_id", "label", "embedding")
        IndexIngest.processBatch(b, target)
        if (i == 1) IndexIngest.processBatch(b, target) // crash replay
      }
    stream(IndexIngest.ivfAdc(streamed))
    assert(cmap(streamed) === expected,
      "streamed ingest diverged from the batch append")

    // the float IVF family through the same chunks and replay, against
    // one Similarity.appendToIvfIndex batch append under the same book
    val book = Similarity.ivfTrain(spark, halfDir, nlist = 16, iters = 1)
    def ivfBootstrap(p: String): Unit = IvfIndex.writeWithCodebook(
      Similarity.ivfAssignWith(spark, halfDir, book), book, p)
    // a Seq, not a Map: a replay that slipped through shows as a
    // duplicated vec_id
    def ivfRows(p: String) = IvfIndex.read(spark, p)
      .select("vec_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val ivfRef = s"$base/ivfref"
    ivfBootstrap(ivfRef)
    Similarity.appendToIvfIndex(spark, emb.filter(col("vec_id") > cut), ivfRef)
    val ivfStreamed = s"$base/ivfstreamed"
    ivfBootstrap(ivfStreamed)
    // threshold 1.0 never fires: appended/(frozen+appended) < 1
    stream(IndexIngest.ivfMaintained(ivfStreamed, threshold = 1.0,
      retrain = _ => fail("the rebuild policy must not fire")))
    assert(ivfRows(ivfStreamed) === ivfRows(ivfRef),
      "streamed IVF ingest diverged from the batch append")
  }

  test("appends count their own write: a replayed batch writes and records nothing") {
    val base = java.nio.file.Files.createTempDirectory("vecingestcount").toString
    val emb = graft.Tables(spark, dir, "embeddings")
    val cut = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    val halfDir = s"$base/halfdata"
    emb.filter(col("vec_id") <= cut).write.parquet(s"$halfDir/embeddings.parquet")
    val book = Similarity.ivfTrain(spark, halfDir, nlist = 16, iters = 0)
    val idx = s"$base/idx"
    IvfIndex.writeWithCodebook(Similarity.ivfAssignWith(spark, halfDir, book), book, idx)
    val t = IndexIngest.ivfMaintained(idx, threshold = 1.0,
      retrain = _ => fail("the rebuild policy must not fire"))
    def ids(lo: Long, hi: Long) = emb.filter(col("vec_id") > cut + lo &&
      col("vec_id") <= cut + hi).select("vec_id", "label", "embedding")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(): (Seq[String], Seq[String]) = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(idx), true)
      val all = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .toSeq
      (all.filter(_.getName.startsWith("part-")).map(_.toString).sorted,
        all.filter(_.getName.startsWith("mf-")).map(_.getName).sorted)
    }

    val first = ids(0, 10)
    assert(IndexIngest.processBatch(first, t) === first.count())
    val (files, manifests) = listing()
    val drift = t.drift
    // the replay: every row is already in the store
    assert(IndexIngest.processBatch(first, t) === 0L)
    assert(listing() === (files, manifests),
      "an empty append must leave no data file and no manifest bump")
    assert(t.drift === drift, "an empty append must not move the drift state")
    // half present: only the new half is written and counted
    val newRows = ids(10, 17).count()
    assert(IndexIngest.processBatch(ids(5, 17), t) === newRows)
    assert(t.drift === (drift._1, drift._2 + newRows))
    assert(listing()._2 !== manifests, "a non-empty append bumps the manifest")
    assert(IvfIndex.read(spark, idx).count() ===
      emb.filter(col("vec_id") <= cut + 17).count())
  }

  test("kill mid-stream, resume from checkpoint: index converges to the batch append") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("vecingestkill").toString
    val emb = graft.Tables(spark, dir, "embeddings")
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut = maxId / 2
    val halfDir = s"$base/halfdata"
    emb.filter(col("vec_id") <= cut).write.parquet(s"$halfDir/embeddings.parquet")
    val idx = s"$base/idx"
    graft.queries.Similarity.buildIvfAdcIndex(spark, halfDir, idx)
    val ref = s"$base/ref"
    graft.queries.Similarity.buildIvfAdcIndex(spark, halfDir, ref)
    graft.queries.Similarity.appendToIvfAdcIndex(
      spark, emb.filter(col("vec_id") > cut), ref)

    val rest = emb.filter(col("vec_id") > cut)
      .select("vec_id", "label", "embedding").orderBy("vec_id").collect()
      .map(r => VecEvent(r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    val ckpt = s"$base/ckpt"
    val mem1 = MemoryStream[VecEvent]
    val q1 = IndexIngest.start(mem1.toDF(), IndexIngest.ivfAdc(idx), Some(ckpt))
    try {
      mem1.addData(rest.take(rest.length / 2).toSeq)
      q1.processAllAvailable()
    } finally q1.stop() // kill

    val mem2 = MemoryStream[VecEvent]
    mem2.addData(rest.toSeq) // the full tail re-offered on resume
    val q2 = IndexIngest.start(mem2.toDF(), IndexIngest.ivfAdc(idx), Some(s"$base/ckpt2"))
    try q2.processAllAvailable() finally q2.stop()

    assert(cmap(idx) === cmap(ref),
      "kill/resume ingest diverged from the batch append")
  }
}
