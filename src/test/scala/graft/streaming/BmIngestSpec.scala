package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.TextAnalysis

/** Streaming BM25 maintenance (r15): documents streamed through
  * [[IndexIngest.bm25]] must produce EXACTLY the index a batch append gives —
  * including with a fully replayed batch (at-least-once absorption) —
  * and serving over the streamed index must equal serving over the
  * batch-appended one row for row.
  */
class BmIngestSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private val qterms = Seq("dup", "vector", "spark")

  test("streamed appends (with a replayed batch) == batch append; serving identical") {
    val base = java.nio.file.Files.createTempDirectory("bmingest").toString
    val docs = graft.Tables(spark, dir, "documents").select("doc_id", "text")
      .localCheckpoint(eager = false)
    val cut = docs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0).toLong

    // reference: bootstrap on the first half + one batch append
    val ref = s"$base/ref"
    TextAnalysis.buildBm25IndexOver(spark, docs.filter(col("doc_id") <= cut), ref)
    TextAnalysis.appendToBm25Index(spark, ref, docs.filter(col("doc_id") > cut))

    // streamed: same bootstrap, three chunks, second chunk replayed
    val streamed = s"$base/streamed"
    TextAnalysis.buildBm25IndexOver(spark, docs.filter(col("doc_id") <= cut), streamed)
    val rest = docs.filter(col("doc_id") > cut).orderBy("doc_id").collect()
    val chunks = rest.grouped(math.max(1, rest.length / 3)).toSeq
    for ((chunk, i) <- chunks.zipWithIndex) {
      import spark.implicits._
      val b = chunk.toSeq.map(r => (r.getLong(0), r.getString(1)))
        .toDF("doc_id", "text")
      IndexIngest.processBatch(b, IndexIngest.bm25(streamed))
      if (i == 1) IndexIngest.processBatch(b, IndexIngest.bm25(streamed)) // crash replay
    }

    def serve(p: String) = TextAnalysis.bm25Indexed(spark, p, qterms, k = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getDouble(4))).toSeq
    assert(serve(streamed) === serve(ref),
      "streamed BM25 index diverged from the batch append")
  }

  test("partial-crash append (postings durable, doclens missing) replays to identical scores") {
    // BmIndex.append writes postings then doclens as two non-atomic
    // jobs, and replay absorption keys on doclens — so a crash in the
    // window leaves the batch's postings durable and the replay
    // re-appends them as exact copies (r16, ADVICE). The consumers'
    // per-(doc, term) max() must collapse the duplicates so scores
    // match a clean single append.
    val base = java.nio.file.Files.createTempDirectory("bmpartial").toString
    val docs = graft.Tables(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text").localCheckpoint(eager = false)
    val cut = docs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0).toLong
    val prefix = docs.filter(col("doc_id") <= cut)
    val rest = docs.filter(col("doc_id") > cut)

    val ref = s"$base/ref"
    TextAnalysis.buildBm25IndexOver(spark, prefix, ref)
    TextAnalysis.appendToBm25Index(spark, ref, rest)

    val crashed = s"$base/crashed"
    TextAnalysis.buildBm25IndexOver(spark, prefix, crashed)
    // append, then roll back ONLY the doclens half = the crash state:
    // delete the data files the append added to the doclens part
    val dlDir = new java.io.File(
      graft.sources.AtomicSwap.dataDir(spark, crashed, "doclens"))
    val beforeFiles = dlDir.listFiles().map(_.getName).toSet
    TextAnalysis.appendToBm25Index(spark, crashed, rest)
    val added = dlDir.listFiles().filterNot(f => beforeFiles(f.getName))
    assert(added.exists(_.getName.endsWith(".parquet")),
      "the append must have added doclens data files to roll back")
    added.foreach(_.delete())
    // replay the whole batch, as at-least-once foreachBatch would
    IndexIngest.processBatch(rest, IndexIngest.bm25(crashed))
    // the crash state was reached: the replay re-appended postings the
    // first append had already made durable
    assert(graft.sources.BmIndex.postingsAll(spark, crashed)
        .groupBy("term", "doc_id").count().filter(col("count") > 1)
        .limit(1).count() === 1,
      "the replay must leave duplicate (term, doc_id) posting rows")

    def serve(p: String) = TextAnalysis.bm25Indexed(spark, p, qterms, k = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getDouble(4))).toSeq
    assert(serve(crashed) === serve(ref),
      "partial-crash replay produced different scores than a clean append")
  }
}
