package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Text
import graft.queries.Dedup
import graft.sources.PpIndex

/** Streaming PPJoin-index maintenance (r17): documents streamed
  * through [[IndexIngest.pp]] must produce EXACTLY the index a batch append
  * gives — including with a fully replayed batch AND with a
  * half-committed batch (the mid-job-commit crash window, where part
  * of a doc's fingerprint rows are visible) — and serving over the
  * streamed index must equal serving over the batch-appended one row
  * for row.
  */
class PpIngestSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def docsAndCut() = {
    val docs = graft.Tables(spark, dir, "documents").select("doc_id", "text")
      .localCheckpoint(eager = false)
    val cut = docs.agg(expr("percentile(doc_id, 0.75)")).head().getDouble(0).toLong
    (docs, cut)
  }

  private def shingled(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), Text.distinctShingles(col("text")).as("sh"))

  private def serve(table: String) =
    Dedup.jaccardPairsIndexed(spark, table).orderBy("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  private def baseRows(table: String) =
    PpIndex.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sorted.toSeq

  test("streamed appends (with a replayed batch) == batch append; serving identical") {
    val (docs, cut) = docsAndCut()
    val ref = "pping_ref"
    Dedup.buildPpIndexOver(spark, shingled(docs.filter(col("doc_id") <= cut)), ref)
    Dedup.appendToPpIndex(spark, ref, shingled(docs.filter(col("doc_id") > cut)))

    val str = "pping_str"
    Dedup.buildPpIndexOver(spark, shingled(docs.filter(col("doc_id") <= cut)), str)
    val rest = docs.filter(col("doc_id") > cut).orderBy("doc_id").collect()
    val chunks = rest.grouped(math.max(1, rest.length / 3)).toSeq
    for ((chunk, i) <- chunks.zipWithIndex) {
      import spark.implicits._
      val b = chunk.toSeq.map(r => (r.getLong(0), r.getString(1)))
        .toDF("doc_id", "text")
      IndexIngest.processBatch(b, IndexIngest.pp(str))
      if (i == 1) IndexIngest.processBatch(b, IndexIngest.pp(str)) // at-least-once replay
    }

    assert(baseRows(str) === baseRows(ref),
      "streamed base rows diverged from the batch append")
    assert(serve(str) === serve(ref),
      "serving over the streamed index diverged")
  }

  test("half-committed batch (partial job commit) replays to the identical index") {
    // One append job scatters a doc's fingerprints across bucket
    // files; a crash inside the job-commit window can leave only PART
    // of the batch's rows visible. Simulate exactly that state by
    // appending a deterministic half of the batch's RANKED rows, then
    // replay the full batch through processBatch: row-level absorption
    // must top up only the missing rows (same rk/n — ranking under the
    // frozen order is deterministic), reassembling the clean append.
    val (docs, cut) = docsAndCut()
    val rest = docs.filter(col("doc_id") > cut)

    val ref = "pping_ref2"
    Dedup.buildPpIndexOver(spark, shingled(docs.filter(col("doc_id") <= cut)), ref)
    Dedup.appendToPpIndex(spark, ref, shingled(rest))

    val crashed = "pping_crash"
    Dedup.buildPpIndexOver(spark, shingled(docs.filter(col("doc_id") <= cut)), crashed)
    val ranked = Dedup.rankUnderFrozenOrder(spark, crashed, shingled(rest))
      .localCheckpoint(eager = false)
    PpIndex.append(ranked.filter(pmod(hash(col("s")), lit(2)) === 0),
      spark, crashed)
    IndexIngest.processBatch(rest, IndexIngest.pp(crashed))

    assert(baseRows(crashed) === baseRows(ref),
      "half-committed replay produced different base rows than a clean append")
    assert(serve(crashed) === serve(ref),
      "half-committed replay produced different pairs than a clean append")
  }
}
