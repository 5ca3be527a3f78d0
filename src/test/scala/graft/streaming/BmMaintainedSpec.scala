package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.SparkSpec
import graft.queries.TextAnalysis

/** The BM25 maintenance loop (r20, verdict ask #1 — the v15 pattern
  * applied to the search family): [[IndexIngest.bm25Maintained]] appends
  * per micro-batch under frozen statistics, thresholds the drift
  * probe, and rebuilds with REFRESHED `_df`/`_stats` inside
  * `foreachBatch`. Pinned here, on a corpus where staleness is
  * RANKING-VISIBLE by construction:
  *
  *  - frozen ≠ refreshed top-1 on a planted df shift (the appended
  *    volume floods one query term's document frequency, collapsing
  *    its idf — the refreshed index must demote the doc the frozen
  *    index still ranks first);
  *  - the refreshed artifact serves a fresh full-corpus build's
  *    scores bit-for-bit (the rebuild's statistics ARE the
  *    full-corpus statistics — the t22 gate's oracle-exactness
  *    argument);
  *  - a reader pinned pre-stream keeps serving the bootstrap content
  *    across the swap, and retain=2 lets it span TWO in-stream
  *    rebuilds (the r20 retention dial, plumbed through
  *    [[TextAnalysis.rebuildBm25Index]]);
  *  - the avgdl-drift dial fires at modest volume when appended doc
  *    LENGTHS move the normalizer (the second way frozen stats rot);
  *  - the rebuild is idempotent — a second rebuild moves nothing.
  */
class BmMaintainedSpec extends SparkSpec {

  import spark.implicits._

  private val Q = Seq("aterm", "bterm")

  // doc 0 is the aterm doc (tf 4), doc 1 the bterm doc (tf 3), 8
  // filler docs. Under bootstrap stats (df_a = df_b = 1) doc 0 ranks
  // first; flooding aterm's df demotes it below doc 1 once refreshed.
  private def bootDocs = (
    Seq((0L, "aterm aterm aterm aterm filler"),
        (1L, "bterm bterm bterm filler")) ++
      (2L until 10L).map(i => (i, "filler filler filler filler"))
  ).toDF("doc_id", "text")

  private def floodDocs(n: Int) =
    (10L until (10L + n)).map(i => (i, "aterm filler")).toDF("doc_id", "text")

  private def bits(df: DataFrame) = df.collect().map(r =>
    (r.getLong(0), r.getInt(1), r.getInt(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq

  private def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Stage `docs` as `files` parquet files and run the maintained
    * ingest against the index at `path`; returns the rebuild count.
    */
  private def runMaintained(docs: DataFrame, path: String, files: Int,
      threshold: Double, avgdlThreshold: Double = Double.MaxValue,
      retain: Int = 1): Int = {
    val root = scratch("bmm-stream")
    val stage = root + "/stage"
    val ck = root + "/ck"
    docs.repartition(files).write.mode("overwrite").parquet(stage)
    val rebuilds = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = IndexIngest.start(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage),
      IndexIngest.bm25Maintained(path, threshold = threshold,
        avgdlThreshold = avgdlThreshold,
        onRebuild = () => { rebuilds.incrementAndGet(); () }, retain = retain),
      checkpointDir = Some(ck))
    q.processAllAvailable()
    q.stop()
    rebuilds.get()
  }

  test("the in-stream rebuild refreshes statistics: frozen != refreshed " +
      "top-1 on the planted df shift, and the refreshed index serves a " +
      "fresh full-corpus build bit-for-bit") {
    // FROZEN path: bootstrap + append, no maintenance — doc 0 stays top
    val frozen = scratch("bmm-frozen") + "/idx"
    TextAnalysis.buildBm25IndexOver(spark, bootDocs, frozen)
    TextAnalysis.appendToBm25Index(spark, frozen, floodDocs(50))
    val frozenTop = TextAnalysis.bm25Indexed(spark, frozen, Q, k = 3)
      .head().getLong(0)
    assert(frozenTop === 0L,
      "under frozen bootstrap stats the aterm doc must still rank first")

    // MAINTAINED path: same stream, one batch, policy fires (50/60)
    val path = scratch("bmm-maint") + "/idx"
    TextAnalysis.buildBm25IndexOver(spark, bootDocs, path)
    val n = runMaintained(floodDocs(50), path, files = 1, threshold = 0.5)
    assert(n === 1, s"the policy must fire exactly once, got $n")
    val served = TextAnalysis.bm25Indexed(spark, path, Q, k = 3)
    assert(served.head().getLong(0) === 1L,
      "refreshed idf must demote the flooded term's doc below the bterm doc")
    assert(frozenTop !== served.head().getLong(0),
      "staleness must be ranking-visible: frozen and refreshed disagree")

    // and the refreshed artifact == a fresh full-corpus build, raw bits
    val full = scratch("bmm-full") + "/idx"
    TextAnalysis.buildBm25IndexOver(spark, bootDocs.union(floodDocs(50)), full)
    assert(bits(served) === bits(TextAnalysis.bm25Indexed(spark, full, Q, k = 3)),
      "the refreshed statistics must BE the full-corpus statistics")
  }

  test("a reader pinned pre-stream keeps serving bootstrap content " +
      "across the swap; retain=2 spans two in-stream rebuilds") {
    val path = scratch("bmm-pin") + "/idx"
    TextAnalysis.buildBm25IndexOver(spark, bootDocs, path)
    val pinned = TextAnalysis.bm25Indexed(spark, path, Q, k = 3)
    val pre = bits(pinned)
    // two files, threshold 0.4: batch 1 fires (25/35 ~ 0.71), batch 2
    // fires again (25/60 ~ 0.42 over the refreshed baseline) — two
    // generation publishes past the pin
    val n = runMaintained(floodDocs(50), path, files = 2, threshold = 0.4,
      retain = 2)
    assert(n === 2, s"both batches must fire the policy, got $n")
    assert(bits(pinned) === pre,
      "retain=2 must keep the pinned bootstrap generation serving " +
        "bit-for-bit across two rebuild swaps")
  }

  test("the avgdl-drift dial fires at modest appended volume when doc " +
      "lengths move the normalizer") {
    val path = scratch("bmm-drift") + "/idx"
    TextAnalysis.buildBm25IndexOver(spark, bootDocs, path)
    // 2 long docs over 10: appended_frac ~ 0.17 stays under 0.5, but
    // avgdl jumps 4.1 -> ~20 (drift ~ 3.9) — the shape dial fires
    val longDocs = Seq(
      (10L, Seq.fill(100)("filler").mkString(" ")),
      (11L, Seq.fill(100)("filler").mkString(" "))).toDF("doc_id", "text")
    val n = runMaintained(longDocs, path, files = 1, threshold = 0.5,
      avgdlThreshold = 1.0)
    assert(n === 1, s"the avgdl dial must fire the rebuild, got $n")
    // refreshed stats: the probe's baseline reset to the new corpus
    val probe = graft.sources.BmIndex.driftProbe(spark, path).head()
    assert(probe.getAs[Double]("appended_frac") === 0.0)
    assert(probe.getAs[Double]("avgdl_drift") === 0.0)
  }

  test("rebuild is idempotent: a second rebuild moves nothing") {
    val path = scratch("bmm-idem") + "/idx"
    TextAnalysis.buildBm25IndexOver(spark, bootDocs, path)
    TextAnalysis.appendToBm25Index(spark, path, floodDocs(20))
    TextAnalysis.rebuildBm25Index(spark, path)
    val once = bits(TextAnalysis.bm25Indexed(spark, path, Q, k = 5))
    TextAnalysis.rebuildBm25Index(spark, path)
    assert(bits(TextAnalysis.bm25Indexed(spark, path, Q, k = 5)) === once,
      "a rebuild of an already-rebuilt index must be a fixed point")
  }
}
