package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Persisted BM25 search index (r15) — t14's corpus derivations as an
  * on-disk artifact instead of two in-query corpus passes: the
  * [[IvfIndex]]/[[PqIndex]] treatment applied to the search family.
  *
  * One [[AtomicSwap]] artifact at `path`, four parts published under
  * one manifest:
  *
  *  - main — the postings (term, doc_id, tf), written
  *    `partitionBy(pbkt)` where pbkt = charFp(term) mod [[Buckets]]:
  *    a k-term query computes its terms' buckets DRIVER-SIDE (the
  *    portable hash has a Scala twin) and pushes them as an explicit
  *    `isin` → static PartitionFilters, so the posting fetch reads
  *    ≤ k of the bucket directories, never the corpus. Directory
  *    pruning, not table bucketing, deliberately: bucket-filter
  *    pruning rides the planner's DisableUnnecessaryBucketedScan
  *    mood (observed disabled for filter-only plans), while partition
  *    pruning is structural — the same reasoning as [[IvfIndex]].
  *  - `doclens` — (doc_id, dl): the narrow per-doc length relation
  *    the scorer joins.
  *  - `df` / `stats` — the FROZEN ranking
  *    statistics (per-term document frequency; corpus size and total
  *    length). Frozen is load-bearing for [[append]]: BM25's
  *    idf/avgdl are global, so scoring appended docs under build-time
  *    statistics is the standard stale-index serving contract every
  *    search engine runs between rebuilds — appends change WHICH docs
  *    are scored, never how already-indexed docs score
  *    (Bm25IndexSpec pins old-doc score invariance across appends).
  *    Rebuild to refresh statistics — the same "retraining is a
  *    rebuild" split as the ANN indexes.
  */
object BmIndex {

  /** Posting-directory fan-out. 64 directories ≈ k/64 of the bytes per
    * k-term query at any corpus size (each directory just holds more
    * files at scale — the IvfIndex argument).
    */
  val Buckets = 64

  /** The bucket of one term — driver-side twin of the pbkt column
    * (same portable hash, same mod).
    */
  def bucketOf(term: String): Long = {
    val m = Text.charFpStr(term) % Buckets
    if (m < 0) m + Buckets else m
  }

  /** Build or rebuild the index: all four parts as new generations,
    * published once ([[AtomicSwap.writeParts]]), so a rebuild-over-live
    * never pairs new postings with old statistics. `retain` (r20) is
    * the snapshot-expiry dial a REBUILD-over-live plumbs through: a
    * reader pinned before rebuild N survives until its generation falls
    * off the retain horizon, all four parts aging together.
    */
  def write(postings: DataFrame, doclens: DataFrame, path: String,
      retain: Int = 1): Unit =
    AtomicSwap.writeParts(postings.sparkSession, path, retain)(
      AtomicSwap.Main -> (gen => writePostings(postings, gen, "overwrite")),
      "doclens" -> (gen => doclens.select("doc_id", "dl")
        .write.mode("overwrite").parquet(gen)),
      "df" -> (gen => postings.groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(gen)),
      "stats" -> (gen => doclens
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .repartition(1).write.mode("overwrite").parquet(gen)))

  /** Write (term, doc_id, tf) rows bucket-partitioned into `dir`,
    * repartitioned on the partition column first — partitionBy alone
    * fans every task into every directory (the PqIndex 5120-file trap).
    */
  private def writePostings(postings: DataFrame, dir: String, mode: String): Unit =
    postings.select(col("term"), col("doc_id"), col("tf"),
        pmod(Text.charFp(col("term")), lit(Buckets.toLong)).as("pbkt"))
      .repartition(col("pbkt"))
      .write.mode(mode).partitionBy("pbkt").parquet(dir)

  /** The postings restricted to `qterms` — the terms' buckets pushed
    * as a static `isin` (PartitionFilters: read only those
    * directories), the term equality as an ordinary pushed filter
    * inside them.
    */
  def postingsFor(spark: SparkSession, path: String,
      qterms: Seq[String]): DataFrame =
    postingsForBuckets(spark, path, qterms.map(t => bucketOf(t).toInt).distinct)
      .filter(col("term").isin(qterms: _*))

  /** The postings restricted to a BUCKET list only — the static
    * partition prune without the per-term pushed filter (r17): the
    * relation-native batch path ([[graft.queries.TextAnalysis
    * .bm25BatchRel]]) knows its terms' buckets (≤ [[Buckets]] values,
    * a bounded collect at ANY batch size) but may carry more distinct
    * terms than an `isin` literal list should hold — there the
    * query-relation join does the term restriction at runtime.
    */
  def postingsForBuckets(spark: SparkSession, path: String,
      bkts: Seq[Int]): DataFrame = {
    // INT literals to match the inferred partition-directory type —
    // a cast between the column and the isin list would sit between
    // the filter and PartitionFilters. dataDir resolves the current
    // generation through the manifest (r17) — the scan's file snapshot
    // survives a concurrent compact.
    spark.read.parquet(AtomicSwap.dataDir(spark, path))
      .filter(col("pbkt").isin(bkts: _*))
      .select("term", "doc_id", "tf")
  }

  /** The FULL posting relation (term, doc_id, tf) — the rebuild path's
    * source (r20): a statistics refresh re-derives `df` from every
    * posting row, so unlike the serving entries it reads all bucket
    * directories. Crash-window duplicate rows (see [[append]]) are NOT
    * collapsed here — the caller dedups per (term, doc_id), the same
    * max() convention every consumer applies.
    */
  def postingsAll(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(AtomicSwap.dataDir(spark, path))
      .select("term", "doc_id", "tf")

  def doclens(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(AtomicSwap.dataDir(spark, path, "doclens"))

  def dfRel(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(AtomicSwap.dataDir(spark, path, "df"))

  def stats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(AtomicSwap.dataDir(spark, path, "stats"))

  /** Append new docs' postings + lengths into the partitioned layout;
    * `df`/`stats` stay FROZEN (see the class note). One narrow pass
    * over the new rows, existing files untouched, one manifest bump.
    *
    * The two writes are separate jobs, NOT atomic together, and replay
    * absorption (the [[graft.streaming.IndexIngest]] anti-join and
    * `appendToBm25Index`'s dup guard) keys on DOCLENS — so a crash in
    * the window between them leaves this batch's postings durable with
    * no doclens rows, and the replayed batch re-appends the SAME
    * posting rows (r16, ADVICE). Posting order is therefore load-
    * bearing: postings FIRST, so the only reachable duplicate state is
    * exact-copy posting rows — which every consumer collapses by
    * aggregating per-(doc, term) tf with max() instead of sum()
    * (duplicates are bit-identical rows; max is idempotent where sum
    * silently doubles tf). The BM25 ingest spec pins the partial-crash
    * replay.
    */
  def append(postingsNew: DataFrame, doclensNew: DataFrame,
      path: String): Unit = {
    val spark = postingsNew.sparkSession
    // resolve each part's generation ONCE and commit against them —
    // commitAppend fails loudly if a compact raced the append (r18,
    // ADVICE: writers must be serialized; only readers are compact-safe)
    val postDir = AtomicSwap.dataDir(spark, path)
    val dlDir = AtomicSwap.dataDir(spark, path, "doclens")
    writePostings(postingsNew, postDir, "append")
    doclensNew.select("doc_id", "dl")
      .write.mode("append").parquet(dlDir)
    // manifest bump last (r17): the durable record that BOTH halves of
    // the append committed
    AtomicSwap.commitAppend(spark, path, postDir, dlDir)
  }

  /** Staleness probe for the frozen ranking statistics (r16, verdict
    * ask #6): one row `(n_docs_frozen, n_docs_now, appended_frac,
    * avgdl_frozen, avgdl_now, avgdl_drift)` a maintenance job can
    * threshold to decide WHEN "rebuild when it drifts past budget"
    * fires. BM25's global stats (idf's N, length-normalization's
    * avgdl) are frozen at build, so appended volume skews scores two
    * ways: every idf is computed against a smaller N than reality, and
    * dl/avgdl normalizes against the build-time average length. The
    * probe reads ONLY the narrow doclens relation + the one-row stats
    * part — never the postings, never the corpus text.
    */
  def driftProbe(spark: SparkSession, path: String): DataFrame = {
    val cur = doclens(spark, path)
      .agg(count(lit(1)).as("n_docs_now"), sum(col("dl")).as("sum_dl_now"))
    stats(spark, path).crossJoin(cur)
      .select(
        col("n_docs").as("n_docs_frozen"), col("n_docs_now"),
        ((col("n_docs_now") - col("n_docs")).cast("double") / col("n_docs_now"))
          .as("appended_frac"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl_frozen"),
        (col("sum_dl_now").cast("double") / col("n_docs_now")).as("avgdl_now"),
        abs((col("sum_dl_now").cast("double") / col("n_docs_now")) /
          (col("sum_dl").cast("double") / col("n_docs")) - lit(1.0))
          .as("avgdl_drift"))
  }

  /** Rewrite postings back to one file per bucket directory and the
    * doclens relation to `doclensFiles` files (r16, verdict ask #2 —
    * the maintenance companion to [[append]] behind [[graft.streaming
    * .IndexIngest]]): every micro-batch appends up to [[Buckets]] posting
    * files plus one doclens file, so a long-running stream accretes
    * tiny files and the per-query posting fetch opens batches × files.
    * Rows are untouched, and the frozen `df`/`stats` parts are not
    * rewritten: the one manifest publish carries their generations
    * over (Bm25IndexSpec pins row identity and the file-count
    * collapse). Generation-based ([[AtomicSwap.writeParts]], r17): the
    * rewrite reads the current generations straight from the durable
    * source into the NEXT ones and publishes one manifest naming them —
    * never an overwrite-in-place, and safe to run concurrently with
    * READERS (a reader that resolved the old generation keeps complete
    * files until the compact after this one). WRITERS are not: append
    * and compact must still be serialized — a racing append writes
    * into a generation this rewrite's snapshot never saw, which the
    * next compact prunes. [[AtomicSwap.commitAppend]] detects that
    * race and fails the append loudly (r18, ADVICE).
    */
  def compact(spark: SparkSession, path: String, doclensFiles: Int = 8): Unit = {
    val src = spark.read.parquet(AtomicSwap.dataDir(spark, path))
    val srcDl = doclens(spark, path)
    AtomicSwap.writeParts(spark, path)(
      AtomicSwap.Main -> (gen => src.select("term", "doc_id", "tf", "pbkt")
        .repartition(col("pbkt"))
        .write.mode("overwrite").partitionBy("pbkt").parquet(gen)),
      "doclens" -> (gen => srcDl.repartition(doclensFiles)
        .write.mode("overwrite").parquet(gen)))
  }
}
