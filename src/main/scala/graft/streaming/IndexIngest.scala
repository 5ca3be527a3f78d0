package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Text
import graft.queries.{Dedup, Similarity, TextAnalysis}
import graft.sources.{BmIndex, IvfIndex, PpIndex, PqIndex}

/** Streaming maintenance for the persisted index families — the
  * DocPipeline pattern with one `foreachBatch` loop for all of them.
  * Rows arrive as a stream; each micro-batch is prepared into the
  * store's shape, anti-joined on the family's key against the live
  * store, and appended through the same write half the family's batch
  * append runs (so placement is exactly a batch append's: the ingest
  * specs pin stream == batch append). The write is the batch's one job:
  * the write half counts the rows it wrote as a side output of that
  * write ([[graft.sources.AtomicSwap.countedWrite]]) instead of running
  * a count or an emptiness probe first, and records the append only
  * when rows landed — a batch whose rows all anti-join away writes no
  * file and bumps no manifest or pointer. A
  * [[Target]] holds only what differs between families; the loop never
  * asks which family it serves. The index must exist before the stream
  * starts: its frozen inputs (codebooks, BM25 ranking statistics,
  * PPJoin's df order) are fixed at that build and never retrained by an
  * append — retraining is a rebuild.
  *
  * Crash safety (at-least-once `foreachBatch`): the anti-join is the
  * idempotent sink. A replayed batch drops the keys that already
  * landed and tops up only the missing remainder, so a crash before,
  * inside or after an append replays to the same index (task-committed
  * files are the unit of partial progress). The batch appends' loud
  * disjointness guard stays for direct API callers; the loop's rows are
  * already filtered, so it never needs it.
  *
  * Maintained targets (IVF, BM25) also rebuild in place when their
  * drift policy fires. The policy state is re-derived FROM THE STORE at
  * the first batch after any (re)start — the store is the truth — and
  * then tracked arithmetically from the appended counts, so no batch
  * re-scans the store for drift. A crash after a rebuild
  * restarts below threshold and the replayed batch, whose rows
  * anti-join away, does not re-fire it; a crash before restarts above
  * threshold and the replay fires it as the original run would have.
  * Writers are serialized by construction (SCALE.md regime 1): the
  * rebuild runs inside `foreachBatch`, and micro-batches are serial.
  * Readers need nothing: a plan pinned before a rebuild keeps its
  * resolved generation for a full retention cycle.
  */
object IndexIngest {

  /** One index family as the loop sees it. Build one per stream:
    * [[open]] runs at its first batch and loads what the later batches
    * reuse (frozen inputs, drift state).
    */
  abstract class Target(val key: String*) {
    private[IndexIngest] var opened = false
    /** The batch in the store's row shape (default: as it arrives). */
    def prepare(batch: DataFrame): DataFrame = batch
    /** The store's live rows; the anti-join reads only [[key]]. */
    def live(s: SparkSession): DataFrame
    /** Load the write half's frozen inputs (and drift state). */
    def open(s: SparkSession): Unit
    /** The write half, for rows whose keys the loop proved new;
      * returns how many rows it appended.
      */
    def append(fresh: DataFrame): Long
    /** Whether the drift policy calls for a rebuild now. */
    def due: Boolean = false
    def rebuild(s: SparkSession): Unit = ()
  }

  /** One micro-batch — the body [[start]] runs for every batch.
    * Returns the number of rows it appended.
    */
  def processBatch(batch: DataFrame, t: Target): Long = {
    val s = batch.sparkSession
    if (!t.opened) { t.open(s); t.opened = true }
    val n = t.append(t.prepare(batch)
      .join(t.live(s).select(t.key.map(col): _*), t.key, "left_anti"))
    if (t.due) t.rebuild(s)
    n
  }

  /** Start the ingest of `stream` into `t`. Pass `checkpointDir` to make
    * the query restartable: a killed stream resumed from the same
    * checkpoint re-reads exactly the unprocessed offsets plus at most
    * one replayed batch, which the anti-join absorbs.
    */
  def start(stream: DataFrame, t: Target,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => processBatch(batch, t); () }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }

  /** IVFADC ([[Similarity.buildIvfAdcIndex]]): rows of the embeddings
    * shape encode under the frozen PQ codebook and coarse book, which
    * are collected once per stream.
    */
  def ivfAdc(path: String): Target = new Target("vec_id") {
    private var write: DataFrame => Long = _
    def live(s: SparkSession): DataFrame = PqIndex.read(s, path)
    def open(s: SparkSession): Unit = write = Similarity.ivfAdcAppendWriter(s, path)
    def append(fresh: DataFrame): Long = write(fresh)
  }

  /** Float IVF ([[IvfIndex.writeWithCodebook]]), maintained: rows of
    * the embeddings shape assign under the frozen codebook (collected
    * once, and again after each rebuild); when the appended fraction
    * exceeds `threshold`, rebuild in place under `retrain`'s codebook
    * ([[Similarity.rebuildIvfIndex]]). Deterministic trainers keep the
    * final artifact independent of where batch boundaries fell, since
    * appended placement under a loaded book is bit-reproducible.
    * `onRebuild` is a driver-side hook (the v15 gate counts policy
    * firings through it).
    */
  def ivfMaintained(path: String, threshold: Double,
      retrain: SparkSession => DataFrame,
      onRebuild: () => Unit = () => ()): IvfMaintained =
    new IvfMaintained(path, threshold, retrain, onRebuild)

  /** The [[ivfMaintained]] target. */
  final class IvfMaintained private[IndexIngest] (path: String,
      threshold: Double, retrain: SparkSession => DataFrame,
      onRebuild: () => Unit) extends Target("vec_id") {
    private var book: Seq[(Long, Seq[Double], Double)] = _
    // (n_frozen, n_now − n_frozen): appended/(frozen+appended) is the
    // drift probe's (n_now − n_frozen)/n_now exactly
    private var frozen = 0L
    private var appended = 0L
    def live(s: SparkSession): DataFrame = IvfIndex.read(s, path)
    def open(s: SparkSession): Unit = {
      val d = IvfIndex.driftProbe(s, path).select("n_frozen", "n_now").head()
      frozen = d.getLong(0)
      appended = d.getLong(1) - frozen
      // fail FAST on an empty bootstrap (r20 ADVICE): frozen = 0
      // with an empty store makes appended/(frozen+appended) NaN
      // and the rebuild threshold silently never fires.
      require(frozen > 0,
        s"IndexIngest.ivfMaintained($path): frozen store is " +
          "empty — bootstrap the index with at least one vector " +
          "before maintaining it (the drift fraction needs a " +
          "non-empty baseline)")
      book = Similarity.collectBook(IvfIndex.codebook(s, path))
    }
    def append(fresh: DataFrame): Long = {
      val n = Similarity.writeIvfAppend(fresh.sparkSession, fresh, path, book)
      appended += n
      n
    }
    /** The tracked drift state: (rows frozen at the last build, rows
      * appended since).
      */
    private[streaming] def drift: (Long, Long) = (frozen, appended)
    override def due: Boolean = appended.toDouble / (frozen + appended) > threshold
    override def rebuild(s: SparkSession): Unit = {
      Similarity.rebuildIvfIndex(s, path, retrain(s))
      // the rebuild reassigned everything and froze NEW stats
      // (n_frozen = all stored rows) under the retrained codebook
      frozen += appended
      appended = 0L
      book = Similarity.collectBook(IvfIndex.codebook(s, path))
      onRebuild()
    }
  }

  /** BM25 ([[TextAnalysis.buildBm25Index]]): (doc_id, text) rows
    * tokenize and append under the FROZEN ranking statistics (the
    * BmIndex stale-index serving contract: already-indexed docs'
    * scores never move). Replay absorption keys on the doclens
    * relation.
    */
  def bm25(path: String): Target = new Bm25(path)

  /** [[bm25]], maintained: when `appended_frac` exceeds `threshold` OR
    * `avgdl_drift` exceeds `avgdlThreshold` — the
    * [[BmIndex.driftProbe]] expressions, evaluated on tracked counts —
    * rebuild with REFRESHED `df`/`stats` through
    * [[TextAnalysis.rebuildBm25Index]]. The two dials cover the two ways
    * frozen stats go stale: volume (idf's N lags reality) and shape
    * (appended lengths move the true avgdl off the frozen normalizer).
    * After a crash inside the rebuild, the replay re-derives the same
    * artifact from whatever the store holds (the per-(term, doc) max
    * collapses the crash window's duplicate posting rows). `retain` ≥ 2
    * lets long-lived readers span consecutive in-stream rebuilds;
    * `onRebuild` is the policy-firing hook the t22 gate counts through.
    */
  def bm25Maintained(path: String, threshold: Double,
      avgdlThreshold: Double = Double.MaxValue,
      onRebuild: () => Unit = () => (),
      retain: Int = 1): Target = new Bm25(path) {
    private var nFrozen = 0L
    private var sumDlFrozen = 0L
    override def open(s: SparkSession): Unit = {
      val st = BmIndex.stats(s, path).select("n_docs", "sum_dl").head()
      nFrozen = st.getLong(0); sumDlFrozen = st.getLong(1)
      // fail FAST on an empty bootstrap (r20 ADVICE): nFrozen = 0
      // makes the drift ratio NaN and every threshold comparison
      // silently false — the rebuild would never fire. An index
      // this loop can maintain must have a non-empty baseline.
      require(nFrozen > 0,
        s"IndexIngest.bm25Maintained($path): frozen stats record " +
          s"n_docs=$nFrozen — bootstrap the index with at least one " +
          "document before maintaining it (drift arithmetic needs a " +
          "non-empty baseline)")
      val cur = BmIndex.doclens(s, path).agg(count(lit(1)), sum("dl")).head()
      nNow = cur.getLong(0); sumDlNow = cur.getLong(1)
    }
    // the probe's expressions verbatim: (n_now−n_frozen)/n_now and
    // |avgdl_now/avgdl_frozen − 1| in the same IEEE double ops
    override def due: Boolean =
      (nNow - nFrozen).toDouble / nNow > threshold ||
        math.abs((sumDlNow.toDouble / nNow) /
          (sumDlFrozen.toDouble / nFrozen) - 1.0) > avgdlThreshold
    override def rebuild(s: SparkSession): Unit = {
      TextAnalysis.rebuildBm25Index(s, path, retain)
      // the rebuild refreshed _stats: the frozen baseline is now
      // exactly the live store
      nFrozen = nNow; sumDlFrozen = sumDlNow
      onRebuild()
    }
  }

  private class Bm25(path: String) extends Target("doc_id") {
    protected var nNow = 0L
    protected var sumDlNow = 0L
    def live(s: SparkSession): DataFrame = BmIndex.doclens(s, path)
    def open(s: SparkSession): Unit = ()
    def append(fresh: DataFrame): Long = {
      val (n, sumDl) = TextAnalysis.writeBm25Append(path, fresh)
      nNow += n; sumDlNow += sumDl
      n
    }
  }

  /** PPJoin ([[Dedup.buildPpIndex]]): (doc_id, text) rows shingle and
    * rank under the BUILD-FROZEN df order, loaded once per stream
    * ([[Dedup.rankUnderFrozenOrder]], the batch append's ranking). The
    * frozen `df` part is never touched, so the candidate join stays
    * exact below the df cap.
    *
    * Replay absorption keys on (doc_id, s) — fingerprint rows, not docs.
    * One append job scatters a doc's fingerprints across bucket files,
    * and a crash inside the job-commit window can leave HALF a doc's
    * rows visible; doc-level absorption would then orphan the missing
    * fingerprints forever, and re-appending the whole doc would inflate
    * the verify's shared-fingerprint counts. Ranking under the frozen
    * order is deterministic per doc, so the committed half and the
    * topped-up half reassemble the full append bit for bit. The
    * anti-join touches two narrow base columns, on the maintenance path
    * only; appends keep bucket membership, so serving stays
    * exchange-free.
    */
  def pp(table: String): Target = new Target("doc_id", "s") {
    private var frozen: DataFrame = _
    override def prepare(batch: DataFrame): DataFrame =
      Dedup.rankUnderFrozenOrder(frozen, batch.select(col("doc_id"),
        Text.distinctShingles(col("text")).as("sh")))
    def live(s: SparkSession): DataFrame = PpIndex.read(s, table)
    def open(s: SparkSession): Unit = frozen = PpIndex.readDf(s, table)
    def append(fresh: DataFrame): Long =
      PpIndex.append(fresh, fresh.sparkSession, table)
  }
}
