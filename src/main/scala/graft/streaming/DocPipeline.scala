package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.Text
import graft.queries.Dedup
import graft.sources.AtomicSwap

/** Incremental (streaming) form of the p01 training-data pipeline —
  * the "real-time" half of the north star applied to the LLM-pipeline
  * tier. Documents arrive as a stream; each micro-batch flows through
  * the SAME stages the oracle-gated batch p01 composes, but
  * incrementally, against two append-only state relations:
  *
  *   - `docs`  — every exact-dedup survivor seen so far, with its
  *               shingle set and a final `is_neardup` verdict;
  *   - `bands` — the LSH band-key index of those docs
  *               ([[Dedup.bandKeys]] — the same blocking key the batch
  *               path uses), so a new doc is matched against history by
  *               an equi-join on (j, bkey), never by rescanning texts.
  *               At warehouse scale this store belongs in the BUCKETED
  *               layout of [[graft.sources.BandIndex]]: the history
  *               side of the per-batch band join then never reshuffles
  *               (only the batch side moves — BandIndexSpec pins both
  *               exchange counts).
  *
  * Stage mapping (batch p01 → here):
  *   1. exact dedup      → `dropDuplicatesWithinWatermark(text_hash)`
  *      in the streaming graph (streaming-native, state bounded by the
  *      watermark) PLUS an anti-join against the `docs` store inside
  *      `foreachBatch` (exactness across ALL history, beyond the
  *      watermark horizon);
  *   2. near-dup dedup   → band-key join of the batch's new docs
  *      against store ∪ batch, exact-Jaccard verify of candidates only
  *      — per-batch work scales with batch size + matches, not corpus
  *      size;
  *   2b. substring dedup (r14) → d10's overlapping-window keep-first at
  *      the third granularity, against the `winfps` winner store —
  *      batch-boundary-invariant per-doc (n_windows, n_kept) verdicts;
  *   3-5. filter/split/agg → [[aggregate]], the identical expressions
  *      over the survivor store.
  *
  * A doc's near-dup verdict depends only on SMALLER doc_ids (the
  * canonical-keep-first contract, s02 semantics), so under in-order
  * arrival every verdict is FINAL at arrival time and the incremental
  * result equals batch p01 exactly (pinned by DocPipelineSpec). The
  * in-order requirement is ENFORCED, not assumed: [[processBatch]]
  * rejects (loudly, failing the stream) any genuinely-new doc whose id
  * is <= the stored max — silent batch-order-dependence is impossible.
  * Crash replays are exempt by construction: replayed rows anti-join
  * away against the docs store before the check runs.
  */
object DocPipeline {

  private def docsPath(stateDir: String) = s"$stateDir/docs"
  private def bandsPath(stateDir: String) = s"$stateDir/bands"
  private def winfpsPath(stateDir: String) = s"$stateDir/winfps"
  private def edgesPath(stateDir: String) = s"$stateDir/edges"

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("text_hash", StringType),
    StructField("sh", ArrayType(StringType)),
    StructField("is_neardup", BooleanType),
    StructField("n_windows", LongType), StructField("n_kept", LongType)))

  private val bandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("j", IntegerType),
    StructField("bkey", ArrayType(LongType))))

  /** The substring-dedup state (r14, verdict stretch #8 — d10's third
    * granularity run incrementally): one row per DISTINCT window
    * fingerprint seen so far, carrying its keep-first WINNER
    * (doc_id, seq). The winner — not a bare fp — is load-bearing for
    * crash replay: a crash between the winfps and docs writes leaves
    * this batch's fps in state, and on replay a bare-fp probe would
    * flip every replayed occurrence to "already seen" (n_kept
    * collapses to 0); with the winner stored, a replayed occurrence
    * re-matches its own stored winner and the verdict is reproduced
    * bit-for-bit. Digest-only like d10's batch form: 24 B per distinct
    * window, no window strings.
    */
  private val winfpsSchema = StructType(Seq(StructField("wfp", LongType),
    StructField("doc_id", LongType), StructField("seq", LongType)))

  /** The VERIFIED near-dup edge store (r19, verdict ask #4): every
    * band-candidate pair that passed the exact-Jaccard verify, appended
    * per batch. The batch-N pairs touch only history ∪ batch (the
    * candidatesAgainst shape this pipeline already runs), and band keys
    * are arrival-invariant, so under the enforced in-order contract the
    * union over batches IS the full-corpus verified relation
    * [[graft.queries.Dedup.lshVerifiedPairs]] recomputes from scratch —
    * which made d13b's retro-canonicalization re-derive d02-class work
    * on every run (8.7 s at 100×). With the edges persisted as state,
    * retro-canonicalization is a READ. Crash replay appends duplicate
    * pairs (index-state write order, like bands); consumers read
    * through [[edgesStore]]'s distinct and [[compact]] sweeps them.
    */
  private val edgesSchema = StructType(Seq(
    StructField("a_id", LongType), StructField("b_id", LongType)))

  /** The current data directory of the store at `root`, or None for the
    * empty store. Every store is an [[AtomicSwap]] generation root. A
    * root that is absent, holds only hidden entries (the `_temporary` a
    * crash during its very first write leaves) or only an unpublished
    * generation has no committed data: it reads as empty and the next
    * batch's first write recovers it. A root holding data but no
    * manifest was written by an older, flat layout and fails loudly —
    * read with the current schema it could serve silent nulls for
    * columns it lacks (state is cheap to rebuild, silent nulls are not).
    */
  private def liveDir(spark: SparkSession, root: String): Option[String] = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rp)) None
    else {
      val dir = AtomicSwap.dataDir(spark, root)
      if (dir != root) Some(dir)
      else {
        val flat = fs.listStatus(rp).map(_.getPath.getName)
          .filterNot(n => n.startsWith("_") || n.startsWith(".") || n.matches("g\\d+"))
        require(flat.isEmpty, s"DocPipeline state at $root was written by an " +
          "older layout (data files but no generation manifest). Wipe the " +
          "state dir and re-ingest (state is derived data).")
        None
      }
    }
  }

  private def read(spark: SparkSession, live: Option[String],
      schema: StructType): DataFrame =
    live.fold(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))(
      spark.read.schema(schema).parquet(_))

  /** The store at `root` as of its current generation; the empty frame
    * when it has none. Fails loudly on an older layout ([[liveDir]]).
    */
  private def readOrEmpty(spark: SparkSession, root: String,
      schema: StructType): DataFrame =
    read(spark, liveDir(spark, root), schema)

  /** Append `rows` to the store at `root`, whose data directory `live`
    * was resolved before this batch read it: into that generation, then
    * the [[AtomicSwap.commitAppend]] bump — which fails loudly if a
    * compact ran in between (writers must be serialized) — or, for an
    * empty store, as its first generation through [[AtomicSwap.writeGen]],
    * so no data file ever lands at the root itself.
    */
  private def append(spark: SparkSession, root: String, live: Option[String],
      rows: DataFrame): Unit = live match {
    case Some(dir) =>
      rows.write.mode("append").parquet(dir)
      AtomicSwap.commitAppend(spark, root, dir)
    case None => AtomicSwap.writeGen(spark, root)(rows.write.parquet(_))
  }

  /** Start the incremental pipeline over a document stream with an
    * event-time column `ts` and the `documents` columns
    * (doc_id, text, lang, source). State accumulates under `stateDir`;
    * read the current result any time with [[aggregate]]. Pass
    * `checkpointDir` to make the query restartable: a killed stream
    * resumed from the same checkpoint re-reads exactly the unprocessed
    * offsets (plus at most one replayed batch, which [[processBatch]]
    * absorbs idempotently — pinned in DocPipelineSpec).
    */
  def start(stream: DataFrame, stateDir: String,
      watermark: String = "1 hour",
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = stream
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => processBatch(batch, stateDir) }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }

  /** One micro-batch: exact dedup vs history, near-dup verdict vs
    * (history ∪ batch), append survivors + their band keys.
    */
  def processBatch(batch0: DataFrame, stateDir: String): Unit = {
    val spark = batch0.sparkSession
    // within-batch exact dedup keeps the SMALLEST doc_id per hash (the
    // stream stage keeps at most one per hash per batch already; this
    // pins min-id determinism regardless of intra-batch row order)
    val batch = batch0
      .withColumn("rk", row_number().over(
        Window.partitionBy("text_hash").orderBy("doc_id")))
      .filter(col("rk") === 1)
      .select("doc_id", "text", "lang", "source", "text_hash")
    // each store's current generation, resolved once: the batch reads
    // it and appends into it
    val docsDir = liveDir(spark, docsPath(stateDir))
    val bandsDir = liveDir(spark, bandsPath(stateDir))
    val winfpsDir = liveDir(spark, winfpsPath(stateDir))
    val edgesDir = liveDir(spark, edgesPath(stateDir))
    val store = read(spark, docsDir, docsSchema)
    // stage 1b: exact dedup against ALL history (the watermark stage
    // already dropped duplicates within its horizon; this closes it)
    // ONE batch text pass for BOTH dedup granularities (r15, verdict
    // ask #5): stage 2's shingles and stage 2b's window fingerprints
    // are computed in the same projection ahead of the checkpoint, so
    // the batch text is scanned (and the two kernels run) exactly once
    // per batch — stage 2b previously re-derived windowFps from the
    // checkpointed text in a second pass. The checkpoint now carries
    // the 8-byte-per-window fps array instead; replay A/B: BENCHNOTES
    // r15. Verdicts are bit-identical (same kernels, same inputs —
    // p06/p08 gates are the proof).
    val fresh = batch
      .join(store.select("text_hash"), Seq("text_hash"), "left_anti")
      .withColumn("sh", Text.distinctShingles(col("text")))
      .withColumn("wfps", Text.windowFps(col("text")))
      .localCheckpoint(eager = false)
    // in-order contract, ENFORCED (not just documented): every near-dup
    // verdict depends only on smaller doc_ids, so a genuinely-new doc
    // whose id is <= an already-stored id would get batch-order-dependent
    // results (and the band join would silently never form its (new,
    // hist) pair). Checked on `fresh` — i.e. AFTER the history anti-join
    // — so crash-replayed batches (whose rows are already stored and
    // anti-join away) still absorb idempotently. One tiny extra job:
    // min(new ids) vs max(stored ids), both column-pruned aggregates.
    val violation = fresh.select(min(col("doc_id")).as("bmin"))
      .crossJoin(store.select(max(col("doc_id")).as("smax")))
      .filter(col("bmin") <= col("smax")).collect()
    require(violation.isEmpty, {
      val r = violation.head
      s"DocPipeline requires in-order doc_ids: new doc_id ${r.get(0)} <= " +
        s"max stored doc_id ${r.get(1)}. Near-dup verdicts are keep-first " +
        "(canonical = smallest doc_id), so out-of-order arrival would make " +
        "results batch-order-dependent. Re-key the stream monotonically."
    })
    // stage 2: near-dup verdict — band-key candidates vs history + batch
    // through BandIndex's decomposed (hist ∪ new) ⋈ new (the union form
    // would reshuffle the GROWING history side together with the batch;
    // decomposed, the tiny new⋈new half never touches it, and swapping
    // the store for BandIndex.write's bucketed layout — where history
    // never reshuffles at all — changes only the read below)
    val newBands = Dedup.bandKeys(fresh.select("doc_id", "sh"))
      .localCheckpoint(eager = false)
    val histBands = graft.sources.BandIndex.withBand(
      read(spark, bandsDir, bandsSchema)).select("doc_id", "band")
    val cand = graft.sources.BandIndex.candidatesAgainstDf(histBands, newBands)
    val corpusSh = store.select(col("doc_id"), col("sh"))
      .union(fresh.select(col("doc_id"), col("sh")))
    // verified PAIRS kept whole (r19): the drop verdict needs only
    // b_id, but the pair relation itself is maintained state — the
    // edge store below makes retro-canonicalization (d13b) a read
    // instead of a full lshVerifiedPairs recompute
    val verified = cand
      .join(corpusSh.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(corpusSh.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .filter(size(array_intersect(col("sha"), col("shb"))).cast("double") /
        size(array_union(col("sha"), col("shb"))) >= 0.5)
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = false)
    val dropIds = verified
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("hit", lit(true))
    // stage 2b (r14): SUBSTRING granularity — d10's overlapping-window
    // keep-first, incrementally. A window occurrence survives iff its
    // fingerprint is globally new AND it is the (doc_id, seq) minimum
    // for that fp among this batch's fresh docs; under the enforced
    // in-order contract every history fp belongs to a smaller doc_id,
    // so the incremental verdict equals batch d10 over the exact-dedup
    // survivor corpus (DocPipelineSpec pins the equality). Only 8-byte
    // digests are joined or stored, never window strings — per-batch
    // work is batch windows ⋈ distinct-fp history on the fp hash.
    // occurrences are a plain posexplode of the checkpointed fps array
    // (the kernel already ran in the shared scan above) — cheap enough
    // to re-derive for its two consumers, so no second checkpoint
    val occ = fresh
      .select(col("doc_id"), posexplode(col("wfps")))
      .select(col("doc_id"), col("pos").cast("long").as("seq"), col("col").as("wfp"))
    val histWin = read(spark, winfpsDir, winfpsSchema)
      .select(col("wfp"), struct(col("doc_id"), col("seq")).as("hwin"))
    // batch-local winners; the GLOBAL winner per fp is the history row
    // when one exists (in-order arrival: history ids are smaller —
    // equal on crash replay, where the stored winner IS this batch's),
    // else the batch minimum
    val batchWin = occ.groupBy("wfp")
      .agg(min(struct(col("doc_id"), col("seq"))).as("bwin"))
      .join(histWin, Seq("wfp"), "left")
      .select(col("wfp"), coalesce(col("hwin"), col("bwin")).as("win"),
        col("hwin").isNull.as("isNew"))
      .localCheckpoint(eager = false)
    val winCounts = occ
      .join(batchWin.select("wfp", "win"), Seq("wfp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("doc_id") === col("win.doc_id") &&
          col("seq") === col("win.seq"), 1L).otherwise(0L)).as("n_kept"))
    val marked = fresh.join(dropIds, Seq("doc_id"), "left")
      .join(winCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("text_hash"), col("sh"),
        coalesce(col("hit"), lit(false)).as("is_neardup"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    // Append-only state writes; foreachBatch gives at-least-once, so a
    // crash replays the whole batch and the docs anti-join above drops
    // the replayed rows. WRITE ORDER IS LOAD-BEARING: bands FIRST. The
    // docs store is the replay guard — once a doc is in it, its batch
    // never re-processes — so everything that doc needs indexed must
    // already be durable. Crash between the writes with this order
    // leaves orphan band rows, which are harmless (the candidate join
    // distincts; replay re-appends and duplicates collapse the same
    // way). The opposite order would anti-join the docs away on replay
    // and leave them WITHOUT band keys forever: every future near-dup
    // of those docs silently missed. Pinned in DocPipelineSpec's
    // partial-write test.
    //
    // Index ALL exact-dedup survivors, near-dups included: the batch
    // pair relation is over d1 (a doc may be dropped via a neighbor
    // that is itself a near-dup — chains 1~2, 2~3 must still drop 3).
    // The winfps store is index state like bands, so it also writes
    // BEFORE docs: a crash after it leaves orphan winner rows, which
    // replay reproduces identically (the coalesce above prefers the
    // stored winner, which IS the replayed batch's own minimum) and
    // compact's distinct sweeps.
    append(spark, winfpsPath(stateDir), winfpsDir, batchWin.filter(col("isNew"))
      .select(col("wfp"), col("win.doc_id").as("doc_id"), col("win.seq").as("seq")))
    append(spark, bandsPath(stateDir), bandsDir, newBands)
    // edges are index state like bands/winfps, so they too write BEFORE
    // docs: a crash after this write leaves orphan pairs (endpoints not
    // yet in docs), which replay re-appends identically — duplicates
    // collapse in edgesStore's distinct and compact's sweep. Written
    // every batch (even empty) so the directory's EXISTENCE marks the
    // r19+ layout — see the loud guard in [[edgesStore]].
    append(spark, edgesPath(stateDir), edgesDir, verified)
    append(spark, docsPath(stateDir), docsDir, marked)
  }

  /** Compact the append-only state stores: every micro-batch appends a
    * file, so a long-running pipeline accretes small files and store
    * reads slow down. Each store is rewritten to `targetFiles` files as
    * its next generation ([[AtomicSwap.writeGen]]); the manifest
    * publish is the commit, so a crash before it leaves readers on the
    * old generation and the next compact prunes the stray. Reader-safe:
    * a frame planned before the compact keeps its files for one more
    * compaction cycle. Writers must still be serialized — run it
    * between batches, not concurrently with one; a batch that races it
    * fails loudly in its commitAppend instead of losing rows.
    */
  def compact(spark: SparkSession, stateDir: String, targetFiles: Int = 4): Unit =
    // the index stores additionally dedup: a crash between the state
    // writes (bands/winfps/edges land, docs don't) leaves orphan rows
    // that replay re-appends — harmless to the readers (they distinct
    // or re-match) but worth sweeping here so they don't accrete
    Seq((docsPath(stateDir), docsSchema, false), (bandsPath(stateDir), bandsSchema, true),
        (winfpsPath(stateDir), winfpsSchema, true),
        (edgesPath(stateDir), edgesSchema, true))
      .foreach { case (root, schema, dedup) =>
        liveDir(spark, root).foreach { live =>
          val base = spark.read.schema(schema).parquet(live)
          AtomicSwap.writeGen(spark, root)(
            (if (dedup) base.distinct() else base).repartition(targetFiles).write.parquet(_))
        }
      }

  /** The per-doc verdict store as ingested so far: every exact-dedup
    * survivor with its final `is_neardup` verdict. The relation the
    * p06 incremental-replay query exposes to the correctness gate.
    */
  def docsStore(spark: SparkSession, stateDir: String): DataFrame =
    readOrEmpty(spark, docsPath(stateDir), docsSchema)

  /** The maintained verified-edge relation (a_id < b_id, exact Jaccard
    * ≥ 0.5) over everything ingested so far — equal, under the
    * enforced in-order contract, to recomputing
    * [[graft.queries.Dedup.lshVerifiedPairs]] over the store's shingle
    * state (DocPipelineSpec pins it, incl. across a crash replay); the
    * d13b retro-canonicalization reads THIS instead of recomputing.
    * distinct() absorbs crash-replay duplicate appends. Fails LOUDLY
    * on a pre-r19 state dir (docs present, edges directory absent —
    * the per-batch write creates the directory even for an empty
    * batch, so absence means an old layout whose silent empty-edges
    * read would canonicalize nothing): state is derived, re-ingest.
    */
  def edgesStore(spark: SparkSession, stateDir: String): DataFrame = {
    edgesLayoutGuard(spark, stateDir)
    readOrEmpty(spark, edgesPath(stateDir), edgesSchema).distinct()
  }

  /** Fail loudly on a pre-r19 layout (docs present, edges absent) —
    * shared by [[edgesStore]] and [[edgesProbe]] (r20, ADVICE: the probe
    * used to skip the guard and would report an all-zero artifact over
    * a state dir the store itself refuses to read).
    */
  private def edgesLayoutGuard(spark: SparkSession, stateDir: String): Unit = {
    val fs = new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(docsPath(stateDir))) || fs.exists(new Path(edgesPath(stateDir))),
      s"DocPipeline state at $stateDir was written by a pre-edge-store " +
        "layout (docs present, edges absent). Wipe the state dir and " +
        "re-ingest (state is derived data).")
  }

  /** Cheap consistency probe for the edge artifact (r19 — the drift-
    * probe convention the four index families carry, applied to the
    * edge store): one row (n_edge_rows, n_edges, n_orphan_endpoints,
    * n_inverted). Orphan endpoints (an edge naming a doc_id the docs
    * store doesn't hold) appear only in the crash window between the
    * edges and docs writes and are healed by the replay; inverted
    * pairs (a_id >= b_id) should never exist. Reads only doc_id
    * columns — never text or shingles.
    */
  def edgesProbe(spark: SparkSession, stateDir: String): DataFrame = {
    edgesLayoutGuard(spark, stateDir)
    val edges = readOrEmpty(spark, edgesPath(stateDir), edgesSchema)
    val ids = docsStore(spark, stateDir).select("doc_id")
    val ends = edges.select(col("a_id").as("doc_id"))
      .union(edges.select(col("b_id")))
    edges.agg(count(lit(1)).as("n_edge_rows"))
      .crossJoin(edges.distinct().agg(count(lit(1)).as("n_edges")))
      .crossJoin(ends.join(ids, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_orphan_endpoints")))
      .crossJoin(edges.filter(col("a_id") >= col("b_id"))
        .agg(count(lit(1)).as("n_inverted")))
  }

  /** The pipeline result over everything ingested so far — identical
    * expressions to batch p01's stages 3-5 (language filter, quality
    * score, hash split, per-source token accounting).
    */
  def aggregate(spark: SparkSession, stateDir: String): DataFrame = {
    val d2 = readOrEmpty(spark, docsPath(stateDir), docsSchema)
      .filter(!col("is_neardup") && col("lang") === "en")
    d2.select(col("source"),
        Text.tokenStats(col("text")).getField("_1").as("n_tokens"),
        Text.qualityScore(col("text")).as("q"),
        pmod(Text.charFp(col("text")), lit(100L)).as("h100"))
      .filter(col("q") >= 0.3 && col("h100") < 80)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(floor(col("q") * lit(1000000.0)).cast("long")).as("sum_q_micros"))
      .orderBy("source")
  }
}
