package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text
import OracleDialect._

/** Text-analysis operators over `documents` (SURVEY.md §7.4): token
  * statistics, language-ID heuristic, quality scoring, fingerprinting.
  *
  * All per-document scores are pure per-row expressions (no shuffle);
  * the per-source aggregates shuffle once on the group key with map-side
  * partial aggregation. Double-valued scores aggregate through
  * DECIMAL(18,6) casts so sums are order-independent (same pattern as
  * Relational — see its class doc).
  */
object TextAnalysis {

  /** Postings (term, doc_id, tf) + doc lengths (doc_id, dl) for a
    * (doc_id, text) corpus — ONE kernel scan (tokenStats for dl,
    * termCounts for the per-doc tf pairs, both codegen), checkpointed
    * so the two derived relations share it. The building block of the
    * persisted BM25 index and its append path.
    */
  private def bm25Derive(docs: DataFrame): (DataFrame, DataFrame) = {
    val base = docs.select(col("doc_id"),
        Text.tokenStats(col("text")).getField("_1").as("dl"),
        Text.termCounts(col("text")).as("tc"))
      .localCheckpoint(eager = false)
    val postings = base.select(col("doc_id"), explode(col("tc")).as("e"))
      .select(col("e.term").as("term"), col("doc_id"), col("e.tf").as("tf"))
    (postings, base.select("doc_id", "dl"))
  }

  /** Build + persist the BM25 inverted index over `dir`'s documents —
    * write-once production form of t14's two in-query corpus passes
    * ([[graft.sources.BmIndex]]). Rebuild to refresh the frozen
    * ranking statistics.
    */
  def buildBm25Index(s: SparkSession, dir: String, path: String): Unit =
    buildBm25IndexOver(s,
      Tables(s, dir, "documents").select("doc_id", "text"), path)

  /** [[buildBm25Index]] over an explicit (doc_id, text) corpus. */
  def buildBm25IndexOver(s: SparkSession, docs: DataFrame,
      path: String): Unit = {
    val (postings, doclens) = bm25Derive(docs)
    graft.sources.BmIndex.write(postings, doclens, path)
  }

  /** INCREMENTAL maintenance (r15): index `newDocs` (doc_id, text)
    * without re-tokenizing the corpus. `df`/`stats` stay FROZEN —
    * appended docs are scored under build-time idf/avgdl (stale-index
    * serving, the contract [[graft.sources.BmIndex]] documents);
    * already-indexed docs' scores are provably unchanged.
    */
  def appendToBm25Index(s: SparkSession, path: String,
      newDocs: DataFrame): Unit = {
    graft.sources.AtomicSwap.requireDisjoint("appendToBm25Index", newDocs,
      graft.sources.BmIndex.doclens(s, path), "doc_id", path)
    writeBm25Append(path, newDocs)
  }

  /** [[appendToBm25Index]]'s write half, for docs already disjoint from
    * the store: tokenize once (bm25Derive's checkpointed base feeds the
    * count, both writes and the length sum) and append, skipping the
    * write for an empty batch. Returns the appended `(n_docs, sum_dl)` —
    * exact longs the maintained ingest ([[graft.streaming.IndexIngest]])
    * tracks its drift state on instead of re-scanning the store every
    * micro-batch (r20).
    */
  private[graft] def writeBm25Append(path: String,
      docs: DataFrame): (Long, Long) = {
    val (postings, doclens) = bm25Derive(docs)
    val r = doclens.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("s")).head()
    if (r.getLong(0) > 0) graft.sources.BmIndex.append(postings, doclens, path)
    (r.getLong(0), r.getLong(1))
  }

  /** REBUILD the BM25 index from its own persisted state with REFRESHED
    * ranking statistics (r20, verdict ask #1 — the retrain step of the
    * search family's maintenance loop, [[Similarity.rebuildIvfIndex]]'s
    * shape): re-derive `df` from every stored posting row and
    * `stats` from the doclens relation, and publish all four parts
    * as the next generation, in one manifest. Reads ONLY the artifact — never the raw
    * corpus (the index IS the corpus of record for a streaming
    * maintenance job); since [[appendToBm25Index]] derives postings
    * per-doc independently, the rebuilt artifact's CONTENT equals a
    * fresh [[buildBm25Index]] over the same documents, so post-rebuild
    * serving scores are bit-identical to a full-corpus build's
    * (BmMaintainedSpec pins it — the refreshed stats ARE the
    * full-corpus stats). Crash-window duplicate posting rows (see
    * [[graft.sources.BmIndex.append]]) are collapsed by the per-
    * (term, doc) max — the consumers' convention, applied once at the
    * rebuild so `df` never counts a doc twice. Safe under live
    * READERS (generation layout, `retain` = the snapshot-expiry dial);
    * WRITERS must be serialized, which [[graft.streaming.IndexIngest
    * .bm25Maintained]] guarantees by running this inside
    * `foreachBatch` (SCALE.md's writer-serialization regime 1).
    */
  def rebuildBm25Index(s: SparkSession, path: String,
      retain: Int = 1): Unit = {
    val postings = graft.sources.BmIndex.postingsAll(s, path)
      .groupBy("term", "doc_id").agg(max(col("tf")).as("tf"))
      .localCheckpoint(eager = false)
    val doclens = graft.sources.BmIndex.doclens(s, path)
      .localCheckpoint(eager = false)
    graft.sources.BmIndex.write(postings, doclens, path, retain)
  }

  /** BM25 top-`k` served from a persisted [[graft.sources.BmIndex]] —
    * row-identical to the in-query t14 over the indexed corpus
    * (Bm25IndexSpec pins it; the t15 gate hashes it against t14's
    * oracle): the scoring expression tree is t14's VERBATIM — same
    * IEEE op order over the same integers, the loaded relations just
    * replace the in-query corpus passes. The posting fetch reads only
    * the queried terms' bucket DIRECTORIES (static PartitionFilters —
    * [[graft.sources.BmIndex.postingsFor]]); the scorer joins the
    * narrow doclens relation left so zero-score docs rank exactly as
    * t14 ranks them.
    *
    * `matchedOnly` (r16, verdict ask #5 — the production dial): rank
    * only docs sharing ≥ 1 term with the query. The doclens LEFT join
    * from the full corpus exists solely for t14's zero-score-parity
    * contract — it makes the indexed path pay a corpus-sized ranking
    * input even when the postings touch 3 of 64 directories, which is
    * why in-query t14 wins at the fixture's 15-token docs. With the
    * dial the ranking input shrinks to the matched set (the docs any
    * real search would serve; [[bm25Batch]] has the same contract).
    * The ONE documented divergence: zero-score docs are unranked.
    * Matched docs' scores are bit-identical — same expression tree
    * over the same loaded relations (Bm25IndexSpec pins it).
    */
  def bm25Indexed(s: SparkSession, path: String, qterms: Seq[String],
      k: Int = 20, matchedOnly: Boolean = false): DataFrame = {
    require(qterms.nonEmpty, "bm25Indexed: no query terms")
    val post = graft.sources.BmIndex.postingsFor(s, path, qterms)
    // max, NOT sum (r16, ADVICE): a crash inside BmIndex.append's
    // postings→doclens window makes the replayed batch re-append
    // bit-identical posting rows; max collapses the exact copies where
    // sum would silently double tf (see BmIndex.append). A clean index
    // has exactly one (term, doc) row, where max == sum.
    val tfAggs = qterms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("tf"))).as(s"tf$i") }
    val tfs = post.groupBy("doc_id").agg(tfAggs.head, tfAggs.tail: _*)
    val dfAggs = qterms.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("term") === t, col("df"))), lit(0L)).as(s"df$i") }
    val dfAgg = graft.sources.BmIndex.dfRel(s, path)
      .filter(col("term").isin(qterms: _*))
      .agg(dfAggs.head, dfAggs.tail: _*)
    // t14's expression tree, verbatim — the IEEE-identity contract
    def idf(i: Int): Column =
      ((col("n_docs") - col(s"df$i")).cast("double") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
    def tscore(i: Int): Column =
      idf(i) * (col(s"tf$i").cast("double") * lit(2.2)) /
        (col(s"tf$i").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
    val ranked =
      if (matchedOnly) tfs.join(graft.sources.BmIndex.doclens(s, path), Seq("doc_id"))
      else graft.sources.BmIndex.doclens(s, path).join(tfs, Seq("doc_id"), "left")
    val joined = qterms.indices.foldLeft(ranked) { (df, i) =>
        df.withColumn(s"tf$i", coalesce(col(s"tf$i"), lit(0L)))
      }
      .crossJoin(broadcast(graft.sources.BmIndex.stats(s, path)))
      .crossJoin(broadcast(dfAgg))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    joined.select(col("doc_id") +:
        qterms.zipWithIndex.map { case (t, i) =>
          col(s"tf$i").cast("int").as(s"tf_$t") } :+
        qterms.indices.map(tscore).reduce(_ + _).as("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** DISTRIBUTED batch BM25 serving (r16, verdict ask #1 — the
    * v11b/v12c treatment applied to the search family): the query side
    * becomes a RELATION instead of a driver parameter, so a 10⁴-query
    * batch is one Spark job, never a driver loop over [[bm25Indexed]].
    *
    * Shape: `queries` flattens to a tiny (q_id, ti, term) relation
    * (ti = the term's position in its query — the FOLD ORDER), which
    * broadcast-joins the posting fetch for the batch's distinct terms
    * (still ≤ |terms| of the 64 bucket directories — the static-isin
    * prune is per-BATCH, shared by every query in it). Matched
    * (q_id, doc) pairs pivot their tfs into per-position columns with
    * max() (replay-proof, see [[graft.sources.BmIndex.append]]), join
    * the narrow doclens relation for dl, and score through t14's
    * VERBATIM expression tree — same casts, same written-order +,*,/.
    *
    * Per-query ranking is top-`k` over MATCHED docs (docs sharing ≥1
    * term with the query) — the production search contract. Matched
    * docs' scores are bit-identical to [[bm25Indexed]]'s: a zero-tf
    * term contributes exactly +0.0 and IEEE x+0.0 == x for the
    * non-negative partial sums here, so folding the padded fixed-width
    * columns in position order equals t14's per-query written-order
    * sum bit for bit (Bm25BatchSpec pins the equality per query).
    * Zero-score docs are UNRANKED — the one documented divergence from
    * the single-query path, which ranks them for t14 oracle parity
    * (no real search serves score-0 results; the corpus-sized doclens
    * left join existed only for that parity).
    *
    * Scale: the query relation broadcasts (bytes/query, not the LUT
    * problem — terms are short), postings move once through the
    * (q_id, doc) aggregation, and the per-query rank window partitions
    * by q_id — parallelism grows with the batch. Nothing is collected
    * to the driver.
    */
  def bm25Batch(s: SparkSession, path: String,
      queries: Seq[(Long, Seq[String])], k: Int = 20): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25Batch: every query needs at least one term")
    require(queries.map(_._1).distinct.size == queries.size,
      "bm25Batch: duplicate q_id")
    import s.implicits._
    val m = queries.map(_._2.size).max
    val qrel = queries
      .flatMap { case (qid, ts) => ts.zipWithIndex.map { case (t, i) => (qid, i, t) } }
      .toDF("q_id", "ti", "term")
    val allTerms = queries.flatMap(_._2).distinct
    bm25BatchCore(s, path, qrel, m, Some(allTerms), k)
  }

  /** [[bm25Batch]] with max-score candidate pruning (r18, verdict ask
    * #1 — see [[prunedCandidates]]): identical output, top-k computed
    * over only the (q, doc) pairs whose score can still reach the
    * running k-th. The prune pays two extra narrow passes (the seed
    * lists and the candidate distinct), so its regime is
    * corpus-common terms at large batches — where the unpruned pivot's
    * matched-row volume is the measured 90% of batch cost; at small
    * batches or rare terms [[bm25Batch]] stays primary
    * (Bm25PruneProbe's crossover readings).
    */
  def bm25BatchPruned(s: SparkSession, path: String,
      queries: Seq[(Long, Seq[String])], k: Int = 20): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25BatchPruned: every query needs at least one term")
    require(queries.map(_._1).distinct.size == queries.size,
      "bm25BatchPruned: duplicate q_id")
    import s.implicits._
    val m = queries.map(_._2.size).max
    val qrel = queries
      .flatMap { case (qid, ts) => ts.zipWithIndex.map { case (t, i) => (qid, i, t) } }
      .toDF("q_id", "ti", "term")
    val allTerms = queries.flatMap(_._2).distinct
    bm25BatchCore(s, path, qrel, m, Some(allTerms), k, prune = true)
  }

  /** RELATION-NATIVE batch BM25 (r17, verdict ask #1 — the last driver
    * surface in any serving path removed): the query set arrives as a
    * DataFrame `(q_id, ti, term)` — a persisted query TABLE at
    * production scale — instead of a driver `Seq`. The fixed pivot
    * width `m` and the batch's bucket prune are derived by BOUNDED
    * driver syncs that never grow with the batch:
    *
    *  - `m` = max(ti)+1 and the duplicate-cell guard come from ONE
    *    one-row aggregation over the query relation (the codebook-sync
    *    class of collect — one row, loud failure on malformed input).
    *  - The posting scan's static partition prune needs the terms'
    *    BUCKETS, not the terms: ≤ [[graft.sources.BmIndex.Buckets]]
    *    distinct values at ANY batch size, collected from the charFp
    *    kernel over the term relation (a broadcast join on the
    *    partition column would NOT produce PartitionFilters — the
    *    pushed `isin` is how directory pruning happens, so the bucket
    *    list is the one driver sync the prune fundamentally needs).
    *  - The per-TERM pushed filter (`term isin (...)`) is only worth a
    *    literal list when the batch's distinct-term count is small:
    *    below `isinTermCap` the terms are collected and pushed exactly
    *    as the Seq path pushes them; above it the scan reads the
    *    pruned buckets wholesale and the broadcast query-relation join
    *    restricts terms at runtime (documented trade: bucket
    *    directories are read fully, which is what a 10⁶-query batch
    *    touching most of the vocabulary would force anyway). The cap
    *    default was 64 (a constant with no measured sweep) until r18's
    *    IsinSweepProbe swept n_distinct_terms ∈ {16, 64, 256, 1024,
    *    4096} on BOTH 100× replicas: the pushed literal WON at every
    *    measured size on both (up to 4× at 1024 terms on sf10long —
    *    without it the scan reads whole pruned buckets, including the
    *    common-term lists the batch never asked for), and the
    *    plan-bloat penalty never materialized through 4096 literals.
    *    The default is now the measured boundary, 4096; beyond it is
    *    unswept, so the runtime-join fallback stays.
    *
    * Output is bit-identical to [[bm25Batch]] over the same query set
    * (Bm25BatchSpec pins Seq-path == relation-path per row, scores
    * compared at raw-bits granularity): both paths run the SAME core —
    * same pivot, same expression tree, same bounded-heap top-k.
    * Queries whose ti positions are sparse (gaps below max(ti)) are
    * harmless by the padding identity: a missing position carries
    * tf=0, df=0, contributing exactly +0.0 to the score fold.
    */
  def bm25BatchRel(s: SparkSession, path: String, queriesDf: DataFrame,
      k: Int = 20, isinTermCap: Int = 4096): DataFrame = {
    val (qrel, m, isinTerms) = relDerive(queriesDf, isinTermCap)
    bm25BatchCore(s, path, qrel, m, isinTerms, k)
  }

  /** The REGIME-ROUTED batch BM25 serving surface (r19, verdict ask
    * #1): [[bm25BatchRel]]'s relation-native contract, with the
    * plain-vs-pruned choice made PER BATCH from the frozen `df`
    * part — the production entry a batch search server calls when
    * the workload mix is not known in advance. Output is identical
    * either way (the prune is lossless — Bm25PruneSpec/t19's gate);
    * the router can only change SPEED, which is exactly what makes it
    * safe to automate.
    *
    * The statistic ([[bm25RouteStats]]): Σ_q df(seed_q) vs
    * Σ_q Σ_t df(t) over the batch, both read from the same frozen dfs
    * the max-score bound itself uses. Σ df is (up to appends) the
    * unpruned pivot's matched-row volume — the measured 90% of batch
    * cost; Σ df(seed) is the seed pass's posting volume, the pruned
    * path's mandatory extra read. Their ratio is the df-SKEW of the
    * batch, the quantity the whole prune regime hangs on
    * (BENCHNOTES r18: pruned wins ~2× when queries pair a rare seed
    * with common context terms, loses 1.4–2.2× at flat dfs and
    * single-term where the seed pass is pure duplication — at
    * single-term the ratio is exactly 1, at flat dfs ≈ the term
    * count). The threshold [[Bm25RouteSkew]] sits between the
    * measured regimes (Bm25PruneProbe r19 prints the ratio next to
    * each workload's plain/pruned wall readings on both 100×
    * replicas).
    */
  def bm25Serve(s: SparkSession, path: String, queriesDf: DataFrame,
      k: Int = 20, isinTermCap: Int = 4096): DataFrame = {
    val (qrel, m, isinTerms) = relDerive(queriesDf, isinTermCap)
    val (tot, seed) = bm25RouteStats(s, path, qrel)
    bm25BatchCore(s, path, qrel, m, isinTerms, k,
      prune = routePruned(tot, seed))
  }

  /** Router threshold on the batch's df-skew ratio Σdf / Σdf(seed):
    * choose the max-score-pruned path when the ratio is at least this.
    * Measured regimes (Bm25PruneProbe, both 100× replicas, r19):
    * single-term sits at exactly 1 and flat-df multi-term at ~2–7
    * (both lose by 1.4–2.2×); rare-seed workloads, where pruned wins
    * ~2×, measure ≥ 40. 16 splits the decades between the losing and
    * winning clusters (geometric mid of ~6 and ~40), a decade of
    * margin each side.
    */
  private[queries] val Bm25RouteSkew = 16.0

  private def routePruned(totDf: Long, seedDf: Long): Boolean =
    totDf.toDouble >= Bm25RouteSkew * math.max(seedDf, 1L).toDouble

  /** The router's batch statistic, one tiny aggregation job over the
    * query relation joined to the frozen df part (query-relation-
    * sized — never corpus-sized): (Σ_q Σ_t df(t), Σ_q df(seed_q)),
    * seed_q = the query's min-df term AMONG df > 0 terms (r20, ADVICE:
    * an out-of-vocabulary term has df = 0 — its seed pass reads empty
    * postings, so counting it as the seed inflates the skew ratio to
    * tot/1 and routes flat-df batches with one OOV term to the pruned
    * path against the measured plain-wins regime; a query whose terms
    * are ALL OOV contributes 0 to both sums, which is right — it
    * matches nothing on either path). For in-vocab seeds this is the
    * same rarest-term seed the prune's θ pass reads
    * ([[bm25Essential]]'s highest-ub choice; ub is monotone
    * decreasing in df). Exposed package-visible so the probe and spec
    * can pin the decision against measured winners.
    */
  private[queries] def bm25RouteStats(s: SparkSession, path: String,
      qrel: DataFrame): (Long, Long) = {
    val r = qrel.join(graft.sources.BmIndex.dfRel(s, path), Seq("term"), "left")
      .select(col("q_id"), coalesce(col("df"), lit(0L)).as("df"))
      .groupBy("q_id").agg(sum(col("df")).as("tot"),
        coalesce(min(when(col("df") > 0, col("df"))), lit(0L)).as("seed"))
      .agg(sum(col("tot")).as("t"), sum(col("seed")).as("s"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Per-QUERY regime routing (r19 — the refinement past
    * [[bm25Serve]]'s per-batch decision): a production batch MIXES
    * regimes, and one batch-level statistic averages them — a 50/50
    * skewed/flat batch routes whole to one path and the wrong half
    * pays the measured 1.4–2.2× (Bm25PruneProbe). Here every query
    * routes itself: the same qrel ⋈ frozen-df aggregation, kept
    * per-q_id (n_q rows back — query-relation-sized, the contract
    * every serving entry already carries), splits the relation with a
    * broadcast semi-join per half, and each NON-EMPTY half runs
    * [[bm25BatchCore]] with its OWN term pushdown (the halves'
    * vocabularies differ by construction in exactly the mixed regimes
    * the split exists for — the pruned half's rare seeds never bloat
    * the plain half's scan). The union re-sorts to the standing
    * (q_id, rank) total order. Equality with the unrouted paths is
    * structural: the pivot width m is the BATCH's (so each half's
    * rows are bit-identical to the unrouted full-batch output for
    * those q_ids — t19's losslessness per query), and the halves
    * partition the batch. One side empty ⇒ exactly one core call —
    * the split degrades to [[bm25Serve]]'s shape with the same
    * decision and no union. Bm25SplitSpec pins split == unrouted at
    * raw-bits granularity on a corpus where the decisions genuinely
    * diverge, plus both degenerate-side cases.
    */
  def bm25ServeSplit(s: SparkSession, path: String, queriesDf: DataFrame,
      k: Int = 20, isinTermCap: Int = 4096): DataFrame = {
    import s.implicits._
    val (qrel, m, _) = relDerive(queriesDf, isinTermCap)
    val perQ = perQueryRoutes(s, path, qrel)
    val prunedIds = perQ.collect { case (q, true) => q }
    val plainIds = perQ.collect { case (q, false) => q }
    def half(ids: Seq[Long], prune: Boolean): DataFrame = {
      val rel = qrel.join(broadcast(ids.toDF("q_id")), Seq("q_id"), "left_semi")
      // per-half term push, the relDerive pattern (bounded limit-collect)
      val ts = rel.select("term").distinct().limit(isinTermCap + 1)
        .collect().map(_.getString(0)).toSeq
      val isin = if (ts.nonEmpty && ts.size <= isinTermCap) Some(ts) else None
      bm25BatchCore(s, path, rel, m, isin, k, prune = prune)
    }
    if (prunedIds.isEmpty) half(plainIds, prune = false)
    else if (plainIds.isEmpty) half(prunedIds, prune = true)
    else {
      // the two halves are independent plans over disjoint q_ids; their
      // bounded term-collects are the serial driver cost here, so they
      // overlap. Same two actions, same results — they just no longer
      // wait on each other.
      val (pruned, plain) = graft.Overlap.both(s)(
        half(prunedIds, prune = true), half(plainIds, prune = false))
      pruned.unionByName(plain).orderBy("q_id", "rank")
    }
  }

  /** The per-query routing decisions for a normalized query relation:
    * (q_id, routed-to-pruned) pairs, one aggregation job, n_q rows
    * collected. Package-visible so Bm25SplitSpec and the probe can
    * pin the split against the decisions it actually made.
    */
  private[queries] def perQueryRoutes(s: SparkSession, path: String,
      qrel: DataFrame): Seq[(Long, Boolean)] =
    qrel.join(graft.sources.BmIndex.dfRel(s, path), Seq("term"), "left")
      .select(col("q_id"), coalesce(col("df"), lit(0L)).as("df"))
      .groupBy("q_id").agg(sum(col("df")).as("tot"),
        // df>0-only seed, the bm25RouteStats OOV rule (r20, ADVICE)
        coalesce(min(when(col("df") > 0, col("df"))), lit(0L)).as("seed"))
      .collect()
      .map(r => r.getLong(0) -> routePruned(r.getLong(1), r.getLong(2)))
      .toSeq

  /** [[bm25Serve]]'s routing decision for a driver-side batch — the
    * probe/spec entry.
    */
  private[queries] def bm25RoutedToPruned(s: SparkSession, path: String,
      queries: Seq[(Long, Seq[String])]): Boolean = {
    import s.implicits._
    val qrel = queries
      .flatMap { case (qid, ts) => ts.zipWithIndex.map { case (t, i) => (qid, i, t) } }
      .toDF("q_id", "ti", "term")
    val (tot, seed) = bm25RouteStats(s, path, qrel)
    routePruned(tot, seed)
  }

  /** The query-relation derivation [[bm25BatchRel]] and [[bm25Serve]]
    * share: normalized (q_id, ti, term) columns, the pivot width, and
    * the bounded term-isin push.
    */
  private def relDerive(queriesDf: DataFrame,
      isinTermCap: Int): (DataFrame, Int, Option[Seq[String]]) = {
    val qrel = queriesDf.select(col("q_id").cast("long").as("q_id"),
      col("ti").cast("int").as("ti"), col("term").cast("string").as("term"))
    // ONE one-row derivation job: pivot width + malformed-input guards
    val d = qrel.groupBy("q_id", "ti").agg(count(lit(1)).as("n"))
      .agg(max(col("ti")).as("mi"), min(col("ti")).as("ti0"),
        max(col("n")).as("dup"), count(lit(1)).as("cells"))
      .head()
    require(!d.isNullAt(0), "bm25BatchRel: empty query relation")
    require(d.getLong(2) == 1L,
      "bm25BatchRel: duplicate (q_id, ti) cell in the query relation")
    require(d.getInt(1) >= 0, "bm25BatchRel: negative term position ti")
    val m = d.getInt(0) + 1
    // the term-isin push whenever the batch's DISTINCT-term set fits
    // the cap: the limit-collect is bounded (≤ cap+1 rows back) at ANY
    // batch size — r17 first shipped this gated on a cell-count
    // precondition, which silently dropped the per-term pushed filter
    // on large batches over small vocabularies (measured 322 vs 217 s
    // at n_q=1000 × 30 distinct terms on the 100× replica — the scan
    // read every term in the probed buckets and discarded the rest at
    // the join). One small distinct-aggregate job is the price.
    val isinTerms = {
      val ts = qrel.select("term").distinct().limit(isinTermCap + 1)
        .collect().map(_.getString(0)).toSeq
      if (ts.size <= isinTermCap && ts.nonEmpty) Some(ts) else None
    }
    (qrel, m, isinTerms)
  }

  /** MAX-SCORE pruning for exact batch BM25 top-k (r18, verdict ask
    * #1): the candidate (q_id, doc_id) set that the pruned pivot
    * aggregates instead of every matched pair. Exact top-k does NOT
    * require scoring every matched row — the max-score/WAND family
    * result from the public IR literature: a per-term score upper
    * bound plus a running k-th-score threshold lets whole posting
    * lists drop out of a query's candidate generation. The batch/Spark
    * formulation here is two passes:
    *
    *  1. SEED θ: each query's highest-ub term (ub = idf(df_frozen) ·
    *     2.2, the k1-saturated ceiling of t14's tscore as tf → ∞ —
    *     derived from the frozen `df`/`stats` parts, NOT
    *     materialized: ub is a pure function of state those parts
    *     already determine, so persisting it would duplicate frozen
    *     state). Its postings — the RAREST list, so the shortest —
    *     score their single-term partial through the verbatim
    *     [[tscoreCol]]; the k-th largest partial per query (bounded
    *     heap, never a window; dup postings collapsed by max() first —
    *     a replayed duplicate would otherwise inflate θ and OVER-prune)
    *     is θ, a valid lower bound on the final k-th score because
    *     IEEE addition of non-negative doubles is monotone: every
    *     doc's full computed score ≥ its computed partial.
    *  2. ESSENTIAL terms: per query, terms sorted by ub ascending; the
    *     maximal prefix whose cumulative ub ≤ θ·(1−1e-9) is
    *     NON-ESSENTIAL — a doc matching only those terms has computed
    *     score Σ tscore < Σ ub (strict: tscore/ub ≤ tf/(tf+0.3), a
    *     ≥3e-5 relative margin at any real tf, dwarfing both the 1e-9
    *     slack and cross-order summation noise) ≤ θ ≤ final k-th, so
    *     it cannot enter the top-k even on the doc_id tiebreak.
    *     Candidates = docs matching ≥1 essential term.
    *
    * Losslessness guards: a term absent from the frozen `df` (df = 0
    * — appended-vocabulary postings still exist for it) gets the df=0
    * idf ceiling, making it effectively always essential; fewer than k
    * seed partials → θ = −∞ → nothing prunes (the plain plan plus
    * bound bookkeeping). The non-essential prefix is exactly the
    * HIGHEST-df terms — the posting lists that dominate matched-row
    * volume at corpus-common workloads (Bm25PruneProbe measures the
    * reduction on both 100× replicas; Bm25PruneSpec pins pruned ==
    * unpruned bit-for-bit and that pruning actually fires on a skewed
    * fixture).
    */
  private def prunedCandidates(s: SparkSession, path: String, qrel: DataFrame,
      post: DataFrame, dfRel: DataFrame, k: Int): DataFrame =
    post.join(broadcast(bm25Essential(s, path, qrel, post, dfRel, k)),
      Seq("term")).select("q_id", "doc_id").distinct()

  /** The essential (q_id, term) set of a batch — the bound bookkeeping
    * of [[prunedCandidates]], package-visible so Bm25PruneSpec can pin
    * that the non-essential prefix is non-empty on a skewed fixture.
    */
  private[queries] def bm25Essential(s: SparkSession, path: String,
      qrel: DataFrame, post: DataFrame, dfRel: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val stats = broadcast(graft.sources.BmIndex.stats(s, path))
    val ubRel = qrel.join(dfRel, Seq("term"), "left")
      .select(col("q_id"), col("ti"), col("term"),
        coalesce(col("df"), lit(0L)).as("df"))
      .crossJoin(stats)
      .withColumn("ub", idfCol(col("df"), col("n_docs")) * lit(2.2))
      .select("q_id", "ti", "term", "df", "ub")
    // the per-query highest-ub seed as ONE partial-aggregating max
    // (r20, optimization — was a row_number window: shuffle + sort +
    // rank over the same rows; a lexicographic struct max reproduces
    // the (ub DESC, ti ASC) choice exactly, (q_id, ti) is unique so the
    // trailing fields never tie-break, and the aggregate combines
    // map-side before the exchange, guide §2.3)
    val seed = ubRel
      .groupBy("q_id").agg(max(struct(col("ub"), (-col("ti")).as("nti"),
        col("term"), col("df"))).as("s"))
      .select(col("q_id"), col("s.term").as("term"), col("s.df").as("df"))
    // one-term partial scores over the seed lists, duplicate postings
    // collapsed exactly as the pivot collapses them
    val seedSc = post.join(broadcast(seed), Seq("term"))
      .groupBy("q_id", "doc_id")
      .agg(max(col("tf")).as("tf"), max(col("df")).as("df"))
      .join(graft.sources.BmIndex.doclens(s, path), Seq("doc_id"))
      .crossJoin(stats)
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .select(col("q_id"), col("doc_id"),
        tscoreCol(col("tf"), col("df"), col("dl"), col("avgdl"),
          col("n_docs")).as("sc"))
    val theta = seedSc.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, sc) => graft.functions.ScoredNeighbor(id, sc) }
      .agg(new graft.functions.TopKAggregator(k).toColumn)
      .map { case (qid, tops) =>
        (qid, if (tops.size >= k) tops.last.score else Double.NegativeInfinity) }
      .toDF("q_id", "theta")
    essentialTerms(ubRel, theta)
  }

  /** [[bm25Essential]] for a driver-side batch — the spec/probe
    * entry: derives the same pruned posting fetch the core uses.
    */
  private[queries] def bm25EssentialFor(s: SparkSession, path: String,
      queries: Seq[(Long, Seq[String])], k: Int): DataFrame = {
    import s.implicits._
    val qrel = queries
      .flatMap { case (qid, ts) => ts.zipWithIndex.map { case (t, i) => (qid, i, t) } }
      .toDF("q_id", "ti", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val bkts = allTerms.map(t => graft.sources.BmIndex.bucketOf(t).toInt).distinct
    val post = graft.sources.BmIndex.postingsForBuckets(s, path, bkts)
      .filter(col("term").isin(allTerms: _*))
    val dfRel = graft.sources.BmIndex.dfRel(s, path)
      .filter(col("term").isin(allTerms: _*))
    bm25Essential(s, path, qrel, post, dfRel, k)
  }

  /** The essential (q_id, term) set given per-term bounds and the
    * per-query threshold — broken out for Bm25PruneSpec, which pins
    * that the non-essential prefix is non-empty on a skewed fixture.
    */
  private[queries] def essentialTerms(ubRel: DataFrame,
      theta: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy("q_id").orderBy(col("ub").asc, col("ti").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ubRel.join(theta, Seq("q_id"), "left")
      .withColumn("cum", sum(col("ub")).over(wCum))
      .filter(col("theta").isNull ||
        col("cum") > col("theta") * lit(1.0 - 1e-9))
      .select("q_id", "term")
  }

  /** t14's per-term idf, as one expression tree shared by the pivot
    * path, the seed pass, and the upper bound — the IEEE-identity
    * contract requires every consumer to build the IDENTICAL op
    * sequence.
    */
  private def idfCol(df: Column, nDocs: Column): Column =
    ((nDocs - df).cast("double") + lit(0.5)) / (df.cast("double") + lit(0.5))

  /** t14's per-term score, verbatim (same casts, same written-order
    * +,*,/ as the single-query path).
    */
  private def tscoreCol(tf: Column, df: Column, dl: Column, avgdl: Column,
      nDocs: Column): Column =
    idfCol(df, nDocs) * (tf.cast("double") * lit(2.2)) /
      (tf.cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * dl.cast("double") / avgdl))

  /** The shared batch-BM25 plan both query-side representations feed —
    * factored so the Seq and relation paths are bit-identical by
    * construction. `isinTerms` = the per-term pushed filter when the
    * batch's term list is bounded (None → bucket-prune only, term
    * restriction via the query-relation join). `prune` switches on the
    * max-score candidate restriction ([[prunedCandidates]], r18) — the
    * pivot then aggregates only (q, doc) pairs that can still enter
    * the top-k, with the top-k itself unchanged (lossless by the bound
    * argument documented there; Bm25PruneSpec pins bit-equality).
    */
  private def bm25BatchCore(s: SparkSession, path: String, qrel: DataFrame,
      m: Int, isinTerms: Option[Seq[String]], k: Int,
      prune: Boolean = false): DataFrame = {
    import s.implicits._
    val bkts: Seq[Int] = isinTerms match {
      case Some(ts) => ts.map(t => graft.sources.BmIndex.bucketOf(t).toInt).distinct
      case None => qrel
        .select(pmod(Text.charFp(col("term")),
          lit(graft.sources.BmIndex.Buckets.toLong)).cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq // ≤ Buckets rows, always
    }
    val post0 = graft.sources.BmIndex.postingsForBuckets(s, path, bkts)
    val post = isinTerms.map(ts => post0.filter(col("term").isin(ts: _*)))
      .getOrElse(post0)
    // per-query frozen dfs — needed below for the pivot AND (pruned
    // path) for the per-term upper bounds
    val dfRel0 = graft.sources.BmIndex.dfRel(s, path)
    val dfRel = isinTerms.map(ts => dfRel0.filter(col("term").isin(ts: _*)))
      .getOrElse(dfRel0)
    val matched0 = post.join(broadcast(qrel), Seq("term"))
    val matched =
      if (!prune) matched0
      else matched0.join(prunedCandidates(s, path, qrel, post, dfRel, k),
        Seq("q_id", "doc_id"), "left_semi")
    // pivot to fixed-width per-position columns; max() both collapses
    // replayed duplicate postings AND is the pivot aggregate (a clean
    // index has exactly one (term, doc) row per position)
    val tfAggs = (0 until m).map(i =>
      coalesce(max(when(col("ti") === i, col("tf"))), lit(0L)).as(s"tf$i"))
    val tfs = matched.groupBy("q_id", "doc_id").agg(tfAggs.head, tfAggs.tail: _*)
    // per-query frozen dfs, pivoted the same way — n_q rows, broadcast
    val dfAggs = (0 until m).map(i =>
      coalesce(max(when(col("ti") === i, col("df"))), lit(0L)).as(s"df$i"))
    val dfq = broadcast(qrel
      .join(dfRel, Seq("term"), "left")
      .select(col("q_id"), col("ti"), coalesce(col("df"), lit(0L)).as("df"))
      .groupBy("q_id").agg(dfAggs.head, dfAggs.tail: _*))
    // t14's expression tree, verbatim — the IEEE-identity contract
    def tscore(i: Int): Column =
      tscoreCol(col(s"tf$i"), col(s"df$i"), col("dl"), col("avgdl"), col("n_docs"))
    val scored = tfs
      .join(graft.sources.BmIndex.doclens(s, path), Seq("doc_id"))
      .crossJoin(broadcast(graft.sources.BmIndex.stats(s, path)))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .join(dfq, Seq("q_id"))
      .select(col("q_id"), col("doc_id"),
        (0 until m).map(tscore).reduce(_ + _).as("score"))
    // top-k per query through the v04 bounded-heap Aggregator, NOT a
    // rank window: a window partitioned by q_id shuffles and sorts
    // every scored (q_id, doc) row — n_q × matched-docs rows (measured
    // 292 s at n_q=1000 × corpus-common terms on the 100× replica,
    // Bm25BatchProbe r16) — where the algebraic aggregate reduces each
    // map partition to k rows per query before the exchange (k × n_q ×
    // partitions rows cross, no sort). Same (score desc, doc_id asc)
    // total order, so the output — and the driver hash — is identical.
    val typed = scored.select(col("q_id"), col("doc_id"), col("score"))
      .as[(Long, Long, Double)]
    typed.groupByKey(_._1)
      .mapValues { case (_, id, sc) => graft.functions.ScoredNeighbor(id, sc) }
      .agg(new graft.functions.TopKAggregator(k).toColumn)
      .flatMap { case (qid, tops) =>
        tops.zipWithIndex.map { case (t, i) =>
          (qid, (i + 1).toLong, t.neighbor_id, t.score) }
      }
      .toDF("q_id", "rank", "doc_id", "score")
      .orderBy("q_id", "rank")
  }

  /** The fixed deterministic query batch the t16 gate serves (and its
    * spec replays query-by-query): t14's query, two more over the
    * fixture vocabulary at different term counts, and one carrying an
    * out-of-vocabulary term (df = 0 — contributes exactly 0.0).
    */
  private[graft] val T16Batch: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("dup", "vector", "spark"),
    1L -> Seq("merge", "sort"),
    2L -> Seq("stream", "batch", "window", "query"),
    3L -> Seq("hash", "zebra"))

  /** t20's fixed batch: T16Batch's four queries plus the two shapes
    * the router exists to tell apart — a single-term query (seed pass
    * = pure duplication, plain must win) and a rare-seed + common-
    * context query (the prune's home regime). The gate's point is the
    * MIX: whatever the router decides for this batch, the output must
    * equal the generated oracle — routing is a speed decision only.
    */
  private[graft] val T20Batch: Seq[(Long, Seq[String])] = T16Batch ++ Seq(
    4L -> Seq("dup"),
    5L -> Seq("dup", "data", "value", "table"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-document stats come from the compiled tokenStats kernel (one
    // JVM pass per row) rather than Catalyst HOF lambdas, which evaluate
    // interpreted — same values, see Text.tokenStatsStr.
    "t01_token_stats" -> ((s, dir) => {
      // output-order sort BELOW the kernel (the t08 pattern): the range
      // sampling pass then never recomputes tokenStats, and the kernel
      // runs once, post-shuffle, at full parallelism
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(col("doc_id"), Text.tokenStats(col("text")).as("st"))
        .select(col("doc_id"),
          col("st._1").as("n_tokens"),
          col("st._2").as("n_distinct"),
          (col("st._3").cast("double") / col("st._1")).as("avg_token_len"),
          (col("st._2").cast("double") / col("st._1")).as("type_token_ratio"))
    }),

    "t02_lang_id" -> ((s, dir) => {
      // one LangHits kernel pass (round 10) — the old four stopHits
      // columns each paid a tokenization plus an INTERPRETED HOF
      // filter scan (counts identical; 12.9 s → 2.6 s at 100x)
      val h = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), Text.langHits(col("text")).as("lh"))
        .select(col("doc_id"), col("lang"),
          col("lh.h_en").as("h_en"), col("lh.h_es").as("h_es"),
          col("lh.h_de").as("h_de"), col("lh.h_fr").as("h_fr"))
      h.select(col("lang"),
          when(col("h_en") === 0 && col("h_es") === 0 && col("h_de") === 0 && col("h_fr") === 0, "und")
            .when(col("h_en") >= col("h_es") && col("h_en") >= col("h_de") && col("h_en") >= col("h_fr"), "en")
            .when(col("h_es") >= col("h_de") && col("h_es") >= col("h_fr"), "es")
            .when(col("h_de") >= col("h_fr"), "de")
            .otherwise("fr").as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "lang_pred")
    }),

    // Score computed by the compiled qualityScore kernel — the SAME IEEE
    // double op sequence as the oracle's $SCORE expression (term order,
    // left-assoc adds), see Text.qualityScoreStr.
    "t03_quality_score" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("source"), Text.qualityScore(col("text")).as("score"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("score") < 0.5, 1L).otherwise(0L)).as("n_low_quality"),
          // floor(score·1e6) is bit-exact on identical doubles, unlike a
          // double→decimal cast whose rounding differs across engines.
          sum(floor(col("score") * lit(1000000.0)).cast("long")).as("sum_score_micros"))
        .orderBy("source")
    }),

    // BPE-ish tokenization: alpha runs | digit runs | single symbols,
    // plus length-capped subword pieces — the brief's "whitespace + a
    // BPE-ish regex" token-counting pair (t01 covers whitespace).
    "t05_token_regex" -> ((s, dir) => {
      // sort below the regexes (t08 pattern): 56.3 s -> measured post-fix
      // in BENCHNOTES at the 100x replica
      Tables(s, dir, "documents")
        .select(col("doc_id"), lower(col("text")).as("lt"))
        .orderBy("doc_id")
        .select(col("doc_id"),
          size(regexp_extract_all(col("lt"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe_tokens"),
          size(regexp_extract_all(col("lt"), lit("[a-z]{1,4}"), lit(0))).as("n_subword_pieces"))
    }),

    "t04_doc_fingerprint" -> ((s, dir) => {
      // sort below the shingle/hash kernels (t08 pattern)
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(col("doc_id"), col("text"),
          Text.distinctShingles(col("text")).as("sh"))
        .select(col("doc_id"),
          Text.charFp(col("text")).as("full_hash"),
          array_min(Text.fps(col("sh"))).as("min_shingle_fp"),
          size(col("sh")).as("n_shingles"))
    }),

    // Sequence-length histogram (16-token buckets): the distribution a
    // packing/truncation stage needs before training. Full scan + tiny
    // agg with map-side combine — one shuffle of ≤ #buckets rows.
    "t06_seq_len_hist" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(Text.tokenStats(col("text")).getField("_1").as("n"))
        .select(floor(col("n") / lit(16.0)).cast("int").as("len_bucket"), col("n"))
        .groupBy("len_bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n")).as("min_tokens"),
          max(col("n")).as("max_tokens"),
          sum(col("n")).as("sum_tokens"))
        .orderBy("len_bucket")
    }),

    // Corpus-level top-k bigram frequencies: explode → hash agg. The
    // partial (map-side) agg bounds shuffle rows by vocab size per
    // partition, and the final top-20 is a TakeOrdered, not a full sort.
    "t07_bigram_topk" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(explode(Text.shinglesAll(col("text"), 2)).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    }),

    // PII detection + redaction. The synthetic corpus carries no PII, so
    // the query injects a deterministic email + phone per doc and then
    // detects/redacts them — exercising the regex pipeline end-to-end in
    // both engines. Pure per-row map stage: no shuffle at any scale.
    "t08_pii_redact" -> ((s, dir) => {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\+63-917-[0-9]{7}"
      // the SORT sits BELOW the regex projection, deliberately: a
      // trailing orderBy above an expensive projection makes the
      // range-partitioner's sampling pass compute the projection a
      // second time AND shuffles the wide redacted rows; sorting the
      // narrow (doc_id, txt) input first shuffles raw text only, runs
      // the regexes exactly once, and the per-row projection preserves
      // the sort order. Measured on the 100x salted replica: 122.7 s
      // (project-then-sort) -> 5.3 s (this shape) — the post-shuffle
      // stage also restores full parallelism when the input is one
      // big parquet file (scan stage = file-split count, sort output
      // = spark.sql.shuffle.partitions).
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +63-917-"),
            lpad(col("doc_id").cast("string"), 7, "0")).as("txt"))
        .orderBy("doc_id")
        .select(col("doc_id"),
          size(regexp_extract_all(col("txt"), lit(email), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("txt"), lit(phone), lit(0))).as("n_phones"),
          length(regexp_replace(regexp_replace(col("txt"), email, "<EMAIL>"),
            phone, "<PHONE>")).as("redacted_len"))
    }),

    // Deterministic content-addressed dataset split: membership = the
    // portable hash of the text mod 100 (80/10/10) — reproducible across
    // engines, runs, and cluster sizes with no RNG state, and duplicate
    // texts always land in the same split (no train/test contamination
    // from exact dups). The way a training pipeline pins membership.
    "t10_hash_split" -> ((s, dir) => {
      val h = pmod(Text.charFp(col("text")), lit(100L))
      Tables(s, dir, "documents")
        .select(col("source"),
          when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "split")
    }),

    // Concatenate-then-chunk sequence packing (the GPT-style pack): per
    // source, docs concatenate in doc_id order and chunk every 512
    // tokens; a doc belongs to the chunk its first token lands in.
    // THE declared packing query is the skew-safe salted formulation
    // (saltedCum below); its oracle SQL is the naive whole-source
    // prefix sum, so the driver gate itself proves the two-level scan
    // indistinguishable from the textbook window. The naive Spark
    // formulation survives only as [[packChunksNaive]], an equivalence
    // witness pinned in PackEquivalenceSpec — it sorts a whole source
    // in one task, which a hot source at 100 TB cannot afford, so no
    // consumer-facing entry exposes it.
    "t11_pack_salted" -> ((s, dir) => {
      saltedCum(s, dir)
        .withColumn("chunk_id",
          floor((col("cum") - col("n_tokens")) / lit(512.0)).cast("int"))
        .groupBy("source", "chunk_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("chunk_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("source", "chunk_id")
    }),

    // N-gram repetition ratio — the pretraining quality heuristic that
    // catches boilerplate/templated text (high duplicate-3-gram mass):
    // rep = 1 − distinct/total shingles. Pure per-row map + one tiny
    // per-source agg; both engines derive the double from the same two
    // integers.
    // Count-Min heavy hitters — the fourth classic sketch next to
    // x01 (HLL), x02 (KLL), x03 (Bloom): estimate the top-10 bigram
    // frequencies from ONE mergeable CMS pass instead of a full
    // groupBy — at 100 TB the sketch is the streaming/partial-agg
    // path for "what's trending" over a corpus (mergeable across
    // shards and micro-batches; the exact groupBy here is the gate's
    // oracle twin, not the production path). Sketch-gated like
    // x01-x03: only oracle-computable columns plus two flags from the
    // CMS contract — never_under (CMS never underestimates —
    // deterministic) and overest_bounded (est ≤ exact + 4·eps·N; with
    // a FIXED seed and fixed fixture the estimate is deterministic,
    // so the flag can't flake — verified at all three SFs). The
    // oracle emits the exact counts and literal 1s.
    "x04_cms_heavy_hitters" -> ((s, dir) => {
      val eps = 0.001
      // r11: ONE corpus tokenization pass. The old shape tokenized the
      // corpus twice — once under the builtin count_min_sketch agg
      // (one sketch update per OCCURRENCE), once for the exact counts
      // the gate needs anyway. Now the exact counts come first (lazy
      // localCheckpoint: the CMS job materializes them, the top-10 job
      // reads the blocks — a vocabulary-bound relation, the d02/cp
      // idiom) and the sketch folds over the COUNTED pairs via
      // graft_cms_weighted — counter updates commute, so the sketch is
      // identical to the builtin's (CmsWeightedSpec pins it) at one
      // update per DISTINCT bigram. Salted 100×: 26.6M occurrences /
      // 16.5M distinct and the second corpus pass gone.
      val counts = Tables(s, dir, "documents")
        .select(explode(Text.shinglesAll(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("exact_n"))
        .localCheckpoint(eager = false)
      val row = counts.agg(
        graft.functions.CmsWeighted(col("bigram"), col("exact_n"), eps, 0.99, 42).as("cms"),
        sum(col("exact_n")).as("n")).first()
      val (cmsBytes, nTotal) = (row.getAs[Array[Byte]](0), row.getLong(1))
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(cmsBytes))
      // r12: codegen probe (functions/SketchProbes.scala), not a UDF
      val est = (b: Column) => graft.functions.SketchProbes.cmsEstimate(b, cms)
      val slack = math.ceil(4 * eps * nTotal).toLong
      counts
        .orderBy(col("exact_n").desc, col("bigram")).limit(10)
        .select(col("bigram"), col("exact_n"),
          when(est(col("bigram")) >= col("exact_n"), lit(1L))
            .otherwise(lit(0L)).as("never_under"),
          when(est(col("bigram")) <= col("exact_n") + lit(slack), lit(1L))
            .otherwise(lit(0L)).as("overest_bounded"))
        .orderBy(col("exact_n").desc, col("bigram"))
    }),

    // Per-doc keyword extraction over the doc-term matrix — the
    // corpus-analysis step feeding topic clustering / domain tagging:
    // top-3 terms per doc ranked (tf DESC, df ASC, term) — "most
    // frequent, rarest first", the TF-IDF order made INTEGER-exact.
    // (True float TF-IDF is a one-line swap — tf·ln(N/df) — but ln()
    // is libm-dependent and a floor()ed score could straddle a ULP
    // across engines; the lexicographic rank carries the same signal
    // with zero float arithmetic, so the gate stays hash-exact by
    // construction.) Scale: tf pays NO shuffle — a doc's tokens all
    // live in its own row, so the TermCounts kernel emits the
    // (term, tf) pairs in the scan and only the already-counted
    // doc-term matrix moves (round-10 rewrite: the old explode →
    // groupBy(doc_id, term) crossed every pair just to merge-count it
    // with itself — 47.0 s → 14.7 s at the 100x point); df is one shuffle
    // on term (partial agg collapses to per-partition distinct terms);
    // the per-doc ranking window partitions on doc_id — thousands of
    // tiny partitions, no skew.
    "t13_keyword_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tf = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(Text.termCounts(col("text"))).as("tc"))
        .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("term"))
      tf.join(df, "term")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("term"), col("tf"), col("df"))
        .orderBy("doc_id", "rank")
    }),

    // BM25-style lexical relevance ranking (Robertson-Spärck Jones,
    // public BM25 form with k1=1.2, b=0.75) for a fixed 3-term query —
    // the retrieval step of corpus curation (find the docs most "about"
    // a topic before sampling/inspection). The idf uses the RATIONAL
    // form (N - df + 0.5)/(df + 0.5) WITHOUT the usual ln(): ln is
    // libm-dependent and would straddle ULPs across engines, while the
    // rational idf preserves the ranking signal using only IEEE-exact
    // +,*,/ — the same determinism-over-libm tradeoff t13 documents.
    // Per-term scores sum in fixed written order, so the double is
    // bit-identical in both engines. Scale: tf/dl are per-row
    // expressions (array_remove diff, no explode); the corpus-level
    // stats (N, avgdl, per-term df) are ONE tiny agg broadcast back;
    // the final top-20 is TakeOrdered, never a global sort.
    // BM25 served from the PERSISTED inverted index (r15 — the v10c
    // "production shape under the same hash gate" progression applied
    // to the search family): buildBm25Index derives postings/doclens
    // ONCE and persists them with FROZEN ranking stats (BmIndex); the
    // query computes its terms' hash buckets driver-side and pushes
    // them as a static isin → PartitionFilters, so the posting fetch
    // reads ≤ k of the 64 bucket directories, never the corpus; it
    // then aggregates per-doc tfs and scores through t14's EXACT
    // expression tree over the loaded (dl, tf, df, n_docs, avgdl) —
    // same IEEE op sequence, so the output is row-identical to the
    // two-pass in-query t14 and the ORACLE IS t14's VERBATIM. A suite
    // session builds the index once (reuseArtifact, deterministic
    // build); standalone rebuilds into the fixed scratch path.
    "t15_bm25_indexed" -> ((s, dir) => {
      val path = graft.SharedProjections.reuseArtifact("bm25_idx", dir) {
        val p = Similarity.scratchPath("bm25", dir)
        buildBm25Index(s, dir, p)
        p
      }
      bm25Indexed(s, path, Seq("dup", "vector", "spark"))
    }),

    // BM25 served for a BATCH of queries from the persisted index —
    // the distributed query side under the driver's hash gate (the
    // v11b/v12c progression applied to the search family): the fixed
    // deterministic 4-query batch [[T16Batch]] flows through
    // [[bm25Batch]]'s (q_id, ti, term) relation, one Spark job for the
    // whole batch. Matched docs score through t14's exact expression
    // tree (the +0.0 padding identity makes the fixed-width fold equal
    // each query's written-order sum bit for bit); the oracle mirrors
    // the batch as one WITH block per query over the same corpus
    // statistics, matched-only, UNION ALL'd. Suite sessions reuse the
    // t15-shared index build.
    "t16_bm25_batch" -> ((s, dir) => {
      val path = graft.SharedProjections.reuseArtifact("bm25_idx", dir) {
        val p = Similarity.scratchPath("bm25", dir)
        buildBm25Index(s, dir, p)
        p
      }
      bm25Batch(s, path, T16Batch, k = 10)
    }),

    // batch BM25 with the query set as a TABLE (r17, verdict ask #1 —
    // the relation-native form under the driver's hash): the fixed
    // batch is WRITTEN to a parquet query table first and served
    // through [[bm25BatchRel]], which derives the pivot width and the
    // bucket prune from the relation itself — nothing about the batch
    // ever lives in a driver Seq on the serving path. Same core as
    // t16 (Bm25BatchSpec pins Seq == relation bit-for-bit), so t16's
    // generated oracle applies verbatim.
    "t18_bm25_batch_rel" -> ((s, dir) => {
      val path = graft.SharedProjections.reuseArtifact("bm25_idx", dir) {
        val p = Similarity.scratchPath("bm25", dir)
        buildBm25Index(s, dir, p)
        p
      }
      val qp = Similarity.scratchPath("t18q", dir)
      import s.implicits._
      T16Batch
        .flatMap { case (q, ts) => ts.zipWithIndex.map { case (t, i) => (q, i, t) } }
        .toDF("q_id", "ti", "term")
        .repartition(1).write.mode("overwrite").parquet(qp)
      bm25BatchRel(s, path, s.read.parquet(qp), k = 10)
    }),

    // batch BM25 with MAX-SCORE candidate pruning (r18, verdict ask #1
    // — exact top-k without scoring every matched row): the same fixed
    // batch through [[bm25BatchPruned]], gated under t16's oracle —
    // pruning must be LOSSLESS, so the gate is bit-equal to t16 by
    // contract (and Bm25PruneSpec pins it per row at raw-bits
    // granularity). The plan seeds a per-query k-th-score threshold
    // from the rarest term's short posting list, then drops the
    // highest-df terms whose cumulative score ceiling cannot reach it
    // — candidate volume at corpus-common workloads shrinks by
    // exactly the lists that dominate it (Bm25PruneProbe).
    "t19_bm25_batch_pruned" -> ((s, dir) => {
      val path = graft.SharedProjections.reuseArtifact("bm25_idx", dir) {
        val p = Similarity.scratchPath("bm25", dir)
        buildBm25Index(s, dir, p)
        p
      }
      bm25BatchPruned(s, path, T16Batch, k = 10)
    }),

    // batch BM25 through the REGIME ROUTER (r19, verdict ask #1 — the
    // production serving entry): the mixed-regime batch [[T20Batch]]
    // (T16Batch + a single-term query + a rare-seed/common-context
    // query) is persisted as a query table and served through
    // [[bm25Serve]], which picks plain vs max-score-pruned PER BATCH
    // from the frozen df part's skew statistic. The gate hashes the
    // generated oracle for the batch, so it is green WHICHEVER path
    // the router picks — the router is a speed dial, provably unable
    // to change answers (the prune's losslessness gate t19 + this).
    // The router's four-workload decision-vs-measured-winner table is
    // Bm25PruneProbe's (both 100× replicas); Bm25RouteSpec pins the
    // decision direction on controlled skews.
    "t20_bm25_routed" -> ((s, dir) => {
      val path = graft.SharedProjections.reuseArtifact("bm25_idx", dir) {
        val p = Similarity.scratchPath("bm25", dir)
        buildBm25Index(s, dir, p)
        p
      }
      val qp = Similarity.scratchPath("t20q", dir)
      import s.implicits._
      T20Batch
        .flatMap { case (q, ts) => ts.zipWithIndex.map { case (t, i) => (q, i, t) } }
        .toDF("q_id", "ti", "term")
        .repartition(1).write.mode("overwrite").parquet(qp)
      bm25Serve(s, path, s.read.parquet(qp), k = 10)
    }),

    // PER-QUERY routing over the same mixed batch (r19 — the split
    // refinement): every query routes itself off the frozen dfs, the
    // halves run their own cores with their own term pushes, and the
    // union must STILL equal the generated oracle — green whichever
    // way each query routes, because per-query routing composes t19's
    // losslessness query by query. Bm25SplitSpec pins raw-bits
    // equality (and that the decisions genuinely diverge) on a
    // controlled corpus.
    "t21_bm25_split" -> ((s, dir) => {
      val path = graft.SharedProjections.reuseArtifact("bm25_idx", dir) {
        val p = Similarity.scratchPath("bm25", dir)
        buildBm25Index(s, dir, p)
        p
      }
      val qp = Similarity.scratchPath("t21q", dir)
      import s.implicits._
      T20Batch
        .flatMap { case (q, ts) => ts.zipWithIndex.map { case (t, i) => (q, i, t) } }
        .toDF("q_id", "ti", "term")
        .repartition(1).write.mode("overwrite").parquet(qp)
      bm25ServeSplit(s, path, s.read.parquet(qp), k = 10)
    }),

    // BM25 served from a STREAMING-MAINTAINED index (r20, verdict ask
    // #1 — the maintenance LOOP closed for the search family, v15's
    // shape): bootstrap on the deterministic lower half (freezing
    // df/n_docs/avgdl there), pin a reader on the bootstrap
    // generation, then ingest the upper half through a REAL Structured
    // Streaming file source (one file per micro-batch) via
    // [[graft.streaming.IndexIngest.bm25Maintained]] — each batch
    // appends under the frozen stats, reads the drift probe, and when
    // appended_frac crosses 0.45 REBUILDS the index with REFRESHED
    // statistics inside foreachBatch. The threshold is sized so the
    // policy fires exactly at the final batch's cumulative 0.5
    // regardless of file order (2-batch cumulative ≈ 0.4 — batch
    // boundaries are repartition(3)'s near-equal split), making the
    // final artifact deterministic: a full-corpus rebuild. The ORACLE
    // is therefore t14's EXACT full-corpus SQL — the refreshed stats
    // ARE the full-corpus stats, which is precisely what
    // distinguishes this gate from t17's frozen-stats serving (same
    // stream, no maintenance, bootstrap-stats oracle). In-gate
    // requires: the policy fired (driver-observed), and the PINNED
    // pre-stream reader still serves the bootstrap content
    // bit-for-bit after the rebuild swap (generation retention — its
    // resolved file snapshot outlives the publish). Ranking-visible
    // staleness (frozen top-k ≠ refreshed top-k on a planted df
    // shift) is BmMaintainedSpec's pin on a controlled corpus.
    "t22_bm25_maintained" -> ((s, dir) => {
      val path = graft.SharedProjections.reuseArtifact("bm25m_idx", dir) {
        val p = Similarity.scratchPath("bm25m", dir)
        val stage = Similarity.scratchPath("bm25m-stage", dir)
        val ck = Similarity.scratchPath("bm25m-ck", dir)
        for (d <- Seq(stage, ck)) {
          val hp = new org.apache.hadoop.fs.Path(d)
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
        }
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        val cut = docs.agg(expr("percentile(doc_id, 0.5)"))
          .head().getDouble(0).toLong
        buildBm25IndexOver(s, docs.filter(col("doc_id") <= cut), p)
        // pinned reader: file lists (all four parts) resolve HERE —
        // raw score bits collected pre-stream are the expectation
        val pinned = bm25Indexed(s, p, Seq("dup", "vector", "spark"))
        def bits(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
          (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
            java.lang.Double.doubleToRawLongBits(r.getDouble(4)))).toSeq
        val preBits = bits(pinned.collect())
        docs.filter(col("doc_id") > cut).repartition(3)
          .write.mode("overwrite").parquet(stage)
        val rebuilds = new java.util.concurrent.atomic.AtomicInteger(0)
        val q = graft.streaming.IndexIngest.start(
          s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1").parquet(stage),
          graft.streaming.IndexIngest.bm25Maintained(p, threshold = 0.45,
            onRebuild = () => { rebuilds.incrementAndGet(); () }),
          checkpointDir = Some(ck))
        q.processAllAvailable()
        q.stop()
        require(rebuilds.get() >= 1,
          s"t22: the in-stream policy must fire (rebuilds=${rebuilds.get()})")
        require(bits(pinned.collect()) == preBits,
          "t22: the pinned pre-stream reader must keep serving the " +
            "bootstrap content bit-for-bit across the rebuild swap")
        p
      }
      bm25Indexed(s, path, Seq("dup", "vector", "spark"))
    }),

    // BM25 served from a STREAMING-BUILT index (r16, verdict stretch
    // #7 — the streaming-maintenance story itself under the driver's
    // hash): bootstrap the index on the deterministic lower half of
    // doc_ids (freezing df/n_docs/avgdl there — the stale-index
    // serving contract), then ingest the upper half through a REAL
    // Structured Streaming query (file source, one file per
    // micro-batch, the ingest loop's foreachBatch append with replay
    // absorption), and serve the fixed t14 query from the result. The
    // ORACLE mirrors the frozen-stats contract exactly: tf/dl over the
    // full corpus, df/n_docs/avgdl computed ONLY over the bootstrap
    // half — so the gate hashes precisely what incremental serving
    // between rebuilds returns (NOT t14's full-corpus stats; that
    // equality would only hold for a full-corpus build, which would
    // leave the stream nothing to do). Batch-boundary-independent:
    // appends commute (disjoint ids, per-doc rows, frozen stats), so
    // the file→batch split never moves the hash. Micro-batch append
    // mechanics == batch append mechanics is the ingest specs' pin; this
    // gate adds the driver hash over the stream-assembled artifact.
    "t17_bm25_streamed" -> ((s, dir) => {
      val path = graft.SharedProjections.reuseArtifact("bm25s_idx", dir) {
        val p = Similarity.scratchPath("bm25s", dir)
        val stage = Similarity.scratchPath("bm25s-stage", dir)
        val ck = Similarity.scratchPath("bm25s-ck", dir)
        // mutable scratch → wipe first: a leftover checkpoint would
        // mark the staged files already-processed and skip the ingest
        for (d <- Seq(stage, ck)) {
          val hp = new org.apache.hadoop.fs.Path(d)
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
        }
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        val cut = docs.agg(expr("percentile(doc_id, 0.5)"))
          .head().getDouble(0).toLong
        buildBm25IndexOver(s, docs.filter(col("doc_id") <= cut), p)
        // stage the upper half as 3 files = 3 micro-batches
        docs.filter(col("doc_id") > cut).repartition(3)
          .write.mode("overwrite").parquet(stage)
        val q = graft.streaming.IndexIngest.start(
          s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1").parquet(stage),
          graft.streaming.IndexIngest.bm25(p), checkpointDir = Some(ck))
        q.processAllAvailable()
        q.stop()
        p
      }
      bm25Indexed(s, path, Seq("dup", "vector", "spark"))
    }),

    "t14_bm25_search" -> ((s, dir) => {
      val qterms = Seq("dup", "vector", "spark")
      // r11: dl + all three tf's from ONE QueryTf kernel pass — the
      // old shape ran the interpreted tokens HOF plus an array_remove
      // COPY per term, and BM25's two passes (stats, scoring) paid it
      // twice; integers are identical by construction (TextSpec pins
      // kernel == HOF parity), so the gate is untouched
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), Text.queryTf(col("text"), qterms).as("q"))
        .select(col("doc_id"), col("q.dl").as("dl"),
          col("q.tf")(0).as("tf0"), col("q.tf")(1).as("tf1"), col("q.tf")(2).as("tf2"))
      val stats = base.agg(
        count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"),
        sum(when(col("tf0") > 0, 1L).otherwise(0L)).as("df0"),
        sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
        sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"))
      def idf(i: Int): Column =
        ((col("n_docs") - col(s"df$i")).cast("double") + lit(0.5)) /
          (col(s"df$i").cast("double") + lit(0.5))
      def tscore(i: Int): Column =
        idf(i) * (col(s"tf$i").cast("double") * lit(2.2)) /
          (col(s"tf$i").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
      base.crossJoin(broadcast(stats))
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
        .select(col("doc_id"),
          col("tf0").as("tf_dup"), col("tf1").as("tf_vector"), col("tf2").as("tf_spark"),
          (tscore(0) + tscore(1) + tscore(2)).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),

    // HLL sketch MERGE across sources — the mergeability demo that IS
    // the sketch scale story: per-source sketches build independently
    // (shard-local partials at 100 TB), and the corpus-wide distinct
    // estimate comes from hll_union_agg over the 20 tiny sketch blobs,
    // NOT from rescanning the corpus. Sketch-gated like x01-x04: the
    // declared output carries the oracle-computable exact distincts
    // plus a within_bound flag from the HLL error contract (lgK=12 →
    // rsd ≈ 1.63%; bound = max(3·rsd·exact, 1)); the oracle emits
    // literal 1, so an estimate regression breaks the hash. Raw
    // estimates stay visible to SketchBoundsSpec via [[x05Raw]].
    "x05_hll_union" -> ((s, dir) =>
      x05Raw(s, dir)
        .select(col("source"), col("exact_distinct"),
          when(abs(col("est").cast("double") - col("exact_distinct").cast("double"))
            <= greatest(col("exact_distinct").cast("double") * lit(3 * HllRsd), lit(1.0)),
            lit(1L)).otherwise(lit(0L)).as("within_bound"))
        .orderBy("source")),

    "t12_repetition" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("source"),
          size(Text.shinglesAll(col("text"), 3)).as("tot"),
          size(Text.distinctShingles(col("text"))).as("dst"))
        .select(col("source"),
          when(col("tot") > 0,
            lit(1.0) - col("dst").cast("double") / col("tot"))
            .otherwise(lit(0.0)).as("rep"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rep") > 0.2, 1L).otherwise(0L)).as("n_repetitive"),
          sum(floor(col("rep") * lit(1000000.0)).cast("long")).as("sum_rep_micros"))
        .orderBy("source")
    }),

    // The per-document chunk ASSIGNMENT map a training job actually
    // consumes: doc_id → (chunk_id, global token_start, offset within
    // the chunk). t11 aggregates per chunk; this is the same salted
    // prefix sum projected per doc — one row per document, no extra
    // shuffle beyond the windows it already pays.
    "p02_chunk_assignments" -> ((s, dir) => {
      val start = col("cum") - col("n_tokens")
      saltedCum(s, dir)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          floor(start / lit(512.0)).cast("int").as("chunk_id"),
          start.as("token_start"),
          (start - floor(start / lit(512.0)).cast("int") * 512).as("offset_in_chunk"))
        .orderBy("doc_id")
    })
  )

  /** Datasketches-HLL relative standard deviation at lgConfigK=12. */
  private[graft] val HllRsd: Double = 1.04 / math.sqrt((1 << 12).toDouble)

  /** The full-corpus t14 BM25 oracle for the fixed (dup, vector,
    * spark) query — every arithmetic step mirrors the Spark tree node
    * for node (the IEEE-identity contract). Shared by t14 (in-query),
    * t15 (served from the persisted index — same values by the index
    * round-trip), and t22 (served post-maintenance-rebuild — same
    * values because the refreshed statistics are the full-corpus
    * statistics).
    */
  private def fullCorpusBm25Sql: String =
    s"""WITH d AS (SELECT doc_id, $TOKS AS tk FROM documents),
       |b AS (SELECT doc_id, CAST(len(tk) AS INT) AS dl,
       |  CAST(len([t for t in tk if t = 'dup']) AS INT) AS tf0,
       |  CAST(len([t for t in tk if t = 'vector']) AS INT) AS tf1,
       |  CAST(len([t for t in tk if t = 'spark']) AS INT) AS tf2 FROM d),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
       |  CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
       |  CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
       |  CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2 FROM b),
       |j AS (SELECT b.*, st.*, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl FROM b, st)
       |SELECT doc_id, tf0 AS tf_dup, tf1 AS tf_vector, tf2 AS tf_spark,
       |  (CAST(n_docs - df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5)
       |    * (CAST(tf0 AS DOUBLE) * 2.2)
       |    / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
       |  + (CAST(n_docs - df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5)
       |    * (CAST(tf1 AS DOUBLE) * 2.2)
       |    / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
       |  + (CAST(n_docs - df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5)
       |    * (CAST(tf2 AS DOUBLE) * 2.2)
       |    / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
       |  AS score
       |FROM j ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** t16's oracle, GENERATED from [[T16Batch]] so the gate's query set
    * is single-sourced: one WITH block per query computing t14's exact
    * per-doc score over the full corpus statistics (every arithmetic
    * step mirrors the Spark tree node for node — the t14/t15
    * IEEE-identity contract), ranked over MATCHED docs only (any
    * tf > 0 — bm25Batch's production contract), UNION ALL'd.
    */
  private def t16OracleSql(k: Int): String = batchOracleSql(T16Batch, k)

  /** The batch-BM25 oracle generator, single-sourced from the fixed
    * batch constant each gate serves (t16/t18/t19 over [[T16Batch]],
    * t20 over [[T20Batch]]).
    */
  private def batchOracleSql(batch: Seq[(Long, Seq[String])], k: Int): String = {
    val blocks = batch.map { case (qid, terms) =>
      val tfDefs = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len([t for t in tk if t = '$t']) AS INT) AS tf$i" }.mkString(",\n  ")
      val dfDefs = terms.indices.map(i =>
        s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
        .mkString(",\n  ")
      val score = terms.indices.map(i =>
        s"""(CAST(n_docs - df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5)
           |    * (CAST(tf$i AS DOUBLE) * 2.2)
           |    / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))"""
          .stripMargin).mkString("\n  + ")
      val matched = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
      s"""b$qid AS (SELECT doc_id, CAST(len(tk) AS INT) AS dl,
         |  $tfDefs FROM d),
         |st$qid AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
         |  $dfDefs FROM b$qid),
         |j$qid AS (SELECT b$qid.*, st$qid.*, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl
         |  FROM b$qid, st$qid),
         |s$qid AS (SELECT doc_id, $score
         |  AS score FROM j$qid WHERE $matched),
         |r$qid AS (SELECT CAST($qid AS BIGINT) AS q_id,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
         |  doc_id, score FROM s$qid)""".stripMargin
    }
    val union = batch.map { case (qid, _) => s"SELECT * FROM r$qid" }
      .mkString("\n  UNION ALL ")
    s"""WITH d AS (SELECT doc_id, $TOKS AS tk FROM documents),
       |${blocks.mkString(",\n")}
       |SELECT q_id, rank, doc_id, score FROM (
       |  $union
       |) WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
  }

  /** x05 raw estimates: per-source (exact distinct, HLL estimate) rows
    * plus the 'ALL' row whose estimate comes from MERGING the per-source
    * sketches — never from a second corpus scan. SketchBoundsSpec pins
    * the raw estimate-vs-exact gap; the declared x05 derives the flag.
    */
  private[graft] def x05Raw(s: SparkSession, dir: String): DataFrame = {
    val fps = Tables(s, dir, "documents")
      .select(col("source"), graft.functions.Text.charFp(col("text")).as("fp"))
    val per = fps.groupBy("source").agg(
      hll_sketch_agg(col("fp"), 12).as("sk"),
      countDistinct(col("fp")).as("exact_distinct"))
    val perOut = per.select(col("source"), col("exact_distinct"),
      hll_sketch_estimate(col("sk")).as("est"))
    val allOut = per.agg(hll_union_agg(col("sk"), allowDifferentLgConfigK = false).as("sk"))
      .crossJoin(fps.agg(countDistinct(col("fp")).as("exact_distinct")))
      .select(lit("ALL").as("source"), col("exact_distinct"),
        hll_sketch_estimate(col("sk")).as("est"))
    perOut.unionByName(allOut)
  }

  /** The naive packing formulation — one window sorting each whole
    * source in a single task. NOT a declared query (skewed-window
    * shape); kept solely as the equivalence witness that the salted
    * two-level scan (t11) is bit-identical, asserted in
    * PackEquivalenceSpec on the driver fixtures.
    */
  private[graft] def packChunksNaive(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        Text.tokenStats(col("text")).getField("_1").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("chunk_id",
        floor((col("cum") - col("n_tokens")) / lit(512.0)).cast("int"))
      .groupBy("source", "chunk_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("chunk_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "chunk_id")
  }

  /** Global per-doc running token sum within each source, skew-safely:
    * salt = contiguous doc_id blocks of 64, the heavy running sum
    * windows over (source, salt) — parallel across salts — and only the
    * tiny per-salt totals (rows = #salts, not #docs) go through a
    * per-source window to compute each salt's global base offset.
    * global cum = base + local_cum is exactly the naive per-source
    * prefix sum (the naive window), without ever sorting a whole hot source
    * in one task. Shared by t11 (per-chunk aggregate) and p02 (per-doc
    * assignment map). Columns: doc_id, source, n_tokens, cum.
    */
  private def saltedCum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        Text.tokenStats(col("text")).getField("_1").as("n_tokens"),
        floor(col("doc_id") / lit(64)).cast("long").as("salt"))
    val localW = Window.partitionBy("source", "salt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("local_cum", sum(col("n_tokens")).over(localW))
    val saltW = Window.partitionBy("source").orderBy("salt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = base.groupBy("source", "salt")
      .agg(sum(col("n_tokens")).as("tot"))
      .select(col("source"), col("salt"),
        (sum(col("tot")).over(saltW) - col("tot")).as("base_off"))
    local.join(bases, Seq("source", "salt"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("base_off") + col("local_cum")).as("cum"))
  }

  private[queries] val SCORE =
    s"0.25 * least(1.0, CAST(len(tk) AS DOUBLE) / 80) " +
      s"+ 0.25 * (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)) " +
      s"+ 0.25 * (1.0 - least(1.0, abs(CAST(list_sum([CAST(len(t) AS BIGINT) for t in tk]) AS DOUBLE) / len(tk) - 5.0) / 10)) " +
      s"+ 0.25 * least(1.0, 10.0 * ${stopHits("tk", "en")} / len(tk))"

  def oracleSql: Map[String, String] = Map(
    "t01_token_stats" ->
      s"""WITH d AS (SELECT doc_id, $TOKS AS tk FROM documents)
         |SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS INT) AS n_distinct,
         |  CAST(list_sum([CAST(len(t) AS BIGINT) for t in tk]) AS DOUBLE) / len(tk) AS avg_token_len,
         |  CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS type_token_ratio
         |FROM d ORDER BY doc_id""".stripMargin,

    "t02_lang_id" ->
      s"""WITH d AS (SELECT doc_id, lang, $TOKS AS tk FROM documents),
         |h AS (SELECT doc_id, lang, ${stopHits("tk", "en")} AS h_en, ${stopHits("tk", "es")} AS h_es,
         |  ${stopHits("tk", "de")} AS h_de, ${stopHits("tk", "fr")} AS h_fr FROM d),
         |p AS (SELECT doc_id, lang,
         |  CASE WHEN h_en = 0 AND h_es = 0 AND h_de = 0 AND h_fr = 0 THEN 'und'
         |       WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
         |       WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
         |       WHEN h_de >= h_fr THEN 'de' ELSE 'fr' END AS lang_pred FROM h)
         |SELECT lang, lang_pred, count(*) AS n_docs FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "t03_quality_score" ->
      s"""WITH d AS (SELECT source, $TOKS AS tk FROM documents),
         |sc AS (SELECT source, $SCORE AS score FROM d)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN score < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
         |  ${sumMicros("score", "sum_score_micros")}
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    "t05_token_regex" ->
      """WITH d AS (SELECT doc_id, lower(text) AS lt FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(lt, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe_tokens,
        |  CAST(len(regexp_extract_all(lt, '[a-z]{1,4}')) AS INT) AS n_subword_pieces
        |FROM d ORDER BY doc_id""".stripMargin,

    "t04_doc_fingerprint" ->
      s"""WITH d AS (SELECT doc_id, text, list_distinct(${shingles(TOKS)}) AS sh FROM documents)
         |SELECT doc_id, ${fp("text")} AS full_hash,
         |  list_min([${fp("s")} for s in sh]) AS min_shingle_fp,
         |  CAST(len(sh) AS INT) AS n_shingles
         |FROM d ORDER BY doc_id""".stripMargin,

    "t06_seq_len_hist" ->
      s"""WITH d AS (SELECT CAST(len($TOKS) AS INT) AS n FROM documents)
         |SELECT CAST(floor(n / 16.0) AS INT) AS len_bucket, count(*) AS n_docs,
         |  CAST(min(n) AS INT) AS min_tokens, CAST(max(n) AS INT) AS max_tokens,
         |  CAST(sum(n) AS BIGINT) AS sum_tokens
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "t07_bigram_topk" ->
      s"""WITH d AS (SELECT ${bigrams(TOKS)} AS bg FROM documents),
         |u AS (SELECT unnest(bg) AS bigram FROM d)
         |SELECT bigram, count(*) AS n FROM u
         |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    "t08_pii_redact" -> {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\+63-917-[0-9]{7}"
      s"""WITH d AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +63-917-'
         |       || lpad(CAST(doc_id AS VARCHAR), 7, '0') AS txt FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt, '$email')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(txt, '$phone')) AS INT) AS n_phones,
         |  CAST(length(regexp_replace(regexp_replace(txt, '$email', '<EMAIL>', 'g'),
         |       '$phone', '<PHONE>', 'g')) AS INT) AS redacted_len
         |FROM d ORDER BY doc_id""".stripMargin
    },

    "t10_hash_split" ->
      s"""WITH d AS (SELECT source, ${fp("text")} % 100 AS h FROM documents)
         |SELECT source,
         |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs
         |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "t11_pack_salted" ->
      s"""WITH d AS (SELECT doc_id, source, CAST(len($TOKS) AS INT) AS n_tokens FROM documents),
         |x AS (SELECT doc_id, source, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM d)
         |SELECT source, CAST(floor((cum - n_tokens) / 512.0) AS INT) AS chunk_id,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // exact heavy-hitter counts + literal flags (the x01-x03 pattern)
    "x04_cms_heavy_hitters" ->
      s"""WITH d AS (SELECT ${bigrams(TOKS)} AS bg FROM documents),
         |x AS (SELECT unnest(bg) AS bigram FROM d),
         |c AS (SELECT bigram, count(*) AS exact_n FROM x GROUP BY 1)
         |SELECT bigram, exact_n, ${boundOk("never_under")},
         |  ${boundOk("overest_bounded")}
         |FROM c ORDER BY exact_n DESC, bigram LIMIT 10""".stripMargin,

    // the rational idf and fixed-order sum exist FOR this gate: every
    // arithmetic step below mirrors the Spark expression tree node for
    // node (+, *, / in written order, same casts), so the double score
    // is bit-identical and the hash compare holds
    // the indexed path is row-identical to t14 by construction (same
    // expression tree over the loaded relations) — t14's oracle verbatim
    "t15_bm25_indexed" -> fullCorpusBm25Sql,

    // the maintained index's final state IS a full-corpus build (the
    // in-stream rebuild refreshed df/n_docs/avgdl over everything
    // ingested — that refresh is the whole point of the gate), so
    // t14's exact full-corpus oracle applies verbatim
    "t22_bm25_maintained" -> fullCorpusBm25Sql,

    "t16_bm25_batch" -> t16OracleSql(k = 10),

    // the relation path runs t16's core over the same batch (the gate
    // just persists the query set as a table first) — t16's generated
    // oracle verbatim
    "t18_bm25_batch_rel" -> t16OracleSql(k = 10),
    // pruning is lossless by contract — t16's oracle applies verbatim
    "t19_bm25_batch_pruned" -> t16OracleSql(k = 10),
    // the routed path serves T20Batch; the generated oracle covers the
    // batch regardless of which path the router picks (routing is
    // speed-only by the t19 losslessness contract)
    "t20_bm25_routed" -> batchOracleSql(T20Batch, k = 10),
    // t21 serves the same mixed batch through the per-query split —
    // the oracle is the batch's generated reference, identical to
    // t20's: equality proves per-query routing cannot change answers
    "t21_bm25_split" -> batchOracleSql(T20Batch, k = 10),

    // the frozen-stats serving contract, mirrored exactly: tf/dl over
    // the FULL corpus (every indexed doc is scorable), df/n_docs/avgdl
    // over the bootstrap half only (the stream appends docs, never
    // statistics — rebuild to refresh). floor(), not CAST, for the
    // cut: Spark's .toLong truncates where DuckDB's CAST rounds, and
    // percentile(0.5) of an even-sized dense id range is x.5
    "t17_bm25_streamed" ->
      s"""WITH d AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |c AS (SELECT CAST(floor(quantile_cont(doc_id, 0.5)) AS BIGINT) AS cut FROM d),
         |b AS (SELECT doc_id, CAST(len(tk) AS INT) AS dl,
         |  CAST(len([t for t in tk if t = 'dup']) AS INT) AS tf0,
         |  CAST(len([t for t in tk if t = 'vector']) AS INT) AS tf1,
         |  CAST(len([t for t in tk if t = 'spark']) AS INT) AS tf2 FROM d),
         |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
         |  CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         |  CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         |  CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
         |  FROM b, c WHERE b.doc_id <= c.cut),
         |j AS (SELECT b.*, st.*, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl FROM b, st)
         |SELECT doc_id, tf0 AS tf_dup, tf1 AS tf_vector, tf2 AS tf_spark,
         |  (CAST(n_docs - df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5)
         |    * (CAST(tf0 AS DOUBLE) * 2.2)
         |    / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
         |  + (CAST(n_docs - df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5)
         |    * (CAST(tf1 AS DOUBLE) * 2.2)
         |    / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
         |  + (CAST(n_docs - df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5)
         |    * (CAST(tf2 AS DOUBLE) * 2.2)
         |    / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
         |  AS score
         |FROM j ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "t14_bm25_search" -> fullCorpusBm25Sql,

    // per-source + merged-ALL exact distincts with the literal flag —
    // the x01-x04 pattern: the Spark side derives within_bound from the
    // HLL error contract, so an estimate regression breaks the hash
    "x05_hll_union" ->
      s"""WITH d AS (SELECT source, ${fp("text")} AS fp FROM documents),
         |u AS (SELECT source, count(DISTINCT fp) AS exact_distinct FROM d GROUP BY 1
         |  UNION ALL SELECT 'ALL' AS source, count(DISTINCT fp) AS exact_distinct FROM d)
         |SELECT source, exact_distinct, ${boundOk()}
         |FROM u ORDER BY source""".stripMargin,

    // same integer lexicographic rank — no float idf in either engine
    "t13_keyword_topk" ->
      s"""WITH t AS (SELECT doc_id, unnest($TOKS) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rank
         |  FROM tf JOIN df USING (term))
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
         |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "t12_repetition" ->
      s"""WITH d AS (SELECT source, ${shingles(TOKS)} AS sa,
         |    list_distinct(${shingles(TOKS)}) AS sd FROM documents),
         |r AS (SELECT source, CASE WHEN len(sa) > 0
         |    THEN 1.0 - CAST(len(sd) AS DOUBLE) / len(sa) ELSE 0.0 END AS rep FROM d)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN rep > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
         |  ${sumMicros("rep", "sum_rep_micros")}
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle is the NAIVE per-source prefix sum — the salted
    // two-level scan must be indistinguishable from it (same contract
    // as t11)
    "p02_chunk_assignments" ->
      s"""WITH d AS (SELECT doc_id, source, CAST(len($TOKS) AS INT) AS n_tokens FROM documents),
         |x AS (SELECT doc_id, source, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM d)
         |SELECT doc_id, source, n_tokens,
         |  CAST(floor((cum - n_tokens) / 512.0) AS INT) AS chunk_id,
         |  CAST(cum - n_tokens AS BIGINT) AS token_start,
         |  CAST((cum - n_tokens) - CAST(floor((cum - n_tokens) / 512.0) AS INT) * 512 AS BIGINT)
         |    AS offset_in_chunk
         |FROM x ORDER BY doc_id""".stripMargin
  )
}
