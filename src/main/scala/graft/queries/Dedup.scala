package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text
import OracleDialect._

/** Deduplication operators over the `documents` table (SURVEY.md §7.4
  * extension tier): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup is a hash groupBy on md5(text) — one shuffle on the
  *    digest, map-side partial agg; never groups on the raw text bytes.
  *  - Jaccard avoids the O(n²) cross join via PREFIX FILTERING
  *    (SSJoin/PPJoin): each doc indexes only its rarest n−⌈t·n⌉+1
  *    fingerprints, candidates come from an equi-join of those
  *    prefixes (+ length filter), and |A∩B| is counted — never
  *    array-intersected — over the candidate-doc sub-corpus; the df
  *    cap keeps every posting list sub-quadratic.
  *  - MinHash/LSH: 16-perm signature per doc (one pass), 4 bands × 4
  *    rows; candidates = band-bucket join (shuffle on the 4-long band
  *    key, NOT all-pairs), then exact-Jaccard verification of the
  *    candidates only. This is the standard sub-quadratic near-dup path.
  *  - SimHash: 32-bit signature, 4 × 8-bit bands. By pigeonhole, any
  *    pair within Hamming distance 3 agrees on ≥1 band, so the band join
  *    is EXACT (no recall loss) for the ≤3 predicate.
  */
object Dedup {

  /** The documents "silver" projection — doc_id, source, token count,
    * distinct 3-gram shingle set — cached across the suite when a
    * runner enabled [[graft.SharedProjections]]. Widened in r11 from
    * (doc_id, sh) so the contamination family (c01/c03) reads the SAME
    * cached relation as the dedup family instead of re-tokenizing the
    * corpus per branch; with sharing OFF, each query's narrow select
    * prunes the unused columns (and their kernels) out of the plan, so
    * standalone plans are unchanged.
    */
  private[queries] def shingleDocs(s: SparkSession, dir: String): DataFrame =
    graft.SharedProjections.reuse("shingles", dir) {
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Text.tokenStats(col("text")).getField("_1").as("n_tokens"),
          Text.distinctShingles(col("text")).as("sh"))
    }

  /** MinHash+LSH near-dup canonical map over a `(doc_id, sh)` relation:
    * one row per document that has a smaller near-duplicate (jaccard
    * ≥ 0.5 over distinct shingles), `canonical_id` = the smallest such
    * neighbor. The d04 path, reusable over any filtered corpus (the
    * p01 pipeline runs it after exact dedup).
    *
    * Candidates come from the 4×4 band-bucket join (shuffle on the band
    * key, never all-pairs); exact Jaccard verifies ONLY the candidates
    * — |A∩B|/|A∪B| over distinct sets equals d02's count formulation.
    */
  def lshCanonicals(docs: DataFrame): DataFrame =
    canonicalsOf(lshVerifiedPairs(docs))

  private def canonicalsOf(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("b_id").as("doc_id")).agg(min(col("a_id")).as("canonical_id"))

  /** Suite-shared LSH-verified near-dup EDGE relation over the full
    * corpus — the (a_id, b_id) pair set that d04's canonical map and
    * both component queries (d06/d07) derive from. With a suite runner's
    * [[graft.SharedProjections]] enabled, the band join + exact-Jaccard
    * verify runs ONCE per session and all three consumers read the
    * persisted edges (r13: the edge build was ~2/3 of d06/d07's
    * in-suite cost, paid three times); standalone each query still
    * builds its own, so the pinned per-query plans are unchanged. This
    * mirrors production shape: at 100 TB the verified near-dup edge
    * list is a first-class silver artifact — written once, read by the
    * canonical-map job and the clustering job alike. p01 reads it too,
    * RESTRICTED to its exact-dedup survivors — provably the same
    * relation its survivor-corpus recompute built (identical text ⇒
    * identical shingles ⇒ identical per-doc band keys, so survivor
    * band collisions are exactly the full-corpus collisions with both
    * endpoints surviving, and pair-level Jaccard is corpus-independent).
    */
  private[queries] def sharedEdges(s: SparkSession, dir: String): DataFrame =
    graft.SharedProjections.reuse("lsh_edges", dir) {
      lshVerifiedPairs(shingleDocs(s, dir))
    }

  /** The LSH-verified near-dup PAIR relation (a_id < b_id, jaccard ≥ 0.5
    * over full shingle sets): band-bucket candidates, then exact-Jaccard
    * verification of candidates only. The single near-dup pair
    * definition shared by d04 (canonical map), d06/d07 (connected
    * components) and p01 (pipeline near-dup stage).
    *
    * Verification is the same COUNTING join d02 uses: restrict the
    * corpus to candidate DOCS (left-semi), self-join the exploded
    * shingles, |A∩B| = count(*), |A∪B| = na+nb−|A∩B| from the carried
    * set sizes — the full shingle ARRAYS never cross a shuffle. Unlike
    * d02, over-generated pairs (both docs candidates, but not with
    * each other) must be dropped explicitly (the final semi-join on
    * the band-candidate pairs): LSH is approximate by design, so a
    * high-Jaccard pair that never band-collides is NOT an edge here,
    * and the oracle's cand CTE agrees.
    */
  /** The 4×4 MinHash band keys of a `(doc_id, sh)` relation — one row
    * per (doc, band): (doc_id, j, bkey). THE near-dup blocking key:
    * two docs are LSH candidates iff they share a (j, bkey). Public so
    * the incremental pipeline (graft.streaming.DocPipeline) can
    * persist the same index and match new docs against it.
    */
  def bandKeys(docs: DataFrame): DataFrame = {
    val sig = docs
      .select(col("doc_id"), Text.fps(col("sh")).as("fps"))
      .select(col("doc_id"), Text.minhashSig(col("fps")).as("sig"))
    sig.select(col("doc_id"), explode(array((0 until 4).map(j =>
        struct(lit(j).as("j"), slice(col("sig"), j * 4 + 1, 4).as("bkey"))): _*)).as("b"))
      .select(col("doc_id"), col("b.j").as("j"), col("b.bkey").as("bkey"))
  }

  def lshVerifiedPairs(docs: DataFrame): DataFrame = {
    val d = cp(docs)
    val bands = bandKeys(d)
    val cand = cp(bands.as("x").join(bands.as("y"),
        col("x.j") === col("y.j") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")).distinct())
    val exc = d
      .join(cand.select(col("a_id").as("doc_id")).union(cand.select(col("b_id"))),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
    exc.as("a").join(exc.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("n_common"))
      .join(cand, Seq("a_id", "b_id"), "left_semi")
      .filter(col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")) >= 0.5)
      .select(col("a_id"), col("b_id"))
  }

  /** LAZY checkpoint: reliable (HDFS/S3) when the session has a
    * checkpoint dir configured — lineage truncation that survives
    * executor loss — executor-local otherwise (tests, single node).
    * `eager = false` is the round-6 constant-factor fix: the eager
    * form ran a dedicated blocking job to materialize the relation
    * BEFORE any consumer (one full extra job per call — measured ~2×
    * on d02); lazily the first consuming action materializes it, every
    * later consumer reads the persisted blocks, and lineage still
    * truncates after that first action (the iterative-loop guarantee
    * d06/d07 need).
    */
  private[queries] def cp(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  /** Document-frequency cap for the inverted-index path: a shingle in
    * more than MaxDf documents is a stop-shingle — it carries no dedup
    * signal, and its posting list is exactly the quadratic term in the
    * Σ df(s)² join work (one hot shingle at 100 TB = one hot reducer).
    * Dropping capped shingles from the index AND the per-doc sizes keeps
    * the result a true Jaccard over the informative shingle sets (the
    * standard near-dup practice); the oracle CTE mirrors the cap. At the
    * gate SF the max df is 7, so the cap is semantics-neutral there.
    */
  private val MaxDf = 50

  /** All pairs with Jaccard ≥ t over df-capped shingle-FINGERPRINT
    * sets, via PREFIX FILTERING (Chaudhuri/Ganti/Kaushik SSJoin,
    * ICDE 2006; Xiao et al. PPJoin — public literature). Columns:
    * a_id, b_id, jaccard (exact).
    *
    * Scale shape, in order:
    *  - the index is built on the 8-byte portable fingerprint of each
    *    shingle, not the ~20-char string (¼ the shuffle bytes, cheaper
    *    hash/compare); fps are deduped per doc, and the oracle CTE
    *    computes the identical fp sets, so even a cross-doc collision
    *    (odds ~df²/2³¹) changes both engines the same way;
    *  - stop-shingles are dropped by the df cap (MaxDf);
    *  - ONE checkpointed base relation (doc_id, fp, rank, set size):
    *    rank = the fp's position in the doc's set under the global
    *    (df, fp) total order, from a per-doc window over the df join —
    *    everything downstream (prefix, verify corpus, set sizes) is a
    *    narrow filter/projection of it, so the shingle+fp kernels run
    *    once and lineage truncates at the base;
    *  - each doc indexes only its PREFIX — the n−⌈t·n⌉+1 rarest fps
    *    (rank filter, no arrays built). Lemma: if |A∩B| ≥ α then the
    *    first |A|−α+1 of A and |B|−α+1 of B share an element; J ≥ t
    *    gives α = ⌈t·max(|A|,|B|)⌉, so any qualifying pair shares a
    *    prefix fp and the candidate join is EXACT for ≥ t. The pair
    *    shuffle drops from Σ df² over all kept shingles (1.27 M rows
    *    at sf0.1) to the prefix posting lists (~the rare half);
    *  - verification is a COUNTING join over the candidate-DOC
    *    sub-corpus (left-semi restriction, no pair-distinct needed):
    *    |A∩B| = count(*) of shared fps, |A∪B| = na+nb−|A∩B| from the
    *    carried sizes — same integers as the oracle, so the double
    *    divides identically. Over-generation is safe: any pair the
    *    sub-corpus join emits that was NOT a true candidate pair
    *    fails J ≥ t by the prefix lemma (contrapositive), so the
    *    final filter removes exactly the non-qualifying pairs.
    */
  /** The checkpointed PPJoin index (`base`: doc_id, fp, rank, set
    * size) and the candidate-PAIR relation its prefix join emits —
    * jaccardPairs' front half, split out so the candidate volume is
    * observable (the filters' whole point is shrinking this relation
    * before the verify join) and so the positional filter can be
    * toggled for an A/B probe. `positional = false` is measurement
    * surface only; every caller but the probe uses the default.
    */
  private[graft] def jaccardBaseAndCands(docs: DataFrame, t: Double,
      positional: Boolean, reuseDir: Option[String] = None): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // r14 (verdict ask #4): the PPJoin index build — shingle+fp
    // explode, df count, per-doc rank window — is d02's dominant cost
    // and is pure per-(dir, t) derived data, so it joins the
    // suite-shared silver tier (the shingles/lsh_edges precedent):
    // standalone plans are byte-identical (reuse is runner-opt-in and
    // OFF by default), while a suite session builds the index ONCE and
    // every later pass reads the persisted blocks. The production
    // analogue is a persisted bucketed silver table (BandIndex's
    // story), rebuilt when the corpus changes.
    def build: DataFrame = {
      val ex = ppExplode(docs)
      cp(ppRank(ex, ppDf(ex)))
    }
    val base = reuseDir match {
      case Some(d) => graft.SharedProjections.reuse(s"ppjoin_base_t$t", d)(build)
      case None => build
    }
    (base, prefixCands(base, t, positional))
  }

  /** The prefix-filter candidate join over a base relation — shared by
    * the in-query path and the persisted-index path ([[PpIndex]]
    * consumer; `merge = true` pins the SortMergeJoin a bucketed base
    * makes exchange-free).
    */
  private[graft] def prefixCands(base: DataFrame, t: Double,
      positional: Boolean, merge: Boolean = false): DataFrame = {
    val pref0 = base
      .filter(col("rk") <= col("n") - ceil(col("n") * t).cast("int") + 1)
      .select("doc_id", "s", "rk", "n")
    val pref = if (merge) pref0.hint("merge") else pref0
    // PPJoin length filter: J ≥ t forces t·|B| ≤ |A| ≤ |B|/t, so pairs
    // with incompatible sizes never qualify — lossless prune of the
    // candidate join output (the ε guards double-rounding at the
    // boundary: it can only keep an extra pair, never drop one; the
    // exact jaccard filter downstream decides the boundary).
    // PPJoin POSITIONAL filter (r12): J ≥ t needs overlap o ≥ α =
    // ⌈t/(1+t)·(na+nb)⌉, and a match on the docs' rk_a-th / rk_b-th
    // fps under the shared global (df, fp) order caps the overlap
    // reachable THROUGH that fp at 1 + min(na−rk_a, nb−rk_b) — the
    // common fps after it consume one tail slot on each side. Pruning
    // per matched row is lossless for pair candidacy: a qualifying
    // pair's SMALLEST common fp has no common fps before it, so its
    // bound ≥ o ≥ α and that row always survives (and that fp provably
    // sits inside both prefixes — same argument as the prefix lemma).
    val alpha = ceil((col("a.n") + col("b.n")).cast("double")
      * lit(t / (1 + t)) - lit(1e-9))
    val lengthOk =
      col("a.n").cast("double") >= lit(t) * col("b.n") - lit(1e-9) &&
        col("b.n").cast("double") >= lit(t) * col("a.n") - lit(1e-9)
    val posOk =
      lit(1) + least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk")) >= alpha
    pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          (if (positional) lengthOk && posOk else lengthOk))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("doc_id2"))
  }

  /** The candidate-pair relation alone (distinct pairs) — the A/B
    * probe and JaccardPropertySpec's containment check read this.
    */
  private[graft] def jaccardCandidates(docs: DataFrame, t: Double = 0.5,
      positional: Boolean = true): DataFrame =
    jaccardBaseAndCands(docs, t, positional)._2.distinct()

  private[queries] def jaccardPairs(docs: DataFrame, t: Double = 0.5,
      positional: Boolean = true, reuseDir: Option[String] = None): DataFrame = {
    val (base, ids) = jaccardBaseAndCands(docs, t, positional, reuseDir)
    verifyPairs(base, ids, t)
  }

  /** PPJoin pairs served from a PERSISTED bucketed base (r14 — the
    * [[graft.sources.PpIndex]] consumer, the production analogue of
    * the session-shared silver): the base loads from the bucketed
    * table, so the prefix candidate self-join on `s` reads both sides
    * pre-partitioned and pre-sorted — zero shuffle exchanges
    * (PpIndexSpec pins the plan) — and only the candidate-proportional
    * verify pays a shuffle. Row-identical to [[jaccardPairs]] over the
    * corpus the index was built from.
    */
  def jaccardPairsIndexed(s: SparkSession, table: String,
      t: Double = 0.5): DataFrame = {
    val base = graft.sources.PpIndex.read(s, table)
    verifyPairs(base, prefixCands(base, t, positional = true, merge = true), t)
  }

  /** The PPJoin base's building blocks, shared by the in-query build,
    * the persisted-index build, and the INCREMENTAL append (r15):
    * per-doc distinct fingerprint explode, global document frequency,
    * and the (rk, n) ranking of a fingerprint relation under a given
    * df order. Split out so the append path can rank new docs under
    * the BUILD-frozen df (see [[appendToPpIndex]]) through the exact
    * code the build ran.
    */
  private def ppExplode(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(Text.fps(col("sh")))).as("s"))

  private def ppDf(ex: DataFrame): DataFrame =
    ex.groupBy("s").agg(count(lit(1)).as("df"))

  private def ppRank(ex: DataFrame, dfRel: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id")
    ex.join(dfRel.filter(col("df") <= MaxDf), "s")
      .select(col("doc_id"), col("s"),
        row_number().over(byDoc.orderBy("df", "s")).as("rk"),
        count(lit(1)).over(byDoc).as("n"))
  }

  /** Build + persist the PPJoin base as a bucketed table — the
    * write-once production form of d02's index ([[graft.sources
    * .PpIndex]]); rebuild when the corpus changes.
    */
  // no threshold parameter (r16, ADVICE): the persisted base is
  // threshold-INDEPENDENT — t shapes only the candidate side at query
  // time (jaccardPairsIndexed takes it), so a t here would mislead
  // callers into thinking the index is threshold-specific
  def buildPpIndex(s: SparkSession, dir: String, table: String): Unit =
    buildPpIndexOver(s, shingleDocs(s, dir), table)

  /** [[buildPpIndex]] over an explicit (doc_id, sh) corpus — persists
    * the bucketed base AND the build-time df part that freezes the
    * prefix order for incremental appends, published together
    * ([[graft.sources.PpIndex.writeWithDf]]).
    */
  def buildPpIndexOver(s: SparkSession, docs: DataFrame, table: String): Unit = {
    val ex = cp(ppExplode(docs))
    val dfAll = ppDf(ex)
    graft.sources.PpIndex.writeWithDf(ppRank(ex, dfAll), dfAll, table, MaxDf.toLong)
  }

  /** INCREMENTAL maintenance of a persisted PPJoin base (r15, verdict
    * ask #2 — the index-maintenance story [[graft.queries.Similarity
    * .appendToIvfAdcIndex]] started, applied to the similarity-join
    * family): shingle ONLY `newDocs`, rank them under the BUILD-FROZEN
    * global order, and append the (doc_id, s, rk, n) rows into the
    * bucketed layout — the corpus is never re-shingled.
    *
    * The staleness contract, explicitly:
    *
    *  - **The prefix order is frozen at build time.** Every doc — built
    *    or appended, any batch — ranks its fingerprints under the SAME
    *    total order (df_build, s), with never-seen fingerprints at
    *    df_build = 0 (rarest; only ever shared with other appended
    *    docs). The prefix lemma requires one shared order across both
    *    sides of a pair, so freezing is what makes the candidate join
    *    remain EXACT for J ≥ t — no appended volume ever causes a
    *    missed pair. (Re-ranking each batch under its own updated df
    *    would be the subtle bug: two docs inserted at different times
    *    would prefix under different orders and qualifying pairs could
    *    stop sharing an indexed fingerprint.)
    *  - **The df CAP is frozen at build time.** Kept-vs-dropped is
    *    decided by df_build ≤ MaxDf, so the Jaccard universe is the
    *    build's. [[jaccardPairsIndexed]] over build+appends equals a
    *    full rebuild EXACTLY as long as no fingerprint's df crosses
    *    MaxDf between build and rebuild (rebuild-dropped-but-append-
    *    kept fps change J for the docs that carry them) —
    *    PpAppendSpec pins both the equality and the documented
    *    divergence at the cap boundary.
    *  - **Filter POWER decays, correctness doesn't.** A fingerprint
    *    that was rare at build but becomes common through appends
    *    keeps its rare rank, so it stays in prefixes and its posting
    *    list grows — candidates rise (cost), results don't change
    *    (the verify is exact). Measured decay on the 25%-dup replica:
    *    BENCHNOTES r15. Rebuild when it drifts past budget — WHEN is
    *    [[ppArtifactProbe]]'s one-row reading (r20): threshold
    *    `appended_frac` / `crossed_mass_frac` the way
    *    [[graft.streaming.IndexIngest.bm25Maintained]] thresholds the
    *    BmIndex probe.
    *
    * Appended files keep the bucket layout (same bucketBy spec), so
    * the candidate self-join stays EXCHANGE-free; with >1 file per
    * bucket Spark no longer claims sortedness, so the plan gains
    * in-partition Sorts — still no shuffle (PpAppendSpec pins it).
    */
  def appendToPpIndex(s: SparkSession, table: String, newDocs: DataFrame): Unit = {
    // loud-failure guard (the appendToIvfAdcIndex doctrine): a re-appended
    // doc_id would duplicate its base rows and double-count the verify
    graft.sources.AtomicSwap.requireDisjoint("appendToPpIndex", newDocs,
      graft.sources.PpIndex.read(s, table), "doc_id", table)
    graft.sources.PpIndex.append(rankUnderFrozenOrder(s, table, newDocs), s, table)
  }

  /** Rank a `(doc_id, sh)` relation's fingerprint rows under `table`'s
    * BUILD-FROZEN total order — the append path's core, shared by
    * [[appendToPpIndex]] and the streaming ingest
    * ([[graft.streaming.IndexIngest.pp]], which loads the frozen df
    * part once per stream and ranks through the overload below).
    * Deterministic given the docs and the frozen df part: the same
    * doc always produces the SAME (doc_id, s, rk, n) rows regardless
    * of batch boundaries or replays — what makes row-level replay
    * absorption exact.
    */
  private[graft] def rankUnderFrozenOrder(s: SparkSession, table: String,
      newDocs: DataFrame): DataFrame =
    rankUnderFrozenOrder(graft.sources.PpIndex.readDf(s, table), newDocs)

  /** [[rankUnderFrozenOrder]] against an already-loaded df part. */
  private[graft] def rankUnderFrozenOrder(frozen: DataFrame,
      newDocs: DataFrame): DataFrame = {
    val exNew = cp(ppExplode(newDocs))
    // the frozen order EXTENDED to never-seen fps at df 0 (rarest) —
    // left join, not inner: dropping unseen fps would shrink new docs'
    // sets and change their Jaccard values
    val dfEff = exNew.select("s").distinct()
      .join(frozen, Seq("s"), "left")
      .select(col("s"), coalesce(col("df"), lit(0L)).as("df"))
    ppRank(exNew, dfEff)
  }

  /** The artifact-level staleness reading for a persisted PPJoin index
    * (r20, verdict ask #3): [[graft.sources.PpIndex.driftProbe]] bound
    * to the engine's df cap — appended row mass vs the build (the
    * frozen `df` part recovers the build-time base size), the
    * never-seen-at-build vocabulary sliver, the cap's corpus-shaped
    * build-time coverage, and the row MASS in cap-crossing posting
    * lists (the per-fingerprint crossing count is [[ppIndexDrift]]).
    * The d02c/d02d maintenance story's rebuild trigger.
    */
  def ppArtifactProbe(s: SparkSession, table: String): DataFrame =
    graft.sources.PpIndex.driftProbe(s, table, MaxDf.toLong)

  /** Staleness probe for a persisted PPJoin index's frozen order (r16,
    * verdict ask #6): one row `(n_fps, n_crossed, crossed_frac,
    * max_df_now)` a maintenance job can threshold. A fingerprint that
    * was rare at build keeps its rare rank forever, so as appends push
    * its CURRENT df past MaxDf two costs accrue: its posting list keeps
    * growing inside prefixes (candidate growth — filter-power decay,
    * results still exact), and a REBUILD would now drop it (the
    * documented divergence boundary — crossed fps are exactly where
    * append != rebuild). crossed_frac is therefore both the decay dial
    * and the divergence budget. Reads only the index base (count per
    * fp), never the corpus.
    */
  def ppIndexDrift(s: SparkSession, table: String): DataFrame = {
    graft.sources.PpIndex.read(s, table)
      .groupBy("s").agg(count(lit(1)).as("df_now"))
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("df_now") > MaxDf, 1L).otherwise(0L)).as("n_crossed"),
        max(col("df_now")).as("max_df_now"))
      .select(col("n_fps"), col("n_crossed"),
        // empty-base guard (r17, ADVICE): 0/0 yields NULL, and a
        // maintenance job thresholding crossed_frac would then
        // silently never fire — an empty index has crossed nothing
        when(col("n_fps") > 0,
          col("n_crossed").cast("double") / col("n_fps"))
          .otherwise(lit(0.0)).as("crossed_frac"),
        col("max_df_now"))
  }

  /** The exact-Jaccard counting verify over (base, candidate ids) —
    * shared by the in-query and persisted-index paths.
    */
  private def verifyPairs(base: DataFrame, ids: DataFrame, t: Double): DataFrame = {
    // the counting verify below stays near-linear even if many docs are
    // candidates: the global df cap bounds per-shingle join fan-out at
    // C(MaxDf, 2), so total verify work ≤ MaxDf · Σ df — linear in the
    // kept index, never quadratic in the corpus. (explode, not
    // union-of-selects: a union would consume — and recompute — the
    // candidate join once per side)
    val exc = base
      .join(ids.select(explode(array(col("doc_id"), col("doc_id2"))).as("doc_id")),
        Seq("doc_id"), "left_semi")
      .select("doc_id", "s", "n")
    exc.as("a").join(exc.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("a_id"), col("b_id"), (col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** Connected components by min-label propagation over an
    * (a_id, b_id) edge relation → (id, lbl), lbl = min id in the
    * component. One join + aggregate per round; rounds = component
    * DIAMETER (fine for shallow near-dup clusters; for adversarial
    * diameters use [[starComponents]]). Checkpointed per round so the
    * lineage stays one round deep.
    */
  def minLabelComponents(pairs: DataFrame): DataFrame = {
    val eb = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
    var labels = cp(pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id").as("id")))
      .distinct().withColumn("lbl", col("id")))
    var converged = false
    var iter = 0
    while (!converged && iter < 20) {
      val prop = eb.join(labels, eb("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"), lit(null).cast("long").as("old"))
      // carry each id's PREVIOUS label through the same aggregate (r20,
      // optimization): min ignores the propagated rows' null `old`, and
      // every id has exactly one labels row, so `old` is its prior
      // label — the convergence check is then one scan of the fresh
      // checkpoint (which it also materializes) instead of a separate
      // join-against-previous action per iteration. Labels are
      // unchanged: min(lbl) over the same multiset.
      val next = cp(labels.select(col("id"), col("lbl"), col("lbl").as("old"))
        .union(prop)
        .groupBy("id").agg(min(col("lbl")).as("lbl"), min(col("old")).as("old")))
      converged = next.filter(col("lbl") =!= col("old")).isEmpty
      labels = next.select("id", "lbl")
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"minLabelComponents did not converge in $iter rounds (component " +
        "diameter exceeds the cap — use starComponents for deep graphs)")
    labels.select("id", "lbl")
  }

  /** Connected components by alternating large-star/small-star
    * (Kiveris/Lattanzi/Mirrokni/Rastogi/Vassilvitskii, SoCC 2014 —
    * public literature) → (id, lbl), lbl = min id in the component.
    *
    * Each round rewires the graph toward stars rooted at component
    * minima: large-star connects every larger neighbor of u to
    * min(Γ(u) ∪ {u}); small-star connects u and its smaller neighbors
    * to their minimum. Convergence is O(log² n) rounds REGARDLESS of
    * diameter (each round roughly halves path lengths), vs the
    * diameter-bound rounds of [[minLabelComponents]] — a chain graph
    * converges in ~log₂(n) rounds (pinned by DedupComponentsSpec).
    * Both maps are a groupBy + join per round; edges stay in the
    * canonical (hi, lo) orientation throughout.
    */
  def starComponents(pairs: DataFrame): DataFrame =
    starComponentsWithRounds(pairs)._1

  /** [[starComponents]] plus the number of rounds to convergence (the
    * spec asserts the logarithmic bound on a chain fixture).
    */
  def starComponentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    val verts = cp(pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id").as("id"))).distinct())
    var edges = cp(pairs
      .select(greatest(col("a_id"), col("b_id")).as("hi"),
        least(col("a_id"), col("b_id")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct())
    var converged = false
    var iter = 0
    while (!converged && iter < 30) {
      // large-star: per node u over BIDIRECTED neighbors, connect every
      // larger neighbor to m = min(Γ(u) ∪ {u}). Checkpointed: both
      // small-star consumers (minsS, withMin) read it, and without the
      // checkpoint the whole large-star subtree runs twice per round.
      val nbrs = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = nbrs.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
      val ls = cp(nbrs.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo")).distinct())
      // small-star: per node u over its SMALLER neighbors Γ⁻(u) (the
      // (hi=u, lo) edges), connect u and all of Γ⁻(u) to min(Γ⁻(u)).
      // (explode, not union-of-selects: a union would consume — and
      // recompute — the withMin join once per side)
      val minsS = ls.groupBy(col("hi").as("u")).agg(min(col("lo")).as("m"))
      val withMin = ls.select(col("hi").as("u"), col("lo").as("v")).join(minsS, "u")
      val ss = withMin
        .select(explode(array(col("v"), col("u"))).as("h"), col("m"))
        .filter(col("h") =!= col("m"))
        .select(col("h").as("hi"), col("m").as("lo")).distinct()
      val next = cp(ss)
      // convergence = edge-set stability, as ONE action per round (r20,
      // optimization — was a count plus, on count-stable rounds, two
      // exceptAll shuffles and an isEmpty): both sides are distinct
      // (hi, lo) sets, so the exact symmetric difference is a full-outer
      // join with presence markers; the single aggregate also
      // materializes the fresh checkpoint. The verdict is still EXACT
      // set equality, never a count.
      val d = next.select(col("hi"), col("lo"), lit(1).as("l"))
        .join(edges.select(col("hi"), col("lo"), lit(1).as("r")),
          Seq("hi", "lo"), "full_outer")
        .agg(count(when(col("l").isNull || col("r").isNull, 1)).as("ndiff"))
        .head()
      converged = d.getLong(0) == 0L
      edges = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"starComponents did not converge in $iter rounds — labels would be unreliable")
    val lbls = verts
      .join(edges.groupBy(col("hi").as("id")).agg(min(col("lo")).as("l")), Seq("id"), "left")
      .select(col("id"), coalesce(col("l"), col("id")).as("lbl"))
    (lbls, iter)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    }),

    "d02_jaccard_pairs" -> ((s, dir) => {
      jaccardPairs(shingleDocs(s, dir), t = 0.5, reuseDir = Some(dir))
        .orderBy("a_id", "b_id")
    }),

    // PPJoin served from the PERSISTED bucketed index under the
    // driver's hash gate (r15 — the v10c production-shape progression
    // applied to the dedup family, completing the artifact-gate
    // matrix: IvfIndex v10c/v10d, PqIndex v11b/v12/v12b/v12c, BmIndex
    // t15, PpIndex here): write the base relation into the bucketed
    // PpIndex table (in a suite session the base itself comes from the
    // shared ppjoin_base silver, so the in-gate cost is the bucketed
    // WRITE; standalone rebuilds from scratch), then serve
    // jaccardPairsIndexed — the zero-exchange candidate self-join
    // (PpIndexSpec pins the plan). Row-identical to d02 over the same
    // corpus (same base relation, same exact verify), so d02's oracle
    // applies verbatim.
    "d02b_jaccard_indexed" -> ((s, dir) => {
      val table = graft.SharedProjections.reuseArtifact("pp_idx", dir) {
        val t = "ppjoin_idx_" + java.lang.Integer.toHexString(dir.hashCode)
        val base = jaccardBaseAndCands(shingleDocs(s, dir), 0.5,
          positional = true, reuseDir = Some(dir))._1
        // the base is lazy-checkpointed, so this count materializes the
        // blocks the bucketed write then reads — the exact row count for
        // the adaptive layout costs no extra pass (r21)
        graft.sources.PpIndex.write(base, t,
          buckets = graft.sources.PpIndex.adaptiveBuckets(s, base.count()))
        t
      }
      jaccardPairsIndexed(s, table).orderBy("a_id", "b_id")
    }),

    // the APPEND path itself under the driver's hash (r16, verdict ask
    // #4 — completing the build/append/serve triangle the way v12c
    // completed build/serve/distribute): build the PpIndex on a
    // deterministic 75% doc_id prefix, append the remaining 25% under
    // the build-frozen order (appendToPpIndex), and serve
    // jaccardPairsIndexed from the appended index. d02's oracle applies
    // VERBATIM because the fixtures sit far below the df cap (max fp
    // df 25 at sf0.1, cap 50 — verified per SF), so no fingerprint
    // crosses MaxDf between the 75% build and the full corpus: the
    // kept-fp universe is identical, and below the cap PPJoin's output
    // is exact under ANY consistent frozen total order (the
    // PpAppendSpec contract — append == rebuild). The post-append plan
    // keeps the zero-exchange candidate self-join (bucket membership
    // is a function of s alone; PpAppendSpec pins it). WHEN to rebuild
    // instead of keep appending is ppArtifactProbe's reading (r20):
    // crossed_mass_frac > 0 is exactly where append != rebuild, and
    // appended_frac prices the filter-power decay.
    "d02c_jaccard_appended" -> ((s, dir) => {
      val table = graft.SharedProjections.reuseArtifact("pp_idx_app", dir) {
        val t = "ppjoin_idxa_" + java.lang.Integer.toHexString(dir.hashCode)
        val docs = shingleDocs(s, dir)
        val cut = docs.agg(expr("percentile(doc_id, 0.75)"))
          .head().getDouble(0).toLong
        buildPpIndexOver(s, docs.filter(col("doc_id") <= cut), t)
        appendToPpIndex(s, t, docs.filter(col("doc_id") > cut))
        t
      }
      jaccardPairsIndexed(s, table).orderBy("a_id", "b_id")
    }),

    // PPJoin served from a STREAMING-MAINTAINED index (r17, verdict
    // ask #6 — the t17/v12d recipe for the third index family,
    // completing the streaming-assembly matrix): bootstrap the PpIndex
    // on the deterministic lower-75% doc_id prefix (freezing the df
    // order there), ingest the upper 25% through a REAL Structured
    // Streaming query (file source, one file per micro-batch,
    // the ingest loop's foreachBatch ranking each batch under the frozen
    // order with row-level replay absorption), and serve
    // jaccardPairsIndexed from the result. Batch-boundary-INDEPENDENT
    // by construction: ranking is per-doc under the build-frozen
    // total order (unseen fps at df 0), so any file→batch split
    // produces the same rows — and the fixtures sit far below the df
    // cap (d02c's verified precondition), so the assembled index
    // serves d02's oracle VERBATIM. A production ingest turns this
    // into the maintained loop by thresholding ppArtifactProbe per
    // batch (the IndexIngest.bm25Maintained shape; rebuild =
    // buildPpIndexOver, reader-safe through the pointer generations).
    // Mutable scratch (stage dir, stream checkpoint) is wiped at gate
    // start — a leftover checkpoint would mark the staged files
    // processed and silently skip the ingest.
    "d02d_jaccard_streamed" -> ((s, dir) => {
      val table = graft.SharedProjections.reuseArtifact("pp_idx_str", dir) {
        val t = "ppjoin_idxs_" + java.lang.Integer.toHexString(dir.hashCode)
        val stage = Similarity.scratchPath("ppjoin-stage", dir)
        val ck = Similarity.scratchPath("ppjoin-ck", dir)
        for (d <- Seq(stage, ck)) {
          val hp = new org.apache.hadoop.fs.Path(d)
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
        }
        val docs = shingleDocs(s, dir)
        val cut = docs.agg(expr("percentile(doc_id, 0.75)"))
          .head().getDouble(0).toLong
        // stage the upper quarter as (doc_id, text) — the ingest owns
        // the shingling, exactly as a production stream would. The
        // staging write reads nothing the bootstrap build writes, so
        // the two overlap.
        val raw = Tables(s, dir, "documents").select("doc_id", "text")
        graft.Overlap.both(s)(
          buildPpIndexOver(s, docs.filter(col("doc_id") <= cut), t),
          raw.filter(col("doc_id") > cut).repartition(3)
            .write.mode("overwrite").parquet(stage))
        val q = graft.streaming.IndexIngest.start(
          s.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "1").parquet(stage),
          graft.streaming.IndexIngest.pp(t), checkpointDir = Some(ck))
        q.processAllAvailable()
        q.stop()
        t
      }
      jaccardPairsIndexed(s, table).orderBy("a_id", "b_id")
    }),

    // scalar-exploded shape (doc_id, perm_index, sig_value): the driver's
    // pandas oracle can't sort/hash an array<bigint> column (round-1 err),
    // so the gate row is one row per permutation; the array-valued
    // signature stays available engine-side via Text.minhashSig
    "d03_minhash_sig" -> ((s, dir) => {
      // the output-order sort sits BELOW the signature kernels (the t08
      // pattern), so the range sampling never recomputes them; the
      // total (doc_id, perm_index) order still holds: doc_id is unique,
      // the range exchange orders partitions by doc_id, posexplode
      // emits pos ascending within each row, and the final
      // sortWithinPartitions (no exchange, no sampling pass) makes the
      // within-partition order explicit in the plan
      shingleDocs(s, dir)
        .orderBy("doc_id")
        .select(col("doc_id"), Text.fps(col("sh")).as("fps"))
        .select(col("doc_id"), posexplode(Text.minhashSig(col("fps"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("perm_index"),
          col("col").as("sig_value"))
        .sortWithinPartitions("doc_id", "perm_index")
    }),

    "d04_minhash_lsh_dedup" -> ((s, dir) =>
      canonicalsOf(sharedEdges(s, dir)).orderBy("doc_id")),

    // connected components over the verified near-dup graph: the real
    // dedup grouping (d04's min-neighbor is one hop; chains a~b~c need
    // transitive closure). The edge set IS d04's LSH-verified pair
    // relation — band-bucket candidates + exact-Jaccard verify — so the
    // near-dup pair definition is unified across d04/d06/d07/p01 and
    // the capped inverted-index join (d02's formulation) is not
    // recomputed here. Min-label propagation, iterations bounded by
    // component diameter (near-dup clusters are shallow); d07 runs
    // large/small-star on the SAME edges for adversarial diameters.
    "d06_dedup_components" -> ((s, dir) => {
      val pairs = cp(sharedEdges(s, dir))
      minLabelComponents(pairs)
        .select(col("id").as("doc_id"), col("lbl").as("comp_id")).orderBy("doc_id")
    }),

    // the same components via alternating large-star/small-star
    // (Kiveris et al., "Connected Components in MapReduce and Beyond",
    // SoCC 2014): converges in O(log² n) rounds REGARDLESS of component
    // diameter — the robust variant for adversarial graphs (long
    // chains), where per-hop label propagation needs diameter rounds.
    // Same edge relation, same output, same oracle as d06.
    "d07_dedup_components_star" -> ((s, dir) => {
      val pairs = cp(sharedEdges(s, dir))
      starComponents(pairs)
        .select(col("id").as("doc_id"), col("lbl").as("comp_id")).orderBy("doc_id")
    }),

    // cluster CANONICALIZATION by quality (r16 — the step real dedup
    // pipelines run after components: keep the BEST copy per near-dup
    // cluster, not the smallest-id one; Lee et al. 2022 keep one
    // member per cluster, and production stacks pick it by a quality
    // signal so boilerplate-ridden variants lose to the clean copy).
    // Composes three already-gated pieces: the shared LSH-verified
    // edge relation (d04/d06/d07's pair definition), min-label
    // components (d06's code), and t03's quality kernel — the keeper
    // per component is argmax (quality DESC, doc_id ASC), a rank
    // window over components (tiny partitions — near-dup clusters are
    // shallow). Output carries floor-micros of the winning quality,
    // never a raw double (the t03 hash rule); the quality double
    // itself is IEEE-identical in both engines (t03's contract), so
    // ranking by it agrees. Scale: edges/components are
    // candidate-proportional (banded LSH, never all-pairs); the
    // quality join touches only docs IN components.
    "d11_cluster_best" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val comps = minLabelComponents(cp(sharedEdges(s, dir)))
      val q = Tables(s, dir, "documents")
        .select(col("doc_id"), Text.qualityScore(col("text")).as("q"))
      val j = comps.join(q, comps("id") === q("doc_id"))
        .select(col("lbl").as("comp_id"), col("doc_id"), col("q"))
      val byComp = Window.partitionBy("comp_id")
      j.withColumn("rn", row_number().over(
          byComp.orderBy(col("q").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(byComp))
        .filter(col("rn") === 1)
        .select(col("comp_id"), col("doc_id").as("keep_id"),
          col("n_members"),
          floor(col("q") * lit(1000000.0)).cast("long").as("best_q_micros"))
        .orderBy("comp_id")
    }),

    // edit-distance near-dup join over a fixed-width document key (the
    // 40-char text prefix — the "title" of the fixtures), with PassJoin
    // segment blocking (functions/Segments): candidate generation is an
    // equi-join of each key's Tau+1 segments against position-windowed
    // substrings of the others — near-linear, EXACT by pigeonhole for
    // ed <= Tau — and only the candidates pay the banded levenshtein.
    // Participation is CAPPED per first-segment block (D08Cap, the v03
    // pattern at the PassJoin block level); the oracle mirrors the cap
    // with one window, then keeps the plain quadratic CASE join over
    // the participants — the blocking itself is lossless. This is
    // where segment blocking earns its keep (long strings over a large
    // vocabulary); q24's short-name stats use vocabulary collapse.
    "d08_editdist_neardup" -> ((s, dir) =>
      editDistancePairs(Tables(s, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 40).as("k")))
        .orderBy("a_id", "b_id")),

    "d05_simhash_neardup" -> ((s, dir) =>
      simhashPairs(shingleDocs(s, dir)).orderBy("a_id", "b_id")),

    // cross-doc PASSAGE-level dedup (the C4/RefinedWeb line-dedup step,
    // adapted to the fixtures' single-line docs as fixed 8-token
    // passages): keep each distinct passage only at its global first
    // occurrence and reassemble every doc from its survivors — the
    // finer-grained sibling of d01's whole-doc keep-first
    "d09_passage_dedup" -> ((s, dir) =>
      passageDedup(Tables(s, dir, "documents").select(col("doc_id"), col("text")), w = 8)
        .orderBy("doc_id")),

    // SUBSTRING-level exact dedup (Lee et al. 2022, the overlapping-
    // window form a production LLM pipeline runs): ~40-token windows at
    // stride 20 (+ tail window — every token covered), keep-first on
    // the window FINGERPRINT, doc survival = fraction of windows
    // surviving. The cross-passage sibling of d09: a duplicated span
    // straddling d09's fixed passage boundaries still collides here.
    "d10_substring_dedup" -> ((s, dir) =>
      substringDedup(Tables(s, dir, "documents").select(col("doc_id"), col("text")))
        .orderBy("doc_id"))
  )

  /** Participation cap for the edit-distance join — the v03 pattern
    * applied at the PassJoin block level. A segment block's candidate
    * volume is seg-count × probe-count ≈ df², and the hot blocks are
    * FIRST-segment blocks (shared leading tokens — boilerplate
    * prefixes at web scale): measured 28.4 k candidates at sf0.1 vs
    * 2.00 M on the 10× salted replica (α ≈ 1.85) with every hot block
    * a segment-0 block ("customer agg " df 13 → 130). So only the
    * D08Cap smallest doc_ids per segment-0 block participate in the
    * join at all — bounding per-block work at O(cap²) and total work
    * linear in the corpus. Segment 0 of the tau+1 = 3 partition has
    * length ⌊l/3⌋ for EVERY l (the remainder spreads over the last
    * segments), so the block key is `substr(k, 1, ⌊len(k)/3⌋)` in
    * plain SQL and the oracle mirrors the cap with one rank window.
    * Gate-SF max block sizes are 4 / 4 / 13 — far below 32, so the
    * cap is provably a no-op at every gate (D08CapSpec pins the audit
    * empty); on the salted replica it binds (11 379 of 50 000
    * doc-slots trimmed — coverage cost in BENCHNOTES). Production
    * recipe: cap ≈ p99 block size; [[d08CapAudit]] is the audit
    * relation that tells you when (and where) the cap is binding.
    */
  private[queries] val D08Cap = 32

  private def d08Block(k: Column): Column =
    k.substr(lit(1), floor(length(k) / 3).cast("int"))

  /** The capped participant relation over a `(doc_id, k)` key corpus:
    * keep the `cap` smallest doc_ids per segment-0 block. The corpus
    * never pays a full window exchange: hot blocks (> cap members)
    * come from a map-side-combinable count, only THEIR members are
    * ranked (a window over the semi-joined sliver), and the trimmed
    * ids — empty at every gate SF, 11 k of 50 k doc-slots on the
    * salted replica — anti-join back against the corpus (AQE
    * broadcasts the small side). Equivalent to rank-and-filter over
    * the whole corpus, at the cost of the sliver instead.
    */
  private[queries] def d08Participants(docs: DataFrame, cap: Int = D08Cap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hot = docs.groupBy(d08Block(col("k")).as("b0"))
      .agg(count(lit(1)).as("n")).filter(col("n") > cap).select("b0")
    // checkpointed: both the segment and the probe side of the join
    // read the participants; the trimmed sliver is the cheap thing to
    // materialize once (the docs scan itself stays a narrow re-read)
    val trimmed = cp(docs
      .join(hot, d08Block(col("k")) === col("b0"), "left_semi")
      .select(col("doc_id"), d08Block(col("k")).as("b0"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("b0")).orderBy(col("doc_id"))))
      .filter(col("rk") > cap)
      .select("doc_id"))
    docs.join(trimmed, Seq("doc_id"), "left_anti")
  }

  /** Audit relation for the d08 cap: one row per hot segment-0 block
    * (size > cap) with its trim count. Empty ⇔ the cap is a no-op on
    * the corpus — pinned at the gate fixtures by D08CapSpec.
    */
  def d08CapAudit(docs: DataFrame, cap: Int = D08Cap): DataFrame =
    docs
      .groupBy(d08Block(col("k")).as("b0")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > cap)
      .select(col("b0"), col("n_docs"), (col("n_docs") - cap).as("n_trimmed"))

  /** All pairs with ed ≤ Segments.Tau over a `(doc_id, k)` key corpus
    * (capped participants only): PassJoin segment blocking for
    * candidates, banded levenshtein verify. Columns: a_id, b_id, d.
    */
  private[queries] def editDistancePairs(docs0: DataFrame, cap: Int = D08Cap): DataFrame = {
    val tau = graft.functions.Segments.Tau // 2: 13-char segments over the 40-char key
    val docs = d08Participants(docs0, cap)
    val segs = docs.select(col("doc_id").as("r_id"), col("k").as("r_k"),
        length(col("k")).as("r_lr"),
        explode(graft.functions.Segments.segments(col("k"))).as("g"))
      .select(col("r_id"), col("r_k"), col("r_lr"),
        col("g._1").as("r_i"), col("g._2").as("seg"))
    val probes = docs.select(col("doc_id").as("s_id"), col("k").as("s_k"),
        explode(graft.functions.Segments.probes(col("k"))).as("g"))
      .select(col("s_id"), col("s_k"),
        col("g._1").as("lr"), col("g._2").as("i"), col("g._3").as("sub"))
    // the segment index is K rows/doc (same order as the corpus) —
    // broadcast at test SF; at cluster scale both sides shuffle on
    // the (lr, i, text) block key, still near-linear rows
    val cand = probes.join(broadcast(segs),
        col("lr") === col("r_lr") && col("i") === col("r_i") &&
          col("sub") === col("seg") && col("s_id") =!= col("r_id"))
      .select(least(col("r_id"), col("s_id")).as("a_id"),
        greatest(col("r_id"), col("s_id")).as("b_id"),
        when(col("r_id") < col("s_id"), col("r_k")).otherwise(col("s_k")).as("a_k"),
        when(col("r_id") < col("s_id"), col("s_k")).otherwise(col("r_k")).as("b_k"))
      .distinct()
    cand.select(col("a_id"), col("b_id"),
        levenshtein(col("a_k"), col("b_k"), tau).as("d")) // -1 when > tau
      .filter(col("d") >= 0)
  }

  /** Cross-doc passage dedup over a `(doc_id, text)` relation: split
    * each doc into non-overlapping `w`-token passages, keep each
    * distinct passage string only at its GLOBAL first occurrence
    * (min doc_id, then min position — keep-first, d01's rule at
    * passage granularity), and rebuild every doc from its surviving
    * passages in original order. Output: doc_id, n_kept, n_removed,
    * text_clean (docs with no tokens keep an empty text_clean).
    *
    * Scale shape: the winner pick is `groupBy(passage).agg(min(struct
    * (doc_id, pos)))` — map-side partial agg absorbs hot passages
    * (boilerplate repeated in millions of docs combines to one row per
    * map task; a window row_number would serialize each hot key into
    * one task), then occurrences re-join the winner relation on the
    * passage key (AQE splits any residual join skew) and reassembly is
    * one shuffle back on doc_id. At 100 TB the join/shuffle key would
    * be a 128-bit digest of the passage rather than its bytes — here
    * the exact string stays the key so the verdict is definitionally
    * exact for the oracle compare.
    */
  private[queries] def passageDedup(docs: DataFrame, w: Int): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), Text.passages(col("text"), w).as("chunks"))
      .select(col("doc_id"), posexplode(col("chunks")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"), col("col").as("chunk"))
    val winners = chunks.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("win"))
    val flagged = chunks.join(winners, "chunk")
      .withColumn("kept",
        col("doc_id") === col("win.doc_id") && col("chunk_idx") === col("win.chunk_idx"))
    val rebuilt = flagged.groupBy("doc_id")
      .agg(
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
          when(col("kept"), struct(col("chunk_idx"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("text_clean"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Substring-level exact dedup over a `(doc_id, text)` relation
    * (d10): overlapping `w`-token windows at stride `s` (tail window
    * included — [[graft.functions.Text.windowFpsArr]]), keep-first on
    * the window fingerprint — an occurrence survives iff it is the
    * global (doc_id, position) minimum for its fp — and a per-doc
    * survival summary. Output: doc_id, n_windows, n_kept,
    * survival_ppm (⌊kept/windows·1e6⌋; windowless docs report 1e6 —
    * nothing was removed).
    *
    * Scale shape (d09's, at digest granularity): the scan emits ONLY
    * 8-byte window fps (the kernel never materializes window
    * strings), the winner pick is a map-side-combining
    * `groupBy(wfp).agg(min(struct(doc_id, seq)))` that absorbs hot
    * boilerplate windows per map task, occurrences re-join winners on
    * the fp (AQE handles residual skew), and the summary is one
    * shuffle back on doc_id. Window volume is n/s per doc — 2× the
    * token stream's 1/s·w coverage factor, independent of corpus
    * size. The fp is the shared portable charFp, so the oracle
    * reproduces it over the reconstructed window strings.
    */
  private[graft] def substringDedup(docs: DataFrame, w: Int = 40,
      stride: Int = 20): DataFrame = {
    val occ = docs
      .select(col("doc_id"), posexplode(Text.windowFps(col("text"), w, stride)))
      .select(col("doc_id"), col("pos").cast("long").as("seq"), col("col").as("wfp"))
    val winners = occ.groupBy("wfp")
      .agg(min(struct(col("doc_id"), col("seq"))).as("win"))
    val byDoc = occ.join(winners, "wfp")
      .withColumn("kept",
        col("doc_id") === col("win.doc_id") && col("seq") === col("win.seq"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nw"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("nk"))
    val nw = coalesce(col("nw"), lit(0L))
    val nk = coalesce(col("nk"), lit(0L))
    docs.select(col("doc_id")).join(byDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), nw.as("n_windows"), nk.as("n_kept"),
        when(nw === 0L, lit(1000000L))
          .otherwise(floor(nk.cast("double") / nw.cast("double") * lit(1000000.0)))
          .as("survival_ppm"))
  }

  /** SimHash near-dup pairs over a `(doc_id, sh)` relation: 32-bit
    * signature, 4×8-bit bands. By pigeonhole any pair within Hamming
    * distance 3 agrees on ≥ 1 band, so the band join is EXACT (no
    * recall loss) for the ≤ 3 predicate — pinned against brute force
    * on random corpora in SimHashPropertySpec. Columns: a_id, b_id,
    * hamming.
    */
  private[queries] def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sig = docs
      .select(col("doc_id"), Text.fps(col("sh")).as("fps"))
      .select(col("doc_id"), Text.simhash32(col("fps")).as("simhash"))
    val bands = sig.select(col("doc_id"), col("simhash"), explode(array((0 until 4).map(j =>
        struct(lit(j).as("j"), shiftright(col("simhash"), j * 8).bitwiseAND(lit(255L)).as("byte"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.j").as("j"), col("b.byte").as("byte"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.j") === col("y.j") && col("x.byte") === col("y.byte") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("x.simhash").as("a_sig"),
        col("y.doc_id").as("b_id"), col("y.simhash").as("b_sig"))
      .distinct()
    cand.filter(bit_count(col("a_sig").bitwiseXOR(col("b_sig"))) <= maxHamming)
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast("int").as("hamming"))
  }

  private val DOCS = s"SELECT doc_id, list_distinct(${shingles(TOKS)}) AS sh FROM documents"
  // uncapped pairs — d04's verification semantics (full shingle sets)
  private val JACCARD_PAIRS =
    s"""docs AS ($DOCS),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
       |common AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
       |jp AS (SELECT a_id, b_id,
       |    CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) AS jaccard
       |  FROM common JOIN sizes x ON a_id = x.doc_id JOIN sizes y ON b_id = y.doc_id)""".stripMargin
  // df-capped pairs over shingle FINGERPRINTS — mirrors Dedup.MaxDf and
  // the fp-based inverted index for d02
  private val JACCARD_PAIRS_CAPPED =
    s"""docs AS ($DOCS),
       |ex0 AS (SELECT doc_id, unnest(list_distinct([${fp("s")} for s in sh])) AS s FROM docs),
       |keep AS (SELECT s FROM (SELECT s, count(*) AS df FROM ex0 GROUP BY 1) WHERE df <= 50),
       |ex AS (SELECT doc_id, ex0.s AS s FROM ex0 JOIN keep ON ex0.s = keep.s),
       |common AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
       |jp AS (SELECT a_id, b_id,
       |    CAST(n_common AS DOUBLE) / (x.n + y.n - n_common) AS jaccard
       |  FROM common JOIN sizes x ON a_id = x.doc_id JOIN sizes y ON b_id = y.doc_id)""".stripMargin

  // LSH-verified near-dup edges — mirrors [[lshVerifiedPairs]]: band
  // candidates verified by exact Jaccard over FULL shingle sets.
  // Shared by d04 (canonical map) and d06/d07 (components).
  private val LSH_EDGES =
    s"""$JACCARD_PAIRS,
       |f AS (SELECT doc_id, [${fp("s")} for s in sh] AS fps FROM docs),
       |sig AS (SELECT doc_id, ${minhashSig("fps")} AS sig FROM f),
       |bands AS (SELECT doc_id, j, sig[j*4+1 : j*4+4] AS bkey
       |  FROM sig, (SELECT unnest(range(0, 4)) AS j)),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y ON x.j = y.j AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |edges AS (SELECT cand.a_id, cand.b_id FROM cand
       |  JOIN jp ON cand.a_id = jp.a_id AND cand.b_id = jp.b_id WHERE jp.jaccard >= 0.5)""".stripMargin

  // components over the LSH-verified edges (d06 = min-label
  // propagation, d07 = large/small-star; same fixed point, same SQL)
  private val COMPONENTS_SQL =
    s"""WITH RECURSIVE $LSH_EDGES,
       |verts AS (SELECT a_id AS id FROM edges UNION SELECT b_id FROM edges),
       |eb AS (SELECT a_id AS src, b_id AS dst FROM edges
       |       UNION SELECT b_id, a_id FROM edges),
       |comp(id, lbl) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT eb.dst, comp.lbl FROM comp JOIN eb ON comp.id = eb.src)
       |SELECT id AS doc_id, min(lbl) AS comp_id FROM comp GROUP BY 1 ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "d01_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "d02_jaccard_pairs" ->
      s"""WITH $JACCARD_PAIRS_CAPPED
         |SELECT a_id, b_id, jaccard FROM jp WHERE jaccard >= 0.5 ORDER BY a_id, b_id""".stripMargin,

    // the indexed path serves the same base relation through the same
    // exact verify — d02's oracle verbatim
    "d02b_jaccard_indexed" ->
      s"""WITH $JACCARD_PAIRS_CAPPED
         |SELECT a_id, b_id, jaccard FROM jp WHERE jaccard >= 0.5 ORDER BY a_id, b_id""".stripMargin,

    // build-75% + append-25% == rebuild below the df cap (the
    // PpAppendSpec contract; fixtures verified far below it per SF) —
    // d02's oracle verbatim
    "d02c_jaccard_appended" ->
      s"""WITH $JACCARD_PAIRS_CAPPED
         |SELECT a_id, b_id, jaccard FROM jp WHERE jaccard >= 0.5 ORDER BY a_id, b_id""".stripMargin,

    // stream-assembled index == rebuild below the df cap (frozen-order
    // ranking is batch-boundary-independent; d02c's verified
    // precondition) — d02's oracle verbatim
    "d02d_jaccard_streamed" ->
      s"""WITH $JACCARD_PAIRS_CAPPED
         |SELECT a_id, b_id, jaccard FROM jp WHERE jaccard >= 0.5 ORDER BY a_id, b_id""".stripMargin,

    "d03_minhash_sig" ->
      s"""WITH docs AS ($DOCS),
         |f AS (SELECT doc_id, [${fp("s")} for s in sh] AS fps FROM docs),
         |sigs AS (SELECT doc_id, ${minhashSig("fps")} AS sig FROM f WHERE len(fps) > 0)
         |SELECT doc_id, j + 1 AS perm_index, sig[CAST(j + 1 AS INT)] AS sig_value
         |FROM sigs, (SELECT unnest(range(0, 16)) AS j)
         |ORDER BY doc_id, perm_index""".stripMargin,

    "d04_minhash_lsh_dedup" ->
      s"""WITH $LSH_EDGES
         |SELECT b_id AS doc_id, min(a_id) AS canonical_id FROM edges GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "d06_dedup_components" -> COMPONENTS_SQL,

    "d07_dedup_components_star" -> COMPONENTS_SQL,

    // d06's recursive components + t03's exact score expression; the
    // keeper rank mirrors Spark's window verbatim (q DESC, doc_id) —
    // the quality doubles are bit-identical in both engines (t03's
    // contract), so the argmax agrees, and the output carries only
    // floor-micros, never a raw double
    "d11_cluster_best" ->
      s"""WITH RECURSIVE $LSH_EDGES,
         |verts AS (SELECT a_id AS id FROM edges UNION SELECT b_id FROM edges),
         |eb AS (SELECT a_id AS src, b_id AS dst FROM edges
         |       UNION SELECT b_id, a_id FROM edges),
         |comp(id, lbl) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT eb.dst, comp.lbl FROM comp JOIN eb ON comp.id = eb.src),
         |c AS (SELECT id AS doc_id, min(lbl) AS comp_id FROM comp GROUP BY 1),
         |t AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |qs AS (SELECT doc_id, ${TextAnalysis.SCORE} AS q FROM t),
         |j AS (SELECT c.comp_id, c.doc_id, qs.q FROM c JOIN qs USING (doc_id)),
         |r AS (SELECT comp_id, doc_id, q,
         |    row_number() OVER (PARTITION BY comp_id ORDER BY q DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY comp_id) AS n_members FROM j)
         |SELECT comp_id, doc_id AS keep_id, CAST(n_members AS BIGINT) AS n_members,
         |  CAST(floor(q * 1000000.0) AS BIGINT) AS best_q_micros
         |FROM r WHERE rn = 1 ORDER BY comp_id""".stripMargin,

    // the participation cap is mirrored with one rank window over the
    // segment-0 block (substr(k, 1, len//3) — segment 0 is ⌊l/3⌋ long
    // for every l); the blocking itself is lossless for ed <=
    // Segments.Tau (= 2, the predicate below), so the rest stays the
    // plain quadratic formulation over the participants
    "d08_editdist_neardup" ->
      s"""WITH d AS (SELECT doc_id, substr(text, 1, 40) AS k FROM documents),
         |g AS (SELECT doc_id, k, row_number() OVER (
         |    PARTITION BY substr(k, 1, CAST(len(k) // 3 AS INT)) ORDER BY doc_id) AS rk FROM d),
         |e AS (SELECT doc_id, k FROM g WHERE rk <= $D08Cap)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(levenshtein(a.k, b.k) AS INT) AS d
         |FROM e a JOIN e b ON a.doc_id < b.doc_id
         |WHERE levenshtein(a.k, b.k) <= 2
         |ORDER BY a_id, b_id""".stripMargin,

    "d05_simhash_neardup" ->
      s"""WITH docs AS ($DOCS),
         |f AS (SELECT doc_id, [${fp("s")} for s in sh] AS fps FROM docs),
         |sig AS (SELECT doc_id, ${simhash32("fps")} AS simhash FROM f),
         |bands AS (SELECT doc_id, simhash, j, (simhash >> (j * 8)) & 255 AS byte
         |  FROM sig, (SELECT unnest(range(0, 4)) AS j)),
         |cand AS (SELECT DISTINCT x.doc_id AS a_id, x.simhash AS a_sig,
         |    y.doc_id AS b_id, y.simhash AS b_sig
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.byte = y.byte AND x.doc_id < y.doc_id)
         |SELECT a_id, b_id, CAST(bit_count(xor(a_sig, b_sig)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(a_sig, b_sig)) <= 3 ORDER BY a_id, b_id""".stripMargin,

    // the row_number formulation is the same keep-first rule as Spark's
    // min(struct(doc_id, pos)) winner — rn = 1 iff (doc_id, chunk_idx)
    // is the global minimum for that passage string
    "d09_passage_dedup" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |c AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT))) AS chunk_idx, tk FROM t),
         |p AS (SELECT doc_id, chunk_idx,
         |    array_to_string(tk[CAST(chunk_idx * 8 + 1 AS BIGINT) : CAST(chunk_idx * 8 + 8 AS BIGINT)], ' ') AS chunk
         |  FROM c),
         |f AS (SELECT doc_id, chunk_idx, chunk,
         |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn FROM p),
         |r AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |    CAST(sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |    coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx), '') AS text_clean
         |  FROM f GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
         |  coalesce(r.text_clean, '') AS text_clean
         |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // the same overlapping windows rebuilt as STRINGS (positions
    // 0, 20, 40, … plus the uncovered tail at n−40), fingerprinted
    // with the shared portable fp; rn = 1 is the keep-first winner —
    // the same (doc_id, position) minimum Spark's min(struct) picks
    "d10_substring_dedup" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |m AS (SELECT doc_id, tk, len(tk) AS n FROM t),
         |ps AS (SELECT doc_id, tk,
         |    CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
         |         WHEN n <= 40 THEN [CAST(0 AS BIGINT)]
         |         ELSE list_concat([CAST(p AS BIGINT) for p in range(0, n - 39, 20)],
         |           CASE WHEN (n - 40) % 20 = 0 THEN CAST([] AS BIGINT[])
         |                ELSE [CAST(n - 40 AS BIGINT)] END)
         |    END AS plist FROM m),
         |o AS (SELECT doc_id, p AS pos,
         |    array_to_string(tk[CAST(p + 1 AS BIGINT):CAST(p + 40 AS BIGINT)], ' ') AS wstr
         |  FROM ps, unnest(plist) AS u(p)),
         |f AS (SELECT doc_id, pos, ${fp("wstr")} AS wfp FROM o),
         |r AS (SELECT doc_id, wfp,
         |    row_number() OVER (PARTITION BY wfp ORDER BY doc_id, pos) AS rn FROM f),
         |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |  FROM r GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(g.n_windows, 0) AS BIGINT) AS n_windows,
         |  CAST(coalesce(g.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(CASE WHEN g.n_windows IS NULL THEN 1000000
         |       ELSE floor(CAST(g.n_kept AS DOUBLE) / CAST(g.n_windows AS DOUBLE) * 1000000.0)
         |       END AS BIGINT) AS survival_ppm
         |FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id
         |ORDER BY d.doc_id""".stripMargin
  )
}
