package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.PqCodebook
import graft.functions.Vectors._
import OracleDialect.{cosine => cosSql, fp => fpSql}

/** Similarity search over the `embeddings` table (SURVEY.md §7.4):
  * brute-force cosine top-k, IVF-style ANN, and blocked near-dup pairs.
  *
  * Norms are computed ONCE per vector in the base projection and carried
  * through joins — a pair computes a single dot product plus one divide,
  * not three dots (the sqrt-per-vector values are identical to the
  * oracle's per-pair `sqrt(dot(x,x))`, so results stay bit-exact while
  * the pair stage does a third of the flops).
  *
  * Scale design:
  *  - v01 brute force: the query set (20 vectors) broadcasts; each
  *    partition scores its rows locally; one ranking window per query
  *    takes the top-k frontier — no all-pairs shuffle. Ground truth for
  *    the ANN variants.
  *  - v02 IVF: nlist=16 centroids, nprobe=2. Assignment is a broadcast
  *    nested-loop against 16 rows; at 100 TB the `assign` relation is
  *    written bucketed by c_id so probes prune partitions and each query
  *    scans ~nprobe/nlist of the data. Deterministic (fixed centroid
  *    ids, fixed tie-breaks), hence oracle-checkable — unusual for ANN,
  *    deliberate here.
  *  - v03 near-dup: label is the blocking key (the realistic shape:
  *    cluster-id / shard blocking) with a per-label participation cap
  *    (V03Cap) so a hot label can never go quadratic; pairs form
  *    within blocks only, one shuffle on label, never a global cross
  *    join.
  */
object Similarity {

  /** v03 per-label participation cap — 5x the largest gate-SF label
    * (218 at sf0.1), so the cap is provably a no-op wherever the hash
    * gate runs, while bounding a hot label's pair work at O(cap²) at
    * replica/production scale. Shared by the Spark query and its
    * oracle SQL so both sides stay mirrored if it is ever tuned.
    */
  private[queries] val V03Cap = 1000

  /** v10b's gated w=2 match-fraction floor. Measured with the trained
    * router on the near-isotropic fixtures (the HARDEST routing case —
    * cosines to all centroids nearly equal): 0.634 / 0.660 / 0.637 at
    * sf0.001/0.01/0.1 (TwoLevelProbe, BENCHNOTES r13). 0.35 sits ~45%
    * under the smallest reading — fixture regeneration can't flap the
    * flag — while staying well above the ~0.25 a BROKEN router (w=2
    * random shard choice over 8 supers) would score, so a real routing
    * regression still trips it.
    */
  private[queries] val V10bFloor = 0.35

  /** v11's gated recall floor — absolute hit count over the 30
    * (10 queries × top-3) ground-truth slots. Measured with the
    * shipped dial (m=16, k=16, frontier 50) and the r14
    * hash-stratified sample on the near-isotropic fixtures:
    * 28/29/25 at sf0.001/0.01/0.1 (PqProbe, BENCHNOTES r14 — the
    * id-prefix sample scored 28/24/22, so de-biasing the sample also
    * RAISED recall at the two larger SFs). 12 sits >50% under the
    * smallest reading — regeneration can't flap the flag — while a
    * broken codebook or scorer (random frontier ≈ 1/30) still trips it.
    */
  private[queries] val V11Floor = 12L

  /** v12's IVFADC probe width (of nlist = 16 coarse lists — scan
    * fraction nprobe/nlist) and its gated recall floor. Dial sweep
    * measured by IvfAdcProbe on the near-isotropic fixtures
    * (BENCHNOTES r14): recall is ROUTING-bound there — the fixtures
    * give the coarse layer almost no signal, so hits scale with the
    * probe fraction for both codebook forms (residual at frontier
    * 100, nprobe 2/4/8: 10/12/19, 10/13/22, 7/13/18 across the SFs) —
    * and the literature's residual-beats-direct margin INVERTS at
    * sf0.1 (18 vs 22 at nprobe=8): isotropic residuals x̂−ĉ carry ~2×
    * the energy of x̂, so the sub-quantizers spread thinner. v12 ships
    * the residual form regardless — it is the production-correct
    * IVFADC (real embedding corpora are clustered, where residuals DO
    * concentrate; IvfAdcSpec proves the mechanism on a deterministic
    * clustered mixture) — at nprobe = 8 and frontier = 100 (the wider
    * frontier lets the exact re-rank absorb residual quantization
    * noise: +4 hits at sf0.1 over frontier 50, for 50 more re-rank
    * rows per query), floored at 9 (50% under the smallest measured
    * 18, the V11Floor margin convention).
    */
  private[queries] val V12Nprobe = 8
  private[queries] val V12Frontier = 100
  private[queries] val V12Floor = 9L

  /** v12b's gated recall floor — the TRAINED-coarse IVFADC recipe
    * (trained routing + residual codes, the production form). The r14
    * sweep (IvfAdcProbe, BENCHNOTES) measured 24/24/24 of 30 at the
    * shipped nprobe=8/frontier=100 across the SFs — trained routing is
    * the dominant recall dial (+5/+2/+6 over the seed book) AND makes
    * recall uniform across SFs. Floored at 12 (50% under the measured
    * reading, the V11Floor margin convention): distributed Lloyd's
    * add-order float wobble moves hits by ≤1–2, never 12; a broken
    * router or codebook (random ≈ 1/30 per slot) still trips it. The
    * floor also sits ABOVE the seed book's worst reading (18) minus
    * its own margin — deliberately NOT above 18 itself, because the
    * gate's job is catching regressions in the trained path, not
    * re-litigating seed-vs-trained (BENCHNOTES carries that A/B).
    */
  private[queries] val V12bFloor = 12L

  /** v12d's gated recall floor — IVFADC assembled by the STREAMING
    * ingest (bootstrap on the lower vec_id half freezes the seed
    * codebook + coarse book there; the upper half arrives through
    * the ingest loop's foreachBatch appends). V12dProbe measured 19/22/20
    * of 30 across the SFs through the exact gate path — matching the
    * full-build seed book's 19/22/18 (identical at the small SFs, +2
    * at sf0.1): the book saw half the corpus, but the near-isotropic
    * fixtures make PQ books sample-insensitive, and appends are
    * placement-deterministic. Floored at 9 (~50% under the smallest
    * measured 19 — the V11Floor margin convention, same floor as
    * v12); the build is deterministic given the corpus (seed book +
    * deterministic appends), so the flag cannot flake.
    */
  private[queries] val V12dFloor = 9L

  /** v10d's gated w=2 match-fraction floor for the TRAINED-fine
    * sharded path — measured with trained fine book + trained router
    * on the gate fixtures (TwoLevelProbe trained mode, BENCHNOTES
    * r14), floored with the ~45% margin convention.
    */
  private[queries] val V10dFloor = 0.35

  /** Base projection: double vector + its precomputed L2 norm. */
  private[queries] def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** cosine from a precomputed-norm pair: one dot, one multiply-divide. */
  private def cosPre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** First `nlist` vectors as fixed centroids (deterministic). */
  private[queries] def centroids(e: DataFrame, nlist: Int): DataFrame =
    e.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))

  /** The IVF centroid-assignment relation `(vec_id, c_id, v, nrm)` —
    * what [[graft.sources.IvfIndex]] persists `partitionBy(c_id)` so
    * probes prune to `nprobe/nlist` of the files. Assignment is the
    * cosine-nearest of the first `nlist` vectors, ties broken on
    * `c_id`, so the relation is deterministic and rebuildable.
    */
  def ivfAssign(s: SparkSession, dir: String, nlist: Int = 16): DataFrame = {
    val e = emb(s, dir)
    assignTo(e, centroids(e, nlist)).select("vec_id", "c_id", "v", "nrm")
  }

  /** Nearest centroid per vector against an arbitrary centroid
    * relation `(c_id, cv, cn)` — ivfAssign's core, broken out so
    * trained centroids ([[ivfTrain]]) plug into the same shape.
    *
    * r11: the argmax is the [[graft.functions.NearestCentroid]] scan
    * kernel, not a crossJoin+window — the declarative form
    * materializes n·nlist vector-carrying rows through a per-vec_id
    * sort, which at the production dial nlist ≈ √n is n^1.5 rows
    * (measured 172 s for v08b at the 100× replica; the kernel runs
    * the identical argmax scan-side in ~12 s). The centroid relation
    * is collected driver-side (nlist rows — the k-means/IVF codebook
    * sync every implementation pays) in ascending c_id so
    * strictly-greater wins reproduce the oracle's
    * `ORDER BY cos DESC, c_id` tie-break exactly.
    */
  private[queries] def assignTo(e: DataFrame, cents: DataFrame): DataFrame =
    assignToBook(e, collectBook(cents))

  /** The nlist-row driver-side collect of a codebook relation — the
    * k-means/IVF codebook sync every implementation pays, factored out
    * (r20) so callers that assign repeatedly under an UNCHANGED book
    * (the streaming maintenance loop appends under a frozen book every
    * micro-batch) pay it once instead of once per call.
    */
  private[graft] def collectBook(cents: DataFrame): Seq[(Long, Seq[Double], Double)] = {
    // sorted on the driver: a range sort of an nlist-row relation costs
    // a sampling job plus a sort job per call for nothing
    val book = cents.select(col("c_id"), col("cv"), col("cn")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
      .sortBy(_._1)
    // the strictly-greater tie-break (and every c_id-keyed lookup)
    // assumes one centroid per id: a duplicate would be served silently
    val dup = book.map(_._1).sliding(2).collectFirst { case Seq(a, b) if a == b => a }
    require(dup.isEmpty, s"collectBook: c_id ${dup.get} appears more than " +
      "once in the codebook — centroid ids must be distinct")
    book
  }

  /** [[assignTo]] against an already-collected book. */
  private[graft] def assignToBook(e: DataFrame,
      book: Seq[(Long, Seq[Double], Double)]): DataFrame =
    e.withColumn("nc", nearestCentroid(col("v"), col("nrm"), book))
      .select(col("vec_id"), col("nc.c_id").as("c_id"), col("v"), col("nrm"),
        col("nc.c_cos").as("c_cos"))

  /** Lloyd-trained IVF centroids: start from the deterministic
    * first-`nlist` seed and run `iters` refinement steps, each ONE
    * aggregate job — assign every vector to its nearest centroid
    * (the broadcast argmax kernel, the ivfAssign shape), then recompute
    * each centroid as its cluster's MEAN vector via a mergeable
    * per-(c_id, dim) sum/count aggregate (posexplode → partial+final
    * agg; at 100 TB this is the classic distributed k-means step:
    * shuffle rows ≈ nlist·dim, not corpus size, thanks to map-side
    * combine), collected as the book's nlist·dim values. Spherical
    * k-means on unit-normalized data: the mean maximizes
    * within-cluster cosine, and cosPre's norm division makes explicit
    * renormalization unnecessary. An emptied cluster keeps its
    * previous centroid. The book travels between steps as a driver
    * `Seq` — the k-means codebook sync every distributed Lloyd pays,
    * and nothing more.
    *
    * r17 (verdict ask #3): training is DETERMINISTIC GIVEN THE CORPUS
    * — bit-stable across partitionings, executor counts, and task
    * scheduling. The one add-order-dependent step in distributed
    * Lloyd is the per-(centroid, dim) float mean; here each member's
    * contribution x/nrm is rounded ONCE to DECIMAL(28,20) (a fixed,
    * partition-independent rounding of a per-row double) and summed in
    * decimal — exact integer arithmetic, hence order-insensitive —
    * before one final division + double cast. The 5e-21 per-element
    * rounding is far below float-mean noise and changes nothing about
    * the ascent argument; 18 integral digits hold ~1e18 members per
    * cluster before overflow (a 100 TB corpus is ~1e11 vectors).
    * Determinism is what makes trained codebooks REUSABLE artifacts:
    * a rebuild reproduces the book bit-for-bit (IvfTrainSpec pins
    * bit-equality across repartitionings, and the bits themselves), so
    * suite sessions share one build (v10d/v12b) and production caches
    * books by corpus version. Downstream, a SAVED centroid relation
    * keeps assignment deterministic exactly as before (the v02/v08
    * contract).
    */
  def ivfTrain(s: SparkSession, dir: String, nlist: Int = 16,
      iters: Int = 3): DataFrame = ivfTrainOver(s, emb(s, dir), nlist, iters)

  /** [[ivfTrain]] over an explicit (vec_id, v, nrm) relation — the
    * determinism spec trains the SAME rows under different
    * partitionings through this hook.
    */
  private[queries] def ivfTrainOver(s: SparkSession, e: DataFrame,
      nlist: Int = 16, iters: Int = 3): DataFrame = {
    val seed = centroids(e, nlist)
    if (iters <= 0) return seed
    var book = collectBook(seed)
    for (_ <- 0 until iters) {
      // spherical: average the UNIT vectors (a raw mean would weight
      // long vectors and void the cosine-objective ascent guarantee);
      // decimal sum = add-order-insensitive (see the class note). One
      // narrow sum per (c_id, pos), not a row of dim sums per c_id: the
      // dim-wide decimal aggregate yields the same bits but took about
      // 1.7 s longer on a fresh JVM (4-core VM, sf0.01, nlist 16, 3
      // steps): its generated code is that large.
      val means = assignToBook(e, book)
        .select(col("c_id"), col("nrm"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("c_id", "pos").agg(
          (sum((col("x") / col("nrm")).cast("decimal(28,20)")) /
            count(lit(1))).cast("double").as("m"))
        .collect()
        .groupBy(_.getLong(0)).map { case (id, rs) =>
          val cv = rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          // norm(cv): the DotProduct kernel's left fold, then sqrt
          id -> (id, cv, math.sqrt(cv.foldLeft(0.0)((acc, x) => acc + x * x)))
        }
      // emptied (or degenerate) clusters keep their previous centroid;
      // the book stays in ascending c_id order
      book = book.map(c => means.get(c._1).filter(_._3 > 0).getOrElse(c))
    }
    s.createDataFrame(java.util.Arrays.asList(book.map { case (id, cv, cn) =>
      org.apache.spark.sql.Row(id, cv, cn) }: _*), seed.schema)
  }

  /** Mean best-centroid cosine over the corpus — the spherical k-means
    * objective [[ivfTrain]] ascends; exposed for IvfTrainSpec.
    */
  def ivfObjective(s: SparkSession, dir: String, cents: DataFrame): Double =
    assignTo(emb(s, dir), cents).agg(avg(col("c_cos"))).head().getDouble(0)

  /** [[ivfAssign]] against an arbitrary (e.g. trained) centroid
    * relation — same deterministic argmax given the centroids.
    */
  def ivfAssignWith(s: SparkSession, dir: String, cents: DataFrame): DataFrame =
    assignTo(emb(s, dir), cents).select("vec_id", "c_id", "v", "nrm")

  /** Train (r11's `ivfTrain`), assign the corpus against the trained
    * codebook, and persist BOTH through [[graft.sources.IvfIndex]] —
    * the wiring that takes training output off the spec shelf and into
    * the index artifact a deployment actually probes (r12). Returns
    * the trained centroids so callers can compare against the loaded
    * copy. Training is paid once, off the query path, and since r17 is
    * deterministic given the corpus (decimal-sum Lloyd — see
    * [[ivfTrain]]); the SAVED codebook additionally survives round
    * trips bit-exact (parquet doubles), so index rebuilds and probes
    * reproduce exactly.
    */
  def buildTrainedIndex(s: SparkSession, dir: String, path: String,
      nlist: Int = 16, iters: Int = 3): DataFrame = {
    val cents = ivfTrain(s, dir, nlist, iters)
    graft.sources.IvfIndex.writeWithCodebook(
      ivfAssignWith(s, dir, cents), cents, path)
    cents
  }

  /** Re-assign a corpus against a PERSISTED codebook — byte-identical
    * to the index's own assignment relation (IvfPersistSpec pins the
    * round-trip), which is what makes incremental index adds safe:
    * new vectors land in the same partitions the original build chose.
    */
  def ivfAssignFromIndex(s: SparkSession, dir: String, path: String): DataFrame =
    ivfAssignWith(s, dir, graft.sources.IvfIndex.codebook(s, path))

  /** v02-shaped ANN against a persisted trained index: codebook AND
    * assignment both load from `path`; queries come from the live
    * corpus by predicate. The scan side is the `partitionBy(c_id)`
    * layout, so the probe join prunes to the probed centroids'
    * directories (dynamic partition pruning; static pruning via
    * [[graft.sources.IvfIndex.probe]] when the probe list is known
    * up front).
    */
  def knnIvfIndexed(s: SparkSession, dir: String, path: String,
      qPred: Column, nprobe: Int = 2): DataFrame =
    knnIvfOver(emb(s, dir), graft.sources.IvfIndex.codebook(s, path),
      graft.sources.IvfIndex.read(s, path), qPred, nprobe)

  /** INCREMENTAL maintenance for the float IVF index (r15 — the
    * [[appendToIvfAdcIndex]] treatment applied to the v02-tier
    * artifact, completing the append story across all the index
    * layouts: IvfIndex, PqIndex, PpIndex): assign `newVecs` — rows of
    * the embeddings shape, ids disjoint from the indexed corpus —
    * against the PERSISTED codebook and append them into the
    * `partitionBy(c_id)` layout. The loaded codebook reproduces the
    * build's argmax bit-for-bit (IvfPersistSpec round-trip), so
    * appended vectors land exactly where a rebuild WITH THE SAME
    * CODEBOOK would put them; retraining is a rebuild, not an append.
    */
  def appendToIvfIndex(s: SparkSession, newVecs: DataFrame, path: String): Unit = {
    graft.sources.AtomicSwap.requireDisjoint("appendToIvfIndex", newVecs,
      graft.sources.IvfIndex.read(s, path), "vec_id", path)
    writeIvfAppend(s, newVecs, path,
      collectBook(graft.sources.IvfIndex.codebook(s, path)))
  }

  /** [[appendToIvfIndex]]'s write half, for rows already disjoint from
    * the store: assign under the collected codebook `book` and append.
    * Returns the number of rows appended, counted by the write itself
    * ([[graft.sources.AtomicSwap.countedWrite]]). The streaming ingest
    * ([[graft.streaming.IndexIngest]]) collects the frozen book once
    * per stream and calls this every micro-batch.
    */
  private[graft] def writeIvfAppend(s: SparkSession,
      newVecs: DataFrame, path: String,
      book: Seq[(Long, Seq[Double], Double)]): Long = {
    val e = newVecs
      .select(col("vec_id"), col("label"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    // generation resolved ONCE; commitAppend fails loudly if a compact
    // raced the append (r18, ADVICE: writers serialized, readers safe)
    val intoDir = graft.sources.AtomicSwap.dataDir(s, path)
    val n = graft.sources.AtomicSwap.countedWrite(assignToBook(e, book)
        .select("vec_id", "c_id", "v", "nrm").repartition(col("c_id")))(
      _.write.mode("append").partitionBy("c_id").parquet(intoDir))
    // manifest bump last — the durable record that the append
    // committed; an empty append wrote no file and records nothing
    if (n > 0) graft.sources.AtomicSwap.commitAppend(s, path, intoDir)
    n
  }

  /** REBUILD the float IVF index from its own persisted state under a
    * new codebook (r19, verdict stretch #8 — the retrain step a
    * maintenance policy runs): reassign every stored vector against
    * `book` and publish the result as the next generation (codebook +
    * frozen stats refresh with it — the drift probe's baseline resets).
    * Reads ONLY the artifact, never the raw corpus — the shape a
    * streaming maintenance job needs, where the index IS the corpus of
    * record. Safe to run while READERS are live (generation layout);
    * WRITERS must be serialized, which [[graft.streaming.IndexIngest]]
    * guarantees by running this inside `foreachBatch` (micro-batches
    * are serial — SCALE.md's writer-serialization regime 1). The read
    * snapshot resolves the current generation, which `writeParts`'
    * prune retains through this publish, so the source files outlive
    * the write.
    */
  def rebuildIvfIndex(s: SparkSession, path: String, book: DataFrame,
      retain: Int = 1): Unit = {
    val store = graft.sources.IvfIndex.read(s, path)
      .select("vec_id", "v", "nrm")
    graft.sources.IvfIndex.writeWithCodebook(
      assignTo(store, book).select("vec_id", "c_id", "v", "nrm"), book, path,
      retain)
  }

  /** TWO-LEVEL IVF assignment (r12 — the tier above the single
    * embedded codebook's ~51 MB / nlist≈1e5 ceiling, prototyped; cost
    * model in SCALE.md). Structure:
    *
    *  1. COARSE: route each vector to its `w` nearest of ⌈√nlist⌉
    *     super-centroids (the first ⌈√nlist⌉ fine centroids — the
    *     deterministic seed convention) via the
    *     [[graft.functions.NearestCentroidsTopW]] scan kernel — zero
    *     shuffle, w·n skinny probe rows out.
    *  2. FINE: each fine centroid belongs to the shard of its nearest
    *     super (computed driver-side over the nlist-row codebook with
    *     the SAME total-order tie-break); probe rows join their
    *     shard's row — codebook-sized, broadcast here, pre-partitioned
    *     by s_id at the scale tier — and
    *     [[graft.functions.ShardNearest]] runs the argmax over the
    *     row-carried shard codebook.
    *  3. REDUCE: best (cos DESC, c_id ASC) across the w probed shards
    *     per vector — a max over w skinny rows, vectors never carried.
    *
    * With `w` = the full super count every fine centroid is reachable,
    * so the result is EXACTLY the single-level argmax (TwoLevelIvfSpec
    * pins row-for-row equality); smaller `w` is the standard IVF
    * multi-probe trade, and the spec pins the observed match rate
    * floor at w=2. Returns `(vec_id, c_id, c_cos)`.
    */
  def twoLevelAssign(s: SparkSession, dir: String, fine: DataFrame,
      w: Int, trainedRouter: Boolean = false): DataFrame = {
    val book = collectBook(fine)
    val nSup = math.ceil(math.sqrt(book.size.toDouble)).toInt
    val supers =
      if (trainedRouter) trainSupers(book, nSup) else book.take(nSup)
    import s.implicits._
    val shards = broadcast(
      shardRowsOf(book, supers).toDF("s_id", "sh_cids", "sh_flat", "sh_cns"))
    twoLevelCore(emb(s, dir), supers, shards, w)
  }

  /** Cosine-nearest super id for one fine centroid — the shard-
    * membership rule, shared by the broadcast prototype and the
    * persisted-index build so both produce identical shards. Same
    * total-order compare (−0.0 collapsed) and ascending-id
    * strictly-greater tie-break as the kernels.
    */
  private def nearestSuperId(cv: Seq[Double], cn: Double,
      supers: Seq[(Long, Seq[Double], Double)]): Long = {
    var bestId = supers.head._1
    var best = Double.NegativeInfinity
    for ((sid, sv, sn) <- supers) {
      var acc = 0.0
      var i = 0
      while (i < cv.length) { acc += cv(i) * sv(i); i += 1 }
      var cos = acc / (cn * sn)
      if (cos == 0.0) cos = 0.0
      if (java.lang.Double.compare(cos, best) > 0) { best = cos; bestId = sid }
    }
    bestId
  }

  /** Group a fine codebook into per-shard rows `(s_id, cids, flat,
    * cns)` — centroid lists sorted ascending by c_id so
    * [[graft.functions.ShardNearest]]'s strictly-greater wins keep the
    * smallest id (the oracle's tie-break).
    */
  private def shardRowsOf(book: Seq[(Long, Seq[Double], Double)],
      supers: Seq[(Long, Seq[Double], Double)])
      : Seq[(Long, Seq[Long], Seq[Double], Seq[Double])] =
    book.groupBy { case (_, cv, cn) => nearestSuperId(cv, cn, supers) }
      .toSeq.sortBy(_._1)
      .map { case (sid, cs) =>
        val sorted = cs.sortBy(_._1)
        (sid, sorted.map(_._1), sorted.flatMap(_._2), sorted.map(_._3))
      }

  /** The route → shard-argmax → reduce pipeline shared by the
    * broadcast prototype and the persisted sharded path: coarse-route
    * each vector to its `w` nearest supers (scan kernel, zero
    * shuffle), join the probe rows to their shard's codebook row, run
    * [[graft.functions.ShardNearest]], and take the best
    * (cos DESC, c_id ASC) across the probed shards.
    */
  private def twoLevelCore(e: DataFrame,
      supers: Seq[(Long, Seq[Double], Double)], shards: DataFrame,
      w: Int): DataFrame = {
    val probes = e.withColumn("s_id",
      explode(nearestCentroidsTopW(col("v"), col("nrm"), supers,
        math.min(w, supers.size))))
    probes.join(shards, "s_id")
      .select(col("vec_id"),
        shardNearest(col("v"), col("nrm"),
          col("sh_cids"), col("sh_flat"), col("sh_cns")).as("nc"))
      .groupBy("vec_id")
      .agg(max(struct(col("nc.c_cos").as("c_cos"),
        (-col("nc.c_id")).as("neg_id"))).as("b"))
      .select(col("vec_id"), (-col("b.neg_id")).as("c_id"),
        col("b.c_cos").as("c_cos"))
  }

  /** Driver-side spherical Lloyd over the FINE codebook (r13, verdict
    * ask #5) — trains the two-level router's super layer. The input is
    * nlist rows (the codebook, NOT the corpus), so training is cheap
    * at any data scale, and the sequential ascending-c_id fold makes
    * it fully deterministic (corpus-side [[ivfTrain]] reaches the same
    * property through its order-insensitive decimal sums — r17; this
    * driver fold predates that and stays). Seeded from the
    * first `nSup` fine centroids (the r12 convention); each iteration
    * assigns every fine centroid to its nearest super under the
    * kernels' total-order tie-break, then recomputes each super as the
    * mean of its members' UNIT vectors (spherical k-means — the cosine
    * objective's ascent step); an emptied or degenerate super keeps
    * its previous vector. Supers are re-numbered 0..nSup−1.
    *
    * Memberless supers are DROPPED before renumbering (ADVICE r13): a
    * trained super is a synthetic mean and can end up owning zero fine
    * centroids (a seed super always owns at least itself), and
    * [[twoLevelCore]] inner-joins probes to shards on s_id — a vector
    * whose w probed supers were all memberless would silently vanish
    * from the assignment at w < nSup. Dropping a memberless super is
    * argmax-neutral for shard membership (it was no centroid's nearest,
    * so every remaining assignment is unchanged) and can only improve
    * routing (a probe slot never lands on an empty shard again);
    * TrainSupersSpec pins the every-super-owns-a-centroid invariant.
    */
  private[queries] def trainSupers(book: Seq[(Long, Seq[Double], Double)],
      nSup: Int, iters: Int = 4): Seq[(Long, Seq[Double], Double)] = {
    require(book.nonEmpty, "trainSupers: empty codebook")
    val dim = book.head._2.length
    var sup: Array[(Array[Double], Double)] =
      book.take(nSup).map { case (_, v, n) => (v.toArray, n) }.toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(sup.length)(new Array[Double](dim))
      val cnts = new Array[Int](sup.length)
      for ((_, cv, cn) <- book) {
        var bestS = 0
        var best = Double.NegativeInfinity
        var sI = 0
        while (sI < sup.length) {
          val (sv, sn) = sup(sI)
          var acc = 0.0
          var i = 0
          while (i < dim) { acc += cv(i) * sv(i); i += 1 }
          var cos = acc / (cn * sn)
          if (cos == 0.0) cos = 0.0
          if (java.lang.Double.compare(cos, best) > 0) { best = cos; bestS = sI }
          sI += 1
        }
        var i = 0
        while (i < dim) { sums(bestS)(i) += cv(i) / cn; i += 1 }
        cnts(bestS) += 1
      }
      sup = Array.tabulate(sup.length) { sI =>
        if (cnts(sI) == 0) sup(sI)
        else {
          val m = Array.tabulate(dim)(i => sums(sI)(i) / cnts(sI))
          var acc = 0.0
          var i = 0
          while (i < dim) { acc += m(i) * m(i); i += 1 }
          val nn = math.sqrt(acc)
          if (nn > 0) (m, nn) else sup(sI)
        }
      }
    }
    // final membership against the final supers; keep owners only
    val owned = new Array[Boolean](sup.length)
    val asTriples = sup.toSeq.zipWithIndex
      .map { case ((v, n), i) => (i.toLong, v.toSeq, n) }
    for ((_, cv, cn) <- book)
      owned(nearestSuperId(cv, cn, asTriples).toInt) = true
    asTriples.filter { case (i, _, _) => owned(i.toInt) }
      .zipWithIndex.map { case ((_, v, n), i) => (i.toLong, v, n) }
  }

  /** Build and persist the TWO-LEVEL index layout (r13, verdict ask
    * #2): trained supers + the fine codebook tagged with its shard
    * (`s_id` = nearest super, the [[nearestSuperId]] rule) written
    * `partitionBy(s_id)` through [[graft.sources.IvfIndex
    * .writeTwoLevel]]. This is the tier where the SCALE.md cost model
    * lives: past nlist ≈ 1e5 the flat codebook (~51 MB) stops being
    * broadcast/reference-object material, but the per-shard slices
    * (~√nlist centroids each) stay small, and a probe touches only
    * its `w` shards' rows.
    */
  def buildTwoLevelIndex(s: SparkSession, dir: String, path: String,
      nlist: Int): Unit = {
    val e = emb(s, dir)
    val book = collectBook(centroids(e, nlist))
    writeTwoLevelOf(s, book, path)
  }

  /** Build and persist the two-level layout from a TRAINED fine
    * codebook (r14, verdict ask #3): corpus-side [[ivfTrain]] refines
    * the first-`nlist` seed with `iters` spherical-Lloyd steps before
    * the trained super layer and the `partitionBy(s_id)` shard write.
    * Two things ride on the trained book at the production tier:
    * routing quality (the w=2 match rate — measured delta in
    * BENCHNOTES r14) and SHARD BALANCE — the sharded path's
    * shuffle_hash join partitions on s_id, so the max/mean member
    * spread of the shards bounds its reducer skew, and Lloyd-refined
    * centroids split hot regions that a seed book leaves as one shard
    * (shard-size table: TwoLevelScaleProbe, BENCHNOTES r14). Training
    * is off the query path in production and deterministic given the
    * corpus (r17 decimal-sum Lloyd), so the whole built artifact is
    * reproducible — the [[buildTrainedIndex]] contract one tier up,
    * gated end-to-end by v10d.
    */
  def buildTwoLevelIndexTrained(s: SparkSession, dir: String, path: String,
      nlist: Int, iters: Int = 3): Unit = {
    val book = collectBook(ivfTrain(s, dir, nlist, iters))
    writeTwoLevelOf(s, book, path)
  }

  /** Shared tail of the two-level builds: trained supers over the fine
    * book, shard tagging by [[nearestSuperId]], partitioned write.
    */
  private def writeTwoLevelOf(s: SparkSession,
      book: Seq[(Long, Seq[Double], Double)], path: String): Unit = {
    val nSup = math.ceil(math.sqrt(book.size.toDouble)).toInt
    val supers = trainSupers(book, nSup)
    import s.implicits._
    val fineTagged = book
      .map { case (cid, cv, cn) => (cid, cv, cn, nearestSuperId(cv, cn, supers)) }
      .toDF("c_id", "cv", "cn", "s_id")
    val supDf = supers.toDF("s_id", "sv", "sn")
    graft.sources.IvfIndex.writeTwoLevel(fineTagged, supDf, path)
  }

  /** Deterministic per-(purpose, data-dir) scratch path under
    * `java.io.tmpdir` — gate queries that persist an index IN-QUERY
    * (v10c/v10d/v12: the build is off the query path in production but
    * runs in-query so the gate stays self-contained per SF) write here
    * with overwrite semantics, so repeated suite runs REUSE one
    * directory instead of leaking a fresh temp dir per invocation (r13
    * verdict, What's-wrong #3). Keyed by the data dir's hash: SFs never
    * collide, and staleness is impossible because the build always
    * re-runs — the fixed path only changes WHERE the same bytes land.
    */
  private[queries] def scratchPath(purpose: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-$purpose-" +
      java.lang.Integer.toHexString(dir.hashCode) + "/idx"

  /** Two-level assignment against a PERSISTED sharded index — the
    * broadcast of the full fine codebook is GONE (the
    * `Similarity.scala:230-233` line the r12 verdict asked to kill):
    * probes JOIN their shard's codebook row, read from the
    * `partitionBy(s_id)` parquet and grouped into one row per shard.
    * Only the nSup-row SUPER layer is collected (the √nlist-sized sync
    * that stays cheap at every tier — 316 rows at nlist=1e5). The join
    * is pinned `shuffle_hash` on the shard side: at the target tier
    * the grouped shard relation exceeds any broadcast threshold, so
    * the plan that ships is the plan that scales — both sides
    * partition on s_id (nSup keys ≈ √nlist grows with the corpus;
    * bucketed storage on s_id would pre-co-locate the shard side).
    * Row-identical to the broadcast prototype at every `w`
    * (TwoLevelShardedSpec pins w = 2 and w = nSup).
    */
  def twoLevelAssignSharded(s: SparkSession, dir: String, path: String,
      w: Int): DataFrame = {
    val supers = graft.sources.IvfIndex.supers(s, path)
      .orderBy("s_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
    val fine = graft.sources.IvfIndex.fineShards(s, path)
    // nlist rows total — the one-time per-shard grouping; the HOF
    // lambdas here run over the codebook relation, never the corpus
    val shards = fine
      .groupBy("s_id")
      .agg(array_sort(collect_list(struct(col("c_id"), col("cv"), col("cn")))).as("cs"))
      .select(col("s_id"),
        expr("transform(cs, c -> c.c_id)").as("sh_cids"),
        flatten(expr("transform(cs, c -> c.cv)")).as("sh_flat"),
        expr("transform(cs, c -> c.cn)").as("sh_cns"))
      .hint("shuffle_hash")
    twoLevelCore(emb(s, dir), supers, shards, w)
  }

  // ─────────────────────── PQ / IVFADC (r13–r14) ───────────────────────

  /** Unit-normalize a collected `(vec_id, v, nrm)` row. */
  private[queries] def unitRow(r: org.apache.spark.sql.Row): Array[Double] = {
    val v = r.getSeq[Double](1); val n = r.getDouble(2)
    v.map(_ / n).toArray
  }

  /** Deterministic HASH-STRATIFIED 256-vector training sample (r14,
    * verdict ask #5): rows ordered by (murmur3(vec_id) mod 2²⁰, vec_id)
    * and truncated. The old id-prefix sample (`vec_id < 256`) is
    * order-biased on any corpus sorted by source/time — at production
    * scale the codebook would train on whatever the first shard
    * happened to hold. The hash stratum is corpus-order-free and
    * equally deterministic (Spark's Murmur3 is fixed-seed), the sort is
    * a TakeOrdered (per-partition top-256, no global exchange), and the
    * collect stays the contract-bounded codebook sync every PQ system
    * pays. Measured recall delta on the gate fixtures: BENCHNOTES r14.
    */
  private[queries] def pqSampleRows(e: DataFrame): Array[org.apache.spark.sql.Row] =
    e.select(col("vec_id"), col("v"), col("nrm"))
      .orderBy(pmod(hash(col("vec_id")), lit(1 << 20)), col("vec_id"))
      .limit(256).collect()

  /** Full-scan ADC candidate scores `(q_id, neighbor_id, adc)` — v11's
    * phase 1 over an arbitrary code relation (fresh or loaded from
    * [[graft.sources.PqIndex]]): queries broadcast as dense LUT
    * indices, every code row pays m table-adds.
    */
  private[queries] def pqAdcScores(s: SparkSession, codes: DataFrame,
      cb: Array[Double], m: Int, k: Int,
      qRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val luts = PqCodebook.luts(cb, qRows.map(unitRow).toSeq, m, k)
    import s.implicits._
    val qIdx = broadcast(qRows.map(_.getLong(0)).zipWithIndex
      .map { case (q, i) => (q, i) }.toSeq.toDF("q_id", "q_idx"))
    codes.crossJoin(qIdx).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        pqAdc(col("q_idx"), col("pq"), luts, m, k).as("adc"))
  }

  /** Phase 2 shared by v11/v12/the indexed path: keep the per-query
    * ADC `frontier`, fetch floats BY ID for the survivors, exact-cosine
    * re-rank to top-3 (deterministic id tie-breaks throughout).
    */
  private[queries] def pqRerankTop3(e: DataFrame, scored: DataFrame,
      qPred: Column, frontier: Int): DataFrame = {
    val candW = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val cands = scored
      .withColumn("crk", row_number().over(candW)).filter(col("crk") <= frontier)
      .select("q_id", "neighbor_id")
    val qFloat = broadcast(e.filter(qPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cands
      .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
        "neighbor_id")
      .join(qFloat, "q_id")
      .select(col("q_id"), col("neighbor_id"),
        cosPre(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= 3)
  }

  /** The within_bound contract aggregate shared by v11 and v12 (the
    * x01/v10b pattern): the oracle pins the SQL-computable exact half
    * (query count + the ground truth's floor-micros cosine sum — a
    * ground-truth regression breaks the hash) and emits literal flags
    * for the PQ contract half (recall over `recallFloor`, approximate
    * never beats exact).
    */
  private[queries] def pqContract(s: SparkSession, dir: String, pq3: DataFrame,
      qLo: Long, qHi: Long, recallFloor: Long): DataFrame = {
    val gt = exactTopK(s, dir, qLo, qHi, 3)
    val hits = gt.select("q_id", "neighbor_id")
      .join(pq3.select("q_id", "neighbor_id"),
        Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    val gtBest = gt.filter(col("rank") === 1)
      .select(col("q_id"), col("cosine").as("opt_cos"))
    val pqBest = pq3.filter(col("rank") === 1)
      .select(col("q_id"), col("cosine").as("pq_cos"))
    gt.groupBy("q_id")
      .agg(sum(floor(col("cosine") * lit(1000000.0)).cast("long")).as("gt_micros"))
      .join(hits, Seq("q_id"), "left")
      .join(gtBest, "q_id").join(pqBest, "q_id")
      .agg(
        count(lit(1)).as("nq"),
        sum(col("gt_micros")).as("gt_sum"),
        sum(coalesce(col("hits"), lit(0L))).as("nh"),
        sum(when(col("pq_cos") <= col("opt_cos"), 0L).otherwise(1L)).as("nb_viol"))
      .select(col("nq").as("n_queries"), col("gt_sum").as("gt_sum_micros"),
        when(col("nh") >= lit(recallFloor), lit(1L)).otherwise(lit(0L)).as("recall_ok"),
        when(col("nb_viol") === 0L, lit(1L)).otherwise(lit(0L)).as("never_better"))
  }

  /** Train on the hash-stratified sample, encode the corpus, persist
    * through [[graft.sources.PqIndex]] (r14, verdict ask #2) — the
    * production form of v11: the 16 B/vector code relation is the
    * index you KEEP at 100 TB; training and encoding are paid once at
    * build time, not per query. Returns the codebook so callers can
    * compare against the loaded copy (PqIndexSpec pins the round-trip).
    */
  def buildPqIndex(s: SparkSession, dir: String, path: String,
      m: Int = 16, k: Int = 16): Array[Double] = {
    val e = emb(s, dir)
    val cb = PqCodebook.train(pqSampleRows(e).map(unitRow).toSeq, m, k)
    graft.sources.PqIndex.write(
      e.select(col("vec_id"), pqEncode(col("v"), col("nrm"), cb, m, k).as("pq")),
      cb, m, k, path)
    cb
  }

  /** v11-shaped two-phase retrieval served from a persisted
    * [[graft.sources.PqIndex]]: codebook AND codes LOAD from `path` —
    * no in-query training or encoding. Row-identical to the fresh path
    * (PqIndexSpec): parquet doubles round-trip bit-exact, so the loaded
    * LUTs reproduce the fresh scores.
    */
  def knnPqIndexed(s: SparkSession, dir: String, path: String,
      qPred: Column, frontier: Int = 50): DataFrame = {
    val (cb, m, k, _, _) = graft.sources.PqIndex.codebook(s, path)
    val e = emb(s, dir)
    val qRows = e.filter(qPred).orderBy("vec_id")
      .select(col("vec_id"), col("v"), col("nrm")).collect()
    // a predicate matching zero rows is a valid (empty) query batch,
    // not a LUT-construction error (r15, ADVICE)
    if (qRows.isEmpty) emptyTop3(s)
    else pqRerankTop3(e,
      pqAdcScores(s, graft.sources.PqIndex.read(s, path), cb, m, k, qRows),
      qPred, frontier)
  }

  /** DISTRIBUTED-query-side flat-PQ serving (r15, verdict ask #3) —
    * row-identical to [[knnPqIndexed]] (PqDistServeSpec) with the
    * driver qRows/LUT materialization replaced by a query RELATION:
    * [[graft.functions.PqLuts]] computes each query's m×k ADC table
    * executor-side in the query projection, the skinny (q_id, lut)
    * rows broadcast (n_q · m·k doubles — 2 KB per query at the shipped
    * dial, so 10⁴–10⁶ queries fit where driver arrays would not), and
    * [[graft.functions.PqAdcFromLut]] runs the m-add hot loop against
    * the column-carried LUT. Only the codebook itself syncs through
    * the driver (corpus- and query-independent). Same exact re-rank
    * tail. Batch-serving cost at 100×: BENCHNOTES r15 (n_q = 10k).
    */
  def knnPqIndexedDist(s: SparkSession, dir: String, path: String,
      qPred: Column, frontier: Int = 50): DataFrame = {
    val (cb, m, k, _, _) = graft.sources.PqIndex.codebook(s, path)
    val e = emb(s, dir)
    val qRel = e.filter(qPred).select(col("vec_id").as("q_id"),
      pqLuts(col("v"), col("nrm"), cb, m, k).as("lut"))
    val scored = graft.sources.PqIndex.read(s, path)
      .crossJoin(broadcast(qRel))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        pqAdcLut(col("lut"), col("pq"), m, k).as("adc"))
    pqRerankTop3(e, scored, qPred, frontier)
  }

  /** DISTRIBUTED-query-side IVFADC serving (r15, verdict ask #3) —
    * row-identical to [[ivfAdcServe]] (PqDistServeSpec) with BOTH
    * driver loops replaced by relations: [[graft.functions.PqProbes]]
    * ranks the coarse lists per query executor-side (same IEEE fold
    * and total-order tie-break as the driver loop, so probed lists and
    * base offsets match bit-for-bit) and [[graft.functions.PqLuts]]
    * supplies the LUT column. The probe rows broadcast SKINNY
    * (q_id, c_id, base) — the LUT column deliberately does NOT ride
    * them (it would replicate nprobe× in the broadcast); candidates
    * pick it up through a second broadcast hash join on q_id. The
    * probed-list restriction reaches the partitioned code scan as
    * runtime filters from the c_id broadcast join (the static `isin`
    * push needs the driver-known probe set, which is exactly what this
    * path removes — at batch n_q the probed union approaches all lists
    * anyway, and the low-n_q driver path keeps the static prune).
    */
  def ivfAdcServeDist(s: SparkSession, dir: String, path: String,
      nprobe: Int, frontier: Int, qPred: Column): DataFrame = {
    val (cb, m, k, centsFlat, cids) = graft.sources.PqIndex.codebook(s, path)
    require(centsFlat.nonEmpty, s"ivfAdcServeDist: $path is a flat PQ " +
      "index (no coarse centroids) — serve it with knnPqIndexedDist")
    val e = emb(s, dir)
    val qRel = e.filter(qPred).select(col("vec_id").as("q_id"),
      pqLuts(col("v"), col("nrm"), cb, m, k).as("lut"),
      pqProbes(col("v"), col("nrm"), cids.toArray, centsFlat, nprobe).as("pr"))
    val probes = qRel
      .select(col("q_id"), col("pr.bases").as("bs"),
        posexplode(col("pr.cids")).as(Seq("i", "c_id")))
      .select(col("q_id"), col("c_id"),
        element_at(col("bs"), col("i") + 1).as("base"))
    val scored = graft.sources.PqIndex.read(s, path)
      .join(broadcast(probes), "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(qRel.select("q_id", "lut")), "q_id")
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (col("base") + pqAdcLut(col("lut"), col("pq"), m, k)).as("adc"))
    pqRerankTop3(e, scored, qPred, frontier)
  }

  /** The empty top-3 relation — [[pqRerankTop3]]'s schema with zero
    * rows, what every PQ serving entry point returns for a query
    * predicate that matches nothing (rather than surfacing a bare
    * NoSuchElementException from LUT construction).
    */
  private def emptyTop3(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("q_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cosine",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType))))

  /** IVFADC retrieval (r14, verdict ask #1 — the designed composition
    * of v02 × v11, Jégou/Douze/Schmid TPAMI 2011 §IV): route each query
    * through the IVF coarse layer and PQ-encode each vector's RESIDUAL
    * against its coarse centroid instead of the vector itself.
    * Residuals concentrate near zero, so the same m×k codebook spends
    * its resolution where the data is — recall rises at equal bytes
    * (dial sweep: IvfAdcProbe, BENCHNOTES r14) — and the ADC scan
    * touches only the probed lists: per-query work drops by
    * nprobe/nlist ON TOP of PQ's 32× byte shrink.
    *
    * Decomposition (scoring needs no new kernel):
    *   dot(q̂, x̂) = dot(q̂, ĉ) + dot(q̂, r),  r = x̂ − ĉ
    * — the per-(query, probed-list) offset dot(q̂, ĉ) rides the
    * broadcast probe relation as a plain `base` column (computed
    * driver-side over the n_q × nlist grid alongside the probe
    * ranking, v02's cos-DESC/c_id rule), and [[graft.functions
    * .PqAdcDot]] supplies the residual half from residual LUTs.
    *
    * Physical shape: coarse assignment via the scan-kernel argmax
    * (zero shuffle), residual encode via [[graft.functions
    * .PqEncodeResidual]] (codegen, the dense c_id→c_idx map rides a
    * broadcast join), codes persisted `partitionBy(c_id)` through
    * [[graft.sources.PqIndex]] when `indexPath` is set — a probe then
    * reads ONLY the probed lists' directories, the IvfIndex pruning
    * story at 16 B/vector granularity. Everything is deterministic
    * given the corpus (fixed seed centroids, hash-stratified sample,
    * total-order tie-breaks), so the v11 contract gate applies
    * unchanged. `residual = false` is the dial-sweep control (direct
    * codebook, same routing); v12 ships the residual form.
    */
  private[queries] def ivfAdcTop3(s: SparkSession, dir: String,
      m: Int, k: Int, nprobe: Int, frontier: Int, qPred: Column,
      residual: Boolean = true, indexPath: Option[String] = None,
      nlist: Int = 16, coarse: Option[DataFrame] = None): DataFrame = {
    val (codes, cbR, centsUnit, cids) =
      ivfAdcBuild(s, dir, m, k, residual, nlist, coarse)
    val codesRead = indexPath match {
      case Some(p) =>
        graft.sources.PqIndex.write(codes, cbR, m, k, p,
          if (residual) centsUnit.flatten else Array.empty,
          if (residual) cids.toArray else Array.empty)
        graft.sources.PqIndex.read(s, p)
      case None => codes
    }
    ivfAdcServeCore(s, dir, codesRead, cbR, m, k, centsUnit,
      cids, nprobe, frontier, qPred, residual)
  }

  /** Build + persist the IVFADC index — the off-query-path production
    * build (train residual codebook, encode, `partitionBy(c_id)` write
    * with the coarse layer riding the codebook row for serving).
    * Pass `coarse = Some(ivfTrain(...))` for a Lloyd-trained coarse
    * layer — on routing-bound data that is THE recall dial (measured
    * +5/+2/+6 hits of 30 at nprobe=8 over the seed book, IvfAdcProbe
    * r14); v12 keeps the seed book as the SQL-anchored baseline while
    * v12b gates the trained recipe (deterministic since r17).
    */
  def buildIvfAdcIndex(s: SparkSession, dir: String, path: String,
      m: Int = 16, k: Int = 16, nlist: Int = 16,
      coarse: Option[DataFrame] = None): Unit = {
    val (codes, cbR, centsUnit, cids) = ivfAdcBuild(s, dir, m, k,
      residual = true, nlist = nlist, coarse = coarse)
    graft.sources.PqIndex.write(codes, cbR, m, k, path,
      centsUnit.flatten, cids.toArray,
      Some(coarse.getOrElse(centroids(emb(s, dir), nlist))))
  }

  /** INCREMENTAL index maintenance (r14): encode `newVecs` — rows of
    * the embeddings shape, ids disjoint from the indexed corpus —
    * against the PERSISTED codebook + coarse book and APPEND them into
    * the `partitionBy(c_id)` layout. Everything loads from `path`
    * (parquet doubles round-trip bit-exact), so appended vectors land
    * in exactly the lists and codes a full rebuild would give them —
    * IvfAdcAppendSpec pins append-equals-rebuild on a split corpus.
    * At 100 TB this is the index-maintenance path: one narrow
    * encode-and-append pass over the new rows, no touch of the
    * existing files.
    */
  def appendToIvfAdcIndex(s: SparkSession, newVecs: DataFrame,
      path: String): Unit = {
    // loud-failure guard (r15, ADVICE): the serving path relies on
    // "each vector lives in exactly one list" — a duplicate vec_id
    // would silently serve duplicate neighbors
    graft.sources.AtomicSwap.requireDisjoint("appendToIvfAdcIndex", newVecs,
      graft.sources.PqIndex.read(s, path), "vec_id", path)
    ivfAdcAppendWriter(s, path)(newVecs)
  }

  /** [[appendToIvfAdcIndex]]'s write half: load the append's FROZEN
    * inputs — PQ codebook, coarse routing book — once, and return the
    * encode-and-append for rows already disjoint from the store, which
    * returns the number of rows it appended ([[writeIvfAppend]]'s
    * counted write). The streaming ingest
    * ([[graft.streaming.IndexIngest]]) builds it once per stream and
    * calls it every micro-batch.
    */
  private[graft] def ivfAdcAppendWriter(s: SparkSession,
      path: String): DataFrame => Long = {
    val (cb, m, k, centsFlat, cids) = graft.sources.PqIndex.codebook(s, path)
    require(centsFlat.nonEmpty,
      s"appendToIvfAdcIndex: $path is a flat PQ index, not IVFADC")
    val coarse = collectBook(graft.sources.PqIndex.coarse(s, path))
    newVecs => {
      val e = newVecs
        .select(col("vec_id"), col("label"), toDoubleVec(col("embedding")).as("v"))
        .withColumn("nrm", norm(col("v")))
      val assign = assignToBook(e, coarse).select("vec_id", "c_id", "v", "nrm")
      import s.implicits._
      val cIdxDf = broadcast(cids.zipWithIndex.toSeq.toDF("c_id", "c_idx"))
      // generation resolved ONCE; commitAppend fails loudly if a compact
      // raced the append (r18, ADVICE: writers serialized, readers safe)
      val intoDir = graft.sources.AtomicSwap.dataDir(s, path)
      val n = graft.sources.AtomicSwap.countedWrite(assign.join(cIdxDf, "c_id")
          .select(col("vec_id"), col("c_id"),
            pqEncodeResidual(col("v"), col("nrm"), col("c_idx"),
              cb, centsFlat, m, k).as("pq"))
          .repartition(col("c_id")))(
        _.write.mode("append").partitionBy("c_id").parquet(intoDir))
      // manifest bump last — the durable record that the append
      // committed; an empty append wrote no file and records nothing
      if (n > 0) graft.sources.AtomicSwap.commitAppend(s, path, intoDir)
      n
    }
  }

  /** The build half of [[ivfAdcTop3]]: coarse book collect, residual
    * (or direct) codebook training on the hash-stratified sample, and
    * the encoded code relation `(vec_id, c_id, pq)`. Returns
    * (codes, codebook, unit coarse centroids, dense-ordered c_ids).
    * `coarse` swaps the deterministic seed book for an arbitrary
    * centroid relation — e.g. [[ivfTrain]] output, the routing-quality
    * dial IvfAdcProbe measures (v12's gate stays on the seed book:
    * distributed Lloyd is not bit-pinned).
    */
  private def ivfAdcBuild(s: SparkSession, dir: String, m: Int, k: Int,
      residual: Boolean, nlist: Int, coarse: Option[DataFrame] = None)
      : (DataFrame, Array[Double], Array[Array[Double]], Seq[Long]) = {
    val e = emb(s, dir)
    val book = collectBook(coarse.getOrElse(centroids(e, nlist)))
    val centsUnit = book.map { case (_, cv, cn) => cv.map(_ / cn).toArray }.toArray
    val centsFlat: Array[Double] = centsUnit.flatten
    // residual training sample: each hash-stratified row reduced
    // against ITS nearest coarse centroid — the same argmax rule the
    // scan kernel runs (ascending c_id, strictly-greater wins)
    val sampleRows = pqSampleRows(e)
    val trainVecs: Seq[Array[Double]] =
      if (!residual) sampleRows.map(unitRow).toSeq
      else sampleRows.toSeq.map { r =>
        val u = unitRow(r)
        val cid = nearestSuperId(r.getSeq[Double](1), r.getDouble(2), book)
        val cu = centsUnit(book.indexWhere(_._1 == cid))
        Array.tabulate(u.length)(i => u(i) - cu(i))
      }
    val cbR = PqCodebook.train(trainVecs, m, k)
    import s.implicits._
    val cIdxDf = broadcast(book.map(_._1).zipWithIndex.toDF("c_id", "c_idx"))
    // assignment against the SAME book the probes rank (seed or
    // caller-provided) — mismatched books would route queries to lists
    // the codes were never assigned under
    val assign = coarse
      .map(c => ivfAssignWith(s, dir, c))
      .getOrElse(ivfAssign(s, dir, nlist))
    val codes =
      if (residual)
        assign.join(cIdxDf, "c_id").select(col("vec_id"), col("c_id"),
          pqEncodeResidual(col("v"), col("nrm"), col("c_idx"),
            cbR, centsFlat, m, k).as("pq"))
      else
        assign.select(col("vec_id"), col("c_id"),
          pqEncode(col("v"), col("nrm"), cbR, m, k).as("pq"))
    (codes, cbR, centsUnit, book.map(_._1))
  }

  /** IVFADC SERVING from a persisted index built by [[ivfAdcTop3]]
    * (`indexPath` form): codebook, coarse centroids, and codes all
    * LOAD from `path` — the warm per-query path a deployment runs,
    * nothing recomputed from the embeddings but the query rows
    * themselves. The probe-fraction A/B against flat-PQ serving is the
    * BENCHNOTES r14 100× line (IvfAdcScaleProbe).
    */
  def ivfAdcServe(s: SparkSession, dir: String, path: String,
      nprobe: Int, frontier: Int, qPred: Column): DataFrame = {
    val (cb, m, k, centsFlat, cids) = graft.sources.PqIndex.codebook(s, path)
    require(centsFlat.nonEmpty, s"ivfAdcServe: $path is a flat PQ index " +
      "(no coarse centroids) — serve it with knnPqIndexed")
    val dim = m * (cb.length / (m * k))
    val centsUnit = centsFlat.grouped(dim).toArray
    ivfAdcServeCore(s, dir, graft.sources.PqIndex.read(s, path), cb, m, k,
      centsUnit, cids.toSeq, nprobe, frontier, qPred, residual = true)
  }

  /** Shared probe→ADC-scan→re-rank tail of [[ivfAdcTop3]] and
    * [[ivfAdcServe]]: probe ranking and per-list base offsets computed
    * driver-side over the n_q × nlist grid (v02's probe rule: cos
    * DESC, c_id ASC), codes join their probed lists only.
    */
  private def ivfAdcServeCore(s: SparkSession, dir: String, codes: DataFrame,
      cb: Array[Double], m: Int, k: Int, centsUnit: Array[Array[Double]],
      cids: Seq[Long], nprobe: Int, frontier: Int, qPred: Column,
      residual: Boolean): DataFrame = {
    val e = emb(s, dir)
    // query side: contract-bounded n_q-row sync
    val qRows = e.filter(qPred).orderBy("vec_id")
      .select(col("vec_id"), col("v"), col("nrm")).collect()
    // zero matching queries → empty result, not a LUT error (r15, ADVICE)
    if (qRows.isEmpty) return emptyTop3(s)
    val qU = qRows.map(unitRow)
    val luts = PqCodebook.luts(cb, qU.toSeq, m, k)
    val probeRows: Seq[(Long, Int, Long, Double)] =
      qRows.toSeq.zipWithIndex.flatMap { case (qr, qi) =>
        val u = qU(qi)
        val scored = cids.zipWithIndex.map { case (cid, ci) =>
          val cu = centsUnit(ci)
          var acc = 0.0
          var i = 0
          while (i < u.length) { acc += u(i) * cu(i); i += 1 }
          (cid, acc)
        }
        scored.sortBy { case (cid, cos) => (-cos, cid) }.take(nprobe)
          .map { case (cid, base) =>
            (qr.getLong(0), qi, cid, if (residual) base else 0.0) }
      }
    import s.implicits._
    val probes = broadcast(probeRows.toDF("q_id", "q_idx", "c_id", "base"))
    // STATIC partition pruning: the probed-list union is known
    // driver-side, and the broadcast join alone would not put it into
    // the scan's PartitionFilters — an explicit isin (the
    // IvfIndex.probe pattern) makes a partitioned code relation read
    // ONLY the probed c_id= directories (semantically a no-op: the
    // join restricts to the same rows)
    val probedCids = probeRows.map(_._3).distinct
    // each vector lives in exactly ONE list and a query's probed lists
    // are distinct, so every (q, neighbor) pair appears at most once —
    // no distinct needed before the frontier
    val scoredC = codes.filter(col("c_id").isin(probedCids: _*))
      .join(probes, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (col("base") + pqAdc(col("q_idx"), col("pq"), luts, m, k)).as("adc"))
    pqRerankTop3(e, scoredC, qPred, frontier)
  }

  /** Pair-join salt factor for [[semDedup]]: a fixed-nlist dial (v08
    * pins 16) gives the self-join only nlist distinct keys, capping
    * shuffle-join parallelism at nlist tasks on ANY cluster size —
    * and AQE's skew split never fires because each cluster's bucket
    * (~16 MB at the 100x replica) sits far under the 256 MB skew
    * threshold. Salting spreads each cluster's pair block over `salt`
    * reducers: the b side keeps ONE row with pk = pmod(hash(b_id), salt)
    * and the a side replicates `salt` ways, so every (a, b) pair still
    * meets exactly once — the result set is provably unchanged (hash
    * gates pin it). Derived from nlist alone (deterministic): the √n
    * production dial already carries enough keys, so it salts 1 = the
    * plan v08b always had.
    */
  private[queries] def pairSalt(nlist: Int): Int = math.max(1, 128 / nlist)

  /** Cluster-width-aware salt for FIXED-key-count block joins — the
    * v08 lesson generalized to the hyperplane-bucket family (v06/c02:
    * 2⁸ = 256 buckets forever, however large the corpus or cluster).
    * A block join's shuffle parallelism IS its distinct key count, and
    * a fixed count strands every reducer beyond it while each bucket
    * sits under AQE's 256 MB skew-split bar. The salt derives from the
    * session's own width knob (`spark.sql.shuffle.partitions` — what a
    * cluster deployment sizes to its core count): salted keys cover
    * ~4× the configured width, capped at 64. At the bench/gate config
    * (32 partitions / 256 buckets) it derives 1 — the exact plan the
    * driver hashes — and a 2000-partition deployment derives 32.
    * Results are provably salt-invariant (see [[saltSides]]);
    * BlockSaltSpec pins a forced salt row-identical to the unsalted
    * join and the derivation rule itself.
    */
  private[queries] def bucketSalt(nKeys: Int, parts: Int): Int =
    math.min(64, math.max(1, (4 * parts + nKeys - 1) / nKeys))

  private[queries] def bucketSalt(nKeys: Int, s: SparkSession): Int =
    bucketSalt(nKeys,
      s.conf.get("spark.sql.shuffle.partitions", "200").toInt)

  /** The salted sides of a blocked pair join — shared mechanics of
    * [[pairSalt]] (v08) and [[bucketSalt]] (v06/c02) consumers: the b
    * side keeps ONE row at pk = pmod(hash(bId), salt), the a side
    * replicates over all `salt` values, so every same-block (a, b)
    * pair still meets exactly once and the join's key count multiplies
    * by `salt`. salt = 1 returns the sides untouched (the gated plan).
    */
  private[queries] def saltSides(a0: DataFrame, b0: DataFrame, bId: Column,
      baseKeys: Seq[String], salt: Int): (DataFrame, DataFrame, Seq[String]) =
    if (salt == 1) (a0, b0, baseKeys)
    else (a0.withColumn("pk", explode(array((0 until salt).map(lit(_)): _*))),
      b0.withColumn("pk", pmod(hash(bId), lit(salt))),
      baseKeys :+ "pk")

  /** SemDeDup with the nlist DIAL exposed — v08 pins nlist=16 (so the
    * hand-written oracle stays exact); production grows nlist ~ √n so
    * the within-cluster pair volume Σ C(|cluster|,2) ≈ n²/(2·nlist)
    * stays bounded (cost model pinned in SemDedupDialSpec). Verdict is
    * keep-first: a vector drops iff a smaller-id member of ITS cluster
    * sits at cosine ≥ 0.3.
    */
  def semDedup(s: SparkSession, dir: String, nlist: Int): DataFrame = {
    val assign = ivfAssign(s, dir, nlist)
    val salt = pairSalt(nlist)
    val a0 = assign.select(col("c_id"), col("vec_id").as("a_id"),
      col("v").as("va"), col("nrm").as("na"))
    val b0 = assign.select(col("c_id"), col("vec_id").as("b_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val (a, b, keys) = saltSides(a0, b0, col("b_id"), Seq("c_id"), salt)
    val dropped = a.join(b, keys).filter(col("a_id") < col("b_id"))
      .filter(cosPre(col("va"), col("vb"), col("na"), col("nb")) >= 0.3)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("dropped", lit(0L))
    assign.select(col("vec_id"), col("c_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("c_id"), col("vec_id"),
        coalesce(col("dropped"), lit(1L)).as("keep"))
      .orderBy("c_id", "vec_id")
  }

  /** Exact brute-force top-k for the query set `lo <= vec_id < hi`:
    * query side broadcasts, each partition scores locally, one ranking
    * window per query takes the frontier. Shared by v01/v04 (as the
    * declared exact queries) and v07 (as ANN ground truth).
    */
  private def exactTopK(s: SparkSession, dir: String,
      lo: Long, hi: Long, k: Int): DataFrame =
    exactTopKWhere(s, dir, col("vec_id") >= lo && col("vec_id") < hi, k)

  private[queries] def exactTopKWhere(s: SparkSession, dir: String,
      qPred: Column, k: Int): DataFrame =
    exactTopKOver(emb(s, dir), qPred, k)

  /** The suite's ONE shared brute-force ground-truth pass (r19,
    * verdict ask #5): exact top-3 over the v07 query union
    * [100,110) ∪ [200,210) — v07 consumes both slices, v14's recall
    * contract filters the [100,110) half (row-identical to a dedicated
    * pass: the rank window partitions by q_id). Deterministic given
    * the corpus, so suite sessions compute it once; standalone runs
    * build inline.
    */
  private[queries] def sharedExactGt(s: SparkSession, dir: String): DataFrame =
    graft.SharedProjections.reuse("exact_gt_v07_k3", dir)(
      exactTopKWhere(s, dir,
        (col("vec_id") >= 100 && col("vec_id") < 110) ||
          (col("vec_id") >= 200 && col("vec_id") < 210), 3))

  /** [[exactTopKWhere]] over an explicit (vec_id, v, nrm) relation —
    * the clustered-mixture gate computes ground truth over its own
    * planted relation through this hook (r17).
    */
  private[queries] def exactTopKOver(e: DataFrame, qPred: Column, k: Int): DataFrame = {
    val q = e.filter(qPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosPre(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "neighbor_id", "cosine")
      .orderBy("q_id", "rank")
  }

  /** IVF ANN (nlist=16, default nprobe=2) over queries 100..110 — v02,
    * and the approximate side of v07's recall gate. `nprobe` is the
    * recall/cost dial (scan fraction = nprobe/nlist);
    * SimilarityRecallSpec measures the dial's recall side.
    */
  private[queries] def knnIvf(s: SparkSession, dir: String, nprobe: Int = 2): DataFrame = {
    val e = emb(s, dir)
    knnIvfOver(e, centroids(e, 16), ivfAssign(s, dir, 16),
      col("vec_id") >= 100 && col("vec_id") < 110, nprobe)
  }

  /** v02's probe-and-score body over an ARBITRARY centroid relation
    * `(c_id, cv, cn)` and matching assignment `(vec_id, c_id, v, nrm)`
    * — shared by the inline seed path ([[knnIvf]]) and the persisted
    * trained-index path ([[knnIvfIndexed]]). Per query: rank the
    * broadcast codebook, keep the top `nprobe` centroids, score only
    * their members.
    */
  private[queries] def knnIvfOver(e: DataFrame, c: DataFrame, assign: DataFrame,
      qPred: Column, nprobe: Int): DataFrame = {
    val q = e.filter(qPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(cosPre(col("qv"), col("cv"), col("qn"), col("cn")).desc, col("c_id"))
    val probes = q.crossJoin(broadcast(c))
      .withColumn("rn", row_number().over(probeW)).filter(col("rn") <= nprobe)
      .select(col("q_id"), col("c_id"))
    val rankW = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    q.join(probes, "q_id").join(assign, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosPre(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= 3)
      .select("q_id", "rank", "neighbor_id", "cosine")
      .orderBy("q_id", "rank")
  }

  /** Banded hyperplane-LSH buckets: one row per (vector, band), band b
    * hashed by its own disjoint slice of the plane family. Candidates
    * co-bucket in ANY band (the OR construction — same recall shape as
    * d04's MinHash bands): per-band scan fraction ~1/2^bits, recall
    * grows with the band count. Shared by v05 and v07's LSH side.
    */
  private def lshBands(e: DataFrame, bands: Int = 4, bits: Int = 8): DataFrame =
    e.select(col("*"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          lshBucket(col("v"), bits, 64, planeOffset = b * bits).as("bkey"))): _*)).as("bb"))
      .select(col("*"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      .drop("bb")

  /** Banded-LSH ANN over queries 200..210 — v05, and the approximate
    * side of v07's recall gate. Duplicate candidates from multi-band
    * collisions collapse on the exact (q_id, neighbor_id, cosine)
    * tuple before ranking.
    */
  private def knnLsh(s: SparkSession, dir: String): DataFrame = {
    val eb = lshBands(emb(s, dir))
    val q = eb.filter(col("vec_id") >= 200 && col("vec_id") < 210)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("band"), col("bkey"))
    val rankW = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    q.join(eb, Seq("band", "bkey")).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosPre(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine"))
      .distinct()
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= 3)
      .select("q_id", "rank", "neighbor_id", "cosine")
      .orderBy("q_id", "rank")
  }

  /** Recall of one ANN variant against exact ground truth on the SAME
    * query set: per query, hits = |exact top-3 ∩ ANN results|; report
    * exact integers (a recall regression from a bucket-width or probe
    * change breaks the hash).
    */
  private[queries] def recallOf(variant: String, exact: DataFrame, ann: DataFrame): DataFrame = {
    val hits = exact.join(ann.select("q_id", "neighbor_id"),
        Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(coalesce(col("hits"), lit(0L)).as("hits"))
      .agg(count(lit(1)).as("n_queries"), sum(col("hits")).as("n_hits"),
        min(col("hits")).as("min_hits"))
      .select(lit(variant).as("variant"), col("n_queries"),
        col("n_hits"), col("min_hits"))
  }

  /** v07: recall@3 of both ANN variants vs exact — deterministic, so
    * the recall itself is oracle-gated; SimilarityRecallSpec asserts
    * the floor. Ground truth for BOTH query sets comes from ONE
    * brute-force pass (union the sets, score once, split) — exact
    * scoring is the expensive half of the gate, no reason to pay it
    * twice.
    */
  def annRecall(s: SparkSession, dir: String, ivfNprobe: Int = 2): DataFrame = {
    val exact = sharedExactGt(s, dir)
    // the two ranges are disjoint, so one frame serves both variants
    val exIvf = exact.filter(col("q_id") < 110).select("q_id", "neighbor_id")
    val exLsh = exact.filter(col("q_id") >= 200).select("q_id", "neighbor_id")
    recallOf("ivf", exIvf, knnIvf(s, dir, ivfNprobe))
      .union(recallOf("lsh", exLsh, knnLsh(s, dir)))
      .orderBy("variant")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v01_knn_exact" -> ((s, dir) => exactTopK(s, dir, 0, 20, 5)),

    "v02_knn_ivf" -> ((s, dir) => knnIvf(s, dir)),

    "v07_ann_recall" -> ((s, dir) => annRecall(s, dir)),

    // same result set as v01, computed through the typed bounded-heap
    // Aggregator: map-side partial top-k (k rows per group per partition
    // cross the shuffle, no sort) — the scale-out formulation
    "v04_knn_topk_agg" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          cosPre(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine"))
        .as[(Long, Long, Double)]
      scored.groupByKey(_._1)
        .mapValues { case (_, id, c) => graft.functions.ScoredNeighbor(id, c) }
        .agg(new graft.functions.TopKAggregator(5).toColumn)
        .flatMap { case (qid, tops) =>
          tops.zipWithIndex.map { case (t, i) => (qid, i + 1, t.neighbor_id, t.score) }
        }
        .toDF("q_id", "rank", "neighbor_id", "cosine")
        .orderBy("q_id", "rank")
    }),

    // Banded hyperplane-LSH ANN (4 bands x 8 bits, the OR
    // construction): candidates co-bucket in ANY band, the join
    // shuffles on (band, bkey) — each query scans ~bands/2^bits of
    // the data instead of all of it; v07 gates the recall
    "v05_knn_lsh" -> ((s, dir) => knnLsh(s, dir)),

    // embedding near-dup without a natural blocking key: LSH buckets are
    // the blocks (same shuffle shape as v05); exact cosine verify inside
    // r13: the fixed 256-key bucket join rides the width-aware
    // bucketSalt (derives 1 at the gate config — the hashed plan —
    // and spreads each bucket's pair block across reducers on wide
    // clusters; results salt-invariant, BlockSaltSpec)
    "v06_neardup_lsh" -> ((s, dir) => {
      val e = emb(s, dir).withColumn("bucket", lshBucket(col("v")))
      val a0 = e.select(col("bucket"), col("vec_id").as("a_id"),
        col("v").as("va"), col("nrm").as("na"))
      val b0 = e.select(col("bucket"), col("vec_id").as("b_id"),
        col("v").as("vb"), col("nrm").as("nb"))
      val (a, b, keys) = saltSides(a0, b0, col("b_id"), Seq("bucket"),
        bucketSalt(256, s))
      a.join(b, keys).filter(col("a_id") < col("b_id"))
        .select(col("bucket"), col("a_id"), col("b_id"),
          cosPre(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
        .filter(col("cosine") >= 0.3)
        .orderBy("bucket", "a_id", "b_id")
    }),

    // embedding-space contamination — c01's twin in the vector modality
    // (SEMANTIC eval/train overlap that survives paraphrase, which the
    // shingle check can't see). Eval set = the same deterministic %50
    // carve-out; candidates share an LSH bucket (v05/v06's blocking, so
    // each train vec scans ~1/2^bits of the eval set, declared-approximate
    // like v06 and mirrored in the oracle); verdict = best same-bucket
    // eval match with cosine above threshold.
    "c02_embedding_contamination" -> ((s, dir) => {
      val e = emb(s, dir).withColumn("bucket", lshBucket(col("v")))
      val ev = e.filter(col("vec_id") % 50 === 0)
        .select(col("bucket"), col("vec_id").as("eval_id"),
          col("v").as("evv"), col("nrm").as("en"))
      val tr = e.filter(col("vec_id") % 50 =!= 0)
        .select(col("bucket"), col("vec_id").as("train_id"),
          col("v").as("tv"), col("nrm").as("tn"))
      val w = Window.partitionBy(col("train_id"))
        .orderBy(col("cosine").desc, col("eval_id"))
      // width-aware salt, replicating the SMALL side: eval (2% of the
      // corpus) explodes, train keeps one row at its hash slot
      val (evS, trS, keys) = saltSides(ev, tr, col("train_id"),
        Seq("bucket"), bucketSalt(256, s))
      trS.join(evS, keys)
        .select(col("train_id"), col("eval_id"),
          cosPre(col("tv"), col("evv"), col("tn"), col("en")).as("cosine"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("cosine") >= 0.3)
        .select("train_id", "eval_id", "cosine")
        .orderBy("train_id")
    }),

    // SemDeDup-style semantic dedup (Abbas et al. 2023, public arXiv
    // 2303.09540): cluster the embedding space, then dedup WITHIN each
    // cluster only — the cluster assignment bounds the pair blow-up
    // that makes global embedding dedup quadratic. Clustering reuses
    // the deterministic IVF assignment (broadcast 16-centroid argmax,
    // same relation v02 probes); verdict is keep-first: a vector is
    // dropped iff some smaller-id member of ITS cluster sits at
    // cosine >= 0.3 (v06's threshold). Scale: assignment is a
    // broadcast map stage; pairs form inside clusters only — one
    // shuffle on c_id. The fixture pins nlist=16 (matching the
    // hand-written oracle); the production recipe is to grow nlist
    // ~sqrt(n) via ivfAssign's nlist parameter so per-cluster pair
    // counts stay bounded — the cluster-local quadratic is the
    // declared cost model, never a corpus-wide cross join.
    "v08_semdedup" -> ((s, dir) => semDedup(s, dir, nlist = 16)),

    // v08's PRODUCTION dial, gated (VERDICT r10 ask #1): the same
    // SemDeDup semantics at nlist = ceil(√n), the setting a real corpus
    // runs — within-cluster pair volume Σ C(|c|,2) ≈ n²/(2·nlist)
    // collapses from the pinned-16 fixture's n²/32 to ~n^1.5/2.
    // SemDedupDialSpec already proves the verdict survives any dial;
    // this query makes the √n form itself hash-exact: the oracle
    // derives the identical nlist from its own count(*) (sqrt and ceil
    // are correctly-rounded IEEE ops, so both engines pick the same
    // integer), and centroid choice/assignment stay the deterministic
    // first-nlist argmax. The driver-side count is parquet metadata,
    // not a data scan. With this, the 100× suite's v08 reading stops
    // being a fixture artifact: the slowest query measures the
    // operator's real cost model.
    "v08b_semdedup_dial" -> ((s, dir) => {
      val n = Tables(s, dir, "embeddings").count()
      semDedup(s, dir, nlist = math.ceil(math.sqrt(n.toDouble)).toInt)
    }),

    // Quantized two-phase retrieval — the ANN MEMORY story at 100 TB:
    // phase 1 scans only the int8 code relation (4× smaller than the
    // float vectors — the index that still fits when the floats
    // don't), scoring with the exact-integer LongDot kernel and
    // keeping a top-C candidate frontier per query; phase 2 fetches
    // floats BY ID for the ~C·n_q surviving rows and re-ranks with
    // the exact cosine. Candidate selection is deterministic (integer
    // scores, id tie-breaks) and the quantization arithmetic is
    // mirrored literally by the oracle, so this is a hash-gated ANN —
    // the recall dial (C) is measured in SimilarityRecallSpec.
    // Scale: the query codes broadcast; phase 1 is a map-side scan of
    // codes (zero shuffle before the per-query frontier window); the
    // float fetch joins a C·n_q-row sliver against the corpus by id.
    "v09_knn_int8" -> ((s, dir) => {
      val e = emb(s, dir)
      val codes = e.select(col("vec_id"), quantizeI8(col("v"), col("nrm")).as("qc"))
      val qCodes = codes.filter(col("vec_id") >= 300 && col("vec_id") < 310)
        .select(col("vec_id").as("q_id"), col("qc").as("qqc"))
      val candW = Window.partitionBy(col("q_id"))
        .orderBy(col("qdot").desc, col("neighbor_id"))
      val cands = codes.crossJoin(broadcast(qCodes))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          longDot(col("qqc"), col("qc")).as("qdot"))
        .withColumn("crk", row_number().over(candW)).filter(col("crk") <= 20)
        .select(col("q_id"), col("neighbor_id"), col("qdot"))
      val qFloat = e.filter(col("vec_id") >= 300 && col("vec_id") < 310)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      val rankW = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      cands
        .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")), "neighbor_id")
        .join(broadcast(qFloat), "q_id")
        .select(col("q_id"), col("neighbor_id"), col("qdot"),
          cosPre(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine"))
        .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= 3)
        .select("q_id", "rank", "neighbor_id", "qdot", "cosine")
        .orderBy("q_id", "rank")
    }),

    // Near-dup with a natural blocking key (cluster-id / shard
    // blocking). A label-only block is quadratic in the hottest label
    // (measured alpha 1.47 on the salted replica — at 100x a hot label
    // melts one executor), so participation is CAPPED: only the
    // V03Cap smallest vec_ids per label pair up. The cap is exact-
    // preserving at every gate SF (measured max label size: 218 at
    // sf0.1, 63/59 at the smaller SFs — all far below the 1000 cap,
    // so the rank filter is a no-op and the oracle mirrors it literally);
    // on the salted sf1 replica it binds and bounds per-label work at
    // O(cap²) — the LSH sub-bucket alternative (v06's bucket under
    // label) was measured to zero out recall at the 0.4 threshold
    // (8-bit co-bucket odds ~2.5% there), so the bounded-exact cap is
    // the honest scale mitigation. The rank window is one n·log n sort
    // per label (spillable, never quadratic); at extreme label skew
    // the same salted two-level shape t11 uses applies.
    "v03_neardup_blocked" -> ((s, dir) => {
      val rankW = Window.partitionBy(col("label")).orderBy(col("vec_id"))
      val e = emb(s, dir)
        .withColumn("rk", row_number().over(rankW))
        .filter(col("rk") <= V03Cap)
      val a = e.select(col("label"), col("vec_id").as("a_id"),
        col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("label"), col("vec_id").as("b_id"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
        .select(col("label"), col("a_id"), col("b_id"),
          cosPre(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .orderBy("label", "a_id", "b_id")
    }),

    // The TWO-LEVEL IVF assignment under the driver's hash gate: at
    // w = the full super count (⌈√64⌉ = 8) every fine centroid is
    // reachable through its shard, so the coarse-route → shard-argmax
    // → cross-shard-reduce pipeline must reproduce the exact
    // single-level argmax — ids AND cosines (same IEEE sequence, same
    // total-order tie-breaks at every stage). This gates the tier-2
    // MECHANISM (SCALE.md) end to end cross-engine; the multi-probe
    // accuracy dial (w < nSup) stays spec'd in TwoLevelIvfSpec because
    // approximate routing is not oracle-expressible.
    "v10_twolevel_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      twoLevelAssign(s, dir, centroids(e, 64), w = 8).orderBy("vec_id")
    }),

    // The MULTI-PROBE two-level dial (w < nSup) under the driver's
    // gate via the within_bound CONTRACT pattern (x01/x02/c06b — the
    // oracle emits literal flags; r13, closing the r12 verdict's "not
    // oracle-expressible only holds for exact values" finding). The
    // router is the TRAINED super layer (driver-side spherical Lloyd
    // over the 64-row fine codebook — deterministic, so the flags are
    // reproducible cross-run). Gated contracts, each DETERMINISTIC
    // given the corpus, none statistical:
    //  - n_vecs: the inner joins against both two-level outputs
    //    preserve exactly one row per vector (a lost vector shrinks
    //    the count, a duplicate grows it — either breaks the gate);
    //  - monotone_ok: POINTWISE monotonicity — a vector matched at
    //    w=1 can never unmatch at w=2, because the w=1 probe set is a
    //    prefix of the w=2 set and the argmax centroid wins whenever
    //    its shard is probed (same total order at every stage);
    //  - never_better: no probed-subset cosine exceeds the
    //    single-level optimum (equality is bit-exact when the same
    //    centroid wins — identical IEEE sequence);
    //  - frac_ok: the w=2 match fraction clears V10bFloor — the
    //    near-isotropic fixture's measured floor with ~40% margin
    //    (real clustered embeddings route far better; the DIAL's
    //    quality lives in TwoLevelIvfSpec's per-w rates).
    "v10b_twolevel_probe" -> ((s, dir) => {
      val e = emb(s, dir)
      val fine = centroids(e, 64)
      val single = assignTo(e, fine)
        .select(col("vec_id"), col("c_id").as("opt_id"), col("c_cos").as("opt_cos"))
      def two(w: Int) =
        twoLevelAssign(s, dir, fine, w, trainedRouter = true)
          .select(col("vec_id"), col("c_id").as(s"id$w"), col("c_cos").as(s"cos$w"))
      single.join(two(1), "vec_id").join(two(2), "vec_id")
        .agg(
          count(lit(1)).as("nv"),
          sum(when(col("id2") === col("opt_id"), 1L).otherwise(0L)).as("m2"),
          sum(when(col("id1") === col("opt_id") && col("id2") =!= col("opt_id"),
            1L).otherwise(0L)).as("mono_viol"),
          sum(when(col("cos1") <= col("opt_cos") && col("cos2") <= col("opt_cos"),
            0L).otherwise(1L)).as("bound_viol"))
        .select(
          col("nv").as("n_vecs"),
          when(col("m2").cast("double") / col("nv").cast("double") >= V10bFloor,
            lit(1L)).otherwise(lit(0L)).as("frac_ok"),
          when(col("mono_viol") === 0L, lit(1L)).otherwise(lit(0L)).as("monotone_ok"),
          when(col("bound_viol") === 0L, lit(1L)).otherwise(lit(0L)).as("never_better"))
    }),

    // The PERSISTED SHARDED two-level path under the driver's hash
    // gate (r13 — the spec'd→gated progression applied to ask #2's
    // mechanism): build the partitionBy(s_id) index to a temp path,
    // then assign THROUGH it — supers read from parquet, probes JOIN
    // their shard's grouped codebook row (pinned shuffle_hash; zero
    // codebook broadcast), `graft_shard_nearest` argmax, cross-shard
    // reduce. At w = nSup every shard is probed, so whatever the
    // trained router does the result must collapse to the exact
    // single-level argmax — same oracle as v10, which means the gate
    // proves the PRODUCTION-TIER plan (the one that survives a
    // non-broadcastable codebook) computes the identical answer
    // through a completely different physical shape. The index build
    // (codebook-sized, off the query path in production) runs
    // in-query here so the gate stays self-contained per SF.
    // In-query build writes to the FIXED per-(purpose, dir) scratch
    // path with overwrite semantics (r14 hygiene — no temp-dir leak
    // per invocation; see scratchPath).
    "v10c_twolevel_sharded" -> ((s, dir) => {
      val path = scratchPath("v10c", dir)
      buildTwoLevelIndex(s, dir, path, nlist = 64)
      twoLevelAssignSharded(s, dir, path, w = 8).orderBy("vec_id")
    }),

    // The TRAINED-fine sharded path under one combined gate (r14,
    // verdict asks #3 + #6): buildTwoLevelIndexTrained runs corpus-side
    // Lloyd on the fine book (3 iterations — deterministic given the
    // corpus since r17's decimal-sum means), layers the trained router
    // on top, persists partitionBy(s_id), and the gate drives the
    // PRODUCTION dial (w=2) AND the production shape (sharded
    // shuffle_hash, zero codebook broadcast) through it. Values aren't
    // oracle-expressible (a trained book isn't SQL-computable), so the
    // within_bound contract pattern applies — each flag DETERMINISTIC
    // given the corpus:
    //  - n_vecs: both sharded outputs and the single-level reference
    //    keep exactly one row per vector (memberless-super loss or
    //    probe duplication would shift the count);
    //  - frac_ok: the w=2 match fraction against the single-level
    //    argmax OVER THE SAME LOADED BOOK clears V10dFloor;
    //  - exact_at_full: at w = nSup the sharded path reproduces the
    //    single-level argmax bit-for-bit (ids AND cosines — the v10c
    //    equality, now on a trained book);
    //  - never_better: no probed-subset cosine beats the optimum.
    "v10d_sharded_trained" -> ((s, dir) => {
      // r17: the trained build is deterministic given the corpus
      // (decimal-sum Lloyd), so a suite session builds it ONCE — the
      // reuseArtifact eligibility rule that previously excluded the
      // trained gates; standalone runs still rebuild from scratch
      val path = graft.SharedProjections.reuseArtifact("v10d_idx", dir) {
        val p = scratchPath("v10d", dir)
        buildTwoLevelIndexTrained(s, dir, p, nlist = 64)
        p
      }
      val e = emb(s, dir)
      val single = assignTo(e,
          graft.sources.IvfIndex.fineShards(s, path).select("c_id", "cv", "cn"))
        .select(col("vec_id"), col("c_id").as("opt_id"), col("c_cos").as("opt_cos"))
      val nSup = graft.sources.IvfIndex.supers(s, path).count().toInt
      def sh(w: Int, tag: String) = twoLevelAssignSharded(s, dir, path, w)
        .select(col("vec_id"), col("c_id").as(s"id$tag"), col("c_cos").as(s"cos$tag"))
      single.join(sh(2, "2"), "vec_id").join(sh(nSup, "F"), "vec_id")
        .agg(
          count(lit(1)).as("nv"),
          sum(when(col("id2") === col("opt_id"), 1L).otherwise(0L)).as("m2"),
          sum(when(col("idF") === col("opt_id") && col("cosF") === col("opt_cos"),
            0L).otherwise(1L)).as("full_viol"),
          sum(when(col("cos2") <= col("opt_cos") && col("cosF") <= col("opt_cos"),
            0L).otherwise(1L)).as("bound_viol"))
        .select(
          col("nv").as("n_vecs"),
          when(col("m2").cast("double") / col("nv").cast("double") >= V10dFloor,
            lit(1L)).otherwise(lit(0L)).as("frac_ok"),
          when(col("full_viol") === 0L, lit(1L)).otherwise(lit(0L)).as("exact_at_full"),
          when(col("bound_viol") === 0L, lit(1L)).otherwise(lit(0L)).as("never_better"))
    }),

    // The flat-PQ DISTRIBUTED serving path under the driver's hash
    // gate (r15 — v12c's progression applied to v11's tier): build the
    // deterministic PqIndex once per session (reuseArtifact; standalone
    // rebuilds into the fixed scratch path), serve through
    // knnPqIndexedDist — query-side LUTs computed by the scan kernel,
    // broadcast query relation, column-carried ADC — and gate on v11's
    // contract with v11's oracle verbatim (the loaded codebook
    // round-trips bit-exactly, and PqDistServeSpec pins dist == driver
    // row for row, so recall is v11's measured 28/29/25).
    "v11b_pq_dist" -> ((s, dir) => {
      val qPred = col("vec_id") >= 300 && col("vec_id") < 310
      val path = graft.SharedProjections.reuseArtifact("pq_flat_idx", dir) {
        val p = scratchPath("v11b", dir)
        buildPqIndex(s, dir, p)
        p
      }
      val pq3 = knnPqIndexedDist(s, dir, path, qPred)
      pqContract(s, dir, pq3, 300, 310, V11Floor)
    }),

    // Product-quantized ADC retrieval (r13) — the compression tier PAST
    // int8: v09's codes are dim bytes/vector, PQ's are m = 16 (32× vs
    // float64, 4× vs int8), and the ADC scan costs m table-adds per
    // candidate instead of dim multiply-adds. The dial was MEASURED on
    // the near-isotropic fixtures (PQ's hardest case — quantization
    // error vs near-tied cosines): at frontier 50, (m=8,k=16) scores
    // 24/21/14 of 30 across the SFs, (m=8,k=32) 30/24/14, and
    // (m=16,k=16) 28/24/22 — finer subspaces beat bigger codebooks, so
    // m=16/k=16 ships (PqProbe). Two-phase like v09: PQ-ADC top-50
    // frontier → exact-cosine re-rank top-3. Training
    // (per-subspace Lloyd over the first 256 vectors) and encoding are
    // fully deterministic, but k-means codebooks are not reasonably
    // SQL-expressible, so the gate is the within_bound CONTRACT
    // pattern (x01/v10b): Spark computes recall vs in-query exact
    // ground truth and a never-better check; the oracle pins the
    // SQL-computable half (query count + the exact ground truth's
    // floor-micros cosine sum — a recall OR ground-truth regression
    // breaks the hash) and emits literal flags for the contract half.
    // The two collects are contract-bounded codebook/query-set syncs
    // (256 + 10 rows, corpus-size-independent).
    "v11_pq_adc" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = PqCodebook.train(pqSampleRows(e).map(unitRow).toSeq, m = 16, k = 16)
      val qPred = col("vec_id") >= 300 && col("vec_id") < 310
      val qRows = e.filter(qPred).orderBy("vec_id")
        .select(col("vec_id"), col("v"), col("nrm")).collect()
      val codes = e.select(col("vec_id"),
        pqEncode(col("v"), col("nrm"), cb, 16, 16).as("pq"))
      val pq3 = pqRerankTop3(e, pqAdcScores(s, codes, cb, 16, 16, qRows), qPred, 50)
      pqContract(s, dir, pq3, 300, 310, V11Floor)
    }),

    // IVFADC (r14 — the designed composition of v02 × v11 the SCALE.md
    // note promised, Jégou et al. TPAMI 2011 §IV): coarse-route each
    // query to its nprobe nearest of the 16 seed centroids, PQ-encode
    // each vector's RESIDUAL against its coarse centroid, ADC-scan
    // ONLY the probed lists (score = the dot(q̂,ĉ) base riding the
    // broadcast probe relation + residual LUT adds), exact-cosine
    // re-rank the frontier. The codes persist through PqIndex
    // partitionBy(c_id) at the fixed scratch path, so the gate drives
    // the production shape — a probe reads only its lists' directories
    // — end to end (v10c's precedent). Dial MEASURED (IvfAdcProbe,
    // BENCHNOTES r14): residual ≥ direct at every probed setting, and
    // nprobe = V12Nprobe holds the recall the within_bound contract
    // gates via V12Floor while scanning nprobe/nlist of the codes.
    "v12_ivfadc" -> ((s, dir) => {
      val qPred = col("vec_id") >= 300 && col("vec_id") < 310
      val pq3 = ivfAdcServe(s, dir, v12SeedIndex(s, dir),
        nprobe = V12Nprobe, frontier = V12Frontier, qPred = qPred)
      pqContract(s, dir, pq3, 300, 310, V12Floor)
    }),

    // The TRAINED-COARSE IVFADC recipe under its own gate (r15, verdict
    // ask #1 — the v10d pattern applied to v12): the r14 sweep proved
    // Lloyd-training the coarse book is the dominant recall dial
    // (19/22/18 → 24/24/24 at the shipped nprobe, more than any
    // codebook-form or frontier change), and this is the PRODUCTION
    // recipe — trained routing + residual codes, built off-path by
    // buildIvfAdcIndex(coarse = Some(ivfTrain(...))) and served from
    // the persisted index. A trained book isn't SQL-computable (the
    // oracle can't run Lloyd), so the gate is the within_bound
    // contract with every flag deterministic-given-corpus: the oracle
    // pins the exact ground-truth half
    // (identical to v12's — the approximate recipe lives in the
    // flags), recall_ok floors at V12bFloor (50% under the measured
    // 24/24/24), and never_better is structural (the exact re-rank
    // can't beat the exact optimum). Serving goes through ivfAdcServe
    // — codebook, coarse book, and codes all LOAD from the persisted
    // index, so the gate drives the production serve path end to end.
    "v12b_ivfadc_trained" -> ((s, dir) => {
      val qPred = col("vec_id") >= 300 && col("vec_id") < 310
      // r17: deterministic training (see v10d) makes the build
      // suite-shareable; standalone runs rebuild into the fixed scratch
      val path = graft.SharedProjections.reuseArtifact("v12b_idx", dir) {
        val p = scratchPath("v12b", dir)
        buildIvfAdcIndex(s, dir, p, m = 16, k = 16, nlist = 16,
          coarse = Some(trainedBook16(s, dir))) // one Lloyd per session, shared with v14
        p
      }
      val pq3 = ivfAdcServe(s, dir, path,
        nprobe = V12Nprobe, frontier = V12Frontier, qPred = qPred)
      pqContract(s, dir, pq3, 300, 310, V12bFloor)
    }),

    // The DISTRIBUTED batch-serving path under the driver's hash gate
    // (r15 — the spec'd→gated progression applied to ask #3's
    // mechanism, v10c's precedent): build the deterministic seed-book
    // IVFADC index, then serve through ivfAdcServeDist — query-side
    // LUTs and probe routing computed by the scan kernels, skinny
    // probe broadcast, LUT hash-join, column-carried ADC — the plan a
    // 10⁴–10⁶-query batch deployment runs. PqDistServeSpec pins
    // bit-for-bit equality with the driver path; this gate makes the
    // driver hash the distributed plan's OUTPUT directly at all three
    // SFs, so the equality claim is driver-checked, not only
    // spec-checked. Same oracle and floor as v12 (row-identical
    // serving ⇒ identical recall).
    "v12c_ivfadc_dist" -> ((s, dir) => {
      val qPred = col("vec_id") >= 300 && col("vec_id") < 310
      val pq3 = ivfAdcServeDist(s, dir, v12SeedIndex(s, dir),
        nprobe = V12Nprobe, frontier = V12Frontier, qPred = qPred)
      pqContract(s, dir, pq3, 300, 310, V12Floor)
    }),

    // IVFADC served from a STREAM-ASSEMBLED index (r16 — the t17
    // progression for the vector family, closing the streaming-
    // maintenance gate pair): [[v12dStreamIndex]] bootstraps on the
    // lower vec_id half and ingests the upper half through the ingest
    // loop's foreachBatch appends under a real streaming query; serving is
    // ivfAdcServe, the production path, against the full query set.
    // Same within_bound contract as v12 (the exact ground-truth half
    // is index-independent — v12's oracle verbatim); the recall floor
    // is v12d's own because the frozen codebook saw only half the
    // corpus (measured 19/22/20 of 30 — matching the full-build seed
    // book's 19/22/18 band; V12dProbe).
    "v12d_ivfadc_streamed" -> ((s, dir) => {
      val qPred = col("vec_id") >= 300 && col("vec_id") < 310
      val pq3 = ivfAdcServe(s, dir, v12dStreamIndex(s, dir),
        nprobe = V12Nprobe, frontier = V12Frontier, qPred = qPred)
      pqContract(s, dir, pq3, 300, 310, V12dFloor)
    }),

    // The trained book's VALUE claim, hash-pinned (r17, verdict
    // stretch #8): on the near-isotropic fixtures seed-vs-trained
    // recall deltas are routing noise (v12d's half-corpus book matched
    // the full build), so the claim "training the routing book buys
    // recall" lived in probe notes. [[clusteredEmb]] plants the regime
    // where it's TRUE and decidable: 16 near-orthogonal cosine
    // clusters whose quasi-random id gives the first-nlist seed
    // convention collisions and gaps by construction — measured
    // (ClusterMixProbe, nprobe=2 of nlist=16, 30 queries × top-3):
    // seed 74/69/78 of 90 across the three SFs, Lloyd-trained 90/90/90.
    // The gate serves BOTH books through the same v02-shaped probe
    // path over the planted relation and pins: the exact ground-truth
    // half (SQL-computable — the planting is integer mods + one IEEE
    // add per element, so the oracle builds the identical mixture),
    // recall_ok (trained ≥ V13Floor = 45, ~50% under measured),
    // trained_beats_seed STRICT (the win itself — deterministic
    // because training is, r17 ask #3), and never_better (exact
    // re-rank can't beat the exact optimum).
    "v13_trained_clustered" -> ((s, dir) => {
      // planted relation + both books come from the shared tier (r18,
      // verdict ask #3): r17's decimal-sum Lloyd made the trained book
      // deterministic given the corpus, so the isolation argument for
      // rebuilding in-gate no longer applies — the v12b/v10d sharing
      // pattern, and within one gate run the persisted planted
      // relation collapses the ~8 corpus passes (gt + 2 books + 2
      // assignment/serving passes + 3 Lloyd iterations) to one.
      val e = v13Emb(s, dir)
      val qPred = col("vec_id") >= 300 && col("vec_id") < 330
      val gt = exactTopKOver(e, qPred, 3)
      val seedBook = v13SeedBook(s, dir)
      val seed3 = knnIvfOver(e, seedBook,
        assignTo(e, seedBook).select("vec_id", "c_id", "v", "nrm"), qPred, 2)
      val trainedBook = v13TrainedBook(s, dir)
      val trained3 = knnIvfOver(e, trainedBook,
        assignTo(e, trainedBook).select("vec_id", "c_id", "v", "nrm"), qPred, 2)
      def nHits(ap: DataFrame) = gt.select("q_id", "neighbor_id")
        .join(ap.select("q_id", "neighbor_id"),
          Seq("q_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("nh"))
      val gtAgg = gt.agg(
        countDistinct(col("q_id")).as("n_queries"),
        sum(floor(col("cosine") * lit(1000000.0)).cast("long")).as("gt_sum_micros"))
      val best = gt.filter(col("rank") === 1)
        .select(col("q_id"), col("cosine").as("opt_cos"))
        .join(trained3.filter(col("rank") === 1)
          .select(col("q_id"), col("cosine").as("tr_cos")), "q_id")
        .agg(sum(when(col("tr_cos") <= col("opt_cos"), 0L).otherwise(1L)).as("nb_viol"))
      gtAgg.crossJoin(nHits(trained3).select(col("nh").as("nh_t")))
        .crossJoin(nHits(seed3).select(col("nh").as("nh_s")))
        .crossJoin(best)
        .select(col("n_queries"), col("gt_sum_micros"),
          when(col("nh_t") >= lit(V13Floor), 1L).otherwise(0L).as("recall_ok"),
          when(col("nh_t") > col("nh_s"), 1L).otherwise(0L).as("trained_beats_seed"),
          when(col("nb_viol") === 0L, 1L).otherwise(0L).as("never_better"))
    }),

    // The MAINTENANCE LOOP, closed under one gate (r18, verdict ask
    // #4): every lifecycle piece the index families carry — build,
    // append, drift probe, reader-safe rebuild, retrain, serve — has
    // its own spec; this gate proves the COMPOSITION a real
    // maintenance job runs, as one driver-hashed lifecycle:
    //
    //   1. BUILD the IVF index at 60% of the corpus (seed book,
    //      frozen stats);
    //   2. APPEND the remaining 40% under the frozen book (the
    //      stale-index serving contract);
    //   3. the DRIFT PROBE fires (appended_frac 0.4 > the 0.25
    //      threshold) — checked BOTH driver-side (the job's actual
    //      decision, a loud require) and in-plan (probe_fired, which
    //      the oracle recomputes from corpus arithmetic);
    //   4. a PRE-REBUILD READER pins the current generation — probe
    //      AND a full serving pass, whose file lists resolve here;
    //   5. REBUILD THROUGH writeGen: retrain via the deterministic
    //      Lloyd over the full corpus, publish as the next generation
    //      — the pinned readers keep complete files (ManifestSpec's
    //      property, now under the driver hash: pre_sum_micros is the
    //      pinned reader's serving result, evaluated AFTER the swap,
    //      and the oracle computes its exact value);
    //   6. the probe CLEARS (appended_frac == 0.0 exactly — the
    //      rebuild froze new stats), and post-rebuild serving from the
    //      retrained artifacts meets the standing recall contract
    //      against the exact ground truth (never_better = exact
    //      re-rank can't beat the exact optimum). The recall floor is
    //      the v02-tier dial's honest number, NOT v13's planted
    //      regime: nprobe=2 of nlist=16 scans 12.5% of a
    //      near-isotropic corpus, and measured trained-book hits are
    //      8-13/30 across the SFs (V14Probe; seed measures 7-11 — on
    //      isotropic data the books differ by routing noise, which is
    //      exactly why the VALUE claim lives in v13's planted gate and
    //      this gate claims only the LIFECYCLE).
    "v14_maintenance_loop" -> ((s, dir) => {
      val path = scratchPath("v14", dir)
      val e = emb(s, dir)
      val raw = graft.Tables(s, dir, "embeddings")
      // deterministic input-prep scalar, one action per session (r21 —
      // the v14_book0_rows precedent): the 60% cut is a function of the
      // corpus alone, not of the lifecycle under test
      val maxId = graft.SharedProjections.reuseArtifact("emb_max_id", dir)(
        raw.agg(max(col("vec_id"))).head().getLong(0))
      val cut = maxId * 6 / 10
      val eb = e.filter(col("vec_id") <= cut)
      val book0 = centroids(eb, 16)
      // the 60% bootstrap ASSIGNMENT is deterministic given the corpus
      // (seed book + the argmax kernel), so a suite session computes it
      // once (r19, verdict ask #5) — bench passes re-run this gate 4×,
      // and only the generation WRITE (the lifecycle under test) must
      // repeat; standalone runs build inline as before
      // the collected 16-row book, once per suite session (r20: the
      // append assigns under book0 every gate re-run; collecting it
      // from the scan each time was a repeated driver action)
      val book0Rows = graft.SharedProjections.reuseArtifact(
        "v14_book0_rows", dir)(collectBook(book0))
      val bootAssign = graft.SharedProjections.reuse("v14_boot_assign", dir)(
        assignToBook(eb, book0Rows).select("vec_id", "c_id", "v", "nrm"))
      graft.sources.IvfIndex.writeWithCodebook(bootAssign, book0, path)
      // appended ids (> cut) are disjoint from the bootstrap (<= cut)
      // BY CONSTRUCTION — the write half skips the guard's probe (r20)
      writeIvfAppend(s,
        raw.filter(col("vec_id") > cut).select("vec_id", "label", "embedding"),
        path, book0Rows)
      // pre-rebuild readers: file lists resolve against the current
      // generation HERE, before the rebuild publishes the next one
      val preDrift = graft.sources.IvfIndex.driftProbe(s, path)
      val qPred = col("vec_id") >= 100 && col("vec_id") < 110
      // LAZY checkpoint (r20): the serving relation is ≤ q×k rows but
      // its subtree re-executes once per consumer in the final plan;
      // eager=false keeps evaluation at output time — AFTER the swap —
      // which is exactly the pinned-reader property under test
      val preServe = knnIvfOver(e, graft.sources.IvfIndex.codebook(s, path),
        graft.sources.IvfIndex.read(s, path), qPred, 2)
        .localCheckpoint(eager = false)
      // the maintenance decision, driver-side (what the real job does)
      val frac = preDrift.select("appended_frac").head().getDouble(0)
      require(frac > 0.25,
        s"v14: drift probe must fire at 40% appended volume (got $frac)")
      // rebuild = retrain + writeGen publish; the pinned readers above
      // stay on the superseded generation, retained one cycle. The
      // retrained book is the shared deterministic build (v12b's
      // coarse book — bit-identical to an in-gate retrain, which is
      // exactly what a standalone run does)
      val trained = trainedBook16(s, dir)
      // full-corpus trained assignment: deterministic (bit-stable Lloyd
      // book + argmax kernel), shared like the bootstrap above
      val trainedAssign = graft.SharedProjections.reuse(
        "ivf_trained_assign16", dir)(
        assignTo(e, trained).select("vec_id", "c_id", "v", "nrm"))
      graft.sources.IvfIndex.writeWithCodebook(trainedAssign, trained, path)
      val postDrift = graft.sources.IvfIndex.driftProbe(s, path)
      // lazy checkpoint: consumed twice below (hits, nb) — see preServe
      val postServe = knnIvfOver(e, graft.sources.IvfIndex.codebook(s, path),
        graft.sources.IvfIndex.read(s, path), qPred, 2)
        .localCheckpoint(eager = false)
      // ground truth shared with v07's brute-force pass (r19, verdict
      // ask #5): the per-q_id rank window makes the union-predicate
      // pass's [100,110) slice row-identical to a dedicated pass
      val gt = sharedExactGt(s, dir).filter(col("q_id") < 110)
      val preFlag = preDrift.select(col("n_frozen"), col("n_now"),
        when(col("appended_frac") > 0.25, 1L).otherwise(0L).as("probe_fired"))
      val preAgg = preServe.agg(count(lit(1)).as("pre_rows"),
        sum(floor(col("cosine") * lit(1000000.0)).cast("long")).as("pre_sum_micros"))
      val postFlag = postDrift.select(
        when(col("appended_frac") === 0.0, 1L).otherwise(0L).as("probe_cleared"))
      val hits = gt.select("q_id", "neighbor_id")
        .join(postServe.select("q_id", "neighbor_id"),
          Seq("q_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("nh"))
      val nb = gt.filter(col("rank") === 1)
        .select(col("q_id"), col("cosine").as("opt_cos"))
        .join(postServe.filter(col("rank") === 1)
          .select(col("q_id"), col("cosine").as("tr_cos")), "q_id")
        .agg(sum(when(col("tr_cos") <= col("opt_cos"), 0L).otherwise(1L)).as("nb_viol"))
      preFlag.crossJoin(preAgg).crossJoin(postFlag)
        .crossJoin(hits).crossJoin(nb)
        .select(col("n_frozen"), col("n_now"), col("probe_fired"),
          col("pre_rows"), col("pre_sum_micros"), col("probe_cleared"),
          when(col("nh") >= lit(V14Floor), 1L).otherwise(0L).as("post_recall_ok"),
          when(col("nb_viol") === 0L, 1L).otherwise(0L).as("never_better"))
    }),

    // The STREAMING maintenance loop (r19, verdict stretch #8 — the
    // last untested composition in the maintenance story): v14 proves
    // the batch lifecycle; this gate runs it under LIVE ingest.
    // Bootstrap the IVF index on the lower vec_id half (seed book,
    // frozen stats), PIN a serving reader against that generation,
    // then stream the upper half through [[graft.streaming.IndexIngest]]
    // — whose foreachBatch appends each micro-batch AND runs the
    // maintenance policy: drift probe, and past the 0.3 threshold a
    // retrain-rebuild through writeGen WHILE THE STREAM KEEPS
    // APPENDING (writers serialized by construction: the rebuild runs
    // inside the serial micro-batch callback — SCALE.md regime 1).
    // With ~equal thirds staged, the policy fires EXACTLY once, after
    // batch 2 (batch 1 lands at frac ≈ 0.25 < 0.3, batch 2 at ≈ 0.4,
    // batch 3 at ≈ 0.17 post-rebuild — margins ≥ 0.05 against split
    // jitter), and the FINAL index content is batch-boundary-
    // INDEPENDENT: the deterministic trained book reassigns everything
    // at the rebuild, and post-rebuild appends assign under the same
    // loaded book bit-identically — so the final artifact equals v14's
    // post-rebuild state and the same recall floor applies. The gate
    // hashes: bootstrap/final counts (oracle recomputes), the PINNED
    // pre-stream reader's serving result evaluated AFTER the stream
    // (appends only add files and the rebuild's generation publish
    // retains the pinned one, so it serves exactly the bootstrap
    // content — the oracle computes its exact value), the policy
    // firing flags, the steady-state drift flag, and the standing
    // recall/never-better contract against the exact ground truth.
    "v15_streaming_maintenance" -> ((s, dir) => {
      val path = scratchPath("v15", dir)
      val ck = scratchPath("v15-ck", dir)
      // mutable scratch → wipe: a leftover checkpoint would mark the
      // staged files already-processed and skip the ingest. (The STAGED
      // INPUT files are deterministic given the corpus — input prep,
      // not lifecycle — so a suite session writes them once, r20; the
      // checkpoint wipe is what makes every pass re-ingest them.)
      locally {
        val hp = new org.apache.hadoop.fs.Path(ck)
        hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      val raw = graft.Tables(s, dir, "embeddings")
      // shared input-prep scalar (r21, see v14) — the 50% cut is
      // corpus-determined; every pass re-runs the lifecycle, not the max
      val maxId = graft.SharedProjections.reuseArtifact("emb_max_id", dir)(
        raw.agg(max(col("vec_id"))).head().getLong(0))
      val cut = maxId / 2
      val e = emb(s, dir)
      val eb = e.filter(col("vec_id") <= cut)
      val book0 = centroids(eb, 16)
      val upper = raw.filter(col("vec_id") > cut)
        .select("vec_id", "label", "embedding")
      // the bootstrap build and the upper slice's staging write read
      // neither's output, so they overlap
      val (_, stage) = graft.Overlap.both(s)(
        graft.sources.IvfIndex.writeWithCodebook(
          graft.SharedProjections.reuse("v15_boot_assign", dir)(
            assignTo(eb, book0).select("vec_id", "c_id", "v", "nrm")),
          book0, path),
        graft.SharedProjections.reuseArtifact("v15_stage", dir) {
          val d = scratchPath("v15-stage", dir)
          val hp = new org.apache.hadoop.fs.Path(d)
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
          upper.repartition(3).write.mode("overwrite").parquet(d)
          d
        })
      // pinned reader: file lists (index + codebook) resolve HERE
      val qPred = col("vec_id") >= 100 && col("vec_id") < 110
      val pinned = knnIvfOver(e, graft.sources.IvfIndex.codebook(s, path),
        graft.sources.IvfIndex.read(s, path), qPred, 2)
      val rebuilds = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = graft.streaming.IndexIngest.start(
        s.readStream.schema(upper.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage),
        graft.streaming.IndexIngest.ivfMaintained(path, threshold = 0.3,
          retrain = ss => trainedBook16(ss, dir),
          onRebuild = () => { rebuilds.incrementAndGet(); () }),
        checkpointDir = Some(ck))
      q.processAllAvailable()
      q.stop()
      // the policy decision, driver-side (what the real job observes)
      require(rebuilds.get() >= 1,
        s"v15: the in-stream policy must fire (rebuilds=${rebuilds.get()})")
      // lazy checkpoint (r20): consumed twice below (hits, nb)
      val postServe = knnIvfOver(e, graft.sources.IvfIndex.codebook(s, path),
        graft.sources.IvfIndex.read(s, path), qPred, 2)
        .localCheckpoint(eager = false)
      val finalDrift = graft.sources.IvfIndex.driftProbe(s, path)
      val gt = sharedExactGt(s, dir).filter(col("q_id") < 110)
      val preAgg = pinned.agg(count(lit(1)).as("pre_rows"),
        sum(floor(col("cosine") * lit(1000000.0)).cast("long")).as("pre_sum_micros"))
      val hits = gt.select("q_id", "neighbor_id")
        .join(postServe.select("q_id", "neighbor_id"),
          Seq("q_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("nh"))
      val nb = gt.filter(col("rank") === 1)
        .select(col("q_id"), col("cosine").as("opt_cos"))
        .join(postServe.filter(col("rank") === 1)
          .select(col("q_id"), col("cosine").as("tr_cos")), "q_id")
        .agg(sum(when(col("tr_cos") <= col("opt_cos"), 0L).otherwise(1L)).as("nb_viol"))
      raw.agg(
          sum(when(col("vec_id") <= cut, 1L).otherwise(0L)).as("n_bootstrap"),
          count(lit(1)).as("n_final"))
        .crossJoin(preAgg)
        .crossJoin(finalDrift.select(
          when(col("appended_frac") <= 0.3, 1L).otherwise(0L)
            .as("steady_below_threshold")))
        .crossJoin(hits).crossJoin(nb)
        .select(col("n_bootstrap"), col("n_final"),
          lit(if (rebuilds.get() >= 1) 1L else 0L).as("rebuild_fired"),
          lit(if (rebuilds.get() == 1) 1L else 0L).as("one_rebuild"),
          col("pre_rows"), col("pre_sum_micros"),
          col("steady_below_threshold"),
          when(col("nh") >= lit(V14Floor), 1L).otherwise(0L).as("post_recall_ok"),
          when(col("nb_viol") === 0L, 1L).otherwise(0L).as("never_better"))
    })
  )

  /** v14's post-rebuild recall floor — trained-book serving hits over
    * the 10 queries' exact top-3 (measured 8-13/30 across the SFs at
    * the nprobe=2/nlist=16 dial on the near-isotropic fixture;
    * V14Probe), floored ~50% under the measured minimum, the house
    * margin convention.
    */
  private[queries] val V14Floor = 4L

  /** v13's gated recall floor — trained-book hits over the 30
    * queries' exact top-3 on the planted mixture (measured 90/90/90 of
    * 90 across the SFs; ClusterMixProbe), floored ~50% under, the
    * house margin convention.
    */
  private[queries] val V13Floor = 45L

  /** The deterministic SEED-book IVFADC index both v12 (driver-path
    * serving) and v12c (distributed serving) consume: a suite session
    * builds it once ([[graft.SharedProjections.reuseArtifact]] — the
    * p06/p08 sharing pattern applied to an index build); standalone
    * gates rebuild into the same fixed scratch path with overwrite
    * semantics. The build is fully deterministic (seed centroids,
    * hash-stratified sample), so first-builder order cannot change
    * either gate's output.
    */
  /** Deterministic planted-cluster mixture over the embeddings table
    * (r17, verdict stretch #8). The fixture embeddings are
    * near-isotropic unit vectors, so seed-vs-trained recall deltas
    * there are routing noise — this relation is the regime where a
    * TRAINED book has something to find: vector `vec_id` gets a
    * constant bump of [[ClusterAmp]] in dimension
    * `((vec_id * 37) % 97) % ClusterCount` (a fixed quasi-random
    * cluster id), planting [[ClusterCount]] mutually-near-orthogonal
    * cosine clusters whose within-cluster spread (the original unit
    * noise) is comparable to the planted offset. Every operation is
    * exact-arithmetic-reproducible in SQL (integer mods + one IEEE
    * double add per element), so the oracle computes the SAME mixture
    * and the exact ground-truth half stays hash-pinned. The first-
    * nlist seed convention covers the planted clusters unevenly
    * (collisions + gaps by construction of the quasi-random id), which
    * is precisely the init regime Lloyd training repairs.
    */
  private[queries] val ClusterCount = 16
  private[queries] val ClusterAmp = 1.0
  private[queries] def clusteredEmb(s: SparkSession, dir: String): DataFrame = {
    val c = pmod(pmod(col("vec_id") * lit(37L), lit(97L)), lit(ClusterCount.toLong))
    emb(s, dir)
      .withColumn("v", transform(col("v"),
        (x, i) => x + when(i.cast("long") === c, lit(ClusterAmp)).otherwise(lit(0.0))))
      .withColumn("nrm", norm(col("v")))
  }

  /** The v13 fixture pieces, shared once per (suite session, dir) —
    * r18, verdict ask #3. All three are deterministic given the
    * corpus: the planting is pure arithmetic, the seed book is the
    * first-nlist convention, and the trained book is the decimal-sum
    * Lloyd (bit-stable across partitionings since r17) — so
    * first-builder order cannot change any consumer's output.
    * Standalone (reuse off) they just build inline, the gate's
    * pre-r18 shape.
    */
  private[queries] def v13Emb(s: SparkSession, dir: String): DataFrame =
    graft.SharedProjections.reuse("v13_clustered_emb", dir)(clusteredEmb(s, dir))
  private[queries] def v13SeedBook(s: SparkSession, dir: String): DataFrame =
    graft.SharedProjections.reuse("v13_seed_book", dir)(
      centroids(v13Emb(s, dir), ClusterCount))
  private[queries] def v13TrainedBook(s: SparkSession, dir: String): DataFrame =
    graft.SharedProjections.reuse("v13_trained_book", dir)(
      ivfTrainOver(s, v13Emb(s, dir), ClusterCount, 3))

  /** The Lloyd-trained nlist=16 book over the RAW embeddings —
    * deterministic given the corpus (r17's decimal-sum Lloyd), so
    * v12b's coarse book and v14's retrain are one suite-session build
    * (production caches trained books by corpus version for the same
    * reason); standalone gates train inline.
    */
  private[queries] def trainedBook16(s: SparkSession, dir: String): DataFrame =
    graft.SharedProjections.reuse("ivf_trained_book16", dir)(ivfTrain(s, dir, 16))

  private def v12SeedIndex(s: SparkSession, dir: String): String =
    graft.SharedProjections.reuseArtifact("ivfadc_seed_idx", dir) {
      val p = scratchPath("v12", dir)
      buildIvfAdcIndex(s, dir, p, m = 16, k = 16, nlist = 16)
      p
    }

  /** The STREAM-ASSEMBLED IVFADC index v12d serves from (r16 — t17's
    * streaming-gate symmetry for the vector family): bootstrap the
    * seed-book index on the deterministic lower half of vec_ids (the
    * codebook, coarse book, and ranking artifacts freeze there — the
    * stale-index contract), then ingest the upper half through a REAL
    * Structured Streaming query (file source, one file per
    * micro-batch, [[graft.streaming.IndexIngest]]'s foreachBatch append
    * with anti-join replay absorption). Index CONTENT is
    * batch-boundary-independent: appends are placement-deterministic
    * against the persisted artifacts (IvfAdcAppendSpec) and ids are
    * disjoint, so any file→batch split converges to the same rows —
    * which is what lets a driver hash sit on top of a streaming
    * assembly. The bootstrap build is deterministic given the corpus
    * (seed centroids + hash-stratified sample), so reuseArtifact
    * sharing is safe (unlike v12b's Lloyd-trained book).
    */
  private[queries] def v12dStreamIndex(s: SparkSession, dir: String): String =
    graft.SharedProjections.reuseArtifact("ivfadc_stream_idx", dir) {
      val p = scratchPath("v12d", dir)
      val halfDir = scratchPath("v12d-half", dir)
      val stage = scratchPath("v12d-stage", dir)
      val ck = scratchPath("v12d-ck", dir)
      // mutable scratch → wipe first: a leftover checkpoint would mark
      // the staged files already-processed and skip the ingest
      for (d <- Seq(stage, ck)) {
        val hp = new org.apache.hadoop.fs.Path(d)
        hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      val e = graft.Tables(s, dir, "embeddings")
      val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
      val cut = maxId / 2
      e.filter(col("vec_id") <= cut).write.mode("overwrite")
        .parquet(s"$halfDir/embeddings.parquet")
      buildIvfAdcIndex(s, halfDir, p)
      val rest = e.filter(col("vec_id") > cut)
        .select("vec_id", "label", "embedding")
      rest.repartition(3).write.mode("overwrite").parquet(stage)
      val q = graft.streaming.IndexIngest.start(
        s.readStream.schema(rest.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage),
        graft.streaming.IndexIngest.ivfAdc(p), checkpointDir = Some(ck))
      q.processAllAvailable()
      q.stop()
      p
    }

  private val EMB =
    "SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings"

  def oracleSql: Map[String, String] = Map(
    "v01_knn_exact" ->
      s"""WITH e AS ($EMB), q AS (SELECT * FROM e WHERE vec_id < 20),
         |p AS (SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id, ${cosSql("q.v", "e.v")} AS cosine
         |  FROM q, e WHERE e.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM p)
         |SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "v02_knn_ivf" ->
      s"""WITH e AS ($EMB), c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
         |assign AS (SELECT vec_id, c_id, v FROM (
         |    SELECT e.vec_id, c.c_id, e.v,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id) AS rn
         |    FROM e, c) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 100 AND vec_id < 110),
         |probes AS (SELECT q_id, c_id FROM (
         |    SELECT q.q_id, c.c_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.c_id) AS rn
         |    FROM q, c) WHERE rn <= 2),
         |cand AS (SELECT q.q_id, a.vec_id AS neighbor_id, q.qv, a.v
         |  FROM q JOIN probes p ON q.q_id = p.q_id JOIN assign a ON a.c_id = p.c_id
         |  WHERE a.vec_id <> q.q_id),
         |scored AS (SELECT q_id, neighbor_id, ${cosSql("cand.qv", "cand.v")} AS cosine FROM cand),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    // identical semantics to v01 — the aggregator must reproduce the
    // window formulation exactly
    "v04_knn_topk_agg" ->
      s"""WITH e AS ($EMB), q AS (SELECT * FROM e WHERE vec_id < 20),
         |p AS (SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id, ${cosSql("q.v", "e.v")} AS cosine
         |  FROM q, e WHERE e.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM p)
         |SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "v05_knn_lsh" -> {
      val sign = s"(CASE WHEN ${fpSql(s"CAST(${fpSql("CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} AS VARCHAR)")} % 2 = 1 THEN 1.0 ELSE -1.0 END)" // double-hashed: see LshBucket
      val planeDot = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[v[i] * $sign for i in range(1, 65)]), (a, b) -> a + b)"
      val bandSelects = (0 until 4).map { b =>
        s"SELECT vec_id, v, $b AS band, CAST(list_sum([CASE WHEN $planeDot > 0 " +
          s"THEN (1 << (p - ${8 * b})) ELSE 0 END for p in range(${8 * b}, ${8 * b + 8})]) AS INT) AS bkey FROM e"
      }.mkString("\n  UNION ALL ")
      s"""WITH e AS ($EMB),
         |bk AS ($bandSelects),
         |q AS (SELECT vec_id AS q_id, v AS qv, band, bkey FROM bk WHERE vec_id >= 200 AND vec_id < 210),
         |scored AS (SELECT DISTINCT q.q_id, e.vec_id AS neighbor_id, ${cosSql("q.qv", "e.v")} AS cosine
         |  FROM q JOIN bk e ON q.band = e.band AND q.bkey = e.bkey AND e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
    },

    // recall@3 of both ANN variants against exact ground truth on their
    // own query sets — the same assign/probe/bucket CTEs as v02/v05,
    // joined against a brute-force exact top-3
    "v07_ann_recall" -> {
      val sign = s"(CASE WHEN ${fpSql(s"CAST(${fpSql("CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} AS VARCHAR)")} % 2 = 1 THEN 1.0 ELSE -1.0 END)" // double-hashed: see LshBucket
      val planeDot = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[v[i] * $sign for i in range(1, 65)]), (a, b) -> a + b)"
      val bandSelects = (0 until 4).map { b =>
        s"SELECT vec_id, v, $b AS band, CAST(list_sum([CASE WHEN $planeDot > 0 " +
          s"THEN (1 << (p - ${8 * b})) ELSE 0 END for p in range(${8 * b}, ${8 * b + 8})]) AS INT) AS bkey FROM e"
      }.mkString("\n  UNION ALL ")
      s"""WITH e AS ($EMB),
         |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
         |assign AS (SELECT vec_id, c_id, v FROM (
         |    SELECT e.vec_id, c.c_id, e.v,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id) AS rn
         |    FROM e, c) WHERE rn = 1),
         |q1 AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 100 AND vec_id < 110),
         |probes AS (SELECT q_id, c_id FROM (
         |    SELECT q.q_id, c.c_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.c_id) AS rn
         |    FROM q1 q, c) WHERE rn <= 2),
         |ann1 AS (SELECT q_id, neighbor_id FROM (
         |    SELECT q.q_id, a.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${cosSql("q.qv", "a.v")} DESC, a.vec_id) AS rank
         |    FROM q1 q JOIN probes p ON q.q_id = p.q_id JOIN assign a ON a.c_id = p.c_id
         |    WHERE a.vec_id <> q.q_id) WHERE rank <= 3),
         |ex1 AS (SELECT q_id, neighbor_id FROM (
         |    SELECT q.q_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${cosSql("q.qv", "e.v")} DESC, e.vec_id) AS rank
         |    FROM q1 q, e WHERE e.vec_id <> q.q_id) WHERE rank <= 3),
         |h1 AS (SELECT ex.q_id, count(a.neighbor_id) AS hits FROM ex1 ex
         |  LEFT JOIN ann1 a ON ex.q_id = a.q_id AND ex.neighbor_id = a.neighbor_id
         |  GROUP BY ex.q_id),
         |r1 AS (SELECT 'ivf' AS variant, count(*) AS n_queries,
         |  sum(hits) AS n_hits, min(hits) AS min_hits FROM h1),
         |bk AS ($bandSelects),
         |q2 AS (SELECT vec_id AS q_id, v AS qv, band, bkey FROM bk WHERE vec_id >= 200 AND vec_id < 210),
         |scored2 AS (SELECT DISTINCT q.q_id, e.vec_id AS neighbor_id, ${cosSql("q.qv", "e.v")} AS cosine
         |  FROM q2 q JOIN bk e ON q.band = e.band AND q.bkey = e.bkey AND e.vec_id <> q.q_id),
         |ann2 AS (SELECT q_id, neighbor_id FROM (
         |    SELECT q_id, neighbor_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM scored2) WHERE rank <= 3),
         |qx2 AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 200 AND vec_id < 210),
         |ex2 AS (SELECT q_id, neighbor_id FROM (
         |    SELECT q.q_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${cosSql("q.qv", "e.v")} DESC, e.vec_id) AS rank
         |    FROM qx2 q, e WHERE e.vec_id <> q.q_id) WHERE rank <= 3),
         |h2 AS (SELECT ex.q_id, count(a.neighbor_id) AS hits FROM ex2 ex
         |  LEFT JOIN ann2 a ON ex.q_id = a.q_id AND ex.neighbor_id = a.neighbor_id
         |  GROUP BY ex.q_id),
         |r2 AS (SELECT 'lsh' AS variant, count(*) AS n_queries,
         |  sum(hits) AS n_hits, min(hits) AS min_hits FROM h2)
         |SELECT variant, CAST(n_queries AS BIGINT) AS n_queries,
         |  CAST(n_hits AS BIGINT) AS n_hits, CAST(min_hits AS BIGINT) AS min_hits
         |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2) ORDER BY variant""".stripMargin
    },

    "v06_neardup_lsh" -> {
      val sign = s"(CASE WHEN ${fpSql(s"CAST(${fpSql("CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} AS VARCHAR)")} % 2 = 1 THEN 1.0 ELSE -1.0 END)" // double-hashed: see LshBucket
      val planeDot = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[v[i] * $sign for i in range(1, 65)]), (a, b) -> a + b)"
      s"""WITH e AS ($EMB),
         |bk AS (SELECT vec_id, v, CAST(list_sum(
         |    [CASE WHEN $planeDot > 0 THEN (1 << p) ELSE 0 END for p in range(0, 8)]) AS INT) AS bucket
         |  FROM e),
         |p AS (SELECT a.bucket, a.vec_id AS a_id, b.vec_id AS b_id, ${cosSql("a.v", "b.v")} AS cosine
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT bucket, a_id, b_id, cosine FROM p WHERE cosine >= 0.3
         |ORDER BY bucket, a_id, b_id""".stripMargin
    },

    "c02_embedding_contamination" -> {
      val sign = s"(CASE WHEN ${fpSql(s"CAST(${fpSql("CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} AS VARCHAR)")} % 2 = 1 THEN 1.0 ELSE -1.0 END)" // double-hashed: see LshBucket
      val planeDot = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[v[i] * $sign for i in range(1, 65)]), (a, b) -> a + b)"
      s"""WITH e AS ($EMB),
         |bk AS (SELECT vec_id, v, CAST(list_sum(
         |    [CASE WHEN $planeDot > 0 THEN (1 << p) ELSE 0 END for p in range(0, 8)]) AS INT) AS bucket
         |  FROM e),
         |ev AS (SELECT bucket, vec_id AS eval_id, v AS evv FROM bk WHERE vec_id % 50 = 0),
         |tr AS (SELECT bucket, vec_id AS train_id, v AS tv FROM bk WHERE vec_id % 50 <> 0),
         |p AS (SELECT tr.train_id, ev.eval_id, ${cosSql("tr.tv", "ev.evv")} AS cosine
         |  FROM tr JOIN ev USING (bucket)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY train_id ORDER BY cosine DESC, eval_id) AS rn FROM p)
         |SELECT train_id, eval_id, cosine FROM r WHERE rn = 1 AND cosine >= 0.3
         |ORDER BY train_id""".stripMargin
    },

    // v02's assign CTE + within-cluster keep-first verdict
    "v08_semdedup" ->
      s"""WITH e AS ($EMB), c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
         |assign AS (SELECT vec_id, c_id, v FROM (
         |    SELECT e.vec_id, c.c_id, e.v,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id) AS rn
         |    FROM e, c) WHERE rn = 1),
         |dropped AS (SELECT DISTINCT b.vec_id FROM assign a
         |  JOIN assign b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v")} >= 0.3)
         |SELECT s.c_id, s.vec_id,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id
         |ORDER BY s.c_id, s.vec_id""".stripMargin,

    // v08's CTEs with nlist derived from the corpus count — the same
    // ceil(sqrt(n)) both engines compute on identical IEEE ops
    "v08b_semdedup_dial" ->
      s"""WITH e AS ($EMB),
         |nl AS (SELECT CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS nlist FROM e),
         |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < (SELECT nlist FROM nl)),
         |assign AS (SELECT vec_id, c_id, v FROM (
         |    SELECT e.vec_id, c.c_id, e.v,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id) AS rn
         |    FROM e, c) WHERE rn = 1),
         |dropped AS (SELECT DISTINCT b.vec_id FROM assign a
         |  JOIN assign b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v")} >= 0.3)
         |SELECT s.c_id, s.vec_id,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id
         |ORDER BY s.c_id, s.vec_id""".stripMargin,

    // the same two phases symbolically: int8 codes off the shared nrm,
    // integer-fold candidate scores, exact-cosine re-rank of the top-20
    "v09_knn_int8" ->
      s"""WITH e AS ($EMB),
         |n AS (SELECT vec_id, v, sqrt(${OracleDialect.dot("v", "v")}) AS nrm FROM e),
         |c AS (SELECT vec_id, v, nrm, ${OracleDialect.i8Codes("v", "nrm")} AS qc FROM n),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, qc AS qqc FROM c
         |  WHERE vec_id >= 300 AND vec_id < 310),
         |p AS (SELECT q.q_id, c.vec_id AS neighbor_id,
         |    ${OracleDialect.longDot("q.qqc", "c.qc")} AS qdot, q.qv, q.qn, c.v, c.nrm
         |  FROM q, c WHERE c.vec_id <> q.q_id),
         |cand AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, neighbor_id) AS crk FROM p),
         |rr AS (SELECT q_id, neighbor_id, qdot,
         |    ${OracleDialect.dot("qv", "v")} / (qn * nrm) AS cosine FROM cand WHERE crk <= 20),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM rr)
         |SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, qdot, cosine
         |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    "v03_neardup_blocked" ->
      s"""WITH e0 AS ($EMB),
         |e AS (SELECT vec_id, label, v FROM (SELECT *,
         |    row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rk FROM e0)
         |  WHERE rk <= $V03Cap),
         |p AS (SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id, ${cosSql("a.v", "b.v")} AS cosine
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT label, a_id, b_id, cosine FROM p WHERE cosine >= 0.4 ORDER BY label, a_id, b_id""".stripMargin,

    // the order-free single-level argmax — at w = nSup the two-level
    // pipeline must collapse to exactly this (precomputed-norm cosine,
    // the v09 `n` CTE shape, mirroring cosPre's op sequence)
    "v10_twolevel_ivf" ->
      s"""WITH e AS ($EMB),
         |n AS (SELECT vec_id, v, sqrt(${OracleDialect.dot("v", "v")}) AS nrm FROM e),
         |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 64),
         |p AS (SELECT n.vec_id, c.c_id,
         |    ${OracleDialect.dot("n.v", "c.cv")} / (n.nrm * c.cn) AS cos FROM n, c),
         |a AS (SELECT vec_id, c_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id) AS rn FROM p)
         |SELECT vec_id, c_id, cos AS c_cos FROM a WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // the distributed flat-PQ serving path is row-identical to v11's
    // driver path (PqDistServeSpec) — v11's oracle verbatim
    "v11b_pq_dist" ->
      s"""WITH e AS ($EMB),
         |n AS (SELECT vec_id, v, sqrt(${OracleDialect.dot("v", "v")}) AS nrm FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id >= 300 AND vec_id < 310),
         |p AS (SELECT q.q_id, n.vec_id AS neighbor_id,
         |    ${OracleDialect.dot("q.qv", "n.v")} / (q.qn * n.nrm) AS cosine
         |  FROM q, n WHERE n.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM p),
         |g AS (SELECT q_id,
         |    sum(CAST(floor(cosine * 1000000.0) AS BIGINT)) AS gt_micros
         |  FROM r WHERE rank <= 3 GROUP BY q_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(gt_micros) AS BIGINT) AS gt_sum_micros,
         |  CAST(1 AS BIGINT) AS recall_ok,
         |  CAST(1 AS BIGINT) AS never_better
         |FROM g""".stripMargin,

    // within_bound contract oracle (x01/v10b pattern): the exact
    // ground-truth half (query count, top-3 floor-micros cosine sum)
    // is computed symbolically; the PQ contract half is literal flags.
    "v11_pq_adc" ->
      s"""WITH e AS ($EMB),
         |n AS (SELECT vec_id, v, sqrt(${OracleDialect.dot("v", "v")}) AS nrm FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id >= 300 AND vec_id < 310),
         |p AS (SELECT q.q_id, n.vec_id AS neighbor_id,
         |    ${OracleDialect.dot("q.qv", "n.v")} / (q.qn * n.nrm) AS cosine
         |  FROM q, n WHERE n.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM p),
         |g AS (SELECT q_id,
         |    sum(CAST(floor(cosine * 1000000.0) AS BIGINT)) AS gt_micros
         |  FROM r WHERE rank <= 3 GROUP BY q_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(gt_micros) AS BIGINT) AS gt_sum_micros,
         |  CAST(1 AS BIGINT) AS recall_ok,
         |  CAST(1 AS BIGINT) AS never_better
         |FROM g""".stripMargin,

    // Same single-level-argmax oracle as v10: at w = nSup the sharded
    // path must reproduce it exactly, shard layout notwithstanding.
    "v10c_twolevel_sharded" ->
      s"""WITH e AS ($EMB),
         |n AS (SELECT vec_id, v, sqrt(${OracleDialect.dot("v", "v")}) AS nrm FROM e),
         |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 64),
         |p AS (SELECT n.vec_id, c.c_id,
         |    ${OracleDialect.dot("n.v", "c.cv")} / (n.nrm * c.cn) AS cos FROM n, c),
         |a AS (SELECT vec_id, c_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id) AS rn FROM p)
         |SELECT vec_id, c_id, cos AS c_cos FROM a WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // within_bound contract gate (the x01/c06b pattern): Spark computes
    // the multi-probe contracts in-query — exact-one-row-per-vector,
    // pointwise monotonicity in w, never-better-than-optimum, match
    // fraction over the floor — and the oracle pins the corpus count
    // plus literal 1 for every flag
    "v10b_twolevel_probe" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(1 AS BIGINT) AS frac_ok, CAST(1 AS BIGINT) AS monotone_ok,
        |  CAST(1 AS BIGINT) AS never_better
        |FROM embeddings""".stripMargin,

    // v10b's contract shape for the TRAINED-fine sharded path: the
    // trained book itself is not SQL-computable, so the oracle pins
    // the corpus count (a lost/duplicated vector anywhere in the
    // sharded pipeline shifts it) and literal 1 for each in-query
    // deterministic flag — w=2 match fraction over the floor, bit-exact
    // collapse to the single-level argmax at w = nSup, never-better.
    "v10d_sharded_trained" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(1 AS BIGINT) AS frac_ok, CAST(1 AS BIGINT) AS exact_at_full,
        |  CAST(1 AS BIGINT) AS never_better
        |FROM embeddings""".stripMargin,

    // v11's within_bound oracle verbatim (the d06/d07 shared-oracle
    // precedent): the exact ground-truth half is the SAME brute-force
    // top-3 over the same query set — IVFADC only changes HOW the
    // approximate side is computed, which lives in the literal flags.
    "v12_ivfadc" ->
      s"""WITH e AS ($EMB),
         |n AS (SELECT vec_id, v, sqrt(${OracleDialect.dot("v", "v")}) AS nrm FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id >= 300 AND vec_id < 310),
         |p AS (SELECT q.q_id, n.vec_id AS neighbor_id,
         |    ${OracleDialect.dot("q.qv", "n.v")} / (q.qn * n.nrm) AS cosine
         |  FROM q, n WHERE n.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM p),
         |g AS (SELECT q_id,
         |    sum(CAST(floor(cosine * 1000000.0) AS BIGINT)) AS gt_micros
         |  FROM r WHERE rank <= 3 GROUP BY q_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(gt_micros) AS BIGINT) AS gt_sum_micros,
         |  CAST(1 AS BIGINT) AS recall_ok,
         |  CAST(1 AS BIGINT) AS never_better
         |FROM g""".stripMargin,

    // the distributed serving path is row-identical to the driver
    // path (PqDistServeSpec), so the oracle is v12's verbatim too
    "v12c_ivfadc_dist" ->
      s"""WITH e AS ($EMB),
         |n AS (SELECT vec_id, v, sqrt(${OracleDialect.dot("v", "v")}) AS nrm FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id >= 300 AND vec_id < 310),
         |p AS (SELECT q.q_id, n.vec_id AS neighbor_id,
         |    ${OracleDialect.dot("q.qv", "n.v")} / (q.qn * n.nrm) AS cosine
         |  FROM q, n WHERE n.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM p),
         |g AS (SELECT q_id,
         |    sum(CAST(floor(cosine * 1000000.0) AS BIGINT)) AS gt_micros
         |  FROM r WHERE rank <= 3 GROUP BY q_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(gt_micros) AS BIGINT) AS gt_sum_micros,
         |  CAST(1 AS BIGINT) AS recall_ok,
         |  CAST(1 AS BIGINT) AS never_better
         |FROM g""".stripMargin,

    // the stream-assembled index changes only WHICH artifacts the
    // approximate side serves from — the exact ground-truth half (and
    // so the oracle) is v12's verbatim, with v12d's own floor living
    // Spark-side in the recall_ok derivation
    "v12d_ivfadc_streamed" ->
      s"""WITH e AS ($EMB),
         |n AS (SELECT vec_id, v, sqrt(${OracleDialect.dot("v", "v")}) AS nrm FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id >= 300 AND vec_id < 310),
         |p AS (SELECT q.q_id, n.vec_id AS neighbor_id,
         |    ${OracleDialect.dot("q.qv", "n.v")} / (q.qn * n.nrm) AS cosine
         |  FROM q, n WHERE n.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM p),
         |g AS (SELECT q_id,
         |    sum(CAST(floor(cosine * 1000000.0) AS BIGINT)) AS gt_micros
         |  FROM r WHERE rank <= 3 GROUP BY q_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(gt_micros) AS BIGINT) AS gt_sum_micros,
         |  CAST(1 AS BIGINT) AS recall_ok,
         |  CAST(1 AS BIGINT) AS never_better
         |FROM g""".stripMargin,

    // the trained-coarse recipe changes only HOW the approximate side
    // routes — the exact ground-truth half (and so the oracle) is
    // v12's verbatim (the v11/v12 shared-oracle precedent)
    "v12b_ivfadc_trained" ->
      s"""WITH e AS ($EMB),
         |n AS (SELECT vec_id, v, sqrt(${OracleDialect.dot("v", "v")}) AS nrm FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id >= 300 AND vec_id < 310),
         |p AS (SELECT q.q_id, n.vec_id AS neighbor_id,
         |    ${OracleDialect.dot("q.qv", "n.v")} / (q.qn * n.nrm) AS cosine
         |  FROM q, n WHERE n.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM p),
         |g AS (SELECT q_id,
         |    sum(CAST(floor(cosine * 1000000.0) AS BIGINT)) AS gt_micros
         |  FROM r WHERE rank <= 3 GROUP BY q_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(gt_micros) AS BIGINT) AS gt_sum_micros,
         |  CAST(1 AS BIGINT) AS recall_ok,
         |  CAST(1 AS BIGINT) AS never_better
         |FROM g""".stripMargin,

    // the planted clustered mixture is exact-arithmetic-reproducible
    // in SQL: integer-mod cluster id, one IEEE double add per element
    // (x + 0.0 elsewhere — both engines run the identical add), so the
    // oracle builds the SAME mixture and pins the exact ground-truth
    // half; the seed/trained comparison lives in the flags
    "v13_trained_clustered" ->
      s"""WITH e0 AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v0
         |  FROM embeddings),
         |e AS (SELECT vec_id,
         |    [v0[i] + CASE WHEN i - 1 = ((vec_id * 37) % 97) % 16
         |       THEN 1.0 ELSE 0.0 END for i in range(1, len(v0) + 1)] AS v
         |  FROM e0),
         |n AS (SELECT vec_id, v, sqrt(${OracleDialect.dot("v", "v")}) AS nrm FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id >= 300 AND vec_id < 330),
         |p AS (SELECT q.q_id, n.vec_id AS neighbor_id,
         |    ${OracleDialect.dot("q.qv", "n.v")} / (q.qn * n.nrm) AS cosine
         |  FROM q, n WHERE n.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM p),
         |g AS (SELECT q_id,
         |    sum(CAST(floor(cosine * 1000000.0) AS BIGINT)) AS gt_micros
         |  FROM r WHERE rank <= 3 GROUP BY q_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(gt_micros) AS BIGINT) AS gt_sum_micros,
         |  CAST(1 AS BIGINT) AS recall_ok,
         |  CAST(1 AS BIGINT) AS trained_beats_seed,
         |  CAST(1 AS BIGINT) AS never_better
         |FROM g""".stripMargin,

    // the EXACT halves: the split counts and the probe_fired threshold
    // from corpus arithmetic, and the PINNED PRE-REBUILD reader's full
    // serving result (v02's seed-book plan over the whole corpus —
    // build and appends route under the same frozen book, so the
    // artifact's assignment is exactly the inline assign CTE); the
    // trained post-rebuild halves are the v13-style flag contract
    "v14_maintenance_loop" ->
      s"""WITH e AS ($EMB),
         |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
         |assign AS (SELECT vec_id, c_id, v FROM (
         |    SELECT e.vec_id, c.c_id, e.v,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id) AS rn
         |    FROM e, c) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 100 AND vec_id < 110),
         |probes AS (SELECT q_id, c_id FROM (
         |    SELECT q.q_id, c.c_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.c_id) AS rn
         |    FROM q, c) WHERE rn <= 2),
         |cand AS (SELECT q.q_id, a.vec_id AS neighbor_id, q.qv, a.v
         |  FROM q JOIN probes p ON q.q_id = p.q_id JOIN assign a ON a.c_id = p.c_id
         |  WHERE a.vec_id <> q.q_id),
         |scored AS (SELECT q_id, neighbor_id, ${cosSql("cand.qv", "cand.v")} AS cosine FROM cand),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored),
         |pre AS (SELECT CAST(count(*) AS BIGINT) AS pre_rows,
         |    CAST(sum(CAST(floor(cosine * 1000000.0) AS BIGINT)) AS BIGINT) AS pre_sum_micros
         |  FROM r WHERE rank <= 3),
         |cn AS (SELECT
         |    CAST((SELECT count(*) FROM e
         |      WHERE vec_id <= (SELECT (max(vec_id) * 6) // 10 FROM e)) AS BIGINT) AS n_frozen,
         |    CAST((SELECT count(*) FROM e) AS BIGINT) AS n_now)
         |SELECT cn.n_frozen, cn.n_now,
         |  CAST(CASE WHEN CAST(cn.n_now - cn.n_frozen AS DOUBLE) / cn.n_now > 0.25
         |    THEN 1 ELSE 0 END AS BIGINT) AS probe_fired,
         |  pre.pre_rows, pre.pre_sum_micros,
         |  CAST(1 AS BIGINT) AS probe_cleared,
         |  CAST(1 AS BIGINT) AS post_recall_ok,
         |  CAST(1 AS BIGINT) AS never_better
         |FROM cn, pre""".stripMargin,

    // v15: the pinned pre-stream reader serves the BOOTSTRAP HALF under
    // the seed book — the assign CTE restricts to vec_id <= cut (the
    // one delta from v14's oracle, whose pinned reader resolved after
    // the appends); every arithmetic step mirrors the Spark serving
    // tree node for node. Policy/steady/recall flags are the oracle's
    // literal 1s — a firing regression, a second rebuild, a steady-
    // state drift excursion, or a recall-floor breach flips the Spark
    // side and breaks the hash.
    "v15_streaming_maintenance" ->
      s"""WITH e AS ($EMB),
         |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
         |ct AS (SELECT max(vec_id) // 2 AS cut FROM e),
         |assign AS (SELECT vec_id, c_id, v FROM (
         |    SELECT e.vec_id, c.c_id, e.v,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id) AS rn
         |    FROM e, c, ct WHERE e.vec_id <= ct.cut) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 100 AND vec_id < 110),
         |probes AS (SELECT q_id, c_id FROM (
         |    SELECT q.q_id, c.c_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.c_id) AS rn
         |    FROM q, c) WHERE rn <= 2),
         |cand AS (SELECT q.q_id, a.vec_id AS neighbor_id, q.qv, a.v
         |  FROM q JOIN probes p ON q.q_id = p.q_id JOIN assign a ON a.c_id = p.c_id
         |  WHERE a.vec_id <> q.q_id),
         |scored AS (SELECT q_id, neighbor_id, ${cosSql("cand.qv", "cand.v")} AS cosine FROM cand),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored),
         |pre AS (SELECT CAST(count(*) AS BIGINT) AS pre_rows,
         |    CAST(sum(CAST(floor(cosine * 1000000.0) AS BIGINT)) AS BIGINT) AS pre_sum_micros
         |  FROM r WHERE rank <= 3),
         |cn AS (SELECT
         |    CAST((SELECT count(*) FROM e, ct WHERE vec_id <= ct.cut) AS BIGINT) AS n_bootstrap,
         |    CAST((SELECT count(*) FROM e) AS BIGINT) AS n_final)
         |SELECT cn.n_bootstrap, cn.n_final,
         |  CAST(1 AS BIGINT) AS rebuild_fired,
         |  CAST(1 AS BIGINT) AS one_rebuild,
         |  pre.pre_rows, pre.pre_sum_micros,
         |  CAST(1 AS BIGINT) AS steady_below_threshold,
         |  CAST(1 AS BIGINT) AS post_recall_ok,
         |  CAST(1 AS BIGINT) AS never_better
         |FROM cn, pre""".stripMargin
  )
}
