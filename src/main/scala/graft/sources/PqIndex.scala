package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted product-quantization artifact (r14, verdict ask #2) —
  * v11/v12's code relation and codebook as an on-disk index instead of
  * an in-query projection.
  *
  * At 100 TB the PQ code relation (m bytes/vector — 16 B at the
  * shipped dial, 32× under the float64 relation) IS the index you
  * keep: training and encoding are paid ONCE at build time, and every
  * query reads only `(vec_id, pq)` — the same narrow-artifact argument
  * as [[I8Index]], 4× smaller again. Re-training per query (v11's
  * in-query form) is a gate convenience, not the production path.
  *
  * Layout: codes at `path` — written `partitionBy("c_id")` when the
  * relation carries a coarse-list column (the IVFADC form: a probe of
  * `nprobe` lists then reads only those directories, the
  * [[IvfIndex]] pruning story at PQ-code granularity), plain parquet
  * otherwise (the flat v11 form). The same artifact carries, under one
  * manifest ([[AtomicSwap.writeParts]]), a single-row `codebook` part
  * `(m, k, cb, cents, cids)` — `cents` is the flat unit coarse-centroid
  * array for residual (IVFADC) codebooks, empty for direct ones — the
  * one-row frozen count `stats`, and for IVFADC builds the raw coarse
  * book `coarse`. Parquet doubles round-trip bit-exact, so
  * encoding against a LOADED codebook reproduces the build's codes
  * (PqIndexSpec pins the round-trip and loaded-vs-fresh row equality).
  */
object PqIndex {

  /** Persist a code relation together with its codebook and params,
    * published once. `cents`/`cids` (the flat unit coarse-centroid
    * array and the c_ids in the same dense order) are carried for
    * IVFADC indexes so the SERVING path can route queries without
    * touching the embeddings' own centroid derivation; both empty for
    * direct (flat) indexes. `coarse`, the raw coarse book `(c_id, cv,
    * cn)` — not just the unit form the serving LUTs need — lets
    * INCREMENTAL ADDS reproduce the build's assignment argmax
    * bit-for-bit (same IEEE sequence as the build: dot(v, cv)/(nrm·cn)).
    */
  def write(codes: DataFrame, cb: Array[Double], m: Int, k: Int,
      path: String, cents: Array[Double] = Array.empty,
      cids: Array[Long] = Array.empty, coarse: Option[DataFrame] = None): Unit = {
    require(m > 0 && k > 0 && cb.length % (m * k) == 0,
      s"PqIndex.write: codebook shape mismatch (${cb.length} values, m=$m, k=$k)")
    require(cids.isEmpty == cents.isEmpty,
      "PqIndex.write: cents and cids must be provided together")
    val spark = codes.sparkSession
    // partitioned writes fan every task into every directory (measured
    // 5120 files for a 256-list 200k-row build — 20 tiny files per
    // list); repartitioning on the partition column first costs one
    // build-time shuffle and leaves ONE well-formed file per list, so
    // a probe opens nprobe files instead of nprobe × tasks
    import spark.implicits._
    val parts = Seq[(String, String => Unit)](
      AtomicSwap.Main -> (gen =>
        if (codes.columns.contains("c_id")) IvfIndex.writeLists(codes, gen)
        else codes.write.mode("overwrite").parquet(gen)),
      "codebook" -> (gen => Seq((m, k, cb.toSeq, cents.toSeq, cids.toSeq))
        .toDF("m", "k", "cb", "cents", "cids")
        .repartition(1).write.mode("overwrite").parquet(gen)),
      // one-row FROZEN code count (r17) — the [[driftProbe]] baseline;
      // appends never rewrite it (the BmIndex `stats` convention)
      "stats" -> (gen => codes.agg(count(lit(1)).as("n_codes"))
        .repartition(1).write.mode("overwrite").parquet(gen))) ++
      coarse.map(c => "coarse" -> ((gen: String) => c.select("c_id", "cv", "cn")
        .repartition(1).write.mode("overwrite").parquet(gen)))
    AtomicSwap.writeParts(spark, path)(parts: _*)
  }

  /** Staleness probe for a maintained PQ/IVFADC index (r17 —
    * [[IvfIndex.driftProbe]] at code granularity): one row
    * `(n_frozen, n_now, appended_frac[, n_lists, max_list, mean_list,
    * list_skew])` — the list metrics only for the partitioned IVFADC
    * form. The PQ codebook AND the coarse routing book are frozen at
    * build, so appended volume decays BOTH quantization fit (codes of
    * new vectors quantize against sub-codebooks trained on the build
    * corpus) and routing balance; appended_frac is the budget for
    * each. Reads only (a constant column of) the narrow code relation
    * plus the one-row frozen count — never the embeddings.
    */
  def driftProbe(spark: SparkSession, path: String): DataFrame = {
    val codes = read(spark, path)
    val frozen = spark.read.parquet(AtomicSwap.dataDir(spark, path, "stats"))
    if (codes.columns.contains("c_id")) IvfIndex.listDrift(frozen, "n_codes", codes)
    else {
      frozen.crossJoin(codes.agg(count(lit(1)).as("n_now")))
        .select(col("n_codes").as("n_frozen"), col("n_now"),
          ((col("n_now") - col("n_codes")).cast("double") / col("n_now"))
            .as("appended_frac"))
    }
  }

  /** The persisted code relation. Partition-directory type inference
    * parses `c_id=N` as INT; cast back to the relation's BIGINT.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(AtomicSwap.dataDir(spark, path))
    if (df.columns.contains("c_id")) df.withColumn("c_id", col("c_id").cast("long"))
    else df
  }

  /** The persisted codebook: (cb, m, k, cents, cids). */
  def codebook(spark: SparkSession, path: String)
      : (Array[Double], Int, Int, Array[Double], Array[Long]) = {
    val r = spark.read.parquet(AtomicSwap.dataDir(spark, path, "codebook")).head()
    (r.getAs[Seq[Double]]("cb").toArray, r.getAs[Int]("m"), r.getAs[Int]("k"),
      r.getAs[Seq[Double]]("cents").toArray, r.getAs[Seq[Long]]("cids").toArray)
  }

  /** The raw coarse routing book `(c_id, cv, cn)` of an IVFADC index. */
  def coarse(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(AtomicSwap.dataDir(spark, path, "coarse"))

  /** Rewrite the code relation back to one file per list (r15 — the
    * maintenance companion to `appendToIvfAdcIndex`, PpIndex.compact's
    * story for the partitioned tier): every append adds a file into
    * each touched `c_id=` directory, so after many deltas a probe
    * opens nprobe × appends files instead of nprobe. Rows are
    * untouched and the other parts are carried over. Reader-safe and
    * writer-serialized like [[BmIndex.compact]].
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val snap = read(spark, path)
    if (snap.columns.contains("c_id")) IvfIndex.write(snap, path)
    else AtomicSwap.writeGen(spark, path)(snap.write.mode("overwrite").parquet(_))
  }
}
