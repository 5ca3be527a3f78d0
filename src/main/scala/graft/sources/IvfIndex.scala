package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index layout — the ANN scale path that
  * [[graft.queries.Similarity]] v02 computes inline at query time.
  *
  * The centroid-assignment relation is written `partitionBy("c_id")`,
  * one directory per centroid, so a probe of `nprobe` centroids reads
  * exactly `nprobe / nlist` of the files: static partition pruning at
  * the directory level, visible as `PartitionFilters` in the scan plan
  * and proven at execution level by `IvfIndexSpec` (every file a probe
  * touches lives under a probed `c_id=` directory).
  *
  * `partitionBy`, not `bucketBy`, deliberately: a probe's win is
  * PRUNING (read less), not shuffle co-location; `nlist` is modest
  * (16–4096) so one directory per centroid stays healthy at any data
  * scale — each directory just holds more files — and `bucketBy` would
  * additionally require a metastore table. At 100 TB, rebuilding the
  * index is one hash-distributed `partitionBy` write of the assignment
  * relation (one shuffle on `c_id`, bought deliberately: it is paid
  * once at build, where the bare write's input-partitions × nlist file
  * splinter would be paid by every probe forever); incremental adds
  * append into the matching directories.
  */
object IvfIndex {

  /** Persist an assignment relation (must carry a `c_id` column) as
    * the artifact's main part alone ([[AtomicSwap.writeGen]]) — also
    * the IVF and PQ (IVFADC) compact's rewrite.
    */
  def write(assign: DataFrame, path: String, retain: Int = 1): Unit =
    AtomicSwap.writeGen(assign.sparkSession, path, retain)(writeLists(assign, _))

  /** Write `rows` (carrying `c_id`) as a list-partitioned generation
    * directory: hash-distributed on `c_id` first (r21), so each `c_id=`
    * directory gets one file instead of one per input partition — bare
    * partitionBy leaves input-partitions × nlist tiny files that every
    * later probe, drift scan and ingest anti-join re-lists and
    * re-opens. Shared by the IVF and PQ (IVFADC) build and compact
    * paths.
    */
  private[sources] def writeLists(rows: DataFrame, gen: String): Unit =
    rows.repartition(col("c_id"))
      .write.mode("overwrite").partitionBy("c_id").parquet(gen)

  /** The drift reading of a list-partitioned relation `rows` against
    * its one-row frozen count (column `frozenCount` of `frozen`):
    * `(n_frozen, n_now, appended_frac, n_lists, max_list, mean_list,
    * list_skew)` — shared by the IVF and PQ (IVFADC) drift probes.
    */
  private[sources] def listDrift(frozen: DataFrame, frozenCount: String,
      rows: DataFrame): DataFrame =
    frozen.crossJoin(rows.groupBy("c_id").agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("n_now"), count(lit(1)).as("n_lists"),
          max(col("n")).as("max_list"),
          (sum(col("n")).cast("double") / count(lit(1))).as("mean_list")))
      .select(col(frozenCount).as("n_frozen"), col("n_now"),
        ((col("n_now") - col(frozenCount)).cast("double") / col("n_now"))
          .as("appended_frac"),
        col("n_lists"), col("max_list"), col("mean_list"),
        (col("max_list").cast("double") / col("mean_list")).as("list_skew"))

  /** Persist an assignment relation TOGETHER with the codebook that
    * produced it (r12) as one artifact: the partitioned vectors, the
    * nlist-row `codebook` part needed to route new queries/vectors into
    * them, and the one-row FROZEN corpus count `stats` (r17 — the
    * [[driftProbe]] baseline; appends never rewrite it, the BmIndex
    * convention). One manifest publish commits all three, so a
    * rebuild-over-live never pairs new lists with an old codebook, and
    * `retain` ages the parts together (r20, ADVICE): a reader pinned
    * before rebuild N keeps its codebook and stats as long as its data
    * files.
    */
  def writeWithCodebook(assign: DataFrame, cents: DataFrame, path: String,
      retain: Int = 1): Unit =
    AtomicSwap.writeParts(assign.sparkSession, path, retain)(
      AtomicSwap.Main -> (gen => writeLists(assign, gen)),
      "codebook" -> (gen => cents.select("c_id", "cv", "cn").repartition(1)
        .write.mode("overwrite").parquet(gen)),
      "stats" -> (gen => assign.agg(count(lit(1)).as("n_vecs")).repartition(1)
        .write.mode("overwrite").parquet(gen)))

  /** Staleness probe for a maintained IVF index (r17 — the
    * [[BmIndex.driftProbe]] companion for the vector family): one row
    * `(n_frozen, n_now, appended_frac, n_lists, max_list, mean_list,
    * list_skew)` a maintenance job can threshold for WHEN "rebuild
    * when routing decays" fires. Appended vectors route under the
    * BUILD-frozen codebook, so as appended volume grows the frozen
    * centroids drift off the true cluster means two ways a rebuild
    * would fix: probes read ever-larger lists (mean_list grows with
    * appended_frac — nprobe/nlist of MORE rows per query), and
    * placement skews toward the lists the frozen book happens to favor
    * for the new data (list_skew = max/mean rises). Reads only the
    * partition column of the assignment relation plus the one-row
    * frozen count — never the vectors.
    */
  def driftProbe(spark: SparkSession, path: String): DataFrame =
    listDrift(spark.read.parquet(AtomicSwap.dataDir(spark, path, "stats")),
      "n_vecs", read(spark, path))

  /** The persisted codebook `(c_id, cv, cn)` — parquet doubles
    * round-trip bit-exact, so assignment against a loaded codebook
    * reproduces the build's assignment (IvfPersistSpec).
    */
  def codebook(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(AtomicSwap.dataDir(spark, path, "codebook"))

  /** The full persisted assignment relation. Partition-directory type
    * inference parses `c_id=N` as INT; cast back to the relation's
    * BIGINT so readers see the written schema.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(AtomicSwap.dataDir(spark, path))
      .withColumn("c_id", col("c_id").cast("long"))

  /** Read only the probed centroids' partitions. */
  def probe(spark: SparkSession, path: String, centroidIds: Seq[Long]): DataFrame =
    read(spark, path).filter(col("c_id").isin(centroidIds: _*))

  /** Persist the TWO-LEVEL layout (r13) as one artifact of two parts:
    * `fine`, the fine codebook tagged with its shard id and written
    * `partitionBy(s_id)` — a probe of `w` shards reads only those
    * shards' directories, the same pruning story the single-level index
    * gets from c_id — and `supers`, the nSup-row super layer.
    */
  def writeTwoLevel(fine: DataFrame, supers: DataFrame, path: String): Unit =
    AtomicSwap.writeParts(fine.sparkSession, path)(
      // ONE file per shard directory (r20, optimization guide §6): the
      // fine codebook is nlist rows — without the repartition every
      // input partition opened a dynamic-partition writer per shard it
      // touched (input-partitions × shards tiny files; profiled as the
      // dominant stage of the two-level gates, 32 tasks of file-commit
      // wait for a 16-row relation). Probes read whole shards, so one
      // sorted file per `s_id=` directory is the layout they want at
      // any scale.
      "fine" -> (gen => fine.select("c_id", "cv", "cn", "s_id")
        .repartition(col("s_id"))
        .write.mode("overwrite").partitionBy("s_id").parquet(gen)),
      "supers" -> (gen => supers.select("s_id", "sv", "sn").repartition(1)
        .write.mode("overwrite").parquet(gen)))

  /** The persisted super layer `(s_id, sv, sn)` — √nlist rows. */
  def supers(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(AtomicSwap.dataDir(spark, path, "supers"))

  /** The persisted sharded fine codebook `(c_id, cv, cn, s_id)`;
    * partition-directory inference parses `s_id=N` as INT — cast back.
    */
  def fineShards(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(AtomicSwap.dataDir(spark, path, "fine"))
      .withColumn("s_id", col("s_id").cast("long"))

  /** Rewrite the assignment relation back to one file per `c_id=`
    * directory (r16, verdict ask #2 — the missing half of the
    * maintenance story behind `appendToIvfIndex`: every append adds a
    * file into each touched list directory, so after many deltas a
    * probe opens nprobe × appends files instead of nprobe). Rows are
    * untouched and the codebook part is carried over, not rewritten
    * (IvfPersistSpec pins row identity and the file-count collapse).
    * Reader-safe and writer-serialized like [[BmIndex.compact]].
    */
  def compact(spark: SparkSession, path: String, retain: Int = 1): Unit =
    write(read(spark, path), path, retain)
}
