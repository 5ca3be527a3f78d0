package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted, BUCKETED layout for the PPJoin base relation
  * (`doc_id, s, rk, n` — the df-capped shingle-fingerprint index with
  * per-doc global-order ranks that [[graft.queries.Dedup]]'s d02
  * builds) — the production analogue of the session-shared
  * `ppjoin_base` silver tier, completing the [[BandIndex]] treatment
  * for the similarity-join family.
  *
  * The expensive half of a repeated Jaccard self-join is the CANDIDATE
  * join: prefix rows equi-joined on the fingerprint `s`. Bucketing the
  * base on `s` makes that self-join a zero-exchange SortMergeJoin —
  * both sides read pre-partitioned and pre-sorted (PpIndexSpec pins no
  * Exchange in the candidate subtree) — so a re-run against a 100 TB
  * corpus pays scan + merge, never the index reshuffle. (The verify
  * join's left-semi restriction re-keys on doc_id and reshuffles
  * regardless of storage — inherent to the counting formulation, and
  * proportional to candidates, not the corpus.)
  *
  * r15: the index is MAINTAINABLE, not rebuild-only — [[append]] adds
  * new docs' rows into the bucketed layout, and the `df` part written
  * by [[writeWithDf]] freezes the build-time document frequencies so
  * appended docs rank under the build's prefix order (the correctness
  * of that contract lives in [[graft.queries.Dedup.appendToPpIndex]]).
  *
  * r17: reader-safe maintenance — the [[AtomicSwap]] generation-
  * manifest pattern applied to a CATALOG artifact. The live data is a
  * generation TABLE per part — `<table>_gN` for the base, `<table>_<part>_gK`
  * for a named part — and ONE tiny rename-committed pointer
  * (`<warehouse>/<table>_ptr/mf-K`, content = the live table of each
  * part) is the commit, so a build publishes its base and df tables
  * together. Compact builds `_g(N+1)` beside the live table,
  * publishes the pointer, and drops only generations OLDER than N —
  * so a reader that resolved the pre-compact table keeps complete,
  * untouched files for one full compaction cycle (the same
  * snapshot-expiry contract as the parquet index families), instead
  * of the old drop-and-rename swap moving its files mid-scan. A name
  * with no pointer was never built: [[read]], [[readDf]], [[append]]
  * and [[compact]] fail loudly on it.
  */
object PpIndex {

  private def ptrRoot(spark: SparkSession, table: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), table + "_ptr")

  /** The live generation table of each part, if the pointer layout is
    * in use (the newest committed pointer file's content).
    */
  private def current(spark: SparkSession, table: String): Option[Map[String, String]] = {
    val root = ptrRoot(spark, table)
    AtomicSwap.current(AtomicSwap.fsOf(spark, root.toString), root)
  }

  /** The name prefix of `part`'s generation tables. */
  private def genPrefix(table: String, part: String): String =
    if (part == AtomicSwap.Main) s"${table}_g" else s"${table}_${part}_g"

  private def genNum(prefix: String, name: String): Option[Int] =
    if (name.startsWith(prefix)) name.stripPrefix(prefix).toIntOption else None

  /** Generation numbers of the tables named `prefix<N>` that have a
    * warehouse directory (strays from crashed builds included — a
    * fresh JVM's in-memory catalog forgets tables, their dirs don't).
    */
  private def genDirs(spark: SparkSession, prefix: String): Seq[Int] = {
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.listStatus(wh).toSeq.filter(_.isDirectory)
      .flatMap(s => genNum(prefix, s.getPath.getName))
    else Seq.empty
  }

  /** Publish `live` (part → table) as the pointer's content — the
    * commit point of build/append/compact (tmp-write + rename, via the
    * AtomicSwap manifest mechanics).
    */
  private def publish(spark: SparkSession, table: String,
      live: Map[String, String]): Unit = {
    val root = ptrRoot(spark, table)
    val fs = AtomicSwap.fsOf(spark, root.toString)
    fs.mkdirs(root)
    AtomicSwap.publish(fs, root, live)
  }

  /** The catalog twin of [[AtomicSwap.writeParts]]: write a NEW
    * generation table of each of `parts` of the logical artifact
    * `logical` and make them live together. `write` receives the next
    * free table name of each part (one past every generation directory
    * and the pointer) and must save a complete table under each; the
    * ONE pointer publish is the commit, and it carries the live tables
    * of the parts not rewritten. Per rewritten part, the previous
    * generation survives one cycle for open readers; older ones and
    * crash strays (catalog entry AND warehouse dir — strays may have
    * either without the other) are dropped.
    */
  private def writeGen(spark: SparkSession, logical: String, parts: String*)(
      write: Map[String, String] => Unit): Unit = {
    val prev = current(spark, logical).getOrElse(Map.empty)
    // per part: table-name prefix, live generation, next generation
    val gens = parts.map { part =>
      val prefix = genPrefix(logical, part)
      val live = prev.get(part).flatMap(genNum(prefix, _))
      (part, prefix, live, (genDirs(spark, prefix) ++ live :+ -1).max + 1)
    }
    val names = gens.map { case (part, prefix, _, k) => part -> s"$prefix$k" }.toMap
    names.values.foreach(resetTable(spark, _)) // strays from a crashed build
    write(names)
    publish(spark, logical, prev ++ names)
    for ((_, prefix, live, k) <- gens; g <- genDirs(spark, prefix).toSet -- live - k)
      resetTable(spark, s"$prefix$g")
  }

  /** The live generation table of `part` of the logical artifact
    * `table`. With no pointer nothing was ever built there: fail loudly
    * rather than serve, or append into, a pointer-less table.
    */
  private def liveTable(spark: SparkSession, table: String,
      part: String = AtomicSwap.Main): String =
    current(spark, table).flatMap(_.get(part)).getOrElse(
      throw new IllegalStateException(s"PpIndex: no generation of $table " +
        s"(part '$part') is published at ${ptrRoot(spark, table)} — build " +
        "it with write/writeWithDf first"))

  /** Bucket count for a NEW layout (a [[write]] without `buckets`):
    * the session's shuffle-partition dial (r20, optimization guide §2
    * — partitioning derives from the parameterized dial, not a frozen
    * constant: `bucketBy(8)` capped the zero-exchange candidate
    * self-join at 8 tasks REGARDLESS of cluster width; production sets
    * `spark.sql.shuffle.partitions` to cluster width and gets a
    * matching bucket count, the bench runner sets it to
    * `$SPARK_GRAFT_CPUS`). Appends and compacts never choose — they
    * read the LIVE table's recorded spec ([[liveBuckets]]), so a mixed
    * layout is unconstructible.
    */
  private def sessionBuckets(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** Rows per bucket below which extra buckets are pure overhead: the
    * bucket count doubles as the candidate self-join's parallelism, so
    * at scale it should track cluster width (the session dial) — but an
    * untuned session (Spark's default 200 partitions) building a small
    * corpus would otherwise produce hundreds of near-empty bucket files
    * and a 200-task merge join over them (r20 ADVICE). A base row is
    * ~24 bytes; 64k rows ≈ 1.5 MB before compression, the floor where
    * a bucket stops being worth its per-file + per-task cost.
    */
  private val RowsPerBucket = 64L << 10

  /** Scale-adaptive bucket count for a NEW layout when the builder
    * knows the base row count: cluster width (the parameterized dial)
    * clamped so no bucket falls below [[RowsPerBucket]] — at 100 TB the
    * row term is astronomically larger than any dial and the width
    * wins; at fixture scale the clamp keeps the layout a handful of
    * well-formed files instead of `shuffle.partitions` splinters.
    */
  def adaptiveBuckets(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(sessionBuckets(spark).toLong,
      (rows + RowsPerBucket - 1) / RowsPerBucket)).toInt

  /** The live generation's recorded bucket count — the only source
    * of the layout for [[append]] and [[compact]].
    */
  private def liveBuckets(spark: SparkSession, name: String): Int = {
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      .bucketSpec
    require(spec.isDefined, s"PpIndex: $name has no bucket spec")
    spec.get.numBuckets
  }

  /** Persist a PPJoin base relation bucketed + sorted on the
    * fingerprint join key as a NEW generation ([[writeGen]]). `buckets`
    * (default: the session dial, [[sessionBuckets]]) fixes the layout
    * every later [[append]] and [[compact]] of this generation keeps.
    */
  def write(base: DataFrame, table: String, buckets: Int = 0): Unit = {
    val n = if (buckets > 0) buckets else sessionBuckets(base.sparkSession)
    writeGen(base.sparkSession, table, AtomicSwap.Main)(names =>
      writeBase(base, names(AtomicSwap.Main), n))
  }

  private def writeBase(base: DataFrame, name: String, buckets: Int): Unit =
    Bucketing.writeBucketed(base.select("doc_id", "s", "rk", "n"), name, "s", buckets)

  /** Persist a base TOGETHER with the BUILD-time per-fingerprint
    * document frequency `dfAll` — every fp seen at build, capped and
    * uncapped alike (the base alone can't recover the dropped fps, and
    * appends must keep dropping them) — as one generation published
    * once: the df part is frozen across appends, and a rebuild replaces
    * both or neither. The df table is written first: the base's exact
    * row count is Σ df over df ≤ `maxDf` (exactly the rows the capped
    * ranking writes), so one aggregate over the just-written,
    * unpublished two-column table sizes the bucketed layout from the
    * DATA (r21, r20 ADVICE — [[adaptiveBuckets]]) with zero extra
    * passes over the heavy exploded relation `base` derives from.
    */
  def writeWithDf(base: DataFrame, dfAll: DataFrame, table: String,
      maxDf: Long): Unit = {
    import org.apache.spark.sql.functions._
    val spark = base.sparkSession
    writeGen(spark, table, AtomicSwap.Main, "df") { names =>
      dfAll.select("s", "df").write.mode("overwrite")
        .format("parquet").saveAsTable(names("df"))
      val kept = spark.table(names("df")).filter(col("df") <= maxDf)
        .agg(coalesce(sum(col("df")), lit(0L))).head().getLong(0)
      writeBase(base, names(AtomicSwap.Main), adaptiveBuckets(spark, kept))
    }
  }

  /** Drop `table` AND delete its leftover warehouse directory — an
    * in-query build must survive a fresh JVM whose in-memory catalog
    * has no entry for the directory (saveAsTable would otherwise fail
    * LOCATION_ALREADY_EXISTS).
    */
  private def resetTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
  }

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(liveTable(spark, table))

  def readDf(spark: SparkSession, table: String): DataFrame =
    spark.table(liveTable(spark, table, "df"))

  /** Staleness probe for a maintained PPJoin index (r20, verdict ask
    * #3 — the one-row health reading every other persisted family
    * carries, [[BmIndex.driftProbe]]'s shape for the catalog tier):
    * one row a maintenance job can threshold for WHEN "rebuild when
    * filter power drifts past budget" fires ([[graft.queries.Dedup
    * .appendToPpIndex]] documents the decay; the d02c/d02d gates name
    * this probe as their rebuild trigger). Columns:
    *
    *  - `n_rows_frozen` / `n_rows_now` / `appended_frac` — appended
    *    shingle MASS vs the build: the build-time base size is
    *    recoverable from the frozen `df` part alone
    *    (Σ df over df ≤ `maxDf` — exactly the rows the capped build
    *    wrote), so the volume reading needs no build-time snapshot.
    *  - `new_fp_frac` — the fraction of current base rows whose
    *    fingerprint the BUILD NEVER SAW (ranked at the df=0 rarest
    *    slot, always in prefixes): appended-vocabulary drift, the
    *    sliver where the frozen order is blindest.
    *  - `dropped_mass_frac_frozen` — the df-cap's BUILD-time coverage:
    *    Σ df over df > `maxDf` / Σ df, from the frozen part. Cap
    *    behavior is corpus-shaped (measured 1.0% of shingle mass
    *    dropped on the synthetic-dup corpus vs 30.9% on 600-token
    *    Zipf text — BENCHNOTES r19 longsalt), so the probe reports it
    *    rather than assuming it.
    *  - `crossed_mass_frac` / `max_df_now` — the MASS of current base
    *    rows in posting lists whose CURRENT df exceeds the cap: these
    *    lists grew past the cap through appends, so they are both the
    *    candidate-cost hot spot (filter-power decay) and exactly the
    *    rows where append != rebuild (the divergence budget —
    *    [[graft.queries.Dedup.ppIndexDrift]] counts the same crossing
    *    per-FINGERPRINT; this is the row-mass view).
    *
    * Reads only the base's `s` column (one aggregation) and the
    * two-column `df` part — never shingles, never the corpus.
    */
  def driftProbe(spark: SparkSession, table: String, maxDf: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val frozen = readDf(spark, table)
    val frozenAgg = frozen.agg(
      sum(when(col("df") <= maxDf, col("df")).otherwise(0L)).as("n_rows_frozen"),
      sum(col("df")).as("mass_frozen"),
      sum(when(col("df") > maxDf, col("df")).otherwise(0L)).as("dropped_frozen"))
    val nowPer = read(spark, table).groupBy("s")
      .agg(count(lit(1)).as("df_now"))
      .join(frozen.select(col("s"), lit(1).as("seen")), Seq("s"), "left")
    val nowAgg = nowPer.agg(
      sum(col("df_now")).as("n_rows_now"),
      sum(when(col("seen").isNull, col("df_now")).otherwise(0L)).as("new_fp_rows"),
      sum(when(col("df_now") > maxDf, col("df_now")).otherwise(0L)).as("crossed_rows"),
      max(col("df_now")).as("max_df_now"))
    // empty guards (the ppIndexDrift r17 lesson): sums over an empty
    // relation are NULL, and a maintenance job thresholding a NULL
    // fraction would silently never fire
    frozenAgg.crossJoin(nowAgg).select(
      coalesce(col("n_rows_frozen"), lit(0L)).as("n_rows_frozen"),
      coalesce(col("n_rows_now"), lit(0L)).as("n_rows_now"),
      when(coalesce(col("n_rows_now"), lit(0L)) > 0,
        (col("n_rows_now") - coalesce(col("n_rows_frozen"), lit(0L)))
          .cast("double") / col("n_rows_now"))
        .otherwise(lit(0.0)).as("appended_frac"),
      when(coalesce(col("n_rows_now"), lit(0L)) > 0,
        coalesce(col("new_fp_rows"), lit(0L)).cast("double") / col("n_rows_now"))
        .otherwise(lit(0.0)).as("new_fp_frac"),
      when(coalesce(col("mass_frozen"), lit(0L)) > 0,
        coalesce(col("dropped_frozen"), lit(0L)).cast("double") / col("mass_frozen"))
        .otherwise(lit(0.0)).as("dropped_mass_frac_frozen"),
      when(coalesce(col("n_rows_now"), lit(0L)) > 0,
        coalesce(col("crossed_rows"), lit(0L)).cast("double") / col("n_rows_now"))
        .otherwise(lit(0.0)).as("crossed_mass_frac"),
      coalesce(col("max_df_now"), lit(0L)).as("max_df_now"))
  }

  /** Append pre-ranked base rows into the live generation with the
    * SAME bucket spec as [[write]] — each append adds one file per
    * touched bucket, then bumps the pointer (the durable record that
    * the append committed). Returns the number of rows appended,
    * counted by the write itself ([[AtomicSwap.countedWrite]]); an
    * empty append writes no file and bumps nothing. Bucket pruning and
    * the exchange-free candidate self-join survive appends (bucket
    * membership is a function of `s` alone); per-bucket SORTEDNESS
    * does not (Spark only claims sort order for single-file buckets),
    * so post-append plans carry in-partition Sorts — still zero
    * shuffle (PpAppendSpec).
    */
  def append(rows: DataFrame, spark: SparkSession, table: String): Long = {
    val resolved = current(spark, table)
    val live = liveTable(spark, table)
    // the LIVE layout's count (r20): an append must match the build's
    // spec whatever dial the build ran under
    val n = liveBuckets(spark, live)
    // repartition on the bucket key (r20, the writeBucketed argument):
    // one file per TOUCHED bucket per append, instead of one per
    // (input partition × touched bucket)
    val wrote = AtomicSwap.countedWrite(rows.select("doc_id", "s", "rk", "n")
        .repartition(n, org.apache.spark.sql.functions.col("s")))(
      _.write.mode("append")
        .format("parquet").bucketBy(n, "s").sortBy("s")
        .saveAsTable(live))
    if (wrote > 0) {
      // the pointer bump commits against the generation the append wrote
      // into — a compact that raced this append would have snapshotted
      // the pre-append table and the NEXT compact drops it, losing the
      // appended rows silently; writers (append vs compact) must be
      // serialized, and a violation fails loudly here (r18, ADVICE —
      // the BmIndex/commitAppend contract applied to the catalog tier)
      val cur = current(spark, table)
      require(cur == resolved,
        s"PpIndex.append($table): appended into $live but the live " +
          s"generation is now ${cur.getOrElse(Map.empty).values.mkString(", ")} — " +
          "a compact/rebuild ran concurrently " +
          "(writers must be serialized; only readers are compact-safe). " +
          "Re-run the append against the current generation.")
      publish(spark, table, cur.get)
    }
    wrote
  }

  /** Rewrite the index back to one sorted file per bucket — the
    * maintenance companion to [[append]]: every append adds a file per
    * touched bucket, which keeps the join exchange-free but forfeits
    * the scan's claimed sort order (Spark only claims it for
    * single-file buckets), so post-append plans re-sort in-partition.
    * Compacting restores the build-time plan. Rows are untouched —
    * same data, same bucket spec (PpAppendSpec pins row identity and
    * the Sort nodes' disappearance).
    *
    * r17: generation-based and READER-SAFE ([[writeGen]]) — the
    * compacted rows land in table `_g(N+1)` read straight from the
    * live generation, the pointer publish is the commit, and the
    * superseded generation survives until the compact after this one
    * (see the class note).
    */
  def compact(spark: SparkSession, table: String): Unit = {
    val src = liveTable(spark, table)
    val n = liveBuckets(spark, src)
    writeGen(spark, table, AtomicSwap.Main)(names =>
      writeBase(spark.table(src), names(AtomicSwap.Main), n))
  }
}
