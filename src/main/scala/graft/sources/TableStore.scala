package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet-backed table layer — the Spark shape of the reference's
  * persistence (SURVEY.md §2.9):
  *
  *  - K1 `create_tables` (idempotent DDL, `weather_data_fetcher.py:50-102`)
  *    → [[ensureTable]]: CREATE-IF-NOT-EXISTS by writing an empty
  *    dataframe with the declared schema when the path is absent.
  *  - S2 Excel snapshot scan with FileNotFound→empty-frame semantics
  *    (`:372-374`) → [[readSnapshot]].
  *  - K2/K3 full-refresh overwrite with identity reseed (`:220-256`)
  *    → [[overwriteSnapshot]]: dense 1-based ids regenerated per refresh
  *    via `row_number` over a stable key (SURVEY.md §2.11 — NOT
  *    monotonically_increasing_id, which is partition-dependent).
  *  - K4 per-row INSERT loop (`:296-330`) → [[appendFacts]]: one bulk
  *    append per batch, optionally partitioned by a date column so
  *    time-range queries prune partitions (SURVEY.md §4 partitioning row).
  *
  * Atomicity note: the reference wraps delete-all + re-insert in one
  * transaction (`:228-229`). Here a snapshot is a generation directory
  * under its path ([[AtomicSwap.writeGen]]) and the manifest publish is
  * the commit: a reader sees the whole old snapshot or the whole new
  * one, and a crash before the publish leaves the old one live.
  */
object TableStore {

  /** Missing path → empty frame WITH the declared schema (`:373-374`).
    * Reads the current generation ([[AtomicSwap.dataDir]]); a path with
    * no manifest (the facts table, which only appends) reads as is.
    */
  def readSnapshot(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(AtomicSwap.dataDir(spark, path))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Idempotent create: writes an empty table at `path` if absent (K1). */
  def ensureTable(spark: SparkSession, path: String, schema: StructType): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      AtomicSwap.writeGen(spark, path)(gen =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          .write.mode(SaveMode.Overwrite).parquet(gen))
  }

  /** Full-refresh overwrite with dense 1-based `idColumn` regenerated
    * over `stableKey` (IDENTITY reseed semantics, `:232-237`).
    */
  def overwriteSnapshot(
      df: DataFrame, path: String, idColumn: String, stableKey: Seq[String]): Unit =
    df.withColumn(idColumn,
        row_number().over(Window.orderBy(stableKey.map(col): _*)).cast("long"))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Bulk append of a fact batch (K4); pass `partitionBy` a date-derived
    * column for partition-pruned time-range scans at scale.
    */
  def appendFacts(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** [[overwriteSnapshot]] when `df`'s lineage READS the same `path` it
    * replaces — the refresh cycle's shape (carry-forward rows come from
    * the old snapshot, `weather_data_fetcher.py:426` re-writes the same
    * Excel file). The new snapshot is written whole as the next
    * generation beside the one `df` reads, and the manifest publish
    * swaps it in ([[AtomicSwap.writeGen]]) — the same all-or-nothing
    * visibility the reference gets from its transaction (`:228-229`),
    * at any snapshot size (nothing funnels through the driver). The
    * superseded generation survives one more replace, so a frame read
    * before this one keeps its files.
    */
  def replaceSnapshot(
      df: DataFrame, path: String, idColumn: String, stableKey: Seq[String]): Unit =
    AtomicSwap.writeGen(df.sparkSession, path)(gen =>
      overwriteSnapshot(df, gen, idColumn, stableKey))

  /** One-time migration for a user holding the reference's Excel
    * snapshot (`all_locations.xlsx`, `weather_data_fetcher.py:36,:365`):
    * read a CSV export of it with an EXPLICIT schema (inference would
    * strip the leading zeros off PSGC codes by parsing them as ints —
    * the exact corruption FIXTURES.md §1.1 warns about) and write the
    * parquet snapshot with dense ids reseeded, after which the normal
    * refresh cycle owns the table.
    */
  def importSnapshotCsv(
      spark: SparkSession, csvPath: String, snapshotPath: String,
      schema: StructType, idColumn: String, stableKey: Seq[String]): Unit = {
    val df = spark.read.option("header", "true").schema(schema).csv(csvPath)
    replaceSnapshot(df, snapshotPath, idColumn, stableKey)
  }

  /** One-time xlsx migration — the reference's ACTUAL snapshot format
    * (`weather_data_fetcher.py:365-372` reads `all_locations.xlsx`);
    * the CSV variant above remains for the common interchange case.
    * Same schema-first string discipline: cells load as strings via
    * [[Xlsx.read]] (leading-zero PSGC codes intact) and cast by name.
    */
  def importSnapshotXlsx(
      spark: SparkSession, xlsxPath: String, snapshotPath: String,
      schema: StructType, idColumn: String, stableKey: Seq[String]): Unit =
    replaceSnapshot(Xlsx.read(spark, xlsxPath, schema), snapshotPath, idColumn, stableKey)

  /** Export a snapshot back to the reference's Excel format
    * (`weather_data_fetcher.py:365,:426` writes `all_locations.xlsx` /
    * `missing_locations.xlsx`) — the write half of the xlsx
    * round-trip. Every cell is stringified and written inline
    * ([[Xlsx.writeSheet]]), so a re-import through
    * [[importSnapshotXlsx]] with the original schema restores the
    * exact values (leading-zero codes intact). Rows are ordered by
    * `orderCols` (default: all columns, left to right) so the workbook
    * bytes are deterministic for a given snapshot. Driver-side collect
    * by design — dimension snapshots only, same guard as the reader.
    */
  def exportSnapshotXlsx(df: DataFrame, xlsxPath: String,
      orderCols: Seq[String] = Seq.empty): Unit = {
    val order = if (orderCols.nonEmpty) orderCols else df.columns.toSeq
    val rows = df
      .orderBy(order.map(col): _*) // sort on the ORIGINAL types (numeric ids stay numeric)
      .select(df.columns.map(c => col(c).cast("string")).toSeq: _*)
      .collect()
      .map(r => df.columns.indices.map(i => Option(r.getString(i))).toSeq)
      .toSeq
    Xlsx.writeSheet(xlsxPath, df.columns.toSeq, rows)
  }

  /** [[overwriteSnapshot]] for big tables. The plain variant's
    * un-partitioned `row_number` window is exactly right for the
    * reference-sized snapshot (146 rows) but funnels everything through
    * one reducer; this one range-partitions by the stable key, sorts
    * within partitions, and assigns ids by `zipWithIndex` — distributed,
    * and the ids are the same 1-based dense sequence in stable-key order
    * (partitions of a range sort are globally ordered, so
    * partition-major index order IS total key order). Requires the
    * stable key to be unique, as §2.11's reproducibility contract
    * already demands.
    */
  def overwriteSnapshotLarge(
      df: DataFrame, path: String, idColumn: String, stableKey: Seq[String]): Unit = {
    val spark = df.sparkSession
    val sorted = df
      .repartitionByRange(stableKey.map(col): _*)
      .sortWithinPartitions(stableKey.map(col): _*)
    val withId = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    val schema = sorted.schema.add(idColumn, org.apache.spark.sql.types.LongType)
    spark.createDataFrame(withId, schema)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
