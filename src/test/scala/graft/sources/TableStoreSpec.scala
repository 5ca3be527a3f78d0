package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.weather.Schemas

class TableStoreSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("tablestore").resolve("t").toString

  test("readSnapshot of a missing path yields an empty, schema-correct frame (:373-374)") {
    val df = TableStore.readSnapshot(spark, tmp(), Schemas.locations)
    assert(df.isEmpty)
    assert(df.schema === Schemas.locations)
  }

  test("ensureTable is idempotent (K1)") {
    val path = tmp()
    TableStore.ensureTable(spark, path, Schemas.locations)
    TableStore.ensureTable(spark, path, Schemas.locations) // second call: no-op
    assert(TableStore.readSnapshot(spark, path, Schemas.locations).isEmpty)
  }

  test("overwriteSnapshot reseeds dense 1-based ids over the stable key (K3/§2.11)") {
    val path = tmp()
    val a = Seq(("Cebu", "Cebu"), ("Manila", "NCR")).toDF("name", "province_name")
    TableStore.overwriteSnapshot(a, path, "location_id", Seq("name", "province_name"))
    val b = Seq(("Davao", "Davao"), ("Cebu", "Cebu")).toDF("name", "province_name")
    TableStore.overwriteSnapshot(b, path, "location_id", Seq("name", "province_name"))
    val out = spark.read.parquet(path).orderBy("location_id")
      .collect().map(r => (r.getAs[Long]("location_id"), r.getAs[String]("name")))
    // full refresh: old rows gone, ids restart at 1, ordered by stable key
    assert(out.toSeq === Seq((1L, "Cebu"), (2L, "Davao")))
  }

  test("appendFacts appends batches, optionally hive-partitioned (K4)") {
    val path = tmp()
    val b1 = Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "day")
    val b2 = Seq((3L, "2024-01-02")).toDF("id", "day")
    TableStore.appendFacts(b1, path, Seq("day"))
    TableStore.appendFacts(b2, path, Seq("day"))
    val read = spark.read.parquet(path)
    assert(read.count() === 3)
    // partition pruning visible in the file listing
    assert(new java.io.File(path).list().count(_.startsWith("day=")) === 2)
  }

  test("importSnapshotCsv keeps leading-zero codes and reseeds ids (xlsx migration)") {
    import org.apache.spark.sql.types._
    val csvDir = Files.createTempDirectory("csv")
    val csv = csvDir.resolve("all_locations.csv")
    Files.write(csv,
      "code,name,province_name\n012802000,Bacarra,Ilocos Norte\n137404000,Taguig,NCR\n"
        .getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("code", StringType), StructField("name", StringType),
      StructField("province_name", StringType)))
    val path = tmp()
    TableStore.importSnapshotCsv(spark, csv.toString, path, schema, "location_id", Seq("name"))
    val out = TableStore.readSnapshot(spark, path, schema.add("location_id", LongType)).orderBy("location_id")
      .select("location_id", "code", "name").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // schema-first read: '012802000' survives as a string, ids dense from 1
    assert(out.toSeq === Seq((1L, "012802000", "Bacarra"), (2L, "137404000", "Taguig")))
  }

  test("replaceSnapshot: a frame read before a replace keeps the old rows; " +
      "an unpublished generation never shows") {
    val path = tmp()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("location_id", "long").add("name", "string").add("province_name", "string")
    def names(df: org.apache.spark.sql.DataFrame) =
      df.select("name").as[String].collect().sorted.toSeq
    def replace(rows: Seq[(String, String)]): Unit = TableStore.replaceSnapshot(
      rows.toDF("name", "province_name"), path, "location_id", Seq("name", "province_name"))

    replace(Seq(("Cebu", "Cebu"), ("Manila", "NCR")))
    // planned now: its file list is resolved before the replace below
    val before = TableStore.readSnapshot(spark, path, schema)
    replace(Seq(("Davao", "Davao")))
    assert(names(before) === Seq("Cebu", "Manila"),
      "a frame read before the replace must keep the old rows")
    assert(names(TableStore.readSnapshot(spark, path, schema)) === Seq("Davao"))

    // a replace that crashed after its data commit, before the publish:
    // the next generation is complete (with _SUCCESS) but unnamed
    TableStore.overwriteSnapshot(Seq(("Iloilo", "Iloilo")).toDF("name", "province_name"),
      path + "/g2", "location_id", Seq("name"))
    assert(new java.io.File(path + "/g2/_SUCCESS").exists())
    assert(names(TableStore.readSnapshot(spark, path, schema)) === Seq("Davao"),
      "an unpublished replace must leave readers on the old rows")
  }

  test("overwriteSnapshotLarge assigns the same dense ids as the windowed variant") {
    val path1 = tmp()
    val path2 = tmp()
    val rows = (1 to 500).map(i => (f"key$i%03d", i * 2)).reverse
    val df = rows.toDF("k", "v").repartition(7) // scrambled partitions
    TableStore.overwriteSnapshot(df, path1, "id", Seq("k"))
    TableStore.overwriteSnapshotLarge(df, path2, "id", Seq("k"))
    val a = spark.read.parquet(path1).select("id", "k", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val b = spark.read.parquet(path2).select("id", "k", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(a.toSeq === b.toSeq)
    assert(a.map(_._1).toSeq === (1L to 500L))
  }
}
