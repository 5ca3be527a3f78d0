package graft.weather

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Golden pipeline tests for entry points A and C with mock connectors
  * (SURVEY.md §5 item 4), including the no-changes-skip and
  * missing-coords-skip paths.
  */
class JobsSpec extends SparkSpec {

  import spark.implicits._

  private def cities = Seq(
    // code, name, oldName, isCapital, provinceCode, districtCode, regionCode, islandGroupCode, psgc10DigitCode
    ("0101", "City of Manila", None: Option[String], true, "p1", "d1", "r1", "luzon", "0101000000"),
    ("0202", "Toledo City", None: Option[String], false, "p2", "d2", "r2", "visayas", "0202000000"),
    ("0303", "Orphan City", None: Option[String], false, "p9", "d3", "r3", "luzon", "0303000000"))
    .toDF("code", "name", "oldName", "isCapital", "provinceCode",
      "districtCode", "regionCode", "islandGroupCode", "psgc10DigitCode")

  private def provinces = Seq(("p1", "Metro Manila"), ("p2", "Cebu"))
    .toDF("code", "name")

  private val geocoder: String => Seq[GeoCandidate] = {
    case "Manila"      => Seq(GeoCandidate("Manila", 14.59, 120.98, "PH", Some("Metro Manila")))
    case "Toledo City" => Seq(GeoCandidate("Toledo", 10.38, 123.65, "PH", Some("Cebu")))
    case _             => Nil
  }

  test("location refresh: join, geocode, dense ids (entry point A)") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(
        Schemas.psgcCities.fields.toSeq :+
          org.apache.spark.sql.types.StructField("province_name",
            org.apache.spark.sql.types.StringType) :+
          org.apache.spark.sql.types.StructField("latitude",
            org.apache.spark.sql.types.DoubleType) :+
          org.apache.spark.sql.types.StructField("longitude",
            org.apache.spark.sql.types.DoubleType)))

    val snap = LocationRefresh.refresh(spark, cities, provinces, empty, geocoder)
      .orderBy("location_id")
      .select("location_id", "name", "province_name", "latitude", "longitude")
      .collect()

    assert(snap.length === 3)
    // dense 1-based ids ordered by (name, province_name)
    assert(snap.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val byName = snap.map(r => r.getString(1) -> r).toMap
    // "City of Manila" normalized to "Manila" for the geocoder
    assert(byName("City of Manila").getDouble(3) === 14.59)
    assert(byName("City of Manila").getString(2) === "Metro Manila")
    assert(byName("Toledo City").getDouble(3) === 10.38)
    // unknown province (left join null) + geocoder miss → null coords
    assert(byName("Orphan City").isNullAt(2))
    assert(byName("Orphan City").isNullAt(3))
  }

  test("refresh with unchanged snapshot carries coordinates, no re-geocode") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      LocationRefresh.mergeCitiesProvinces(cities, provinces).schema
        .add("latitude", "double").add("longitude", "double"))
    val first = LocationRefresh.refresh(spark, cities, provinces, empty, geocoder)

    val acc = spark.sparkContext.longAccumulator("geocode-calls")
    val base = geocoder // local val: the closure must not capture the spec instance
    val countingGeocoder: String => Seq[GeoCandidate] = { q => acc.add(1); base(q) }
    val second = LocationRefresh.refresh(spark, cities, provinces, first, countingGeocoder)
    val snap = second.orderBy("location_id").collect()
    assert(snap.length === 3)
    assert(acc.value === 0) // diff empty → geocode skipped entirely (:389-390 parity)
    assert(second.filter(col("latitude").isNotNull).count() === 2)
  }

  test("streaming ingest loop appends day-partitioned facts per tick (§2.10)") {
    val snapshot = Seq(
      (1L, "Manila", Some("Metro Manila"), Some(14.59), Some(120.98)))
      .toDF("location_id", "name", "province_name", "latitude", "longitude")
    val json =
      """{"weather":[{"main":"Clear","description":"clear sky"}],
        |"main":{"temp":30.0,"feels_like":33.0,"temp_min":29.0,"temp_max":31.0,
        |"pressure":1010,"humidity":70},"wind":{"speed":2.0},"clouds":{"all":10},
        |"sys":{"sunrise":1700000000,"sunset":1700043200}}""".stripMargin.replaceAll("\n", "")
    val base = java.nio.file.Files.createTempDirectory("wstream")
    val q = WeatherStream.ingestStream(
      spark, () => snapshot, (_, _) => json,
      base.resolve("facts").toString, base.resolve("ckpt").toString,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100),
      () => Timestamp.valueOf("2024-12-20 06:00:00"))
    try {
      q.processAllAvailable()
      val facts = spark.read.parquet(base.resolve("facts").toString)
      assert(facts.count() >= 1)
      assert(facts.select("day").distinct().head.getDate(0).toString === "2024-12-20")
      assert(facts.select("weather_main").head.getString(0) === "Clear")
    } finally q.stop()
    // each tick runs run's stage C, so stream-written facts carry the
    // non-null keys Schemas.weatherData declares and dense weather_ids
    val ids = spark.read.parquet(base.resolve("facts").toString)
      .agg(count(lit(1)), count(col("weather_id")), count(col("location_id")),
        min(col("weather_id")), max(col("weather_id")), countDistinct(col("weather_id")))
      .head()
    val n = ids.getLong(0)
    assert(ids.getLong(1) === n && ids.getLong(2) === n, "null weather_id/location_id")
    assert(ids.getLong(3) === 1L)
    assert(ids.getLong(4) === n && ids.getLong(5) === n, "weather_id not dense from 1")
  }

  test("weather ingest: shred, broadcast lookup, miss audit (entry point C)") {
    val snapshot = Seq(
      (1L, "Manila", Some("Metro Manila"), Some(14.59), Some(120.98)),
      (2L, "Toledo", Some("Cebu"), Some(10.38), Some(123.65)),
      (3L, "NoCoords", Some("Cebu"), None: Option[Double], None: Option[Double]))
      .toDF("location_id", "name", "province_name", "latitude", "longitude")

    val json =
      """{"weather":[{"main":"Rain","description":"light rain"}],
        |"main":{"temp":28.1,"feels_like":32.0,"temp_min":27.0,"temp_max":29.0,
        |"pressure":1009,"humidity":84},
        |"wind":{"speed":3.6},
        |"clouds":{"all":75},
        |"sys":{"sunrise":1700000000,"sunset":1700043200}}""".stripMargin.replaceAll("\n", "")

    val now = Timestamp.valueOf("2024-12-20 00:00:00")
    val (facts, missed) = WeatherIngest.ingest(spark, snapshot, (_, _) => json, now)
    val rows = facts.collect()

    assert(rows.length === 2) // null-coord row skipped (F3 :450)
    assert(missed.isEmpty)
    val r = facts.filter(col("location_name") === "Manila").head()
    assert(r.getAs[String]("weather_main") === "Rain")
    assert(r.getAs[Double]("temperature_c") === 28.1)
    assert(r.getAs[Double]("rain_1h_mm") === 0.0) // missing rain → 0 (:278)
    assert(r.isNullAt(r.fieldIndex("wind_direction_deg"))) // missing deg → null (:276)
    assert(r.isNullAt(r.fieldIndex("visibility_m")))
    assert(r.getAs[Timestamp]("sunrise") ===
      new Timestamp(1700000000L * 1000)) // epoch→UTC ts (C5)
    assert(r.getAs[Long]("location_id") === 1L)
  }

  test("weather fetch fans out across the cores and fetches each resolved row once") {
    val snapshot = ((1L to 16L).map(i =>
        (i, s"Town $i", Some("Cebu"), Some(10.0 + i / 100.0), Some(123.0))) :+
      ((17L, "NoCoords", Some("Cebu"), None: Option[Double], None: Option[Double])))
      .toDF("location_id", "name", "province_name", "latitude", "longitude")
      .coalesce(1) // one partition, as a one-file snapshot reads
    val json =
      """{"weather":[{"main":"Clear","description":"clear sky"}],"main":{"temp":30.0},
        |"sys":{"sunrise":1700000000,"sunset":1700043200}}""".stripMargin.replaceAll("\n", "")
    JobsSpec.fetches.reset()
    val slowFetch: (Double, Double) => String =
      (_, _) => JobsSpec.fetches.track { Thread.sleep(20); json }
    val (facts, missed) = WeatherIngest.ingest(spark, snapshot, slowFetch,
      Timestamp.valueOf("2024-12-20 00:00:00"))
    assert(facts.count() === 16)
    assert(missed.isEmpty)
    assert(JobsSpec.fetches.calls.get() === 16) // resolved rows, each fetched once
    assert(JobsSpec.fetches.peak.get() >= 2, "the fetch ran one call at a time")
  }

  test("geocoding fans out across the cores and geocodes each changed row once") {
    val towns = (1 to 16).map(i =>
        (f"$i%04d", s"Town $i", None: Option[String], false, "p1", "d1", "r1", "luzon", f"$i%010d"))
      .toDF("code", "name", "oldName", "isCapital", "provinceCode",
        "districtCode", "regionCode", "islandGroupCode", "psgc10DigitCode")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      LocationRefresh.mergeCitiesProvinces(towns, provinces).schema
        .add("latitude", "double").add("longitude", "double"))
    JobsSpec.geocodes.reset()
    // a candidate without a state is accepted as is: the first name variant resolves
    val slowGeocoder: String => Seq[GeoCandidate] = q => JobsSpec.geocodes.track {
      Thread.sleep(20); Seq(GeoCandidate(q, 14.0, 121.0, "PH", None))
    }
    val snap = LocationRefresh.refresh(spark, towns, provinces, empty, slowGeocoder).collect()
    assert(snap.length === 16)
    assert(JobsSpec.geocodes.calls.get() === 16) // resolved rows, each geocoded once
    assert(JobsSpec.geocodes.peak.get() >= 2, "the geocode ran one call at a time")
  }
}

object JobsSpec {

  /** Counts the calls of a connector and the most of them in flight at
    * once across task threads. Lives in an object so the connector
    * closures reach one JVM-wide copy instead of a deserialised one.
    */
  final class Concurrency {
    val calls = new AtomicInteger
    val peak = new AtomicInteger
    private val inflight = new AtomicInteger

    def reset(): Unit = { calls.set(0); peak.set(0); inflight.set(0) }

    def track[A](body: => A): A = {
      calls.incrementAndGet()
      peak.accumulateAndGet(inflight.incrementAndGet(), math.max)
      try body finally inflight.decrementAndGet()
    }
  }

  val fetches = new Concurrency
  val geocodes = new Concurrency
}
