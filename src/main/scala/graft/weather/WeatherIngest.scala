package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entry point C — weather ingestion (`weather_data_fetcher.py:436-453`,
  * traced in SURVEY.md §3.3): snapshot → filter non-null coords → fetch →
  * JSON shred (17 fields) → location_id resolution → append.
  *
  * The reference does all of this in a serial per-row loop with two DB
  * round trips per row (`:285,:296`); here it is two distributed stages:
  * (1) fetch+shred as a typed map over the coordinates, spread over
  * `defaultParallelism` partitions so the latency-bound fetch spans the
  * cores, (2) one broadcast left join against the locations dim to
  * resolve location_id (J3 — the per-row point SELECT `:286-293` becomes
  * a shuffle-free broadcast join; a miss becomes a null `location_id`
  * row in an audit relation instead of a log line).
  *
  * `fetchJson: (lat, lon) => json` is the injected connector; a real one
  * wraps HTTP behind [[graft.sources.Throttle.acquire]]'s per-JVM token
  * bucket, which the task threads share, so the fan-out does not change
  * the request rate; tests inject fixtures.
  */
object WeatherIngest {

  /** S4 shred (`weather_data_fetcher.py:267-281`) as pure Column logic
    * over a `raw` JSON string column. Defaults mirror P6: rain missing →
    * 0 (`:278`); deg/visibility/cloudiness missing → null (`:276-279`);
    * epoch seconds → UTC timestamps (C5 semantics note: reference is
    * local-naive `:280-281`, we pin UTC by session conf).
    */
  def shred(withRaw: DataFrame): DataFrame = {
    val j = from_json(col("raw"), Schemas.openWeatherResponse)
    withRaw
      .withColumn("w", j)
      .select(
        col("location_name"), col("province_name"),
        element_at(col("w.weather"), 1).getField("main").as("weather_main"),         // C9 (:267)
        element_at(col("w.weather"), 1).getField("description").as("weather_description"),
        col("w.main.temp").as("temperature_c"),
        col("w.main.feels_like").as("feels_like_c"),
        col("w.main.temp_min").as("temp_min_c"),
        col("w.main.temp_max").as("temp_max_c"),
        col("w.main.pressure").as("pressure_hpa"),
        col("w.main.humidity").as("humidity_percent"),
        col("w.wind.speed").as("wind_speed_mps"),
        col("w.wind.deg").as("wind_direction_deg"),                                  // default null (:276)
        col("w.visibility").as("visibility_m"),                                      // default null (:277)
        coalesce(col("w.rain.1h"), lit(0.0)).as("rain_1h_mm"),                       // default 0 (:278)
        col("w.clouds.all").as("cloudiness_percent"),                                // default null (:279)
        timestamp_seconds(col("w.sys.sunrise")).as("sunrise"),                       // C5 (:280)
        timestamp_seconds(col("w.sys.sunset")).as("sunset"))
  }

  /** Full ingest pass. Returns (facts ready to append, missed-lookup
    * audit): the rows of [[resolve]] with and without a `location_id`,
    * both over its one persisted relation, which stays cached (a tick
    * goes through [[WeatherMain.appendTick]], which releases it). `now`
    * is injected for determinism (SURVEY.md §7.4 #3).
    */
  def ingest(
      spark: SparkSession,
      snapshot: DataFrame,
      fetchJson: (Double, Double) => String,
      now: java.sql.Timestamp): (DataFrame, DataFrame) = {
    val joined = resolve(spark, snapshot, fetchJson, now)
    (joined.filter(col("location_id").isNotNull),
      joined.filter(col("location_id").isNull)
        .select(col("location_name"), col("province_name")))
  }

  /** The fetched, shredded rows left-joined to the snapshot's dim: a null
    * `location_id` marks a missed lookup. The relation is persisted, so
    * the connector fires exactly once per row however many outputs read
    * it (a lazy recompute would double-spend the API quota); the caller
    * owns it and must `unpersist` it once done — Spark's CacheManager
    * keeps a persisted relation until then.
    */
  private[weather] def resolve(
      spark: SparkSession,
      snapshot: DataFrame,
      fetchJson: (Double, Double) => String,
      now: java.sql.Timestamp): DataFrame = {
    import spark.implicits._

    val coords = snapshot
      .filter(col("latitude").isNotNull && col("longitude").isNotNull) // F3 (:450)
      .select(col("name").as("location_name"), col("province_name"),
        col("latitude"), col("longitude"))
      // a snapshot is one small file: without this the fetch is one task
      // and every request waits on the one before it
      .repartition(spark.sparkContext.defaultParallelism)

    val fetched = coords
      .as[(String, Option[String], Double, Double)]
      .map { case (name, prov, lat, lon) => (name, prov.orNull, fetchJson(lat, lon)) }
      .toDF("location_name", "province_name", "raw")
      // F4 on the fetch seam: a failed fetch (connector returns null)
      // produces NO fact row — the reference only inserts on HTTP 200
      // (`:334-335` logs the error and skips). Fixture connectors always
      // return a body, so this filter is a no-op in offline runs.
      .filter(col("raw").isNotNull)

    val shredded = shred(fetched)
      .withColumn("data_datetime", lit(now)) // ingestion time (:282)
      .withColumn("inserted_at", lit(now))   // GETDATE() default (:96)

    // J3: point lookup → broadcast equi-join on (location_name, province_name);
    // dim keys renamed so the joined schema stays duplicate-free. A left
    // join, so the reference's log-on-miss (:292-293) is a null id row.
    val dim = snapshot.select(
      col("location_id"), col("name").as("dim_name"), col("province_name").as("dim_prov"))
    shredded.join(broadcast(dim),
        shredded("location_name") === dim("dim_name") && shredded("province_name") <=> dim("dim_prov"),
        "left")
      .drop("dim_name", "dim_prov")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }
}
