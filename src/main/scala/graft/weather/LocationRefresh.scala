package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entry point A — the location-refresh pipeline (`weather_data_fetcher.py
  * :346-433`, traced in SURVEY.md §3.1), re-expressed as one declarative
  * batch job:
  *
  *   cities ⟕ provinces (J1, broadcast)  →  diff vs snapshot (J2)  →
  *   geocode only the changed rows (U1-U3; the reference re-geocodes ALL
  *   rows on any change, `:405` — a noted latent bug we fix forward,
  *   SURVEY.md §2.10)  →  union with carried-forward rows  →  dense-id
  *   snapshot overwrite (K2/K3).
  *
  * The geocoder is injected (`geocode: name → candidates`) so tests and
  * offline runs use fixtures; a production connector wraps the HTTP call
  * with throttling. Geocoding runs as a typed map over the changed rows
  * only, spread over `defaultParallelism` partitions — at 146 rows (or
  * 146k) the calls overlap across the cores instead of the reference's
  * serial 1 s/row loop (`:419`).
  */
object LocationRefresh {

  /** J1 + P1-P4 (`weather_data_fetcher.py:350-362`): left-join province
    * names onto cities, project the 10 compare columns.
    */
  def mergeCitiesProvinces(cities: DataFrame, provinces: DataFrame): DataFrame = {
    val prov = provinces
      .withColumnRenamed("name", "province_name") // P1 (:352)
      .select("code", "province_name")            // P2 (:355)
    cities.join(broadcast(prov), cities("provinceCode") === prov("code"), "left") // J1 (:355-356)
      .drop(prov("code"))                         // P3 (:359)
  }

  /** Full refresh: returns the new snapshot (schema = compare columns +
    * latitude/longitude + dense location_id). Rows whose compare-columns
    * are unchanged carry forward their existing coordinates; changed or
    * new rows are geocoded via the injected resolver.
    */
  def refresh(
      spark: SparkSession,
      cities: DataFrame,
      provinces: DataFrame,
      oldSnapshot: DataFrame,
      geocode: String => Seq[GeoCandidate]): DataFrame = {
    import spark.implicits._
    val cols = Schemas.compareColumns

    val merged = mergeCitiesProvinces(cities, provinces)

    // null-safe key equality throughout: oldName is null on 143/146 rows;
    // plain `===` would mark every row changed (SURVEY.md §7.4 #1)
    def nullSafeOn(left: DataFrame, right: DataFrame) =
      cols.map(c => left(c) <=> right(c)).reduce(_ && _)

    val oldCmp = oldSnapshot.select(cols.map(col): _*)
    val changed = merged.join(oldCmp, nullSafeOn(merged, oldCmp), "left_anti")

    // typed map over ONLY the changed rows; the resolver is a pure Scala
    // fallback chain (GeocodeMatcher.resolve), no per-row SQL round trips
    val geocoded = changed
      .select(col("name"), col("province_name"))
      // a fixed partition count, which AQE does not coalesce into the one
      // task a few distinct rows would get, so the latency-bound calls
      // overlap; the distinct reuses this shuffle
      .repartition(spark.sparkContext.defaultParallelism, col("name"), col("province_name"))
      .distinct()
      .as[(String, Option[String])]
      .map { case (name, prov) =>
        val c = GeocodeMatcher.resolve(name, prov, geocode)
        (name, prov, c.map(_._1), c.map(_._2))
      }
      .toDF("gname", "gprov", "latitude", "longitude")

    // null-safe join keys: province_name may be null (pandas NaN-joins)
    val changedWithCoords = changed.join(geocoded,
      changed("name") === geocoded("gname") && changed("province_name") <=> geocoded("gprov"),
      "left")
    val oldFull = oldSnapshot.select((cols.map(col) :+ col("latitude") :+ col("longitude")): _*)
    val carried = merged.join(oldFull, nullSafeOn(merged, oldFull), "inner")
      .select(cols.map(oldFull(_)) ++ Seq(oldFull("latitude"), oldFull("longitude")): _*)

    val unioned = changedWithCoords.select((cols ++ Seq("latitude", "longitude")).map(col): _*)
      .union(carried)

    // dense 1-based ids regenerated per refresh, ordered by a stable key —
    // IDENTITY(1,1) + RESEED semantics (:63,:236) without
    // monotonically_increasing_id (SURVEY.md §2.11)
    unioned.withColumn("location_id",
      row_number().over(Window.orderBy(col("name"), col("province_name"))).cast("long"))
  }
}
