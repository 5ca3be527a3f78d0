package graft.weather

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Stage C's report counts come from the append itself (an observation
  * on the resolved rows), so they must hold where the observed input is
  * empty or misses the dim, and the tick must release what it cached.
  */
class AppendTickSpec extends SparkSpec {

  import spark.implicits._

  private val now = Timestamp.valueOf("2024-12-20 06:00:00")

  private def snapshot(rows: (Long, String, Option[String], Option[Double], Option[Double])*) =
    rows.toDF("location_id", "name", "province_name", "latitude", "longitude")

  private def factsPath(): String =
    Files.createTempDirectory("tick").resolve("facts").toString

  private def tick(snap: DataFrame, path: String): (Long, Long) = {
    val json = AppendTickSpec.json
    WeatherMain.appendTick(spark, snap, (_, _) => { AppendTickSpec.calls.incrementAndGet(); json },
      path, now)
  }

  test("no row with coordinates: (0, 0), with no exception and no wait") {
    val noCoords = snapshot((1L, "Manila", Some("Metro Manila"), None, None))
    for (snap <- Seq(noCoords, noCoords.limit(0))) {
      AppendTickSpec.calls.set(0)
      val t0 = System.nanoTime()
      assert(tick(snap, factsPath()) === ((0L, 0L)))
      assert(System.nanoTime() - t0 < WeatherMain.ObservedCountsWait.toNanos,
        "waited out the observation")
      assert(AppendTickSpec.calls.get() === 0)
    }
  }

  test("a resolved row that cannot match the dim is one missed lookup") {
    val snap = snapshot(
      (1L, "Manila", Some("Metro Manila"), Some(14.59), Some(120.98)),
      (2L, "Toledo", Some("Cebu"), Some(10.38), Some(123.65)),
      (3L, null, Some("Cebu"), Some(9.0), Some(123.0)), // null name never equals the dim's
      (4L, "NoCoords", Some("Cebu"), None, None))
    val path = factsPath()
    AppendTickSpec.calls.set(0)
    assert(tick(snap, path) === ((2L, 1L))) // resolved 3: facts 3 − 1, missed 1
    assert(AppendTickSpec.calls.get() === 3) // one fetch per resolved row
    val ids = spark.read.parquet(path)
      .agg(count(lit(1)), min(col("weather_id")), max(col("weather_id"))).head()
    assert(ids.toSeq === Seq(2L, 1L, 2L))
  }

  test("ticks release the relation they persist") {
    val snap = snapshot((1L, "Manila", Some("Metro Manila"), Some(14.59), Some(120.98)))
    val path = factsPath()
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(tick(snap, path) === ((1L, 0L)))
    assert(tick(snap, path) === ((1L, 0L)))
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }
}

object AppendTickSpec {
  /** Fetches made by the connector, JVM-wide (the closures run on task threads). */
  val calls = new AtomicInteger

  val json: String =
    """{"weather":[{"main":"Rain","description":"light rain"}],
      |"main":{"temp":28.1,"feels_like":32.0,"temp_min":27.0,"temp_max":29.0,
      |"pressure":1009,"humidity":84},"wind":{"speed":3.6},"clouds":{"all":75},
      |"sys":{"sunrise":1700000000,"sunset":1700043200}}""".stripMargin.replaceAll("\n", "")
}
