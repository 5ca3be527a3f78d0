package graft.weather

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's "real-time" mode is an external scheduler re-running
  * the batch script (`README.md:25`, SURVEY.md §2.10). This is its
  * Structured Streaming twin: a trigger tick drives one ingest pass per
  * micro-batch through `foreachBatch` — `Trigger.ProcessingTime` is the
  * Task-Scheduler cadence, `Trigger.AvailableNow` the run-once catch-up.
  * Identical batch semantics — each tick runs the batch job's stage C
  * ([[WeatherMain.appendTick]]: ingest, dense `weather_id`,
  * day-partitioned append) — but checkpointed, exactly-once per batch
  * id, and without the external scheduler.
  */
object WeatherStream {

  /** Start the scheduled ingest loop. `snapshot` re-reads the current
    * locations dim each tick; `fetchJson`/`clock` are injected like in
    * the batch job (tests use fixtures + fixed clock).
    */
  def ingestStream(
      spark: SparkSession,
      snapshot: () => DataFrame,
      fetchJson: (Double, Double) => String,
      factsPath: String,
      checkpoint: String,
      trigger: Trigger,
      clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis())): StreamingQuery = {
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) =>
        WeatherMain.appendTick(spark, snapshot(), fetchJson, factsPath, clock())
        () // foreachBatch's Scala overload takes a Unit-returning function
      }
      .start()
  }

  /** Streaming twin of the r04 hourly series: the SAME
    * [[WeatherAnalytics.hourlySeries]] aggregate over a weather-fact
    * stream, with an event-time watermark bounding per-window state
    * (append mode emits each (hour, location) row once, when the
    * watermark passes the window end). `withWatermark` is a no-op on
    * batch frames, so batch and stream literally share the operator —
    * agreement on closed windows is pinned in WeatherAnalyticsSpec.
    */
  def hourlySeriesStream(weather: DataFrame, watermark: String = "2 hours"): DataFrame =
    WeatherAnalytics.hourlySeries(weather.withWatermark("data_datetime", watermark))
}
