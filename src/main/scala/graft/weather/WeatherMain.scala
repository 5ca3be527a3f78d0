package graft.weather

import java.net.URLEncoder
import java.sql.Timestamp
import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{Http, JsonSource, TableStore, Throttle}

/** The production front door — one runnable composition of the entire
  * reference lifecycle (`main`, `weather_data_fetcher.py:338-453`) over
  * the REAL connector stack, mirroring its stages in order:
  *
  *   ensure tables (K1, `:346`) →
  *   fetch cities + provinces (S1, `:349-350`) →
  *   merge + diff vs snapshot (J1/J2, `:355,:384-387`) →
  *   incremental-skip gate (F2, `:389-399`) →
  *   geocode changed rows, throttled (U1-U3, `:405-419`) →
  *   snapshot replace (K2/K3, `:426-430`) →
  *   weather fetch + shred + id lookup + append (S4/J3/K4, `:436-453`),
  *   the fetch spread across the cores and the report's fact and miss
  *   counts observed on the append itself.
  *
  * Every seam is the library piece the jobs already expose —
  * [[graft.sources.Http]] for transport, [[graft.sources.JsonSource]]
  * for payload shredding, [[LocationRefresh.refresh]] /
  * [[WeatherIngest.ingest]] for the two pipelines,
  * [[graft.sources.TableStore]] for persistence — so this object is
  * pure composition plus the URL construction the reference hardcodes
  * (`:33-35,:137,:261`). Endpoints are configurable; tests run the
  * whole lifecycle against an in-process loopback HTTP server
  * (WeatherMainSpec), a deployment points the same config at the real
  * APIs.
  *
  * Throttling: the geocode resolver issues a variable number of calls
  * per row (one per name variant), so rate limiting sits INSIDE the
  * connector function via [[Throttle.acquire]] — a per-JVM token
  * bucket; cluster rate = perSec × executors (the reference's 1 req/s
  * serial sleep, `:419`, distributed). Fix-forwards carried over from
  * the jobs: only CHANGED rows geocode (the reference re-geocodes all
  * on any change, `:405`), and an empty cities feed with a non-empty
  * existing snapshot is treated as an outage — the refresh is skipped
  * instead of overwriting the snapshot with nothing (the reference
  * would wipe it, `:426`; error→empty must degrade, not destroy).
  */
object WeatherMain {

  /** Deployment configuration. Defaults mirror the reference's URL
    * shapes (`weather_data_fetcher.py:33-35,:137,:261`): geocode
    * `?q=<name>,<cc>&limit=5[&appid=<key>]`, weather
    * `?lat=<lat>&lon=<lon>&units=metric[&appid=<key>]`.
    */
  final case class Config(
      citiesUrl: String,
      provincesUrl: String,
      geocodeBase: String,
      weatherBase: String,
      snapshotPath: String,
      factsPath: String,
      apiKey: String = "",
      countryCode: String = "PH",
      geocodePerSec: Double = 1.0,
      weatherPerSec: Double = 60.0,
      // CLUSTER-wide budgets (req/s summed over every executor JVM).
      // When set they OVERRIDE the per-JVM rates above: each JVM gets
      // budget / executorJvms (Throttle.perJvmShare), so a
      // 100-executor deployment cannot accidentally 100× the
      // reference's 1 req/s geocode quota. `executorJvms` pins the
      // divisor explicitly; unset, [[resolveRates]] counts live
      // executors via the status tracker (local mode → 1; cluster
      // mode includes the driver row — one JVM over-divided, i.e. the
      // SAFE direction for a quota).
      geocodePerSecCluster: Option[Double] = None,
      weatherPerSecCluster: Option[Double] = None,
      executorJvms: Option[Int] = None)

  /** What one run did — the reference's log lines as data — and the
    * driver-side wall seconds of its phases: the change gate (feed check
    * and diff), the refresh (geocode and snapshot replace; 0 when
    * skipped) and stage C (fetch and append).
    */
  final case class Report(
      refreshed: Boolean,
      locations: Long,
      resolved: Long,
      factsAppended: Long,
      missedLookups: Long,
      diffSeconds: Double = 0.0,
      refreshSeconds: Double = 0.0,
      appendSeconds: Double = 0.0)

  private lazy val mapper = new ObjectMapper()

  /** Geocode response array → candidates (`weather_data_fetcher.py:
    * 139-141`): executor-side parse (no SparkSession), malformed or
    * non-array payload → no candidates (error→empty, F4). Candidates
    * missing lat/lon are skipped; a present-but-null `state` stays
    * `None` — [[GeocodeMatcher.matchProvince]]'s branch 1 depends on
    * real absence.
    */
  def parseCandidates(body: String): Seq[GeoCandidate] =
    Try {
      val root = mapper.readTree(body)
      if (!root.isArray) Seq.empty[GeoCandidate]
      else (0 until root.size).flatMap { i =>
        val n = root.get(i)
        def num(f: String) = Option(n.get(f)).filter(_.isNumber).map(_.asDouble)
        def str(f: String) = Option(n.get(f)).filter(_.isTextual).map(_.asText)
        for (lat <- num("lat"); lon <- num("lon"))
          yield GeoCandidate(str("name").getOrElse(""), lat, lon,
            str("country").getOrElse(""), str("state"))
      }
    }.getOrElse(Seq.empty)

  /** The production geocode connector for [[LocationRefresh.refresh]]'s
    * seam: throttle → GET → parse. Serializable (captures only config
    * strings; Http/parse are static), so it runs on executors.
    */
  def geocoder(cfg: Config): String => Seq[GeoCandidate] = {
    val (base, cc, key, rate) = (cfg.geocodeBase, cfg.countryCode, cfg.apiKey, cfg.geocodePerSec)
    name => {
      Throttle.acquire(s"geocode@$base", rate)
      val q = URLEncoder.encode(s"$name,$cc", "UTF-8")
      val url = s"$base?q=$q&limit=5" + (if (key.nonEmpty) s"&appid=$key" else "")
      Http.getJson(url).map(parseCandidates).getOrElse(Seq.empty)
    }
  }

  /** The production weather connector for [[WeatherIngest.ingest]]'s
    * seam; null on any failure → the ingest drops the row (the
    * reference inserts only on 200, `:334-335`).
    */
  def weatherFetcher(cfg: Config): (Double, Double) => String = {
    val (base, key, rate) = (cfg.weatherBase, cfg.apiKey, cfg.weatherPerSec)
    (lat, lon) => {
      Throttle.acquire(s"weather@$base", rate)
      val url = s"$base?lat=$lat&lon=$lon&units=metric" + (if (key.nonEmpty) s"&appid=$key" else "")
      Http.getJson(url).orNull
    }
  }

  /** Fold the cluster-wide rate budgets (when configured) down to the
    * per-JVM rates the connectors' token buckets enforce. Separated
    * from [[run]] so WeatherMainCliSpec can pin the arithmetic without
    * a lifecycle run.
    */
  private[weather] def resolveRates(spark: SparkSession, cfg: Config): Config = {
    lazy val jvms = cfg.executorJvms.getOrElse(
      math.max(1, spark.sparkContext.statusTracker.getExecutorInfos.length))
    cfg.copy(
      geocodePerSec = cfg.geocodePerSecCluster
        .map(Throttle.perJvmShare(_, jvms)).getOrElse(cfg.geocodePerSec),
      weatherPerSec = cfg.weatherPerSecCluster
        .map(Throttle.perJvmShare(_, jvms)).getOrElse(cfg.weatherPerSec))
  }

  /** How long [[appendTick]] waits for its append's observed counts
    * once the append has returned. The listener bus delivers them
    * asynchronously, a few milliseconds after the job ends; a result
    * still missing after this fails the tick instead of hanging it.
    */
  private[weather] val ObservedCountsWait = 30.seconds

  /** Stage C of a tick (`:436-453`): fetch+shred on executors,
    * broadcast id lookup, IDENTITY-continuing `weather_id`,
    * day-partitioned bulk append to `factsPath`. Returns (facts
    * appended, missed lookups), both counted by the append job itself
    * (an `Observation` on the resolved rows, the write's side output)
    * instead of by re-running the fetch's lineage. [[run]] and the
    * streaming tick ([[WeatherStream.ingestStream]]) both append
    * through it, so every fact row carries a dense id.
    */
  private[weather] def appendTick(spark: SparkSession, snapshot: DataFrame,
      fetchJson: (Double, Double) => String, factsPath: String,
      now: Timestamp): (Long, Long) = {
    val joined = WeatherIngest.resolve(spark, snapshot, fetchJson, now)
    try {
      val baseId = TableStore.readSnapshot(spark, factsPath, Schemas.weatherData)
        .agg(coalesce(max(col("weather_id")), lit(0L))).head().getLong(0)
      val (factsCount, missedCount) =
        (count(col("location_id")).as("facts"), count_if(col("location_id").isNull).as("missed"))
      val obs = Observation()
      val facts = joined.observe(obs, factsCount, missedCount)
        .filter(col("location_id").isNotNull)
      // reference-scale id assignment (one window over a 146-row batch);
      // a fact-scale batch would use the overwriteSnapshotLarge pattern
      val ordered = facts.withColumn("weather_id",
        (row_number().over(Window.orderBy(col("location_name"), col("province_name")))
          .cast("long")) + lit(baseId))
        .select(Schemas.weatherData.fieldNames.map(col).toSeq: _*)
      TableStore.appendFacts(
        ordered.withColumn("day", to_date(col("data_datetime"))), factsPath, Seq("day"))
      val observed = try Await.result(obs.future, ObservedCountsWait) catch {
        case e: TimeoutException => throw new IllegalStateException(
          s"the append's observed counts did not arrive within $ObservedCountsWait", e)
      }
      // an empty observed input (no row with coordinates) can complete
      // the observation with an EMPTY row rather than zeros; count the
      // still-persisted relation exactly then (it is empty or cached)
      val row = if (observed.length == 2) observed
        else joined.agg(factsCount, missedCount).head()
      (row.getLong(0), row.getLong(1))
    } finally joined.unpersist()
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One full pipeline run (the reference's `main`). `now` is injected
    * for determinism, as in the jobs (SURVEY.md §7.4 #3).
    */
  def run(spark: SparkSession, cfg0: Config,
      now: Timestamp = new Timestamp(System.currentTimeMillis())): Report = {
    val cfg = resolveRates(spark, cfg0)
    // K1: idempotent ensure (`:346`). Facts are day-partitioned on
    // append (SURVEY.md §4), so only the snapshot gets an empty seed —
    // a pre-created unpartitioned empty table would conflict with the
    // partition directory layout the first append creates.
    TableStore.ensureTable(spark, cfg.snapshotPath, Schemas.locationsSnapshot)

    // S1: fetch both PSGC feeds (`:349-350`); outage → empty relation.
    val cities = JsonSource.fromPayload(spark,
      Http.getJson(cfg.citiesUrl), Schemas.psgcCities)
    val provinces = JsonSource.fromPayload(spark,
      Http.getJson(cfg.provincesUrl), Schemas.psgcProvinces)

    val old = TableStore.readSnapshot(spark, cfg.snapshotPath, Schemas.locationsSnapshot)
    val fresh = LocationRefresh.mergeCitiesProvinces(cities, provinces)

    // J2 + F2: refresh only when the compare columns changed
    // (`:383-399`) AND the feed actually delivered rows (outage guard —
    // fix-forward, see object doc).
    val (refreshed, diffSeconds) = timed(!cities.isEmpty &&
      LocationDiff.hasChanges(fresh, old, Schemas.compareColumns))
    val (_, refreshSeconds) = timed(if (refreshed) {
      val snap = LocationRefresh.refresh(spark, cities, provinces, old, geocoder(cfg))
      // K2/K3: full replace with dense ids reseeded over the stable key
      // — a new generation, because the refresh's carry-forward lineage
      // reads the snapshot being replaced.
      TableStore.replaceSnapshot(snap.drop("location_id"), cfg.snapshotPath,
        "location_id", Seq("name", "province_name"))
    })

    // C: ingest weather over the (possibly refreshed) snapshot
    val snapshot = TableStore.readSnapshot(spark, cfg.snapshotPath, Schemas.locationsSnapshot)
    val ((factsAppended, missedLookups), appendSeconds) =
      timed(appendTick(spark, snapshot, weatherFetcher(cfg), cfg.factsPath, now))
    // a dim-scale table: one task aggregates it, no exchange, one job
    val sizes = snapshot.coalesce(1).agg(count(lit(1)),
      count_if(col("latitude").isNotNull && col("longitude").isNotNull)).head()

    Report(refreshed, locations = sizes.getLong(0), resolved = sizes.getLong(1),
      factsAppended, missedLookups, diffSeconds, refreshSeconds, appendSeconds)
  }

  // ---- spark-submit entry (the reference's `__main__` guard,
  //      weather_data_fetcher.py:455-456) -----------------------------

  private[weather] val Usage: String =
    """usage: graft.weather.WeatherMain
      |  --cities-url URL --provinces-url URL --geocode-base URL
      |  --weather-base URL --snapshot-path PATH --facts-path PATH
      |  [--api-key KEY]                 (default: $WEATHER_API_KEY, else unauthenticated)
      |  [--country-code CC]             (default: PH)
      |  [--geocode-per-sec R]           (per-JVM, default: 1)
      |  [--weather-per-sec R]           (per-JVM, default: 60)
      |  [--geocode-per-sec-cluster R]   (cluster-wide budget; overrides per-JVM)
      |  [--weather-per-sec-cluster R]   (cluster-wide budget; overrides per-JVM)
      |  [--executor-jvms N]             (budget divisor; default: live executor count)""".stripMargin

  /** `--key value` args (+ `WEATHER_API_KEY` from `env`) → [[Config]],
    * or a usage-carrying error for anything malformed. Pure so the
    * spec covers every rejection branch without a process.
    */
  private[weather] def parseConfig(args: Array[String],
      env: Map[String, String] = sys.env): Either[String, Config] = {
    val kv = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i)
      if (!k.startsWith("--")) return Left(s"unexpected argument '$k'\n$Usage")
      if (i + 1 >= args.length) return Left(s"missing value for $k\n$Usage")
      kv(k.stripPrefix("--")) = args(i + 1)
      i += 2
    }
    val known = Set("cities-url", "provinces-url", "geocode-base", "weather-base",
      "snapshot-path", "facts-path", "api-key", "country-code",
      "geocode-per-sec", "weather-per-sec",
      "geocode-per-sec-cluster", "weather-per-sec-cluster", "executor-jvms")
    val unknown = kv.keySet.filterNot(known)
    if (unknown.nonEmpty)
      return Left(s"unknown option(s): ${unknown.toSeq.sorted.map("--" + _).mkString(", ")}\n$Usage")
    def req(k: String): Either[String, String] =
      kv.get(k).toRight(s"missing required --$k\n$Usage")
    // the numeric dials are rates and JVM counts — zero/negative would
    // only blow up later inside Throttle.perJvmShare's require (exit 1,
    // stack trace); malformed args must uniformly get the usage error
    // (exit 2), so positivity is validated HERE (ADVICE r11)
    def num(k: String, parse: String => Double): Either[String, Unit] =
      kv.get(k) match {
        case Some(v) =>
          Try(parse(v)).toOption match {
            case None => Left(s"--$k: '$v' is not a number\n$Usage")
            // !(d > 0) (not d <= 0) so NaN is rejected too; infinities
            // are "numbers" to toDouble but not valid rates (ADVICE r12)
            case Some(d) if !(d > 0) || d.isInfinite =>
              Left(s"--$k: '$v' must be positive and finite\n$Usage")
            case _ => Right(())
          }
        case None => Right(())
      }
    for {
      cities <- req("cities-url"); provinces <- req("provinces-url")
      geo <- req("geocode-base"); weather <- req("weather-base")
      snap <- req("snapshot-path"); facts <- req("facts-path")
      _ <- num("geocode-per-sec", _.toDouble); _ <- num("weather-per-sec", _.toDouble)
      _ <- num("geocode-per-sec-cluster", _.toDouble)
      _ <- num("weather-per-sec-cluster", _.toDouble)
      _ <- num("executor-jvms", _.toInt.toDouble)
    } yield Config(cities, provinces, geo, weather, snap, facts,
      apiKey = kv.getOrElse("api-key", env.getOrElse("WEATHER_API_KEY", "")),
      countryCode = kv.getOrElse("country-code", "PH"),
      geocodePerSec = kv.get("geocode-per-sec").map(_.toDouble).getOrElse(1.0),
      weatherPerSec = kv.get("weather-per-sec").map(_.toDouble).getOrElse(60.0),
      geocodePerSecCluster = kv.get("geocode-per-sec-cluster").map(_.toDouble),
      weatherPerSecCluster = kv.get("weather-per-sec-cluster").map(_.toDouble),
      executorJvms = kv.get("executor-jvms").map(_.toInt))
  }

  /** [[main]]'s body returning the exit code instead of calling
    * `sys.exit` — 0 = run completed (Report printed), 1 = run raised,
    * 2 = bad usage — so WeatherMainCliSpec drives the whole entry
    * in-JVM against the loopback server. Reuses (or lazily creates)
    * the ambient SparkSession exactly like any spark-submit app.
    */
  private[weather] def cliRun(args: Array[String]): Int =
    parseConfig(args) match {
      case Left(msg) =>
        System.err.println(msg); 2
      case Right(cfg) =>
        val spark = SparkSession.builder().appName("graft-weather").getOrCreate()
        Try(run(spark, cfg)) match {
          case scala.util.Success(r) =>
            // the reference's end-of-run log lines as one parseable line
            println(s"[weather] refreshed=${r.refreshed} locations=${r.locations} " +
              s"resolved=${r.resolved} factsAppended=${r.factsAppended} " +
              s"missedLookups=${r.missedLookups} " +
              f"diff_s=${r.diffSeconds}%.3f refresh_s=${r.refreshSeconds}%.3f " +
              f"append_s=${r.appendSeconds}%.3f")
            0
          case scala.util.Failure(e) =>
            System.err.println(s"[weather] run failed: $e"); 1
        }
    }

  /** The runnable pipeline (`spark-submit --class graft.weather.WeatherMain`)
    * — the deployment story the reference schedules with Task Scheduler
    * (`README.md:25`): parse config from args/env, run once, print the
    * report, non-zero exit on failure.
    */
  def main(args: Array[String]): Unit = {
    val code = cliRun(args)
    if (code != 0) sys.exit(code)
  }
}
