package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The PSGC feed, geocode table and ground truth of one seed, as written
  * by `weathergen.py`. Epoch 0 is the bootstrap feed; epoch e >= 1
  * applies change set e on top of epoch e - 1.
  */
final class WeatherFeed(inputs: JsonNode) {
  private val mapper = new ObjectMapper()
  private val rows: Array[ObjectNode] =
    (0 until inputs.get("cities").size).map(i => inputs.get("cities").get(i).deepCopy[ObjectNode]()).toArray
  private val changes = inputs.get("epochs")
  private val geocodeTable = inputs.get("geocode")
  private val truth = inputs.get("truth")

  val provincesJson: String = mapper.writeValueAsString(inputs.get("provinces"))
  val locations: Long = truth.get("locations").asLong
  val resolved: Long = truth.get("resolved").asLong
  val maxEpoch: Int = changes.size

  @volatile private var epochNow = 0
  @volatile private var citiesNow: String = render()

  def epoch: Int = epochNow
  def citiesJson: String = citiesNow

  /** Geocode requests a correct refresh sends for epoch `e`: every
    * name variant tried for each changed row (all rows at epoch 0).
    */
  def expectedGeocodeRequests(e: Int): Long = truth.get("geocode_requests").get(e).asLong

  /** How many of the rows geocoded at epoch `e` resolve. */
  def expectedGeocodeResolved(e: Int): Long = truth.get("geocode_resolved").get(e).asLong

  /** Apply the next change set; returns the new epoch. */
  def advance(): Int = synchronized {
    require(epochNow < maxEpoch, s"generator produced only $maxEpoch change epochs")
    val set = changes.get(epochNow)
    (0 until set.size).foreach { i =>
      val c = set.get(i)
      val row = rows(c.get("row").asInt)
      c.get("set").fields().forEachRemaining(f => row.set[JsonNode](f.getKey, f.getValue))
    }
    epochNow += 1
    citiesNow = render()
    epochNow
  }

  /** Candidate array for one geocode query (`name,CC`); unknown → `[]`. */
  def geocode(query: String): String = {
    val name = query.stripSuffix(",PH")
    Option(geocodeTable.get(name)).map(mapper.writeValueAsString).getOrElse("[]")
  }

  private def render(): String = {
    val arr: ArrayNode = mapper.createArrayNode()
    rows.foreach(arr.add)
    mapper.writeValueAsString(arr)
  }
}

object WeatherFeed {
  def load(path: String): WeatherFeed =
    new WeatherFeed(new ObjectMapper().readTree(new java.io.File(path)))

  /** Deterministic OpenWeather-shaped body for one coordinate. A quarter
    * of the coordinates omit `rain`, another quarter omit `wind.deg` and
    * `visibility`, so both shred defaults are exercised.
    */
  def weatherBody(lat: Double, lon: Double): String = {
    val h = java.lang.Double.hashCode(lat * 31 + lon) & 0x7fffffff
    val temp = 20.0 + (lat % 10)
    val rain = if (h % 4 == 1) "" else f""","rain":{"1h":${(h % 50) / 10.0}%.1f}"""
    val wind = if (h % 4 == 2) f"""{"speed":${(h % 90) / 10.0}%.1f}"""
      else f"""{"speed":${(h % 90) / 10.0}%.1f,"deg":${h % 360}}"""
    val vis = if (h % 4 == 2) "" else s""","visibility":${5000 + h % 5000}"""
    val main = Seq("Clouds", "Rain", "Clear")(h % 3)
    s"""{"weather":[{"main":"$main","description":"${main.toLowerCase} sky"}],""" +
      f""""main":{"temp":$temp%.2f,"feels_like":${temp + 1}%.2f,"temp_min":${temp - 1}%.2f,""" +
      f""""temp_max":${temp + 2}%.2f,"pressure":${1000 + h % 20},"humidity":${50 + h % 50}},""" +
      s""""wind":$wind$vis$rain,"clouds":{"all":${h % 100}},""" +
      s""""sys":{"sunrise":${1734645600L + h % 600},"sunset":${1734688800L + h % 600}}}"""
  }
}

/** Loopback stand-in for the three APIs the weather pipeline calls
  * (PSGC feeds, geocode, current weather), counting every request.
  *
  * The JDK server batches small responses behind delayed ACKs unless
  * `sun.net.httpserver.nodelay` is set before its classes load; without
  * it each request costs ~60 ms and a tick measures the TCP stack, so
  * [[Emulator.start]] refuses to run without the flag. A fixed service
  * latency stands in for the remote API's own time. At most `threads`
  * daemon threads serve requests, so the emulator can never keep the
  * JVM alive after `main` returns.
  */
final class Emulator(feed: WeatherFeed, latencyNs: Long, threads: Int, trace: Trace) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicInteger(0)
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"perfbench-emulator-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  private val requests = new ConcurrentHashMap[String, AtomicLong]()
  private val busyNs = new AtomicLong(0)
  private val non200 = new AtomicLong(0)
  private val repeats = new AtomicLong(0)
  private val weatherInflight = new AtomicInteger(0)
  private val weatherMaxInflight = new AtomicInteger(0)
  // (endpoint, query) seen since the last window reset: a second
  // identical request in one tick is a client retry or a recompute
  private val seen = ConcurrentHashMap.newKeySet[String]()

  val port: Int = {
    route("/psgc/cities", "psgc", _ => feed.citiesJson)
    route("/psgc/provinces", "psgc", _ => feed.provincesJson)
    route("/geocode", "geocode", q => feed.geocode(q.getOrElse("q", "")))
    route("/weather", "weather", q =>
      WeatherFeed.weatherBody(q("lat").toDouble, q("lon").toDouble))
    server.setExecutor(pool)
    server.getAddress.getPort
  }

  def base: String = s"http://127.0.0.1:$port"

  def start(): Unit = {
    require(System.getProperty("sun.net.httpserver.nodelay") == "true",
      "sun.net.httpserver.nodelay must be true before the server starts")
    server.start()
  }

  /** Stop serving and wait until every pool thread has ended. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  def count(endpoint: String): Long = Option(requests.get(endpoint)).map(_.get).getOrElse(0L)
  def total: Long = Seq("psgc", "geocode", "weather").map(count).sum

  /** Forget which requests were already seen (call between ticks). */
  def newWindow(): Unit = seen.clear()

  def counters: Map[String, Double] = Map(
    "http.psgc.requests" -> count("psgc").toDouble,
    "http.geocode.requests" -> count("geocode").toDouble,
    "http.weather.requests" -> count("weather").toDouble,
    "http.weather.max_inflight" -> weatherMaxInflight.get.toDouble,
    "http.server_busy_s" -> busyNs.get / 1e9,
    "http.non200" -> non200.get.toDouble,
    "http.retries" -> repeats.get.toDouble,
    "api_requests" -> total.toDouble)

  /** Zero every counter (the timed region counts from here). */
  def resetCounters(): Unit = {
    requests.clear(); busyNs.set(0); non200.set(0); repeats.set(0)
    weatherMaxInflight.set(0); seen.clear()
  }

  private def route(path: String, endpoint: String,
      body: Map[String, String] => String): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      requests.computeIfAbsent(endpoint, _ => new AtomicLong(0)).incrementAndGet()
      val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      if (!seen.add(path + "?" + raw)) repeats.incrementAndGet()
      if (endpoint == "weather")
        weatherMaxInflight.accumulateAndGet(weatherInflight.incrementAndGet(), math.max)
      try {
        if (latencyNs > 0) LockSupport.parkNanos(latencyNs)
        val (status, text) =
          try (200, body(Emulator.params(raw)))
          catch { case e: Exception => (500, e.toString) }
        if (status != 200) non200.incrementAndGet()
        val bytes = text.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(status, bytes.length)
        ex.getResponseBody.write(bytes)
      } finally {
        ex.close()
        if (endpoint == "weather") weatherInflight.decrementAndGet()
        val t1 = System.nanoTime()
        busyNs.addAndGet(t1 - t0)
        trace.request(endpoint, t0, t1)
      }
    })
}

object Emulator {
  /** Form-decoded query parameters (`+` is a space). */
  def params(raw: String): Map[String, String] =
    raw.split("&").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) kv -> "" else kv.substring(0, i) -> URLDecoder.decode(kv.substring(i + 1), "UTF-8")
    }.toMap
}
