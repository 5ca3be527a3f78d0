package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper

/** Request accounting of [[Emulator]], checked over real loopback
  * sockets. Run by `perfbench/tests/test_perfbench.py`; exits non-zero
  * on the first failed check.
  */
object SelfTest {
  private val feedJson =
    """{"provinces":[{"code":"010000000","name":"Alpha"}],
      |"cities":[{"code":"000000001","name":"City of Bravo","provinceCode":"010000000"}],
      |"epochs":[[{"row":0,"set":{"name":"City of Charlie"}}]],
      |"geocode":{"Bravo":[{"name":"x","lat":10.0,"lon":120.0,"country":"PH","state":"Alpha"}]},
      |"truth":{"locations":1,"resolved":1,"geocode_requests":[1,1],"geocode_resolved":[1,1]}}""".stripMargin

  private def check(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val feed = new WeatherFeed(new ObjectMapper().readTree(feedJson))
    val emu = new Emulator(feed, 100000L, 2, new Trace(false, System.nanoTime()))
    emu.start()
    val client = HttpClient.newHttpClient()
    def get(path: String): HttpResponse[String] = client.send(
      HttpRequest.newBuilder(URI.create(emu.base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    try {
      check("cities status", get("/psgc/cities").statusCode, 200)
      check("provinces body", get("/psgc/provinces").body.contains("Alpha"), true)
      check("known geocode", get("/geocode?q=Bravo%2CPH&limit=5").body.contains("\"lat\":10.0"), true)
      check("unknown geocode", get("/geocode?q=Nowhere%2CPH&limit=5").body, "[]")
      check("weather", get("/weather?lat=10.0&lon=120.0&units=metric").body.contains("\"temp\""), true)
      get("/weather?lat=11.0&lon=121.0&units=metric")
      get("/weather?lat=10.0&lon=120.0&units=metric") // same request again: a retry
      val c = emu.counters
      check("psgc requests", c("http.psgc.requests"), 2.0)
      check("geocode requests", c("http.geocode.requests"), 2.0)
      check("weather requests", c("http.weather.requests"), 3.0)
      check("api requests", c("api_requests"), 7.0)
      check("retries", c("http.retries"), 1.0)
      check("non-200", c("http.non200"), 0.0)
      check("max in flight", c("http.weather.max_inflight"), 1.0)
      check("busy time covers the service latency", c("http.server_busy_s") >= 7 * 1e-4, true)

      emu.newWindow()
      get("/weather?lat=10.0&lon=120.0&units=metric") // new window: not a retry
      check("retries after new window", emu.counters("http.retries"), 1.0)
      check("bad weather query is a 500", get("/weather?lat=x").statusCode, 500)
      check("non-200 counted", emu.counters("http.non200"), 1.0)

      feed.advance()
      check("epoch", feed.epoch, 1)
      check("advanced feed", get("/psgc/cities").body.contains("City of Charlie"), true)

      emu.resetCounters()
      check("reset", emu.counters.values.sum, 0.0)
    } finally emu.stop()
    check("no emulator thread outlives stop",
      Thread.getAllStackTraces.keySet.toArray.map(_.asInstanceOf[Thread])
        .exists(t => t.isAlive && t.getName.startsWith("perfbench-emulator")), false)
    println("SelfTest OK")
  }
}
