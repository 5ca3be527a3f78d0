package graft.sources

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkSpec

/** Drives the real HTTP connector end-to-end against an in-process
  * loopback server (JDK `com.sun.net.httpserver`) — actual sockets,
  * actual status codes, no network egress. Proves the production
  * function that plugs into the fetch seams: 200→body, non-200→empty
  * (F4), bounded retries on 5xx with eventual success, no retry on
  * 4xx — and the full deployment composition, executors fetching in a
  * plain `map` behind [[Throttle.acquire]].
  */
class HttpSpec extends SparkSpec {

  private def withServer(routes: Map[String, HttpExchange => Unit])(f: Int => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    routes.foreach { case (path, h) =>
      server.createContext(path, (ex: HttpExchange) => { h(ex); ex.close() })
    }
    server.start()
    try f(server.getAddress.getPort) finally server.stop(0)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  test("200 returns the body; non-200 and unreachable degrade to None (F4)") {
    withServer(Map(
      "/ok" -> (respond(_, 200, """{"weather":[{"main":"Rain"}]}""")),
      "/missing" -> (respond(_, 404, "not found"))
    )) { port =>
      assert(Http.getJson(s"http://127.0.0.1:$port/ok")
        === Some("""{"weather":[{"main":"Rain"}]}"""))
      assert(Http.getJson(s"http://127.0.0.1:$port/missing") === None)
    }
    // connection refused (nothing listening): transport failure -> None
    assert(Http.getJson("http://127.0.0.1:1/none", readTimeoutMs = 500, retries = 0) === None)
  }

  test("5xx retries with backoff and succeeds when the service recovers") {
    val calls = new AtomicInteger(0)
    withServer(Map(
      "/flaky" -> { ex =>
        if (calls.incrementAndGet() < 3) respond(ex, 503, "unavailable")
        else respond(ex, 200, "recovered")
      }
    )) { port =>
      val r = Http.get(s"http://127.0.0.1:$port/flaky", retries = 3, backoffMs = 10)
      assert(r.get.status === 200)
      assert(r.get.body === "recovered")
      assert(calls.get() === 3)
    }
  }

  test("4xx is data, not flakiness: no retry") {
    val calls = new AtomicInteger(0)
    withServer(Map(
      "/bad" -> { ex => calls.incrementAndGet(); respond(ex, 400, "bad request") }
    )) { port =>
      val r = Http.get(s"http://127.0.0.1:$port/bad", retries = 3, backoffMs = 10)
      assert(r.get.status === 400)
      assert(calls.get() === 1)
    }
  }

  test("deployment composition: executors fetch through the throttled seam") {
    import spark.implicits._
    val calls = new AtomicInteger(0)
    withServer(Map(
      "/loc" -> { ex =>
        calls.incrementAndGet()
        val id = ex.getRequestURI.getQuery.stripPrefix("id=")
        respond(ex, 200, s"""{"location":$id}""")
      }
    )) { port =>
      val ids = spark.range(0, 8).as[Long].repartition(2)
      // the production shape of WeatherMain.weatherFetcher: acquire the
      // per-JVM bucket, then fetch
      val key = s"spec-loc-${System.nanoTime()}"
      val bodies = ids.map { id =>
        Throttle.acquire(key, 1000.0)
        Http.getJson(s"http://127.0.0.1:$port/loc?id=$id").getOrElse("")
      }.collect().sorted
      assert(calls.get() === 8)
      assert(bodies.toSeq === (0 until 8).map(i => s"""{"location":$i}"""))
    }
  }

  test("the connector slots into the ingest seam: JSON lands as a relation") {
    withServer(Map(
      "/weather" -> (respond(_, 200,
        """{"weather":[{"id":501,"main":"Rain","description":"moderate rain"}],
          |"main":{"temp":300.15,"feels_like":301.0,"temp_min":299.0,"temp_max":301.0,
          |"pressure":1005,"humidity":80},"visibility":10000,
          |"wind":{"speed":4.1,"deg":200},"clouds":{"all":90},"rain":{"1h":2.5},
          |"dt":1700000000,"sys":{"sunrise":1699999000,"sunset":1700040000},
          |"timezone":28800}""".stripMargin))
    )) { port =>
      val body = Http.getJson(s"http://127.0.0.1:$port/weather")
      assert(body.isDefined)
      assert(body.get.contains("\"main\":\"Rain\""))
    }
  }
}
