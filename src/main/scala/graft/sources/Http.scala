package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.util.{Failure, Success, Try}

/** Real HTTP connector for the fetch seams (`weather_data_fetcher.py:42`
  * cities/provinces GET, `:136` geocode GET, `:261` weather GET). The
  * jobs stay injectable — tests and offline runs pass fixture payloads —
  * and THIS is the production function a deployment plugs into those
  * seams. Built on the JDK's `java.net.http.HttpClient` (no new
  * dependency); behavior mirrors the reference's `requests` usage:
  * status ≠ 200 or a transport error degrades to an empty result (F4,
  * `weather_data_fetcher.py:46-50`), with bounded retries on transient
  * failures (5xx / IO errors) that the reference's scheduler-rerun
  * model implies.
  *
  * Scale note: executors call it from a plain `map`, each call behind
  * [[Throttle.acquire]] (the shape of the weather connectors in
  * [[graft.weather.WeatherMain]]) — executors each hold one shared
  * client; the connector itself is a plain function so it serializes
  * into the existing seams unchanged.
  */
object Http {

  final case class Response(status: Int, body: String)

  private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(5))
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  /** GET with bounded retries: a 5xx status or transport error retries
    * up to `retries` times with linear backoff; 4xx does not (the
    * reference treats client errors as data, not flakiness).
    */
  def get(url: String, readTimeoutMs: Long = 10000,
      retries: Int = 2, backoffMs: Long = 100): Try[Response] = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(readTimeoutMs)).GET().build()
    // Backoff inside Try: task cancellation interrupts executor
    // threads, and an InterruptedException escaping here would break
    // the Try/Option contract getJson callers rely on — restore the
    // interrupt flag and surface a Failure instead.
    def backoff(left: Int): Try[Unit] =
      Try(Thread.sleep(backoffMs * (retries - left + 1))).recoverWith {
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); Failure(e)
      }
    def attempt(left: Int): Try[Response] =
      Try(client.send(req, HttpResponse.BodyHandlers.ofString())) match {
        case Success(r) if r.statusCode() >= 500 && left > 0 =>
          backoff(left).flatMap(_ => attempt(left - 1))
        case Success(r) => Success(Response(r.statusCode(), r.body()))
        case Failure(_) if left > 0 =>
          backoff(left).flatMap(_ => attempt(left - 1))
        case Failure(e) => Failure(e)
      }
    attempt(retries)
  }

  /** The shape the fetch seams consume: body on HTTP 200, None on any
    * other status or transport failure — error→empty (F4), so a feed
    * outage produces an empty relation, never a crashed job.
    */
  def getJson(url: String, readTimeoutMs: Long = 10000, retries: Int = 2): Option[String] =
    get(url, readTimeoutMs, retries).toOption.collect {
      case Response(200, body) => body
    }
}
