package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse => JHttpResponse}
import java.time.Duration

/** Resilient REST transport for the ingestion connector.
  *
  * Mirrors the reference's reliability envelope (capability, not code:
  * `opendotaapi.py:45-93`) with one deliberate hardening: the
  * reference retries 429s by sleeping 60 s and recursing WITHOUT a
  * bound (`opendotaapi.py:79-82`); here rate-limit retries are capped
  * (`maxRateLimitRetries`) so a stuck API can't hang a pipeline
  * forever.
  *
  * All fetching happens on the DRIVER (or a dedicated single-partition
  * task): API rate limits are global, so per-executor retry loops
  * would multiply pressure instead of shedding it (SURVEY.md §7.4).
  * Parallelism starts AFTER the fetch: `ExtractionJob.run` keeps every
  * call on its calling thread, in spec order, and overlaps only the
  * tabularize → write → count of already-fetched bodies, at most
  * `min(specs, defaultParallelism)` of them in flight at once.
  */
final case class RetryPolicy(
    maxRetries: Int = 3,                      // opendotaapi.py:47
    backoffMillis: Long = 1000L,              // backoff_factor=1 → 1s,2s,4s (opendotaapi.py:48)
    retryStatuses: Set[Int] = Set(429, 500, 502, 503, 504), // opendotaapi.py:49
    rateLimitPauseMillis: Long = 60000L,      // opendotaapi.py:80-81
    maxRateLimitRetries: Int = 5,             // bounded, unlike opendotaapi.py:82
    minIntervalMillis: Long = 0L              // token-bucket floor between calls
)

sealed trait FetchError { def message: String }
object FetchError {
  final case class HttpError(status: Int, message: String) extends FetchError
  final case class EmptyBody(message: String) extends FetchError
  final case class TransportError(message: String) extends FetchError
  final case class RateLimited(message: String) extends FetchError
}

final case class RestResponse(status: Int, body: String)

/** Pluggable transport so tests replay canned fixtures with zero
  * egress; the real implementation is a thin java.net.http wrapper.
  */
trait Transport {
  def get(url: String, params: Map[String, String]): RestResponse
}

final class JavaHttpTransport(timeout: Duration = Duration.ofSeconds(30)) extends Transport {
  private lazy val client = HttpClient.newBuilder().connectTimeout(timeout).build()
  override def get(url: String, params: Map[String, String]): RestResponse = {
    val qs =
      if (params.isEmpty) ""
      else params.map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("?", "&", "")
    val req = HttpRequest.newBuilder(URI.create(url + qs)).timeout(timeout).GET().build()
    val resp = client.send(req, JHttpResponse.BodyHandlers.ofString())
    RestResponse(resp.statusCode(), resp.body())
  }
}

/** Retrying, rate-limited GET client. Single-threaded by design (see
  * class note above); `sleeper` is injectable so specs run instantly.
  */
final class RestClient(
    transport: Transport,
    policy: RetryPolicy = RetryPolicy(),
    sleeper: Long => Unit = Thread.sleep) {

  private var lastCallAt = 0L

  private def throttle(): Unit = {
    if (policy.minIntervalMillis > 0) {
      val wait = lastCallAt + policy.minIntervalMillis - System.currentTimeMillis()
      if (wait > 0) sleeper(wait)
    }
    lastCallAt = System.currentTimeMillis()
  }

  /** GET with retry/backoff on retryable statuses, bounded 429
    * pauses, empty-body and transport guards. Error taxonomy mirrors
    * the reference's (`opendotaapi.py:70-93`): every failure mode
    * degrades to a typed Left, never an exception, so the
    * orchestrator can skip-and-continue per entity.
    */
  def fetch(url: String, params: Map[String, String] = Map.empty): Either[FetchError, String] = {
    var rateLimitRetries = 0
    var attempt = 0
    while (true) {
      throttle()
      val resp =
        try transport.get(url, params)
        catch {
          case e: Exception =>
            if (attempt < policy.maxRetries) {
              sleeper(policy.backoffMillis << attempt); attempt += 1
              null
            } else return Left(FetchError.TransportError(s"$url: ${e.getMessage}"))
        }
      if (resp != null) {
        resp.status match {
          case 200 =>
            return if (resp.body == null || resp.body.trim.isEmpty)
              Left(FetchError.EmptyBody(url))
            else Right(resp.body)
          case 429 =>
            if (rateLimitRetries < policy.maxRateLimitRetries) {
              sleeper(policy.rateLimitPauseMillis); rateLimitRetries += 1
            } else return Left(FetchError.RateLimited(s"$url: gave up after $rateLimitRetries pauses"))
          case s if policy.retryStatuses(s) && attempt < policy.maxRetries =>
            sleeper(policy.backoffMillis << attempt); attempt += 1
          case 404 =>
            return Left(FetchError.HttpError(404, s"$url: not found"))
          case s =>
            return Left(FetchError.HttpError(s, s"$url: HTTP $s"))
        }
      }
    }
    sys.error("unreachable")
  }
}
