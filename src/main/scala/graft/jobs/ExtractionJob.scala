package graft.jobs

import java.nio.charset.StandardCharsets
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors, Future, Semaphore}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sinks.LakeWriter
import graft.sources.{EndpointSpec, FetchError, RestClient, RestSource}

/** Per-step outcome — the engine's record of the reference's
  * console-logged skip-on-failure semantics. `bytes` is the payload's
  * UTF-8 length (0 when the fetch failed) and `sinkMillis` the time
  * spent tabularizing, writing and counting it; once steps overlap,
  * the sum of step times is no longer the load time.
  */
final case class StepResult(
    entity: String,
    rows: Option[Long],
    error: Option[String],
    bytes: Long = 0L,
    sinkMillis: Long = 0L) {
  def ok: Boolean = error.isEmpty
}

/** Full-load orchestrator: fetch → normalize → sink for each endpoint
  * spec, as a two-stage pipeline:
  *
  *  - fetch is serial: every GET runs on the calling thread, in spec
  *    order, through the one [[RestClient]] (API rate limits are
  *    global — SURVEY.md §7.4);
  *  - sink overlaps: each fetched body is tabularized, written and
  *    counted on a pool of `P = min(specs.size, defaultParallelism)`
  *    threads, so one step's planning and small jobs fill the cores
  *    another step leaves idle. At most P bodies are fetched and not
  *    yet sunk at any time: the fetch loop blocks until a slot frees.
  *
  * Steps for the same entity still sink in spec order. Per-step
  * skip-on-failure mirrors the reference's guard-and-continue loop
  * (`extract-data-dota.py:126-199`): one failing entity never aborts
  * the others. Unlike the reference — whose S3 write re-raises and
  * kills the whole run (`extract-data-dota.py:83,206-209`) — sink
  * failures are also per-step: they mark the step failed and move on.
  */
final class ExtractionJob(
    spark: SparkSession,
    client: RestClient,
    sink: LakeWriter,
    baseUrl: String) {

  def runStep(spec: EndpointSpec, loadDate: String): StepResult =
    fetch(spec).fold(err => StepResult(spec.name, None, Some(err)), sinkStep(spec, _, loadDate))

  /** Run all steps; returns every outcome in spec order (callers
    * decide whether a partial run is acceptable — the reference treats
    * it as success with logged skips). The pool lives for this call
    * only, so its threads inherit the caller's Spark local properties
    * (job group, description).
    */
  def run(specs: Seq[EndpointSpec], loadDate: String): Seq[StepResult] = {
    val width = math.max(1, math.min(specs.size, spark.sparkContext.defaultParallelism))
    val threads = new ConcurrentLinkedQueue[Thread]()
    val ids = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(width, { (r: Runnable) =>
      val t = new Thread(r, s"graft-extract-${ids.incrementAndGet()}")
      threads.add(t)
      t
    })
    val slots = new Semaphore(width)
    val lastOf = mutable.Map.empty[String, Future[StepResult]]
    try {
      val pending = specs.toVector.map { spec =>
        slots.acquire()
        fetch(spec) match {
          case Left(err) =>
            slots.release()
            Left(StepResult(spec.name, None, Some(err)))
          case Right(body) =>
            val before = lastOf.get(spec.name)
            val task: Callable[StepResult] = { () =>
              try { before.foreach(_.get()); sinkStep(spec, body, loadDate) }
              finally slots.release()
            }
            val f = pool.submit(task)
            lastOf(spec.name) = f
            Right(f)
        }
      }
      pending.map { p =>
        val r = p.fold(identity, f =>
          try f.get() catch { case e: ExecutionException => throw e.getCause })
        r.error.foreach(e => System.err.println(s"[extract] ${r.entity} skipped: $e"))
        r
      }
    } finally {
      pool.shutdownNow()
      threads.forEach(_.join())
    }
  }

  private def fetch(spec: EndpointSpec): Either[String, String] =
    try client.fetch(spec.url(baseUrl), spec.params).left.map(errMsg)
    catch { case e: Exception => Left(e.getMessage) }

  /** Tabularize → write → count one fetched body. */
  private def sinkStep(spec: EndpointSpec, body: String, loadDate: String): StepResult = {
    val t0 = System.nanoTime()
    val bytes = body.getBytes(StandardCharsets.UTF_8).length.toLong
    def done(rows: Option[Long], error: Option[String]) =
      StepResult(spec.name, rows, error, bytes, (System.nanoTime() - t0) / 1000000L)
    try {
      val df = spec.rawNormalize match {
        case Some(f) => f(spark, body)
        case None    => spec.normalize(RestSource.readJson(spark, body, spec.schema))
      }
      sink.write(df, spec.name, loadDate)
      done(Some(df.count()), None)
    } catch {
      case e: Exception => done(None, Some(e.getMessage))
    }
  }

  private def errMsg(e: FetchError): String = e match {
    case FetchError.HttpError(s, m)   => s"http $s: $m"
    case FetchError.EmptyBody(m)      => s"empty body: $m"
    case FetchError.TransportError(m) => s"transport: $m"
    case FetchError.RateLimited(m)    => s"rate limited: $m"
  }
}
