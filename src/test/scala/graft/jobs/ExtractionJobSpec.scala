package graft.jobs

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sinks.LakeWriter
import graft.sources._

/** End-to-end fixture-replay of the full-load pipeline: scripted
  * transport (zero egress), injected failure in the middle step,
  * partitioned lake round-trip.
  */
class ExtractionJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private final class RouteTransport(routes: Map[String, RestResponse]) extends Transport {
    override def get(url: String, params: Map[String, String]): RestResponse =
      routes.getOrElse(url.split('?').head, RestResponse(500, ""))
  }

  private def mkJob(routes: Map[String, RestResponse], root: String): ExtractionJob = {
    val client = new RestClient(new RouteTransport(routes),
      RetryPolicy(maxRetries = 1, backoffMillis = 1), _ => ())
    new ExtractionJob(spark, client, new LakeWriter(root), "http://api.test")
  }

  /** Serves `[{"id":0},…]` with `rows(url)` elements, recording each
    * call's URL and thread, and whether two calls were ever in flight
    * at once.
    */
  private final class RecordingTransport(rows: Map[String, Int]) extends Transport {
    val calls = new ConcurrentLinkedQueue[(String, Thread)]()
    private val inFlight = new AtomicInteger()
    @volatile var overlapped = false
    override def get(url: String, params: Map[String, String]): RestResponse = {
      if (inFlight.incrementAndGet() > 1) overlapped = true
      try {
        calls.add(url -> Thread.currentThread())
        Thread.sleep(2) // widen the window an overlapping call would need
        rows.get(url).fold(RestResponse(404, ""))(n =>
          RestResponse(200, (0 until n).map(i => s"""{"id":$i}""").mkString("[", ",", "]")))
      } finally { inFlight.decrementAndGet(); () }
    }
  }

  private val base = "http://api.test"

  private def recordingJob(specs: Seq[EndpointSpec], root: String): (ExtractionJob, RecordingTransport) = {
    val transport = new RecordingTransport(specs.zipWithIndex.map { case (s, i) => s.url(base) -> (i + 1) }.toMap)
    val client = new RestClient(transport, RetryPolicy(maxRetries = 1, backoffMillis = 1), _ => ())
    (new ExtractionJob(spark, client, new LakeWriter(root), base), transport)
  }

  private def extractThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-extract-")).toSet

  private val specs = Seq(
    Endpoints.publicMatches,
    Endpoints.heroes,
    Endpoints.lobbyTypes)

  test("failing middle step is skipped, later steps still run, lake is partitioned") {
    val root = Files.createTempDirectory("lake").toString
    val job = mkJob(Map(
      "http://api.test/publicMatches" -> RestResponse(200, Fixtures.publicMatchesJson),
      // heroes endpoint down → step must fail WITHOUT killing the run
      "http://api.test/heroes" -> RestResponse(503, ""),
      "http://api.test/constants/lobby_type" -> RestResponse(200, Fixtures.lobbyTypesJson)),
      root)

    val results = job.run(specs, loadDate = "2026-08-01")
    assert(results.map(_.ok) == Seq(true, false, true))
    assert(results(0).rows.contains(3L))
    assert(results(2).rows.contains(3L))

    // lake round-trip: date is a real partition column
    val pm = spark.read.parquet(s"$root/public_matches")
    assert(pm.count() == 3)
    assert(pm.columns.contains("load_date"))
    assert(pm.columns.contains("radiant_hero_1")) // normalize ran before sink
    assert(new java.io.File(s"$root/public_matches/load_date=2026-08-01").isDirectory)
  }

  test("partition pruning reaches the scan when filtering on load_date") {
    val root = Files.createTempDirectory("lake").toString
    val job = mkJob(Map(
      "http://api.test/publicMatches" -> RestResponse(200, Fixtures.publicMatchesJson)), root)
    job.run(Seq(Endpoints.publicMatches), "2026-07-01")
    job.run(Seq(Endpoints.publicMatches), "2026-08-01")

    val pruned = spark.read.parquet(s"$root/public_matches")
      .filter(org.apache.spark.sql.functions.col("load_date") === "2026-08-01")
    assert(pruned.count() == 3) // not 6: only one snapshot read
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("load_date"),
      s"expected partition pruning in plan:\n$plan")
  }

  test("dynamic partition overwrite re-runs replace only their own date") {
    val root = Files.createTempDirectory("lake").toString
    val job = mkJob(Map(
      "http://api.test/publicMatches" -> RestResponse(200, Fixtures.publicMatchesJson)), root)
    job.run(Seq(Endpoints.publicMatches), "2026-07-01")
    job.run(Seq(Endpoints.publicMatches), "2026-08-01")
    job.run(Seq(Endpoints.publicMatches), "2026-08-01") // re-run same month
    assert(spark.read.parquet(s"$root/public_matches").count() == 6) // both months, no dupes
  }

  test("fetch is serial: every GET runs on the calling thread, in spec order, one at a time") {
    val root = Files.createTempDirectory("lake").toString
    val steps = (1 to 8).map(i => EndpointSpec(s"e$i", s"/e$i"))
    val (job, transport) = recordingJob(steps, root)
    val results = job.run(steps, "2026-08-01")

    assert(results.map(_.entity) == steps.map(_.name))
    assert(results.map(_.rows) == (1 to 8).map(n => Some(n.toLong)))
    assert(results.forall(r => r.bytes > 0 && r.sinkMillis >= 0))
    val calls = transport.calls.asScala.toSeq
    assert(calls.map(_._1) == steps.map(_.url(base)))
    assert(calls.forall(_._2 eq Thread.currentThread()))
    assert(!transport.overlapped)
    assert(extractThreads.isEmpty)
  }

  test("the fetch loop stops while P fetched bodies wait to be sunk") {
    val root = Files.createTempDirectory("lake").toString
    val p = spark.sparkContext.defaultParallelism
    val gate = new CountDownLatch(1)
    val entered = new AtomicInteger()
    val steps = (1 to p + 3).map(i => EndpointSpec(s"e$i", s"/e$i", rawNormalize = Some { (s, body) =>
      entered.incrementAndGet()
      gate.await()
      RestSource.readJson(s, body)
    }))
    val (job, transport) = recordingJob(steps, root)
    val results = new AtomicReference[Seq[StepResult]]()
    val caller = new Thread(() => results.set(job.run(steps, "2026-08-01")))
    caller.setDaemon(true)
    caller.start()
    try {
      val deadline = System.currentTimeMillis() + 60000L
      while (entered.get < p && System.currentTimeMillis() < deadline) Thread.sleep(10)
      Thread.sleep(300) // room for a fetch that should not happen
      assert(entered.get == p)
      assert(transport.calls.size == p, "the fetch loop ran ahead of the sink slots")
    } finally gate.countDown()
    caller.join(120000L)
    assert(!caller.isAlive)
    assert(results.get.map(_.rows) == (1 to p + 3).map(n => Some(n.toLong)))
    assert(transport.calls.asScala.forall(_._2 eq caller))
  }

  test("under overlap a failing normalization and a failing sink each fail alone") {
    val root = Files.createTempDirectory("lake").toString
    val steps = Seq(
      EndpointSpec("a", "/a"),
      EndpointSpec("bad_normalize", "/n", rawNormalize = Some((_, _) => throw new IllegalStateException("normalize boom"))),
      EndpointSpec("b", "/b"),
      EndpointSpec("bad_sink", "/s", rawNormalize = Some((s, _) =>
        s.range(3).select(when(col("id") === 2, raise_error(lit("sink boom"))).otherwise(col("id")).as("id")))),
      EndpointSpec("c", "/c"),
      EndpointSpec("d", "/d"))
    val (job, _) = recordingJob(steps, root)
    val results = job.run(steps, "2026-08-01")

    assert(results.map(_.entity) == steps.map(_.name))
    assert(results.map(_.ok) == Seq(true, false, true, false, true, true))
    assert(results(1).error.exists(_.contains("normalize boom")))
    assert(results(1).bytes > 0) // fetched, then failed in the sink stage
    Seq("a" -> 1, "b" -> 3, "c" -> 5, "d" -> 6).foreach { case (entity, n) =>
      assert(spark.read.parquet(s"$root/$entity").count() == n, entity)
    }
    assert(extractThreads.isEmpty)
  }

  test("steps for the same entity sink in spec order") {
    val root = Files.createTempDirectory("lake").toString
    val steps = Seq(EndpointSpec("same", "/first"), EndpointSpec("other", "/other"), EndpointSpec("same", "/second"))
    val (job, _) = recordingJob(steps, root)
    assert(job.run(steps, "2026-08-01").forall(_.ok))
    assert(spark.read.parquet(s"$root/same").count() == 3) // the second body replaced the first
  }
}
