package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.analytics.DotaQueries
import graft.jobs.ExtractionJob
import graft.sinks.LakeWriter
import graft.sources.{Endpoints, RestClient, RestResponse, RetryPolicy, Transport}

/** What one pass did: operations attempted and a message per failure. */
final case class Outcome(attempted: Int, failures: Seq[String])

trait Workload {
  /** Called before a pass, outside its timed window. */
  def prepare(): Unit = ()
  /** One timed pass. */
  def pass(id: String, tracer: Tracer): Outcome
  /** The untimed pass that warms the JVM before timing starts. */
  def warmup(tracer: Tracer): Outcome = pass("warmup", tracer)
  /** Where the program's lake commits land during a pass. */
  def sinkDir: Path
}

object Workload {
  /** Parquet files and their bytes under `dir`. */
  def parquetUnder(dir: Path): (Long, Long) =
    if (!Files.isDirectory(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }
}

object Workloads {
  /** Board queries with the graft module whose public function each builds on. */
  val DriverBound: Seq[(String, String)] = Seq(
    "t229_bpe_merges" -> "ops", "t236_stream_trend" -> "streaming", "q116_lake_sql" -> "plans")

  /** Typical seconds of one warm pass; a run measures `--seconds` of them. */
  val NominalPassS: Map[String, Double] = Map("ingest_lake" -> 4.0, "driver_bound" -> 8.0)
}

/** Order-independent result fingerprint: row count and the exact sum of
  * a 64-bit hash of every row over all columns.
  */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  /** `df` with its fingerprint attached as observed metrics, so the
    * terminal action computes it in the same execution. Columns are
    * renamed by position so that any output names can be hashed.
    */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    named.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(named.columns.toIndexedSeq.map(col): _*).cast(DecimalType(38, 0))).as("hash"))
  }

  def of(obs: Observation): Fingerprint = {
    val m = obs.get
    Fingerprint(m("rows").asInstanceOf[Long], Option(m("hash")).fold("0")(_.toString))
  }
}

/** A board workload: each query is built through `SparkEntry.queries`
  * and written to the `noop` sink, caches released in between. The
  * seed fixes the query order; each pass rotates it by one, so every
  * query takes every position over a run's passes.
  */
final class Board(spark: SparkSession, dataDir: String, queries: Seq[(String, String)],
    expected: Map[String, Fingerprint], seed: Long) extends Workload {
  private val order = Payloads.shuffle(queries, seed).map { case (q, m) =>
    (q, Some(m), graft.SparkEntry.queries(q))
  }
  private var passes = 0
  /** The gates' lake commits land under the temp directory. */
  val sinkDir: Path = Path.of(System.getProperty("java.io.tmpdir"))

  def run(tracer: Tracer): Seq[(String, Either[String, Fingerprint])] = {
    val k = passes % order.size
    passes += 1
    (order.drop(k) ++ order.take(k)).map { case (q, module, build) =>
      graft.core.GraftCaches.release(spark)
      q -> (try {
        val df = tracer.span("query.construct", q, module)(build(spark, dataDir))
        val obs = Observation(s"fp-$q-${System.nanoTime()}")
        tracer.span("query.execute", q, module) {
          Fingerprint.observe(df, obs).write.format("noop").mode("overwrite").save()
        }
        Right(Fingerprint.of(obs))
      } catch { case NonFatal(e) => Left(s"$q: $e") })
    }
  }

  def pass(id: String, tracer: Tracer): Outcome = {
    val failures = run(tracer).flatMap {
      case (_, Left(err)) => Some(err)
      case (q, Right(fp)) if !expected.get(q).contains(fp) =>
        Some(s"$q: fingerprint $fp, expected ${expected.get(q)}")
      case _ => None
    }
    Outcome(order.size, failures)
  }

}

/** Serves each route's body after the route's scheduled transient
  * failures. One instance serves one load.
  */
final class ScheduledTransport(base: String, bodies: Map[String, String],
    faults: Map[String, Seq[Int]]) extends Transport {
  private val served = mutable.Map.empty[String, Int].withDefaultValue(0)
  override def get(url: String, params: Map[String, String]): RestResponse = {
    val path = url.stripPrefix(base)
    val n = served(path)
    served(path) = n + 1
    faults.getOrElse(path, Nil).lift(n) match {
      case Some(status) => RestResponse(status, "")
      case None => bodies.get(path).fold(RestResponse(404, ""))(RestResponse(200, _))
    }
  }
}

/** The ingest workload. Each pass is the next monthly full load into
  * one lake that grows from pass to pass, followed by the analyst
  * queries over the whole lake. The warm-up writes the first month.
  */
final class Ingest(spark: SparkSession, work: Path, loads: Iterator[Load], seed: Long) extends Workload {
  private val base = "http://opendota.bench/api"
  val sinkDir: Path = work.resolve("lake")
  private val lake = new LakeWriter(sinkDir.toString)
  private var load: Load = _

  override def prepare(): Unit = load = loads.next()

  override def warmup(tracer: Tracer): Outcome = {
    prepare()
    pass("warmup", tracer)
  }

  def pass(id: String, tracer: Tracer): Outcome = {
    val failures = mutable.ArrayBuffer.empty[String]
    val transport = new ScheduledTransport(base, load.bodies, Payloads.faults(seed, load.month))
    val client = new RestClient(tracer.transport(transport), Ingest.Policy, tracer.sleeper)
    val job = new ExtractionJob(spark, client, lake, base)
    val steps = tracer.span("jobs.run", load.date, Some("jobs"))(job.run(Endpoints.fullLoad, load.date))
    tracer.count("jobs.steps", steps.size.toDouble)
    failures ++= Endpoints.fullLoad.map(_.name).flatMap { name =>
      steps.find(_.entity == name) match {
        case Some(r) if r.ok && r.rows.contains(load.rows(name)) => None
        case r => Some(s"${load.date} $name: $r, expected ${load.rows(name)} rows")
      }
    }
    def analyst(name: String)(q: => Array[Row])(expected: Seq[Row]): Unit =
      try {
        val got = tracer.span("analytics.query", name, Some("analytics"))(q).toSeq
        if (got != expected) failures += s"${load.date} $name: $got, expected $expected"
      } catch { case NonFatal(e) => failures += s"${load.date} $name: $e" }
    def matches = lake.read(spark, "public_matches")
    val a = load.answers
    analyst("avgDurationBy")(DotaQueries.avgDurationBy(matches,
      lake.read(spark, "lobby_type").filter(col("load_date") === load.date)).collect())(
      a.durations.map(r => Row(r.lobbyType, r.lobbyName, r.nMatches, r.avgDuration)))
    analyst("bracketPerf")(DotaQueries.bracketPerf(matches).collect())(
      a.brackets.map(r => Row(r.bracket.map(Long.box).orNull, r.nMatches, r.avgDuration, r.radiantWins, r.radiantWinRate)))
    analyst("topItems")(DotaQueries.topItems(lake.read(spark, "scenarios_item_timings")).collect())(
      a.items.map(r => Row(r.item, r.games, r.wins, r.winRate)))
    Outcome(Endpoints.fullLoad.size + 3, failures.toSeq)
  }
}

object Ingest {
  /** Millisecond pauses: real pause time, but short. */
  val Policy: RetryPolicy = RetryPolicy(maxRetries = 3, backoffMillis = 2L,
    rateLimitPauseMillis = 5L, maxRateLimitRetries = 3)

  /** Reads the source rows of the payloads from the fixture tables. */
  def inputs(spark: SparkSession, dataDir: String): Inputs = {
    def t(n: String) = spark.read.parquet(s"$dataDir/$n.parquet")
    Inputs(
      orders = t("orders").selectExpr("o_orderkey", "o_custkey", "CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)")
        .orderBy("o_orderkey").collect().toSeq.map(r => Order(r.getLong(0), r.getLong(1), r.getLong(2))),
      lineItems = t("lineitem").selectExpr("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_returnflag").orderBy("l_orderkey", "l_linenumber").collect().toSeq
        .map(r => LineItem(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4), r.getString(5))),
      customers = t("customer").select("c_custkey", "c_name", "c_acctbal").orderBy("c_custkey").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))),
      nations = t("nation").select("n_nationkey", "n_name").orderBy("n_nationkey").collect().toSeq
        .map(r => (r.getInt(0), r.getString(1))),
      suppliers = t("supplier").select("s_suppkey", "s_name").orderBy("s_suppkey").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1))))
  }
}
