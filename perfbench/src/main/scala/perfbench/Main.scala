package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Runs one benchmark workload and writes its result line.
  *
  *   --workload ingest_lake|driver_bound  --seed N  --seconds S
  *   --trace 0|1  --cores N  --data DIR  --work DIR  --fingerprints FILE
  *   --result FILE  --launched-us T  [--spans FILE]
  *
  * Set-up (session, inputs, one untimed warm-up pass) counts from
  * `--launched-us`, the epoch microsecond at which the JVM was started.
  * Then round(`--seconds` / the workload's nominal pass seconds) passes
  * run back to back, at least one; with `--trace 1` at least three,
  * alternating plain and traced. Times are medians over the passes. `--record FILE` instead runs every
  * board query once and writes their fingerprints. A traced run
  * writes every span it recorded to `--spans`, one JSON object a line.
  */
object Main {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class Pass(wallS: Double, cpuS: Double, traced: Boolean, layers: Map[String, Double])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(sys.error("VmHWM not reported"))

  /** End-to-end metrics (`--trace 0`) and per-layer metrics (`--trace 1`). */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_s" -> "s", "cpu_s" -> "s",
    "peak_rss_mb" -> "MB", "op_ok_ratio" -> "ratio")
  val PerLayer: Seq[(String, String)] = {
    val q = Workloads.DriverBound.map(_._1).flatMap(n => Seq(s"q.$n.s" -> "s", s"q.$n.jobs" -> "count", s"q.$n.task_cpu_s" -> "s"))
    Seq("query.construct_s" -> "s", "query.construct_jobs" -> "count", "query.execute_s" -> "s",
      "query.execute_jobs" -> "count", "driver.no_job_s" -> "s") ++ q ++
      Seq("exec.tasks" -> "count", "exec.stages" -> "count", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
        "exec.task_wait_s" -> "s", "exec.gc_s" -> "s", "exec.shuffle_write_mb" -> "MB",
        "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.core_busy_ratio" -> "ratio") ++
      Attribution.Modules.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.job_s" -> "s")) ++
      Seq("streaming.batches" -> "count", "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s",
        "streaming.planning_s" -> "s", "streaming.wal_s" -> "s", "streaming.state_rows" -> "count",
        "streaming.state_mb" -> "MB", "streaming.state_commit_s" -> "s", "streaming.state_stores" -> "count",
        "sources.calls" -> "count", "sources.fetch_s" -> "s", "sources.bytes_in_mb" -> "MB",
        "sources.retries" -> "count", "sources.pause_s" -> "s", "sources.ok_ratio" -> "ratio",
        "jobs.run_s" -> "s", "jobs.steps" -> "count", "jobs.count_jobs" -> "count", "jobs.count_s" -> "s",
        "sinks.write_jobs" -> "count", "sinks.write_s" -> "s", "sinks.files" -> "count",
        "sinks.bytes_mb" -> "MB", "sinks.write_amp" -> "ratio", "analytics.lake_query_s" -> "s",
        "jvm.gc_s" -> "s", "trace.unattributed_share" -> "ratio", "trace.overhead_s" -> "s")
  }

  def readFingerprints(file: Path): Map[String, Fingerprint] =
    new ObjectMapper().readTree(file.toFile).properties().asScala.map { e =>
      e.getKey -> Fingerprint(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"metric is not finite: $v") else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val dataDir = opt("data")
    val spark = graft.core.GraftSession.builder(cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, cores)
    val code =
      try opt.get("record") match {
        case Some(file) => record(spark, dataDir, Path.of(file), tracer); 0
        case None => run(spark, opt, cores, dataDir, tracer)
      } finally spark.stop()
    sys.exit(code)
  }

  private def record(spark: org.apache.spark.sql.SparkSession, dataDir: String, file: Path, tracer: Tracer): Unit = {
    val board = new Board(spark, dataDir, Workloads.DriverBound, Map.empty, 0L)
    val fps = board.run(tracer).sortBy(_._1).map {
      case (q, Right(fp)) => s"""  "$q": {"rows": ${fp.rows}, "hash": "${fp.hash}"}"""
      case (q, Left(err)) => sys.error(s"cannot record $q: $err")
    }
    Files.write(file, fps.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
  }

  private def run(spark: org.apache.spark.sql.SparkSession, opt: Map[String, String], cores: Int,
      dataDir: String, tracer: Tracer): Int = {
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Path.of(opt("work"))
    val workload: Workload = opt("workload") match {
      case "ingest_lake" => new Ingest(spark, work, Payloads.generate(Ingest.inputs(spark, dataDir), seed), seed)
      case "driver_bound" => new Board(spark, dataDir, Workloads.DriverBound, readFingerprints(Path.of(opt("fingerprints"))), seed)
      case w => sys.error(s"unknown workload $w")
    }
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    def runPass(id: String, traced: Boolean): Pass = {
      System.gc()
      graft.core.GraftCaches.release(spark)
      workload.prepare()
      if (traced) tracer.begin(id)
      val sunk = if (traced) Workload.parquetUnder(workload.sinkDir) else (0L, 0L)
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val out = tracer.span("pass", id, None)(workload.pass(id, tracer))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      if (traced) {
        val (files, bytes) = Workload.parquetUnder(workload.sinkDir)
        tracer.count("sinks.files", (files - sunk._1).toDouble)
        tracer.count("sinks.bytes_mb", (bytes - sunk._2) / 1e6)
      }
      val layers = if (traced) tracer.end() else Map.empty[String, Double]
      attempted += out.attempted
      failures ++= out.failures
      System.err.println(f"[perfbench] $id%s wall_s=$wall%.3f cpu_s=$cpu%.2f traced=$traced")
      Pass(wall, cpu, traced, layers)
    }

    val t0 = System.nanoTime()
    val warm = workload.warmup(tracer)
    System.err.println(f"[perfbench] warmup wall_s=${(System.nanoTime() - t0) / 1e9}%.3f")
    attempted += warm.attempted
    failures ++= warm.failures
    val setupS = (Clock.nowUs - opt("launched-us").toLong) / 1e6
    // a fixed pass count keeps runs comparable; traced runs alternate
    // plain and traced passes, plain first and last, so a warm-up trend
    // cancels out of the tracing overhead
    val n = math.max(if (trace) 3 else 1, math.round(seconds / Workloads.NominalPassS(opt("workload"))).toInt)
    val passes = (0 until n).map(i => runPass(s"pass$i", traced = trace && i % 2 == 1))

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        Seq(setupS, median(passes.map(_.wallS)), median(passes.map(_.cpuS)), peakRssMb,
          1.0 - failures.size.toDouble / attempted).zip(EndToEnd).map { case (v, (n, u)) => (n, u, v) }
      } else {
        val traced = passes.filter(_.traced)
        val overhead = median(traced.map(_.wallS)) - median(passes.filterNot(_.traced).map(_.wallS))
        PerLayer.map { case (n, u) =>
          (n, u, if (n == "trace.overhead_s") overhead else median(traced.map(_.layers.getOrElse(n, 0.0))))
        }
      }
    opt.get("spans").foreach(f =>
      Files.write(Path.of(f), tracer.recorded.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8)))
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val body = metrics.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val line = s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, "metrics": {$body}}"""
    Files.write(Path.of(opt("result")), (line + "\n").getBytes(UTF_8))
    if (failures.isEmpty) 0 else 1
  }
}
