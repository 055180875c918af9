package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.{RestResponse, Transport}

/** Wall clock in epoch microseconds, read through the monotonic timer. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** A timed region of the benchmark's own calls into the program.
  * `key` names the query or step, `module` the graft package whose
  * public entry point the region calls.
  */
final case class Span(run: String, id: Int, parent: Int, name: String, key: String,
    module: Option[String], startUs: Long, endUs: Long) {
  def json: String = {
    import Payloads.{jsonString => str}
    s"""{"run":${str(run)},"id":$id,"parent":$parent,"name":${str(name)},"key":${str(key)},""" +
      s""""module":${module.fold("null")(str)},"start_us":$startUs,"end_us":$endUs}"""
  }
}

/** Maps a Spark job to the graft module that launched it. */
object Attribution {
  val Modules: Seq[String] = Seq("ops", "streaming", "sinks", "sources", "jobs", "analytics", "plans", "core")
  private val Frame = """graft\.([a-z]+)\.""".r

  /** The innermost stack frame of a long-form call site that lies in a
    * graft module. Frames of `graft.SparkEntry` and other top-level or
    * non-module classes are skipped.
    */
  def fromCallSite(longForm: String): Option[String] =
    Option(longForm).iterator.flatMap(_.linesIterator)
      .flatMap(l => Frame.findAllMatchIn(l).map(_.group(1)).take(1))
      .find(Modules.contains)
}

/** Outside-in tracer: a SparkListener, a StreamingQueryListener, and
  * wrappers for the `Transport` and `sleeper` handed to `RestClient`,
  * plus spans around the benchmark's calls into public entry points.
  * All of it is inert until [[begin]]; a pass run without it pays
  * nothing. Spans and events stay in memory until [[end]].
  */
final class Tracer(spark: SparkSession, cores: Int) {
  @volatile private var on = false
  private var runId = ""

  // ---- spans (recorded on the benchmark thread only)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, String, Option[String], Long)]
  private var nextId = 0

  def span[A](name: String, key: String, module: Option[String])(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = if (open.isEmpty) -1 else open.top._1
      open.push((id, name, key, module, Clock.nowUs))
      try body
      finally {
        val (_, n, k, m, s) = open.pop()
        spans += Span(runId, id, parent, n, k, m, s, Clock.nowUs)
      }
    }

  // ---- Spark jobs, stages, tasks
  private final class Job(val id: Int, val startMs: Long, val label: String,
      val execModule: Option[String], val stageModule: Option[String]) {
    @volatile var endMs: Long = -1L
    val cpuNs = new AtomicLong()
  }
  private val execs = new ConcurrentHashMap[Long, (String, Option[String])]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val stagesDone = new AtomicLong()
  private val tasks = new AtomicLong()
  private val taskRunMs, taskWaitMs, gcMs = new AtomicLong()
  private val taskCpuNs, shuffleWrite, shuffleRead, spill = new AtomicLong()

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, (s.description, Attribution.fromCallSite(s.details))); ()
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execs.get(id.toLong)))
      val stages = e.stageInfos.sortBy(_.stageId)
      val stage = stages.iterator.map(s => Attribution.fromCallSite(s.details)).collectFirst { case Some(m) => m }
      val label = exec.map(_._1).orElse(stages.headOption.map(_.name)).getOrElse("")
      val j = new Job(e.jobId, e.time, label, exec.flatMap(_._2), stage)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stagesDone.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        Option(stageJob.get(e.stageId)).foreach(_.cpuNs.addAndGet(m.executorCpuTime))
      }
      Option(stageSubmitMs.get(e.stageId)).foreach(s => taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
    }
  }

  // ---- streaming micro-batches
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Tracer.BatchRec]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      batches.add(Tracer.BatchRec(p.runId.toString, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numStateStoreInstances).sum))
      ()
    }
  }

  // ---- REST transport and sleeper
  private val calls, delivered, bytesIn = new AtomicLong()
  private val fetchUs, pauseUs = new AtomicLong()
  private val firstCall = new ConcurrentHashMap[String, Long]()

  /** Counts every call, the body bytes delivered, and the time from a
    * URL's first attempt to its delivery (retries and pauses included).
    */
  def transport(inner: Transport): Transport =
    if (!on) inner
    else new Transport {
      override def get(url: String, params: Map[String, String]): RestResponse = {
        firstCall.putIfAbsent(url, Clock.nowUs)
        calls.incrementAndGet()
        val r = inner.get(url, params)
        if (r.status == 200) {
          delivered.incrementAndGet()
          bytesIn.addAndGet(r.body.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
          fetchUs.addAndGet(Clock.nowUs - firstCall.remove(url))
        }
        r
      }
    }

  def sleeper: Long => Unit =
    if (!on) Thread.sleep
    else { ms =>
      val t0 = Clock.nowUs
      Thread.sleep(ms)
      pauseUs.addAndGet(Clock.nowUs - t0); ()
    }

  // ---- counters the workload reports from outside the program
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def count(name: String, v: Double): Unit = if (on) counters(name) += v

  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  private var gcStart = 0L

  /** Every span of every traced pass so far, for the run's span dump. */
  val recorded = mutable.ArrayBuffer.empty[Span]

  def begin(id: String): Unit = {
    runId = id
    spans.clear(); open.clear(); nextId = 0; counters.clear()
    Seq(execs, jobs, stageJob, stageSubmitMs, firstCall).foreach(_.clear())
    Seq(stagesDone, tasks, taskRunMs, taskWaitMs, gcMs, taskCpuNs, shuffleWrite, shuffleRead, spill,
      calls, delivered, bytesIn, fetchUs, pauseUs).foreach(_.set(0L))
    batches.clear()
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    gcStart = gcMillis
    on = true
  }

  /** Stops tracing and turns what was recorded into per-layer metrics.
    * The outermost span is the pass; close it before calling this.
    */
  def end(): Map[String, Double] = {
    on = false
    val gcS = (gcMillis - gcStart) / 1e3
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    val jobRecs = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Tracer.JobRec(j.id, j.label, j.startMs * 1000L, (if (j.endMs < 0) j.startMs else j.endMs) * 1000L,
        j.execModule.orElse(j.stageModule), j.cpuNs.get)
    }
    val modules = Tracer.jobModules(spans.toSeq, jobRecs)
    lastJobs = jobRecs.map(j => j -> modules(j.id))
    recorded ++= spans ++ jobRecs.zipWithIndex.map { case (j, i) =>
      val parent = Tracer.innermost(spans.toSeq, j.startUs).fold(-1)(_.id)
      Span(runId, spans.size + i, parent, "spark.job", j.label, modules(j.id), j.startUs, j.endUs)
    }
    val layers = Tracer.analyse(spans.toSeq, jobRecs, batches.asScala.toSeq)
    layers ++ Map(
      "exec.tasks" -> tasks.get.toDouble,
      "exec.stages" -> stagesDone.get.toDouble,
      "exec.task_run_s" -> taskRunMs.get / 1e3,
      "exec.task_cpu_s" -> taskCpuNs.get / 1e9,
      "exec.task_wait_s" -> taskWaitMs.get / 1e3,
      "exec.gc_s" -> gcMs.get / 1e3,
      "exec.shuffle_write_mb" -> shuffleWrite.get / 1e6,
      "exec.shuffle_read_mb" -> shuffleRead.get / 1e6,
      "exec.spill_mb" -> spill.get / 1e6,
      "exec.core_busy_ratio" -> taskRunMs.get / 1e3 / (cores * layers("pass.wall_s")),
      "sources.calls" -> calls.get.toDouble,
      "sources.fetch_s" -> fetchUs.get / 1e6,
      "sources.bytes_in_mb" -> bytesIn.get / 1e6,
      "sources.retries" -> (calls.get - delivered.get).toDouble,
      "sources.pause_s" -> pauseUs.get / 1e6,
      "sources.ok_ratio" -> (if (calls.get == 0) 0.0 else delivered.get.toDouble / calls.get),
      "sinks.write_amp" -> (if (bytesIn.get == 0) 0.0 else counters("sinks.bytes_mb") / (bytesIn.get / 1e6)),
      "jvm.gc_s" -> gcS) ++ counters
  }

  /** The jobs of the last traced pass with the module each was charged to. */
  var lastJobs: Seq[(Tracer.JobRec, Option[String])] = Nil
}

object Tracer {
  /** A finished Spark job: times in epoch µs, module from rules 1–2. */
  final case class JobRec(id: Int, label: String, startUs: Long, endUs: Long,
      callSiteModule: Option[String], cpuNs: Long)
  final case class BatchRec(runId: String, durations: Map[String, Long], stateRows: Long,
      stateBytes: Long, commitMs: Long, stores: Long)

  def innermost(spans: Seq[Span], atUs: Long): Option[Span] =
    spans.filter(s => s.startUs <= atUs && atUs < s.endUs).minByOption(s => s.endUs - s.startUs)

  /** Rule 3: the innermost module-tagged span open at `atUs`. */
  def enclosingModule(spans: Seq[Span], atUs: Long): Option[String] =
    innermost(spans.filter(_.module.isDefined), atUs).flatMap(_.module)

  /** Each job's module: its call site (rules 1–2), else rule 3. */
  def jobModules(spans: Seq[Span], jobs: Seq[JobRec]): Map[Int, Option[String]] =
    jobs.map(j => j.id -> j.callSiteModule.orElse(enclosingModule(spans, j.startUs))).toMap

  /** Per-layer metrics of one traced pass. The pass is the outermost
    * span. Every instant of it is charged to exactly one owner: the
    * module of the most recently started running job, or with no job
    * running the innermost module-tagged span, or else nobody (the
    * unattributed share).
    */
  def analyse(spans: Seq[Span], jobs: Seq[JobRec], batches: Seq[BatchRec]): Map[String, Double] = {
    val pass = spans.find(_.parent == -1).getOrElse(sys.error("no pass span"))
    val wallUs = (pass.endUs - pass.startUs).toDouble
    val jobModule = jobModules(spans, jobs)
    def within(ss: Seq[Span], j: JobRec) = ss.exists(s => s.startUs <= j.startUs && j.startUs < s.endUs)
    def secs(ss: Seq[Span]) = ss.map(s => s.endUs - s.startUs).sum / 1e6
    val out = mutable.LinkedHashMap.empty[String, Double]

    // query boundary: builders vs the terminal action
    val construct = spans.filter(_.name == "query.construct")
    val execute = spans.filter(_.name == "query.execute")
    out("query.construct_s") = secs(construct)
    out("query.construct_jobs") = jobs.count(within(construct, _)).toDouble
    out("query.execute_s") = secs(execute)
    out("query.execute_jobs") = jobs.count(within(execute, _)).toDouble
    (construct ++ execute).groupBy(_.key).foreach { case (q, ss) =>
      val js = jobs.filter(within(ss, _))
      out(s"q.$q.s") = secs(ss)
      out(s"q.$q.jobs") = js.size.toDouble
      out(s"q.$q.task_cpu_s") = js.map(_.cpuNs).sum / 1e9
    }

    // sweep the pass: charge each elementary interval to one owner
    val cuts = (Seq(pass.startUs, pass.endUs) ++ jobs.flatMap(j => Seq(j.startUs, j.endUs)) ++
      spans.flatMap(s => Seq(s.startUs, s.endUs)))
      .filter(t => t >= pass.startUs && t <= pass.endUs).distinct.sorted
    val jobUs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var noJobUs, unattributedUs = 0.0
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val running = jobs.filter(j => j.startUs <= a && b <= j.endUs && j.endUs > j.startUs)
        val d = (b - a).toDouble
        if (running.nonEmpty) jobModule(running.maxBy(_.startUs).id) match {
          case Some(m) => jobUs(m) += d
          case None => unattributedUs += d
        }
        else {
          noJobUs += d
          if (enclosingModule(spans, a).isEmpty) unattributedUs += d
        }
      case _ => ()
    }
    out("driver.no_job_s") = noJobUs / 1e6
    Attribution.Modules.foreach { m =>
      out(s"$m.jobs") = jobModule.values.count(_.contains(m)).toDouble
      out(s"$m.job_s") = jobUs(m) / 1e6
    }
    out("trace.unattributed_share") = unattributedUs / wallUs

    // ingestion and lake reads
    out("jobs.run_s") = secs(spans.filter(_.name == "jobs.run"))
    out("jobs.count_jobs") = out("jobs.jobs")
    out("jobs.count_s") = out("jobs.job_s")
    out("sinks.write_jobs") = out("sinks.jobs")
    out("sinks.write_s") = out("sinks.job_s")
    out("analytics.lake_query_s") = secs(spans.filter(_.name == "analytics.query"))

    // micro-batches: phases summed over batches; state taken from the
    // last batch of each streaming run
    def phase(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    val last = batches.groupBy(_.runId).values.map(_.last).toSeq
    out("streaming.batches") = batches.size.toDouble
    out("streaming.trigger_s") = phase("triggerExecution")
    out("streaming.add_batch_s") = phase("addBatch")
    out("streaming.planning_s") = phase("queryPlanning")
    out("streaming.wal_s") = phase("walCommit")
    out("streaming.state_rows") = last.map(_.stateRows).sum.toDouble
    out("streaming.state_mb") = last.map(_.stateBytes).sum / 1e6
    out("streaming.state_commit_s") = batches.map(_.commitMs).sum / 1e3
    out("streaming.state_stores") = batches.map(_.stores).sum.toDouble
    out("pass.wall_s") = wallUs / 1e6
    out.toMap
  }
}
