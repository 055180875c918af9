package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.ExtractionJob
import graft.sinks.LakeWriter
import graft.sources.{Endpoints, RestClient}

class AttributionSpec extends AnyFunSuite {
  test("the innermost graft module frame of a call site names the module") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:3612)",
      "graft.jobs.ExtractionJob.runStep(ExtractionJob.scala:43)",
      "graft.SparkEntry$.$anonfun$baseQueries$1(SparkEntry.scala:1196)").mkString("\n")
    assert(Attribution.fromCallSite(site).contains("jobs"))
    assert(Attribution.fromCallSite("graft.SparkEntry$.x(SparkEntry.scala:1)\ngraft.ops.GraphOps$.cc(GraphOps.scala:9)")
      .contains("ops"))
    assert(Attribution.fromCallSite("perfbench.Board.run(Workloads.scala:1)").isEmpty)
    assert(Attribution.fromCallSite(null).isEmpty)
  }

  test("a traced load charges LakeWriter.write to sinks and the ExtractionJob count to jobs") {
    val spark = graft.core.GraftSession.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, 2)
    val load = Payloads.generate(SmallInputs.inputs, 2).next()
    val base = "http://x"
    tracer.begin("spec")
    val steps = tracer.span("pass", "spec", None) {
      val client = new RestClient(tracer.transport(new ScheduledTransport(base, load.bodies, Payloads.faults(2, 0))),
        Ingest.Policy, tracer.sleeper)
      val job = new ExtractionJob(spark, client, new LakeWriter(Files.createTempDirectory("lake").toString), base)
      tracer.span("jobs.run", load.date, Some("jobs"))(job.run(Endpoints.fullLoad, load.date))
    }
    val layers = tracer.end()
    assert(steps.forall(_.ok), steps)
    val jobs = tracer.lastJobs
    val writes = jobs.filter(_._1.label.startsWith("parquet at LakeWriter.scala"))
    val counts = jobs.filter(_._1.label.startsWith("count at ExtractionJob.scala"))
    assert(writes.nonEmpty && counts.nonEmpty, jobs.map(_._1.label).distinct)
    assert(writes.forall(_._2.contains("sinks")), writes)
    assert(counts.forall(_._2.contains("jobs")), counts)
    assert(layers("sources.retries") == 7.0)
    assert(layers("jobs.count_jobs") == counts.size.toDouble)
    assert(layers("trace.unattributed_share") < 0.05)
  }
}
