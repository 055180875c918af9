package graft

import graft.ops.Similarity

/** Diagnostic main (the [[Explain]] sibling for recall): measures
  * recall@k of each approximate serving path against the brute-force
  * ground truth on SPARK_GRAFT_SF_DIR's embeddings table — the
  * numbers SCALE.md's recall-for-memory table quotes. Not part of the
  * gate (s48/s51/recall rows gate the VALUES exactly); this exists so
  * a codebook or index change can be re-measured in one command:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.RecallProbe"
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.builder(
      graft.core.Env.positiveInt("SPARK_GRAFT_CPUS").getOrElse(8).toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = Similarity.cosineTopK(emb)
    val paths: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "pq_seed" -> Similarity.pqTopK(emb),
      "pq_trained_1sweep" -> Similarity.pqTopKTrained(emb, kmeansIters = 1),
      "pq_trained_2sweep" -> Similarity.pqTopKTrained(emb, kmeansIters = 2),
      "pq_trained_c64" -> Similarity.pqTopKTrained(emb, nCent = 64, kmeansIters = 1),
      "ivf_seed_probe4" -> Similarity.ivfTopK(emb, kmeansIters = 0),
      "ivfpq_probe4" -> Similarity.ivfPqTopK(emb))
    paths.foreach { case (name, approx) =>
      val rows = graft.core.DriverProbe.boundedCollect(
        Similarity.recallAtK(exact, approx), maxRows = 100000,
        what = s"recall probe $name")
      val mean = rows.map(_.getDouble(2)).sum / math.max(rows.length, 1)
      println(f"RECALL $name%-18s mean=$mean%.4f  " +
        rows.map(r => s"q${r.getLong(0)}=${r.getDouble(2)}").mkString(" "))
      Similarity.releaseCaches()
    }
    spark.stop()
  }
}
