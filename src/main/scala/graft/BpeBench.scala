package graft

/** One-off micro-benchmark for BPE training's pair-count maintenance:
  * delta update vs full recount at a configurable merge depth, with
  * merge-table equality REQUIRED (a fast-but-different delta is a
  * bug, not a win). Prints one JSON line; quoted by SCALE.md.
  *
  * env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS,
  *      SPARK_GRAFT_BPE_MERGES (default 50), SPARK_GRAFT_BPE_SYNTH
  *      (N > 0 → synthetic N-doc corpus with a REALISTIC vocabulary:
  *      the gate fixture has 31 word types, far too few to show the
  *      delta's asymptotics — production tokenizer vocabularies are
  *      10⁴–10⁶ types, which the md5-derived 4-hex-char words here
  *      approximate at ~65k).
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = graft.core.Env.positiveInt("SPARK_GRAFT_CPUS").getOrElse(8).toString
    val nMerges = sys.env.get("SPARK_GRAFT_BPE_MERGES").map(_.toInt).getOrElse(50)
    val synthN = sys.env.get("SPARK_GRAFT_BPE_SYNTH").map(_.toLong).getOrElse(0L)
    // synthetic word length: the full recount's per-merge cost scales
    // with the pair-explode factor (≈ word length), the delta's does
    // not — the crossover question is exactly this knob
    val wordLen = sys.env.get("SPARK_GRAFT_BPE_WORDLEN").map(_.toInt).getOrElse(4)
    val spark = graft.core.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs =
      if (synthN > 0)
        spark.range(synthN).selectExpr("id AS doc_id", "'s' AS source",
          "concat_ws(' ', transform(sequence(1, 20), j -> " +
            "substr(md5(concat(cast(id AS string), ':', " +
            s"cast(j AS string))), 1, $wordLen))) AS text")
      else graft.core.Tables.load(spark, sfDir).documents
    def run(deltaCounts: Boolean): (Double, Seq[String]) = {
      graft.core.GraftCaches.release(spark)
      val t0 = System.nanoTime()
      val rows = graft.ops.CorpusOps.bpeTrain(docs, nMerges,
          deltaCounts = deltaCounts)
        .collect().map(_.toString).toSeq
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val (warmS, _) = run(deltaCounts = false) // untimed JIT/codegen warmup
    val (fullS, fullT) = run(deltaCounts = false)
    val (deltaS, deltaT) = run(deltaCounts = true)
    require(fullT == deltaT,
      s"merge tables diverge: full=${fullT.take(3)} delta=${deltaT.take(3)}")
    println(f"""{"merges":${fullT.size},"requested":$nMerges,""" +
      f""""full_sec":$fullS%.2f,"delta_sec":$deltaS%.2f,""" +
      f""""warm_sec":$warmS%.2f,"identical":true,"sf":"$sfDir"}""")
    spark.stop()
  }
}
