package graft.kg

import org.apache.spark.sql.SparkSession

/** Standalone runner for the construction pipeline over a synthesized
  * transcript corpus:
  *   runMain graft.kg.PipelineCli <workDir> [--convs N] [--entities E] [--validate]
  *     [--out <parquetDir>] [--nt <ntDir>]
  * Prints stage counters, triples/sec end-to-end, and P/R against the
  * deterministic generator oracle. `--out` materializes the
  * pred-partitioned parquet triple table; `--nt` additionally exports the
  * graph as N-Triples text (standard RDF interop — loadable by the
  * reference's SPARQL tooling).
  */
object PipelineCli {
  def main(args: Array[String]): Unit = {
    var workDir = ""
    var convs = 500L
    var entities = 120
    var validate = false
    var out = ""
    var nt = ""
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--convs" => i += 1; convs = args(i).toLong
        case "--entities" => i += 1; entities = args(i).toInt
        case "--validate" => validate = true
        case "--out" => i += 1; out = args(i)
        case "--nt" => i += 1; nt = args(i)
        case p => workDir = p
      }
      i += 1
    }
    require(workDir.nonEmpty,
      "usage: PipelineCli <workDir> [--convs N] [--entities E] [--validate] [--out dir] [--nt dir]")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-kg-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      val turns = TranscriptGen.generate(spark, convs, entities).toDF().cache()
      val turnCount = turns.count()
      val t0 = System.nanoTime()
      val result = Pipeline.run(spark, turns, workDir, validate,
        inputSignature = s"convs=$convs;entities=$entities")
      val tripleCount = result.triples.count()
      val sec = (System.nanoTime() - t0) / 1e9

      val (p, r) = Pipeline.precisionRecall(result.triples,
        TranscriptGen.expectedTriples(spark, convs, entities))

      if (out.nonEmpty) Pipeline.materialize(result, out)
      if (nt.nonEmpty)
        graft.rdf.TripleStore.toNTriples(result.triples)
          .write.mode("overwrite").text(nt)

      println(s"turns=$turnCount triples=$tripleCount elapsed=${f"$sec%.2f"}s " +
        s"triples_per_sec=${f"${tripleCount / sec}%.0f"} precision=${f"$p%.4f"} recall=${f"$r%.4f"}")
      println("stage counters: " + result.counters.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
      result.validation.foreach { v =>
        println(graft.shacl.Report.statsText(v, graft.shacl.Report.summarize(spark, v, maxInstances = 10000)))
      }
    } finally spark.stop()
  }
}
