package graft

import graft.shacl._
import org.apache.spark.sql.SparkSession

/** Command-line entry point — the reference's `main.py` surface:
  *   runMain graft.Cli -d <shapesDir> <data.ttl|data.parquet> <outputDir> [DFS|BFS]
  *     [--heuristics TARGET|'' IN|OUT|INOUT|OUTIN|'' BIG|SMALL|'']
  *     [--no-selective] [--json] [-m maxSize] [--orderby] [--outputs] [--force]
  * Always writes verdicts.parquet, validationReport.ttl, stats.txt,
  * validation.log and traces.csv (the reference writes traces under
  * save_stats, which is true whenever an output dir is given —
  * Validation.py:587-605); `--outputs` additionally writes targets_valid.log
  * and targets_violated.log (save_targets_to_file, main.py:44-45 — target
  * classifications are saved only on request), `--orderby` globally sorts
  * the verdict parquet, `--force` skips unparseable shape files with a
  * warning (main.py:50-51). `-m` is accepted so reference command lines
  * run, and ignored: in the reference it is the VALUES chunk size of the
  * queries sent to the endpoint (main.py:38-39), and there is nothing to
  * chunk here. The input is read as the service reads it
  * (`Service.input`: a Turtle file in `Tuning.serviceSession`, a triple
  * parquet in this session). The report, stats and log texts render from
  * ONE `Report.summarize`. Prints the stats text.
  */
object Cli {
  def main(args: Array[String]): Unit = {
    var shapesDir = ""
    var dataPath = ""
    var outDir = ""
    var algo: Traversal.Value = Traversal.DFS
    var heuristics = Traversal.DefaultHeuristics
    var selective = true
    var format = "SHACL"
    var orderBy = false
    var outputs = false
    var force = false

    var positional = List.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-d" => i += 1; shapesDir = args(i)
        case "-m" => i += 1 // reference VALUES chunk size: nothing to chunk
        case "--no-selective" => selective = false
        case "--orderby" => orderBy = true
        case "--outputs" => outputs = true
        case "-f" | "--force" => force = true
        case "--json" => format = "JSON"
        case "--heuristics" =>
          val target = args(i + 1).equalsIgnoreCase("TARGET")
          val degree = args(i + 2).toLowerCase
          val props = args(i + 3).toLowerCase
          heuristics = Traversal.Heuristics(target, degree, props)
          i += 3
        case "DFS" => algo = Traversal.DFS
        case "BFS" => algo = Traversal.BFS
        case other => positional = positional :+ other
      }
      i += 1
    }
    positional match {
      case d :: o :: Nil => dataPath = d; outDir = o
      case _ =>
        System.err.println(
          "usage: graft.Cli -d <shapesDir> <data.ttl|parquet> <outDir> [DFS|BFS] " +
          "[--heuristics TARGET IN BIG] [--no-selective] [--json] " +
          "[-m maxSize (accepted, ignored)] [--orderby] [--outputs] [--force]")
        sys.exit(2)
    }

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-shacl-validate")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      val (session, triples) = Service.input(spark, dataPath)
      val schema = ShapeParser.parseDir(shapesDir, format, lenient = force)
      val cfg = ValidatorConfig(selective = selective, traversal = algo, heuristics = heuristics)
      val result = new Validator(session, triples, schema, cfg).run()

      Report.writeVerdicts(spark, result, outDir, ordered = orderBy)
      Report.writeTraces(spark, result, outDir)
      if (outputs) Report.writeTargetLogs(spark, result, outDir)
      // the report's cap; the counts all three texts read are exact at any cap
      val summary = Report.summarize(spark, result, maxInstances = 10000)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/validationReport.ttl"),
        Report.validationReportTtl(summary).getBytes("UTF-8"))
      val stats = Report.statsText(result, summary)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/stats.txt"), stats.getBytes("UTF-8"))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/validation.log"),
        Report.validationLog(result, summary).getBytes("UTF-8"))
      println(stats)
    } finally spark.stop()
  }
}
