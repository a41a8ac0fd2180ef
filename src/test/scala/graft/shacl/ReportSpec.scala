package graft.shacl

import graft.SparkTestBase
import graft.rdf.TripleStore
import org.apache.spark.TestBus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The run-statistics and log texts over the LUBM fixture: per-shape
  * valid/violated counts and the target totals. */
class ReportSpec extends SparkTestBase {

  test("statsText and validationLog carry the LUBM per-shape counts and totals") {
    val triples = TripleStore.fromTurtleFile(spark, resource("lubm/LUBM.ttl"))
    val result = new Validator(spark, triples, ShapeParser.parseDir(resource("lubm/shapes"))).run()
    try {
      val summary = Report.summarize(spark, result, maxInstances = 10000)
      val stats = Report.statsText(result, summary).split("\n").toSet
      val log = Report.validationLog(result, summary).split("\n").toSet
      for ((shape, valid, violated) <- Seq(("Department", 3, 0), ("FullProfessor", 2, 3), ("University", 1, 4))) {
        val id = s"http://example.org/${shape}Shape"
        assert(stats.contains(s"$id: targets=${valid + violated} valid=$valid violated=$violated"), stats)
        assert(log.contains(s"Evaluated shape $id: valid=$valid violated=$violated"), log)
      }
      for (line <- Seq("all targets: 23", "valid targets: 14", "invalid targets: 9",
                       "total number of solution mappings: 23"))
        assert(stats.contains(line), stats)
      for (line <- Seq("Shapes evaluated: 5", "Valid targets: 14", "Invalid targets: 9"))
        assert(log.contains(line), log)
    } finally result.unpersist()
  }

  test("statsText runs no Spark action") {
    val triples = TripleStore.fromTurtleFile(spark, resource("lubm/LUBM.ttl"))
    val result = new Validator(spark, triples, ShapeParser.parseDir(resource("lubm/shapes"))).run()
    try {
      val summary = Report.summarize(spark, result, maxInstances = 10000)
      val actions = scala.collection.mutable.ArrayBuffer[String]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          actions.synchronized(actions += funcName)
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
          actions.synchronized(actions += funcName)
      }
      TestBus.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      try {
        Report.statsText(result, summary)
        TestBus.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      assert(actions.synchronized(actions.isEmpty), actions)
    } finally result.unpersist()
  }

  test("validationReportTtl and writeTargetLogs carry the LUBM verdicts, capped per file") {
    val triples = TripleStore.fromTurtleFile(spark, resource("lubm/LUBM.ttl"))
    val result = new Validator(spark, triples, ShapeParser.parseDir(resource("lubm/shapes"))).run()
    try {
      def pairs(verdict: ShapeVerdict => org.apache.spark.sql.DataFrame): Seq[(String, String)] =
        result.verdicts.toSeq.flatMap { case (id, v) => verdict(v).collect().map(r => (id, r.getString(0))) }.sorted
      val valid = pairs(_.validFinal)
      val invalid = pairs(_.invalid)
      assert(valid.size == 14 && invalid.size == 9)

      val ttl = Report.validationReportTtl(Report.summarize(spark, result, maxInstances = 10000))
      assert(ttl.contains("sh:conforms false"))
      val reported = """sh:focusNode  <([^>]*)> ;\s*sh:sourceShape  <([^>]*)>""".r
        .findAllMatchIn(ttl).map(m => (m.group(2), m.group(1))).toSeq
      assert(reported.sorted == invalid)

      val dir = java.nio.file.Files.createTempDirectory("reportlogs").toString
      def log(verdict: String): Seq[String] = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/targets_$verdict.log")), "UTF-8").split("\n").toSeq
      def lines(ps: Seq[(String, String)]): Seq[String] = ps.map { case (id, focus) => s"$id($focus)," }
      Report.writeTargetLogs(spark, result, dir)
      assert(log("valid") == lines(valid))
      assert(log("violated") == lines(invalid))

      Report.writeTargetLogs(spark, result, dir, maxLines = 5)
      assert(log("valid") == lines(valid).take(5))
      assert(log("violated") == lines(invalid).take(5))
    } finally result.unpersist()
  }

  test("validationReportTtl decides sh:conforms from the exact counts, not the capped list") {
    val triples = TripleStore.fromTurtleFile(spark, resource("lubm/LUBM.ttl"))
    val result = new Validator(spark, triples, ShapeParser.parseDir(resource("lubm/shapes"))).run()
    try {
      val ttl = Report.validationReportTtl(Report.summarize(spark, result, maxInstances = 0))
      assert(ttl.contains("sh:conforms false"), ttl)
      assert(!ttl.contains("sh:result"), ttl)
    } finally result.unpersist()
  }
}
