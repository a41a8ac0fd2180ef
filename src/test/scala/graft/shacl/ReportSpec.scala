package graft.shacl

import graft.SparkTestBase
import graft.rdf.TripleStore

/** The run-statistics and log texts over the LUBM fixture: per-shape
  * valid/violated counts and the target totals. */
class ReportSpec extends SparkTestBase {

  test("statsText and validationLog carry the LUBM per-shape counts and totals") {
    val triples = TripleStore.fromTurtleFile(spark, resource("lubm/LUBM.ttl"))
    val result = new Validator(spark, triples, ShapeParser.parseDir(resource("lubm/shapes"))).run()
    try {
      val stats = Report.statsText(spark, result).split("\n").toSet
      val log = Report.validationLog(spark, result).split("\n").toSet
      for ((shape, valid, violated) <- Seq(("Department", 3, 0), ("FullProfessor", 2, 3), ("University", 1, 4))) {
        val id = s"http://example.org/${shape}Shape"
        assert(stats.contains(s"$id: targets=${valid + violated} valid=$valid violated=$violated"), stats)
        assert(log.contains(s"Evaluated shape $id: valid=$valid violated=$violated"), log)
      }
      for (line <- Seq("all targets: 23", "valid targets: 14", "invalid targets: 9"))
        assert(stats.contains(line), stats)
      for (line <- Seq("Shapes evaluated: 5", "Valid targets: 14", "Invalid targets: 9"))
        assert(log.contains(line), log)
    } finally result.unpersist()
  }
}
