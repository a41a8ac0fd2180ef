package graft.shacl

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkTestBase
import graft.rdf.TripleStore
import org.apache.spark.TestBus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File

/** The cyclic-SCC fixpoint: how many rounds each recursion case takes, and
  * what one round costs in Spark actions — an eager checkpoint per shape
  * plus ONE convergence aggregate, with no per-shape `count`. */
class FixpointSpec extends SparkTestBase {

  private lazy val triples = TripleStore.fromTurtleFile(spark, resource("data/test.ttl"))

  private def schemaOf(definition: String): ShapeSchema = {
    val root = new ObjectMapper().readTree(new File(resource(s"cases/recursion/$definition")))
    ShapeParser.parseDir(root.get("schemaDir").asText().replace("./tests/cases/", resource("cases/")))
  }

  // rounds under the default config, as the per-round-count fixpoint ran them
  private val rounds = Seq(
    "case1/definitions/case1a.json" -> 3,
    "case1/definitions/case1b.json" -> 4,
    "case1/definitions/case1c.json" -> 3,
    "case2/definitions/case2a.json" -> 3,
    "case2/definitions/case2b.json" -> 4,
    "case2/definitions/case2c.json" -> 3,
    "case3/definitions/case3.json" -> 3,
    "case4/definitions/case4.json" -> 3)

  for ((definition, n) <- rounds)
    test(s"fixpoint rounds: recursion/$definition takes $n") {
      val result = new Validator(spark, triples, schemaOf(definition)).run()
      try assert(result.stats.fixpointIterations == n) finally result.unpersist()
    }

  test("a fixpoint round runs one action besides its checkpoints, and no count") {
    val actions = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.synchronized(actions += funcName)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        actions.synchronized(actions += funcName)
    }
    val schema = schemaOf("case2/definitions/case2a.json")
    TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val result = try {
      val r = new Validator(spark, triples, schema).run()
      TestBus.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    try {
      val seen = actions.synchronized(actions.toList)
      assert(result.stats.cyclicSccCount == 1)
      assert(!seen.contains("count"), seen)
      assert(seen.count(_ != "localCheckpoint") == result.stats.fixpointIterations, seen)
    } finally result.unpersist()
  }
}
