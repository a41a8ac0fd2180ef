package graft.shacl

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkTestBase
import graft.rdf.TripleStore
import org.apache.spark.TestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The A10 eligibility check over every golden case: one Spark action per
  * candidate neighbour, the same decision as the reference rule written as
  * two separate counts, and the same number of pruned shapes per case. */
class TargetFilterSpec extends SparkTestBase {

  private lazy val triples: DataFrame = {
    val df = TripleStore.fromTurtleFile(spark, resource("data/test.ttl")).cache()
    df.count()
    df
  }

  private val definitions: Seq[Path] = {
    val stream = Files.walk(Paths.get(resource("cases")))
    try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".json") && p.toString.contains("definitions"))
      .toVector.sortBy(_.toString)
    finally stream.close()
  }

  // stats.prunedShapes under the default config where it is not 0, as the
  // two-count check gave it; every other golden case prunes nothing
  private val pruned = Map(
    "or_constraint/case7/case7.json" -> 1,
    "recursion/case4/case4.json" -> 2,
    "two_shapes/case1/case1.json" -> 1,
    "two_shapes/case2/case2.json" -> 1,
    "two_shapes/case5/case5.json" -> 1,
    "two_shapes/case6/case6.json" -> 1,
    "two_shapes/case9/case9.json" -> 1)

  /** Validation.get_evaluated_out_neighbor's rule with its two counts. */
  private def eligibleByTwoCounts(v: ShapeVerdict, threshold: Long): Boolean = {
    val nValid = v.validFinal.count()
    val nInvalid = v.invalid.count()
    ((nValid > 0 && nValid < threshold) || (nInvalid > 0 && nInvalid < threshold)) && nInvalid > 0
  }

  test("A10 eligibility: one action per candidate, the two-count decision, the same pruning") {
    val actions = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        actions.incrementAndGet()
    }
    var checked = 0
    for (definition <- definitions) {
      val name = definition.toString.replace(resource("cases/"), "").replace("/definitions", "")
      val root = new ObjectMapper().readTree(definition.toFile)
      val schema = ShapeParser.parseDir(root.get("schemaDir").asText().replace("./tests/cases/", resource("cases/")))
      val config = ValidatorConfig()
      val result = new Validator(spark, triples, schema, config).run()
      try {
        assert(result.stats.prunedShapes == pruned.getOrElse(name, 0), name)
        for (shape <- schema.shapes) {
          val candidates = shape.shapeRefs.distinct.filter(ref =>
            schema.byId.get(ref).exists(_.targetQuery.isDefined) && !shape.isMaxRef(ref) &&
              result.verdicts.contains(ref))
          val decisions = candidates.map(ref => eligibleByTwoCounts(result.verdicts(ref), config.maxSplitSize))
          val firstEligible = decisions.indexOf(true)
          TestBus.drain(spark.sparkContext)
          val before = actions.get
          spark.listenerManager.register(listener)
          val chosen = try {
            val c = TargetFilter.eligibleNeighbor(shape, result.verdicts, schema, config.maxSplitSize)
            TestBus.drain(spark.sparkContext)
            c
          } finally spark.listenerManager.unregister(listener)
          assert(chosen == (if (firstEligible < 0) None else Some(candidates(firstEligible))), s"$name ${shape.id}")
          val examined = if (firstEligible < 0) candidates.size else firstEligible + 1
          assert(actions.get - before == examined, s"$name ${shape.id}: actions for $examined candidates")
          checked += examined
        }
      } finally result.unpersist()
    }
    assert(definitions.size == 41)
    assert(checked > 0)
  }
}
