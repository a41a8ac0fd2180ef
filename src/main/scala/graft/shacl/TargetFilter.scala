package graft.shacl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A10 — filtered target extraction (`template_FILTER`): during a shape's
  * target retrieval, classify targets as pending vs immediately-invalid by
  * counting their links into an already-evaluated neighbor's valid (or
  * invalid) instance list and comparing to the constraint bound
  * (QueryGenerator.py:105-131, InstancesRetrieval.py:121-185).
  *
  * `Validator.run` applies it when `selective` is on and a neighbor passes
  * the reference's eligibility rule — early violation pruning that shrinks
  * the shape's pending set before constraint evaluation. Verdicts are
  * identical either way (the pruned targets are exactly the ones the
  * fixpoint would prove invalid through the same constraint — the
  * planner-knob grid asserts the invariance).
  */
object TargetFilter {

  final case class Classified(pending: DataFrame, invalid: DataFrame)

  /** The reference's neighbor eligibility rule
    * (Validation.get_evaluated_out_neighbor, Validation.py:147-175): the
    * neighbor must be fully evaluated with a non-empty invalid list, a valid
    * or invalid list under `threshold` entries, a target query, and must not
    * be referenced through a max constraint (Validation.py:103-104). The
    * reference hardcodes the threshold at 256; here it is the live `-m`
    * knob — see the ValidatorConfig.maxSplitSize note on this intentional
    * divergence. */
  def eligibleNeighbor(shape: Shape, evaluated: Map[String, ShapeVerdict],
                       schema: ShapeSchema, threshold: Long = 256): Option[String] = {
    shape.shapeRefs.distinct.find { ref =>
      val refShape = schema.byId.get(ref)
      // static conditions first — the counts below are Spark actions
      // (full counts on purpose: they materialize the neighbor's persisted
      // verdict frames, which every later consumer reuses)
      refShape.exists(_.targetQuery.isDefined) && !shape.isMaxRef(ref) &&
        evaluated.get(ref).exists { v =>
          val nValid = v.validFinal.count()
          val nInvalid = v.invalid.count()
          ((nValid > 0 && nValid < threshold) || (nInvalid > 0 && nInvalid < threshold)) &&
            nInvalid > 0
        }
    }
  }

  /** Classify the shape's targets using the verdicts of the referenced
    * neighbor: per target, count distinct linked instances that are valid
    * (`cnt`); a min constraint with `cnt < min` (or max with `cnt > max`) is
    * immediately invalid, everything else stays pending — exactly
    * InstancesRetrieval.py:164-178 as one left-outer join + conditional
    * aggregate instead of a VALUES-chunked query series. The eligibility
    * rule guarantees `refValid` is small (< 256), so it is broadcast — the
    * Spark analogue of the reference's VALUES-list injection.
    *
    * `expandSequencePaths` must mirror the validator's knob: path semantics
    * come from the shared [[PathAlgebra.edges]], so a sequence-path
    * constraint prunes through the same multi-hop joins the constraint
    * evaluation uses (and matches nothing when the knob is off — consistent
    * with the validator, which then counts zero for everyone). */
  def classify(spark: SparkSession, triples: DataFrame, targets: DataFrame,
               constraint: CardConstraint, refValid: DataFrame,
               expandSequencePaths: Boolean = false): Classified = {
    import spark.implicits._
    val path = PathAlgebra.edges(triples, constraint.path, expandSequencePaths)
    val linked = path.join(broadcast(refValid.withColumnRenamed("focus", "o")), Seq("o"), "left_semi")
    val counted = targets
      .join(linked, Seq("focus"), "left")
      .groupBy($"focus").agg(countDistinct($"o").as("cnt"))
    val isInvalid =
      if (constraint.isMin) $"cnt" < constraint.min
      else $"cnt" > constraint.max
    Classified(
      pending = counted.filter(!isInvalid).select($"focus"),
      invalid = counted.filter(isInvalid).select($"focus"))
  }
}
