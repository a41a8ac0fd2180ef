package graft.shacl

/** Internal SHACL model — parity with the reference's constraint classes
  * (reference: TravSHACL/constraints (all files), TravSHACL/core/Shape.py).
  *
  * A property path. The reference keeps paths as SPARQL path strings:
  * plain IRI, `^iri` for inverse paths (ShapeParser.py:507-511,524-525),
  * and `/`-joined sequence paths that are parsed but never expanded into
  * multi-hop queries (ShapeParser.py:275-283) — we mirror that by keeping
  * sequences opaque (they match no single predicate).
  */
sealed trait PathExpr { def render: String }
final case class DirectPath(iri: String) extends PathExpr { def render = s"<$iri>" }
final case class InversePath(iri: String) extends PathExpr { def render = s"^<$iri>" }
final case class SequencePath(iris: Seq[String]) extends PathExpr {
  def render = iris.map(i => s"<$i>").mkString("/")
}

/** A min- or max-cardinality constraint (a path with BOTH bounds is split
  * into two constraints, like the reference — ShapeParser.py:537-544).
  * `min == -1` / `max == -1` means "no bound on this side". */
final case class CardConstraint(
    id: String,
    path: PathExpr,
    min: Int = -1,
    max: Int = -1,
    shapeRef: Option[String] = None,
    datatype: Option[String] = None,
    value: Option[String] = None
) {
  def isMin: Boolean = min != -1
  def isMax: Boolean = max != -1
}

/** One `sh:or` group: a disjunction of local cardinality options
  * (reference: or-constraints carry `options`; options referencing other
  * shapes are excluded from the or-query — QueryGenerator.py:163). */
final case class OrGroup(id: String, options: Seq[CardConstraint])

/** Restricted `sh:sparql` constraint — only the `$this` patterns used by the
  * reference test suite are supported (SURVEY.md §7.4 risk 6):
  *   `$this <pred> ?o FILTER(?o OP const)`  and  `$this <pred> <iri>` .
  * A non-empty result for an instance means the instance is VIOLATED
  * (Validation.py:128-142). */
final case class SparqlConstraint(id: String, select: String)

final case class Shape(
    id: String,
    targetClass: Option[String],
    targetNode: Option[String],
    targetQuery: Option[String],
    constraints: Seq[CardConstraint],
    orGroups: Seq[OrGroup],
    sparqlConstraints: Seq[SparqlConstraint]
) {
  /** Shapes referenced via qualifiedValueShape constraints (dependency edges;
    * reference: Shape.get_shape_refs, core/Shape.py:97-98). */
  def shapeRefs: Seq[String] = constraints.flatMap(_.shapeRef)

  def minConstraints: Seq[CardConstraint] = constraints.filter(_.isMin)
  def maxConstraints: Seq[CardConstraint] = constraints.filter(_.isMax)

  /** Referenced shapes that appear in BOTH a min and a max constraint: their
    * max queries are skipped and the bound is enforced by counting valid
    * referenced instances on the min paths (core/Shape.py:206-222,
    * Validation.py:317-325). Last max constraint wins on duplicate refs,
    * mirroring the reference's dict assignment. */
  def maxValidRefs: Map[String, Int] = {
    val minRefs = minConstraints.flatMap(_.shapeRef).toSet
    maxConstraints.collect {
      case c if c.shapeRef.exists(minRefs.contains) => c.shapeRef.get -> c.max
    }.toMap
  }

  /** Max constraints whose query is actually evaluated (not skipped). */
  def activeMaxConstraints: Seq[CardConstraint] = {
    val skipped = maxValidRefs.keySet
    maxConstraints.filterNot(c => c.shapeRef.exists(skipped.contains))
  }
}

final case class ShapeSchema(shapes: Seq[Shape]) {
  val byId: Map[String, Shape] = shapes.map(s => s.id -> s).toMap

  /** dependencies: shape -> referenced shapes (core/ShapeSchema.py:194-205) */
  val dependencies: Map[String, Seq[String]] =
    shapes.map(s => s.id -> s.shapeRefs.distinct.filter(byId.contains)).toMap
  val reverseDependencies: Map[String, Seq[String]] = {
    val rev = shapes.map(s => s.id -> Seq.newBuilder[String]).toMap
    for (s <- shapes; r <- dependencies(s.id)) rev(r) += s.id
    rev.map { case (k, v) => k -> v.result() }
  }
  def inDegree(id: String): Int = reverseDependencies.getOrElse(id, Nil).size
  def outDegree(id: String): Int = dependencies.getOrElse(id, Nil).size

  /** Strongly connected components in reverse topological order (referenced
    * SCCs first), via Tarjan. Drives the stratified evaluation schedule:
    * acyclic SCCs get a single-pass evaluation, cyclic SCCs an iterative
    * 3-valued fixpoint (SURVEY.md §4.3). */
  def sccsInEvaluationOrder: Seq[Seq[String]] = {
    val ids = shapes.map(_.id)
    val index = scala.collection.mutable.Map[String, Int]()
    val low = scala.collection.mutable.Map[String, Int]()
    val onStack = scala.collection.mutable.Set[String]()
    val stack = scala.collection.mutable.Stack[String]()
    val sccs = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    var counter = 0

    def strongConnect(v: String): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack.push(v); onStack += v
      for (w <- dependencies.getOrElse(v, Nil)) {
        if (!index.contains(w)) { strongConnect(w); low(v) = math.min(low(v), low(w)) }
        else if (onStack(w)) low(v) = math.min(low(v), index(w))
      }
      if (low(v) == index(v)) {
        val comp = scala.collection.mutable.ArrayBuffer[String]()
        var w = ""
        while ({ w = stack.pop(); onStack -= w; comp += w; w != v }) ()
        sccs += comp.toSeq
      }
    }
    ids.foreach(v => if (!index.contains(v)) strongConnect(v))
    // Tarjan emits SCCs in reverse topological order of the condensation —
    // exactly the order in which dependencies must be resolved.
    sccs.toSeq
  }

  def isCyclic(scc: Seq[String]): Boolean =
    scc.size > 1 || dependencies.getOrElse(scc.head, Nil).contains(scc.head)
}
