package graft.shacl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.rdf.Rdf

import scala.util.control.NonFatal

/** Configuration knobs with reference parity (main.py:20-53). The traversal/
  * heuristic knobs and `selective` never change VERDICTS (the reference test
  * grid asserts exactly this invariance) but they do reach execution:
  * `selective` toggles target-pushdown semi-joins (A7) and A10 target
  * pre-filtering, the traversal/heuristics pick the evaluation order of
  * independent dependency chains.
  */
final case class ValidatorConfig(
    selective: Boolean = true,
    traversal: Traversal.Value = Traversal.DFS,
    heuristics: Traversal.Heuristics = Traversal.DefaultHeuristics,
    maxIterations: Int = 1000,
    /** A15: enforce `sh:datatype` on cardinality-counted objects. OFF by
      * default — the reference parses but never emits the filter
      * (docs/feature.rst:25), so default verdict parity keeps it dead; the
      * engine is string-typed, so datatypes are judged by lexical form. */
    enforceDatatype: Boolean = false,
    /** Expand `sh:path (p1 p2 …)` sequence paths into multi-hop joins. OFF
      * by default — the reference parses sequence paths
      * (ShapeParser.py:275-283) but its query generator never expands them
      * into multi-hop patterns, so they match nothing; parity keeps that.
      * ON compiles each hop to an equi-join on the intermediate node —
      * capability the SHACL spec defines but the reference lacks. */
    expandSequencePaths: Boolean = false,
    /** Reference `-m maxSize` (main.py:38-39): max number of instances a
      * neighbor's verdict list may hold to qualify for A10 target
      * pre-filtering. INTENTIONAL DIVERGENCE from the reference: there, `-m`
      * only sets the per-query VALUES chunk size (Shape.py, query splitting)
      * while the A10 eligibility threshold is hardcoded at 256
      * (Validation.py:162-164). Chunking is obsolete on Spark (joins have no
      * endpoint-URL length limit), so the knob is repurposed as the live
      * eligibility threshold — `-m 1000` changes pruning here where the
      * reference would not. Plan-only either way: verdict invariance across
      * `-m` values is asserted by PlanSpec and the golden grid. */
    maxSplitSize: Long = 256
)

/** Per-shape verdict state, all derived from TWO cached frames: the
  * 2-valued immediately-invalid set `inv0` (local cardinality, sh:or,
  * sh:sparql, A10-pruned targets — distinct) and `marked(focus,__isF,__isT)`
  * covering `targets ∖ inv0` with the fixpoint's proven-invalid (F) /
  * proven-valid (T) flags. Derivations are lazy filters — no further joins:
  *  - `strictValid` = marked T rows: the subset PROVEN valid by saturation;
  *    downstream max-cardinality constraints count only these
  *    (Validation.py:473-527).
  *  - `invalid` = inv0 ∪ marked F rows (disjoint by construction — no dedup).
  *  - `validFinal` = marked non-F rows: targets ∖ invalid, which includes
  *    fixpoint-undefined instances (the reference classifies targets still
  *    unresolved at termination as valid, Validation.py:70-72,607).
  */
final case class ShapeVerdict(targets: DataFrame, inv0: DataFrame, marked: DataFrame) {
  def strictValid: DataFrame = marked.filter(col("__isT")).select(col("focus"))
  def invalid: DataFrame = inv0.union(marked.filter(col("__isF")).select(col("focus")))
  def validFinal: DataFrame = marked.filter(!col("__isF")).select(col("focus"))
}

final case class ValidationResult(
    verdicts: Map[String, ShapeVerdict],
    nodeOrder: Seq[String],
    stats: ValidationStats,
    pinned: Seq[DataFrame] = Nil
) {
  def valid(shapeId: String): DataFrame = verdicts(shapeId).validFinal
  def invalid(shapeId: String): DataFrame = verdicts(shapeId).invalid

  /** Release every frame the run pinned, persisted or eagerly
    * local-checkpointed, once consumers have materialized their outputs —
    * long-lived sessions running many validations would otherwise hold
    * executor storage until the GC-driven ContextCleaner gets to it. */
  def unpersist(): Unit = pinned.foreach(ValidationResult.release)
}

object ValidationResult {
  /** Free one pinned frame. A persisted frame leaves the cache manager; an
    * eager `localCheckpoint` is a LogicalRDD over the checkpointed RDD,
    * whose blocks `Dataset.unpersist` does not free, so the RDD itself is
    * unpersisted. */
  private[shacl] def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist()
  }
}

/** Run statistics, mirroring the reference's ValidationStats counters
  * (utils/ValidationStats.py:29-49) with honest Spark-side meanings. */
final class ValidationStats {
  var fixpointIterations: Int = 0
  var sccCount: Int = 0
  var cyclicSccCount: Int = 0
  /** compiled constraint/target evaluations (≈ reference's #queries) */
  var totalQueries: Int = 0
  /** shapes whose target sets were pre-filtered via A10 */
  var prunedShapes: Int = 0
  /** wall-clock: plan/compile phase vs evaluation; saturationMs is the
    * share of evalMs spent inside cyclic-SCC fixpoint iteration */
  var planMs: Long = 0
  var evalMs: Long = 0
  var saturationMs: Long = 0
}

/** Spark-native SHACL validation over a string triple table
  * `(subj, pred, obj)`.
  *
  * This re-expresses the reference's SPARQL-query-generating validator
  * (TravSHACL/rule_based_validation/Validation.py) as declarative DataFrame
  * algebra: target scans are filters (A1), min/max cardinality queries are
  * `groupBy(subj).agg(countDistinct(obj))` aggregations (A4/A5), inter-shape
  * references are joins against neighbor verdict sets (A8/A9), and the
  * interleaving + 3-valued saturation (B8, B10-B12) collapses into a
  * per-strongly-connected-component fixpoint over monotonically growing
  * proven-valid (T) / proven-invalid (F) sets, with unresolved instances (U)
  * reported valid at termination — the well-founded-model semantics the
  * reference's per-binding grounding computes (derivation in SURVEY.md §4.3).
  *
  * Final per-shape verdict (equivalent to Shape rule
  * `S(x) ← Smin(x) ∧ ¬Smax₁(x) ∧ …`, core/Shape.py:187-191):
  *   - ref'd min m over R:  T needs countDistinct(obj ∈ strictValid(R)) ≥ m;
  *                          F iff countDistinct(obj ∈ targets(R)∖invalid(R)) < m
  *   - ref'd max m over R:  F iff countDistinct(obj ∈ strictValid(R)) ≥ m+1;
  *                          T needs countDistinct(obj ∈ targets(R)∖invalid(R)) ≤ m
  *   - skipped max query (same shape referenced by min AND max,
  *     core/Shape.py:206-222): a ref'd max check whose edges are the union
  *     of the min constraints' edges to that shape
  *   - local constraints, sh:or groups and sh:sparql constraints are 2-valued.
  */
final class Validator(
    spark: SparkSession,
    triples: DataFrame,
    schema: ShapeSchema,
    config: ValidatorConfig = ValidatorConfig()
) {
  import spark.implicits._

  private val stats = new ValidationStats

  /** Every frame this run pins, handed to the result for release (or
    * released here when the run fails). */
  private val pinned = scala.collection.mutable.ArrayBuffer[DataFrame]()
  private def persisted(df: DataFrame): DataFrame = { pinned += df.persist(); df }
  private def checkpointed(df: DataFrame): DataFrame = { val c = df.localCheckpoint(true); pinned += c; c }
  /** Release a frame this run pinned; one it never pinned is left alone. */
  private def unpin(df: DataFrame): Unit =
    if (pinned.contains(df)) { pinned -= df; ValidationResult.release(df) }

  /** Edges for a path: (focus, o) — see [[PathAlgebra.edges]] (shared with
    * A10 target pre-filtering so both sides agree on path semantics). */
  private def pathEdges(path: PathExpr): DataFrame =
    PathAlgebra.edges(triples, path, config.expandSequencePaths)

  /** A1/A3 target class. A custom target query (`sh:targetQuery` / JSON
    * `targetDef.query`) takes precedence over `sh:targetClass` — the
    * restricted `?x a <C>` pattern compiles to the same scan; anything else
    * is rejected loudly (reference ships arbitrary SPARQL to the endpoint,
    * a documented non-goal here). Node-target shapes carry no target query
    * and are skipped for target retrieval (reference Validation.py:97-98). */
  private def targetClass(shape: Shape): Option[String] = shape.targetQuery match {
    case Some(q) =>
      Some(TargetQuery.compile(q).getOrElse(sys.error(
        s"shape ${shape.id}: unsupported target query (only " +
          s"'SELECT ?x WHERE { ?x a <C> }' is compilable): $q")))
    case None => shape.targetClass
  }

  /** A15 (opt-in): lexical-form datatype check over the string-typed object
    * column for the common XSD types the reference's dead emitter names
    * (QueryGenerator.py:380-389). */
  private def datatypeMatches(o: org.apache.spark.sql.Column, dt: String): org.apache.spark.sql.Column = {
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    dt match {
      case d if d == xsd + "integer" || d == xsd + "int" || d == xsd + "long" =>
        o.rlike("^[+-]?[0-9]+$")
      case d if d == xsd + "decimal" || d == xsd + "double" || d == xsd + "float" =>
        o.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$")
      case d if d == xsd + "boolean" => o.isin("true", "false")
      case d if d == xsd + "anyURI" => o.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:")
      case _ => lit(true) // unknown datatype: no lexical restriction
    }
  }

  /** Edges a constraint counts: path edges narrowed by the constraint's
    * fixed value (A16 — the reference's emitter for it throws, ours works)
    * and, when enforcement is on, its datatype (A15). */
  private def constraintEdges(c: CardConstraint): DataFrame = {
    var e = pathEdges(c.path)
    c.value.foreach(v => e = e.filter($"o" === v))
    if (config.enforceDatatype)
      c.datatype.foreach(dt => e = e.filter(datatypeMatches($"o", dt)))
    e
  }

  /** A7 selective wrapper: nest the constraint evaluation inside the target
    * set (reference QueryGenerator.__get_selective) — a semi-join pushdown
    * that shrinks aggregation input to actual targets. Off ⇒ the constraint
    * aggregates the full path-edge set and non-targets drop out in the final
    * left join (verdicts identical; the grid asserts it). */
  private def selectiveRestrict(df: DataFrame, targets: DataFrame): DataFrame =
    if (config.selective) df.join(targets, Seq("focus"), "left_semi") else df

  /** Local (non-referencing) cardinality failures within the target set:
    * min m fails iff countDistinct < m, max m fails iff countDistinct > m
    * (absence counts as 0 — the reference's max query would simply return no
    * binding and the min query excludes the focus node). */
  private def localCardInvalid(shape: Shape, targets: DataFrame): Option[DataFrame] = {
    val locals = shape.constraints.filter(_.shapeRef.isEmpty)
    if (locals.isEmpty) return None
    val counted = locals.zipWithIndex.map { case (c, i) =>
      val cnt = selectiveRestrict(constraintEdges(c), targets)
        .groupBy($"focus").agg(countDistinct($"o").as(s"c$i"))
      (c, i, cnt)
    }
    stats.totalQueries += locals.size
    var df = targets
    counted.foreach { case (_, i, cnt) => df = df.join(cnt, Seq("focus"), "left") }
    val fail = counted.map { case (c, i, _) =>
      val cc = coalesce(col(s"c$i"), lit(0L))
      if (c.isMin) cc < c.min else cc > c.max
    }.reduce(_ || _)
    Some(df.filter(fail).select($"focus"))
  }

  /** sh:or handling (A11 + Validation.py:114-126): targets not satisfying
    * EVERY or-group (each group = disjunction of local cardinality options)
    * are invalid — unless the or-query result is empty, in which case the
    * reference skips or-filtering entirely (`if pending_val:` guard). */
  private def orInvalid(shape: Shape, targets: DataFrame): Option[DataFrame] = {
    if (shape.orGroups.isEmpty) return None
    val groupSets = shape.orGroups.map { g =>
      val optionSets = g.options.map { opt =>
        stats.totalQueries += 1
        val cnt = selectiveRestrict(pathEdges(opt.path), targets)
          .groupBy($"focus").agg(countDistinct($"o").as("c"))
        if (opt.isMin) cnt.filter($"c" >= opt.min).select($"focus")
        else // max options wrap the pattern in OPTIONAL: zero-count focus nodes pass
          targets.join(cnt.filter($"c" > opt.max), Seq("focus"), "left_anti")
      }
      optionSets.reduce(_ union _).distinct()
    }
    val orSet = checkpointed(groupSets.reduce((a, b) => a.join(b, Seq("focus"), "left_semi")))
    if (orSet.isEmpty) None
    else Some(targets.join(orSet, Seq("focus"), "left_anti"))
  }

  /** A12: sh:sparql violations — the reference's one-query-per-instance loop
    * becomes a single filter + semi-join. */
  private def sparqlInvalid(shape: Shape, targets: DataFrame): Option[DataFrame] = {
    if (shape.sparqlConstraints.isEmpty) return None
    val violators = shape.sparqlConstraints.map { sc =>
      SparqlSelect.compile(sc.select) match {
        case FilterCompare(pred, op, const) =>
          val o = $"obj".cast("double")
          val cmp = op match {
            case ">" => o > const; case "<" => o < const
            case ">=" => o >= const; case "<=" => o <= const
            case "=" => o === const; case "!=" => o =!= const
          }
          triples.filter($"pred" === pred && cmp).select($"subj".as("focus")).distinct()
        case HasValue(pred, obj) =>
          triples.filter($"pred" === pred && $"obj" === obj).select($"subj".as("focus")).distinct()
      }
    }.reduce(_ union _)
    Some(targets.join(violators, Seq("focus"), "left_semi"))
  }

  private def emptyFocus(): DataFrame = spark.emptyDataset[String].toDF("focus")

  /** Typed edges for a referencing constraint: objects restricted to instances
    * of the referenced shape's target class (A8 `$inter_shape_type_to_add$`,
    * InstancesRetrieval.py:207-217). Edges are NOT deduplicated here — the
    * verdict aggregation uses countDistinct, saving a shuffle per constraint. */
  private def refEdges(c: CardConstraint, refTargets: DataFrame): DataFrame =
    constraintEdges(c).join(refTargets.withColumnRenamed("focus", "o"), Seq("o"), "left_semi")

  /** One inter-shape cardinality check of a shape: `edges` into shape `ref`
    * compared against `bound`, as a min check (`isMin`) or a max check. */
  private final case class RefCheck(ref: String, isMin: Boolean, bound: Int, edges: DataFrame)

  /** Topological order over the SCC condensation, choosing among ready SCCs
    * the one whose earliest member appears first in the traversal's node
    * order — the B5 evaluation order reaches execution (it schedules
    * independent dependency chains) without ever violating the
    * referenced-shapes-first constraint the set algebra needs. */
  private def scheduleSccs(sccs: Seq[Seq[String]], nodeOrder: Seq[String]): Seq[Seq[String]] = {
    val orderIdx = nodeOrder.zipWithIndex.toMap
    def rank(id: String): Int = orderIdx.getOrElse(id, Int.MaxValue)
    val sccIdx: Map[String, Int] =
      sccs.zipWithIndex.flatMap { case (c, i) => c.map(_ -> i) }.toMap
    val deps: IndexedSeq[Set[Int]] = sccs.indices.map { i =>
      sccs(i).flatMap(id => schema.dependencies.getOrElse(id, Nil))
        .map(sccIdx).filter(_ != i).toSet
    }
    val done = scala.collection.mutable.Set[Int]()
    val pending = scala.collection.mutable.Set.from(sccs.indices)
    val out = Seq.newBuilder[Seq[String]]
    while (pending.nonEmpty) {
      val next = pending.filter(i => deps(i).subsetOf(done))
        .minBy(i => sccs(i).map(rank).min)
      out += sccs(next); done += next; pending -= next
    }
    out.result()
  }

  // ------------------------------------------------------------------ run

  def run(): ValidationResult =
    try evaluate()
    catch { case NonFatal(e) => pinned.foreach(ValidationResult.release); throw e }

  private def evaluate(): ValidationResult = {
    val t0 = System.nanoTime()
    val nodeOrder = Traversal.plan(schema, config.traversal, config.heuristics)
    val sccs = scheduleSccs(schema.sccsInEvaluationOrder, nodeOrder)
    val cyclicIds: Set[String] = sccs.filter(schema.isCyclic).flatten.toSet

    /** Shapes inside a cyclic SCC get eager checkpoints (their artifacts are
      * re-joined every fixpoint round and the growing lineage must be cut);
      * acyclic shapes stay LAZY — one Catalyst plan per shape, materialized
      * only when a parent or the final report consumes it. */
    def pin(id: String, df: DataFrame): DataFrame =
      if (cyclicIds.contains(id)) checkpointed(df) else persisted(df)

    // Static per-shape artifacts. With 4 or more target classes, ALL target
    // scans share ONE type-scan + distinct over (class, subj) — per-shape
    // target sets become lazy filters of the single pinned frame. On LUBM
    // (5 target classes; `perfbench/run.py --trace 1`, seed 1) per-shape
    // scans instead raised `lubm.request.jobs` from 178 to 207,
    // `lubm.validator_run.jobs` from 66 to 76 and the request from 10.6 s
    // to 11.3 s. Small schemas keep per-shape scans (the narrower
    // obj===cls pushdown beats the shared frame's bookkeeping when there
    // is nothing to amortize — measured ~20% on the 2-shape bench schema).
    val targetClassOf: Map[String, String] =
      schema.shapes.flatMap(s => targetClass(s).map(s.id -> _)).toMap
    val sharedScan: Option[DataFrame] =
      if (targetClassOf.size < 4) None
      else {
        val classes = targetClassOf.values.toSeq.distinct
        val base = triples.filter($"pred" === Rdf.rdfType && $"obj".isin(classes: _*))
          .select($"obj".as("cls"), $"subj".as("focus")).distinct()
        Some(if (cyclicIds.nonEmpty) checkpointed(base) else persisted(base))
      }
    val targets: Map[String, DataFrame] = schema.shapes.map { s =>
      stats.totalQueries += 1
      val frame = (sharedScan, targetClassOf.get(s.id)) match {
        case (Some(scan), Some(c)) => scan.filter($"cls" === c).select($"focus")
        case (None, Some(c)) =>
          pin(s.id, triples.filter($"pred" === Rdf.rdfType && $"obj" === c)
            .select($"subj".as("focus")).distinct())
        case (_, None) => pin(s.id, emptyFocus())
      }
      s.id -> frame
    }.toMap

    // 2-valued immediately-invalid PARTS, kept separate so structurally
    // absent sources cost nothing: each part is individually distinct by
    // construction (localCardInvalid/orInvalid derive from the distinct
    // target frame via 1:≤1 joins / anti-joins, sparqlInvalid is a
    // semi-join of targets, A10-classify aggregates per focus), so the
    // final per-shape inv0 needs a distinct ONLY when ≥2 parts could
    // overlap — and a shape with NO parts skips the union/distinct/persist
    // /anti-join machinery entirely (r06: was a distinct + persist + anti-
    // join of a provably-empty frame on every constraint-only shape).
    val invalid0parts: Map[String, Seq[DataFrame]] = schema.shapes.map { s =>
      val t = targets(s.id)
      s.id -> Seq(localCardInvalid(s, t), orInvalid(s, t), sparqlInvalid(s, t)).flatten
    }.toMap

    // Reference checks per shape: ref'd min, ref'd max, then skipped max
    // (the order fixes evalShape's join order). A skipped max counts the
    // edges of the min constraints to the same shape (Validation.py:317-325
    // counts atoms from min query bindings), so its edge set is never empty.
    // With `selective` the edges are nested inside the shape's target set
    // (A7); either way no dedup — counts are distinct. Acyclic shapes read
    // their edges once (r06: persisting them only paid a cache write), so
    // only cyclic shapes, whose edges re-join every round, pin them.
    val refChecks: Map[String, Seq[RefCheck]] = schema.shapes.map { s =>
      def check(ref: String, isMin: Boolean, bound: Int, cs: Seq[CardConstraint]): RefCheck = {
        val e = selectiveRestrict(
          cs.map(refEdges(_, targets.getOrElse(ref, emptyFocus()))).reduce(_ union _), targets(s.id))
        RefCheck(ref, isMin, bound, if (cyclicIds.contains(s.id)) checkpointed(e) else e)
      }
      val refMins = s.minConstraints.filter(_.shapeRef.isDefined)
      s.id -> (
        refMins.map(c => check(c.shapeRef.get, isMin = true, c.min, Seq(c))) ++
          s.activeMaxConstraints.filter(_.shapeRef.isDefined)
            .map(c => check(c.shapeRef.get, isMin = false, c.max, Seq(c))) ++
          s.maxValidRefs.toSeq.map { case (ref, bound) =>
            check(ref, isMin = false, bound, refMins.filter(_.shapeRef.contains(ref)))
          })
    }.toMap
    stats.totalQueries += refChecks.valuesIterator.map(_.size).sum
    stats.planMs = (System.nanoTime() - t0) / 1000000L

    // Verdict state (T = strictValid, F = invalid), evolving per SCC.
    val state = scala.collection.mutable.Map[String, ShapeVerdict]()
    def curT(id: String): DataFrame = state.get(id).map(_.strictValid).getOrElse(emptyFocus())
    val emptyMarked: DataFrame =
      spark.emptyDataset[(String, Boolean, Boolean)].toDF("focus", "__isF", "__isT")

    /** One evaluation pass of shape `s` against the current T/F state:
      * returns `marked(focus, __isF, __isT)` over `targets ∖ inv0d`.
      * (An empty inv0d costs nothing extra: AQE's empty-relation
      * propagation eliminates the anti-join at runtime.)
      *
      * One aggregation per reference check: left-join the referenced
      * shape's T/F verdict sets onto the typed edges and aggregate cntT,
      * cntF and the total typed-object count together (distinct counts —
      * edges are not pre-deduplicated). nonF = tot - cntF.
      *  - min check: F iff nonF < bound; T iff cntT >= bound.
      *  - max check: F iff cntT > bound; T iff nonF <= bound — a monotone
      *    T-guard: proven valid only once the bound can no longer be
      *    exceeded (cntT grows towards nonF; without it a focus proven T
      *    early could flip to F later — non-monotone, diverging from the
      *    reference where an inferred head is never re-negated).
      *
      * Written as an EXPLICIT two-level aggregation — dedup (focus, o)
      * carrying the T/F flags, then plain counts — instead of three
      * `countDistinct` calls: multiple distinct aggregates plan through
      * an Expand that triples every edge row before the shuffle (opt r06,
      * guide §2.3 "shuffle fewer bytes"; both bench plans carried
      * `Expand [3 projections]`). Equivalence: the flags depend only on
      * `o` (semi-set membership), so they are constant across duplicate
      * (focus, o) rows and `max` preserves them through the dedup;
      * `count(when(flag, o))` over deduped rows ≡ countDistinct of the
      * flagged objects (o is never null on a path edge, and `count($"o")`
      * ≡ countDistinct(o) after dedup either way). */
    def evalShape(s: Shape, inv0d: Option[DataFrame]): DataFrame = {
      var cur = inv0d.fold(targets(s.id))(d => targets(s.id).join(d, Seq("focus"), "left_anti"))
      val fConds = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column]()
      val tConds = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column]()
      for ((rc, i) <- refChecks(s.id).zipWithIndex) {
        val (tc, fc, tot) = (s"cntT${i + 1}", s"cntF${i + 1}", s"tot${i + 1}")
        val tSet = curT(rc.ref).withColumnRenamed("focus", "o").withColumn("__t", lit(true))
        val fSet = state.get(rc.ref).map(_.invalid).getOrElse(emptyFocus())
          .withColumnRenamed("focus", "o").withColumn("__f", lit(true))
        val st = rc.edges
          .join(tSet, Seq("o"), "left")
          .join(fSet, Seq("o"), "left")
          .groupBy($"focus", $"o").agg(max($"__t").as("__t"), max($"__f").as("__f"))
          .groupBy($"focus").agg(
            count(when($"__t", $"o")).as(tc),
            count(when($"__f", $"o")).as(fc),
            count($"o").as(tot))
        cur = cur.join(st, Seq("focus"), "left")
        val cntT = coalesce(col(tc), lit(0L))
        val nonF = coalesce(col(tot), lit(0L)) - coalesce(col(fc), lit(0L))
        fConds += (if (rc.isMin) nonF < rc.bound else cntT > rc.bound)
        tConds += (if (rc.isMin) cntT >= rc.bound else nonF <= rc.bound)
      }
      val isF = fConds.reduceOption(_ || _).getOrElse(lit(false))
      val isT = !isF && tConds.reduceOption(_ && _).getOrElse(lit(true))
      cur.withColumn("__isF", isF).withColumn("__isT", isT)
        .select($"focus", $"__isF", $"__isT")
    }

    /** The fixpoint's convergence test, ONE action over the SCC's marked
      * frames: per shape, in SCC order, its numbers of T rows and of F
      * rows. T and F only grow and inv0 is fixed and disjoint from marked,
      * so equal counts mean equal T and invalid sets. */
    def markedCounts(scc: Seq[String]): Seq[(Long, Long)] = {
      val counted = scc.map(id => state(id).marked.select(lit(id).as("shape"), $"__isT", $"__isF"))
        .reduce(_ union _)
        .groupBy($"shape").agg(count(when($"__isT", 1)), count(when($"__isF", 1)))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      scc.map(counted.getOrElse(_, (0L, 0L)))
    }

    // shapes some other shape references — their verdict frames feed >1
    // downstream consumer and get materialized eagerly (see below)
    val referencedIds: Set[String] = schema.shapes
      .flatMap(x => schema.dependencies.getOrElse(x.id, Nil)).toSet

    /** A10 filtered target extraction: when a referenced neighbor is already
      * fully evaluated and passes the reference's eligibility rule
      * (Validation.py:147-175), classify this shape's targets against the
      * neighbor's valid list and fold the immediately-invalid ones into
      * inv0 — early violation pruning with identical verdicts (the
      * planner-knob grid asserts the invariance). Applied per shape in
      * traversal order REGARDLESS of recursion, like the reference
      * (Validation.py:101-110): inside a cyclic SCC only out-of-SCC
      * neighbors qualify (in-SCC shapes are not yet in `state`), and a
      * target pruned into inv0 is indistinguishable to the fixpoint from
      * one proven F in round 1 — F is monotone, so verdicts are unchanged
      * while the fixpoint's working set shrinks up front. */
    def a10Prune(s: Shape): Seq[DataFrame] = {
      if (!config.selective) return Nil
      for {
        ref <- TargetFilter.eligibleNeighbor(s, state.toMap, schema, config.maxSplitSize).toSeq
        c <- s.minConstraints.find(_.shapeRef.contains(ref)).toSeq
      } yield {
        val cls = TargetFilter.classify(spark, triples, targets(s.id), c,
          state(ref).validFinal, config.expandSequencePaths)
        stats.prunedShapes += 1
        cls.invalid
      }
    }

    /** Final per-shape inv0 from its parts: none → statically empty (no
      * frame at all), one → already distinct, several → union + distinct. */
    def combineInv0(parts: Seq[DataFrame]): Option[DataFrame] = parts match {
      case Seq() => None
      case Seq(one) => Some(one)
      case many => Some(many.reduce(_ union _).distinct())
    }

    /** Guide §1.5: label jobs by validation phase + shape so multi-job
      * evaluations are attributable in the UI/JobProbe. Thread-local and
      * restored by the caller pattern (description cleared at run end). */
    def labeled[T](desc: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(desc)
      try f finally spark.sparkContext.setJobDescription(null)
    }

    // One loop for every SCC: the 3-valued fixpoint. T and F grow
    // monotonically from (∅, inv0); iteration mirrors saturate_remaining
    // (Validation.py:417-432). An acyclic SCC reads no verdict of its own,
    // so its first round is final and it runs no convergence action.
    stats.sccCount = sccs.size
    for (scc <- sccs) {
      val cyclic = schema.isCyclic(scc)
      val tSat = System.nanoTime()
      // inv0 before the SCC's state is seeded: A10 sees only fully
      // evaluated out-of-SCC neighbors, exactly where the reference applies
      // target filtering for recursive shapes too (Validation.py:101-110)
      val inv0dOpt: Map[String, Option[DataFrame]] = scc.map { id =>
        id -> combineInv0(invalid0parts(id) ++ a10Prune(schema.byId(id))).map(pin(id, _))
      }.toMap
      def verdict(id: String, marked: DataFrame): ShapeVerdict =
        ShapeVerdict(targets(id), inv0dOpt(id).getOrElse(emptyFocus()), marked)
      scc.foreach(id => state(id) = verdict(id, emptyMarked))
      val maxRounds = if (cyclic) config.maxIterations else 1
      var counts = scc.map(_ => (0L, 0L))
      var converged = false
      var round = 0
      while (!converged && round < maxRounds) {
        round += 1
        // every shape of a round reads the previous round's state
        val updated = scc.map(id => id -> pin(id, evalShape(schema.byId(id), inv0dOpt(id))))
        // a cyclic round is materialized and reads nothing of the one it
        // replaces, so the old round's blocks go now, not at result release
        updated.foreach { case (id, marked) =>
          unpin(state(id).marked)
          state(id) = verdict(id, marked)
        }
        if (cyclic) {
          stats.fixpointIterations += 1
          val next = markedCounts(scc)
          converged = next == counts
          counts = next
        }
      }
      // A shape with dependents is consumed from MULTIPLE downstream plan
      // branches (each dependent's evalShape, plus the final report). If
      // its lazily-persisted frames are still cold when those branches run
      // concurrently inside one job, each branch recomputes the whole
      // evaluation subtree (racing the cache) — nondeterministic 2-4×
      // work. One cheap count materializes the cache exactly once, in
      // dependency order; leaf shapes stay fully lazy.
      if (!cyclic && referencedIds.contains(scc.head))
        labeled(s"shacl eval+pin ${scc.head}")(state(scc.head).marked.count())
      if (cyclic) {
        stats.cyclicSccCount += 1
        stats.saturationMs += (System.nanoTime() - tSat) / 1000000L
      }
    }

    stats.evalMs = (System.nanoTime() - t0) / 1000000L - stats.planMs
    ValidationResult(state.toMap, nodeOrder, stats, pinned.toSeq)
  }
}
