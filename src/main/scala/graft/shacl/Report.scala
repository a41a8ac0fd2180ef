package graft.shacl

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Validation-result sinks with reference parity (B13,
  * Validation.py:545-627): per-shape verdict tables, target logs,
  * `traces.csv`, a SHACL `sh:ValidationReport` Turtle document, and the
  * reference's run-statistics counters (`stats.txt`,
  * utils/ValidationStats.py:29-49). Verdict tables and traces go through
  * distributed writes or bounded iterators — nothing here collects an
  * unbounded result to the driver.
  */
object Report {

  /** One shape's exact verdict counts plus the first foci of each list. */
  final case class ShapeSummary(valid: Long, violated: Long,
                                validFoci: Seq[String], violatedFoci: Seq[String])

  /** Every shape's valid/violated counts and the first `maxInstances` foci
    * of each list, in Spark's `focus` order (UTF-8 binary, as
    * `orderBy("focus")`), from ONE Spark action over [[verdictFrame]]:
    * `count(*)` and `row_number()` over the (shape, verdict) window,
    * filtered on the row number. Each non-empty group keeps its first row
    * even at `maxInstances = 0`, so its count survives truncation; the
    * collected rows are bounded by groups × max(maxInstances, 1). Shapes
    * with no rows (no targets) summarize as 0/0 with empty lists. */
  def summarize(spark: SparkSession, result: ValidationResult,
                maxInstances: Int): Map[String, ShapeSummary] = {
    val group = Window.partitionBy("shape", "verdict")
    val rows = verdictFrame(spark, result)
      .select(col("shape"), col("verdict"), col("focus"),
        count(lit(1)).over(group).as("n"),
        row_number().over(group.orderBy("focus")).as("i"))
      .filter(col("i") <= math.max(maxInstances, 1))
      .collect()
    val groups = rows.groupBy(r => (r.getString(0), r.getString(1))).map { case (key, rs) =>
      key -> (rs.head.getLong(3), rs.sortBy(_.getInt(4)).take(maxInstances).map(_.getString(2)).toSeq)
    }
    val none = (0L, Seq.empty[String])
    result.verdicts.keys.map { id =>
      val (nValid, valid) = groups.getOrElse((id, "valid"), none)
      val (nViolated, violated) = groups.getOrElse((id, "violated"), none)
      id -> ShapeSummary(nValid, nViolated, valid, violated)
    }.toMap
  }

  /** All verdicts as one DataFrame(shape, focus, verdict): one union
    * branch per shape. Each shape's `marked` frame is read ONCE (verdict =
    * CASE over the F flag) rather than filtered twice for valid/violated:
    * the union's branches execute concurrently in one job, and two
    * branches over the same not-yet-cached evaluation subtree race the
    * persist cache and duplicate the whole shape evaluation — the single
    * read removes the race and halves the plan. Semantics identical:
    * validFinal = marked∖F, invalid = F. */
  def verdictFrame(spark: SparkSession, result: ValidationResult): DataFrame = {
    val parts = result.verdicts.toSeq.map { case (shapeId, v) =>
      v.marked.select(lit(shapeId).as("shape"), col("focus"),
        when(col("__isF"), lit("violated")).otherwise(lit("valid")).as("verdict"))
    }
    parts.reduceOption(_ union _)
      .getOrElse(spark.emptyDataFrame.select(lit("").as("shape"), lit("").as("focus"), lit("").as("verdict")).limit(0))
  }

  /** @param ordered reference `--orderby` (main.py:41-42, ORDER BY in the
    *        generated queries): globally sort the verdict output by
    *        (shape, focus) before writing. A distributed range sort — output
    *        part files are globally ordered; costs one extra shuffle, which
    *        is exactly what the flag opts into. */
  def writeVerdicts(spark: SparkSession, result: ValidationResult, outDir: String,
                    ordered: Boolean = false): Unit = {
    val frame = verdictFrame(spark, result)
    val out = if (ordered) frame.orderBy(col("shape"), col("focus")) else frame
    out.write.mode(SaveMode.Overwrite).parquet(s"$outDir/verdicts.parquet")
  }

  /** `traces.csv` parity (Validation.register_target, Validation.py:543-544 +
    * :604-607): one row per registered target with columns
    * `Shape,Result,Number,Time`. The reference numbers targets by global
    * registration order and stamps per-target wall-clock; ANY contiguous
    * sequence needs single-task processing of its group (the same
    * pathology as a global window), so `Number` is
    * monotonically_increasing_id — unique and fully parallel, not
    * contiguous — and `Time` is the run's wall-clock in seconds, constant
    * per run. Written as a distributed CSV. */
  def writeTraces(spark: SparkSession, result: ValidationResult, outDir: String): Unit = {
    val elapsed = (result.stats.planMs + result.stats.evalMs) / 1000.0
    verdictFrame(spark, result)
      // the union stacks partitions from every verdict branch — coalesce
      // (no shuffle) to one file per core so the artifact stays browsable
      .coalesce(spark.sparkContext.defaultParallelism)
      .select(col("shape").as("Shape"), col("verdict").as("Result"),
        monotonically_increasing_id().as("Number"), lit(elapsed).as("Time"))
      .write.mode(SaveMode.Overwrite).option("header", "true")
      .csv(s"$outDir/traces.csv")
  }

  /** `targets_valid.log` / `targets_violated.log` parity
    * (Validation.write_targets_to_file): `Shape(<instance>),` lines, sorted
    * by (shape, focus). Both logs come from ONE `orderBy("shape", "focus")`
    * pass over [[verdictFrame]]: each row goes to its verdict's file. Rows
    * stream through `toLocalIterator` (one partition in driver memory at a
    * time) and each file stops at `maxLines` — the reference collects
    * everything, which is a driver OOM at scale; callers needing the full
    * set use the parquet verdict table. */
  def writeTargetLogs(spark: SparkSession, result: ValidationResult, outDir: String,
                      maxLines: Long = 1000000L): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val writers = Seq("valid", "violated").map { verdict =>
      verdict -> java.nio.file.Files.newBufferedWriter(
        java.nio.file.Paths.get(s"$outDir/targets_$verdict.log"), java.nio.charset.StandardCharsets.UTF_8)
    }.toMap
    val lines = scala.collection.mutable.Map("valid" -> 0L, "violated" -> 0L)
    try {
      val it = verdictFrame(spark, result).orderBy("shape", "focus").toLocalIterator()
      while (it.hasNext && lines.values.exists(_ < maxLines)) {
        val r = it.next()
        val verdict = r.getString(2)
        val n = lines(verdict)
        if (n < maxLines) {
          if (n > 0) writers(verdict).write("\n")
          writers(verdict).write(s"${r.getString(0)}(${r.getString(1)}),")
          lines(verdict) = n + 1
        }
      }
    } finally writers.values.foreach(_.close())
  }

  /** SHACL validation report TTL (Validation.py:609-627) from a
    * [[summarize]] result: shapes in id order, each shape's summarized
    * violating foci in Spark's focus order. The summary's cap keeps the
    * report human-sized; at scale use the parquet verdict table instead.
    * `sh:conforms` comes from the exact violated counts, not the capped
    * list. */
  def validationReportTtl(summary: Map[String, ShapeSummary]): String = {
    val conforms = summary.values.forall(_.violated == 0)
    val violations = summary.toSeq.sortBy(_._1).flatMap { case (shapeId, s) => s.violatedFoci.map(shapeId -> _) }
    val sb = new StringBuilder("@prefix sh: <http://www.w3.org/ns/shacl#> . \n\n")
    sb.append(s":report a sh:ValidationReport ;\n  sh:conforms $conforms ")
    if (violations.nonEmpty) {
      sb.append(";\n  sh:result")
      violations.zipWithIndex.foreach { case ((shapeId, focus), i) =>
        if (i != 0) sb.append(" ,")
        sb.append("\n    [ a  sh:ValidationResult ;\n")
          .append("      sh:resultSeverity  sh:Violation ;\n")
          .append(s"      sh:focusNode  <$focus> ;\n")
          .append(s"      sh:sourceShape  <$shapeId> ]")
      }
    }
    sb.append(" .").toString
  }

  /** `validation.log` parity (Validation.validation_output writes the
    * stats log + global valid/invalid totals): per-shape progress lines,
    * node order, and the final target totals, from a [[summarize]] result
    * (only its exact counts are read). */
  def validationLog(result: ValidationResult, summary: Map[String, ShapeSummary]): String = {
    val perShape = summary.toSeq.sortBy(_._1).map { case (id, s) =>
      s"Evaluated shape $id: valid=${s.valid} violated=${s.violated}"
    }
    val valid = summary.values.map(_.valid).sum
    val invalid = summary.values.map(_.violated).sum
    (Seq(s"Node order: ${result.nodeOrder.mkString(", ")}") ++ perShape ++ Seq(
      s"Shapes evaluated: ${result.verdicts.size}",
      s"Fixpoint iterations: ${result.stats.fixpointIterations}",
      s"Valid targets: $valid",
      s"Invalid targets: $invalid")).mkString("\n")
  }

  /** Per-shape verdict counts plus every counter the reference's stats file
    * carries (ValidationStats.write_all_stats, ValidationStats.py:29-49),
    * with Spark-side meanings, all read from `summary` and the run's
    * stats — no Spark action:
    *  - solution mappings  → rows of the verdict frames, one per target
    *    (valid + violated; max = largest single shape) — the engine's
    *    working-set analogue of the reference's per-query binding counts
    *  - rules in memory    → the set-algebra engine grounds no explicit
    *    rules; reported as fixpoint iterations × cyclic shape count (the
    *    state actually re-derived per round)
    *  - query time         → plan/compile phase (no queries are shipped)
    *  - interleaving time  → evaluation wall-clock
    *  - saturation time    → share of evaluation inside cyclic fixpoints */
  def statsText(result: ValidationResult, summary: Map[String, ShapeSummary]): String = {
    val st = result.stats
    val perShape = result.verdicts.keys.toSeq.sorted.map(id => (id, summary(id).valid, summary(id).violated))
    val valid = perShape.map(_._2).sum
    val invalid = perShape.map(_._3).sum
    val mappings = perShape.map { case (_, va, in) => va + in }
    val counts = perShape.map { case (id, va, in) => s"$id: targets=${va + in} valid=$va violated=$in" }
    (counts :+
      s"all targets: ${valid + invalid}" :+
      s"valid targets: $valid" :+
      s"invalid targets: $invalid" :+
      s"max number of solution mappings for a query: ${if (mappings.isEmpty) 0 else mappings.max}" :+
      s"total number of solution mappings: ${mappings.sum}" :+
      s"max number of rules in memory: ${st.fixpointIterations.max(0)}" :+
      s"total number of rules: ${st.fixpointIterations * result.verdicts.size}" :+
      s"number of queries: ${st.totalQueries}" :+
      s"total query exec time: ${st.planMs / 1000.0}" :+
      s"total interleaving (+ query exec) time: ${st.evalMs / 1000.0}" :+
      s"total (deferred) saturation time: ${st.saturationMs / 1000.0}" :+
      s"total time: ${(st.planMs + st.evalMs) / 1000.0}" :+
      s"sccs: ${st.sccCount} (cyclic: ${st.cyclicSccCount})" :+
      s"fixpoint iterations: ${st.fixpointIterations}" :+
      s"node order: ${result.nodeOrder.mkString(" -> ")}").mkString("\n")
  }
}
