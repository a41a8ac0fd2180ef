package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batched per-turn mention + relation detection over transcripts — pure
  * codegen'd Spark SQL (regexp functions + explode), no UDFs (north rule:
  * "batched regex/gazetteer mention detection per turn").
  */
object Extraction {
  /** Canonical small-integer fact codes, shared by the compact extraction
    * output and the pipeline's dictionary encoding:
    * pid 0 = rdf:type, then the relation predicates in declaration order;
    * clsIdx i+1 = classesInOrder(i) (so the pipeline's reserved entity id
    * for class c is simply -clsIdx). */
  val predsInOrder: Seq[String] =
    graft.rdf.Rdf.rdfType +: Seq(Universe.relWorksAt, Universe.relCollab, Universe.relContrib)
  val classesInOrder: Seq[String] =
    Seq(Universe.clsPerson, Universe.clsOrg, Universe.clsProject)

  private val triggerToPid = Map("works at" -> 1, "collaborates with" -> 2, "contributes to" -> 3)
  private val kindWordToClsIdx = Map("person" -> 1, "organization" -> 2, "project" -> 3)

  /** A mention: one or more capitalized tokens (optionally dotted initials). */
  private val MentionRe = "[A-Z][A-Za-z0-9]*\\.?(?: [A-Z][A-Za-z0-9]*\\.?)*"

  /** One combined pattern so relation and type facts come from a single
    * regex pass over the corpus — the transcript scan is the dominant
    * data-volume stage and must not run twice. */
  private val factPattern =
    s"($MentionRe) (${(triggerToPid.keys.toSeq :+ "is a").sorted.mkString("|")}) " +
      s"($MentionRe|${kindWordToClsIdx.keys.toSeq.sorted.mkString("|")}) \\."

  private def mapLitInt(m: Map[String, Int]) =
    map(m.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  /** Unified fact extraction in ONE corpus pass, DICTIONARY-ENCODED at the
    * source: (conv_id, turn_idx, subjSurface, pid, objSurface, clsIdx).
    * Relation rows carry (pid ≥ 1, objSurface); type rows carry pid = 0 and
    * the class index in `clsIdx`. The extraction scan is memory-bandwidth
    * bound at high parallelism, so the hot output carries 4-byte codes
    * instead of ~30-byte predicate/class IRI strings — the IRI view
    * ([[facts]]) decodes lazily at the consumer edge via literal maps.
    *
    * ALL matching fact sentences of a turn are kept: one
    * `regexp_extract_all` pass over the full text finds every
    * non-overlapping match, then the (short) matched sentences are exploded
    * and re-captured per group — the full-corpus regex scan runs exactly
    * once, the per-group extracts only touch ~60-char match strings. */
  def factsCompact(turns: DataFrame): DataFrame = {
    val keyCols = Seq(col("conv_id"), col("turn_idx"))
    // NO contains() trigger prefilter — MEASURED no longer profitable under
    // the compact encoding (136M-turn ScalingBench corpus, local[8], min of
    // 2, measured with the ExtractionProbe scratch main, since removed):
    // bare regex scan 92.9 s; contains()-prefiltered scan 95.7 s; the
    // filter alone costs 27.6 s and only removes 27% of turns ("is a"
    // appears in most fact-bearing turns), so the surviving 73% of bytes
    // get scanned twice. The earlier ~10x-per-byte claim predated the
    // single-pass `regexp_extract_all` formulation.
    turns
      .select(keyCols :+
        explode(regexp_extract_all(col("text"), lit(factPattern), lit(0))).as("sent"): _*)
      .select(keyCols ++ Seq(
        regexp_extract(col("sent"), factPattern, 1).as("subjSurface"),
        regexp_extract(col("sent"), factPattern, 2).as("trigger"),
        regexp_extract(col("sent"), factPattern, 3).as("objRaw")): _*)
      .filter(col("subjSurface") =!= "")
      .select(keyCols ++ Seq(col("subjSurface"),
        when(col("trigger") === "is a", lit(0))
          .otherwise(element_at(mapLitInt(triggerToPid), col("trigger"))).as("pid"),
        when(col("trigger") =!= "is a", col("objRaw")).as("objSurface"),
        when(col("trigger") === "is a", element_at(mapLitInt(kindWordToClsIdx), col("objRaw"))).as("clsIdx")): _*)
  }

  /** IRI-typed view over [[factsCompact]]:
    * (conv_id, turn_idx, subjSurface, pred, objSurface, cls) — the public
    * fact schema (pred/cls as IRIs), decoded from the integer codes with
    * literal maps (codegen'd; negligible next to the regex scan). */
  def facts(turns: DataFrame): DataFrame = decode(factsCompact(turns))

  private def decode(compact: DataFrame): DataFrame = {
    val predOf = map(predsInOrder.zipWithIndex.flatMap { case (p, i) => Seq(lit(i), lit(p)) }: _*)
    val clsOf = map(classesInOrder.zipWithIndex.flatMap { case (c, i) => Seq(lit(i + 1), lit(c)) }: _*)
    compact.select(col("conv_id"), col("turn_idx"), col("subjSurface"),
      element_at(predOf, col("pid")).as("pred"),
      col("objSurface"),
      when(col("clsIdx").isNotNull, element_at(clsOf, col("clsIdx"))).as("cls"))
  }
}
