package graft.kg

import graft.rdf.Rdf
import graft.shacl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end knowledge-graph construction (north rule):
  * transcripts → mention/relation extraction → MinHash-LSH + TF-IDF entity
  * linking → connected-components canonicalization → (subj, pred, obj)
  * triple materialization → SHACL validation of the emitted graph.
  *
  * Every stage is checkpointed with per-partition lineage for exact resume.
  *
  * Skew handling (north rule):
  *  - mega-conversations: extraction is row-local (no per-conversation
  *    grouping anywhere), so a 10⁶-turn conversation costs the same as 10⁶
  *    small ones;
  *  - hub entities in the fact→id joins (a popular alias can appear in a
  *    large fraction of all facts): AQE skew-join splitting
  *    (spark.sql.adaptive.skewJoin, on in every entry point) splits the hot
  *    partitions;
  *  - per-key aggregations (surface dedup, triple distinct, TF-IDF document
  *    frequencies) are safe by construction: partial (map-side) aggregation
  *    collapses hub keys before the shuffle, and dedup shuffles key on the
  *    whole row — no hot keys;
  *  - LSH hub buckets are capped (TextSim.candidatePairs bucketCap).
  */
object Pipeline {

  final case class Result(triples: DataFrame, counters: Map[String, Long],
                          validation: Option[ValidationResult],
                          stageSeconds: Map[String, Double] = Map.empty)

  /** Shape schema for validating the constructed graph: persons must work at
    * ≥1 valid organization; projects must have ≥1 valid contributor. */
  def kgShapes: ShapeSchema = ShapeSchema(Seq(
    Shape(Universe.ns + "PersonShape", Some(Universe.clsPerson), None,
      Some(s"SELECT ?x WHERE { ?x a <${Universe.clsPerson}> }"),
      Seq(CardConstraint("person_c1", DirectPath(Universe.relWorksAt), min = 1,
        shapeRef = Some(Universe.ns + "OrganizationShape"))), Nil, Nil),
    Shape(Universe.ns + "OrganizationShape", Some(Universe.clsOrg), None,
      Some(s"SELECT ?x WHERE { ?x a <${Universe.clsOrg}> }"), Nil, Nil, Nil),
    Shape(Universe.ns + "ProjectShape", Some(Universe.clsProject), None,
      Some(s"SELECT ?x WHERE { ?x a <${Universe.clsProject}> }"),
      Seq(CardConstraint("project_c1", InversePath(Universe.relContrib), min = 1,
        shapeRef = Some(Universe.ns + "PersonShape"))), Nil, Nil)))

  private def surfaceToIri(c: org.apache.spark.sql.Column) =
    concat(lit(Universe.ns), regexp_replace(c, " ", "_"))

  /** @param inputSignature caller-supplied identity of the input corpus
    *        (e.g. source path + snapshot, or generator params). Stage
    *        checkpoints are keyed on it: re-running with the same workDir
    *        but a different signature recomputes instead of silently
    *        returning stale parquet. The default "" keeps pure
    *        kill/restart resume (same job, same input). */
  def run(spark: SparkSession, turns: DataFrame, workDir: String,
          validate: Boolean = false,
          linker: EntityLinker.LinkerParams = EntityLinker.LinkerParams(),
          inputSignature: String = ""): Result = {
    graft.Tuning.sessionDefaults(spark)
    val ckpt = new StageCheckpoint(spark, workDir)
    val sig = inputSignature
    val linkSig = s"$sig;linker=$linker"

    // ONE pass over the corpus extracts relation AND type facts together —
    // the transcript scan dominates data volume and must not run twice.
    // Stored in the COMPACT form (integer pred/class codes, not IRI
    // strings): the extraction scan is memory-bandwidth bound at high
    // parallelism, and the hot checkpoint is ~40% smaller this way. The
    // format marker in the signature forces recompute over checkpoints
    // written in the old IRI-string schema.
    val facts = ckpt.stage("facts", s"$sig;fmt=compact") { Extraction.factsCompact(turns) }

    // ONE scan of the facts checkpoint (r06, guide §2.3): the union-of-two-
    // projections form read the checkpoint twice; exploding both surface
    // columns in one pass emits the same multiset (subj surfaces plus
    // non-null obj surfaces) into the same distinct.
    val surfaces = ckpt.stage("surfaces", sig) {
      facts.select(explode(array(col("subjSurface"), col("objSurface"))).as("surface"))
        .filter(col("surface").isNotNull)
        .distinct()
    }

    val links = ckpt.stage("links", linkSig) { EntityLinker.link(spark, surfaces, linker) }

    val triples = ckpt.stage("triples", linkSig) {
      // Dictionary-encode entities and predicates BEFORE the corpus-wide
      // distinct: the dedup shuffle then moves (long, byte-sized pred id,
      // long) rows instead of ~150-byte IRI strings — an order of magnitude
      // less shuffle volume, and integer hashing instead of string hashing.
      // Entity ids are CONTENT HASHES (xxhash64 of the canonical surface):
      // no global window (a row_number over an unpartitioned window funnels
      // the whole dictionary through one task) and no driver-side state, so
      // the dictionary can be arbitrarily large. A collision audit below
      // fails loudly in the astronomically-unlikely 64-bit collision case.
      val dict = links.select(col("canonical")).distinct()
        .withColumn("eid", xxhash64(col("canonical")))
        .localCheckpoint(true)
      val classes = Extraction.classesInOrder
      val audit = dict.agg(
        countDistinct(col("canonical")).as("nCanon"),
        countDistinct(col("eid")).as("nId"),
        count(when(col("eid").isin(-1L, -2L, -3L), lit(1))).as("nReserved")).head()
      require(audit.getLong(0) == audit.getLong(1) && audit.getLong(2) == 0L,
        s"entity-id hash collision: ${audit.getLong(0)} canonicals -> " +
          s"${audit.getLong(1)} ids (${audit.getLong(2)} reserved hits)")

      // surface -> eid maps; plain shuffle joins (AQE broadcasts small sides
      // at test scale; at 10^8+ distinct surfaces these CANNOT be broadcast)
      val sLink = links.select(col("surface").as("subjSurface"), xxhash64(col("canonical")).as("sid"))
      val oLink = links.select(col("surface").as("objSurface"), xxhash64(col("canonical")).as("oid"))
      val predOf = map(Extraction.predsInOrder.zipWithIndex
        .flatMap { case (p, i) => Seq(lit(i), lit(p)) }: _*)

      // facts already carry integer pred/class codes (Extraction.factsCompact);
      // the reserved entity id of class index i is -i by construction
      val compact = facts
        .join(sLink, Seq("subjSurface"))
        .join(oLink, Seq("objSurface"), "left")
        .select(col("sid"), col("pid"),
          coalesce(col("oid"), -col("clsIdx").cast("long")).as("oid"))
        .filter(col("oid").isNotNull) // defensive: drop malformed facts
        .distinct()

      // the compact distinct output is tiny (ints) — AQE would coalesce it
      // to one partition and run the expansion + write single-task
      val spread = compact.repartition(spark.sparkContext.defaultParallelism)

      val subjDict = dict.select(col("eid").as("sid"), col("canonical").as("subjCanon"))
      val objDict = dict.select(col("eid").as("oid"), col("canonical").as("objCanon"))
      val clsOf = map(classes.zipWithIndex.flatMap { case (c, i) => Seq(lit(-(i + 1).toLong), lit(c)) }: _*)
      spread
        .join(subjDict, Seq("sid"))
        .join(objDict, Seq("oid"), "left")
        .select(
          surfaceToIri(col("subjCanon")).as("subj"),
          element_at(predOf, col("pid")).as("pred"),
          coalesce(surfaceToIri(col("objCanon")), element_at(clsOf, col("oid"))).as("obj"))
    }

    var validateSec = 0.0
    val validation =
      if (validate) {
        val t0 = System.nanoTime()
        val v = new Validator(spark, triples, kgShapes).run()
        validateSec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[stage validate] $validateSec%.1fs")
        Some(v)
      } else None

    Result(triples, ckpt.counters, validation,
      ckpt.stageSeconds ++ (if (validate) Map("validate" -> validateSec) else Map.empty))
  }

  /** Publish the emitted graph as the north-rule table layout: parquet
    * partitioned by predicate (directory pruning per constraint path); use
    * `TripleStore.writeBucketedTable` instead when a catalog is available
    * (adds subject-hash bucketing for shuffle-free groupBy(subj)). */
  def materialize(result: Result, path: String): Unit =
    graft.rdf.TripleStore.writePartitioned(result.triples, path)

  /** Precision/recall of emitted triples against an expected set. */
  def precisionRecall(out: DataFrame, expected: DataFrame): (Double, Double) = {
    val o = out.select("subj", "pred", "obj").distinct().cache()
    val e = expected.select("subj", "pred", "obj").distinct().cache()
    try {
      val inter = o.join(e, Seq("subj", "pred", "obj"), "left_semi").count().toDouble
      val (oc, ec) = (o.count(), e.count())
      (if (oc == 0) 0.0 else inter / oc, if (ec == 0) 0.0 else inter / ec)
    } finally { o.unpersist(); e.unpersist() }
  }
}
