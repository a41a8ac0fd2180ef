package graftbench

import graft.kg.{Pipeline, TranscriptGen}
import graft.shacl.Report
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files

/** `Pipeline.run(validate = true)` into a fresh work dir, then
  * `Pipeline.materialize` and `Report.writeVerdicts` (the validator plans
  * leaf shapes lazily; the verdict write is what evaluates them). The
  * transcript corpus is generated and pinned once per set-up. Sized below
  * the frozen `graft.Bench` corpus (6,000 x 300) so a run fits its time
  * budget; the op is per-job and codegen overhead at both sizes. */
final class KgBuild(c: Main.Conf) extends Workload {
  private val convs = 600L
  private val entities = 60
  val warmPasses = 2

  private var spark: SparkSession = _
  private var turns: DataFrame = _
  /** (triple count, checksum) of the run's first op; every later op must match */
  private var reference: Option[(Long, Long)] = None
  private var firstTriplesDir: Option[java.io.File] = None

  def setup(s: SparkSession): Unit = {
    spark = s
    // a local checkpoint, not cache(): it survives the clearCache() between ops
    turns = TranscriptGen.generate(spark, convs, entities).toDF().localCheckpoint(true)
  }

  /** count and order-insensitive checksum of a triple table */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(col("subj"), col("pred"), col("obj")), lit(1000000007L))))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def op(trace: Trace, keepTriples: Boolean): Op = {
    val dir = Files.createTempDirectory(c.work, "kg-op").toFile
    val t0 = System.nanoTime()
    val result = try {
      val r = trace.span("kg.pipeline")(
        Pipeline.run(spark, turns, s"$dir/ckpt", validate = true,
          inputSignature = s"perfbench;$convs;$entities"))
      trace.span("rdf.materialize")(Pipeline.materialize(r, s"$dir/triples"))
      trace.span("shacl.report")(Report.writeVerdicts(spark, r.validation.get, s"$dir/report"))
      Right(r)
    } catch { case e: Exception => Left(s"kg_build op threw: $e") }
    val wallMs = (System.nanoTime() - t0) / 1e6

    val error = result match {
      case Left(err) => Some(err)
      case Right(r) =>
        if (trace.active) {
          r.stageSeconds.foreach { case (stage, s) => trace.record(s"kg.$stage", "wall_ms", s * 1000) }
          r.counters.foreach { case (stage, rows) => trace.record(s"kg.$stage", "rows", rows.toDouble) }
          trace.record("kg", "checkpoint_bytes", FileUtils.sizeOfDirectory(new java.io.File(s"$dir/ckpt")).toDouble)
        }
        r.validation.foreach(_.unpersist())
        val got = fingerprint(spark.read.parquet(s"$dir/triples"))
        if (reference.isEmpty) reference = Some(got)
        if (reference.contains(got)) None
        else Some(s"kg_build: triples (count, checksum) $got differ from the first op's ${reference.get}")
    }
    spark.catalog.clearCache()
    if (keepTriples) firstTriplesDir = Some(dir) else FileUtils.deleteDirectory(dir)
    Op(wallMs, error)
  }

  def firstOp(trace: Trace): Seq[Op] = Seq(op(trace, keepTriples = true))
  def pass(trace: Trace): Seq[Op] = Seq(op(trace, keepTriples = false))

  /** Precision and recall of the first op's triples against the generator. */
  def runChecks(trace: Trace): Seq[String] = firstTriplesDir.toSeq.flatMap { dir =>
    val expected = TranscriptGen.expectedTriples(spark, convs, entities)
    val (p, r) = Pipeline.precisionRecall(spark.read.parquet(s"$dir/triples"), expected)
    FileUtils.deleteDirectory(dir)
    if (p == 1.0 && r == 1.0) Nil else Seq(f"kg_build: precision $p%.4f recall $r%.4f, expected 1.0")
  }

  /** the pinned corpus goes with the session */
  def close(): Unit = ()
}
