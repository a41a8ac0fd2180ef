package graft.kg

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Stage-level checkpointing with per-partition lineage + counters (north
  * rule: "every stage checkpoints per-partition lineage and counters to
  * enable exact resume"). A stage whose lineage file exists AND whose
  * recorded parameter signature matches the caller's is NOT recomputed —
  * the persisted parquet is read back, so a killed run resumes at the stage
  * boundary with byte-identical results. A signature mismatch (same workDir
  * reused with different input/config) recomputes the stage instead of
  * silently returning stale parquet.
  */
final class StageCheckpoint(spark: SparkSession, baseDir: String) {
  Files.createDirectories(Paths.get(baseDir))

  // wall seconds per computed stage this run (resumed stages are absent) —
  // read by ScalingBench to attribute a slow leg to a named stage
  private val times = scala.collection.mutable.LinkedHashMap[String, Double]()
  def stageSeconds: Map[String, Double] = times.toMap

  final case class StageLineage(rows: Long, checksum: Long, partitions: Seq[(Int, Long)])

  private def lineagePath(name: String) = Paths.get(s"$baseDir/$name.lineage.json")
  private def dataPath(name: String) = s"$baseDir/$name.parquet"

  /** Per-output-file row counts from the parquet FOOTERS — pure driver-side
    * metadata reads (a few KB per file), no data scan. Files are numbered in
    * name order so lineage stays deterministic. At real scale (10⁴+ files)
    * this loop is still trivial next to any data pass; parallelize it over a
    * thread pool before it ever shows up in a profile. */
  private def footerCounts(dir: String): Seq[(Int, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    files.zipWithIndex.map { case (f, i) =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try (i, r.getRecordCount) finally r.close()
    }.toSeq
  }

  /** Signature of the inputs/config a stage was computed from — NOT the
    * output fingerprint (which can't detect stale reuse before recompute). */
  private def paramsSig(params: String): Long =
    scala.util.hashing.MurmurHash3.stringHash(params).toLong

  def isComplete(name: String, params: String = ""): Boolean =
    Files.exists(lineagePath(name)) && {
      val content = new String(Files.readAllBytes(lineagePath(name)), "UTF-8")
      """"params_sig":(-?\d+)""".r.findFirstMatchIn(content)
        .exists(_.group(1).toLong == paramsSig(params))
    }

  /** Run (or resume) a stage. `compute` is only invoked when no completed
    * checkpoint with a MATCHING parameter signature exists; a lineage file
    * recorded under different `params` (changed input corpus or stage
    * config in a reused workDir) triggers recomputation. Returns the stage
    * output read back from parquet so downstream lineage is rooted at the
    * checkpoint, not the computation. */
  def stage(name: String, params: String = "")(compute: => DataFrame): DataFrame = {
    if (!isComplete(name, params)) {
      // The old lineage goes BEFORE its parquet is overwritten: if this run
      // dies mid-write, a rerun must not find a lineage that vouches for a
      // deleted or half-written output.
      Files.deleteIfExists(lineagePath(name))
      val t0 = System.nanoTime()
      val df = compute
      // Lineage metrics RIDE THE WRITE (zero extra passes): count + the
      // order-insensitive xor-of-row-hashes checksum are computed by an
      // observe() aggregate inside the write job itself, and the
      // per-partition counts come from the parquet FOOTERS afterwards
      // (driver-side metadata only). The previous formulation re-read the
      // full stage output just to fingerprint it — at 100 TB that is a
      // second complete pass over every stage's data.
      val obs = org.apache.spark.sql.Observation(s"graft_lineage_$name")
      df.observe(obs,
          count(lit(1)).as("rows"),
          coalesce(bit_xor(xxhash64(df.columns.map(col): _*)), lit(0L)).as("checksum"))
        .write.mode(SaveMode.Overwrite).parquet(dataPath(name))
      val m = obs.get
      val lin = StageLineage(m("rows").asInstanceOf[Long],
        m("checksum").asInstanceOf[Long], footerCounts(dataPath(name)))
      val tWrite = (System.nanoTime() - t0) / 1e9
      times(name) = tWrite
      System.err.println(f"[stage $name] write=${tWrite}%.1fs (lineage in-flight) rows=${lin.rows}")
      val json =
        s"""{"stage":"$name","params_sig":${paramsSig(params)},"rows":${lin.rows},"checksum":${lin.checksum},
           |"partitions":${lin.partitions.map { case (p, c) => s"""{"id":$p,"rows":$c}""" }.mkString("[", ",", "]")}}"""
          .stripMargin.replace("\n", "")
      // temp file + atomic rename: a lineage file is either whole or absent
      val tmp = Paths.get(s"$baseDir/.$name.lineage.tmp")
      Files.write(tmp, json.getBytes("UTF-8"))
      Files.move(tmp, lineagePath(name), StandardCopyOption.ATOMIC_MOVE)
    }
    spark.read.parquet(dataPath(name))
  }

  def counters: Map[String, Long] =
    Files.list(Paths.get(baseDir)).iterator().asScala
      .filter(_.toString.endsWith(".lineage.json"))
      .map { p =>
        val content = new String(Files.readAllBytes(p), "UTF-8")
        val name = p.getFileName.toString.stripSuffix(".lineage.json")
        val rows = """"rows":(\d+)""".r.findFirstMatchIn(content).map(_.group(1).toLong).getOrElse(0L)
        name -> rows
      }.toMap
}
