package graft.kg

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("transcript generation is deterministic and skewed") {
    val a = TranscriptGen.generate(spark, 50, 30).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = TranscriptGen.generate(spark, 50, 30).collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.toSeq == b.toSeq)
    val sizes = a.groupBy(_.conv_id).view.mapValues(_.length).values.toSeq
    assert(sizes.max > 2 * (sizes.sum / sizes.length), "expected a skewed turn distribution")
  }

  test("entity linker clusters alias variants to the canonical surface") {
    val e = 60
    val surfaces = (0 until e).flatMap(Universe.aliases).distinct.toDF("surface")
    val links = EntityLinker.link(spark, surfaces)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for (k <- 0 until e; a <- Universe.aliases(k))
      assert(links(a) == Universe.canonicalSurface(k),
        s"alias '$a' of entity $k linked to '${links(a)}'")
  }

  test("pipeline reaches P/R >= 0.95 against the generator oracle") {
    val dir = java.nio.file.Files.createTempDirectory("kgtest").toString
    val turns = TranscriptGen.generate(spark, 150, 60).toDF().cache()
    val result = Pipeline.run(spark, turns, dir, validate = true)
    val (p, r) = Pipeline.precisionRecall(result.triples,
      TranscriptGen.expectedTriples(spark, 150, 60))
    assert(p >= 0.95, s"precision $p")
    assert(r >= 0.95, s"recall $r")
    // every emitted subject IRI is a canonical entity IRI
    val subjects = result.triples.select("subj").distinct().as[String].collect().toSet
    val canonicals = (0 until 60).map(Universe.iri).toSet
    assert(subjects.subsetOf(canonicals))
    // constructed graph validates: organizations (no constraints) all valid
    val v = result.validation.get
    val orgShape = Universe.ns + "OrganizationShape"
    assert(v.invalid(orgShape).count() == 0)
    assert(v.valid(orgShape).count() > 0)
  }

  test("pipeline resumes from stage checkpoints without recomputation") {
    val dir = java.nio.file.Files.createTempDirectory("kgresume").toString
    val turns = TranscriptGen.generate(spark, 40, 30).toDF().cache()
    val first = Pipeline.run(spark, turns, dir)
    val firstTriples = first.triples.orderBy("subj", "pred", "obj").collect()

    // resume: feeding GARBAGE turns must not matter — completed stages are
    // read back from their checkpoints, not recomputed
    val garbage = Seq(("conv0", 0, "user", "NOPE .", "", new java.sql.Timestamp(0L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val resumed = Pipeline.run(spark, garbage, dir)
    val resumedTriples = resumed.triples.orderBy("subj", "pred", "obj").collect()
    assert(resumedTriples.toSeq == firstTriples.toSeq)
    assert(resumed.counters == first.counters)

    // partial resume: drop the final stage only → earlier stages still reused
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/triples.lineage.json"))
    val partial = Pipeline.run(spark, garbage, dir)
    assert(partial.triples.orderBy("subj", "pred", "obj").collect().toSeq == firstTriples.toSeq)
  }

  test("changed input signature recomputes instead of reusing stale checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("kgsig").toString
    val turnsA = TranscriptGen.generate(spark, 40, 30).toDF().cache()
    val a = Pipeline.run(spark, turnsA, dir, inputSignature = "convs=40")
    val aTriples = a.triples.orderBy("subj", "pred", "obj").collect()

    // same signature → checkpoint reuse (input ignored, like kill/restart)
    val garbage = Seq(("conv0", 0, "user", "NOPE .", "", new java.sql.Timestamp(0L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val same = Pipeline.run(spark, garbage, dir, inputSignature = "convs=40")
    assert(same.triples.orderBy("subj", "pred", "obj").collect().toSeq == aTriples.toSeq)

    // different signature → every stage recomputes from the new input
    val changed = Pipeline.run(spark, garbage, dir, inputSignature = "convs=1")
    assert(changed.triples.count() == 0, "stale checkpoint reused despite changed signature")
  }

  test("extraction keeps every fact of a multi-fact turn") {
    // find a conversation with at least one two-fact turn in a small range
    val multi = (0L until 50L).flatMap(c => (0 until Universe.turnsPerConv(c))
      .map(t => Universe.turn(c, t, 30))).filter(_.facts.size > 1)
    assert(multi.nonEmpty, "universe should synthesize multi-fact turns")
    val turns = TranscriptGen.generate(spark, 50, 30).toDF()
    val factRows = Extraction.facts(turns)
    // per-turn fact counts must match the generator exactly
    val expected = (0L until 50L).flatMap { c =>
      (0 until Universe.turnsPerConv(c)).flatMap { t =>
        val n = Universe.turn(c, t, 30).facts.size
        if (n > 0) Some((f"conv$c%08d", t) -> n.toLong) else None
      }
    }.toMap
    val got = factRows.groupBy($"conv_id", $"turn_idx").count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  test("stage lineage records per-partition counters") {
    val dir = java.nio.file.Files.createTempDirectory("kglineage").toString
    val ckpt = new StageCheckpoint(spark, dir)
    ckpt.stage("demo") { spark.range(100).select(col("id").cast("string").as("x")) }
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/demo.lineage.json")), "UTF-8")
    assert(json.contains("\"rows\":100"))
    assert(json.contains("\"partitions\":["))
    assert(ckpt.counters("demo") == 100L)
  }

  test("a failed rewrite under a new signature does not leave the old checkpoint looking complete") {
    val dir = java.nio.file.Files.createTempDirectory("kgrewrite").toString
    val ckpt = new StageCheckpoint(spark, dir)
    val ids = ckpt.stage("s", "A") { spark.range(100).select(col("id").cast("string").as("x")) }
    assert(ids.count() == 100L)

    // the rewrite under B fails inside its write job, after the overwrite
    // has started
    intercept[Exception] {
      ckpt.stage("s", "B") {
        spark.range(100).select(
          when(col("id") === 50, raise_error(lit("boom"))).otherwise(col("id").cast("string")).as("x"))
      }
    }
    assert(!ckpt.isComplete("s", "A"), "lineage still vouches for the overwritten parquet")

    // the rerun under A recomputes instead of reading the broken output
    val again = ckpt.stage("s", "A") { spark.range(100).select(col("id").cast("string").as("x")) }
    assert(again.count() == 100L)
    assert(ckpt.isComplete("s", "A"))
    assert(ckpt.counters == Map("s" -> 100L))
  }
}
