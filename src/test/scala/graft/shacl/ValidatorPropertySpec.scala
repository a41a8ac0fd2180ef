package graft.shacl

import graft.SparkTestBase
import graft.rdf.{Rdf, STriple, TripleStore}

import scala.util.Random

/** Property-style checks over randomized small graphs (fixed seeds — each
  * case is deterministic): cardinality monotonicity, maxCount-0 ≡ absence,
  * and the valid/invalid partition invariant. An upgrade over the reference's
  * golden-only suite (SURVEY.md §5).
  */
class ValidatorPropertySpec extends SparkTestBase {
  private val ns = "http://p.example.org/"
  private val cls = ns + "C"
  private val path = ns + "p"

  private def randomTriples(seed: Long, n: Int): Seq[STriple] = {
    val rnd = new Random(seed)
    (0 until n).flatMap { i =>
      val subj = s"${ns}i$i"
      val typed = STriple(subj, Rdf.rdfType, cls)
      val edges = (0 until rnd.nextInt(5)).map(j => STriple(subj, path, s"${ns}v${rnd.nextInt(8)}"))
      typed +: edges
    }
  }

  private def shapeWithMin(min: Int) = ShapeSchema(Seq(
    Shape(ns + "S", Some(cls), None, Some(s"SELECT ?x WHERE { ?x a <$cls> }"),
      Seq(CardConstraint("c1", DirectPath(path), min = min)), Nil, Nil)))
  private def shapeWithMax(max: Int) = ShapeSchema(Seq(
    Shape(ns + "S", Some(cls), None, Some(s"SELECT ?x WHERE { ?x a <$cls> }"),
      Seq(CardConstraint("c1", DirectPath(path), max = max)), Nil, Nil)))

  for (seed <- Seq(1L, 7L, 42L)) {
    test(s"raising minCount shrinks the valid set (seed=$seed)") {
      val triples = TripleStore.fromTriples(spark, randomTriples(seed, 40)).cache()
      val validSets = (1 to 4).map { m =>
        new Validator(spark, triples, shapeWithMin(m)).run()
          .valid(ns + "S").collect().map(_.getString(0)).toSet
      }
      validSets.sliding(2).foreach { case Seq(a, b) => assert(b.subsetOf(a)) }
    }

    test(s"maxCount 0 is equivalent to path absence (seed=$seed)") {
      val data = randomTriples(seed, 40)
      val triples = TripleStore.fromTriples(spark, data).cache()
      val result = new Validator(spark, triples, shapeWithMax(0)).run()
      val valid = result.valid(ns + "S").collect().map(_.getString(0)).toSet
      val withEdge = data.filter(_.pred == path).map(_.subj).toSet
      val all = data.filter(_.pred == Rdf.rdfType).map(_.subj).toSet
      assert(valid == all -- withEdge)
    }

    test(s"valid and invalid partition the target set (seed=$seed)") {
      val data = randomTriples(seed, 40)
      val triples = TripleStore.fromTriples(spark, data).cache()
      val result = new Validator(spark, triples, shapeWithMin(2)).run()
      val valid = result.valid(ns + "S").collect().map(_.getString(0)).toSet
      val invalid = result.invalid(ns + "S").collect().map(_.getString(0)).toSet
      val targets = data.filter(_.pred == Rdf.rdfType).map(_.subj).toSet
      assert((valid & invalid).isEmpty)
      assert((valid | invalid) == targets)
      // one verdict row per target: the uniqueness a reference check's
      // single join against this frame relies on
      val foci = result.verdicts(ns + "S").marked.collect().map(_.getString(0)).toSeq
      assert(foci.size == targets.size && foci.toSet == targets)
    }
  }

  test("A15 datatype enforcement is opt-in and filters by lexical form") {
    val ns = "http://dt.example.org/"
    val triples = TripleStore.fromTriples(spark, Seq(
      STriple("i1", Rdf.rdfType, ns + "C"), STriple("i2", Rdf.rdfType, ns + "C"),
      STriple("i1", ns + "p", "1989"),       // integer-shaped
      STriple("i2", ns + "p", "not-a-number")))
    val schema = ShapeSchema(Seq(Shape(ns + "S", Some(ns + "C"), None,
      Some(s"SELECT ?x WHERE { ?x a <${ns}C> }"),
      Seq(CardConstraint("c", DirectPath(ns + "p"), min = 1,
        datatype = Some("http://www.w3.org/2001/XMLSchema#integer"))), Nil, Nil)))
    // default: datatype dead (reference parity) -> both valid
    val off = new Validator(spark, triples, schema).run()
    assert(off.valid(ns + "S").count() == 2)
    // enforced: only the integer-shaped object counts
    val on = new Validator(spark, triples, schema,
      ValidatorConfig(enforceDatatype = true)).run()
    assert(on.valid(ns + "S").collect().map(_.getString(0)).toSet == Set("i1"))
    assert(on.invalid(ns + "S").collect().map(_.getString(0)).toSet == Set("i2"))
  }

  test("sequence paths: opaque by default (reference parity), multi-hop when expanded") {
    val ns = "http://sq.example.org/"
    val (p1, p2) = (ns + "p1", ns + "p2")
    // i1 reaches 2 distinct leaves through p1/p2; i2 reaches 1; i3 reaches 0
    val triples = TripleStore.fromTriples(spark, Seq(
      STriple("i1", Rdf.rdfType, ns + "C"), STriple("i2", Rdf.rdfType, ns + "C"),
      STriple("i3", Rdf.rdfType, ns + "C"),
      STriple("i1", p1, "m1"), STriple("i1", p1, "m2"),
      STriple("m1", p2, "x1"), STriple("m2", p2, "x2"),
      STriple("i2", p1, "m3"), STriple("m3", p2, "x1"),
      STriple("i3", p1, "m4") /* m4 has no p2 edge */))
    val schema = ShapeSchema(Seq(Shape(ns + "S", Some(ns + "C"), None,
      Some(s"SELECT ?x WHERE { ?x a <${ns}C> }"),
      Seq(CardConstraint("c", SequencePath(Seq(p1, p2)), min = 2)), Nil, Nil)))
    // default: sequence path matches nothing -> every target fails min
    val off = new Validator(spark, triples, schema).run()
    assert(off.invalid(ns + "S").count() == 3)
    // expanded: two-hop countDistinct
    val on = new Validator(spark, triples, schema,
      ValidatorConfig(expandSequencePaths = true)).run()
    assert(on.valid(ns + "S").collect().map(_.getString(0)).toSet == Set("i1"))
    assert(on.invalid(ns + "S").collect().map(_.getString(0)).toSet == Set("i2", "i3"))
  }

  test("A16 constant-equality constraint counts only the fixed value") {
    val ns = "http://cv.example.org/"
    val triples = TripleStore.fromTriples(spark, Seq(
      STriple("i1", Rdf.rdfType, ns + "C"), STriple("i2", Rdf.rdfType, ns + "C"),
      STriple("i1", ns + "p", "wanted"),
      STriple("i2", ns + "p", "other")))
    val schema = ShapeSchema(Seq(Shape(ns + "S", Some(ns + "C"), None,
      Some(s"SELECT ?x WHERE { ?x a <${ns}C> }"),
      Seq(CardConstraint("c", DirectPath(ns + "p"), min = 1,
        value = Some("wanted"))), Nil, Nil)))
    val r = new Validator(spark, triples, schema).run()
    assert(r.valid(ns + "S").collect().map(_.getString(0)).toSet == Set("i1"))
    assert(r.invalid(ns + "S").collect().map(_.getString(0)).toSet == Set("i2"))
  }
}
