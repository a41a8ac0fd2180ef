package graft

import graft.rdf.TripleStore
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the declarative operators must produce the
  * plans the scale design depends on — predicate-partition pruning on the
  * triple store, filter/column pushdown into parquet scans, broadcast joins
  * for dictionary-sized sides, and whole-stage codegen on hot paths.
  */
class PlanSpec extends SparkTestBase {
  import spark.implicits._

  test("predicate-partitioned triple store prunes partitions per constraint path") {
    val dir = java.nio.file.Files.createTempDirectory("plantriples").toString
    val triples = Seq(
      ("s1", "http://x/p0", "o1"), ("s2", "http://x/p1", "o2"),
      ("s3", "http://x/p2", "o3")).toDF("subj", "pred", "obj")
    TripleStore.writePartitioned(triples, s"$dir/t")
    val back = spark.read.parquet(s"$dir/t")
    val plan = back.filter($"pred" === "http://x/p1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p1"),
      s"expected partition pruning on pred, got:\n$plan")
    // only the matching partition's rows are read
    assert(back.filter($"pred" === "http://x/p1").count() == 1)
  }

  test("column pruning: projection reaches the parquet scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select($"l_orderkey").distinct()
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scanLine.contains("ReadSchema: struct<l_orderkey:bigint>"),
      s"expected 2-column-free scan, got: $scanLine")
  }

  test("filter pushdown reaches the parquet scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter($"o_orderstatus" === "F").select($"o_orderkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"expected pushed filter, got:\n$plan")
  }

  test("dictionary-sized join sides broadcast") {
    val big = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val small = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val joined = big.join(small, big("l_suppkey") % 25 === small("n_nationkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join, got:\n$plan")
  }

  test("selective knob changes the physical evaluation (A7 target pushdown)") {
    import graft.shacl._
    val ns = "http://p.example.org/"
    val triples = Seq(
      ("a1", graft.rdf.Rdf.rdfType, ns + "A"), ("a2", graft.rdf.Rdf.rdfType, ns + "A"),
      ("a1", ns + "p", "x"), ("a2", ns + "p", "y"), ("zz", ns + "p", "w")
    ).toDF("subj", "pred", "obj")
    val schema = ShapeSchema(Seq(Shape(ns + "S", Some(ns + "A"), None,
      Some(s"SELECT ?x WHERE { ?x a <${ns}A> }"),
      Seq(CardConstraint("c", DirectPath(ns + "p"), min = 1)), Nil, Nil)))
    def semiJoins(selective: Boolean): Int = {
      val r = new Validator(spark, triples, schema,
        ValidatorConfig(selective = selective)).run()
      val n = "LeftSemi".r.findAllIn(
        r.verdicts(ns + "S").marked.queryExecution.optimizedPlan.toString).size
      r.unpersist(); n
    }
    val (on, off) = (semiJoins(true), semiJoins(false))
    assert(on > off, s"selective=on must add target-pushdown semi-joins (on=$on off=$off)")
  }

  test("selective on and off agree: min reference to an evaluated neighbor") {
    import graft.shacl._
    val ns = "http://q.example.org/"
    // OrderShape is evaluated first (dependency) and has one invalid order,
    // so CustShape's customer of that order fails its min reference
    val rows = Seq(
      ("o1", graft.rdf.Rdf.rdfType, ns + "O"), ("o2", graft.rdf.Rdf.rdfType, ns + "O"),
      ("o1", ns + "line", "l1"), // o2 has no line → invalid
      ("c1", graft.rdf.Rdf.rdfType, ns + "C"), ("c2", graft.rdf.Rdf.rdfType, ns + "C"),
      ("c1", ns + "has", "o1"), ("c2", ns + "has", "o2"))
    val triples = rows.toDF("subj", "pred", "obj")
    val schema = ShapeSchema(Seq(
      Shape(ns + "CustShape", Some(ns + "C"), None, Some(s"SELECT ?x WHERE { ?x a <${ns}C> }"),
        Seq(CardConstraint("cc", DirectPath(ns + "has"), min = 1,
          shapeRef = Some(ns + "OrderShape"))), Nil, Nil),
      Shape(ns + "OrderShape", Some(ns + "O"), None, Some(s"SELECT ?x WHERE { ?x a <${ns}O> }"),
        Seq(CardConstraint("oc", DirectPath(ns + "line"), min = 1)), Nil, Nil)))
    def run(selective: Boolean) =
      new Validator(spark, triples, schema, ValidatorConfig(selective = selective)).run()
    val on = run(true)
    val off = run(false)
    def sets(r: ValidationResult) = (
      r.valid(ns + "CustShape").collect().map(_.getString(0)).toSet,
      r.invalid(ns + "CustShape").collect().map(_.getString(0)).toSet)
    assert(sets(on) == sets(off) && sets(on) == (Set("c1"), Set("c2")))
    on.unpersist(); off.unpersist()
  }

  test("selective on and off agree: cyclic SCC with an out-of-SCC neighbor") {
    import graft.shacl._
    val ns = "http://r.example.org/"
    // N is acyclic and evaluated first (one invalid instance); A and B form
    // a cyclic SCC, and A also min-references N, so a2 (linked only to the
    // invalid n2) fails in the fixpoint's first round.
    val triples = Seq(
      ("n1", graft.rdf.Rdf.rdfType, ns + "N"), ("n2", graft.rdf.Rdf.rdfType, ns + "N"),
      ("n1", ns + "line", "l1"), // n2 has no line → invalid
      ("a1", graft.rdf.Rdf.rdfType, ns + "A"), ("a2", graft.rdf.Rdf.rdfType, ns + "A"),
      ("b1", graft.rdf.Rdf.rdfType, ns + "B"),
      ("a1", ns + "an", "n1"), ("a2", ns + "an", "n2"),
      ("a1", ns + "ab", "b1"), ("b1", ns + "ba", "a1")
    ).toDF("subj", "pred", "obj")
    val schema = ShapeSchema(Seq(
      Shape(ns + "A", Some(ns + "A"), None, Some(s"SELECT ?x WHERE { ?x a <${ns}A> }"),
        Seq(CardConstraint("a_n", DirectPath(ns + "an"), min = 1, shapeRef = Some(ns + "N")),
          CardConstraint("a_b", DirectPath(ns + "ab"), min = 1, shapeRef = Some(ns + "B"))),
        Nil, Nil),
      Shape(ns + "B", Some(ns + "B"), None, Some(s"SELECT ?x WHERE { ?x a <${ns}B> }"),
        Seq(CardConstraint("b_a", DirectPath(ns + "ba"), min = 1, shapeRef = Some(ns + "A"))),
        Nil, Nil),
      Shape(ns + "N", Some(ns + "N"), None, Some(s"SELECT ?x WHERE { ?x a <${ns}N> }"),
        Seq(CardConstraint("n_l", DirectPath(ns + "line"), min = 1)), Nil, Nil)))
    def run(selective: Boolean) =
      new Validator(spark, triples, schema, ValidatorConfig(selective = selective)).run()
    val on = run(true)
    val off = run(false)
    assert(on.stats.cyclicSccCount == 1, "A/B must form a cyclic SCC")
    def sets(r: ValidationResult, id: String) = (
      r.valid(ns + id).collect().map(_.getString(0)).toSet,
      r.invalid(ns + id).collect().map(_.getString(0)).toSet)
    for (id <- Seq("A", "B", "N"))
      assert(sets(on, id) == sets(off, id), s"verdicts for $id must be invariant")
    assert(sets(on, "A") == (Set("a1"), Set("a2")))
    on.unpersist(); off.unpersist()
  }

  test("selective on and off agree: sequence-path reference under expandSequencePaths") {
    import graft.shacl._
    val ns = "http://s.example.org/"
    // S min-references N through a SEQUENCE path has/sub; with the knob on,
    // the reference counts through the 2-hop expansion — s2 (reaching only
    // the invalid n2) fails, s1 does not, with selective on and off.
    val triples = Seq(
      ("n1", graft.rdf.Rdf.rdfType, ns + "N"), ("n2", graft.rdf.Rdf.rdfType, ns + "N"),
      ("n1", ns + "line", "l1"),
      ("s1", graft.rdf.Rdf.rdfType, ns + "S"), ("s2", graft.rdf.Rdf.rdfType, ns + "S"),
      ("s1", ns + "has", "m1"), ("m1", ns + "sub", "n1"),
      ("s2", ns + "has", "m2"), ("m2", ns + "sub", "n2")
    ).toDF("subj", "pred", "obj")
    val schema = ShapeSchema(Seq(
      Shape(ns + "S", Some(ns + "S"), None, Some(s"SELECT ?x WHERE { ?x a <${ns}S> }"),
        Seq(CardConstraint("s_n", SequencePath(Seq(ns + "has", ns + "sub")), min = 1,
          shapeRef = Some(ns + "N"))), Nil, Nil),
      Shape(ns + "N", Some(ns + "N"), None, Some(s"SELECT ?x WHERE { ?x a <${ns}N> }"),
        Seq(CardConstraint("n_l", DirectPath(ns + "line"), min = 1)), Nil, Nil)))
    def run(selective: Boolean) = new Validator(spark, triples, schema,
      ValidatorConfig(selective = selective, expandSequencePaths = true)).run()
    val on = run(true)
    val off = run(false)
    def sets(r: ValidationResult) = (
      r.valid(ns + "S").collect().map(_.getString(0)).toSet,
      r.invalid(ns + "S").collect().map(_.getString(0)).toSet)
    assert(sets(on) == sets(off) && sets(on) == (Set("s1"), Set("s2")))
    on.unpersist(); off.unpersist()
  }

  test("the LUBM verdict frame executes without an Expand") {
    import graft.shacl._
    // evalShape's explicit two-level aggregation replaced three
    // countDistinct calls, which planned through `Expand [3 projections]`
    // and tripled every edge row before the shuffle
    val triples = TripleStore.fromTurtleFile(spark, "src/test/resources/lubm/LUBM.ttl")
    val result = new Validator(spark, triples, ShapeParser.parseDir("src/test/resources/lubm/shapes")).run()
    try {
      val frame = Report.verdictFrame(spark, result)
      frame.collect()
      // the tree string takes in the final adaptive plan and the plans of
      // the cached verdict frames it scans
      val plan = frame.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), plan)
      assert("\\bExpand\\b".r.findFirstIn(plan).isEmpty, s"expected no Expand, got:\n$plan")
    } finally result.unpersist()
  }

  // the bench headline plans: the same guard over the TPC-H-derived graph,
  // in a child session (`SparkEntry` applies its session defaults)
  for (q <- Seq("q_shacl_validate", "q_shacl_validate_bucketed"))
    test(s"$q executes without an Expand") {
      val frame = SparkEntry.queries(q)(spark.newSession(), "/root/testdata/sf0.001")
      frame.collect()
      val plan = frame.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), plan)
      assert("\\bExpand\\b".r.findFirstIn(plan).isEmpty, s"expected no Expand, got:\n$plan")
    }

  test("bucketed triple table: groupBy(subj) aggregates without a shuffle") {
    val triples = (0 until 1000)
      .map(i => (s"s${i % 100}", s"http://x/p${i % 3}", s"o$i"))
      .toDF("subj", "pred", "obj")
    spark.sql("DROP TABLE IF EXISTS plan_bucketed_triples")
    // a previous JVM's warehouse dir may survive without catalog metadata —
    // saveAsTable refuses to create over a non-empty leftover location
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:") + "/plan_bucketed_triples"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warehouse))
    TripleStore.writeBucketedTable(triples, "plan_bucketed_triples", buckets = 4)
    val back = spark.table("plan_bucketed_triples")
    val agg = back.groupBy($"subj").agg(countDistinct($"obj").as("c"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"groupBy(subj) over the bucketed table must be shuffle-free, got:\n$plan")
    assert(agg.count() == 100)
  }

  test("batch k-NN plan is cell-blocked: no cartesian or nested-loop join") {
    val vecs = (0 until 80).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.ivfBatchTopK(spark,
      vecs.filter($"vec_id" < 8), vecs.filter($"vec_id" >= 8),
      "vec_id", "embedding", k = 3, nCentroids = 4, nProbe = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"batch k-NN must join on IVF cells, not cross-join:\n$plan")
    // candidates meet in an equi-join on the cell key (whatever physical
    // strategy AQE picks — hash, sort-merge or broadcast — it's keyed)
    assert(plan.contains("cell"), s"expected a cell-keyed join, got:\n$plan")
  }

  test("bucketed IVF corpus: probe join does not exchange the corpus side") {
    import graft.ops.IvfIndex
    graft.functions.GraftFunctions.register(spark)
    val vecs = (0 until 400).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = IvfIndex.fit(spark, vecs.filter($"vec_id" >= 8), "vec_id", "embedding",
      nCentroids = 8, iters = 2, trainCap = 100)
    spark.sql("DROP TABLE IF EXISTS plan_ivf_corpus")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:") + "/plan_ivf_corpus"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warehouse))
    IvfIndex.writeAssignedBucketed(
      idx.assignCorpus(vecs.filter($"vec_id" >= 8), "vec_id", "embedding"),
      "plan_ivf_corpus", buckets = 8)
    val corpusCells = spark.table("plan_ivf_corpus")
    val out = idx.batchTopK(vecs.filter($"vec_id" < 8), corpusCells,
      "vec_id", "embedding", k = 3, nProbe = 3)
    val plan = out.queryExecution.executedPlan.toString
    // the corpus side comes straight off its buckets: every Exchange in the
    // plan sits on the probe/window side, none between the bucketed scan
    // and the join — i.e. the scan reports its buckets and the join keys on
    // cell without a corpus shuffle
    val scanLine = plan.linesIterator.find(_.contains("plan_ivf_corpus")).getOrElse("")
    assert(scanLine.nonEmpty && plan.contains("SelectedBucketsCount"),
      s"expected a bucketed scan of plan_ivf_corpus, got:\n$plan")
    val joinIdx = plan.linesIterator.indexWhere(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    if (joinIdx >= 0) {
      // corpus subtree = lines after the join's second child begins; crude
      // but effective: no Exchange may mention the bucketed relation path
      val exchangesOnCorpus = plan.linesIterator.zipWithIndex.exists { case (l, i) =>
        l.contains("Exchange") && plan.linesIterator.slice(i, i + 4).exists(_.contains("plan_ivf_corpus"))
      }
      assert(!exchangesOnCorpus, s"corpus side must not re-shuffle:\n$plan")
    }
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
  }

  test("IVF plan size is O(1) in nCentroids (single-literal centroid matrix)") {
    import graft.ops.IvfIndex
    graft.functions.GraftFunctions.register(spark)
    val vecs = (0 until 64).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat))
    }.toDF("vec_id", "embedding")
    def planNodes(k: Int): Int = {
      val centroids = Array.tabulate(k)(i => Seq.tabulate(8)(j => math.cos(i + j)))
      val plan = IvfIndex(centroids).assignCorpus(vecs, "vec_id", "embedding")
        .queryExecution.optimizedPlan
      plan.collect { case n =>
        n.expressions.map(e => e.collect { case x => x }.size).sum
      }.sum
    }
    val (small, big) = (planNodes(16), planNodes(1024))
    // the r2 array(struct(lit…)) formulation grew the expression tree by
    // k·dim literal NODES (64x here); the whole matrix is now ONE Literal
    assert(big == small,
      s"expression-node count must not grow with nCentroids: k=16 → $small, k=1024 → $big")
  }

  test("native cosine expression: bit-identical to the HOF form, codegen'd") {
    import graft.ops.Similarity
    graft.functions.GraftFunctions.register(spark)
    val vecs = (0 until 50).map { i =>
      (i.toLong, Seq.tabulate(16)(j => math.sin(i * 0.9 + j).toFloat))
    }.toDF("id", "v")
    val q = array(Seq.tabulate(16)(j => lit(math.cos(j * 0.3))): _*)
    val both = vecs.select(
      Similarity.cosineNative($"v", q).as("native"),
      Similarity.cosine($"v", q).as("hof")).collect()
    // identical accumulation order → bit-identical doubles
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1)),
      "native cosine must reproduce the HOF result exactly")
    val plan = vecs.select(Similarity.cosineNative($"v", q).as("c"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(plan.contains("WholeStageCodegen"), s"expected codegen, got:\n${plan.take(500)}")
    assert(!plan.contains("cosinesimilarity_doGenCode_fallback"),
      "native cosine must not fall back to interpreted eval")
  }

  test("native sign_sketch: bit-identical to the HOF form, codegen'd") {
    import graft.ops.Similarity
    graft.functions.GraftFunctions.register(spark)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(24)(j => (math.sin(i * 1.7 + j) * (1 + (j % 3))).toFloat))
    }.toDF("id", "v")
    val both = vecs.select(
      Similarity.signSketch($"v", 16).as("native"),
      Similarity.signSketchHof($"v", 16).as("hof")).collect()
    // same hash chain (xxhash64 seed 42, hashInt per child) and same
    // left-to-right double accumulation → bit-identical sketches
    assert(both.forall(r => r.getLong(0) == r.getLong(1)),
      "native sign_sketch must reproduce the HOF sketch exactly")
    val plan = vecs.select(Similarity.signSketch($"v", 16).as("s"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(plan.contains("WholeStageCodegen"), s"expected codegen, got:\n${plan.take(500)}")
  }

  test("extraction and text-analysis expressions stay inside whole-stage codegen") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = docs.select(graft.ops.TextAnalysis.langId($"text").as("l"),
      graft.ops.TextAnalysis.tokenCount($"text").as("n"))
    // AQE hides the final stages in executedPlan.toString before execution —
    // the codegen explain mode resolves and reports the codegen subtrees
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(plan.contains("WholeStageCodegen"), s"expected codegen, got:\n${plan.take(800)}")
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("ScalaUDF"),
      "hot path must not contain UDFs")
  }

  test("set-sketch near-dup: MinHash signature stage is shuffle-free") {
    // the r3 formulation aggregated the full exploded corpus token set
    // (groupBy(id) over ~one row per shingle); the in-row minhash_sig kernel
    // computes signatures inside the scan projection — scan → project,
    // NO Exchange anywhere before LSH banding
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sets = graft.ops.TextSim.charShingleArrays(docs, "doc_id", "text", 5)
    val sig = graft.ops.TextSim.minHashSignaturesFromSets(sets, 16)
    val plan = sig.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"signature stage must not shuffle the corpus token set:\n${plan.take(800)}")
    assert(!plan.contains("Generate"),
      s"signature stage must not explode the token set:\n${plan.take(800)}")
  }
}
