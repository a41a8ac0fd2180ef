package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.rdf.TripleStore
import org.apache.spark.TestBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Drives the web-service lifecycle end-to-end: start the HTTP server on an
  * ephemeral port, POST the LUBM fixture, assert the JSON verdict payload
  * matches the known-good counts (reference app/__init__.py:20-45). Then
  * pins the rendering: byte-identical to the per-shape [[ServiceOracle]],
  * one Spark action beyond the validator's own, nothing left pinned. */
class ServiceSpec extends SparkTestBase {

  private val testData = resource("data/test.ttl")
  private val lubm = (resource("lubm/shapes"), resource("lubm/LUBM.ttl"))

  /** A golden case's schema dir, from its definition file. */
  private def golden(definition: String): (String, String) = {
    val root = new ObjectMapper().readTree(new File(resource(s"cases/$definition")))
    (root.get("schemaDir").asText().replace("./tests/cases/", resource("cases/")), testData)
  }

  test("POST /validate returns per-shape verdicts as JSON") {
    val server = Service.makeServer(spark, 0)
    server.start()
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      val form = "schemaDir=src/test/resources/lubm/shapes" +
        "&dataPath=src/test/resources/lubm/LUBM.ttl&maxInstances=10"
      val req = HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/validate"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(form)).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      val body = resp.body()
      assert(body.contains(""""conforms": false"""))
      // known-good LUBM fixture counts (same as the CLI drive): Department 3/0,
      // FullProfessor 2/3, University 1/4
      assert(body.replaceAll("\\s", "").contains(
        """"http://example.org/DepartmentShape":{"targets":3,"valid":3,"violated":0"""))
      assert(body.replaceAll("\\s", "").contains(
        """"http://example.org/FullProfessorShape":{"targets":5,"valid":2,"violated":3"""))
      assert(body.replaceAll("\\s", "").contains(
        """"http://example.org/UniversityShape":{"targets":5,"valid":1,"violated":4"""))

      // bad request: missing params
      val bad = client.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/validate"))
          .POST(HttpRequest.BodyPublishers.ofString("nope=1")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400)

      val health = client.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200)
    } finally server.stop(0)
  }

  test("HTML surface: GET serves the form, format=html renders the result table") {
    val server = Service.makeServer(spark, 0)
    server.start()
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      // reference GET branch: the input form
      val get = client.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/validate")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 200)
      assert(get.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
      assert(get.body().contains("schemaDir") && get.body().contains("<form"))
      // reference POST result table (app/__init__.py:47-92): header columns,
      // color-coded verdict cells, the result-count header line
      val form = "schemaDir=src/test/resources/lubm/shapes" +
        "&dataPath=src/test/resources/lubm/LUBM.ttl&maxInstances=10&format=html"
      val req = HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/validate"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(form)).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      val body = resp.body()
      assert(resp.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
      for (h <- Seq("instance", "shape", "validation result", "finished@shape"))
        assert(body.contains(s"<th>$h</th>"), s"missing column $h")
      assert(body.contains("""<td style="color: green">valid</td>"""))
      assert(body.contains("""<td style="color: red">invalid</td>"""))
      assert(body.contains("validation results in"))
      // known-good fixture: 23 targets total, all rendered under maxInstances=10/shape
      val rows = "<td style=\"color: (green|red)\">".r.findAllIn(body).size
      assert(rows == 23, s"expected 23 verdict rows, got $rows")
    } finally server.stop(0)
  }

  // one golden case per category, LUBM, and a schema with a shape that has
  // no targets (it must still render 0/0/[])
  private val renderCases: Seq[(String, (String, String))] = Seq(
    "single_shape/case1/definitions/case1.json",
    "two_shapes/case1/definitions/case1.json",
    "recursion/case2/definitions/case2a.json",
    "or_constraint/case4/definitions/case4.json",
    "sparql_constraint/case1/definitions/case1.json",
    "inverse_path/case1/definitions/case1.json"
  ).map(d => d -> golden(d)) ++ Seq(
    "lubm" -> lubm,
    "no_targets" -> (resource("service/no_targets"), testData))

  private def maskSeconds(html: String): String =
    html.replaceFirst("validation results in [^ ]+ seconds", "validation results in 0.0 seconds")

  for ((name, (schemaDir, dataPath)) <- renderCases) {
    test(s"JSON and HTML bodies are byte-identical to the per-shape renderer: $name") {
      val result = Service.runValidation(spark, schemaDir, dataPath)
      val expected = try {
        Seq(0, 1, 1000).map(m => m -> (ServiceOracle.json(result, m), ServiceOracle.html(result, m)))
      } finally result.unpersist()
      for ((m, (json, html)) <- expected) {
        assert(Service.validateToJson(spark, schemaDir, dataPath, m) == json, s"JSON, maxInstances=$m")
        assert(maskSeconds(Service.validateToHtml(spark, schemaDir, dataPath, m)) == html,
          s"HTML, maxInstances=$m")
      }
      if (name == "no_targets")
        assert(expected.last._2._1.replaceAll("\\s", "").contains(
          """"http://test.example.com/shapes/Orphan":{"targets":0,"valid":0,"violated":0,""" +
            """"valid_instances":[],"invalid_instances":[]}"""))
    }
  }

  test("validateToJson runs exactly one Spark action beyond Validator.run") {
    val actions = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        actions.incrementAndGet()
    }
    def counted(f: => Unit): Int = {
      TestBus.drain(spark.sparkContext)
      val before = actions.get
      f
      TestBus.drain(spark.sparkContext)
      actions.get - before
    }
    // Turtle requests run in the service session; its listeners see them
    val session = Tuning.serviceSession(spark)
    session.listenerManager.register(listener)
    try {
      for ((name, (schemaDir, dataPath)) <- Seq("lubm" -> lubm,
             "two_shapes/case1" -> golden("two_shapes/case1/definitions/case1.json"))) {
        val validator = counted(Service.runValidation(spark, schemaDir, dataPath).unpersist())
        val request = counted(Service.validateToJson(spark, schemaDir, dataPath))
        assert(request - validator == 1, s"$name: $request actions, the validator alone $validator")
      }
    } finally session.listenerManager.unregister(listener)
  }

  test("a request leaves no persistent RDD behind, also when it fails") {
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    // ContextCleaner may drop RDDs other suites leaked, so compare one way
    def assertReleased(what: String): Unit = {
      val left = spark.sparkContext.getPersistentRDDs.keySet -- baseline
      assert(left.isEmpty, s"$what left ${left.size} persistent RDDs")
    }
    // or-set and fixpoint-round checkpoints
    for (d <- Seq("or_constraint/case4/definitions/case4.json", "recursion/case2/definitions/case2a.json")) {
      val (schemaDir, dataPath) = golden(d)
      Service.validateToJson(spark, schemaDir, dataPath)
      assertReleased(d)
    }
    // the or-set is checkpointed before the unsupported sh:sparql fails the run
    val e = intercept[RuntimeException](
      Service.validateToJson(spark, resource("service/unsupported_sparql"), testData))
    assert(e.getMessage.contains("unsupported sh:select"), e.getMessage)
    assertReleased("the failed request")
  }

  /** Counts the queries that finish on `session` while `f` runs. */
  private def actionsOn[T](session: org.apache.spark.sql.SparkSession)(f: => T): (T, Int) = {
    val actions = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        actions.incrementAndGet()
    }
    TestBus.drain(spark.sparkContext)
    session.listenerManager.register(listener)
    try {
      val out = f
      TestBus.drain(spark.sparkContext)
      (out, actions.get)
    } finally session.listenerManager.unregister(listener)
  }

  private val goldenDefinitions: Seq[String] = {
    val cases = Paths.get(resource("cases"))
    val stream = Files.walk(cases)
    try stream.iterator().asScala
      .filter(p => p.getParent.getFileName.toString == "definitions" && p.toString.endsWith(".json"))
      .map(p => cases.relativize(p).toString).toVector.sorted
    finally stream.close()
  }

  // Turtle requests validate in the service session (whole-stage codegen
  // off); GoldenCasesSpec covers the same cases with codegen on
  for (definition <- goldenDefinitions)
    test(s"validateToJson equals the ground truth: $definition") {
      val root = new ObjectMapper().readTree(new File(resource(s"cases/$definition")))
      def truth(f: String) = root.get("groundTruth").get(f).elements().asScala.map(_.asText()).toSet
      val (schemaDir, dataPath) = golden(definition)
      val shapes = new ObjectMapper().readTree(Service.validateToJson(spark, schemaDir, dataPath)).get("shapes")
      def instances(f: String) = shapes.elements().asScala.flatMap(_.get(f).elements().asScala.map(_.asText())).toSet
      assert(instances("valid_instances") == truth("valid"))
      assert(instances("invalid_instances") == truth("invalid"))
    }

  test("the service session is derived once, without whole-stage codegen, and follows the caller's confs") {
    val wholeStage = "spark.sql.codegen.wholeStage"
    val callerWholeStage = spark.conf.getOption(wholeStage)
    val session = Tuning.serviceSession(spark)
    assert(session ne spark)
    assert(Tuning.serviceSession(spark) eq session)
    assert(session.conf.get(wholeStage) == "false")
    val (schemaDir, dataPath) = golden("two_shapes/case1/definitions/case1.json")
    Service.validateToJson(spark, schemaDir, dataPath)
    assert(spark.conf.getOption(wholeStage) == callerWholeStage)

    // a caller conf changed after first use is seen by the next request
    val partitions = "spark.sql.shuffle.partitions"
    val callerPartitions = spark.conf.get(partitions)
    val seen = scala.collection.mutable.Set[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized(seen += qe.sparkSession.conf.get(partitions))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.conf.set(partitions, "3")
    session.listenerManager.register(listener)
    try {
      Service.validateToJson(spark, schemaDir, dataPath)
      TestBus.drain(spark.sparkContext)
    } finally {
      session.listenerManager.unregister(listener)
      spark.conf.set(partitions, callerPartitions)
    }
    assert(seen.synchronized(seen.toSet) == Set("3"))

    // and one the caller unsets is unset in the service session too
    val timeout = "spark.sql.broadcastTimeout"
    spark.conf.set(timeout, "123")
    try assert(Tuning.serviceSession(spark).conf.get(timeout) == "123")
    finally spark.conf.unset(timeout)
    assert(Tuning.serviceSession(spark).conf.get(timeout) == spark.conf.get(timeout))
    assert(Tuning.serviceSession(spark).conf.get(partitions) == callerPartitions)
    assert(session.conf.get(wholeStage) == "false")
  }

  test("a parquet request runs in the caller's session and answers like its Turtle graph") {
    val (schemaDir, ttl) = golden("two_shapes/case1/definitions/case1.json")
    val dir = Files.createTempDirectory("graft-service-parquet")
    try {
      val parquet = dir.resolve("triples").toString
      TripleStore.fromTurtleFile(spark, ttl).write.parquet(parquet)
      val ((json, onService), onCaller) =
        actionsOn(spark)(actionsOn(Tuning.serviceSession(spark))(Service.validateToJson(spark, schemaDir, parquet)))
      assert(onCaller > 0 && onService == 0, s"caller $onCaller actions, service session $onService")
      assert(json == Service.validateToJson(spark, schemaDir, ttl))
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }

  /** The five golden cases of perfbench's shacl_service mix. */
  private val benchMix = Seq(
    "single_shape/case4/definitions/case4.json",
    "single_shape/case7/definitions/case7.json",
    "or_constraint/case4/definitions/case4.json",
    "two_shapes/case1/definitions/case1.json",
    "recursion/case2/definitions/case2a.json")

  test("a warm pass of the benchmark's service mix compiles fewer than 120 generated classes") {
    // at the parent of the service session (whole-stage codegen on) a warm
    // pass compiled about 250 classes, more than Spark's 100-entry codegen
    // cache holds
    val mix = benchMix.map(golden)
    def compiled(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for ((schemaDir, dataPath) <- mix) {
        Service.validateToJson(spark, schemaDir, dataPath)
        spark.catalog.clearCache()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiled()
    val warm = compiled()
    assert(warm < 120, s"a warm pass compiled $warm classes")
  }

  test("concurrent Turtle requests: every answer right, nothing left pinned") {
    // Service serves 4 handler threads, and every Turtle request runs in
    // the one Tuning.serviceSession of the caller
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    def truth(definition: String): (Set[String], Set[String]) = {
      val gt = new ObjectMapper().readTree(new File(resource(s"cases/$definition"))).get("groundTruth")
      def set(f: String) = gt.get(f).elements().asScala.map(_.asText()).toSet
      (set("valid"), set("invalid"))
    }
    def answer(json: String): (Set[String], Set[String]) = {
      val shapes = new ObjectMapper().readTree(json).get("shapes")
      def set(f: String) = shapes.elements().asScala.flatMap(_.get(f).elements().asScala.map(_.asText())).toSet
      (set("valid_instances"), set("invalid_instances"))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val wrong = try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            // each thread walks the mix from its own offset, so different
            // cases run side by side
            benchMix.indices.map(i => benchMix((i + t) % benchMix.size)).flatMap { definition =>
              val (schemaDir, dataPath) = golden(definition)
              val got = answer(Service.validateToJson(spark, schemaDir, dataPath))
              if (got == truth(definition)) None else Some(s"thread $t, $definition: $got")
            }
          }
        })
      }
      start.countDown()
      futures.flatMap(_.get(10, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdownNow()
    assert(wrong.isEmpty, wrong.mkString("\n"))
    // ContextCleaner may drop RDDs other suites leaked, so compare one way
    val left = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(left.isEmpty, s"concurrent requests left ${left.size} persistent RDDs")
  }
}
