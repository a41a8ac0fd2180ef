package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.TestBus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

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
    spark.listenerManager.register(listener)
    try {
      for ((name, (schemaDir, dataPath)) <- Seq("lubm" -> lubm,
             "two_shapes/case1" -> golden("two_shapes/case1/definitions/case1.json"))) {
        val validator = counted(Service.runValidation(spark, schemaDir, dataPath).unpersist())
        val request = counted(Service.validateToJson(spark, schemaDir, dataPath))
        assert(request - validator == 1, s"$name: $request actions, the validator alone $validator")
      }
    } finally spark.listenerManager.unregister(listener)
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
}
