package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.HttpServer
import graft.Service
import graft.rdf.TripleStore
import graft.shacl.{ShapeParser, Traversal, Validator, ValidatorConfig}
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** `Service.makeServer` on 127.0.0.1 and one closed-loop client on one
  * connection, sending `POST /validate` (JSON) for a fixed mix of the golden
  * cases over their shared Turtle graph. A pass sends every request of the
  * mix once, in an order drawn from the seed. The LUBM request (about 14 s
  * warm) is sent only in the traced run: it does not fit a measured pass. */
final class ShaclService(c: Main.Conf) extends Workload {
  private[graftbench] final class Req(val name: String, val schemaDir: String, val dataPath: String,
                                      val check: JsonNode => Option[String])

  private val mapper = new ObjectMapper()
  private val resources: Path = c.repo.resolve("src/test/resources")
  private val rng = new scala.util.Random(c.seed)
  private var spark: SparkSession = _
  private var server: HttpServer = _
  private var client: HttpClient = _
  private var base: String = _

  private def instances(shapes: JsonNode, field: String): Set[String] =
    shapes.elements().asScala.flatMap(_.get(field).elements().asScala.map(_.asText())).toSet

  /** A golden case: the flattened valid/invalid sets must equal its ground truth. */
  private[graftbench] def golden(definition: String): Req = {
    val root = mapper.readTree(Files.readString(resources.resolve("cases").resolve(definition)))
    val schemaDir = root.get("schemaDir").asText().replace("./tests/cases/", s"${resources.resolve("cases")}/")
    val gt = root.get("groundTruth")
    def truth(f: String) = gt.get(f).elements().asScala.map(_.asText()).toSet
    val (valid, invalid) = (truth("valid"), truth("invalid"))
    new Req(definition, schemaDir, resources.resolve("data/test.ttl").toString, { body =>
      val shapes = body.get("shapes")
      val (v, i) = (instances(shapes, "valid_instances"), instances(shapes, "invalid_instances"))
      if (v == valid && i == invalid) None
      else Some(s"$definition: valid ${v.size}/${valid.size}, invalid ${i.size}/${invalid.size} differ from ground truth")
    })
  }

  /** The LUBM fixture with its known per-shape (valid, violated) counts. */
  private[graftbench] val lubm: Req = {
    val expected = Map("DepartmentShape" -> (3, 0), "FullProfessorShape" -> (2, 3), "UniversityShape" -> (1, 4))
    new Req("lubm", resources.resolve("lubm/shapes").toString, resources.resolve("lubm/LUBM.ttl").toString, { body =>
      val shapes = body.get("shapes").properties().asScala.map(e => e.getKey -> e.getValue).toSeq
      val bad = expected.toSeq.filterNot { case (suffix, (v, i)) =>
        shapes.exists { case (id, s) => id.endsWith(suffix) && s.get("valid").asInt == v && s.get("violated").asInt == i }
      }
      if (bad.isEmpty) None else Some(s"lubm: wrong counts for ${bad.map(_._1).mkString(", ")}")
    })
  }

  /** Five of the 41 golden cases: with the cases ordered by Spark jobs per
    * warm request (ties by latency), the one at the middle of each fifth.
    * Their median jobs and latency equal the 41's, their mean is within 3%
    * (perfbench/README.md has the survey they come from). */
  private val mix: Seq[Req] = Seq(
    "single_shape/case4/definitions/case4.json",
    "single_shape/case7/definitions/case7.json",
    "or_constraint/case4/definitions/case4.json",
    "two_shapes/case1/definitions/case1.json",
    "recursion/case2/definitions/case2a.json").map(golden)
  val warmPasses = 1

  def setup(s: SparkSession): Unit = {
    spark = s
    server = Service.makeServer(spark, 0)
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
    client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  }

  private def form(r: Req): String =
    Seq("schemaDir" -> r.schemaDir, "dataPath" -> r.dataPath, "maxInstances" -> "1000")
      .map { case (k, v) => s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}" }.mkString("&")

  /** One HTTP request, timed from send to the full body received; the
    * response check runs after the timing. */
  private[graftbench] def request(trace: Trace, r: Req, span: String): Op = {
    val t0 = System.nanoTime()
    val resp = try trace.span(span, r.name, jobLabels)(Right(client.send(
      HttpRequest.newBuilder(URI.create(s"$base/validate"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(form(r))).build(),
      HttpResponse.BodyHandlers.ofString())))
    catch { case e: Exception => Left(s"${r.name}: request threw: $e") }
    val wallMs = (System.nanoTime() - t0) / 1e6
    Op(wallMs, resp match {
      case Left(err) => Some(err)
      case Right(rsp) if rsp.statusCode != 200 => Some(s"${r.name}: HTTP ${rsp.statusCode}: ${rsp.body.take(200)}")
      case Right(rsp) =>
        try r.check(mapper.readTree(rsp.body))
        catch { case e: Exception => Some(s"${r.name}: malformed response: $e") }
    })
  }

  /** Jobs split by the Validator's own `shacl eval+pin <shape>` labels
    * against the unlabeled ones (target scans and the response rendering). */
  private val jobLabels: Seq[(String, String => Boolean)] = Seq(
    "eval_jobs" -> (_.startsWith("shacl eval+pin")),
    "render_jobs" -> (_.isEmpty))

  /** The validator run alone, with the service's fixed configuration, after
    * parsing its inputs; spans are named `<turtle>`, `<shapes>`, `<run>`. */
  private def validatorRun(trace: Trace, r: Req, spans: (String, String, String)): Unit = {
    val triples = trace.span(spans._1, r.name)(TripleStore.fromTurtleFile(spark, r.dataPath))
    val schema = trace.span(spans._2, r.name)(ShapeParser.parseDir(r.schemaDir))
    trace.span(spans._3, r.name)(new Validator(spark, triples, schema,
      ValidatorConfig(selective = true, traversal = Traversal.DFS,
        heuristics = Traversal.DefaultHeuristics)).run()).unpersist()
  }

  /** The in-process layers under one request, each in its own span. */
  private def layers(trace: Trace, r: Req): Unit = {
    trace.span("service.validate_json", r.name, jobLabels)(Service.validateToJson(spark, r.schemaDir, r.dataPath))
    validatorRun(trace, r, ("rdf.parse_turtle", "shacl.parse_shapes", "shacl.validator_run"))
  }

  /** The first request after set-up, cold: the mix's middle case, the
    * median request of the 41. */
  def firstOp(trace: Trace): Seq[Op] = {
    val op = request(trace, mix(mix.size / 2), "service.request")
    spark.catalog.clearCache()
    Seq(op)
  }

  def pass(trace: Trace): Seq[Op] = rng.shuffle(mix).map { r =>
    val op = request(trace, r, "service.request")
    if (trace.active) layers(trace, r)
    spark.catalog.clearCache()
    op
  }

  /** The traced run also sends the LUBM request, the mix's only schema with
    * four or more shapes (the validator's shared target scan). */
  def runChecks(trace: Trace): Seq[String] =
    if (!trace.enabled) Nil
    else {
      val op = request(trace, lubm, "lubm.request")
      validatorRun(trace, lubm, ("lubm.parse_turtle", "lubm.parse_shapes", "lubm.validator_run"))
      op.error.toSeq
    }

  def close(): Unit = if (server != null) server.stop(0)
}

object ShaclService {
  /** The definition files of every golden case, relative to the cases dir. */
  def goldenDefinitions(cases: Path): Seq[String] =
    Files.walk(cases).iterator().asScala
      .filter(p => p.getParent.getFileName.toString == "definitions" && p.toString.endsWith(".json"))
      .map(p => cases.relativize(p).toString).toSeq.sorted
}
