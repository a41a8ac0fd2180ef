package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.rdf.TripleStore
import graft.shacl._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

/** Web-service entry point — the reference's third lifecycle
  * (Flask `POST /validate`, TravSHACL/app/__init__.py:20-45): accepts form
  * params `schemaDir` and `dataPath` (triple parquet or Turtle file),
  * validates with the reference's fixed service configuration (DFS,
  * heuristics TARGET IN BIG, selective=true — app/__init__.py:14-18) and
  * returns a JSON document of per-shape verdicts — or, with `format=html`
  * (or an `Accept: text/html` header), the reference's HTML result table
  * (instance / shape / color-coded validation result / finished@shape —
  * app/__init__.py:47-92). `GET /validate` serves a minimal form, like the
  * reference's GET branch. One divergence, documented: `finished@shape`
  * here always equals the target's own shape — the set-algebra engine has
  * no interleaved "resolved while evaluating another shape" scheduling
  * artifact to report.
  *
  * Built on the JDK's HttpServer — no additional dependencies. One shared
  * SparkSession serves all requests (the reference resets its endpoint
  * singleton per request; a SparkSession is request-safe as-is).
  *
  * A Turtle `dataPath` is validated and rendered in the caller's
  * [[Tuning.serviceSession]], a reused child session with whole-stage
  * codegen off, so warm requests stop recompiling generated code; a
  * parquet `dataPath` runs in the caller's session. Listeners registered on
  * the caller's session (`listenerManager`) therefore do not see a Turtle
  * request's queries; SparkContext-level `SparkListener`s still do.
  *
  * Both payloads render from ONE Spark action over the verdict frame
  * (`Report.summarize`: exact per-shape counts plus the first
  * `maxInstances` foci in Spark's focus order), and the frames the
  * validation pinned are released in a `finally`, also when rendering
  * fails.
  *
  *   runMain graft.Service [port]        (default 8080)
  *   curl -X POST localhost:8080/validate \
  *     -d 'schemaDir=...&dataPath=...&maxInstances=100'
  */
object Service {

  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** The session and triple frame a validation of `dataPath` runs in: a
    * Turtle file is parsed into [[Tuning.serviceSession]], a triple parquet
    * is read in `spark` (see the object doc). `Cli` reads its input here
    * too. */
  private[graft] def input(spark: SparkSession, dataPath: String): (SparkSession, DataFrame) =
    if (dataPath.endsWith(".ttl")) {
      val s = Tuning.serviceSession(spark)
      (s, TripleStore.fromTurtleFile(s, dataPath))
    } else (spark, TripleStore.readParquet(spark, dataPath))

  private[graft] def runValidation(spark: SparkSession, schemaDir: String,
                                   dataPath: String): ValidationResult = {
    val (session, triples) = input(spark, dataPath)
    val schema = ShapeParser.parseDir(schemaDir)
    // fixed service config, reference app/__init__.py:14-18
    new Validator(session, triples, schema,
      ValidatorConfig(selective = true, traversal = Traversal.DFS,
        heuristics = Traversal.DefaultHeuristics)).run()
  }

  /** Run one validation and render the reference's response payload
    * (shape -> valid/violated instance lists) as JSON. */
  def validateToJson(spark: SparkSession, schemaDir: String, dataPath: String,
                     maxInstances: Int = 1000): String = {
    val result = runValidation(spark, schemaDir, dataPath)
    try {
      val summary = Report.summarize(spark, result, maxInstances)
      def list(items: Seq[String]): String = items.map(i => "\"" + jsonEscape(i) + "\"").mkString("[", ",", "]")
      val shapes = summary.toSeq.sortBy(_._1).map { case (id, s) =>
        s"""    "${jsonEscape(id)}": {
           |      "targets": ${s.valid + s.violated},
           |      "valid": ${s.valid},
           |      "violated": ${s.violated},
           |      "valid_instances": ${list(s.validFoci)},
           |      "invalid_instances": ${list(s.violatedFoci)}
           |    }""".stripMargin
      }
      s"""{
         |  "conforms": ${summary.values.forall(_.violated == 0)},
         |  "node_order": ${list(result.nodeOrder)},
         |  "shapes": {
         |${shapes.mkString(",\n")}
         |  }
         |}""".stripMargin
    } finally result.unpersist()
  }

  private[graft] def htmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** The reference's HTML result table (app/__init__.py:47-92): one row per
    * registered target, columns instance / shape / validation result
    * (green "valid", red "invalid") / finished@shape, wrapped in the
    * "returned N validation results in T seconds" header div. */
  def validateToHtml(spark: SparkSession, schemaDir: String, dataPath: String,
                     maxInstances: Int = 1000): String = {
    val t0 = System.nanoTime()
    val result = runValidation(spark, schemaDir, dataPath)
    try {
      val rows = Report.summarize(spark, result, maxInstances).toSeq.sortBy(_._1).flatMap { case (id, s) =>
        val shape = htmlEscape(id.stripPrefix("<").stripSuffix(">"))
        def row(focus: String, verdict: String, color: String): String =
          s"""<tr><td>${htmlEscape(focus)}</td><td>$shape</td><td style="color: $color">$verdict</td><td>$shape</td></tr>"""
        s.validFoci.map(row(_, "valid", "green")) ++ s.violatedFoci.map(row(_, "invalid", "red"))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val header = Seq("instance", "shape", "validation result", "finished@shape")
        .map(h => s"<th>$h</th>").mkString
      s"""<div>graft (Trav-SHACL semantics) returned ${rows.size} validation results in $secs seconds.<br><br>""" +
        """<table border="0px" style="border-spacing: 10px; margin-left: auto; margin-right: auto;">""" +
        s"<tr>$header</tr>${rows.mkString}</table></div>"
    } finally result.unpersist()
  }

  /** The reference's GET /validate form (validate.jinja2 equivalent). */
  private[graft] val formHtml: String =
    """<html><body><form method="POST" action="/validate">
      |  <label>schemaDir <input name="schemaDir" size="60"/></label><br/>
      |  <label>dataPath <input name="dataPath" size="60"/></label><br/>
      |  <label>format <select name="format"><option>json</option><option>html</option></select></label><br/>
      |  <input type="submit" value="validate"/>
      |</form></body></html>""".stripMargin

  private def parseForm(body: String): Map[String, String] =
    body.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
    }.toMap

  private def respond(ex: HttpExchange, code: Int, body: String, mime: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", s"$mime; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  def makeServer(spark: SparkSession, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // small pool instead of the default single dispatcher thread: a long
    // validation must not block /health; SparkSession is request-safe
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.createContext("/validate", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = try {
        if (ex.getRequestMethod == "GET") {
          // reference parity: GET serves the input form (app/__init__.py:22-24)
          respond(ex, 200, formHtml, "text/html")
        } else if (ex.getRequestMethod != "POST") {
          respond(ex, 405, """{"error":"GET or POST only"}""")
        } else {
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val form = parseForm(body)
          (form.get("schemaDir"), form.get("dataPath")) match {
            case (Some(schemaDir), Some(dataPath)) =>
              val maxInstances = form.get("maxInstances").map(_.toInt).getOrElse(1000)
              val wantsHtml = form.get("format").contains("html") ||
                Option(ex.getRequestHeaders.getFirst("Accept")).exists(_.contains("text/html"))
              if (wantsHtml)
                respond(ex, 200, validateToHtml(spark, schemaDir, dataPath, maxInstances), "text/html")
              else
                respond(ex, 200, validateToJson(spark, schemaDir, dataPath, maxInstances))
            case _ =>
              respond(ex, 400, """{"error":"missing form params schemaDir and dataPath"}""")
          }
        }
      } catch {
        case e: Exception =>
          respond(ex, 500, s"""{"error":"${jsonEscape(String.valueOf(e.getMessage))}"}""")
      }
    })
    server.createContext("/health", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = respond(ex, 200, """{"status":"ok"}""")
    })
    server
  }

  def main(args: Array[String]): Unit = {
    val port = if (args.nonEmpty) args(0).toInt else 8080
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-shacl-service")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = makeServer(spark, port)
    server.start()
    println(s"graft validation service listening on http://127.0.0.1:$port (POST /validate)")
    Thread.currentThread().join()
  }
}
