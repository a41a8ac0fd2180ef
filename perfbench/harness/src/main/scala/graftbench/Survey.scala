package graftbench

import java.nio.file.Files

/** Sends every golden case and the LUBM request to the service, warm, and
  * prints per request its Spark jobs and median latency: the distribution
  * the `shacl_service` request mix is chosen from.
  *
  * {{{ python3 perfbench/survey.py [--warm 2] [--rounds 3] }}} */
object Survey {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Main.parse(Array("--workload", "shacl_service", "--seed", "0", "--seconds", "0", "--trace", "1") ++
      Seq("out", "work", "repo", "cores").flatMap(k => Seq(s"--$k", m(k))))
    val (warm, rounds) = (m.getOrElse("warm", "2").toInt, m.getOrElse("rounds", "3").toInt)
    val spark = Main.session(c)
    val svc = new ShaclService(c)
    svc.setup(spark)
    val trace = new Trace(spark.sparkContext, enabled = true)
    val reqs = ShaclService.goldenDefinitions(c.repo.resolve("src/test/resources/cases")).map(svc.golden) :+ svc.lubm
    val errors = (1 to warm + rounds).flatMap { round =>
      trace.active = round > warm
      reqs.flatMap { r =>
        val op = svc.request(trace, r, r.name)
        spark.catalog.clearCache()
        op.error
      }
    }
    val rows = reqs.map { r =>
      val s = trace.samples(r.name)
      Seq(r.name, Main.median(s("jobs").toSeq).toInt.toString, f"${Main.median(s("wall_ms").toSeq)}%.0f",
        f"${s("wall_ms").min}%.0f", f"${s("wall_ms").max}%.0f", f"${Main.median(s("driver_only_ms").toSeq)}%.0f")
    }
    val table = ("case\tjobs\twall_ms_p50\twall_ms_min\twall_ms_max\tdriver_only_ms_p50" +: rows.map(_.mkString("\t")))
      .mkString("", "\n", "\n")
    Files.writeString(c.out, table)
    errors.foreach(e => System.err.println(s"survey: $e"))
    trace.close()
    svc.close()
    spark.stop()
    sys.exit(if (errors.isEmpty) 0 else 1)
  }
}
