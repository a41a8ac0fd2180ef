package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One timed unit of work: a pipeline run or one HTTP
  * request. `error` is set when the op threw or failed its output check. */
final case class Op(wallMs: Double, error: Option[String] = None)

/** A workload runs inside this JVM against a session the harness owns.
  * `setup` makes the inputs ready; `pass` runs one measured unit (one op, or
  * one round over a request mix) and checks every op's output outside its
  * timing; `runChecks` holds the checks made once per run. */
trait Workload {
  /** passes run after the first op and before the measured ones */
  def warmPasses: Int
  def setup(spark: SparkSession): Unit
  /** the first op after set-up, JIT and codegen cold */
  def firstOp(trace: Trace): Seq[Op]
  def pass(trace: Trace): Seq[Op]
  def runChecks(trace: Trace): Seq[String]
  def close(): Unit
}

object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        out: Path, work: Path, repo: Path, cores: Int, setupOnly: Boolean = false)

  def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("out")), Paths.get(m("work")), Paths.get(m("repo")), m("cores").toInt,
      m.get("setup-only").contains("1"))
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName(s"graft-perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", c.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuMs(): Double = cpu.getProcessCpuTime / 1e6

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.stripTrailingZeros.toPlainString

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1) // Spark and the HTTP server leave non-daemon threads behind
    }

  private def run(c: Conf): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl: Workload = c.workload match {
      case "kg_build" => new KgBuild(c)
      case "shacl_service" => new ShaclService(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, from JVM start to inputs ready. A set-up-only run stops here:
    // run.py starts one before the workload JVM and reports the median of
    // the set-up times of both.
    val spark = session(c)
    wl.setup(spark)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    if (c.setupOnly) {
      Files.writeString(c.out, s"""{"setup_s": ${jsonNum(setupS)}}""")
      Runtime.getRuntime.halt(0) // run.py deletes the work dir; skip the session's shutdown
    }

    val trace = new Trace(spark.sparkContext, c.trace)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def tally(ops: Seq[Op]): Seq[Op] = {
      attempted += ops.size
      ops.flatMap(_.error).foreach(failures += _)
      ops
    }

    // First op, right after set-up: JIT and codegen cold, what a one-shot
    // CLI run pays.
    val firstCpu0 = cpuMs()
    val firstMs = tally(trace.span("first_op", force = true)(wl.firstOp(trace))).map(_.wallMs).sum
    val firstCpuMs = cpuMs() - firstCpu0

    // Warm-up: a fixed number of passes after the first op. The op time of
    // these programs keeps falling slowly for many ops (JIT compiling the
    // Spark driver paths, and generated classes per query), so a fixed count
    // keeps every run at the same point of that curve.
    final case class PassTime(wallMs: Double, cpuMs: Double, ops: Int)
    def timedPass(): (PassTime, Seq[Op]) = {
      val c0 = cpuMs()
      val ops = tally(wl.pass(trace))
      (PassTime(ops.map(_.wallMs).sum, cpuMs() - c0, ops.size), ops)
    }
    val warm = (1 to wl.warmPasses).map(_ => timedPass()._1)

    // Measurement: whole passes until `seconds` of wall time have run. In the
    // traced run passes alternate between spans on and off, so the run can
    // state its own tracing overhead.
    val measured = mutable.ArrayBuffer.empty[PassTime]
    val opMs = mutable.ArrayBuffer.empty[Double]
    val tracedOpMs = mutable.ArrayBuffer.empty[Double]
    val measureStart = System.nanoTime()
    var k = 0
    while (k < (if (c.trace) 3 else 1) || (System.nanoTime() - measureStart) / 1e9 < c.seconds) {
      val spansOn = c.trace && k % 2 == 0
      trace.active = spansOn
      val (pt, ops) = timedPass()
      measured += pt
      (if (spansOn) tracedOpMs else opMs) ++= ops.map(_.wallMs)
      k += 1
    }
    trace.active = c.trace
    val measureS = (System.nanoTime() - measureStart) / 1e9

    failures ++= wl.runChecks(trace)
    val peakRss = vmHwmMb()

    val e2e = Seq(
      ("first_op_ms", firstMs, "ms"),
      ("op_p50_ms", median(opMs.toSeq), "ms"),
      ("peak_rss_mb", peakRss, "MB"))

    val layers = mutable.ArrayBuffer.empty[(String, Double, String)]
    if (c.trace) {
      def unit(counter: String) =
        if (counter.endsWith("_ms")) "ms" else if (counter.endsWith("_bytes")) "bytes" else "count"
      for ((span, counters) <- trace.samples) {
        for ((counter, xs) <- counters) layers += ((s"$span.$counter", median(xs.toSeq), unit(counter)))
        if (span != "first_op")
          for ((counter, spread) <- trace.spreads(span)) layers += ((s"$span.${counter}_spread", spread, unit(counter)))
      }
      layers += (("trace.overhead_pct", (median(tracedOpMs.toSeq) / median(opMs.toSeq) - 1) * 100, "%"))
    }

    def metricsJson(ms: Seq[(String, Double, String)]): String =
      ms.map { case (n, v, u) => s"${jsonStr(n)}: {\"value\": ${jsonNum(v)}, \"unit\": ${jsonStr(u)}}" }
        .mkString("{", ", ", "}")
    def passesJson(ps: Seq[PassTime]): String =
      ps.map(p => s"[${jsonNum(p.wallMs)}, ${jsonNum(p.cpuMs)}, ${p.ops}]").mkString("[", ", ", "]")

    val lastWarm = warm.lastOption.map(_.wallMs).getOrElse(firstMs)
    val json =
      s"""{"workload": ${jsonStr(c.workload)}, "seed": ${c.seed}, "trace": ${c.trace},
         | "cores": ${c.cores}, "heap_max_mb": ${Runtime.getRuntime.maxMemory / (1 << 20)},
         | "attempted": $attempted, "failed": ${failures.size},
         | "failures": ${failures.take(20).map(jsonStr).mkString("[", ", ", "]")},
         | "setup_s": ${jsonNum(setupS)},
         | "first_op": [${jsonNum(firstMs)}, ${jsonNum(firstCpuMs)}],
         | "warmup_passes": ${passesJson(warm)},
         | "measured_passes": ${passesJson(measured.toSeq)},
         | "measured_op_samples": ${opMs.size}, "measure_s": ${jsonNum(measureS)},
         | "first_measured_pass_vs_last_warm": ${jsonNum(measured.head.wallMs / lastWarm)},
         | "e2e": ${metricsJson(e2e)},
         | "layers": ${metricsJson(layers.toSeq)}}""".stripMargin
    Files.writeString(c.out, json)

    trace.close()
    wl.close()
    spark.stop()
    sys.exit(0) // the service's HTTP executor threads are not daemons
  }
}
