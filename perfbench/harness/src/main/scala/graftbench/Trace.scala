package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Spark-side counters of one process, fed by the listener bus. All updates
  * happen on the bus thread; readers call [[Trace.drain]] first. */
final class JobCounters extends SparkListener {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** finished jobs as (start ms, end ms, description) */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long, String)]
  private val open = mutable.Map.empty[Int, (Long, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    open(e.jobId) = (e.time, desc.getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (t0, d) => intervals += ((t0, e.time, d)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

private final case class Snap(jobs: Long, tasks: Long, run: Long, gc: Long, shw: Long, spill: Long,
                              nIntervals: Int, jitMs: Long, codegen: Long)

/** Spans around calls into the program's public functions. A span records
  * wall time, the part of it with no Spark job running (driver-only time),
  * Spark job/task counters, JIT compile time and generated classes. Values
  * are kept per call and summarised as medians by the caller.
  *
  * With `enabled = false` the listener is not installed and [[span]] only
  * runs its body, so untraced runs pay nothing. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val counters = new JobCounters
  if (enabled) sc.addSparkListener(counters)
  private val jit = ManagementFactory.getCompilationMXBean
  /** spans record only while active; the harness turns them off for
    * warm-up and for the untraced half of a traced run's passes */
  var active = false

  /** span name -> counter name -> one value per call */
  val samples = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]]
  /** (span, counter, call key) -> values of the counters that should repeat
    * exactly for the same call: jobs, tasks and shuffle bytes */
  private val keyed = mutable.LinkedHashMap.empty[(String, String, String), mutable.ArrayBuffer[Double]]
  private val repeatable = Seq("jobs", "tasks", "shuffle_write_bytes")

  /** Largest max-min of a repeatable counter over calls of `span` with the
    * same key, one entry per counter; empty for spans called once per key. */
  def spreads(span: String): Seq[(String, Double)] = repeatable.flatMap { counter =>
    val groups = keyed.collect { case ((s, c, _), xs) if s == span && c == counter => xs }
    if (groups.exists(_.size > 1)) Some(counter -> groups.map(xs => xs.max - xs.min).max) else None
  }

  def record(span: String, counter: String, value: Double): Unit =
    samples.getOrElseUpdate(span, mutable.LinkedHashMap.empty)
      .getOrElseUpdate(counter, mutable.ArrayBuffer.empty) += value

  private def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  private def snap(): Snap = counters.synchronized {
    Snap(counters.jobs, counters.tasks, counters.taskRunMs, counters.gcMs,
      counters.shuffleWriteBytes, counters.spillBytes, counters.intervals.size,
      jit.getTotalCompilationTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** Length of [t0, t1] covered by no finished job interval. */
  private def idleMs(t0: Long, t1: Long, jobs: Seq[(Long, Long, String)]): Long = {
    var covered = 0L
    var cursor = t0
    jobs.map { case (a, b, _) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
      }
    (t1 - t0) - covered
  }

  /** Runs `f` as span `name`. `key` names the call (e.g. the request), so
    * repeat calls can be compared; `jobLabels` maps a counter name to a test
    * on job descriptions, counting the span's jobs that pass it. */
  def span[T](name: String, key: String = "", jobLabels: Seq[(String, String => Boolean)] = Nil,
              force: Boolean = false)(f: => T): T = {
    if (!enabled || !(active || force)) return f
    drain()
    val s0 = snap()
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = f
    val wallMs = (System.nanoTime() - n0) / 1e6
    val w1 = System.currentTimeMillis()
    drain()
    val s1 = snap()
    val jobs = counters.synchronized(counters.intervals.slice(s0.nIntervals, s1.nIntervals).toList)
    record(name, "wall_ms", wallMs)
    record(name, "driver_only_ms", idleMs(w0, w1, jobs).toDouble)
    record(name, "jobs", (s1.jobs - s0.jobs).toDouble)
    record(name, "tasks", (s1.tasks - s0.tasks).toDouble)
    record(name, "task_run_ms", (s1.run - s0.run).toDouble)
    record(name, "gc_ms", (s1.gc - s0.gc).toDouble)
    record(name, "shuffle_write_bytes", (s1.shw - s0.shw).toDouble)
    record(name, "spill_bytes", (s1.spill - s0.spill).toDouble)
    record(name, "jit_ms", (s1.jitMs - s0.jitMs).toDouble)
    record(name, "codegen_classes", (s1.codegen - s0.codegen).toDouble)
    Seq(s1.jobs - s0.jobs, s1.tasks - s0.tasks, s1.shw - s0.shw).zip(repeatable).foreach { case (v, counter) =>
      keyed.getOrElseUpdate((name, counter, key), mutable.ArrayBuffer.empty) += v.toDouble
    }
    jobLabels.foreach { case (counter, test) =>
      record(name, counter, jobs.count(j => test(j._3)).toDouble)
    }
    out
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(counters)
}
