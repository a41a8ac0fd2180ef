package graft

import org.apache.spark.sql.SparkSession

/** Library-applied execution defaults (optimization round r06, guide §2.2,
  * §6): the engine's operators are many-stage DataFrame pipelines, and three
  * stock Spark defaults make every stage pay avoidable latency that scales
  * with STAGE COUNT, not data size — measured on the driver bench
  * (local[32], sf0.1, JobProbe): q_shacl_validate ran 34 jobs where most
  * post-shuffle stages carried 32 near-empty tasks.
  *
  *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` (stock
  *    false): persisted plans (the validator pins per-shape verdict frames)
  *    otherwise execute WITHOUT AQE partition coalescing, so every cached
  *    frame is stored — and every downstream consumer scanned — at the full
  *    shuffle-partition count regardless of size.
  *  - `spark.sql.files.openCostInBytes` (stock 4 MB, an HDD/HDFS-era
  *    estimate): floors file-split size at 4 MB, capping an 11 MB parquet
  *    scan at 3 tasks while 29 cores idle. 512 KB is a realistic open cost
  *    for SSD/page-cache storage; production scans of TB-sized inputs are
  *    bounded by `maxPartitionBytes` either way, so this only raises
  *    parallelism where inputs are small relative to the core count.
  *
  * Each value is applied ONLY when the session still carries the stock
  * default (a user's explicit setting always wins).
  *
  * `spark.sql.adaptive.coalescePartitions.parallelismFirst` was briefly set
  * false here (Spark's doc recommendation for byte-heavy shuffles) and
  * REVERTED to stock true after a repeat-5 A/B: this engine's post-shuffle
  * stages are compute-dense per byte (string distinct aggregations,
  * candidate verification), and byte-based coalescing funneled 5–8 MB
  * aggregations onto ONE task (measured 0.3–0.55 s single-task reduces in
  * q_shacl_validate; min-of-5 flagship 2.85 s → 2.59 s stock). Stock
  * behavior still collapses KB-sized shuffles via the 1 MB
  * minPartitionSize floor, which is what the false setting was meant to
  * buy. Ledger: OPTIMIZATION_r06.md §session-tuning.
  */
object Tuning {

  /** (key, stock default, tuned value) */
  private val tuned: Seq[(String, String, String)] = Seq(
    ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false", "true"),
    ("spark.sql.files.openCostInBytes", "4194304", "524288"))

  // bytes-typed confs render their default with a unit suffix ("4194304b")
  private def norm(s: String): String = s.trim.toLowerCase.stripSuffix("b")

  def sessionDefaults(spark: SparkSession): Unit = {
    tuned.foreach { case (key, stock, value) =>
      if (spark.conf.getOption(key).forall(v => norm(v) == norm(stock)))
        spark.conf.set(key, value)
    }
  }

  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val serviceSessions = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** The session a validation over a driver-parsed Turtle graph runs in:
    * one child of `parent` (`newSession()`, shared SparkContext and cache),
    * derived on first use and reused, with whole-stage codegen OFF. Every
    * call first re-applies the parent's modifiable runtime confs (and
    * unsets those the parent no longer carries), so a parent conf change
    * is seen by the next request.
    *
    * Why: a Turtle graph is parsed on the driver into a `LocalRelation`,
    * so it is bounded by driver memory, and at that size generated-code
    * compilation, not data, sets a request's latency. The five-case
    * service mix needs about 250 whole-stage classes per pass while
    * Spark's codegen cache holds 100 (`spark.sql.codegen.cache.maxEntries`,
    * static), so with codegen on every warm request recompiles its classes
    * with janino and runs them before the JIT has them. Measured on a
    * 4-vCPU host (`perfbench/run.py --workload shacl_service`), codegen
    * on vs this session: a warm pass of the mix compiled 265 vs 74 classes;
    * traced, seed 1, a request took 1,013 vs 807 ms with 44.5 vs 18 classes
    * compiled and 956 vs 717 ms of task time; untraced, seeds 31-40, the
    * request p50 was 1,217 vs 878 ms.
    *
    * Reused, not derived per request: Spark's codegen cache is keyed on
    * (class loader, source), so a fresh session starts cold — a session per
    * request compiled 39.5 classes a request and gained nothing (1,252 ms
    * a request, seed 14, same host).
    * Parquet inputs can be large; they stay in the caller's session. */
  def serviceSession(parent: SparkSession): SparkSession = serviceSessions.synchronized {
    var child = serviceSessions.get(parent)
    if (child == null) {
      child = parent.newSession()
      serviceSessions.put(parent, child)
    }
    val inherited = parent.conf.getAll.filter { case (k, _) => parent.conf.isModifiable(k) }
    child.conf.getAll.keys
      .filter(k => child.conf.isModifiable(k) && k != WholeStage && !inherited.contains(k))
      .foreach(child.conf.unset)
    inherited.foreach { case (k, v) => child.conf.set(k, v) }
    child.conf.set(WholeStage, "false")
    child
  }
}
