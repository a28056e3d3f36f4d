package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One span of a traced operation: a call into one layer. */
final case class Span(name: String, op: String, rep: Int, startNs: Long,
    endNs: Long, parent: String)

/** What one execution of one operation produced. `layers` holds the
  * per-layer counters of a traced execution (empty when untraced).
  */
final case class Exec(op: String, rep: Int, cold: Boolean, traced: Boolean,
    wallMs: Double, checksum: Option[String], error: Option[String],
    layers: Map[String, Double], spans: Seq[Span])

/** The context an operation body runs in. Bodies call [[layer]] around
  * each call into the program, so a traced execution gets a span and a
  * phase tag on the Spark jobs that call submits.
  */
final class Ctx(val spark: SparkSession, val op: String, val rep: Int,
    val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Wall time per layer name, traced or not (a few clock reads). */
  val layerMs = mutable.LinkedHashMap.empty[String, Double]
  /** Values the body reports for the per-layer record (rows, bytes...). */
  val extra = mutable.LinkedHashMap.empty[String, Double]

  def layer[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(Meters.PhaseKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      layerMs(name) = layerMs.getOrElse(name, 0.0) + (t1 - t0) / 1e6
      if (traced) {
        spans += Span(name, op, rep, t0, t1, "op")
        sc.setLocalProperty(Meters.PhaseKey, null)
      }
    }
  }

  def note(key: String, v: Double): Unit =
    extra(key) = extra.getOrElse(key, 0.0) + v
}

/** An operation of a workload. `body` is the timed work; it returns the
  * check, run after the timer stops, that yields the operation's
  * checksum. `expect` is the checksum the check must give, when it is
  * derived from the run's own inputs; otherwise the golden file has it.
  */
final case class Op(id: String, body: Ctx => () => String,
    expect: Option[String] = None)

object Harness {

  /** Releases every cached thing: Catalyst's cache manager, then every RDD
    * still registered as persistent (which includes the `localCheckpoint`
    * RDDs that `clearCache` does not know about). Fails if any survive.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val left = sc.getPersistentRDDs.size
    if (left != 0) throw new IllegalStateException(
      s"$left persistent RDDs survive the release step")
  }

  /** A query operation: build the DataFrame, optimize, plan physically and
    * run the checksum action, each as its own layer call.
    */
  def queryOp(id: String, build: SparkSession => DataFrame): Op =
    Op(id, ctx => {
      val df = ctx.layer("queries.build")(build(ctx.spark))
      val h = Checksum.hashed(df)
      ctx.layer("plans.optimize")(h.queryExecution.optimizedPlan)
      ctx.layer("plans.physical")(h.queryExecution.executedPlan)
      val sum = ctx.layer("exec.action")(Checksum.sum(h))
      () => sum
    })

  /** The layer calls of a query operation. */
  val QueryLayers: Seq[String] =
    Seq("queries.build", "plans.optimize", "plans.physical", "exec.action")

  /** The write-path steps, each an `etl.<step>` layer. */
  val EtlSteps: Seq[String] = Seq("gen_bronze", "delta_commit", "delta_read",
    "upsert", "append", "compact", "cluster", "skip_read", "dedup_ingest")

  private val listener = new ExecListener
  private val codegen = new CodegenMeter
  private var installed = false

  /** Installs the benchmark's meters (idempotent). */
  def installMeters(spark: SparkSession): Unit = synchronized {
    if (!installed) {
      codegen.install()
      spark.sparkContext.addSparkListener(listener)
      installed = true
    }
  }

  private def storageHeld(spark: SparkSession): (Double, Double) = {
    val sc = spark.sparkContext
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (bytes.toDouble, sc.getPersistentRDDs.size.toDouble)
  }

  /** Runs one execution of `op` on a released session. The timed region is
    * the body alone; the release step, meter reads and checks sit outside.
    */
  def execute(spark: SparkSession, op: Op, rep: Int, cold: Boolean,
      traced: Boolean): Exec = {
    release(spark)
    val ctx = new Ctx(spark, op.id, rep, traced)
    val sc = spark.sparkContext
    if (traced) {
      PerfbenchBus.drain(sc)
      listener.reset(); codegen.reset(); RuleMeter.reset()
    }
    val t0 = System.nanoTime()
    val timed: Either[Throwable, () => String] =
      try Right(op.body(ctx)) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    val result: Either[Throwable, String] = timed.flatMap { check =>
      try Right(check()) catch { case e: Throwable => Left(e) }
    }
    val wallMs = (t1 - t0) / 1e6
    var layers = Map.empty[String, Double]
    if (traced) {
      PerfbenchBus.drain(sc)
      layers = tracedLayers(spark, ctx, wallMs)
      ctx.spans.prepend(Span("op", op.id, rep, t0, t1, ""))
    }
    Exec(op.id, rep, cold, traced, wallMs, result.toOption,
      result.left.toOption.map(e =>
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"),
      layers, ctx.spans.toSeq)
  }

  private def tracedLayers(spark: SparkSession, ctx: Ctx,
      wallMs: Double): Map[String, Double] = {
    val ex = listener.snapshot()
    val (cgMs, cgN) = codegen.snapshot()
    val rules = RuleMeter.snapshot()
    val (held, heldRdds) = storageHeld(spark)
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("op_ms") = wallMs
    m("queries.build_jobs") = ex.getOrElse("jobs.queries.build", 0.0)
    var runs, eff = 0.0
    Meters.GraftRules.foreach { r =>
      val s = rules.collectFirst { case (n, v) if n.endsWith("." + r) => v }
      val v = s.getOrElse(RuleMeter.Rule(0, 0, 0, 0))
      m(s"plans.rule.$r.ms") = v.timeNs / 1e6
      m(s"plans.rule.$r.effective") = v.effRuns.toDouble
      m(s"plans.rule.$r.runs") = v.runs.toDouble
      runs += v.runs; eff += v.effRuns
    }
    m("plans.rule_runs") = runs
    m("plans.rule_effective") = eff
    m("codegen.compile_ms") = cgMs
    m("codegen.compiles") = cgN.toDouble
    m("exec.jobs") = ex.getOrElse("jobs", 0.0)
    Seq("stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
      "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
      "spill_bytes", "peak_exec_mem_bytes", "failed_tasks", "output_bytes",
      "output_records").foreach(k => m(s"exec.$k") = ex.getOrElse(k, 0.0))
    m("cache.put_bytes") = ex.getOrElse("cache_put_bytes", 0.0)
    m("cache.put_blocks") = ex.getOrElse("cache_put_blocks", 0.0)
    m("cache.held_bytes_after") = held
    m("cache.held_rdds_after") = heldRdds
    m("cache_held_mb") = held / (1 << 20)
    m("plans.rule_hit_ratio") = if (runs > 0) eff / runs else 0.0
    m("exec.core_busy_frac") =
      m("exec.task_run_ms") / (wallMs * spark.sparkContext.defaultParallelism)
    // every layer's time is present for every operation, zero where the
    // operation does not call into that layer
    (QueryLayers ++ EtlSteps.map("etl." + _)).foreach(l => m(s"${l}_ms") = 0.0)
    m("etl.rows_committed") = 0.0
    ctx.extra.foreach { case (k, v) => m(k) = v }
    ctx.layerMs.foreach { case (k, v) => m(s"${k}_ms") = v }
    m("etl.bytes_written") = if (ctx.layerMs.keys.exists(_.startsWith("etl."))) m("exec.output_bytes") else 0.0
    m("etl.skip_read_input_bytes") = if (ctx.layerMs.contains("etl.skip_read")) m("exec.input_bytes") else 0.0
    m.toMap
  }
}
