package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.io.Source
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.catalog.Tables

/** The benchmark harness: a single-threaded closed loop that submits one
  * operation at a time to `Sessions.local`.
  *
  * Modes (first argument):
  *   - `run`: set up, one cold pass, untimed warm-up rounds, then timed
  *     isolated warm rounds until `--seconds` are spent; prints one JSON report as its last line and
  *     writes every execution to the `--sidecar` file. `--trace 1`
  *     alternates traced and untraced warm rounds and reports per-layer
  *     metrics plus the tracing overhead.
  *   - `setup`: set-up only; prints its timings as JSON.
  *   - `golden`: runs each operation three times and prints the checksums
  *     as `workload<TAB>op<TAB>checksum`, failing if they disagree.
  */
object Main {

  /** The end-to-end metrics an untraced run reports (BENCHMARK.json). */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "cold_s", "warm_s", "op_geomean_ms", "peak_rss_mb", "heap_held_mb")

  /** The per-layer metrics a traced run reports (BENCHMARK.json); the
    * others (per-step etl times, rule run counts) go to stderr, the report's
    * `info` and the sidecar only, since they are zero by construction on
    * one of the workloads.
    */
  val PerLayer: Seq[String] =
    Seq("queries.build_ms", "queries.build_jobs", "plans.optimize_ms", "plans.physical_ms") ++
      Meters.GraftRules.flatMap(r => Seq(s"plans.rule.$r.ms", s"plans.rule.$r.effective")) ++
      Seq("plans.rule_hit_ratio", "codegen.compile_ms", "codegen.compiles", "exec.action_ms",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
        "exec.gc_ms", "exec.core_busy_frac", "exec.input_bytes", "exec.shuffle_read_bytes",
        "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.peak_exec_mem_bytes",
        "exec.failed_tasks", "cache.put_bytes", "cache.put_blocks", "cache.held_bytes_after",
        "cache.held_rdds_after", "cache_held_mb", "etl.bytes_written", "etl.files_written",
        "etl.skip_read_input_bytes", "etl.ingest_rows_per_s", "etl.write_amp", "etl.space_amp",
        "setup.session_ms", "setup.catalog_ms", "trace.warm_s", "trace.untraced_warm_s",
        "trace.overhead_s")

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(a: Seq[String]): Args =
    Args(a.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("")
    val a = parse(argv.drop(1).toSeq)
    val code = mode match {
      case "run" =>
        val (code, report) = run(a, Workloads.byName(a("workload")))
        println(Json(report))
        code
      case "setup" => println(Json(setup(a)._2)); 0
      case "golden" => golden(a)
      case _ =>
        System.err.println("usage: perfbench.Main run|setup|golden --key value ...")
        2
    }
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  /** Process start (`--t0`, epoch ms) until the session is up and the
    * catalog is warm: every table's schema is in `Tables`' schema cache.
    */
  def setup(a: Args): (SparkSession, Map[String, Double]) = {
    val t0 = a.get("t0").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val dir = a("data")
    val s0 = System.nanoTime()
    val spark = Sessions.local("perfbench")
    val s1 = System.nanoTime()
    Tables.all.foreach(n => Tables.load(spark, dir, n))
    val s2 = System.nanoTime()
    val ready = System.currentTimeMillis()
    (spark, Map("setup_s" -> (ready - t0) / 1000.0,
      "setup.session_ms" -> (s1 - s0) / 1e6, "setup.catalog_ms" -> (s2 - s1) / 1e6))
  }

  def goldens(path: String): Map[(String, String), String] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(w, op, sum) = l.split("\t")
      (w, op) -> sum
    }.toMap
    finally src.close()
  }

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRec)
    f.delete(): Unit
  }

  /** VmHWM (peak resident set) of this JVM in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Heap in use (MB) right after a full collection: what is still
    * reachable.
    */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Each operation's median wall time (ms) over `es`. */
  def perOpMedians(es: Seq[Exec]): Seq[Double] =
    es.groupBy(_.op).values.map(x => median(x.map(_.wallMs))).toSeq

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  /** One rep: every operation once, each on a released session. Writes go
    * to a fresh directory, deleted after the rep. The cold pass also
    * returns `heap_held_mb`, the most heap any operation still holds when
    * it returns (its caches are released only before the next execution),
    * measured after a full collection outside the timed region. (The
    * collections make the JVM re-size its young generation, which slows
    * the round after them; the warm-up round absorbs that.)
    */
  def rep(spark: SparkSession, w: Workload, dir: String, seed: Long, r: Int,
      work: File, traced: Boolean): (Seq[Exec], Map[String, Double]) = {
    val repDir = new File(work, s"rep$r")
    deleteRec(repDir)
    val ops0 = w.ops(spark, dir, seed, repDir.getPath)
    // the cold pass keeps the listed order, so cold_s times the same
    // first-execution sequence whatever the seed
    val ops = if (r == 0) ops0 else w.order(ops0, new Random(seed * 1000003L + r))
    var heldMb = 0.0
    val execs = ops.map { op =>
      val e = Harness.execute(spark, op, r, cold = r == 0, traced)
      if (r == 0) heldMb = math.max(heldMb, liveHeapMb())
      e
    }
    Harness.release(spark)
    val after = w.afterRep(repDir.getPath)
    deleteRec(repDir)
    (execs, after + ("heap_held_mb" -> heldMb))
  }

  /** Warm rounds run after the cold pass and before the timed ones: their
    * executions are checked but not timed. In the round right after the
    * cold pass the JIT is still compiling the engine's hot paths, and a
    * round takes 15-45% longer than later ones (4 cores, JDK 17).
    */
  val WarmupRounds = 1

  /** Runs workload `w`; returns the exit code and the report. */
  def run(a: Args, w: Workload): (Int, Map[String, Any]) = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    // a traced run needs two traced and two untraced rounds (see below)
    val minRounds = WarmupRounds + (if (trace) 4 else 2)
    val gold = goldens(a("goldens"))
    val work = new File(a("work"))
    val (spark, setupM) = setup(a)
    val dir = a("data")
    if (trace) Harness.installMeters(spark)
    w.prepare(spark, dir, seed)
    val opsById = w.ops(spark, dir, seed, work.getPath).map(o => o.id -> o).toMap

    val all = mutable.ArrayBuffer.empty[Exec]
    val afters = mutable.ArrayBuffer.empty[Map[String, Double]]
    val (cold, coldAfter) = rep(spark, w, dir, seed, 0, work, trace)
    all ++= cold
    val heldMb = coldAfter("heap_held_mb")
    var t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var r = 1
    var last = 0.0
    while (r <= minRounds || elapsed + last <= seconds) {
      if (r == WarmupRounds + 1) t0 = System.nanoTime()
      val s = System.nanoTime()
      // a traced run traces timed rounds 1, 4, 5, 8, ...: traced and
      // untraced rounds alternate in pairs, so what is left of the JVM's
      // warm-up trend does not leak into the tracing overhead
      val t = r - WarmupRounds
      val (execs, after) = rep(spark, w, dir, seed, r, work, trace && t >= 1 && t % 4 <= 1)
      all ++= execs
      if (execs.exists(_.traced)) afters += after
      last = (System.nanoTime() - s) / 1e9
      r += 1
    }
    val rss = peakRssMb()

    // checks
    def expected(e: Exec): Option[String] =
      opsById.get(e.op).flatMap(_.expect).orElse(gold.get((w.name, e.op)))
    val failedExecs = all.toSeq.filter(e => e.error.isDefined || e.checksum != expected(e))
    val failedOps = failedExecs.map(_.op).distinct.sorted
    val nondet = all.groupBy(_.op).collect {
      case (op, es) if es.flatMap(_.checksum).distinct.size > 1 => op
    }.toSeq.sorted
    failedExecs.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, es) =>
      val e = es.head
      System.err.println(s"[perfbench] FAILED $op (${es.size} of its executions): " +
        e.error.getOrElse(s"checksum ${e.checksum.getOrElse("none")} != " +
          s"expected ${expected(e).getOrElse("none (no golden)")}"))
    }
    nondet.foreach(op => System.err.println(s"[perfbench] NONDETERMINISTIC $op"))

    val ok = all.toSeq.filterNot(e => failedOps.contains(e.op))
    val warm = ok.filter(_.rep > WarmupRounds)
    def warmS(es: Seq[Exec]): Double = perOpMedians(es).sum / 1000
    val samples = warm.filter(!_.traced).map(_.wallMs)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    // printed and kept in the report, but not gated: too few samples or
    // too lumpy between operations to be steady from run to run
    val info = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = (setupM("setup_s"), "s")
      metrics("cold_s") = (ok.filter(_.cold).map(_.wallMs).sum / 1000, "s")
      metrics("warm_s") = (warmS(warm), "s")
      metrics("op_geomean_ms") = (geomean(perOpMedians(warm)), "ms")
      metrics("peak_rss_mb") = (rss, "MB")
      metrics("heap_held_mb") = (heldMb, "MB")
      info("op_p50_ms") = (median(samples), "ms")
      info("op_p90_ms") = (percentile(samples, 0.9), "ms")
    } else {
      layerMetrics(w, dir, ok, afters.toSeq, setupM).foreach { case (k, v) =>
        if (PerLayer.contains(k)) metrics(k) = v else info(k) = v
      }
      val tr = warmS(warm.filter(_.traced))
      val un = warmS(warm.filter(!_.traced))
      metrics("trace.warm_s") = (tr, "s")
      metrics("trace.untraced_warm_s") = (un, "s")
      metrics("trace.overhead_s") = (tr - un, "s")
    }
    (metrics ++ info).foreach { case (k, (v, u)) =>
      System.err.println(f"[perfbench] $k%-40s $v%14.4f $u")
    }
    System.err.println(s"[perfbench] ${w.name}: ${opsById.size} ops, ${r - 1 - WarmupRounds} timed warm rounds, " +
      s"${samples.size} untraced warm samples, ${failedOps.size} failed ops")

    val report = Map(
      "correct" -> failedExecs.isEmpty,
      "attempted" -> all.size,
      "failed" -> failedExecs.size,
      "failed_frac" -> failedExecs.size.toDouble / all.size,
      "failed_ops" -> failedOps,
      "nondeterministic" -> nondet,
      "warm_rounds" -> (r - 1 - WarmupRounds),
      "samples" -> samples.size,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "info" -> info.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    a.get("sidecar").foreach(p => writeSidecar(new File(p), w, seed, trace, all.toSeq, report))
    (if (failedExecs.isEmpty) 0 else 1, report)
  }

  /** Per-layer metrics: for each operation the median over its traced
    * warm executions, summed over operations. Codegen comes from the
    * traced cold pass, where compilation happens.
    */
  def layerMetrics(w: Workload, dir: String, ok: Seq[Exec],
      afters: Seq[Map[String, Double]], setupM: Map[String, Double])
      : Seq[(String, (Double, String))] = {
    val tw = ok.filter(e => e.traced && !e.cold)
    val tc = ok.filter(e => e.traced && e.cold)
    def sumMed(es: Seq[Exec], k: String): Double =
      es.groupBy(_.op).values.map(x => median(x.map(_.layers.getOrElse(k, 0.0)))).sum
    def s(k: String) = sumMed(tw, k)
    val cores = Sessions.cpus.toDouble
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, u: String): Unit = out += (k -> (v, u))
    put("queries.build_ms", s("queries.build_ms"), "ms")
    put("queries.build_jobs", s("queries.build_jobs"), "count")
    put("plans.optimize_ms", s("plans.optimize_ms"), "ms")
    put("plans.physical_ms", s("plans.physical_ms"), "ms")
    Meters.GraftRules.foreach { r =>
      put(s"plans.rule.$r.ms", s(s"plans.rule.$r.ms"), "ms")
      put(s"plans.rule.$r.effective", s(s"plans.rule.$r.effective"), "count")
    }
    val runs = s("plans.rule_runs")
    put("plans.rule_hit_ratio", if (runs > 0) s("plans.rule_effective") / runs else 0.0, "ratio")
    put("codegen.compile_ms", sumMed(tc, "codegen.compile_ms"), "ms")
    put("codegen.compiles", sumMed(tc, "codegen.compiles"), "count")
    put("exec.action_ms", s("exec.action_ms"), "ms")
    Seq("jobs", "stages", "tasks").foreach(k => put(s"exec.$k", s(s"exec.$k"), "count"))
    Seq("task_run_ms", "task_cpu_ms", "gc_ms").foreach(k => put(s"exec.$k", s(s"exec.$k"), "ms"))
    val opMs = s("op_ms")
    put("exec.core_busy_frac", if (opMs > 0) s("exec.task_run_ms") / (opMs * cores) else 0.0, "ratio")
    Seq("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
      .foreach(k => put(s"exec.$k", s(s"exec.$k"), "bytes"))
    put("exec.peak_exec_mem_bytes",
      (tw.map(_.layers.getOrElse("exec.peak_exec_mem_bytes", 0.0)) :+ 0.0).max, "bytes")
    put("exec.failed_tasks", s("exec.failed_tasks"), "count")
    put("cache.put_bytes", s("cache.put_bytes"), "bytes")
    put("cache.put_blocks", s("cache.put_blocks"), "count")
    put("cache.held_bytes_after", s("cache.held_bytes_after"), "bytes")
    put("cache.held_rdds_after", s("cache.held_rdds_after"), "count")
    put("cache_held_mb",
      (tw.map(_.layers.getOrElse("cache.held_bytes_after", 0.0)) :+ 0.0).max / (1 << 20), "MB")
    Harness.EtlSteps.foreach(st => put(s"etl.${st}_ms", s(s"etl.${st}_ms"), "ms"))
    val written = s("etl.bytes_written")
    put("etl.bytes_written", written, "bytes")
    put("etl.files_written", median(afters.map(_.getOrElse("etl.files_written", 0.0))), "count")
    put("etl.skip_read_input_bytes", s("etl.skip_read_input_bytes"), "bytes")
    val ingestMs = s("etl.delta_commit_ms") + s("etl.upsert_ms") + s("etl.dedup_ingest_ms")
    put("etl.ingest_rows_per_s",
      if (ingestMs > 0) s("etl.rows_committed") / (ingestMs / 1000) else 0.0, "1/s")
    val input = if (w == Pipeline) Pipeline.inputBytes(dir) else 0.0
    put("etl.write_amp", if (input > 0) written / input else 0.0, "ratio")
    put("etl.space_amp", if (input > 0)
      median(afters.map(_.getOrElse("etl.bytes_on_disk", 0.0))) / input else 0.0, "ratio")
    put("setup.session_ms", setupM("setup.session_ms"), "ms")
    put("setup.catalog_ms", setupM("setup.catalog_ms"), "ms")
    out.toSeq
  }

  /** One JSON line per execution, then the run's report (run-level
    * metrics: set-up, write and space amplification, files written).
    */
  def writeSidecar(f: File, w: Workload, seed: Long, trace: Boolean, all: Seq[Exec],
      report: Map[String, Any]): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    val pw = new PrintWriter(f, StandardCharsets.UTF_8.name)
    try {
      pw.println(Json(Map("workload" -> w.name, "seed" -> seed, "trace" -> trace)))
      all.foreach { e =>
        pw.println(Json(Map(
          "op" -> e.op, "rep" -> e.rep, "cold" -> e.cold, "traced" -> e.traced,
          "wall_ms" -> e.wallMs, "checksum" -> e.checksum.getOrElse(null),
          "error" -> e.error.getOrElse(null), "layers" -> e.layers,
          "spans" -> e.spans.map(s => Map("name" -> s.name, "op" -> s.op,
            "rep" -> s.rep, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
            "parent" -> s.parent)))))
      }
      pw.println(Json(Map("report" -> report)))
    } finally pw.close()
  }

  def golden(a: Args): Int = {
    val w = Workloads.byName(a("workload"))
    val (spark, _) = setup(a)
    val dir = a("data")
    val work = new File(a("work"))
    w.prepare(spark, dir, 0L)
    val derived = w.ops(spark, dir, 0L, work.getPath).filter(_.expect.isDefined).map(_.id).toSet
    val runs = (0 until 3).map(r => rep(spark, w, dir, 0L, r, work, traced = false)._1)
    var bad = 0
    val byOp = runs.flatten.groupBy(_.op)
    w.opIds.filterNot(derived).map(byOp).foreach { es =>
      val sums = es.map(e => e.checksum.getOrElse("ERROR " + e.error.getOrElse("")))
      if (sums.distinct.size == 1 && es.forall(_.error.isEmpty))
        println(s"${w.name}\t${es.head.op}\t${sums.head}")
      else { bad += 1; System.err.println(s"[perfbench] ${es.head.op}: ${sums.distinct.mkString(" | ")}") }
    }
    if (bad == 0) 0 else 1
  }
}

/** Minimal JSON writer for the report and the sidecar. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
