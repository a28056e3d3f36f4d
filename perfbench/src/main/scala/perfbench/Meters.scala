package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Counters of Spark's scheduler, tasks and block manager for one
  * operation, collected by a benchmark-owned listener. Jobs carry the
  * layer that submitted them in the `perfbench.phase` local property.
  */
final class ExecListener extends SparkListener {
  private val jobs = mutable.Map.empty[String, Long]
  private val c = mutable.Map.empty[String, Double]

  def reset(): Unit = synchronized { jobs.clear(); c.clear() }

  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  /** Counter values since the last [[reset]]; call after
    * `PerfbenchBus.drain`.
    */
  def snapshot(): Map[String, Double] = synchronized {
    c.toMap ++ jobs.map { case (p, n) => s"jobs.$p" -> n.toDouble } +
      ("jobs" -> jobs.values.sum.toDouble)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Meters.PhaseKey))).getOrElse("other")
    jobs(phase) = jobs.getOrElse(phase, 0L) + 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    if (e.reason != Success) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ms", m.executorCpuTime / 1e6)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("output_records", m.outputMetrics.recordsWritten.toDouble)
      c("peak_exec_mem_bytes") = math.max(c.getOrElse("peak_exec_mem_bytes", 0.0),
        m.peakExecutionMemory.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid) {
      add("cache_put_blocks", 1)
      add("cache_put_bytes", (i.memSize + i.diskSize).toDouble)
    }
  }
}

/** Compile times that Spark's code generator logs for every class it
  * compiles (cache misses only), captured without printing them.
  */
final class CodegenMeter extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  private val Re = """Code generated in ([0-9.]+) ms""".r.unanchored
  @volatile private var ms = 0.0
  @volatile private var n = 0L

  override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
    case Re(v) => synchronized { ms += v.toDouble; n += 1 }
    case _ =>
  }

  def reset(): Unit = synchronized { ms = 0.0; n = 0 }
  def snapshot(): (Double, Long) = synchronized { (ms, n) }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    start()
    cfg.addAppender(this)
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(this, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }
}

/** Spark's optimizer-rule meter (`RuleExecutor`), read as per-rule
  * (time ns, effective time ns, runs, effective runs) deltas.
  */
object RuleMeter {
  final case class Rule(timeNs: Long, effTimeNs: Long, runs: Long, effRuns: Long)

  private val Line = """^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r

  def reset(): Unit = RuleExecutor.resetMetrics()

  def snapshot(): Map[String, Rule] =
    RuleExecutor.dumpTimeSpent().linesIterator.collect {
      case Line(name, eff, tot, effRuns, runs) =>
        name -> Rule(tot.toLong, eff.toLong, runs.toLong, effRuns.toLong)
    }.toMap
}

object Meters {
  val PhaseKey = "perfbench.phase"

  /** The graft optimizer rules, each broken out in the per-layer record. */
  val GraftRules: Seq[String] = Seq(
    "HammingJoinBlocking", "GlobalRankRewrite", "BandJoinBlocking",
    "PercentileRewrite", "ModeRewrite", "EditDistanceJoinBlocking",
    "SetSimilarityJoinBlocking", "CosineJoinBlocking")
}
