package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own guarantees: an order-insensitive checksum, a
  * release step that leaves nothing cached, and loud failures.
  */
class HarnessSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.Sessions.local("perfbench-spec")

  private def frame: DataFrame = {
    val s = spark
    import s.implicits._
    Seq[(Long, String, Option[Double])]((1L, "a", Some(1.5)), (2L, "b", None),
      (3L, null, Some(-0.25)), (4L, "d", Some(8.0)))
      .toDF("k", "s", "d")
      .withColumn("m", map(lit("k"), col("k")))
  }

  test("checksum does not depend on row order or partitioning") {
    val base = Checksum.of(frame)
    assert(Checksum.of(frame.orderBy(desc("k"))) === base)
    assert(Checksum.of(frame.repartition(3, col("k"))) === base)
    assert(Checksum.of(frame.coalesce(1).orderBy(rand(7))) === base)
    assert(base.startsWith("4:"))
  }

  test("checksum reads every column, nulls included") {
    val base = Checksum.of(frame)
    assert(Checksum.of(frame.withColumn("d", col("d") + 1)) !== base)
    assert(Checksum.of(frame.withColumn("m", map(lit("k"), col("k") + 1))) !== base)
    // a null moved to another column is a different row
    val a = spark.range(1).select(lit(null).cast("long").as("x"), lit(5L).as("y"))
    val b = spark.range(1).select(lit(5L).as("x"), lit(null).cast("long").as("y"))
    assert(Checksum.of(a) !== Checksum.of(b))
  }

  test("checksum runs the query's own final sort") {
    val h = Checksum.hashed(spark.range(0, 1000, 1, 4).withColumn("x", col("id") % 7).orderBy("x"))
    assert(Checksum.sum(h).startsWith("1000:"))
    val sorts = new AdaptiveSparkPlanHelper {}.collect(h.queryExecution.executedPlan) {
      case s: SortExec => s
    }
    assert(sorts.nonEmpty)
  }

  test("release leaves no persistent RDDs, local checkpoints included") {
    val sc = spark.sparkContext
    spark.range(1000).persist().count()
    // the ConnectedComponents pattern: clearCache does not see these
    spark.range(1000).withColumn("x", col("id") * 2).localCheckpoint().count()
    spark.catalog.clearCache()
    assert(sc.getPersistentRDDs.nonEmpty)
    Harness.release(spark)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(sc.getRDDStorageInfo.isEmpty)
  }

  test("a throwing operation is counted as failed and sets a nonzero exit") {
    val work = Files.createTempDirectory("perfbench-spec").toFile
    val goldens = new File(work, "goldens.tsv")
    val good = Checksum.of(spark.range(100).toDF())
    Files.writeString(goldens.toPath, s"probe\tgood\t$good\nprobe\tboom\t$good\n")
    val w = new Workload {
      val name = "probe"
      val opIds = Seq("good", "boom")
      def ops(s: SparkSession, dir: String, seed: Long, repDir: String): Seq[Op] = Seq(
        Harness.queryOp("good", _.range(100).toDF()),
        Harness.queryOp("boom", _ => throw new IllegalStateException("boom")))
    }
    val a = Main.Args(Map("seed" -> "1", "seconds" -> "0", "trace" -> "0",
      "data" -> "data/sf0.01", "goldens" -> goldens.getPath,
      "work" -> work.getPath))
    val (code, report) = Main.run(a, w)
    assert(code !== 0)
    assert(report("correct") === false)
    // every execution of `boom`: cold, warm-up and timed
    val execs = 1 + Main.WarmupRounds + 2
    assert(report("failed") === execs)
    assert(report("attempted") === 2 * execs)
    assert(report("failed_ops") === Seq("boom"))
    // the failed operation is excluded from every timing sum
    val metrics = report("metrics").asInstanceOf[collection.Map[String, Map[String, Any]]]
    assert(metrics("cold_s")("value").asInstanceOf[Double] > 0)
  }
}

/** The metric lists the harness reports are the ones BENCHMARK.json
  * declares, in both directions.
  */
class BenchmarkJsonSpec extends AnyFunSuite {
  import org.json4s._
  import org.json4s.jackson.JsonMethods.parse

  private lazy val json = parse(scala.io.Source.fromFile("../BENCHMARK.json").mkString)
  private def names(section: String): Seq[String] =
    (json \ section).children.map(m => (m \ "name").values.toString)

  test("end-to-end metrics match") {
    assert(names("end_to_end") === Main.EndToEnd)
  }

  test("per-layer metrics match") {
    assert(names("per_layer") === Main.PerLayer)
  }

  test("workloads match") {
    assert(names("workloads") === Workloads.all.map(_.name))
  }
}
