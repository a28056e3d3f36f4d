package graft

import org.apache.spark.sql.functions._
import graft.tools.ScaleLaw
import graft.tools.ScaleLaw.{Arm, Case, Near, Same, Within}

/** The ScaleLaw harness on synthetic range-born cases: checks that
  * bite, conf and cache left as found, a unique case table. */
class ScaleLawSpec extends SparkSpecBase {

  private def ranged(arms: Seq[Arm], checks: ScaleLaw.Check*): Case =
    Case("synthetic", (s, k) => s.range(100L * k).toDF("id"), arms, checks,
      ladder = Seq(1))

  test("arms that disagree make the harness throw") {
    val dropped = ranged(Seq(Arm("all", identity),
      Arm("some", _.filter(col("id") > 0))), Same("all", "some"))
    intercept[IllegalStateException](ScaleLaw.run(spark, dropped, 1))
    // bit-level doubles: 0.0 and -0.0 are equal numbers, not equal bits
    val zeros = ranged(Seq(Arm("pos", _.select((col("id") * 0.0).as("z"))),
      Arm("neg", _.select((col("id") * -0.0).as("z")))), Same("pos", "neg"))
    intercept[IllegalStateException](ScaleLaw.run(spark, zeros, 1))
    val superset = ranged(Seq(Arm("some", _.filter(col("id") > 0)),
      Arm("all", identity)), Within("all", "some"))
    intercept[IllegalStateException](ScaleLaw.run(spark, superset, 1))
    val far = ranged(Seq(Arm("n", _.agg(count(lit(1)).as("c"))),
      Arm("n2", _.agg((count(lit(1)) * 2).as("c")))), Near("n2", "n", 0.5))
    intercept[IllegalStateException](ScaleLaw.run(spark, far, 1))
  }

  test("agreeing arms pass and the line names every arm and check") {
    val c = ranged(Seq(Arm("all", identity),
        Arm("sorted", _.orderBy(col("id").desc)),
        Arm("some", _.filter(col("id") % 2 === 0), capped = true)),
      Same("all", "sorted"), Within("some", "all"))
    val line = ScaleLaw.run(spark, c.copy(naiveMaxK = 1), 1)
    assert(line.contains("\"out\":100") && line.contains("all = sorted") &&
      line.contains("some within all (0.5000)"), line)
    // a capped arm past naiveMaxK is skipped, and so are its checks
    val past = ScaleLaw.run(spark, c.copy(naiveMaxK = 0), 1)
    assert(!past.contains("\"some\"") && !past.contains("within"), past)
  }

  test("an arm that throws leaves excludedRules and the threshold as found") {
    val excl = "spark.sql.optimizer.excludedRules"
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prior = Seq(excl -> "graft.plans.ModeRewrite", threshold -> "12345")
    prior.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val boom = ranged(Seq(Arm("boom", _ => sys.error("boom"),
        include = Seq("graft.plans.ModeRewrite"),
        exclude = Seq("graft.plans.GlobalRankRewrite"),
        conf = (_, _) => Map(threshold -> "-1"))))
      intercept[RuntimeException](ScaleLaw.run(spark, boom, 1))
      prior.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    } finally prior.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("nothing stays persisted after a case that persists its corpus") {
    val c = ranged(Seq(Arm("a", identity), Arm("b", identity)), Same("a", "b"))
    assert(c.persist)
    ScaleLaw.run(spark, c, 2)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("case names in the table are unique") {
    val names = ScaleLaw.cases.map(_.name)
    assert(names.distinct == names)
    ScaleLaw.cases.foreach { c =>
      val arms = c.arms.map(_.name)
      assert(arms.distinct == arms, c.name)
      assert(c.checks.forall(x => arms.contains(x.a) && arms.contains(x.b)),
        c.name)
    }
  }
}
