package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: print ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Times every `SparkEntry.queries` entry end-to-end (plan + execute +
  * count) on `SPARK_GRAFT_SF_DIR`. Uses [[Sessions.local]] so the session
  * invariants (UTC, nanosAsLong, shuffle partitions = cores, AQE) match
  * Verify — a query that only works under Verify's session would otherwise
  * silently time as a failure here.
  *
  * A query that throws is left out of `value` and `queries`, is named on
  * stderr, and makes the process exit nonzero after the JSON line: a
  * failure must never read as a fast query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")
    // Warm the JVM + parquet footers once so per-query numbers measure the
    // query, not first-touch class loading.
    graft.catalog.Tables.all.foreach { n =>
      try graft.catalog.Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }
    // min of two timed executions per query: steady-state timing. The
    // host's wall-clock swings 2-4x under noisy neighbors (BASELINE.md
    // bench log); the min of two runs discards stalls the code didn't
    // cause while still including plan+execute end-to-end. Every rep
    // starts from released caches (Sessions.releaseAll), so rep 2 builds
    // and computes its own intermediates instead of timing rep 1's.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to 2).map { _ =>
        Sessions.releaseAll(spark)
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            System.err.println(
              s"[bench] $name failed: ${String.valueOf(e.getMessage).take(200)}")
            None
        }
      }
      name -> (if (times.forall(_.isDefined)) Some(times.flatten.min) else None)
    }
    Sessions.releaseAll(spark)
    val timed = results.collect { case (name, Some(t)) => name -> t }
    val failed = results.collect { case (name, None) => name }
    // per-query seconds rounded to ms in the PRINTED json only (the
    // timing methodology is unchanged): round 10's full-precision line
    // outgrew the driver's tail capture and never parsed — ~halving the
    // line is cheap insurance. Contract fields are identical.
    def ms(v: Double): String = "%.3f".format(v)
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    println(
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
