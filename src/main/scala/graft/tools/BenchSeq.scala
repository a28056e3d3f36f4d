package graft.tools

import graft.{Sessions, SparkEntry}

/** Debugging: run a subset of queries in order, timing each — used to
  * bisect cross-query JVM-state interference in Bench.
  * Usage: runMain graft.tools.BenchSeq <sfDir> <name-prefix> [<prefix>…]
  */
object BenchSeq {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val prefixes = args.drop(1)
    val spark = Sessions.local("graft-benchseq")
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    qs.foreach { case (name, fn) =>
      // min-of-2, every rep from released caches: the Bench methodology,
      // so targeted A/B numbers are comparable to the bench record. A rep
      // that THROWS records None — a failed query must never print a
      // normal-looking min that gets mistaken for a real A/B number.
      val times: Seq[Option[Double]] = (1 to 2).map { _ =>
        Sessions.releaseAll(spark)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            println(s"$name FAILED: ${e.getMessage}"); false }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      if (times.forall(_.isDefined)) {
        val ts = times.flatten
        println(f"[t] $name%-28s ${ts.min}%8.2f s  (reps ${ts.map(t => f"$t%.2f").mkString(", ")})")
      } else println(s"[t] $name  FAILED — no timing recorded")
    }
    Sessions.releaseAll(spark)
    spark.stop()
  }
}
