package graft.tools

/** Signature-width sizing runbook — the measured width law
  * (BASELINE.md: q63/q277 SimHash ladders, the srp-cosine 24-vs-48-bit
  * table) turned into a calculator, so the "scale `srpjoin.bits` with
  * the corpus" remedy is a one-liner instead of a scaladoc hunt.
  *
  * The law: a pigeonhole-segment plan with m segments over b-bit
  * signatures hashes each side into 2^(b∕m) buckets per segment, so the
  * verify term is candidates ≈ m · n² ∕ 2^(b∕m) — bucket-quadratic once
  * buckets saturate. Holding expected bucket rows at a target B gives
  *
  *   bits ≈ m · log₂(n ∕ B)
  *
  * (B ≈ 32–128 keeps the verify term ~linear in n at these corpus
  * shapes; the k=32 SrpJoinProbe point measured 70× from exactly this
  * dial). Raising bits at fixed m tightens the hamming ball ⇒ fewer
  * recalled pairs (901 vs 1,188 at k=16 in the r9 table) — raise m
  * together with bits to hold the angular ball, at the cost of more
  * explode rows (m per input row). SimHash near-dup width follows the
  * same budget with m = k+1 pigeonhole segments; the classic
  * ~2·log₂(n) rule of thumb is this law at B ≈ √n∕m-ish targets.
  *
  * Usage: sbt "runMain graft.tools.SigSizing <n> [m] [targetBucketRows]".
  * Prints one JSON line; no Spark session needed.
  */
object SigSizing {

  /** Recommended signature bits for corpus count n, m segments, and a
    * target per-segment bucket occupancy B — clamped to the engine's
    * supported range (bits ≤ 63, segment width ≥ 4 bits so the
    * pigeonhole keys stay meaningful). */
  def recommend(n: Long, m: Int, targetBucketRows: Int): Int = {
    require(n > 0 && m >= 2 && targetBucketRows >= 1)
    val perSeg = math.log(n.toDouble / targetBucketRows) / math.log(2.0)
    val bits = math.ceil(m * perSeg).toInt
    math.min(63, math.max(m * 4, bits))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse {
      System.err.println(
        "usage: SigSizing <corpusCount> [segments=3] [targetBucketRows=64]")
      sys.exit(2)
    }
    val m = args.lift(1).map(_.toInt).getOrElse(3)
    val b = args.lift(2).map(_.toInt).getOrElse(64)
    val bits = recommend(n, m, b)
    val bucketBits = bits.toDouble / m
    val buckets = math.pow(2.0, bucketBits)
    val bucketRows = n / buckets
    val candidates = m * n.toDouble * n.toDouble / buckets
    val simhash = math.min(128,
      math.max(16, math.ceil(2.0 * math.log(n.toDouble) / math.log(2.0))
        .toInt))
    println(
      s"""{"n":$n,"segments":$m,"target_bucket_rows":$b,""" +
        s""""srpjoin_bits":$bits,""" +
        s""""buckets_per_segment":${f"$buckets%.0f"},""" +
        s""""expected_bucket_rows":${f"$bucketRows%.1f"},""" +
        s""""candidate_budget":${f"$candidates%.3e"},""" +
        s""""simhash_bits":$simhash,""" +
        s""""conf":"spark.graft.srpjoin.bits=$bits,""" +
        s"""spark.graft.srpjoin.segments=$m"}""")
  }
}
