package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import graft.catalog.Tables

/** Independent validation of [[graft.queries.SketchPack]]: each sketch's
  * defining guarantee is recomputed JVM-side (plain MessageDigest + Scala
  * collections) so the cross-engine md5 sketch contents are checked
  * against a third implementation, and the structural laws (CMS never
  * underestimates, Bloom never false-negatives, KMV merges exactly) are
  * asserted rather than eyeballed.
  */
class SketchSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def jvmHash32(salt: String, id: Long): Long =
    java.lang.Long.parseLong(md5hex(s"$salt|$id").take(8), 16)

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q209 KMV: kth hash and estimate match a JVM recompute per type") {
    val byType = Tables.load(spark, sf, "events")
      .select("event_type", "user_id").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
    val rows = run("q209_kmv_distinct").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getString(0)
      val hashes = byType(t).map(p => jvmHash32("kmv", p._2)).distinct.sorted
      assert(r.getLong(1) === byType(t).map(_._2).distinct.size.toLong,
        s"exact count for $t")
      assert(r.getLong(2) === hashes.size.toLong, s"n_hashes for $t")
      if (hashes.size >= 64) {
        val kth = hashes(63)
        assert(r.getLong(3) === kth, s"kth for $t")
        assert(r.getDouble(4) === 63L * 4294967296.0 / kth, s"est for $t")
      } else assert(r.isNullAt(3), s"kth must be null for small $t")
    }
  }

  test("q210 CMS: estimates never underestimate and equal a JVM sketch") {
    val counts = Tables.load(spark, sf, "lineitem")
      .groupBy("l_partkey").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full JVM count-min sketch over every key
    val counters = Array.fill(3, 512)(0L)
    counts.foreach { case (k, c) =>
      (0 until 3).foreach { d =>
        counters(d)((jvmHash32(s"cms$d", k) % 512).toInt) += c
      }
    }
    val rows = run("q210_cms_heavy").collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (k, t, est) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(t === counts(k))
      val jvmEst = (0 until 3)
        .map(d => counters(d)((jvmHash32(s"cms$d", k) % 512).toInt)).min
      assert(est === jvmEst, s"key $k")
      assert(est >= t, s"CMS underestimated key $k: $est < $t")
      assert(r.getLong(3) === est - t)
    }
  }

  test("q211 Bloom: zero false negatives and fp accounting is consistent") {
    val r = run("q211_bloom_audit").collect().head
    val (nProbes, nMembers, nBloomPos, nFalsePos, nBitsSet) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nMembers > 0 && nMembers < nProbes, "fixture needs both classes")
    // every member is bloom-positive: positives = members + false positives
    assert(nBloomPos === nMembers + nFalsePos, "false negative detected")
    assert(nBitsSet > 0 && nBitsSet <= 3 * nMembers)
    assert(r.getDouble(5) === nBitsSet.toDouble / 8192)
  }

  test("q212 HLL: registers match a JVM recompute; estimate is in band") {
    val custs = Tables.load(spark, sf, "orders")
      .select("o_custkey").distinct().collect().map(_.getLong(0))
    val regs = Array.fill(64)(0L)
    custs.map(c => jvmHash32("hll", c)).distinct.foreach { h =>
      val idx = (h % 64).toInt
      val w = h / 64
      val rho = if (w == 0) 27L
      else java.lang.Long.bitCount((w & -w) - 1) + 1L
      if (rho > regs(idx)) regs(idx) = rho
    }
    val sumScaled = regs.map(r => 1L << (27 - r).toInt).sum
    val r = run("q212_hll_registers").collect().head
    assert(r.getLong(1) === regs.count(_ == 0L).toLong)
    assert(r.getLong(2) === sumScaled)
    assert(r.getLong(3) === custs.length.toLong)
    val est = r.getDouble(4)
    // m=64 raw HLL standard error ≈ 1.04/√64 = 13%; 50% is a loose band
    assert(math.abs(est - custs.length) / custs.length < 0.5,
      s"HLL estimate $est vs exact ${custs.length}")
  }

  test("q219 sliding KMV: merged window sketch equals the window's own " +
    "direct sketch (union law), and small windows are exact") {
    val pairs = Tables.load(spark, sf, "orders")
      .select(to_date(col("o_orderdate")).as("d"), col("o_custkey"))
      .distinct().collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val rows = run("q219_sliding_kmv").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val day = r.getDate(0).toLocalDate
      val win = pairs.filter { case (d, _) =>
        !d.isAfter(day) && d.isAfter(day.minusDays(30))
      }
      val exact = win.map(_._2).distinct.size.toLong
      assert(r.getLong(1) === exact, s"exact count at $day")
      val hashes = win.map(p => jvmHash32("kmv", p._2)).distinct.sorted
      if (hashes.size >= 64) {
        // union law: merged kth == the window's direct kth
        assert(r.getLong(3) === hashes(63), s"merged kth at $day")
        assert(r.getDouble(4) === 63L * 4294967296.0 / hashes(63))
      } else {
        // small window: the merged sketch IS the membership — est exact
        assert(r.getLong(2) === hashes.size.toLong)
        assert(r.getDouble(4) === hashes.size.toDouble, s"small-window $day")
      }
    }
  }

  test("q213 theta: per-type sketch union merges to the exact global kth") {
    val r = run("q213_theta_union").collect().head
    assert(r.getBoolean(5), "KMV union-merge law violated")
    assert(r.getLong(0) > 0)
    // merged estimate equals the direct estimate by construction
    assert(r.getLong(4) === r.getLong(2))
  }

  test("q284 per-column HLL profile: every estimate lands in its regime's band") {
    // m = 64 registers → HLL standard error 1.04/√64 ≈ 13%: ~2.7σ band
    // everywhere (the transition zone ndv ≈ 2.5m is the worst case —
    // linear counting's variance peaks there; ScaleLaw `ndv-sketch` measures
    // the law across 10³–4·10⁶). Deep linear-counting (ndv ≤ m, the
    // low-cardinality enum columns) is far tighter.
    val rows = run("q284_profile_hll_ndv").collect()
    assert(rows.length == 6, "one row per profiled column")
    rows.foreach { r =>
      val (column, ndv, relErr) =
        (r.getString(0), r.getLong(1), r.getDouble(4))
      assert(ndv > 0)
      val band = if (ndv <= 64) 0.15 else 0.35
      assert(math.abs(relErr) <= band,
        s"$column estimate out of band (ndv=$ndv): $relErr")
    }
  }
}
