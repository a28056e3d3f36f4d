package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Sessions

/** k×-inflate the sf0.1 testdata into a local sf1 analog for the
  * full-gate STRESS sweep (VERDICT r9 #2: nothing has run the whole
  * query surface above sf0.1). Each copy is NAMESPACE-SHIFTED so true
  * result cardinalities grow ~k× rather than k² (the tagging discipline
  * of the ScaleLaw corpora, applied per table):
  *
  *   - every entity key shifts by copy·10⁸ CONSISTENTLY across tables
  *     (custkey in customer AND orders, orderkey/partkey/suppkey in
  *     lineitem, ...), preserving referential integrity per copy;
  *   - region/nation pass through once (shared dims — copies'
  *     customers/suppliers keep valid FKs);
  *   - events shift ts by copy·(span + 1 day): time DENSITY stays
  *     constant, so windowed/session outputs scale linearly;
  *   - documents rotate their LETTERS by a per-copy Caesar map —
  *     a bijection preserves every within-copy relation exactly
  *     (token equality, lengths, frequencies, n_chars) while cross-
  *     copy vocabularies disjoin, so dedup/near-dup pair counts grow
  *     k×, not k²;
  *   - embeddings flip a per-copy pseudo-random HALF of the
  *     coordinate signs — an isometry (all within-copy dots and
  *     cosines are bit-preserved) that sends cross-copy cosines to
  *     ≈ 0, so ANN/SRP pair structure replicates per copy instead of
  *     exploding quadratically. Copy 0 is verbatim in every table.
  *
  * Usage: sbt "runMain graft.tools.InflateSf [srcDir] [dstDir] [k]".
  */
object InflateSf {

  private val OFF = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local("graft-inflate")

    def write(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      (0 until k).map(i => f(base, i)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"inflated $name x$k")
    }
    def shift(d: DataFrame, i: Int, keys: String*): DataFrame =
      keys.foldLeft(d)((x, c) => x.withColumn(c, col(c) + lit(i * OFF)))

    Seq("region", "nation").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet")
        .write.mode("overwrite").parquet(s"$dst/$n.parquet")
      println(s"passthrough $n")
    }
    write("customer")((d, i) => shift(d, i, "c_custkey"))
    write("supplier")((d, i) => shift(d, i, "s_suppkey"))
    write("part")((d, i) => shift(d, i, "p_partkey"))
    write("orders")((d, i) => shift(d, i, "o_orderkey", "o_custkey"))
    write("lineitem")((d, i) =>
      shift(d, i, "l_orderkey", "l_partkey", "l_suppkey"))

    // the source column is TIMESTAMP_NTZ; go through an explicit UTC
    // cast for the micros arithmetic and cast back so the written
    // type matches the source exactly
    def tsMicros = unix_micros(col("ts").cast("timestamp"))
    val spanMicros = {
      val r = spark.read.parquet(s"$src/events.parquet")
        .agg(min(tsMicros), max(tsMicros)).collect().head
      (r.getLong(1) - r.getLong(0)) + 86400000000L
    }
    write("events")((d, i) =>
      shift(d, i, "event_id", "user_id")
        .withColumn("ts",
          timestamp_micros(tsMicros + lit(i * spanMicros))
            .cast("timestamp_ntz")))

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def rot(s: String, i: Int): String =
      s.drop(i % 26) + s.take(i % 26)
    write("documents")((d, i) =>
      shift(d, i, "doc_id").withColumn("text",
        if (i == 0) col("text")
        else translate(col("text"), lower + upper,
          rot(lower, i) + rot(upper, i))))

    write("embeddings")((d, i) =>
      shift(d, i, "vec_id").withColumn("embedding",
        if (i == 0) col("embedding")
        else transform(col("embedding"), (x, j) =>
          (x * (lit(1) - lit(2) * pmod(hash(j, lit(i)), lit(2))))
            .cast("float"))))

    spark.stop()
  }
}
