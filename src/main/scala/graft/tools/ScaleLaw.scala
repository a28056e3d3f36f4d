package graft.tools

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Sessions
import graft.catalog.Tables
import graft.functions.{ConnectedComponents, DistRank, MinHashLsh, Salting,
  Vectors}
import graft.queries.{DedupPack, ResolutionPack, TextOps, TrainingPipelinePack}

/** The scale laws of BASELINE.md: one harness, one case per law.
  *
  * A case builds a corpus at size multiplier k and answers one query
  * through several arms: the naive text with a graft rule included or
  * excluded (through [[RuleToggle]]), a conf variant, or an older
  * hand-written shape. Each arm is timed on an action that reads every
  * output column; the case's checks then compare the arms' outputs as
  * bags. The harness sets and restores each arm's conf, releases every
  * cached thing after each k ([[Sessions.releaseAll]]) and prints one
  * JSON line per (case, k).
  *
  * Usage: sbt "runMain graft.tools.ScaleLaw <case|all> [ks]"
  *
  * `ks` (comma-separated multipliers) replaces each case's ladder; a
  * `capped` arm (the naive, super-linear one) runs only while
  * k ≤ the case's `naiveMaxK`. Cases over testdata read the
  * scale-factor dirs next to the one `SPARK_GRAFT_SF_DIR` names; cores
  * come from `SPARK_GRAFT_CPUS`. Exits nonzero when a case fails.
  */
object ScaleLaw {
  type Query = DataFrame => DataFrame

  /** One way of answering a case's query. `conf` may read the corpus
    * and k (a user's stats job); `plan` lists strings the executed plan
    * must hold ("!x": must not hold x). */
  final case class Arm(name: String, query: Query,
      include: Seq[String] = Nil, exclude: Seq[String] = Nil,
      conf: (DataFrame, Int) => Map[String, String] = (_, _) => Map.empty,
      plan: Seq[String] = Nil, capped: Boolean = false)

  /** A relation between two arms' outputs, checked when both ran. */
  sealed trait Check { def a: String; def b: String }
  /** Equal bags of rows, doubles compared bit for bit. */
  final case class Same(a: String, b: String) extends Check
  /** a's bag is inside b's (an approximate contract, or a planted
    * truth); the line reports |a| / |b|. */
  final case class Within(a: String, b: String) extends Check
  /** One-row numeric outputs, each column within `relErr` of b's. */
  final case class Near(a: String, b: String, relErr: Double) extends Check

  /** A law: its corpus at multiplier k, its arms and checks, its default
    * ladder. `persist` is per case: key-gated window rules stand down
    * on a cached input (expandOnce cannot see through the cache). */
  final case class Case(name: String,
      corpus: (SparkSession, Int) => DataFrame,
      arms: Seq[Arm], checks: Seq[Check], ladder: Seq[Int],
      naiveMaxK: Int = Int.MaxValue, persist: Boolean = true)

  private final case class Ran(secs: Double, rows: Long,
      bag: Option[RDD[(String, Long)]], head: Option[Row])

  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 2,
      "usage: ScaleLaw <case|all> [ks]")
    val picked = if (args(0) == "all") cases else cases.filter(_.name == args(0))
    require(picked.nonEmpty,
      s"unknown case ${args(0)}; cases: ${cases.map(_.name).mkString(", ")}")
    val ks = args.lift(1).map(_.split(",").map(_.trim.toInt).toSeq)
    val spark = Sessions.local("graft-scale-law")
    val failed = for {
      c <- picked
      k <- ks.getOrElse(c.ladder)
      msg <- try { println(run(spark, c, k)); None }
        catch { case e: Exception =>
          val msg = s"${c.name} k=$k: ${e.getMessage}"
          System.err.println(s"[scale-law] FAILED $msg")
          Some(msg)
        }
    } yield msg
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[scale-law] ${failed.size} failed: " +
        failed.map(_.takeWhile(_ != ':')).mkString(", "))
      sys.exit(1)
    }
  }

  /** Run case `c` at multiplier `k` and return its JSON line. Throws
    * when a plan marker or a check fails; either way the session's conf
    * is as before and nothing it cached is left. */
  def run(spark: SparkSession, c: Case, k: Int): String = try {
    val corpus = c.corpus(spark, k)
    if (c.persist) corpus.persist(StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    val ran = c.arms.filter(a => !a.capped || k <= c.naiveMaxK).map { a =>
      a.name -> RuleToggle.withRules(spark, a.include, a.exclude) {
        RuleToggle.withConf(spark, a.conf(corpus, k))(runArm(c, a, corpus, k))
      }
    }
    val byName = ran.toMap
    val verdicts = c.checks
      .filter(x => byName.contains(x.a) && byName.contains(x.b))
      .map(verdict(c, k, byName))
    val arms = ran.map { case (name, r) =>
      f""""$name":{"s":${r.secs}%.2f,"out":${r.rows}}""" }
    s"""{"case":"${c.name}","k":$k,"rows":$n,""" +
      arms.mkString(""""arms":{""", ",", "},") +
      verdicts.map("\"" + _ + "\"").mkString(""""checks":[""", ",", "]}")
  } finally Sessions.releaseAll(spark)

  private def runArm(c: Case, a: Arm, corpus: DataFrame, k: Int): Ran = {
    val t0 = System.nanoTime()
    val df = a.query(corpus)
    // count plus an xor of a hash over every column: nothing is pruned
    val rows = df.select(xxhash64(df.columns.map(df.col): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head().getLong(0)
    val secs = (System.nanoTime() - t0) / 1e9
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    a.plan.foreach { m =>
      val absent = m.startsWith("!")
      val marker = m.stripPrefix("!")
      require(plan.contains(marker.toLowerCase) != absent,
        s"${c.name} k=$k: arm ${a.name}'s plan " +
          s"${if (absent) "holds" else "lacks"} $marker")
    }
    def checked(p: Check => Boolean) =
      c.checks.exists(x => p(x) && (x.a == a.name || x.b == a.name))
    Ran(secs, rows,
      if (checked(!_.isInstanceOf[Near])) Some(bagOf(df)) else None,
      if (checked(_.isInstanceOf[Near])) Some(df.head()) else None)
  }

  /** `df` as a bag of rows, planned now so the arm's conf applies. JSON
    * text is exact for doubles (round-trip digits, -0.0 kept) and
    * escapes strings, so equal keys mean bit-equal rows; columns are
    * keyed by name, in name order. */
  private def bagOf(df: DataFrame): RDD[(String, Long)] =
    df.select(to_json(struct(df.columns.sorted.map(df.col): _*))).rdd
      .map(r => (r.getString(0), 1L)).reduceByKey(_ + _)

  private def verdict(c: Case, k: Int, ran: Map[String, Ran])(x: Check)
      : String = {
    val (a, b) = (ran(x.a), ran(x.b))
    def fail(why: String, eg: Seq[Any]): Nothing =
      throw new IllegalStateException(
        s"${c.name} k=$k: $why; e.g. ${eg.mkString("; ")}")
    x match {
      case Same(_, _) =>
        val diff = a.bag.get.fullOuterJoin(b.bag.get)
          .filter { case (_, (m, n)) => m != n }.take(3)
        if (diff.nonEmpty) fail(s"${x.a} != ${x.b}", diff)
        s"${x.a} = ${x.b}"
      case Within(_, _) =>
        val extra = a.bag.get.leftOuterJoin(b.bag.get)
          .filter { case (_, (m, n)) => n.forall(_ < m) }.take(3)
        if (extra.nonEmpty) fail(s"${x.a} not within ${x.b}", extra)
        f"${x.a} within ${x.b} (${a.rows.toDouble / b.rows}%.4f)"
      case Near(_, _, tol) =>
        val errs = a.head.get.toSeq.zip(b.head.get.toSeq).map {
          case (u: Number, v: Number) =>
            (u.doubleValue - v.doubleValue) / v.doubleValue
          case (u, v) => fail(s"${x.a} ~ ${x.b} needs numbers", Seq(u, v))
        }
        val shown = errs.map(e => f"$e%.4f").mkString(",")
        if (!errs.forall(e => math.abs(e) <= tol))
          fail(s"${x.a} off ${x.b} beyond $tol", Seq(shown))
        s"${x.a} ~ ${x.b} (rel err $shown)"
    }
  }

  // ---- arms shared by many cases ------------------------------------------

  private val NoBroadcast = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")
  private type Conf = (DataFrame, Int) => Map[String, String]
  private def fixed(kv: Map[String, String]): Conf = (_, _) => kv
  private def rule(name: String): String = s"graft.plans.$name"
  private val Hamming = rule("HammingJoinBlocking")
  private val Rank = rule("GlobalRankRewrite")
  private val Band = rule("BandJoinBlocking")
  private val Pct = rule("PercentileRewrite")
  private val SetSim = rule("SetSimilarityJoinBlocking")
  private val RuleIsNaive = Seq(Same("rule", "naive"))

  private def negated(markers: Seq[String]): Seq[String] =
    markers.filterNot(_.startsWith("!")).map("!" + _)

  /** The naive text with `rules` forced (included, broadcast off so
    * their size gate passes at probe scale) against `rules` excluded. */
  private def forced(q: Query, rules: Seq[String], markers: String*)
      : Seq[Arm] = Seq(
    Arm("rule", q, include = rules, conf = fixed(NoBroadcast), plan = markers),
    Arm("naive", q, exclude = rules, plan = negated(markers), capped = true))

  /** The naive text with `rules` included at the session's conf against
    * `rules` excluded. */
  private def toggled(q: Query, rules: Seq[String], markers: String*)
      : Seq[Arm] = Seq(
    Arm("rule", q, include = rules, plan = markers),
    Arm("naive", q, exclude = rules, plan = negated(markers), capped = true))

  // ---- corpora --------------------------------------------------------------

  private def ranged(baseN: Long)(cols: Column*)
      : (SparkSession, Int) => DataFrame =
    (s, k) => s.range(baseN * k).select(cols: _*)

  private def copies(k: Int)(copy: Int => DataFrame): DataFrame =
    (0 until k).map(copy).reduce(_ union _)

  /** Table `name` at scale factor `sf` ("sf0.1"), in the testdata dir
    * next to the one SPARK_GRAFT_SF_DIR names. */
  private def table(s: SparkSession, sf: String, name: String): DataFrame = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a testdata scale-factor dir"))
    Tables.load(s, java.nio.file.Paths.get(dir).resolveSibling(sf).toString,
      name)
  }

  /** sf0.1 documents as (doc_id, ts token set); copy i prefixes every
    * token with `c{i}_`, a bijection that keeps each copy's near-dup
    * structure and shares no token across copies. */
  private def tokenDocs(s: SparkSession, k: Int): DataFrame = {
    val base = table(s, "sf0.1", "documents")
      .select(col("doc_id"), array_distinct(TextOps.toks(col("text"))).as("ts"))
    copies(k)(i => if (i == 0) base else base.select(
      (col("doc_id") + i * 10000000L).as("doc_id"),
      transform(col("ts"), t => concat(lit(s"c${i}_"), t)).as("ts")))
  }

  /** Copies shifted past each other's reach on the (sd, ed) axis, so
    * pairs across copies never overlap and true pairs grow exactly k×. */
  private def shifted(base: DataFrame, k: Int, pad: Long): DataFrame = {
    val Row(lo: Long, hi: Long) = base.agg(min("sd"), max("ed")).head()
    val span = hi - lo + pad
    copies(k)(i => base.withColumn("id", col("id") + i * 100000000L)
      .withColumn("sd", col("sd") + i * span)
      .withColumn("ed", col("ed") + i * span))
  }

  private def epochDay(c: String): Column =
    datediff(col(c), lit("1970-01-01")).cast("long")

  // ---- hamming pairs (q63 SimHash, q260 SRP) --------------------------------

  /** Pairs id < id2 whose `sig` differ in at most 2 bits, all pairs
    * within the blocking `keys` compared. */
  private def allPairs(sig: String, keys: String*): Query = c =>
    hammingPairs(c.select((Seq(col("id"), col(sig).as("sig")) ++
      keys.map(col)): _*), keys)

  /** The same pairs through a pigeonhole equi-join on 3 disjoint
    * (offset, width) segments of `sig`: a pair within 2 bits agrees on
    * at least one. */
  private def segmentPairs(sig: String, cover: Seq[(Int, Int)],
      keys: String*): Query = c => {
    val segs = explode(array(cover.zipWithIndex.map { case ((off, w), i) =>
      struct(lit(i).as("i"),
        shiftright(col(sig), off).bitwiseAND(lit((1L << w) - 1)).as("v"))
    }: _*))
    val d = c.select((Seq(col("id"), col(sig).as("sig"), segs.as("seg")) ++
        keys.map(col)): _*)
      .select((Seq(col("id"), col("sig"), col("seg.i").as("i"),
        col("seg.v").as("v")) ++ keys.map(col)): _*)
    hammingPairs(d, "i" +: "v" +: keys).distinct()
  }

  private def hammingPairs(d: DataFrame, keys: Seq[String]): DataFrame =
    d.alias("x").join(d.alias("y"), keys.foldLeft(col("x.id") < col("y.id"))(
        (p, k) => p && col(s"x.$k") === col(s"y.$k")))
      .select(col("x.id").as("id"), col("y.id").as("id2"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("h"))
      .filter(col("h") <= 2)

  /** SimHash of an md5-hex token array `m`: bit j votes on hex digit j. */
  private def simhash(m: Column, bits: Int): Column = {
    val odd = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    (0 until bits).map { j =>
      val vote = aggregate(m, lit(0L), (acc, h) =>
        acc + when(substring(h, j + 1, 1).isin(odd: _*), 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** q62's MinHash LSH pipeline over the documents unioned with a
    * doubled copy, cut at `stage`: candidates, verified or components. */
  private def lsh(stage: String): Query = docs => {
    val d = docs.select("doc_id", "text")
    val sig = MinHashLsh.signatures(d.union(
      d.select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))))
    val banded = sig.select(col("doc_id"), explode(col("bands")).as("band"))
    val pairs = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("doc_id2"))
      .distinct()
    val sets = sig.select(col("doc_id"), col("sh"))
    lazy val verified = pairs.join(sets, "doc_id")
      .join(sets.select(col("doc_id").as("doc_id2"), col("sh").as("sh2")),
        "doc_id2")
      .filter(MinHashLsh.jaccard(col("sh"), col("sh2")) >= 0.9)
      .select("doc_id", "doc_id2")
    stage match {
      case "candidates" => pairs
      case "verified" => verified
      case _ => ConnectedComponents.run(verified)
    }
  }

  private def dedupDocs(s: SparkSession, k: Int): DataFrame = {
    val base = table(s, "sf0.1", "documents").select("doc_id", "text", "lang")
    copies(k)(i => if (i == 0) base else base.select(
      (col("doc_id") + i * 10000000L).as("doc_id"),
      concat_ws(" ", transform(split(col("text"), " "),
        t => concat(lit(s"c${i}_"), t))).as("text"),
      col("lang")))
  }

  /** sf0.1 embeddings k× by cyclic dimension rotation (orthogonal: each
    * copy keeps the base cosines), q260's planted twins, as 16- and
    * 32-bit SRP signatures over quantized vectors. */
  private def srpSigs(s: SparkSession, k: Int): DataFrame = {
    val base = embeddings(s, "sf0.1")
    val rotated = copies(k)(i => if (i == 0) base else base.select(
      (col("vec_id") + i * 10000000L).as("vec_id"),
      concat(slice(col("v"), i + 1, Dims - i), slice(col("v"), 1, i)).as("v")))
    val quant = twinned(rotated, col("vec_id") % 25 === 0)
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .withColumn("qv", transform(col("v"),
        x => floor(x / col("scale") + 0.5).cast("int")))
    val md = java.security.MessageDigest.getInstance("MD5")
    def sig(bits: Int) = (0 until bits).map { p =>
      val w = (0 until Dims).map { d =>
        val hex = md.digest(s"srp|$p|$d".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.take(8)
        lit(if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1)
      }
      val dot = aggregate(zip_with(col("qv"), array(w: _*), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    quant.select(col("vec_id").as("id"), sig(16).as("s16"), sig(32).as("s32"))
  }

  // ---- embeddings joins (CosineJoinBlocking) -------------------------------

  private val Dims = 64

  private def embeddings(s: SparkSession, sf: String): DataFrame =
    table(s, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** `raw` plus a cos≈0.999 twin of each `twin` row (+0.1 on dim 0). */
  private def twinned(raw: DataFrame, twin: Column): DataFrame =
    raw.unionAll(raw.filter(twin).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      concat(array(col("v")(0) + lit(0.1)), slice(col("v"), 2, Dims - 1))
        .as("v")))

  /** k copies under per-(copy, dim) ±1 masks: norms and within-copy
    * angles exact, cross-copy angles near orthogonal. */
  private def masked(base: DataFrame, k: Int): DataFrame =
    copies(k)(i => base.select((col("vec_id") + i * 10000000L).as("id"),
      zip_with(col("v"), transform(sequence(lit(0), lit(Dims - 1)),
        d => pmod(hash(lit(i), d), lit(2)) * 2 - 1),
        (x, sg) => x * sg.cast("double")).as("v")))

  private def dotJoin(pred: (Column, Column) => Column): Query = d =>
    d.join(d.select(col("id").as("id2"), col("v").as("v2")),
      pred(col("v"), col("v2")) && col("id") < col("id2"))
      .select("id", "id2")

  private def srp(segments: Int, bits: Int): Map[String, String] = Map(
    "spark.graft.srpjoin.segments" -> segments.toString,
    "spark.graft.srpjoin.bits" -> bits.toString)

  /** SRP at `segments` with the norm band at the corpus max norm, the
    * stats job a user would run. */
  private def banded(segments: Int): Conf =
    (d, _) => srp(segments, 24) + ("spark.graft.srpjoin.maxNorm" ->
      (d.agg(max(sqrt(Vectors.dot(col("v"), col("v"))))).head().getDouble(0)
        + 1e-9).toString)

  // ---- set joins (SetSimilarityJoinBlocking) -------------------------------

  private val Covers =
    size(array_except(col("aparts"), col("parts"))) === 0 &&
      col("aid") =!= col("id")

  /** (aid, aparts) probes: the q350 slice of `o`. */
  private def probes(o: DataFrame): DataFrame =
    o.filter(col("id") % 20 === 0 && size(col("parts")) <= 3)
      .select(col("id").as("aid"), col("parts").as("aparts"))

  private val containInner: Query = o =>
    probes(o).join(o, Covers).select("aid", "id")
  private val containSemi: Query = o =>
    o.join(probes(o), Covers, "left_semi").select("id")
  private val containAnti: Query = o =>
    o.join(probes(o), Covers, "left_anti").select("id")

  /** Per copy: 10k superset rows {"aa", r1, r2, r3} and 1k probe rows
    * {"aa", r} over a per-copy rare vocabulary of 5000 tokens; "aa" is
    * the value-order minimum of every set. */
  private def hotTokenSets(s: SparkSession, k: Int): DataFrame = {
    def rare(cp: Int, seed: Column) = concat(lit(s"c${cp}_t"),
      lpad(pmod(hash(seed), lit(5000)).cast("string"), 6, "0"))
    def sets(n: Long, side: String, cp: Int)(toks: Column => Seq[Column]) =
      s.range(n).select((col("id") + cp * 100000000L).as("id"),
        array_distinct(split(concat_ws(" ", lit("aa") +: toks(col("id")): _*),
          " ")).as("parts"), lit(side).as("side"))
    copies(k)(cp => sets(10000, "o", cp)(i =>
        (1 to 3).map(j => rare(cp, i * 3 + j))) union
      sets(1000, "a", cp)(i => Seq(rare(cp, i * 7 + 5))))
  }

  private val hotInner: Query = c => c.filter(col("side") === "a")
    .select(col("id").as("aid"), col("parts").as("aparts"))
    .join(c.filter(col("side") === "o").select("id", "parts"), Covers)
    .select("aid", "id")

  /** The `limit` most frequent tokens, as the stopTokens conf list. */
  private def stopTokens(d: DataFrame, limit: Int): String =
    d.select(explode(col("tk")).as("t")).groupBy("t").count()
      .orderBy(col("count").desc, col("t")).limit(limit).collect()
      .map(_.getString(0)).filterNot(_.contains(",")).mkString(",")

  // ---- q251 entity-resolution blocking --------------------------------------

  private val ErOffset = 5000000L

  /** Verified pairs of rare-gram blocking with grams of length
    * `len(registry)`; verification fixed at q251's 3-gram contract. */
  private def erBlocked(len: DataFrame => Int): Query = dirty => {
    def grams(l: Int) = ResolutionPack.charGramsL(col("nm"), lit(l))
    val recs = dirty.select(col("rec_id"), col("nation"), col("segment"),
      grams(3).as("vgrams"))
    val gr = dirty.select(col("rec_id"), explode(grams(len(dirty))).as("g"))
    val rare = gr.join(gr.groupBy("g").agg(count(lit(1)).as("df")), Seq("g"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("rec_id").orderBy(col("df"), col("g"))))
      .filter(col("rk") <= 2)
      .select(col("rec_id"), col("g"))
    rare.join(rare.select(col("rec_id").as("rec_id2"), col("g")), Seq("g"))
      .filter(col("rec_id") < col("rec_id2"))
      .select("rec_id", "rec_id2").distinct()
      .join(recs, Seq("rec_id"))
      .join(recs.select(col("rec_id").as("rec_id2"),
        col("vgrams").as("vgrams2"), col("nation").as("nation2"),
        col("segment").as("segment2")), Seq("rec_id2"))
      .filter(col("nation") === col("nation2") &&
        col("segment") === col("segment2") &&
        size(array_intersect(col("vgrams"), col("vgrams2"))).cast("double") /
          size(array_union(col("vgrams"), col("vgrams2"))) >= 0.9)
      .select("rec_id", "rec_id2")
  }

  /** sf0.1 customers k× (copy i rotates the name digits by i), plus a
    * suffix-typo variant at rec_id + ErOffset for an md5-chosen quarter. */
  private def erRegistry(s: SparkSession, k: Int): DataFrame = {
    val base = table(s, "sf0.1", "customer")
      .select(col("c_custkey").as("rec_id"), col("c_name").as("raw_name"),
        col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"))
    val reg = copies(k) { i =>
      val rot = "0123456789".map(c => ('0' + (c - '0' + i) % 10).toChar)
      base.select((col("rec_id") + i * 10000000L).as("rec_id"),
        translate(col("raw_name"), "0123456789", rot).as("raw_name"),
        col("nation"), col("segment"))
    }
    reg.unionByName(reg
        .filter(TrainingPipelinePack.md5Hash32(col("rec_id"), "erdup") % 4 === 0)
        .select((col("rec_id") + ErOffset).as("rec_id"),
          upper(concat(col("raw_name"), lit("x"))).as("raw_name"),
          col("nation"), col("segment")))
      .withColumn("nm", lower(col("raw_name")))
  }

  // ---- q284 HLL distinct-count sketch ---------------------------------------

  /** The q284 estimator over 64 md5 registers: exact integer
    * Σ2^(27−reg), linear counting below 2.5m. */
  private val hll: Query = keys => {
    val m = 64L
    val h = TrainingPipelinePack.md5Hash32(col("v"), "hllp")
    val regs = keys.select(h.as("h")).distinct()
      .select((col("h") % m).as("idx"),
        call_function("div", col("h"), lit(m)).as("w"))
      .select(col("idx"), when(col("w") === 0, lit(27L))
        .otherwise(call_function("bit_count",
          col("w").bitwiseAND(lit(0L) - col("w")) - 1).cast("long") + 1)
        .as("rho"))
      .groupBy("idx").agg(max("rho").as("reg"))
      .agg((sum(expr("shiftleft(1L, cast(27 - reg as int))")) +
          (lit(m) - count(lit(1))) * lit(134217728L)).as("s"),
        (lit(m) - count(lit(1))).as("v0"))
    val raw = lit(0.709 * 4096.0 * 134217728.0) / col("s").cast("double")
    regs.select(when(raw <= 160.0 && col("v0") > 0,
      lit(64.0) * log(lit(64.0) / col("v0"))).otherwise(raw).as("ndv"))
  }

  // ---- queries shared by the case table ------------------------------------

  private val AsofTolUs = 604800000000L // 7 days

  /** Each purchase's latest view within the tolerance, per user: the
    * naive user equi-join, or the hand-bucketed (user, 7-day bucket)
    * 2-probe join. */
  private def asof(bucketed: Boolean): Query = e => {
    val p = e.filter(col("event_type") === "purchase")
      .select(col("id").as("p_event"), col("user_id"), col("sd").as("ts_p"))
    val v = e.filter(col("event_type") === "view")
      .select(col("id").as("v_event"), col("user_id"), col("sd").as("ts_v"))
    def bkt(c: String) = expr(s"$c div ${AsofTolUs}L")
    val joined = if (!bucketed) p.join(v, Seq("user_id"))
      else p.select(col("p_event"), col("user_id"), col("ts_p"),
          explode(array(bkt("ts_p"), bkt("ts_p") - 1)).as("bkt"))
        .join(v.withColumn("bkt", bkt("ts_v")), Seq("user_id", "bkt"))
    joined.filter(col("ts_v") <= col("ts_p") &&
        col("ts_v") >= col("ts_p") - AsofTolUs)
      .groupBy("p_event")
      .agg(max(struct(col("ts_v"), col("v_event"))).as("m"))
      .select(col("p_event"), col("m.v_event").as("v_event"))
  }

  /** Ordered pairs of overlapping [sd, ed] intervals, per `keys`. */
  private def overlaps(keys: String*): Query = iv => {
    val b = iv.select(iv.columns.map(c => col(c).as(c + "2")): _*)
    iv.join(b, (keys.map(k => col(k) === col(k + "2")) :+
        (col("sd") <= col("ed2") && col("sd2") <= col("ed"))).reduce(_ && _))
      .select("id", "id2")
  }

  private val cosine: Query = dotJoin((a, b) => Vectors.dot(a, b) /
    (sqrt(Vectors.dot(a, a)) * sqrt(Vectors.dot(b, b))) >= lit(0.95))
  private val rawDot: Query = dotJoin((a, b) => Vectors.dot(a, b) >= lit(2.0))

  private val ntile8: Query =
    _.withColumn("t", ntile(8).over(Window.orderBy(col("v"), col("id"))))
  private val ntile8Dist: Query =
    DistRank.withNtile(_, "t", 8, col("v"), col("id"))

  private def skewConf(split: Boolean): Map[String, String] = NoBroadcast ++ Map(
    "spark.sql.adaptive.skewJoin.enabled" -> split.toString,
    // make the skew visible to AQE at this scale
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4MB")

  private def skewJoin(salted: Boolean): Query = big => {
    val dim = big.sparkSession.range(5001)
      .select(col("id").as("k"), (col("id") * 7).as("v"))
    (if (salted) Salting.saltedEquiJoin(big, dim, "k", 16)
     else big.join(dim, "k")).select("payload", "v")
  }

  // ---- the case table -------------------------------------------------------

  val cases: Seq[Case] = Seq(
    // BandJoinBlocking: q261/q264 as-of join, per-user history
    // time-extended k× (copies never meet within the 7-day tolerance)
    Case("asof-band", (s, k) => {
        val base = table(s, "sf0.1", "events")
          .select(col("event_id").as("id"), col("user_id"), col("event_type"),
            expr("ts div 1000").as("sd"))
          .filter(col("event_type").isin("view", "purchase"))
        shifted(base.withColumn("ed", col("sd")), k, 2 * AsofTolUs)
      },
      Arm("bucketed", asof(bucketed = true)) +:
        forced(asof(bucketed = false), Seq(Band), "graft_band"),
      Seq(Same("rule", "bucketed"), Same("naive", "bucketed")),
      ladder = Seq(1, 2, 4, 8), naiveMaxK = 4),

    // BandJoinBlocking interval-overlap arm on q331's order windows
    // [sd, sd + 30..89 days], per-customer history time-extended k×
    Case("interval-overlap", (s, k) => shifted(
        table(s, "sf0.1", "orders").select(col("o_custkey").as("ck"),
            col("o_orderkey").as("id"), epochDay("o_orderdate").as("sd"))
          .withColumn("ed", col("sd") + pmod(col("id"), lit(60L)) + 30L),
        k, 200L),
      Seq(Arm("rule", overlaps("ck"), include = Seq(Band),
          conf = fixed(NoBroadcast), plan = Seq("graft_band")),
        Arm("naive", overlaps("ck"), exclude = Seq(Band),
          conf = fixed(NoBroadcast), capped = true)),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8), naiveMaxK = 4),

    // interval arm's tile width: data-derived (the default) vs the old
    // static 64 days, on heavy-tailed widths (0.5% of 200–550 days)
    Case("interval-adaptive", (s, k) => shifted(
        table(s, "sf0.01", "orders").select(col("o_orderkey").as("id"),
            epochDay("o_orderdate").as("sd"))
          .withColumn("ed", col("sd") + when(col("id") % 200 === 0,
            lit(200L) + pmod(col("id"), lit(350L)))
            .otherwise(lit(1L) + pmod(col("id"), lit(3L)))),
        k, 200L),
      Seq(Arm("adaptive", overlaps(), include = Seq(Band),
          conf = fixed(NoBroadcast), plan = Seq("graft_band")),
        Arm("static64", overlaps(), include = Seq(Band), conf = fixed(
          NoBroadcast + ("spark.graft.band.intervalBin" -> "64"))),
        Arm("naive", overlaps(), exclude = Seq(Band),
          conf = fixed(NoBroadcast), capped = true)),
      Seq(Same("static64", "adaptive"), Same("naive", "adaptive")),
      ladder = Seq(1, 2, 4, 8), naiveMaxK = 1),

    // HammingJoinBlocking: q277's naive 60-bit SimHash self-join
    Case("hamming-join", (s, k) => DedupPack.sim64Sigs(tokenDocs(s, k)),
      toggled(d => d.join(d.select(col("doc_id").as("doc_id2"),
            col("sig").as("sig2")),
          bit_count(col("sig").bitwiseXOR(col("sig2"))) <= 3 &&
            col("doc_id") < col("doc_id2"))
        .select("doc_id", "doc_id2"), Seq(Hamming), "graft_seg"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8), naiveMaxK = 4),

    // HammingJoinBlocking multi-word arm: q292's 120-bit (two words)
    Case("hamming-wide", (s, k) => DedupPack.simWideSigs(tokenDocs(s, k)),
      toggled(d => d.join(d.select(col("doc_id").as("doc_id2"),
            col("sig0").as("t0"), col("sig1").as("t1")),
          (bit_count(col("sig0").bitwiseXOR(col("t0"))) +
            bit_count(col("sig1").bitwiseXOR(col("t1")))) <= 3 &&
            col("doc_id") < col("doc_id2"))
        .select("doc_id", "doc_id2"), Seq(Hamming), "graft_seg"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8), naiveMaxK = 4),

    // HammingJoinBlocking LEFT ANTI: corpus rows near no eval row (every
    // 64th row); xxhash64 signatures are near-uniform
    Case("hamming-anti",
      ranged(65536)(col("id"), xxhash64(col("id")).as("sig")),
      toggled(c => c.join(c.filter(col("id") % 64 === 0)
          .select(col("id").as("eid"), col("sig").as("esig")),
        bit_count(col("sig").bitwiseXOR(col("esig"))) <= 2, "left_anti"),
        Seq(Hamming), "graft_seg"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8), naiveMaxK = 4),

    // q62/q66 MinHash LSH: candidates, verified pairs, components
    Case("dedup-lsh", dedupDocs,
      Seq("candidates", "verified", "components").map(st => Arm(st, lsh(st))),
      Nil, ladder = Seq(1, 2, 4, 8)),

    // q63 SimHash pairs: the pigeonhole segment join vs the old
    // lang-blocked all-pairs, at the oracle's 16 bits and at 32
    Case("dedup-simhash", (s, k) => {
        val m = transform(array_distinct(TextOps.toks(col("text"))), t => md5(t))
        dedupDocs(s, k).select(col("doc_id").as("id"), col("lang"),
          simhash(m, 16).as("s16"), simhash(m, 32).as("s32"))
      },
      Seq(Arm("seg16",
          segmentPairs("s16", Seq((0, 6), (6, 5), (11, 5)), "lang")),
        Arm("all16", allPairs("s16", "lang"), capped = true),
        Arm("seg32",
          segmentPairs("s32", Seq((0, 11), (11, 11), (22, 10)), "lang")),
        Arm("all32", allPairs("s32", "lang"), capped = true))
        .map(_.copy(exclude = Seq(Hamming))),
      Seq(Same("seg16", "all16"), Same("seg32", "all32")),
      ladder = Seq(1, 2, 4, 8), naiveMaxK = 2),

    // q260 SRP-LSH pairs: segment join vs all-pairs, 16 and 32 bits
    Case("srp-lsh", srpSigs,
      Seq(Arm("seg16", segmentPairs("s16", Seq((0, 5), (5, 5), (10, 6)))),
        Arm("all16", allPairs("s16"), capped = true),
        Arm("seg32", segmentPairs("s32", Seq((0, 10), (10, 10), (20, 12)))),
        Arm("all32", allPairs("s32"), capped = true))
        .map(_.copy(exclude = Seq(Hamming))),
      Seq(Same("seg16", "all16"), Same("seg32", "all32")),
      ladder = Seq(1, 2, 4, 8), naiveMaxK = 4),

    // q251 rare-gram blocking: 3-grams, 5-grams and q251's auto length;
    // every planted variant pair must be found
    Case("er-blocking", erRegistry,
      Seq(Arm("gram3", erBlocked(_ => 3)), Arm("gram5", erBlocked(_ => 5)),
        Arm("auto", erBlocked(d => ResolutionPack.blockLenOf(d.count()))),
        Arm("planted", d => d.filter(col("rec_id") % 10000000L >= ErOffset)
          .select((col("rec_id") - ErOffset).as("rec_id"),
            col("rec_id").as("rec_id2")))),
      Seq("gram3", "gram5", "auto").map(Within("planted", _)),
      ladder = Seq(1, 2, 4, 8)),

    // EditDistanceJoinBlocking: 16-char document prefixes, copy i
    // tagged with 3 copies of letter i (cross-copy distance ≥ 3)
    Case("edit-distance", (s, k) => {
        require(k <= 26, "k > 26 exceeds the copy-tag alphabet")
        val base = table(s, "sf0.01", "documents")
          .select(col("doc_id").as("id"), substring(col("text"), 1, 16).as("pre"))
        copies(k)(i => base.select((col("id") + i * 100000000L).as("id"),
          concat(lit(s"${('a' + i).toChar}" * 3), col("pre")).as("pre")))
      },
      toggled(d => d.join(d.select(col("id").as("id2"), col("pre").as("pre2")),
          levenshtein(col("pre"), col("pre2")) <= 2 && col("id") < col("id2"))
        .select("id", "id2"),
        Seq(rule("EditDistanceJoinBlocking")), "graft_edp"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8), naiveMaxK = 4),

    // SetSimilarityJoinBlocking: q338's Jaccard ≥ 0.8 on token sets,
    // namespace-tagged per copy; plus prefixes ordered by the corpus's
    // top tokens (the stopTokens conf)
    Case("setsim-jaccard", (s, k) => {
        val base = table(s, "sf0.01", "documents").select(col("doc_id").as("id"),
          array_distinct(TextOps.toks(col("text"))).as("tk"))
        copies(k)(i => base.select((col("id") + i * 100000000L).as("id"),
          transform(col("tk"), x => concat(lit(s"${i}_"), x)).as("tk")))
      }, {
        val q: Query = d => d.join(
            d.select(col("id").as("id2"), col("tk").as("tk2")),
            size(array_intersect(col("tk"), col("tk2"))) >=
              lit(0.8) * size(array_union(col("tk"), col("tk2"))) &&
              col("id") < col("id2"))
          .select("id", "id2")
        toggled(q, Seq(SetSim)) :+ Arm("stop", q, include = Seq(SetSim),
          conf = (d, k) =>
            Map("spark.graft.setsim.stopTokens" -> stopTokens(d, 48 * k)))
      },
      Seq(Same("rule", "naive"), Same("stop", "rule")),
      ladder = Seq(1, 2, 4, 8), naiveMaxK = 4),

    // SetSimilarityJoinBlocking containment (q350–q352): inner, mirrored
    // semi, mirrored anti; part sets namespace-tagged per copy
    Case("containment", (s, k) => {
        val base = table(s, "sf0.01", "lineitem")
          .groupBy(col("l_orderkey").as("id"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        copies(k)(i => base.select((col("id") + i * 100000000L).as("id"),
          transform(col("parts"), x => x + lit(i * 1000000000L)).as("parts")))
      },
      Seq("inner" -> containInner, "semi" -> containSemi, "anti" -> containAnti)
        .flatMap { case (shape, q) => toggled(q, Seq(SetSim)).map(a =>
          a.copy(name = if (a.capped) s"$shape-naive" else shape)) },
      Seq("inner", "semi", "anti").map(sh => Same(sh, s"$sh-naive")),
      ladder = Seq(1, 2, 4, 8), naiveMaxK = 4),

    // containment's hot-min-token regime: "aa" everywhere makes one
    // bucket; stopTokens=aa demotes it to the end of the probe order
    Case("containment-skew", hotTokenSets,
      Seq(Arm("demoted", hotInner, include = Seq(SetSim),
          conf = fixed(Map("spark.graft.setsim.stopTokens" -> "aa")),
          plan = Seq("graft_sst", "graft_ssc")),
        Arm("hot", hotInner, include = Seq(SetSim),
          plan = Seq("graft_sst", "!graft_ssc"), capped = true),
        Arm("naive", hotInner, exclude = Seq(SetSim), capped = true)),
      Seq(Same("hot", "demoted"), Same("naive", "demoted")),
      ladder = Seq(1, 2, 4), naiveMaxK = 2),

    // CosineJoinBlocking (opt-in): cosine ≥ 0.95 with SRP over 3
    // segments against the exact nested loop; the contract is
    // rule ⊆ naive. 24-bit buckets saturate as the corpus grows, 48-bit
    // ones do not (the width law)
    Case("srp-cosine", (s, k) => masked(
        twinned(embeddings(s, "sf0.1"), col("vec_id") % 25 === 0), k),
      Seq(Arm("rule", cosine, conf = fixed(srp(3, 24))),
        Arm("rule48", cosine, conf = fixed(srp(3, 48))),
        Arm("naive", cosine, capped = true)),
      Seq(Within("rule", "naive"), Within("rule48", "naive")),
      ladder = Seq(1, 2, 4, 8, 16), naiveMaxK = 8),

    // CosineJoinBlocking raw-dot norm band on unnormalized vectors
    // (scale 0.5–1.5 per id, twins at large norms), dot ≥ 2 near M²:
    // the band at the true max norm keeps each contract's output and
    // prunes its candidates
    Case("srp-normband", (s, k) => {
        val withTwins = twinned(embeddings(s, "sf0.1"),
          col("vec_id") % 100 === 95)
        masked(withTwins.select(col("vec_id"), transform(col("v"), x =>
          x * (lit(0.5) + pmod(col("vec_id"), lit(100)) / lit(100.0)))
          .as("v")), k)
      },
      Seq(Arm("m3", rawDot, conf = fixed(srp(3, 24))),
        Arm("m3-band", rawDot, conf = banded(3)),
        Arm("m4", rawDot, conf = fixed(srp(4, 24))),
        Arm("m4-band", rawDot, conf = banded(4)),
        Arm("naive", rawDot, capped = true)),
      Seq(Same("m3-band", "m3"), Same("m4-band", "m4"),
        Within("m3", "m4"), Within("m4", "naive")),
      ladder = Seq(1, 2, 4, 8, 16), naiveMaxK = 8),

    // GlobalRankRewrite / DistRank: global ntile(8); the library
    // DistRank, the rule-planned naive window, and the 1-task naive
    Case("rank-ntile",
      ranged(200000)(col("id"), (col("id") * 1103515245L % 999983L).as("v")),
      Arm("dist", ntile8Dist) +: forced(ntile8, Seq(Rank), "graft_rank_pid"),
      Seq(Same("rule", "dist"), Same("naive", "dist")),
      ladder = Seq(1, 2, 4, 8, 16)),

    // the same on a key piled into the low end (v = 10⁶/(id%997+1)):
    // the rule's frequency-adaptive split points vs DistRank
    Case("rank-skew", ranged(200000)(col("id"),
        call_function("div", lit(1000000L), col("id") % 997L + 1L).as("v")),
      Arm("dist", ntile8Dist) +: forced(ntile8, Seq(Rank), "graft_rank_pid")
        .filterNot(_.capped),
      Seq(Same("rule", "dist")), ladder = Seq(16)),

    // rank/dense_rank/percent_rank over a tie-heavy key
    Case("rank-family",
      ranged(200000)(col("id"), (col("id") * 1103515245L % 100003L).as("t")),
      forced(c => {
          val w = Window.orderBy(col("t"))
          c.select(col("id"), col("t"), rank().over(w).as("rk"),
            dense_rank().over(w).as("dr"), percent_rank().over(w).as("pr"))
        }, Seq(Rank), "graft_rank_pid"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8, 16)),

    // row_number/ntile OVER (PARTITION BY id % 3 ...): 3 tasks at any size
    Case("bounded-partition",
      ranged(400000)(col("id"), (col("id") * 1103515245L % 100003L).as("t")),
      forced(c => {
          val w = Window.partitionBy(col("id") % 3).orderBy(col("t"), col("id"))
          c.select(col("id"), col("t"), row_number().over(w).as("rn"),
            ntile(100).over(w).as("nt"))
        }, Seq(Rank), "graft_rank_pid"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8, 16)),

    // q305 moving frame: sum/count OVER (ROWS 999 PRECEDING..CR)
    Case("moving-frame",
      ranged(200000)(col("id"), (col("id") * 1103515245L % 100003L).as("t")),
      forced(c => {
          val w = Window.orderBy(col("t"), col("id")).rowsBetween(-999, 0)
          c.select(col("id"), col("t"), sum(col("t")).over(w).as("ms"),
            count(lit(1)).over(w).as("mn"))
        }, Seq(Rank), "graft_rank_jrn"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8, 16)),

    // q314 ghost blocks: min/max/avg over a 1000-row moving frame
    Case("ghost-frame",
      ranged(200000)(col("id"), (col("id") * 1103515245L % 100003L).as("t")),
      forced(c => {
          val w = Window.orderBy(col("t"), col("id")).rowsBetween(-999, 0)
          c.select(col("id"), col("t"),
            min(col("t") * 31L % 9973L).over(w).as("mn"),
            max(col("t") * 17L % 7919L).over(w).as("mx"),
            avg(col("t")).over(w).as("av"))
        }, Seq(Rank), "graft_rank_gblk"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8, 16)),

    // q320 value band: sum/count/min/max OVER (RANGE 10000 PRECEDING..CR)
    Case("value-band", ranged(200000)(col("id"),
        (col("id") * 37L + col("id") * 2654435761L % 29L).as("t"),
        (col("id") * 1103515245L % 9973L).as("w")),
      forced(c => {
          val w = Window.orderBy(col("t")).rangeBetween(-10000L, 0L)
          c.select(col("id"), sum(col("w")).over(w).as("bs"),
            count(lit(1)).over(w).as("bc"), min(col("w")).over(w).as("bmn"),
            max(col("w")).over(w).as("bmx"))
        }, Seq(Rank), "graft_rank_vb"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8, 16)),

    // q325 half-open frames: the naive suffix frame re-aggregates the
    // whole remaining suffix per row (O(n²)), hence the tiny base
    Case("half-open", ranged(20000)(col("id"),
        (col("id") * 37L + col("id") * 2654435761L % 29L).as("t"),
        (col("id") * 1103515245L % 9973L).as("w")),
      forced(c => {
          val pre = Window.orderBy(col("t"))
            .rangeBetween(Window.unboundedPreceding, 500L)
          val suf = Window.orderBy(col("t"))
            .rangeBetween(-500L, Window.unboundedFollowing)
          c.select(col("id"), sum(col("w")).over(pre).as("ps"),
            count(col("w")).over(pre).as("pc"), avg(col("w")).over(pre).as("pa"),
            min(col("w")).over(suf).as("sm"))
        }, Seq(Rank), "graft_rank_ho"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8, 16), naiveMaxK = 4),

    // q318 full frame: sum/count/min/max OVER (PARTITION BY pmod(id, 8))
    Case("full-frame",
      ranged(500000)(col("id"), (col("id") * 1103515245L % 99991L).as("w")),
      forced(c => {
          val w = Window.partitionBy(pmod(col("id"), lit(8)))
          c.select(col("id"), sum(col("w")).over(w).as("gs"),
            count(col("w")).over(w).as("gc"), min(col("w")).over(w).as("gmn"),
            max(col("w")).over(w).as("gmx"))
        }, Seq(Rank), "graft_rank_fg"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8, 16)),

    // multi-key LOCF and NOCB (q252's fill passes) over a nullable
    // duplicated head key; not persisted, the rule reads w's definition
    Case("locf-multikey", (s, k) => s.range(1000000L * k).select(col("id"),
        when(col("id") % 97 === 0, lit(null).cast("long"))
          .otherwise((col("id") * 1103515245L) % 9973L).as("k"))
        .withColumn("w", when(col("k") % 7 < 2 || col("k").isNull,
          lit(null).cast("long")).otherwise((col("k") * 11) % 131071L)),
      forced(c => c
          .withColumn("ff", last(col("w"), ignoreNulls = true).over(
            Window.orderBy(col("k").asc, col("id").asc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("bf", last(col("w"), ignoreNulls = true).over(
            Window.orderBy(col("k").desc, col("id").desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))),
        Seq(Rank), "graft_rank_pid"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8), persist = false),

    // PercentileRewrite: global p50/p90/p99 over near-unique doubles
    Case("percentile", ranged(500000)(
        ((col("id") * 2654435761L % 1000003907L).cast("double") +
          col("id").cast("double") / 1e9).as("v")),
      forced(_.agg(expr("percentile(v, 0.5d)").as("p50"),
          expr("percentile(v, 0.9d)").as("p90"),
          expr("percentile(v, 0.99d)").as("p99")),
        Seq(Pct, Rank), "graft_pct_rn", "!percentile"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8, 16)),

    // PercentileRewrite weighted path: percentile(v, p, f)
    Case("percentile-weighted", ranged(500000)(
        (col("id") * 2654435761L % 1000003907L).as("v"),
        (col("id") * 1103515245L % 17L).as("f")),
      forced(_.agg(expr("percentile(v, 0.5d, f)").as("p50"),
          expr("percentile(v, 0.9d, f)").as("p90"),
          expr("percentile(v, 0.99d, f)").as("p99")),
        Seq(Pct, Rank), "graft_pct_cw", "!percentile"),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8, 16)),

    // ModeRewrite: global mode() over ~n/2 distinct longs, one planted
    // winner
    Case("mode", (s, k) => s.range(500000L * k).select(
        when(col("id") % 1000 === 0, lit(-1L))
          .otherwise(col("id") * 2654435761L % (250000L * k)).as("v")),
      forced(_.agg(expr("mode() WITHIN GROUP (ORDER BY v)").as("m")),
        Seq(rule("ModeRewrite")), "graft_mode_v", "!mode("),
      RuleIsNaive, ladder = Seq(1, 2, 4, 8, 16)),

    // q284 HLL: 64-register estimate vs exact count(distinct) over
    // 1000·k keys, inside 2σ = 2·1.04/√64
    Case("ndv-sketch",
      ranged(1000)(concat(lit("key|"), col("id")).as("v")),
      Seq(Arm("exact", _.agg(countDistinct("v").cast("double").as("ndv"))),
        Arm("sketch", hll)),
      Seq(Near("sketch", "exact", 0.26)), ladder = Seq(1, 10, 100, 1000)),

    // skewed shuffle join (60% of rows on one key, broadcast off): AQE's
    // skew split off, on, and 16-way Salting
    Case("skew-join", (s, k) => s.range(1000000L * k).select(
        when(col("id") % 5 < 3, lit(0L))
          .otherwise(pmod(col("id"), lit(5000L)) + 1).as("k"),
        col("id").as("payload")),
      Seq(Arm("plain", skewJoin(salted = false), conf = fixed(skewConf(false))),
        Arm("aqe", skewJoin(salted = false), conf = fixed(skewConf(true))),
        Arm("salted", skewJoin(salted = true), conf = fixed(skewConf(false)))),
      Seq(Same("aqe", "plain"), Same("salted", "plain")),
      ladder = Seq(20), persist = false)
  )
}
