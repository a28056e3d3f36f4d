package graft

import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** The SetSimilarityJoinBlocking optimizer rule: naive Jaccard /
  * overlap theta joins on array columns must plan as prefix-filtered
  * token equi-joins with EXACTLY the naive join's bag of rows —
  * including duplicate-input multiplicity (canonical minimal-common-
  * token residual) — across edge shapes (empty arrays, singletons,
  * duplicate-laden arrays), and must stand down on nullable-element
  * arrays and equi-keyed broadcastable joins.
  */
class SetSimilarityRuleSpec extends SparkSpecBase {

  /** Deterministic fixture: hashed token sets over a 40-token
    * vocabulary (sizes 5–10), planted one-edit twins (high Jaccard),
    * duplicate-laden copies, and tiny/empty edges. */
  private def rows: Seq[(Long, Seq[Int])] = {
    val bases = (0 until 50).map { i =>
      val n = 5 + math.abs(MurmurHash3.stringHash("r" + i)) % 6
      (0 until n).map(p =>
        math.abs(MurmurHash3.productHash((i, p))) % 40).distinct
    }
    val twins = bases.zipWithIndex.collect { case (s, i) if i % 3 == 0 =>
      s.drop(1) :+ 99
    }
    val dups = Seq(bases(1) ++ bases(1), bases(4) ++ bases(4).take(3))
    // TWO empties: ∅×∅ pairs must arise (the ÷-free spelling keeps
    // them, the ÷ spellings drop them — both directions pinned below)
    val edges = Seq(Seq.empty[Int], Seq.empty[Int],
      Seq(7), Seq(7, 8), Seq(8, 7))
    (bases ++ twins ++ dups ++ edges).zipWithIndex.map { case (s, i) =>
      (i.toLong, s)
    }
  }

  private def jac(x: Seq[Int], y: Seq[Int]): Double = {
    val (sx, sy) = (x.toSet, y.toSet)
    val u = (sx ++ sy).size
    if (u == 0) Double.NaN else (sx & sy).size.toDouble / u
  }

  private def frames = {
    val s = spark
    import s.implicits._
    val df = rows.toDF("id", "toks")
    (df.select(col("id").as("a"), col("toks").as("ta")),
      df.select(col("id").as("b"), col("toks").as("tb")))
  }

  // try_divide: the ANSI-safe naive spelling (plain ÷ RAISES on the
  // empty∕empty union under ANSI mode, and the rule rightly refuses
  // to erase that error — pinned in the stand-down test)
  private def jacCond = {
    try_divide(size(array_intersect(col("ta"), col("tb"))),
      size(array_union(col("ta"), col("tb")))) >= 0.6
  }

  private def expectedJac(s: Double): Seq[(Long, Long)] = (for {
    x <- rows; y <- rows
    if x._1 < y._1 && jac(x._2, y._2) >= s
  } yield (x._1, y._1)).sorted

  test("naive Jaccard theta join plans as prefix token equi-join, identical bag") {
    val (a, b) = frames
    val joined = a.join(b, jacCond && col("a") < col("b"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"rule must remove the nested loop:\n${plan.take(3000)}")
    assert(plan.contains("graft_sst"), plan.take(3000))
    val got = joined.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val expected = expectedJac(0.6)
    assert(expected.nonEmpty, "fixture must exercise the similarity ball")
    assert(got === expected)
  }

  test("overlap spelling and literal-first / strict forms also rewrite") {
    val (a, b) = frames
    val ov = size(array_intersect(col("ta"), col("tb")))
    val expectedOv = (for {
      x <- rows; y <- rows
      if x._1 < y._1 && (x._2.toSet & y._2.toSet).size >= 4
    } yield (x._1, y._1)).sorted
    val cases = Seq(
      (ov >= 4, expectedOv),
      (ov > 3, expectedOv),
      (lit(4) <= ov, expectedOv),
      (lit(0.6) <= try_divide(
        size(array_intersect(col("ta"), col("tb"))),
        size(array_union(col("ta"), col("tb")))), expectedJac(0.6)),
      // the division-free ANSI-safe form — unlike the ÷ spelling it
      // is TRUE on ∅×∅ (0 ≥ 0.6·0), so the expected set adds the
      // empty pairs the try_divide model rejects
      (size(array_intersect(col("ta"), col("tb"))) >=
        lit(0.6) * size(array_union(col("ta"), col("tb"))),
        (expectedJac(0.6) ++ (for {
          x <- rows; y <- rows
          if x._1 < y._1 && x._2.isEmpty && y._2.isEmpty
        } yield (x._1, y._1))).sorted))
    for ((cond, expected) <- cases) {
      val joined = a.join(b, cond && col("a") < col("b"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("graft_sst") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"spelling must rewrite:\n${plan.take(2000)}")
      val got = joined.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(expected.nonEmpty && got === expected)
    }
  }

  test("bag semantics: duplicated input rows multiply, pairs never dedup") {
    val (a, b) = frames
    val n = expectedJac(0.6).size
    val j2 = a.union(a).join(b, jacCond && col("a") < col("b"))
    assert(j2.count() === 2L * n)
  }

  test("exact FP boundary: s·|x| landing on an integer keeps the pair") {
    // |x| = 5, s = 0.8: the IEEE product 0.8·5 sits a hair ABOVE 4.0,
    // so an epsilon-less ceil reads 5 and cuts the prefix to x's first
    // element alone — and this pair's minimal COMMON token (2) is not
    // x's minimum (0), so that bug drops a pair that sits exactly at
    // the threshold (overlap 4, union 5, Jaccard 0.8)
    val s = spark
    import s.implicits._
    val xy = Seq((1L, Seq(0, 2, 3, 4, 5)), (2L, Seq(2, 3, 4, 5)))
    val df = xy.toDF("id", "toks")
    val a = df.select(col("id").as("a"), col("toks").as("ta"))
    val b = df.select(col("id").as("b"), col("toks").as("tb"))
    val joined = a.join(b,
      try_divide(size(array_intersect(col("ta"), col("tb"))),
        size(array_union(col("ta"), col("tb")))) >= 0.8 &&
        col("a") < col("b"))
    assert(joined.queryExecution.executedPlan.toString
      .contains("graft_sst"))
    assert(joined.count() === 1L)
  }

  test("string-element arrays rewrite too (split gives non-null elements)") {
    val s = spark
    import s.implicits._
    // split() is how real token arrays are born — its element type is
    // non-nullable, unlike a Seq[String] encoder's (containsNull=true,
    // which correctly stands down)
    val df = rows.map { case (i, ts) =>
      (i, ts.map("w" + _).mkString(" "))
    }.toDF("id", "s").select(col("id"), split(col("s"), " ").as("toks"))
    val a = df.select(col("id").as("a"), col("toks").as("ta"))
    val b = df.select(col("id").as("b"), col("toks").as("tb"))
    val joined = a.join(b, jacCond && col("a") < col("b"))
    assert(joined.queryExecution.executedPlan.toString
      .contains("graft_sst"))
    val got = joined.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // split("") = [""], so the empty token set becomes {""}
    val strToks = rows.map { case (i, ts) =>
      (i, if (ts.isEmpty) Seq("") else ts.map("w" + _)) }
    def sj(x: Seq[String], y: Seq[String]): Double = {
      val u = (x.toSet ++ y.toSet).size
      if (u == 0) Double.NaN else (x.toSet & y.toSet).size.toDouble / u
    }
    val expected = (for {
      x <- strToks; y <- strToks
      if x._1 < y._1 && sj(x._2, y._2) >= 0.6
    } yield (x._1, y._1)).sorted
    assert(expected.nonEmpty && got === expected)
  }

  test("frequency-ordered prefixes (stopTokens conf): identical bags, every shape") {
    // the PPJoin refinement with out-of-band stats: the conf demotes
    // hot tokens to the prefix tail. Pure ordering change — the lemma
    // holds for any total order — so EVERY result must be bit-identical
    // to the value-order run, across the ÷, ÷-free (emptyTrue) and
    // string-element shapes, and across join types.
    val s = spark
    import s.implicits._
    val strToks = rows.map { case (i, ts) =>
      (i, if (ts.isEmpty) Seq("") else ts.map("w" + _)) }
    val df = strToks.map { case (i, ts) => (i, ts.mkString(" ")) }
      .toDF("id", "s").select(col("id"), split(col("s"), " ").as("toks"))
    val a = df.select(col("id").as("a"), col("toks").as("ta"))
    val b = df.select(col("id").as("b"), col("toks").as("tb"))
    // hot tokens of the fixture (low ids appear most) + one non-token
    val stops = "w0,w1,w2,w3,w7,notatoken"
    def run(): Seq[Seq[(Long, Long)]] = {
      val inner = a.join(b, jacCond && col("a") < col("b"))
      assert(inner.queryExecution.executedPlan.toString
        .contains("graft_sst"))
      val mul = a.join(b,
        (size(array_intersect(col("ta"), col("tb"))) >=
          lit(0.6) * size(array_union(col("ta"), col("tb")))) &&
          col("a") < col("b"))
      val semi = a.join(b, jacCond && col("a") =!= col("b"), "left_semi")
      val anti = a.join(b, jacCond && col("a") =!= col("b"), "left_anti")
      val outer = a.join(b, jacCond && col("a") < col("b"), "left_outer")
      Seq(
        inner.select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
        mul.select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
        semi.select("a").collect().map(r => (r.getLong(0), 0L))
          .toSeq.sorted,
        anti.select("a").collect().map(r => (r.getLong(0), 0L))
          .toSeq.sorted,
        outer.select("a", "b").collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq.sorted)
    }
    val plain = run()
    spark.conf.set("spark.graft.setsim.stopTokens", stops)
    try {
      val ordered = run()
      assert(ordered === plain,
        "frequency ordering must never change any result")
      // int-element arrays ignore the (string) stop list and still fire
      val (ia, ib) = frames
      val ji = ia.join(ib, jacCond && col("a") < col("b"))
      assert(ji.queryExecution.executedPlan.toString
        .contains("graft_sst"))
      assert(ji.count() === expectedJac(0.6).size.toLong)
    } finally spark.conf.unset("spark.graft.setsim.stopTokens")
  }

  test("left semi / anti / outer collapse back to left grain exactly") {
    val (a, b) = frames
    val bEval = b.filter(col("b") % 5 === 0)
    val evalRows = rows.filter(_._1 % 5 == 0)
    val matched = rows.filter(x =>
      evalRows.exists(e => jac(x._2, e._2) >= 0.6)).map(_._1).sorted
    val semi = a.join(bEval, jacCond, "left_semi")
    assert(semi.queryExecution.executedPlan.toString.contains("graft_sst"))
    assert(semi.select("a").collect().map(_.getLong(0)).toSeq.sorted
      === matched)
    val anti = a.join(bEval, jacCond, "left_anti")
    assert(anti.queryExecution.executedPlan.toString.contains("graft_sst"))
    assert(anti.select("a").collect().map(_.getLong(0)).toSeq.sorted
      === rows.map(_._1).filterNot(matched.contains).sorted)
    val outer = a.join(bEval, jacCond, "left_outer")
    assert(outer.queryExecution.executedPlan.toString.contains("graft_sst"))
    val gotOuter = outer.select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq.sorted
    val expOuter = rows.flatMap { x =>
      val ms = evalRows.filter(e => jac(x._2, e._2) >= 0.6).map(_._1)
      if (ms.isEmpty) Seq((x._1, -1L)) else ms.map(m => (x._1, m))
    }.sorted
    assert(gotOuter === expOuter)
  }

  test("arrays_overlap joins as the α = 1 overlap spelling") {
    val (a, b) = frames
    val joined = a.join(b,
      arrays_overlap(col("ta"), col("tb")) && col("a") < col("b"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("graft_sst") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    val got = joined.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val expected = (for {
      x <- rows; y <- rows
      if x._1 < y._1 && (x._2.toSet & y._2.toSet).nonEmpty
    } yield (x._1, y._1)).sorted
    assert(expected.nonEmpty && got === expected)
  }

  test("membership join: array_contains explodes only the array side") {
    val s = spark
    import s.implicits._
    val (a, _) = frames
    val dim = (0 to 39 by 7).map(_.toLong).map(w => Tuple1(w.toInt))
      .toDF("w")
    val expected = (for {
      x <- rows; w <- 0 to 39 by 7
      if x._2.contains(w)
    } yield (x._1, w)).sorted
    // array on the LEFT, scalar dim on the right
    val jl = a.join(dim, array_contains(col("ta"), col("w")))
    assert(jl.queryExecution.executedPlan.toString.contains("graft_sst"))
    val gotL = jl.select("a", "w").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(expected.nonEmpty && gotL === expected)
    // array on the RIGHT (swapped children)
    val jr = dim.join(a, array_contains(col("ta"), col("w")))
    assert(jr.queryExecution.executedPlan.toString.contains("graft_sst"))
    val gotR = jr.select("a", "w").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(gotR === expected)
    // bag semantics: duplicated array-side rows multiply
    assert(a.union(a).join(dim, array_contains(col("ta"), col("w")))
      .count() === 2L * expected.size)
  }

  test("membership semi/anti/outer: both array orientations, left grain") {
    val s = spark
    import s.implicits._
    val (a, _) = frames
    val dim = (0 to 39 by 7).map(_.toLong).map(w => Tuple1(w.toInt))
      .toDF("w")
    val dimVals = (0 to 39 by 7).toSet
    val hits = rows.filter(_._2.exists(dimVals.contains)).map(_._1).sorted
    // array on the LEFT: rid regroup path
    val semiL = a.join(dim, array_contains(col("ta"), col("w")),
      "left_semi")
    assert(semiL.queryExecution.executedPlan.toString
      .contains("graft_sst"))
    assert(semiL.select("a").collect().map(_.getLong(0)).toSeq.sorted
      === hits)
    val antiL = a.join(dim, array_contains(col("ta"), col("w")),
      "left_anti")
    assert(antiL.queryExecution.executedPlan.toString
      .contains("graft_sst"))
    assert(antiL.select("a").collect().map(_.getLong(0)).toSeq.sorted
      === rows.map(_._1).filterNot(hits.contains).sorted)
    val outerL = a.join(dim, array_contains(col("ta"), col("w")),
      "left_outer")
    assert(outerL.queryExecution.executedPlan.toString
      .contains("graft_sst"))
    val gotOuter = outerL.select(col("a"), col("w")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
      .toSeq.sorted
    val expOuter = rows.flatMap { x =>
      val ms = (0 to 39 by 7).filter(x._2.contains)
      if (ms.isEmpty) Seq((x._1, -1)) else ms.map(m => (x._1, m))
    }.sorted
    assert(gotOuter === expOuter)
    // array on the RIGHT of semi/anti: structural, no regroup needed
    val semiR = dim.join(a, array_contains(col("ta"), col("w")),
      "left_semi")
    assert(semiR.queryExecution.executedPlan.toString
      .contains("graft_sst"))
    val wHits = (0 to 39 by 7).filter(w =>
      rows.exists(_._2.contains(w))).sorted
    assert(semiR.select("w").collect().map(_.getInt(0)).toSeq.sorted
      === wHits)
    val antiR = dim.join(a, array_contains(col("ta"), col("w")),
      "left_anti")
    assert(antiR.select("w").collect().map(_.getInt(0)).toSeq.sorted
      === (0 to 39 by 7).filterNot(wHits.contains).sorted)
  }

  test("exhaustive: all subsets of a 5-token universe, every threshold") {
    // 32 sets (incl. ∅) → 1024 ordered pairs; complete coverage of
    // prefix-length geometry at every α
    val s = spark
    import s.implicits._
    val all = (0 until 32).map { bits =>
      (bits.toLong, (0 until 5).filter(i => (bits >> i & 1) == 1))
    }
    val df = all.toDF("id", "toks")
    val aa = df.select(col("id").as("a"), col("toks").as("ta"))
    val bb = df.select(col("id").as("b"), col("toks").as("tb"))
    for (th <- Seq(1.0 / 3, 0.5, 2.0 / 3, 0.99)) {
      val joined = aa.join(bb,
        try_divide(size(array_intersect(col("ta"), col("tb"))),
          size(array_union(col("ta"), col("tb")))) >= th)
      assert(joined.queryExecution.executedPlan.toString
        .contains("graft_sst"), s"s=$th must rewrite")
      val got = joined.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val expected = (for {
        x <- all; y <- all
        u = (x._2.toSet ++ y._2.toSet).size
        if u > 0 && (x._2.toSet & y._2.toSet).size.toDouble / u >= th
      } yield (x._1, y._1)).sorted
      assert(got === expected, s"s=$th")
    }
    for (t <- 1 to 4) {
      val joined = aa.join(bb,
        size(array_intersect(col("ta"), col("tb"))) >= t)
      assert(joined.queryExecution.executedPlan.toString
        .contains("graft_sst"), s"t=$t must rewrite")
      val got = joined.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val expected = (for {
        x <- all; y <- all
        if (x._2.toSet & y._2.toSet).size >= t
      } yield (x._1, y._1)).sorted
      assert(got === expected, s"t=$t")
    }
    // ÷-free spelling: TRUE on ∅×∅ — the empty set meets ITSELF
    // ((0,0) must appear at every s), the exhaustive pin of the
    // null-token machinery alongside full prefix geometry
    for (th <- Seq(1.0 / 3, 0.5, 2.0 / 3, 0.99, 1.0)) {
      val joined = aa.join(bb,
        size(array_intersect(col("ta"), col("tb"))) >=
          lit(th) * size(array_union(col("ta"), col("tb"))))
      assert(joined.queryExecution.executedPlan.toString
        .contains("graft_sst"), s"mul s=$th must rewrite")
      val got = joined.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val expected = (for {
        x <- all; y <- all
        if (x._2.toSet & y._2.toSet).size >=
          th * (x._2.toSet ++ y._2.toSet).size
      } yield (x._1, y._1)).sorted
      assert(expected.contains((0L, 0L)) && got === expected,
        s"mul s=$th")
    }
  }

  test("stand-downs: nullable elements, s = 0, equi + broadcastable") {
    val (a, b) = frames
    // nullable-element arrays: containsNull = true is not provably
    // safe for value-order prefixes — never eligible
    val an = a.select(col("a"), expr("array(1, null)").as("ta"))
    val bn = b.select(col("b"), expr("array(1, null)").as("tb"))
    val jn = an.join(bn, jacCond && col("a") < col("b"))
    assert(!jn.queryExecution.optimizedPlan.toString.contains("graft_sst"))
    // s = 0 admits disjoint pairs — not a similarity join
    val j0 = a.join(b,
      try_divide(size(array_intersect(col("ta"), col("tb"))),
        size(array_union(col("ta"), col("tb")))) >= 0.0 &&
        col("a") < col("b"))
    assert(!j0.queryExecution.optimizedPlan.toString.contains("graft_sst"))
    // ANSI division: the naive plan raises on empty∕empty unions — the
    // rewrite must not erase that error, so the ÷ spelling stands down
    val jAnsi = a.join(b,
      size(array_intersect(col("ta"), col("tb"))).cast("double") /
        size(array_union(col("ta"), col("tb"))) >= 0.6 &&
        col("a") < col("b"))
    assert(!jAnsi.queryExecution.optimizedPlan.toString
      .contains("graft_sst"))
    // equi key + broadcastable side: hash join on the key wins
    val je = a.join(b, col("a") === col("b") && jacCond)
    assert(!je.queryExecution.executedPlan.toString.contains("graft_sst"))
    assert(je.count() === rows.count(r => r._2.nonEmpty).toLong)
  }

  test("composition: blocked similarity join keeps user key + token key") {
    val s = spark
    import s.implicits._
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val blkOf = (i: Long) => if (i % 2 == 0) "x" else "y"
      val df = rows.map { case (id, ts) => (id, ts, blkOf(id)) }
        .toDF("id", "toks", "blk")
      val a = df.select(col("id").as("a"), col("toks").as("ta"),
        col("blk").as("ba"))
      val b = df.select(col("id").as("b"), col("toks").as("tb"),
        col("blk").as("bb"))
      val joined = a.join(b,
        col("ba") === col("bb") && jacCond && col("a") < col("b"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("graft_sst"),
        s"rule must compose, not stand down:\n${plan.take(3000)}")
      val got = joined.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val expected = (for {
        x <- rows; y <- rows
        if x._1 < y._1 && blkOf(x._1) == blkOf(y._1) &&
          jac(x._2, y._2) >= 0.6
      } yield (x._1, y._1)).sorted
      assert(expected.nonEmpty && got === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("integer and decimal threshold literals still rewrite") {
    val (a, b) = frames
    // s = 1 spelled as an INT literal in the ÷-free form: the exact
    // naive predicate is |x∩y| ≥ |x∪y| (two empties qualify — the
    // fixture holds only one empty row, so no such pair arises)
    val expectedEq = (for {
      x <- rows; y <- rows
      if x._1 < y._1 &&
        (x._2.toSet & y._2.toSet).size >= (x._2.toSet ++ y._2.toSet).size
    } yield (x._1, y._1)).sorted
    // the ÷ spelling rejects ∅×∅ (∅∕∅ → null → false)
    val expectedEqDiv = (for {
      x <- rows; y <- rows
      if x._1 < y._1 && x._2.nonEmpty &&
        (x._2.toSet & y._2.toSet).size >= (x._2.toSet ++ y._2.toSet).size
    } yield (x._1, y._1)).sorted
    val cases: Seq[(org.apache.spark.sql.Column, Seq[(Long, Long)])] = Seq(
      (size(array_intersect(col("ta"), col("tb"))) >=
        lit(1) * size(array_union(col("ta"), col("tb"))), expectedEq),
      // int literal on the ÷ spelling (analyzer casts it to double)
      (try_divide(size(array_intersect(col("ta"), col("tb"))),
        size(array_union(col("ta"), col("tb")))) >= lit(1), expectedEqDiv),
      // decimal literal (analyzer casts it to double)
      (try_divide(size(array_intersect(col("ta"), col("tb"))),
        size(array_union(col("ta"), col("tb")))) >=
        lit(new java.math.BigDecimal("0.6")), expectedJac(0.6)))
    for ((cond, expected) <- cases) {
      val joined = a.join(b, cond && col("a") < col("b"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("graft_sst") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"threshold spelling must rewrite:\n${plan.take(2000)}")
      val got = joined.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(expected.nonEmpty && got === expected)
    }
  }

  test("empty×empty pairs: ÷-free spelling keeps them, ÷ spelling rejects them") {
    val s = spark
    import s.implicits._
    val xy = Seq((1L, Seq.empty[Int]), (2L, Seq.empty[Int]),
      (3L, Seq(1, 2)), (4L, Seq(1, 2)))
    val df = xy.toDF("id", "toks")
    val a = df.select(col("id").as("a"), col("toks").as("ta"))
    val b = df.select(col("id").as("b"), col("toks").as("tb"))
    val mulCond = size(array_intersect(col("ta"), col("tb"))) >=
      lit(0.6) * size(array_union(col("ta"), col("tb")))
    val jm = a.join(b, mulCond && col("a") < col("b"))
    assert(jm.queryExecution.executedPlan.toString.contains("graft_sst"))
    // naive truth: 0 ≥ 0.6·0 for (1,2); (3,4) by identity — and the
    // STRICT form excludes the empty pair again
    assert(jm.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
      Seq((1L, 2L), (3L, 4L)))
    val jmStrict = a.join(b,
      (size(array_intersect(col("ta"), col("tb"))) >
        lit(0.99) * size(array_union(col("ta"), col("tb")))) &&
        col("a") < col("b"))
    assert(jmStrict.queryExecution.executedPlan.toString
      .contains("graft_sst"))
    assert(jmStrict.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
      Seq((3L, 4L)))
    // ÷ spelling: ∅∕∅ → null → false, and the rewrite preserves that
    val jd = a.join(b,
      try_divide(size(array_intersect(col("ta"), col("tb"))),
        size(array_union(col("ta"), col("tb")))) >= 0.6 &&
        col("a") < col("b"))
    assert(jd.queryExecution.executedPlan.toString.contains("graft_sst"))
    assert(jd.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
      Seq((3L, 4L)))
    // left grain: semi keeps the empty rows under the ÷-free form,
    // anti drops them; the ÷ form inverts both
    val semiMul = a.join(b, mulCond && col("a") =!= col("b"), "left_semi")
    assert(semiMul.select("a").collect().map(_.getLong(0)).sorted ===
      Array(1L, 2L, 3L, 4L))
    val antiMul = a.join(b, mulCond && col("a") =!= col("b"), "left_anti")
    assert(antiMul.count() === 0L)
    val outerMul = a.join(b, mulCond && col("a") < col("b"), "left_outer")
    val om = outerMul.select("a", "b").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq.sorted
    assert(om === Seq((1L, 2L), (2L, -1L), (3L, 4L), (4L, -1L)))
  }

  test("containment join: size(array_except)=0 plans as min-token probe + empty-set branch") {
    val s = spark
    import s.implicits._
    // filter(split(...)) births containsNull=false arrays AND yields a
    // true empty set for the blank string (split('') = [''])
    val xy = Seq((1L, "a b"), (2L, "a b c"), (3L, "c d"),
      (4L, ""), (5L, "a b c d z"), (6L, "q"), (7L, "d c"))
    val df = xy.toDF("id", "s").select(col("id"),
      expr("filter(split(s, ' '), x -> x <> '')").as("toks"))
    val aa = df.select(col("id").as("a"), col("toks").as("ta"))
    val bb = df.select(col("id").as("b"), col("toks").as("tb"))
    val sets = xy.map { case (i, t) =>
      (i, t.split(" ").filter(_.nonEmpty).toSet) }
    val expected = (for {
      x <- sets; y <- sets
      if x._1 != y._1 && x._2.subsetOf(y._2)
    } yield (x._1, y._1)).sorted
    // ∅ (id 4) ⊆ every other set — the union branch must supply those
    assert(expected.count(_._1 == 4L) == 6)
    for (cond <- Seq(
      size(array_except(col("ta"), col("tb"))) === 0,
      size(array_except(col("ta"), col("tb"))) <= 0,
      size(array_except(col("ta"), col("tb"))) < 1,
      lit(0) >= size(array_except(col("ta"), col("tb"))))) {
      val joined = aa.join(bb, cond && col("a") =!= col("b"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("graft_sst") && plan.contains("Union"),
        s"containment must rewrite with the empty branch:\n${plan.take(3000)}")
      val got = joined.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got === expected)
    }
    // mirrored orientation (subset side on the right) also fires for
    // INNER — the superset (left) side explodes instead
    val jm = aa.join(bb,
      size(array_except(col("tb"), col("ta"))) === 0 &&
        col("a") =!= col("b"))
    assert(jm.queryExecution.executedPlan.toString.contains("graft_sst"))
    val gotM = jm.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(gotM === expected.map { case (x, y) => (y, x) }.sorted)
    // bag semantics: duplicated left rows multiply
    val j2 = aa.union(aa).join(bb,
      size(array_except(col("ta"), col("tb"))) === 0 &&
        col("a") =!= col("b"))
    assert(j2.count() === 2L * expected.size)
    // SEMI (covered rows) and ANTI (maximal rows) at left grain —
    // the ∅ row routes through its own branch in both
    val semi = aa.join(bb,
      size(array_except(col("ta"), col("tb"))) === 0 &&
        col("a") =!= col("b"), "left_semi")
    assert(semi.queryExecution.executedPlan.toString.contains("graft_sst"))
    val expLeft = expected.map(_._1).distinct.sorted
    assert(semi.select("a").collect().map(_.getLong(0)).toSeq.sorted
      === expLeft)
    assert(expLeft.contains(4L), "the empty set must be covered")
    val anti = aa.join(bb,
      size(array_except(col("ta"), col("tb"))) === 0 &&
        col("a") =!= col("b"), "left_anti")
    assert(anti.select("a").collect().map(_.getLong(0)).toSeq.sorted
      === sets.map(_._1).sorted.diff(expLeft))
    // MIRRORED semi/anti (superset on the LEFT — "which rows COVER
    // some other row"): the left side explodes under a rid and
    // collapses back; the ∅-sub branch is marked below the explode
    val expSup = expected.map(_._2).distinct.sorted
    val semiM = aa.join(bb,
      size(array_except(col("tb"), col("ta"))) === 0 &&
        col("a") =!= col("b"), "left_semi")
    assert(semiM.queryExecution.executedPlan.toString
      .contains("graft_sst"))
    assert(semiM.select("a").collect().map(_.getLong(0)).toSeq.sorted
      === expSup)
    val antiM = aa.join(bb,
      size(array_except(col("tb"), col("ta"))) === 0 &&
        col("a") =!= col("b"), "left_anti")
    assert(antiM.queryExecution.executedPlan.toString
      .contains("graft_sst"))
    assert(antiM.select("a").collect().map(_.getLong(0)).toSeq.sorted
      === sets.map(_._1).sorted.diff(expSup))
    // without the ∅ row the verdict must come from BRANCH 1 alone
    // (the token-grain existence/anti probe, not the ∅ branch)
    val aaN = aa.filter(col("a") =!= 4L)
    val bbN = bb.filter(col("b") =!= 4L)
    val expSupN = (for {
      x <- sets; y <- sets
      if x._1 != y._1 && x._1 != 4L && y._1 != 4L &&
        x._2.subsetOf(y._2)
    } yield y._1).distinct.sorted
    val semiMN = aaN.join(bbN,
      size(array_except(col("tb"), col("ta"))) === 0 &&
        col("a") =!= col("b"), "left_semi")
    assert(semiMN.select("a").collect().map(_.getLong(0)).toSeq.sorted
      === expSupN)
    val antiMN = aaN.join(bbN,
      size(array_except(col("tb"), col("ta"))) === 0 &&
        col("a") =!= col("b"), "left_anti")
    assert(antiMN.select("a").collect().map(_.getLong(0)).toSeq.sorted
      === sets.map(_._1).filter(_ != 4L).sorted.diff(expSupN))
    // bag semantics: duplicated left rows keep their multiplicity
    // through the rid collapse in both mirrored shapes
    val semiM2 = aa.union(aa).join(bb,
      size(array_except(col("tb"), col("ta"))) === 0 &&
        col("a") =!= col("b"), "left_semi")
    assert(semiM2.count() === 2L * expSup.size)
    val antiM2 = aa.union(aa).join(bb,
      size(array_except(col("tb"), col("ta"))) === 0 &&
        col("a") =!= col("b"), "left_anti")
    assert(antiM2.count() === 2L * (sets.size - expSup.size))
  }

  test("containment LEFT OUTER: both orientations, null-extension exact") {
    val s = spark
    import s.implicits._
    val xy = Seq((1L, "a b"), (2L, "a b c"), (3L, "c d"),
      (4L, ""), (5L, "a b c d z"), (6L, "q"), (7L, "d c"))
    val df = xy.toDF("id", "s").select(col("id"),
      expr("filter(split(s, ' '), x -> x <> '')").as("toks"))
    val aa = df.select(col("id").as("a"), col("toks").as("ta"))
    val bb = df.select(col("id").as("b"), col("toks").as("tb"))
    val sets = xy.map { case (i, t) =>
      (i, t.split(" ").filter(_.nonEmpty).toSet) }
    val subPairs = (for {
      x <- sets; y <- sets
      if x._1 != y._1 && x._2.subsetOf(y._2)
    } yield (x._1, y._1)).sorted
    def expOuter(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
      sets.map(_._1).flatMap { x =>
        val m = pairs.filter(_._1 == x).map(_._2)
        if (m.isEmpty) Seq((x, -1L)) else m.map((x, _))
      }.sorted
    def collect(dfj: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      dfj.select("a", "b").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSeq.sorted
    // subset on the LEFT: "annotate each row with its covering rows"
    val condSub = size(array_except(col("ta"), col("tb"))) === 0 &&
      col("a") =!= col("b")
    val jo = aa.join(bb, condSub, "left_outer")
    val planSub = jo.queryExecution.executedPlan.toString
    assert(planSub.contains("graft_sst") && planSub.contains("Union"),
      s"subset-left outer must rewrite:\n${planSub.take(3000)}")
    assert(collect(jo) === expOuter(subPairs), "subset-left outer")
    // MIRRORED: superset on the LEFT — "annotate each row with the
    // rows it covers" (Inner ∪ anti×nulls decomposition)
    val condSup = size(array_except(col("tb"), col("ta"))) === 0 &&
      col("a") =!= col("b")
    val supPairs = subPairs.map { case (x, y) => (y, x) }.sorted
    val jm = aa.join(bb, condSup, "left_outer")
    val planSup = jm.queryExecution.executedPlan.toString
    assert(planSup.contains("graft_sst") && planSup.contains("Union"),
      s"mirrored outer must rewrite:\n${planSup.take(3000)}")
    assert(collect(jm) === expOuter(supPairs), "mirrored outer")
    // bag semantics: duplicated left rows double every output row
    // (matched AND null-extended) in both orientations
    assert(aa.union(aa).join(bb, condSub, "left_outer").count()
      === 2L * expOuter(subPairs).size)
    assert(aa.union(aa).join(bb, condSup, "left_outer").count()
      === 2L * expOuter(supPairs).size)
    // without the ∅ row, matches must come from the token branches
    // alone and the null-extension set changes accordingly
    val aaN = aa.filter(col("a") =!= 4L)
    val bbN = bb.filter(col("b") =!= 4L)
    val supPairsN = supPairs.filter(p => p._1 != 4L && p._2 != 4L)
    val expN = sets.map(_._1).filter(_ != 4L).flatMap { x =>
      val m = supPairsN.filter(_._1 == x).map(_._2)
      if (m.isEmpty) Seq((x, -1L)) else m.map((x, _))
    }.sorted
    assert(collect(aaN.join(bbN, condSup, "left_outer")) === expN,
      "mirrored outer without the empty-set row")
  }

  test("containment probe key: stopTokens demotes the hot min token, results identical") {
    val s = spark
    import s.implicits._
    // "aa" is the value-order minimum of EVERY set — the hot-bucket
    // regime; demoting it must flip the probe key to the rarest
    // element without changing any verdict (the key may be ANY
    // deterministic element of distinct(sub) — ScaleLaw `containment-skew`
    // measures the law, this pins the mechanics)
    val xy = Seq((1L, "aa p"), (2L, "aa p q"), (3L, "aa r z"),
      (4L, "aa z"), (5L, "aa q"), (6L, "aa p q r z"))
    val df = xy.toDF("id", "s").select(col("id"),
      expr("filter(split(s, ' '), x -> x <> '')").as("toks"))
    val aa = df.select(col("id").as("a"), col("toks").as("ta"))
    val bb = df.select(col("id").as("b"), col("toks").as("tb"))
    val cond = size(array_except(col("ta"), col("tb"))) === 0 &&
      col("a") =!= col("b")
    def pairs(j: org.apache.spark.sql.DataFrame) =
      j.select("a", "b").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSeq.sorted
    val jPlain = aa.join(bb, cond)
    assert(!jPlain.queryExecution.optimizedPlan.toString
      .contains("graft_ssc"), "no surrogate without the conf")
    val base = pairs(jPlain)
    val baseSemi = aa.join(bb, cond, "left_semi").select("a").collect()
      .map(_.getLong(0)).toSeq.sorted
    val baseOuter = pairs(aa.join(bb, cond, "left_outer"))
    spark.conf.set("spark.graft.setsim.stopTokens", "aa")
    try {
      val j = aa.join(bb, cond)
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("graft_sst") && p.contains("graft_ssc"),
        s"demoted key must use the order surrogate:\n${p.take(3000)}")
      assert(pairs(j) === base, "inner parity under demotion")
      assert(aa.join(bb, cond, "left_semi").select("a").collect()
        .map(_.getLong(0)).toSeq.sorted === baseSemi,
        "semi parity under demotion")
      assert(aa.join(bb, cond, "left_anti").count()
        === (xy.size - baseSemi.size).toLong, "anti parity under demotion")
      assert(pairs(aa.join(bb, cond, "left_outer")) === baseOuter,
        "outer parity under demotion")
      // mirrored orientation rides the same key
      val jm = aa.join(bb,
        size(array_except(col("tb"), col("ta"))) === 0 &&
          col("a") =!= col("b"))
      assert(jm.queryExecution.optimizedPlan.toString.contains("graft_ssc"))
      assert(pairs(jm) === base.map { case (x, y) => (y, x) }.sorted)
    } finally spark.conf.unset("spark.graft.setsim.stopTokens")
  }

  test("defense in depth: non-deterministic array side stands down at the rule gate") {
    // Spark's analyzer rejects non-deterministic join conditions, so
    // this shape cannot arrive through the DataFrame API — apply the
    // rule directly to a hand-built plan to pin the rule's OWN guard
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    val (a, b) = frames
    val ap = a.queryExecution.analyzed
    val bp = b.queryExecution.analyzed
    val ta = ap.output.find(_.name == "ta").get
    val tb = bp.output.find(_.name == "tb").get
    val cond = GreaterThanOrEqual(
      Size(ArrayIntersect(Shuffle(ta, Some(42L)), tb)), Literal(3))
    val j = Join(ap, bp, Inner, Some(cond), JoinHint.NONE)
    val out = graft.plans.SetSimilarityJoinBlocking(j)
    assert(!out.output.exists(_.name.startsWith("graft_")) &&
      out.fastEquals(j), out.toString.take(2000))
  }
}
