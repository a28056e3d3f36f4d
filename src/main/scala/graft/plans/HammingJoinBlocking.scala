package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite a naive HAMMING-DISTANCE theta join into a
  * pigeonhole-segment EQUI-join — the q63/q260 manual construction
  * promoted to an engine capability, so a user can WRITE the natural
  * plan
  *
  *   a.join(b, bit_count(a("sig") ^ b("sig")) <= k && ...)
  *
  * and the engine plans the scale-safe form. Three signature spellings
  * are eligible (effective k ≤ 7, INNER / LEFT OUTER / LEFT SEMI /
  * LEFT ANTI joins, bound literal in any comparison direction — `≤ k`,
  * `< k`, `k ≥ …`, `k > …`):
  *
  *   1. SCALAR — `bit_count(l ^ r) ≤ k`, one 32/64-bit integral
  *      signature per side (the round-5 surface);
  *   2. MULTI-WORD — `bit_count(l0 ^ r0) + bit_count(l1 ^ r1) + … ≤ k`,
  *      the natural spelling of a 128-bit-plus SimHash carried as word
  *      columns: the words concatenate into one global bit space and
  *      the k+1 pigeonhole segments split THAT, so a segment may cover
  *      a slice of one word or slices of several (its value is an
  *      array of the covered slices, uniformly long-typed);
  *   3. ARRAY — `aggregate(zip_with(l, r, (x, y) -> bit_count(x ^ y)),
  *      0, (acc, v) -> acc + v) ≤ k`, the spelling for signatures of
  *      UNKNOWN static width (`array<int|bigint>`). Array length is not
  *      available at plan time, so segments interleave at WORD grain:
  *      segment j is the signature with every element whose index ≢ j
  *      (mod k+1) nulled out — a length-agnostic array value. k bit
  *      flips touch ≤ k words, so ≤ k of the k+1 interleaved word
  *      groups differ and at least one segment is exactly equal:
  *      pigeonhole at word grain, valid for ANY length. (Pairs of
  *      different lengths never satisfy the original predicate —
  *      zip_with pads with null and the sum goes null — and the kept
  *      original condition filters any such candidate.)
  *
  * When the join ALSO carries equi-conjuncts (`=` or `<=>`) — e.g. the
  * natural lang-blocked form `lang === lang2 && bit_count(...) <= k` —
  * the rule COMPOSES: the generated segment equality joins the existing
  * keys (the original condition is kept verbatim, so
  * ExtractEquiJoinKeys collects both), turning a per-language nested
  * loop into a (lang, segment)-keyed hash join. The ONLY stand-down:
  * equi-conjuncts exist AND a side already fits under the broadcast
  * threshold — there Spark's BroadcastHashJoin on the existing keys
  * (hamming as a cheap residual) beats paying the (k+1)× explode, so
  * the rule leaves the join alone.
  *
  * Rewrite: both children gain a generated `graft_seg` column exploding
  * the signature into k+1 disjoint segments (hamming ≤ k ⇒ at least one
  * is EXACTLY equal — pigeonhole); the join becomes an equi-join on
  * (seg_idx, seg_val) with the ORIGINAL condition kept, plus a
  * canonical-first-match residual (segment i matches AND all segments
  * j < i differ) so every qualifying pair joins EXACTLY once — bag
  * semantics preserved with no dedup pass. A final Project restores the
  * original output.
  *
  * ExtractEquiJoinKeys then sees the struct-field equalities (plus any
  * composed user keys) and plans a hash/sort-merge join: candidate
  * generation drops from |L|·|R| to Σ_bucket |bucket|² — the measured
  * q63 behavior (`ScaleLaw dedup-simhash`, `srp-lsh`) — with zero
  * changes to user code.
  *
  * LEFT SEMI / LEFT ANTI / LEFT OUTER (round 8) have per-LEFT-ROW
  * semantics: the left gains a row id and [[RewriteSupport]] collapses
  * the segment explode back to left grain. Semi/anti are the
  * decontamination shapes — "corpus docs near SOME eval doc" / "near NO
  * eval doc" — running at segment grain with no canonical residual
  * (semi: one group per matched rid; anti: a row qualifies iff all k+1
  * of its segment rows survived — pigeonhole guarantees a true match
  * claims at least one). Outer keeps the canonical residual (matched
  * pairs exactly once, as in the inner form) and keeps one
  * null-extended representative for match-free rows via a per-rid
  * window match count.
  */
object HammingJoinBlocking extends Rule[LogicalPlan]
    with BlockingJoinSupport {

  private val segColName = "graft_seg"
  private val maxK = 7

  /** One matched hamming bound, reduced to what the rewrite needs: the
    * per-side segment-value builders (same index ⇒ comparable values of
    * [[valueType]]) and the segment count. */
  private case class Blocking(nSeg: Int, valueType: DataType,
      segL: Int => Expression, segR: Int => Expression)

  /** Flatten an additive tree of `bit_count(…)` terms (casts stripped)
    * into the xor arguments, left-to-right. */
  private def bitCountTerms(e: Expression): Option[Seq[Expression]] =
    stripCast(e) match {
      case Add(a, b, _) =>
        for { x <- bitCountTerms(a); y <- bitCountTerms(b) } yield x ++ y
      case BitwiseCount(x) => Some(Seq(x))
      case _ => None
    }

  private def isWord(dt: DataType): Boolean =
    dt == IntegerType || dt == LongType

  private def sameVar(e: Expression, v: NamedLambdaVariable): Boolean =
    stripCast(e) match {
      case n: NamedLambdaVariable => n.exprId == v.exprId
      case _ => false
    }

  /** `(l, r)` when `e` is the array-HOF hamming sum
    * `aggregate(zip_with(l, r, (x, y) -> bit_count(x ^ y)), 0,
    * (acc, v) -> acc + v)` (casts tolerated, xor/add args in either
    * order, identity finish). */
  private def arrayHammingSum(e: Expression): Option[(Expression, Expression)] =
    stripCast(e) match {
      case ArrayAggregate(
          ZipWith(l, r, LambdaFunction(zbody,
            Seq(xv: NamedLambdaVariable, yv: NamedLambdaVariable), _)),
          zero,
          LambdaFunction(mbody,
            Seq(acc: NamedLambdaVariable, mv: NamedLambdaVariable), _),
          finish) =>
        val okZip = stripCast(zbody) match {
          case BitwiseCount(BitwiseXor(a, b)) =>
            (sameVar(a, xv) && sameVar(b, yv)) ||
              (sameVar(a, yv) && sameVar(b, xv))
          case _ => false
        }
        val okZero = zero match {
          case Literal(0, _) | Literal(0L, _) => true
          case _ => false
        }
        val okMerge = stripCast(mbody) match {
          case Add(a, b, _) =>
            (sameVar(a, acc) && sameVar(b, mv)) ||
              (sameVar(a, mv) && sameVar(b, acc))
          case _ => false
        }
        val okFinish = finish match {
          case LambdaFunction(fb,
              Seq(fv: NamedLambdaVariable), _) => sameVar(fb, fv)
          case _ => false
        }
        val okElem = (l.dataType, r.dataType) match {
          case (ArrayType(le, _), ArrayType(re, _)) =>
            isWord(le) && le == re
          case _ => false
        }
        if (okZip && okZero && okMerge && okFinish && okElem) Some((l, r))
        else None
      case _ => None
    }

  /** Bit slice [lo, lo+w) of a single 32/64-bit word. */
  private def slice(sig: Expression, lo: Int, w: Int): Expression = {
    val isLong = sig.dataType == LongType
    val bits = if (isLong) 64 else 32
    val shifted = ShiftRightUnsigned(sig, Literal(lo))
    if (lo + w >= bits) shifted
    else if (isLong) BitwiseAnd(shifted, Literal((1L << w) - 1))
    else BitwiseAnd(shifted, Literal((1 << w) - 1))
  }

  /** Scalar form: (k+1)-way split of one word; the last segment absorbs
    * the remainder. Value type stays the signature's own (the round-5
    * plan shape, unchanged). */
  private def scalarSeg(sig: Expression, i: Int, nSeg: Int): Expression = {
    val bits = if (sig.dataType == LongType) 64 else 32
    val width = bits / nSeg
    val lo = i * width
    slice(sig, lo, if (i == nSeg - 1) bits - lo else width)
  }

  /** Multi-word form: global bit space = the words concatenated; segment
    * i covers a contiguous global range and its value is the ARRAY of
    * per-word slices in that range (uniformly cast to long). */
  private def multiWordSeg(words: Seq[Expression], i: Int,
      nSeg: Int): Expression = {
    val wordBits = words.map(w => if (w.dataType == LongType) 64 else 32)
    val total = wordBits.sum
    val width = total / nSeg
    val glo = i * width
    val ghi = if (i == nSeg - 1) total else glo + width
    var off = 0
    val slices = words.zip(wordBits).flatMap { case (w, b) =>
      val lo = math.max(glo, off)
      val hi = math.min(ghi, off + b)
      val s = if (hi > lo) Some(Cast(slice(w, lo - off, hi - lo), LongType))
        else None
      off += b
      s
    }
    CreateArray(slices)
  }

  /** Array form: segment j nulls out every element whose index ≢ j
    * (mod nSeg) — a length-agnostic word-grain interleave. */
  private def arraySeg(sig: Expression, j: Int, nSeg: Int): Expression = {
    val ArrayType(et, cn) = sig.dataType: @unchecked
    val x = NamedLambdaVariable("graft_x", et, cn)
    val ix = NamedLambdaVariable("graft_i", IntegerType, nullable = false)
    ArrayTransform(sig, LambdaFunction(
      If(EqualTo(Pmod(ix, Literal(nSeg)), Literal(j)), x,
        Literal(null, et)), Seq(x, ix)))
  }

  /** Match one conjunct as a hamming bound in any of the three signature
    * spellings and build the segment machinery. */
  private def blockingOf(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[Blocking] =
    boundedBy(e).filter { case (_, k) => k >= 0 && k <= maxK }
      .flatMap { case (lhs, k) =>
        val nSeg = k + 1
        arrayHammingSum(lhs) match {
          case Some((a, b)) =>
            orient(a, b, left, right).map { case (l, r) =>
              Blocking(nSeg, l.dataType,
                i => arraySeg(l, i, nSeg), i => arraySeg(r, i, nSeg))
            }
          case None => bitCountTerms(lhs).flatMap { xs =>
            val pairs = xs.map {
              case BitwiseXor(a, b)
                  if isWord(a.dataType) && a.dataType == b.dataType =>
                orient(a, b, left, right)
              case _ => None
            }
            if (pairs.exists(_.isEmpty)) None
            else {
              val words = pairs.flatten
              if (words.size == 1) {
                val (l, r) = words.head
                Some(Blocking(nSeg, l.dataType,
                  i => scalarSeg(l, i, nSeg), i => scalarSeg(r, i, nSeg)))
              } else {
                val ls = words.map(_._1)
                val rs = words.map(_._2)
                Some(Blocking(nSeg, ArrayType(LongType, containsNull = false),
                  i => multiWordSeg(ls, i, nSeg),
                  i => multiWordSeg(rs, i, nSeg)))
              }
            }
          }
        }
      }

  private def explodeSegs(child: LogicalPlan, segVals: Seq[Expression],
      valueType: DataType): (LogicalPlan, Attribute) = {
    val structs = segVals.zipWithIndex.map { case (v, i) =>
      CreateNamedStruct(Seq(Literal("idx"), Literal(i),
        Literal("v"), v))
    }
    val out = AttributeReference(segColName,
      StructType(Seq(StructField("idx", IntegerType, nullable = false),
        StructField("v", valueType))))()
    (Generate(Explode(CreateArray(structs)), Nil, outer = false, None,
      Seq(out), child), out)
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, jt, Some(cond), hint)
        // stream-stream joins manage per-key state through the raw
        // join shape — never restructure them (the BandJoinBlocking
        // lesson; same hazard here)
        if rewriteable(jt) && !j.isStreaming &&
          !left.output.exists(_.name == segColName) &&
          !right.output.exists(_.name == segColName) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val blocking = conjuncts.flatMap(c =>
        blockingOf(c, left, right)).headOption
      val standDown = equiBroadcastStandDown(conjuncts, left, right)
      blocking match {
        case Some(b) if !standDown && jt == Inner =>
          val nSeg = b.nSeg
          val (newLeft, segL) =
            explodeSegs(left, (0 until nSeg).map(b.segL), b.valueType)
          val (newRight, segR) =
            explodeSegs(right, (0 until nSeg).map(b.segR), b.valueType)
          val idxL = GetStructField(segL, 0, Some("idx"))
          val idxR = GetStructField(segR, 0, Some("idx"))
          val valL = GetStructField(segL, 1, Some("v"))
          val valR = GetStructField(segR, 1, Some("v"))
          // canonical first match: all segments below the matched index
          // differ, so each qualifying pair survives exactly once
          val canonical = (0 until nSeg).map { i =>
            val below = (0 until i).map(jx =>
              Not(EqualTo(b.segL(jx), b.segR(jx))))
            (EqualTo(idxL, Literal(i)) +: below)
              .reduceLeft[Expression](And)
          }.reduceLeft[Expression](Or)
          val newCond = Seq(EqualTo(idxL, idxR), EqualTo(valL, valR),
            cond, canonical).reduceLeft[Expression](And)
          Project(j.output,
            Join(newLeft, newRight, Inner, Some(newCond), hint))
        case Some(b) if !standDown =>
          // LEFT-SEMI / LEFT-ANTI — the decontamination shapes ("corpus
          // docs near/not-near ANY eval doc") — and LEFT-OUTER (near-dup
          // adjacency keeping isolated rows). Explode the left with a
          // row id and collapse back to left grain per RewriteSupport's
          // doctrine: semi = one group per matched rid (any-match
          // suffices — no canonical residual); anti = rid whose nSeg
          // blocking rows ALL survived (pigeonhole — a true match claims
          // ≥ 1 segment); outer keeps the canonical residual (matched
          // pairs exactly once) plus one null-extended representative
          // for match-free rids.
          val nSeg = b.nSeg
          val (leftW, rid) = RewriteSupport.withRid(left)
          val (newLeft, segL) =
            explodeSegs(leftW, (0 until nSeg).map(b.segL), b.valueType)
          val (newRight, segR) =
            explodeSegs(right, (0 until nSeg).map(b.segR), b.valueType)
          val idxL = GetStructField(segL, 0, Some("idx"))
          val idxR = GetStructField(segR, 0, Some("idx"))
          val valL = GetStructField(segL, 1, Some("v"))
          val valR = GetStructField(segR, 1, Some("v"))
          val canonical = (0 until nSeg).map { i =>
            val below = (0 until i).map(jx =>
              Not(EqualTo(b.segL(jx), b.segR(jx))))
            (EqualTo(idxL, Literal(i)) +: below)
              .reduceLeft[Expression](And)
          }.reduceLeft[Expression](Or)
          val newCond = (Seq(EqualTo(idxL, idxR), EqualTo(valL, valR),
            cond) ++ (if (jt == LeftOuter) Seq(canonical) else Nil))
            .reduceLeft[Expression](And)
          val joined = Join(newLeft, newRight, jt, Some(newCond), hint)
          jt match {
            case LeftSemi =>
              RewriteSupport.regroupSemi(joined, rid, left.output,
                j.output)
            case LeftAnti =>
              RewriteSupport.regroupAnti(joined, rid, left.output,
                j.output, nSeg)
            case _ => // LeftOuter: the segment struct is the marker —
              // generated non-null on every match, null-extended
              // otherwise
              RewriteSupport.collapseOuter(joined, rid, segR,
                EqualTo(idxL, Literal(0)), j.output)
          }
        case _ => j
      }
  }
}
