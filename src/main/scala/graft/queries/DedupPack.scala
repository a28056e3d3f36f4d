package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.functions.Vectors

/** Deduplication for LLM-training-data pipelines (BASELINE.json north-star):
  * exact, MinHash+LSH near-dup, SimHash, token-set Jaccard, and
  * embedding-cosine near-dup — each over the `documents` / `embeddings`
  * tables.
  *
  * Scale design (the point of each shape at 100 TB):
  *   - exact dedup: one hash-shuffle on the content hash; map-side partial
  *     aggregation means duplicate-heavy corpora shrink before the exchange.
  *   - MinHash LSH: the O(n²) pair space is never materialized — docs
  *     explode to (band_key, doc) rows, the self-join runs per band bucket,
  *     and only bucket-colliding candidates are exact-verified. Shuffle is
  *     hash(band_key); skewed buckets split by AQE.
  *   - Jaccard pair-join: blocked on `lang` (a real pipeline blocks on
  *     shard/domain keys) so the quadratic term is bounded per block.
  *   - SimHash: per-doc signature is embarrassingly parallel; candidate
  *     pairing is a band-bucket join on signature halves, same as LSH.
  *   - Cosine near-dup: blocked on `label` (≈ an IVF coarse cell).
  *
  * The LSH demos run on a union-doubled corpus (the testdata has no exact
  * duplicates) so recall on true dups is actually exercised; the doubling is
  * replicated verbatim in the oracle SQL.
  *
  * Oracle parity: all hashing is md5 hex (identical in both engines); token
  * sets via split-and-drop-empties (= DuckDB `list_filter(string_split…)`);
  * similarity ratios are exact-int divisions (bit-equal doubles).
  */
object DedupPack extends QueryPack {

  private def toks(c: Column): Column = TextOps.toks(c)

  private def docToks(s: SparkSession, dir: String): DataFrame =
    Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        array_distinct(toks(col("text"))).as("ts"))

  /** Exact dedup — hash-groupBy on the content hash over a union-doubled
    * corpus: every text appears twice, dedup keeps one survivor per hash
    * (deterministically the min doc_id — the reproducible variant of the
    * reference's arbitrary-survivor `dropDuplicates`, README.md:190).
    */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").select("doc_id", "text")
    d.union(d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min("doc_id").as("keeper_doc_id"))
      .orderBy("text_hash")
  }

  /** Identical-token-set (bag-of-words duplicate) detection by canonical
    * form: group on md5 of the sorted distinct token set. On this corpus
    * this is *exactly* Jaccard ≥ 0.98 (τ = 0.98 on sets of < 50 elements
    * forces |∪| = |∩|, i.e. set identity — the vocabulary is ~31 words),
    * but computed in O(n) with one hash-shuffle instead of an O(n²)
    * pairwise join: the canonical-grouping shape is how set-identity dedup
    * must run at 100 TB. Measured 52 s (pairwise) → sub-second.
    */
  private def q61(s: SparkSession, dir: String): DataFrame =
    docToks(s, dir)
      .withColumn("set_key", md5(concat_ws(" ", array_sort(col("ts")))))
      .groupBy("lang", "set_key")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper_doc_id"))
      .filter(col("n_docs") > 1)
      .orderBy("lang", "set_key")

  /** General exact-Jaccard pair join — the DELIBERATELY-NAIVE O(n²/blocks)
    * pedagogical foil (its scalable twins are q61 canonical grouping and
    * q62 MinHash LSH; the quadratic-vs-LSH law lives in
    * `ScaleLaw dedup-lsh`). Kept on a FIXED-SIZE demonstration
    * slice (1-in-4 systematic sample ∩ doc_id < 1200 — a no-op at the
    * sf0.01 gate, constant above sf0.1) so a by-design-quadratic query
    * cannot distort cross-round wall-time records at higher SFs (the r10
    * sf1 sweep measured it 33× past linear unbounded). Blocked by `lang`,
    * with the PPJoin-style size filter inside the join condition —
    * J(A,B) ≥ τ ⟹ τ·|A| ≤ |B| ≤ |A|/τ — which prunes without changing
    * the result. Jaccard is an exact-int ratio → bit-equal.
    */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val tau = 0.98
    val a = docToks(s, dir)
      .filter(col("doc_id") % 4 === 0 && col("doc_id") < 1200)
      .withColumn("sz", size(col("ts")))
    val b = a.select(col("doc_id").as("doc_id2"), col("lang").as("lang2"),
      col("ts").as("ts2"), col("sz").as("sz2"))
    a.join(b, col("lang") === col("lang2") && col("doc_id") < col("doc_id2")
        && col("sz2") >= ceil(col("sz") * tau)
        && col("sz2") <= floor(col("sz") / tau))
      .withColumn("jaccard",
        size(array_intersect(col("ts"), col("ts2"))) /
          size(array_union(col("ts"), col("ts2"))))
      .filter(col("jaccard") >= tau)
      .select("doc_id", "doc_id2", "lang", "jaccard")
      .orderBy("doc_id", "doc_id2")
  }

  /** q107 — containment dedup (the asymmetric cousin of q65's Jaccard:
    * catches a document whose content is mostly *inside* another —
    * quotes, supersets, partial copies — which symmetric Jaccard misses
    * when sizes differ). C(A→B) = |A∩B|/|A| ≥ τ; blocking and the 1-in-4
    * sample as in q65, with the one-sided size filter C ≥ τ ⟹ |B| ≥ τ|A|
    * inside the join condition.
    */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    val tau = 0.9
    val a = docToks(s, dir).filter(col("doc_id") % 4 === 0)
      .withColumn("sz", size(col("ts")))
    val b = a.select(col("doc_id").as("doc_id2"), col("lang").as("lang2"),
      col("ts").as("ts2"), col("sz").as("sz2"))
    a.join(b, col("lang") === col("lang2") &&
        col("doc_id") =!= col("doc_id2") &&
        col("sz2") >= ceil(col("sz") * tau))
      .withColumn("containment",
        size(array_intersect(col("ts"), col("ts2"))) / col("sz"))
      .filter(col("containment") >= tau)
      .select("doc_id", "doc_id2", "lang", "containment")
      .orderBy("doc_id", "doc_id2")
  }

  // --- MinHash + banded LSH ---------------------------------------------
  // MinHash runs over word 3-gram *shingles*, not unigrams: the corpus
  // vocabulary is tiny (~31 words), so unigram minima collide for nearly
  // every document and the band buckets degenerate to O(n²) — measured as
  // 830 s of an 928 s bench at sf0.1. Shingles are position-sensitive and
  // high-cardinality, so buckets stay O(true duplicates).
  // 8 hash functions = min over shingles of md5(i || '|' || shingle);
  // 4 bands of r=2; band key = md5(band_idx || h_{2i} || h_{2i+1}).
  // Candidates = pairs sharing ≥1 band key; verified = shingle-set
  // Jaccard ≥ 0.9.
  // Shingling, one-pass k-minima signatures (the native
  // [[graft.functions.MinHashSig]] expression; MinHashSigSpec asserts
  // bit-identity with the layered HOF form), and band-key derivation all
  // live in [[graft.functions.MinHashLsh]] — shared with the incremental
  // signature-store path ([[graft.etl.IncrementalDedup]]) so the two
  // cannot drift from the oracle's term-for-term replica.
  private def shingles(text: Column): Column =
    graft.functions.MinHashLsh.shingles(text)
  private def nHashes = graft.functions.MinHashLsh.nHashes
  private def bandR = graft.functions.MinHashLsh.bandR

  /** MinHash signatures + banded LSH candidate generation + exact-Jaccard
    * verification over the union-doubled corpus (copy ids offset by 10^6).
    * Output: verified near-dup pairs.
    *
    * Shuffle discipline (the 100 TB shape): only (band, doc_id) crosses
    * the candidate self-join — never the shingle arrays; pairs dedup on
    * bare ids; the arrays re-join only for the O(candidates) verification.
    */
  private def q62(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir)
      .select("doc_id", "doc_id2", "jaccard")
      .orderBy("doc_id", "doc_id2")

  /** The shared MinHash-LSH verified-pair pipeline (q62 output; q66 edge
    * input).
    */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadParallel(s, dir, "documents").select("doc_id", "text")
    // persist: sig feeds both sides of the band self-join AND both
    // verification joins — without it Spark recomputes the shingle+md5
    // pipeline once per subplan (self-join exchange reuse doesn't cover
    // the differently-projected verification branches).
    //
    // r12: signatures are a PURE function of text, and the union-doubled
    // corpus repeats every text verbatim (only doc_id shifts by 10^6) —
    // so the shingle+minhash+band pipeline runs ONCE on the base corpus
    // and the second copy is an id-shift over the persisted rows (guide
    // §1.2 step 1: don't compute what you already have; halves the
    // dominant map work of the whole q62/q66/q110 family).
    // One signature pass, one cache: each base row EXPLODES to its two
    // corpus-copy ids in the same map stage, so the cached relation is
    // row-identical to the old signatures(doubled) while the shingle+md5
    // pipeline runs once. (Two rejected spellings, measured: a persisted
    // sig0 + lazy union re-paid the saving in per-consumer cache scans;
    // persisting BOTH levels re-paid it in a second columnar encode of
    // the array-heavy rows.)
    val sig = graft.functions.MinHashLsh.signatures(d)
      .select(explode(array(col("doc_id"),
        col("doc_id") + 1000000L)).as("doc_id"), col("sh"), col("bands"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sig.select(col("doc_id"),
      explode(col("bands")).as("band"))
    val pairs = banded.alias("x")
      .join(banded.alias("y"),
        col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("doc_id2"))
      .distinct()
    val sets = sig.select(col("doc_id"), col("sh"))
    pairs
      .join(sets, "doc_id")
      .join(sets.select(col("doc_id").as("doc_id2"), col("sh").as("sh2")),
        "doc_id2")
      .withColumn("jaccard",
        size(array_intersect(col("sh"), col("sh2"))) /
          size(array_union(col("sh"), col("sh2"))))
      .filter(col("jaccard") >= 0.9)
      .select("doc_id", "doc_id2", "jaccard")
  }

  /** q66 — the dedup endgame: verified near-dup pairs → connected
    * components → one keeper per cluster. Components via min-label
    * propagation ([[graft.functions.ConnectedComponents]]); the oracle
    * computes the same closure with a recursive CTE. Output: every node
    * that appears in a near-dup pair, its cluster id (min member), and
    * the keeper flag.
    */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val edges = minhashPairs(s, dir).select("doc_id", "doc_id2")
    graft.functions.ConnectedComponents.run(edges)
      .withColumn("is_keeper",
        when(col("node") === col("component"), 1).otherwise(0))
      .orderBy("node")
  }

  /** q110 — quality-aware dedup decision, the step after q66's clustering:
    * within each near-dup cluster keep the highest-quality member
    * (longest, ties to the lowest id) instead of q66's arbitrary-min-id
    * keeper — what production pipelines actually do with a dup cluster.
    * One extra broadcast-joinable quality column + one window over the
    * (tiny) clustered subset.
    */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = graft.functions.ConnectedComponents
      .run(minhashPairs(s, dir).select("doc_id", "doc_id2"))
    val d = Tables.load(s, dir, "documents").select("doc_id", "text")
    // r12: n_words is a pure function of text — tokenize the base corpus
    // once and explode each row to its two corpus-copy ids (same sharing
    // as minhashPairs' signatures; no persist, single consumer).
    val quality = d.select(explode(array(col("doc_id"),
      col("doc_id") + 1000000L)).as("qid"),
      size(toks(col("text"))).as("n_words"))
    val w = Window.partitionBy("component")
      .orderBy(col("n_words").desc, col("node"))
    comps.join(quality, col("node") === col("qid"))
      .withColumn("is_kept",
        when(row_number().over(w) === 1, 1).otherwise(0))
      .select("node", "component", "n_words", "is_kept")
      .orderBy("node")
  }

  // --- SimHash -----------------------------------------------------------
  // 16-bit SimHash: bit j votes +1/-1 per distinct token according to the
  // parity of hex digit j of md5(token); bit set iff the vote sum is
  // positive. (Production would widen to 64 bits over xxhash64; hex-digit
  // parity keeps the construction expressible identically in the oracle.)
  private val simBits = 16
  private val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")

  /** 16-bit SimHash over an array of *pre-computed* md5 hex digests — the
    * digest is hashed once per token and reused by all 16 bit-votes
    * (inlining md5 into each per-bit lambda would digest every token 16×).
    */
  private def simhash(md5Col: Column): Column =
    (0 until simBits).map { j =>
      val vote = aggregate(md5Col, lit(0), (acc, h) =>
        acc + when(substring(h, j + 1, 1)
          .isin(oddHex: _*), 1).otherwise(-1))
      when(vote > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Per-document 16-bit SimHash signatures + hamming-ball near-dup pairs
    * (hamming ≤ 2, blocked by lang). bit_count(xor) is the hamming distance.
    *
    * Candidate generation is PIGEONHOLE-BLOCKED, not all-pairs: the 16-bit
    * signature splits into 3 disjoint segments (bits 0–5, 6–10, 11–15);
    * hamming ≤ 2 can place its ≤ 2 differing bits in at most 2 segments,
    * so every qualifying pair agrees EXACTLY on at least one segment.
    * Signatures explode to (lang, seg_idx, seg_val) rows, the self-join
    * runs per segment bucket — the same near-linear band shape as q62's
    * LSH join — and only bucket-colliding candidates are hamming-verified.
    * The lang-blocked all-pairs join this replaces was O(n²/|langs|); the
    * segment buckets cut that to Σ_bucket |bucket|² with 2^5–2^6 values
    * per segment, and the verified output is IDENTICAL — pigeonhole is a
    * guarantee, not a recall heuristic. The DuckDB oracle keeps the
    * all-pairs formulation: same result is exactly the claim under test.
    * (Production widens to 64 bits / 33 segments for hamming ≤ 32·k; the
    * construction is the standard one from Manku et al., WWW'07 §3.)
    */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val sigs = docToks(s, dir)
      .withColumn("m", transform(col("ts"), t => md5(t)))
      .select(col("doc_id"), col("lang"), simhash(col("m")).as("simhash"))
    // Unlike q62's MinHash join — where only (band, doc_id) may cross the
    // shuffle because the shingle ARRAYS are heavy — the SimHash signature
    // is one int, so it rides through the segment join and hamming
    // verification runs inline on the join output: no verification
    // join-backs at all. The distinct collapses the ≤3-segment multiplicity
    // of each verified pair.
    val segs = sigs.select(col("doc_id"), col("lang"), col("simhash"),
        explode(array(
          struct(lit(0).as("seg_idx"),
            col("simhash").bitwiseAND(lit(0x3f)).as("seg_val")),
          struct(lit(1).as("seg_idx"),
            shiftright(col("simhash"), 6).bitwiseAND(lit(0x1f)).as("seg_val")),
          struct(lit(2).as("seg_idx"),
            shiftright(col("simhash"), 11).as("seg_val")))).as("seg"))
      .select(col("doc_id"), col("lang"), col("simhash"),
        col("seg.seg_idx").as("seg_idx"), col("seg.seg_val").as("seg_val"))
    segs.alias("x").join(segs.alias("y"),
        col("x.lang") === col("y.lang") &&
          col("x.seg_idx") === col("y.seg_idx") &&
          col("x.seg_val") === col("y.seg_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("doc_id2"),
        col("x.simhash").as("simhash"), col("y.simhash").as("simhash2"))
      .withColumn("hamming",
        bit_count(col("simhash").bitwiseXOR(col("simhash2"))))
      .filter(col("hamming") <= 2)
      .distinct()
      .orderBy("doc_id", "doc_id2")
  }

  // --- q277: production-width SimHash via the hamming rule -----------------

  private val sim64Bits = 60

  private val pow2L: Array[Long] = Array.tabulate(sim64Bits)(j => 1L << j)

  /** q277 — the PRODUCTION-WIDTH SimHash q63's scaladoc prescribes
    * (width ~2·log₂ n; 60 bits here — 60 not 64 because DuckDB's `<<`
    * overflow-checks BIGINT, and 60 splits evenly into the rule's 4
    * pigeonhole segments for hamming ≤ 3), written NAIVELY on purpose:
    * the pair stage is a plain `bit_count(sig ⊕ sig2) ≤ 3 ∧ id < id2`
    * theta self-join with no blocking anywhere in the query — the
    * [[graft.plans.HammingJoinBlocking]] rule plans the segment
    * equi-join (PlanShapeSpec pins it). Signature construction is ONE
    * aggregate per document with a 60-vote ARRAY accumulator (not 60
    * separate aggregates): each token's md5 contributes ±1 per bit via
    * nibble arithmetic, then the sign vector assembles against a
    * literal power-of-two array. No lang blocking — at production
    * width the hamming ball alone is selective (the
    * `ScaleLaw srp-lsh` width law), so the operator needs no metadata
    * crutch.
    */
  /** (doc_id, sig): the 60-bit SimHash over a (doc_id, ts tokens)
    * relation — q277's signature stage, shared with the rule scale
    * probe. One aggregate per doc with a 60-vote array accumulator. */
  private[graft] def sim64Sigs(docs: DataFrame): DataFrame = {
    val bitsOf = (h: Column) =>
      transform(sequence(lit(0), lit(sim64Bits - 1)), j =>
        call_function("shiftright",
          conv(h.substr((call_function("div", j, lit(4)) + 1).cast("int"),
            lit(1)), 16, 10).cast("int"),
          j % 4).bitwiseAND(lit(1)) * 2 - 1)
    docs
      .withColumn("m", transform(col("ts"), t => md5(t)))
      .withColumn("votes", aggregate(col("m"),
        array_repeat(lit(0), sim64Bits),
        (acc, h) => zip_with(acc, bitsOf(h), (a, b) => a + b)))
      .select(col("doc_id"),
        aggregate(
          zip_with(col("votes"), array(pow2L.map(lit(_)): _*),
            (v, p) => when(v > 0, p).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("sig"))
  }

  private def q277(s: SparkSession, dir: String): DataFrame = {
    val sigs = sim64Sigs(docToks(s, dir))
      // both sides of the self-join read this: one signature pass, not two
      .persist()
    val y = sigs.select(col("doc_id").as("doc_id2"), col("sig").as("sig2"))
    sigs.join(y,
        bit_count(col("sig").bitwiseXOR(col("sig2"))) <= 3 &&
          col("doc_id") < col("doc_id2"))
      .select(col("doc_id"), col("doc_id2"),
        bit_count(col("sig").bitwiseXOR(col("sig2"))).as("hamming"))
      .orderBy("doc_id", "doc_id2")
  }

  // --- q292: 120-bit SimHash as two words via the multi-word rule ----------

  private val simWideWords = 2 // 2 × 60 bits = 120-bit signature

  /** q292 — SimHash BEYOND one machine word: a 120-bit signature carried
    * as TWO 60-bit BIGINT columns (production SimHash is 128-bit; 120 =
    * 2×60 keeps every word DuckDB-`<<`-safe, the q277 constraint), with
    * the pair stage written NAIVELY as the summed spelling
    * `bit_count(s0 ⊕ t0) + bit_count(s1 ⊕ t1) ≤ 3 ∧ id < id2` — no
    * blocking anywhere in the query. [[graft.plans.HammingJoinBlocking]]
    * (round 7) recognizes the multi-word sum, concatenates the words
    * into one 120-bit space, and equi-joins on 4 pigeonhole segments
    * whose values are arrays of per-word slices — closing the round-6
    * width cap (32/64-bit only) that made production-width signatures
    * fall back to the nested loop. Signature construction is q277's
    * single 120-vote array aggregate; words assemble from vote slices.
    */
  private[graft] def simWideSigs(docs: DataFrame): DataFrame = {
    val wideBits = simWideWords * sim64Bits
    val bitsOf = (h: Column) =>
      transform(sequence(lit(0), lit(wideBits - 1)), j =>
        call_function("shiftright",
          conv(h.substr((call_function("div", j, lit(4)) + 1).cast("int"),
            lit(1)), 16, 10).cast("int"),
          j % 4).bitwiseAND(lit(1)) * 2 - 1)
    def wordOf(votes: Column, w: Int): Column =
      aggregate(
        zip_with(slice(votes, w * sim64Bits + 1, sim64Bits),
          array(pow2L.map(lit(_)): _*),
          (v, p) => when(v > 0, p).otherwise(0L)),
        lit(0L), (acc, x) => acc + x)
    docs
      .withColumn("m", transform(col("ts"), t => md5(t)))
      .withColumn("votes", aggregate(col("m"),
        array_repeat(lit(0), wideBits),
        (acc, h) => zip_with(acc, bitsOf(h), (a, b) => a + b)))
      .select(col("doc_id"), wordOf(col("votes"), 0).as("sig0"),
        wordOf(col("votes"), 1).as("sig1"))
  }

  private def q292(s: SparkSession, dir: String): DataFrame = {
    val sigs = simWideSigs(docToks(s, dir))
      // both sides of the self-join read this: one signature pass
      .persist()
    val y = sigs.select(col("doc_id").as("doc_id2"), col("sig0").as("t0"),
      col("sig1").as("t1"))
    val ham = bit_count(col("sig0").bitwiseXOR(col("t0"))) +
      bit_count(col("sig1").bitwiseXOR(col("t1")))
    sigs.join(y, ham <= 3 && col("doc_id") < col("doc_id2"))
      .select(col("doc_id"), col("doc_id2"),
        ham.cast("int").as("hamming"))
      .orderBy("doc_id", "doc_id2")
  }

  /** Embedding-cosine near-dup pairs, blocked by `label` (the IVF-cell
    * shape). τ = 0.40, calibrated: the synthetic vectors are near-orthogonal
    * (max pairwise cos ≈ 0.47), so the production τ ≈ 0.95 would select
    * nothing; the operator, not the corpus, is under test. Cosine is
    * computed in double with an explicit sequential fold so the oracle's
    * loop matches; emitted rounded to 6 (noise-absorbing, see QueryPack).
    *
    * Cost control: this is the EXACT ground-truth operator (q172 SemDeDup
    * is the scale path for full-corpus runs), and unlike q65's Jaccard
    * there is no result-preserving size filter — cosine is scale-invariant,
    * so no per-vector scalar bounds the pair predicate. The quadratic term
    * is therefore bounded the same way q65/q107 bound theirs: a 1-in-2
    * systematic sample (mirrored in the oracle) cuts the pair space 4×,
    * and the `label` equi-key keeps the join hash-partitioned (never a
    * nested-loop cross). Exactness within the sampled stratum is the
    * contract; full-corpus near-dup goes through q172's cluster blocking.
    */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    // Norms are hoisted to the per-vector relation: the pairwise stage then
    // folds ONE dot product per pair instead of three (the ‖a‖/‖b‖ folds
    // would otherwise be recomputed O(n²/blocks) times). Same IEEE op
    // sequence per value → still bit-equal with the oracle.
    val e = Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Vectors.dot(col("v"), col("v"))))
    val b = e.select(col("vec_id").as("vec_id2"), col("label").as("label2"),
      col("v").as("v2"), col("nrm").as("nrm2"))
    e.join(b, col("label") === col("label2") && col("vec_id") < col("vec_id2"))
      .withColumn("cos",
        Vectors.dot(col("v"), col("v2")) / (col("nrm") * col("nrm2")))
      .filter(col("cos") >= 0.40)
      .select(col("vec_id"), col("vec_id2"), col("label"),
        round(col("cos"), 6).as("cos6"))
      .orderBy("vec_id", "vec_id2")
  }

  /** q188 — MinHash estimate-quality audit: over the LSH candidate pairs
    * (the same banding as q62, pre-verification), compare the signature-
    * agreement Jaccard ESTIMATE (matching components / k) against the
    * exact shingle Jaccard, and report the error profile — the index-
    * quality evaluation for the dedup path, exactly what q109/q187 are
    * for the ANN path. With k = 8 the estimate quantizes to eighths, so
    * nonzero error is structural; what matters (and what the spec pins)
    * is that candidates the bands surfaced skew toward high agreement.
    *
    * Both ratios are single divisions of small exact ints — bit-identical
    * cross-engine; only the mean over pairs rounds.
    */
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadParallel(s, dir, "documents").select("doc_id", "text")
    // r12: same signature-sharing as minhashPairs — the doubled copy's
    // texts are verbatim repeats, so hash once and id-shift the rows.
    val sig = graft.functions.MinHashLsh.signaturesFull(d)
      .select(explode(array(col("doc_id"),
        col("doc_id") + 1000000L)).as("doc_id"), col("sh"), col("hs"),
        col("bands"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sig.select(col("doc_id"), explode(col("bands")).as("band"))
    val pairs = banded.alias("x")
      .join(banded.alias("y"),
        col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("doc_id2"))
      .distinct()
    val left = sig.select(col("doc_id"), col("sh"), col("hs"))
    val right = sig.select(col("doc_id").as("doc_id2"),
      col("sh").as("sh2"), col("hs").as("hs2"))
    val est = size(filter(
      zip_with(col("hs"), col("hs2"), (a, b) => a === b), x => x))
      ./(lit(graft.functions.MinHashLsh.nHashes))
    val exact = size(array_intersect(col("sh"), col("sh2"))) /
      size(array_union(col("sh"), col("sh2")))
    pairs.join(left, "doc_id").join(right, "doc_id2")
      .select(est.as("est"), exact.as("ex"))
      .select(abs(col("est") - col("ex")).as("ae"),
        (col("est") > col("ex")).cast("long").as("over"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg("ae"), 6).as("mean_abs_err6"),
        round(max("ae"), 6).as("max_abs_err6"),
        sum("over").as("n_overestimates"))
  }

  override val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q60_exact_dedup" -> q60 _,
    "q61_set_dedup" -> q61 _,
    "q62_minhash_lsh" -> q62 _,
    "q63_simhash" -> q63 _,
    "q277_simhash64_rule" -> q277 _,
    "q292_simhash128_rule" -> q292 _,
    "q64_cosine_dup" -> q64 _,
    "q65_jaccard_pairs" -> q65 _,
    "q107_containment_pairs" -> q107 _,
    "q66_dup_clusters" -> q66 _,
    "q110_quality_dedup" -> q110 _,
    "q188_minhash_error" -> q188 _)

  // DuckDB twins: the minhash/simhash SQL is generated from the same
  // constants so both sides cannot drift.
  private val duckToks =
    "list_distinct(list_filter(string_split(text,' '), x -> x <> ''))"

  private val duckShingles =
    """CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |     ELSE list_distinct(list_transform(
      |       generate_series(1, len(tk) - 2),
      |       i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) END"""
      .stripMargin

  private def duckMinhash(i: Int): String =
    s"list_min(list_transform(m, x -> substring(x, ${4 * i + 1}, 8))) AS h$i"

  private def duckBand(b: Int): String =
    s"md5('$b|' || " +
      (b * bandR until (b + 1) * bandR).map(i => s"h$i").mkString(" || ") + ")"

  /** Shared CTE chain ending in `verified(doc_id, doc_id2, jaccard)` —
    * q62's output relation and q66's edge input, generated from the same
    * constants as the Spark side.
    */
  private def duckPairCtes: String =
    s"""doubled AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents),
       |sig AS (
       | SELECT doc_id, sh,
       |  ${(0 until nHashes).map(duckMinhash).mkString(",\n  ")}
       | FROM (SELECT doc_id, sh, list_transform(sh, x -> md5(x)) AS m
       |       FROM (SELECT doc_id, $duckShingles AS sh
       |         FROM (SELECT doc_id,
       |           list_filter(string_split(text,' '), x -> x <> '') AS tk
       |           FROM doubled)))),
       |banded AS (
       | SELECT doc_id, unnest([
       |  ${(0 until nHashes / bandR).map(duckBand).mkString(",\n  ")}]) AS band
       | FROM sig),
       |pairs AS (
       | SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS doc_id2
       | FROM banded x JOIN banded y
       |   ON x.band = y.band AND x.doc_id < y.doc_id),
       |cand AS (
       | SELECT p.doc_id, p.doc_id2, a.sh AS sh, b.sh AS sh2
       | FROM pairs p
       |  JOIN sig a ON p.doc_id = a.doc_id
       |  JOIN sig b ON p.doc_id2 = b.doc_id),
       |verified AS (
       | SELECT doc_id, doc_id2,
       |  CAST(len(list_intersect(sh, sh2)) AS INT)
       |    / CAST(len(list_distinct(list_concat(sh, sh2))) AS INT) AS jaccard
       | FROM cand
       | WHERE CAST(len(list_intersect(sh, sh2)) AS INT)
       |    / CAST(len(list_distinct(list_concat(sh, sh2))) AS INT) >= 0.9)"""
      .stripMargin

  private def duckSimBit(j: Int): String =
    s"CASE WHEN list_sum(list_transform(m, h -> CASE WHEN substring(h, ${j + 1}, 1) IN (${oddHex.map("'" + _ + "'").mkString(",")}) THEN 1 ELSE -1 END)) > 0 THEN ${1 << j} ELSE 0 END"

  override val oracle: Seq[(String, String)] = Seq(
    "q60_exact_dedup" ->
      """WITH doubled AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id, text FROM documents)
        |SELECT md5(text) AS text_hash, count(*) AS n_copies,
        | min(doc_id) AS keeper_doc_id
        |FROM doubled GROUP BY 1 ORDER BY text_hash""".stripMargin,
    "q61_set_dedup" ->
      s"""WITH t AS (SELECT doc_id, lang, $duckToks AS ts FROM documents)
         |SELECT lang, md5(array_to_string(list_sort(ts), ' ')) AS set_key,
         | count(*) AS n_docs, min(doc_id) AS keeper_doc_id
         |FROM t GROUP BY 1, 2 HAVING count(*) > 1
         |ORDER BY lang, set_key""".stripMargin,
    "q65_jaccard_pairs" ->
      s"""WITH t AS (SELECT doc_id, lang, $duckToks AS ts FROM documents
         |           WHERE doc_id % 4 = 0 AND doc_id < 1200)
         |SELECT a.doc_id, b.doc_id AS doc_id2, a.lang,
         | CAST(len(list_intersect(a.ts, b.ts)) AS INT)
         |   / CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS INT)
         |   AS jaccard
         |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
         | AND len(b.ts) >= ceil(len(a.ts) * 0.98)
         | AND len(b.ts) <= floor(len(a.ts) / 0.98)
         |WHERE CAST(len(list_intersect(a.ts, b.ts)) AS INT)
         |   / CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS INT) >= 0.98
         |ORDER BY a.doc_id, doc_id2""".stripMargin,
    "q107_containment_pairs" ->
      s"""WITH t AS (SELECT doc_id, lang, $duckToks AS ts FROM documents
         |           WHERE doc_id % 4 = 0)
         |SELECT a.doc_id, b.doc_id AS doc_id2, a.lang,
         | CAST(len(list_intersect(a.ts, b.ts)) AS INT)
         |   / CAST(len(a.ts) AS INT) AS containment
         |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id <> b.doc_id
         | AND len(b.ts) >= ceil(len(a.ts) * 0.9)
         |WHERE CAST(len(list_intersect(a.ts, b.ts)) AS INT)
         |   / CAST(len(a.ts) AS INT) >= 0.9
         |ORDER BY a.doc_id, doc_id2""".stripMargin,
    "q62_minhash_lsh" ->
      s"""WITH $duckPairCtes
         |SELECT doc_id, doc_id2, jaccard FROM verified
         |ORDER BY doc_id, doc_id2""".stripMargin,
    "q66_dup_clusters" ->
      s"""WITH RECURSIVE $duckPairCtes,
         |edges AS (
         | SELECT doc_id AS a, doc_id2 AS b FROM verified
         | UNION SELECT doc_id2 AS a, doc_id AS b FROM verified),
         |reach(a, b) AS (
         | SELECT a, b FROM edges
         | UNION
         | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS node, least(a, min(b)) AS component,
         | CASE WHEN least(a, min(b)) = a THEN 1 ELSE 0 END AS is_keeper
         |FROM reach GROUP BY a ORDER BY node""".stripMargin,
    "q110_quality_dedup" ->
      s"""WITH RECURSIVE $duckPairCtes,
         |edges AS (
         | SELECT doc_id AS a, doc_id2 AS b FROM verified
         | UNION SELECT doc_id2 AS a, doc_id AS b FROM verified),
         |reach(a, b) AS (
         | SELECT a, b FROM edges
         | UNION
         | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (
         | SELECT a AS node, least(a, min(b)) AS component
         | FROM reach GROUP BY a),
         |quality AS (
         | SELECT doc_id AS qid,
         |  CAST(len(list_filter(string_split(text,' '), x -> x <> ''))
         |    AS INT) AS n_words
         | FROM doubled)
         |SELECT c.node, c.component, q.n_words,
         | CASE WHEN row_number() OVER (PARTITION BY c.component
         |   ORDER BY q.n_words DESC, c.node) = 1 THEN 1 ELSE 0 END
         |   AS is_kept
         |FROM comp c JOIN quality q ON q.qid = c.node
         |ORDER BY c.node""".stripMargin,
    "q277_simhash64_rule" ->
      s"""WITH t0 AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |m AS (SELECT doc_id, list_transform(ts, t -> md5(t)) AS m
         | FROM t0),
         |v AS (SELECT doc_id,
         |  list_transform(generate_series(0, ${sim64Bits - 1}), j ->
         |   coalesce(list_sum(list_transform(m, h ->
         |    ((CAST('0x' || substring(h, j // 4 + 1, 1) AS INT)
         |      >> (j % 4)) & 1) * 2 - 1)), 0)) AS votes
         | FROM m),
         |sigs AS (SELECT doc_id,
         |  CAST(coalesce(list_sum(list_transform(
         |    generate_series(1, $sim64Bits), i ->
         |    CASE WHEN votes[i] > 0
         |     THEN CAST([${pow2L.mkString(", ")}][i] AS BIGINT)
         |     ELSE 0 END)), 0) AS BIGINT) AS sig
         | FROM v)
         |SELECT a.doc_id, b.doc_id AS doc_id2,
         | CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY a.doc_id, doc_id2""".stripMargin,
    "q292_simhash128_rule" ->
      s"""WITH t0 AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |m AS (SELECT doc_id, list_transform(ts, t -> md5(t)) AS m
         | FROM t0),
         |v AS (SELECT doc_id,
         |  list_transform(generate_series(0, ${simWideWords * sim64Bits - 1}),
         |   j -> coalesce(list_sum(list_transform(m, h ->
         |    ((CAST('0x' || substring(h, j // 4 + 1, 1) AS INT)
         |      >> (j % 4)) & 1) * 2 - 1)), 0)) AS votes
         | FROM m),
         |sigs AS (SELECT doc_id,
         |  CAST(coalesce(list_sum(list_transform(
         |    generate_series(1, $sim64Bits), i ->
         |    CASE WHEN votes[i] > 0
         |     THEN CAST([${pow2L.mkString(", ")}][i] AS BIGINT)
         |     ELSE 0 END)), 0) AS BIGINT) AS sig0,
         |  CAST(coalesce(list_sum(list_transform(
         |    generate_series(1, $sim64Bits), i ->
         |    CASE WHEN votes[i + $sim64Bits] > 0
         |     THEN CAST([${pow2L.mkString(", ")}][i] AS BIGINT)
         |     ELSE 0 END)), 0) AS BIGINT) AS sig1
         | FROM v)
         |SELECT a.doc_id, b.doc_id AS doc_id2,
         | CAST(bit_count(xor(a.sig0, b.sig0))
         |   + bit_count(xor(a.sig1, b.sig1)) AS INT) AS hamming
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig0, b.sig0))
         |  + bit_count(xor(a.sig1, b.sig1)) <= 3
         |ORDER BY a.doc_id, doc_id2""".stripMargin,
    "q63_simhash" ->
      s"""WITH t0 AS (SELECT doc_id, lang, $duckToks AS ts FROM documents),
         |t AS (SELECT doc_id, lang,
         |  list_transform(ts, t -> md5(t)) AS m FROM t0),
         |sigs AS (
         | SELECT doc_id, lang,
         |  CAST(${(0 until simBits).map(duckSimBit).mkString("\n   + ")} AS INT)
         |    AS simhash
         | FROM t)
         |SELECT a.doc_id, b.doc_id AS doc_id2,
         | a.simhash, b.simhash AS simhash2,
         | CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sigs a JOIN sigs b
         | ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
         |ORDER BY a.doc_id, doc_id2""".stripMargin,
    "q64_cosine_dup" ->
      """WITH e AS (
        | SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |       CAST(embedding AS DOUBLE[]))) AS nrm
        | FROM embeddings WHERE vec_id % 2 = 0)
        |SELECT a.vec_id, b.vec_id AS vec_id2, a.label,
        | round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos6
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.40
        |ORDER BY a.vec_id, vec_id2""".stripMargin,
    "q188_minhash_error" ->
      s"""WITH $duckPairCtes,
         |c AS (
         | SELECT
         |  (${(0 until graft.functions.MinHashLsh.nHashes)
             .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
             .mkString(" + ")})
         |    / ${graft.functions.MinHashLsh.nHashes} AS est,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS INT)
         |    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS INT)
         |    AS ex
         | FROM pairs p
         |  JOIN sig a ON p.doc_id = a.doc_id
         |  JOIN sig b ON p.doc_id2 = b.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         | round(avg(abs(est - ex)), 6) AS mean_abs_err6,
         | round(max(abs(est - ex)), 6) AS max_abs_err6,
         | CAST(sum(CASE WHEN est > ex THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_overestimates
         |FROM c""".stripMargin)
}
