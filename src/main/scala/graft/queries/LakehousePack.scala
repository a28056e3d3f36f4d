package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.etl.Lakehouse

/** Lakehouse maintenance + scale-technique queries: CDC upsert, SCD2
  * dimension history, temporal-range attribution join, and two-stage
  * salted aggregation. These are the table-evolution operators a medallion
  * lake needs beyond the reference's full-rebuild CTAS layer
  * (reference `README.md:248-344`), plus the skew playbook entry promoted
  * to an oracle-checked query.
  *
  * Oracle parity: all time arithmetic at µs ([[Tables.tsMicros]]); upsert
  * price arithmetic is row-level exact-double; the salted aggregate rounds
  * its double sum to 2 (multi-row accumulation rule, QueryPack scaladoc).
  */
object LakehousePack extends QueryPack {

  /** q76 — CDC upsert (MERGE): a deterministic update batch (5% price
    * corrections + a disjoint insert set) merged into `orders`.
    * `updates ∪ (base ▷ updates)`: the anti-join broadcasts the CDC batch,
    * so the base table never shuffles.
    */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val updates = base.filter(col("o_orderkey") % 100 < 5)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 100.0).as("o_totalprice"))
      // insert keys mirrored negative: disjoint from the non-negative
      // base keyspace at EVERY scale factor (a fixed offset collides
      // once keys outgrow it)
      .unionByName(base.filter(col("o_orderkey") % 100 === 0)
        .select((-col("o_orderkey") - 1).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice")))
    Lakehouse.upsert(base, updates, "o_orderkey").orderBy("o_orderkey")
  }

  /** q77 — SCD Type-2 history over the event stream: each user's
    * `event_type` runs become versioned records with
    * `[valid_from, valid_to)` ranges and a current flag.
    */
  private def q77(s: SparkSession, dir: String): DataFrame =
    Lakehouse.scd2History(
      Tables.load(s, dir, "events")
        .withColumn("ts_us", Tables.tsMicros(col("ts"))),
      "user_id", "event_type", col("ts_us"), col("event_id"))
      .orderBy("user_id", "valid_from")

  /** q78 — temporal-range attribution join: clicks by the same user in
    * the hour before each purchase. Equi-key (user) + range predicate:
    * the shuffle co-partitions on the equi key and the range filter runs
    * post-match — the scalable shape for point-in-interval joins (a pure
    * range join with no equi key would need interval bucketing).
    */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("ts_us", Tables.tsMicros(col("ts")))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts_us").as("p_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"))
    p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"), "left")
      .groupBy("p_id")
      .agg(count(col("c_ts")).as("n_clicks_1h"))
      .orderBy("p_id")
  }

  /** q79 — two-stage salted aggregation: pre-aggregate on
    * (key, salt=id mod 16), then finalize per key. Bag-equal to the plain
    * aggregate (the oracle is the unsalted SQL) — the manual fix for a
    * skewed groupBy where one hot key would otherwise pin a single
    * reducer; the partial stage spreads each key over 16 reducers. See
    * [[graft.functions.Salting]] for the join-side variant.
    */
  private def q79(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .withColumn("__salt", pmod(col("event_id"), lit(16L)).cast("int"))
      .groupBy("event_type", "__salt")
      .agg(count(lit(1)).as("c"),
        sum(round(col("value") * 10000).cast("long")).as("v"))
      .groupBy("event_type")
      .agg(sum("c").as("n_events"),
        money2(sum("v")).as("total_value"))
      .orderBy("event_type")

  /** q129 — incremental aggregate maintenance (materialized-view merge):
    * the monthly order rollup computed as partial aggregates over a base
    * snapshot UNION partials over a delta batch, re-aggregated — the
    * algebraic-merge identity (`sum` of sums, `sum` of counts) that lets
    * a 100 TB rollup absorb a delta by scanning ONLY the delta. The
    * oracle is the full recompute, so the gate proves
    * merge(partial(base), partial(delta)) ≡ aggregate(base ∪ delta).
    * Money in exact integer cents so the identity is bit-exact.
    */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    val cut = "1999-01-01"
    val o = Tables.load(s, dir, "orders")
      .withColumn("month", date_trunc("month", col("o_orderdate")))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy("month")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
    partial(o.filter(col("o_orderdate") < lit(cut)))
      .unionByName(partial(o.filter(col("o_orderdate") >= lit(cut))))
      .groupBy("month")
      .agg(sum("n_orders").as("n_orders"),
        (sum("cents") / 100.0).as("total_price"))
      .orderBy("month")
  }

  /** q130 — snapshot diff (CDC generation): classify every key across
    * two table versions as inserted / deleted / updated / unchanged via
    * one full-outer join on the key. The new version is derived
    * deterministically from `orders` (5%-bucket price updates, mirrored-
    * negative inserts, one deleted bucket — q76's batch plus deletes).
    * At scale this is THE way to produce a change feed between
    * snapshots without a transaction log; the join shuffles both sides
    * on the key once.
    */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val newVer = base
      .filter(col("o_orderkey") % 100 =!= 7) // bucket 7 deleted
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 100 < 5, "U").otherwise(col("o_orderstatus")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 100 < 5, col("o_totalprice") + 100.0)
          .otherwise(col("o_totalprice")))
      .unionByName(base.filter(col("o_orderkey") % 100 === 0)
        .select((-col("o_orderkey") - 1).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice")))
    val old = base.select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("old_status"), col("o_totalprice").as("old_price"))
    val neu = newVer.select(col("o_orderkey").as("k2"),
      col("o_orderstatus").as("new_status"), col("o_totalprice").as("new_price"))
    old.join(neu, col("k") === col("k2"), "full_outer")
      .withColumn("change_type",
        when(col("k").isNull, "inserted")
          .when(col("k2").isNull, "deleted")
          .when(!(col("old_status") <=> col("new_status")) ||
            !(col("old_price") <=> col("new_price")), "updated")
          .otherwise("unchanged"))
      .groupBy("change_type")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("change_type")
  }

  /** q131 — multi-touch attribution over the q78 range join: each
    * purchase's value credited to the user's click/view touches in the
    * preceding hour under three models at once — first-touch (100% to
    * the earliest), last-touch (100% to the latest), linear (split
    * 1/n). Revenue per touch type per model. Credits are computed
    * per-row in exact integer micro-units (round(cents·10⁴/n)) so the
    * cross-engine sums are bit-exact; purchases with no touches drop
    * out (observed-attribution semantics).
    */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(s, dir, "events")
      .withColumn("ts_us", Tables.tsMicros(col("ts")))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts_us").as("p_ts"),
        round(col("value") * 100).cast("long").as("p_cents"))
    val t = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("t_user"), col("ts_us").as("t_ts"),
        col("event_type").as("touch_type"), col("event_id").as("t_id"))
    val joined = p.join(t,
      col("p_user") === col("t_user") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("t_ts") < col("p_ts"))
    val wAsc = Window.partitionBy("p_id").orderBy(col("t_ts"), col("t_id"))
    val wDesc = Window.partitionBy("p_id")
      .orderBy(col("t_ts").desc, col("t_id").desc)
    joined
      .withColumn("n_touches", count(lit(1)).over(Window.partitionBy("p_id")))
      .withColumn("is_first", (row_number().over(wAsc) === 1).cast("long"))
      .withColumn("is_last", (row_number().over(wDesc) === 1).cast("long"))
      .withColumn("linear_e6",
        round(col("p_cents") * lit(10000.0) / col("n_touches")).cast("long"))
      .groupBy("touch_type")
      .agg(
        (sum(col("is_first") * col("p_cents")) / 100.0).as("first_touch_rev"),
        (sum(col("is_last") * col("p_cents")) / 100.0).as("last_touch_rev"),
        (sum("linear_e6") / 1000000.0).as("linear_rev"),
        count(lit(1)).as("n_touches_total"))
      .orderBy("touch_type")
  }

  /** q193 — schema-evolution read: the pre-1995 order snapshot predates
    * the `o_orderstatus`/`o_orderpriority` columns (the classic "column
    * added later" lake layout — old partition files simply lack the
    * field), and `unionByName(allowMissingColumns = true)` re-unifies
    * the two vintages with NULL back-fill — the Spark-native form of
    * parquet schema-merge-on-read. The per-year report then counts
    * exactly how much of each year's data carries the evolved columns,
    * which is the audit a reader runs before trusting a late-added
    * field. Revenue sums in exact integer cents (q127 doctrine);
    * `count(col)` / `count(DISTINCT col)` skip NULLs identically in
    * both engines, so the back-fill itself is what's being value-checked.
    *
    * Scale: two partition-pruned scans of the same table union
    * map-side — no shuffle until the year-grain aggregate.
    */
  private def q193(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val legacy = o.filter(col("o_orderdate") < "1995-01-01")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val evolved = o.filter(col("o_orderdate") >= "1995-01-01")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "o_orderstatus", "o_orderpriority")
    legacy.unionByName(evolved, allowMissingColumns = true)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        count(col("o_orderpriority")).as("n_with_priority"),
        countDistinct(col("o_orderstatus")).as("n_statuses"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
          .as("revenue"))
      .orderBy("yr")
  }

  // --- q267: crawler-style table profile -----------------------------------

  // (column, kind): num → min/max as double, ts → min/max as epoch-µs
  // double, str → lexicographic min/max. Single source of truth for the
  // Spark construction AND the generated oracle SQL.
  private val profileCols = Seq(
    ("o_orderkey", "num"), ("o_custkey", "num"), ("o_orderstatus", "str"),
    ("o_totalprice", "num"), ("o_orderdate", "ts"),
    ("o_orderpriority", "str"))

  /** q267 — ANALYZE-style table profile: per column of `orders`, the
    * row count, EXACT distinct count, null count, and typed min/max
    * (numerics/timestamps as doubles — timestamps via epoch-µs so no
    * string-formatting parity surface exists; strings lexicographic).
    * The native analog of the reference's Glue-crawler + catalog-stats
    * layer (reference README.md's crawler step): the stats that feed
    * partition planning, CBO-style join sizing (q240's estimator audit
    * consumes exactly these), and schema-drift tripwires. ONE scan: all
    * 6 columns' stats accumulate in a single aggregate (the multi-
    * COUNT(DISTINCT) expand — the q92 shape — trades one pass over 6×
    * expanded rows for 6 scans; at 100 TB swap exact ndv for the q-HLL
    * sketches per the in-code note), then a 6-struct explode unpivots
    * the 1-row result to column grain. min(cast) = cast(min) for the
    * monotone double casts, so the oracle's aggregate-then-cast order
    * is identical.
    */
  private def q267(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    def numExpr(c: String, k: String) = k match {
      case "num" => col(c).cast("double")
      // parquet TIMESTAMP_NTZ → TIMESTAMP is wall-clock identity under
      // the UTC session; unix_micros then matches DuckDB's epoch_us
      case "ts" => unix_micros(col(c).cast("timestamp")).cast("double")
      case _ => lit(null).cast("double")
    }
    def strExpr(c: String, k: String) =
      if (k == "str") col(c) else lit(null).cast("string")
    val aggs = profileCols.flatMap { case (c, k) => Seq(
      countDistinct(col(c)).as(s"${c}__ndv"),
      (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
      min(numExpr(c, k)).as(s"${c}__minn"),
      max(numExpr(c, k)).as(s"${c}__maxn"),
      min(strExpr(c, k)).as(s"${c}__mins"),
      max(strExpr(c, k)).as(s"${c}__maxs"))
    }
    o.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"), explode(array(profileCols.map { case (c, _) =>
        struct(lit(c).as("column"),
          col(s"${c}__ndv").as("ndv"), col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__minn").as("min_num"), col(s"${c}__maxn").as("max_num"),
          col(s"${c}__mins").as("min_str"), col(s"${c}__maxs").as("max_str"))
      }: _*)).as("st"))
      .select(col("st.column").as("column"), col("n_rows"), col("st.ndv"),
        col("st.n_nulls"), col("st.min_num"), col("st.max_num"),
        col("st.min_str"), col("st.max_str"))
      .orderBy("column")
  }

  // --- q284: the profile at extreme NDV — per-column HLL sketch ------------

  private val HllM = 64 // registers; p = 6 index bits, 26-bit suffix

  /** q284 — q267's documented at-scale swap, shipped: the table profile
    * with per-column distinct counts from a DETERMINISTIC HyperLogLog
    * register sketch (q212's machinery at column grain) instead of the
    * exact multi-distinct expand. Each column canonicalizes to an
    * engine-identical string (ints/cents/epoch-µs — no format parity
    * surface), hashes via the shared md5Hash32, routes to register
    * h mod 64 with ρ = trailing-zeros + 1 (exact `bit_count((w&−w)−1)+1`,
    * no float log), and estimates α·m²·2²⁷/Σ2^(27−reg) — the Σ an exact
    * power-of-two integer — with the standard linear-counting fallback
    * m·ln(m/V) when the raw estimate ≤ 2.5m and zero registers remain
    * (the small-range regime the low-NDV columns like o_orderstatus live
    * in). Exact ndv rides alongside as the audit; SketchSpec bounds
    * |rel_err| per regime and `tools.ScaleLaw ndv-sketch` measures the error
    * law as distinct counts grow 10³→10⁶ at CONSTANT 64-register state.
    *
    * Scale: the profile's cost model flips — exact multi-distinct
    * shuffles every distinct (column, value) pair; the sketch partial-
    * aggregates 64 longs per column map-side, so profiling N columns of
    * a 100 TB table shuffles O(N·64) registers. The only reason q267's
    * exact form exists at any scale is the audit column this query
    * carries next to its estimate.
    */
  /** Engine-identical canonical string of a profiled column (shared by
    * q284/q290): cents-scaled longs for numerics, epoch-µs for
    * timestamps, plain casts otherwise. */
  private def profileCanon(c: String, k: String): Column = k match {
    case "num" =>
      when(col(c).isNotNull,
        round(col(c).cast("double") * 100).cast("long").cast("string"))
    case "ts" => unix_micros(col(c).cast("timestamp")).cast("string")
    case _ => col(c).cast("string")
  }

  /** Row-grain `(column, v)` unpivot of the profiled columns, nulls
    * dropped (shared by q284/q290). */
  private def profileUnpivot(o: DataFrame): DataFrame =
    o.select(explode(array(profileCols.map { case (c, k) =>
        struct(lit(c).as("column"), profileCanon(c, k).as("v")) }: _*))
        .as("u"))
      .select(col("u.column").as("column"), col("u.v").as("v"))
      .filter(col("v").isNotNull)

  /** `(column, h)` hashes → per-column HLL estimate
    * `(column, n_zero_regs, hll_ndv)`. max-ρ registers are
    * duplicate-insensitive, so the input may be at ANY grain — q284
    * feeds distinct hashes (it rides the audit's distinct anyway), q290
    * feeds raw row grain and lets the two-level hash aggregate partial-
    * combine to ≤ [[HllM]] groups per column map-side. */
  private def hllProfile(hx: DataFrame): DataFrame = {
    val w = call_function("div", col("h"), lit(HllM.toLong))
    val regs = hx
      .select(col("column"), (col("h") % HllM).as("idx"), w.as("w"))
      .select(col("column"), col("idx"),
        when(col("w") === 0, lit(27L))
          .otherwise(call_function("bit_count",
            col("w").bitwiseAND(lit(0L) - col("w")) - 1).cast("long") + 1)
          .as("rho"))
      .groupBy("column", "idx").agg(max("rho").as("reg"))
    val agg = regs.groupBy("column").agg(
      (sum(expr("shiftleft(1L, cast(27 - reg as int))")) +
        (lit(HllM.toLong) - count(lit(1))) * lit(134217728L))
        .as("sum_scaled"),
      (lit(HllM.toLong) - count(lit(1))).as("n_zero_regs"))
    val raw = lit(0.709) * lit(4096.0) * lit(134217728.0) /
      col("sum_scaled").cast("double")
    val est = round(
      when(raw <= 160.0 && col("n_zero_regs") > 0,
        lit(64.0) * log(lit(64.0) / col("n_zero_regs")))
        .otherwise(raw), 4)
    agg.select(col("column"), col("n_zero_regs"), est.as("hll_ndv"))
  }

  private def q284(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val un = profileUnpivot(o)
      .distinct() // column-distinct-value grain feeds sketch AND audit
      .persist()
    val ex = un.groupBy("column").agg(count(lit(1)).as("ndv"))
    val hx = un.select(col("column"),
        TrainingPipelinePack.md5Hash32(col("v"), "hllp").as("h"))
      .distinct()
    hllProfile(hx).join(ex, Seq("column"))
      .select(col("column"), col("ndv"), col("n_zero_regs"),
        col("hll_ndv"),
        round((col("hll_ndv") - col("ndv")) / col("ndv"), 6).as("rel_err"))
      .orderBy("column")
  }

  /** q290 — q284's AUDIT-FREE form, the shape the round-6 verdict asked
    * to ship as a query: per-column NDV estimates from the 64-register
    * HLL sketch with NO exact-distinct audit riding alongside — so the
    * plan has NO shuffle at (column, value) grain anywhere. Hashes flow
    * at raw row grain straight into the (column, idx) max-ρ aggregate:
    * partial aggregation combines to ≤ 64 groups per column map-side,
    * and profiling N columns of a 100 TB table shuffles O(N·64) longs —
    * the registers-only cost model q284's scaladoc could only claim for
    * its streaming twin (`streaming/NdvStream`) now holds for the
    * shipped batch query. Estimates are bit-identical to q284's (max-ρ
    * is duplicate-insensitive), which the shared oracle pins.
    */
  private def q290(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val hx = profileUnpivot(o).select(col("column"),
      TrainingPipelinePack.md5Hash32(col("v"), "hllp").as("h"))
    hllProfile(hx).orderBy("column")
  }

  // --- q295: count-min sketch for heavy hitters ----------------------------

  private val CmsDepth = 4
  private val CmsWidth = 512
  private val CmsTopK = 20

  /** q295 — COUNT-MIN SKETCH token-frequency profile: the frequency
    * sibling of q284's HLL cardinality sketch (Cormode–Muthukrishnan).
    * Token counts fold into a [[CmsDepth]]×[[CmsWidth]] grid of cells —
    * row r buckets by the deterministic salted md5 (`cms{r}|token`),
    * cell = Σ freq — and a point query reads min over the d cells a
    * token hashes to: an upper bound that overshoots only by colliding
    * mass (est − truth ≥ 0 always, the `overcount` audit column). The
    * readout estimates the top-[[CmsTopK]] exact tokens next to their
    * truth, so the oracle pins both the grid arithmetic and the
    * one-sided error property.
    *
    * Scale: cell building is the q290 cost model again — sums
    * partial-aggregate map-side into ≤ d·w = 2048 groups regardless of
    * vocabulary (never a per-token shuffle beyond the vocab-grain
    * frequency table every text op shares), the grid broadcasts for
    * point queries, and the audit's top-k is a TakeOrdered. This is how
    * heavy-hitter monitoring runs at 100 TB: O(d·w) state, one pass.
    */
  private def q295(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.load(s, dir, "documents")
      .select(explode(TextOps.toks(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .persist()
    def buckets(tok: Column): Column = array((0 until CmsDepth).map { r =>
      struct(lit(r).as("r"),
        (TrainingPipelinePack.md5Hash32(tok, s"cms$r") % CmsWidth)
          .as("bucket"))
    }: _*)
    val cells = tf
      .select(col("freq"), explode(buckets(col("tok"))).as("c"))
      .groupBy(col("c.r").as("r"), col("c.bucket").as("bucket"))
      .agg(sum("freq").as("cell"))
    val audit = tf.orderBy(col("freq").desc, col("tok")).limit(CmsTopK)
    audit
      .select(col("tok"), col("freq"), explode(buckets(col("tok"))).as("c"))
      .select(col("tok"), col("freq"), col("c.r").as("r"),
        col("c.bucket").as("bucket"))
      .join(broadcast(cells), Seq("r", "bucket"))
      .groupBy("tok", "freq").agg(min("cell").as("cms_est"))
      .select(col("tok"), col("freq"), col("cms_est"),
        (col("cms_est") - col("freq")).as("overcount"))
      .orderBy(col("freq").desc, col("tok"))
  }

  override val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q267_table_profile" -> q267 _,
    "q284_profile_hll_ndv" -> q284 _,
    "q290_profile_hll_only" -> q290 _,
    "q295_cms_heavy_hitters" -> q295 _,
    "q131_multitouch_attribution" -> q131 _,
    "q193_schema_evolution" -> q193 _,
    "q76_upsert_merge" -> q76 _,
    "q77_scd2_history" -> q77 _,
    "q78_attribution_range_join" -> q78 _,
    "q79_salted_agg" -> q79 _,
    "q129_incremental_agg" -> q129 _,
    "q130_snapshot_diff" -> q130 _)

  override val oracle: Seq[(String, String)] = Seq(
    "q267_table_profile" -> {
      val stats = profileCols.map { case (c, k) =>
        val (minn, maxn) = k match {
          case "num" =>
            (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)")
          case "ts" =>
            (s"CAST(min(epoch_us($c)) AS DOUBLE)",
              s"CAST(max(epoch_us($c)) AS DOUBLE)")
          case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
        }
        val mins = if (k == "str") s"min($c)" else "CAST(NULL AS VARCHAR)"
        val maxs = if (k == "str") s"max($c)" else "CAST(NULL AS VARCHAR)"
        s""" CAST(count(DISTINCT $c) AS BIGINT) AS ${c}__ndv,
           | CAST(count(*) - count($c) AS BIGINT) AS ${c}__nulls,
           | $minn AS ${c}__minn, $maxn AS ${c}__maxn,
           | $mins AS ${c}__mins, $maxs AS ${c}__maxs""".stripMargin
      }.mkString(",\n")
      val rows = profileCols.map { case (c, _) =>
        s"""SELECT '$c' AS "column", n_rows, ${c}__ndv AS ndv,
           | ${c}__nulls AS n_nulls, ${c}__minn AS min_num,
           | ${c}__maxn AS max_num, ${c}__mins AS min_str,
           | ${c}__maxs AS max_str FROM g""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH g AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |$stats
         |FROM orders)
         |$rows
         |ORDER BY "column"""".stripMargin
    },
    "q284_profile_hll_ndv" -> {
      val arms = profileCols.map { case (c, k) =>
        val canon = k match {
          case "num" =>
            s"CAST(CAST(round($c * 100) AS BIGINT) AS VARCHAR)"
          case "ts" => s"CAST(epoch_us($c) AS VARCHAR)"
          case _ => s"CAST($c AS VARCHAR)"
        }
        s"""SELECT '$c' AS "column", $canon AS v
           |FROM orders WHERE $c IS NOT NULL""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH u AS (
         |$arms),
         |d AS (SELECT DISTINCT "column", v FROM u),
         |ex AS (SELECT "column", CAST(count(*) AS BIGINT) AS ndv
         |       FROM d GROUP BY 1),
         |hx AS (SELECT DISTINCT "column",
         |        CAST('0x' || substring(md5('hllp|' || v), 1, 8) AS BIGINT)
         |          AS h
         |       FROM d),
         |rw AS (SELECT "column", h % $HllM AS idx, h // $HllM AS w FROM hx),
         |rho AS (SELECT "column", idx,
         |         CASE WHEN w = 0 THEN 27
         |              ELSE bit_count((w & (-w)) - 1) + 1 END AS rho
         |        FROM rw),
         |regs AS (SELECT "column", idx, max(rho) AS reg
         |         FROM rho GROUP BY 1, 2),
         |agg AS (SELECT "column",
         |         CAST(sum(CAST(1 AS BIGINT) << (27 - reg)) AS BIGINT)
         |          + ($HllM - count(*)) * 134217728 AS sum_scaled,
         |         CAST($HllM - count(*) AS BIGINT) AS n_zero_regs
         |        FROM regs GROUP BY 1),
         |es AS (SELECT "column", sum_scaled, n_zero_regs,
         |        round(CASE WHEN 0.709 * 4096.0 * 134217728.0
         |           / CAST(sum_scaled AS DOUBLE) <= 160.0
         |          AND n_zero_regs > 0
         |         THEN 64.0 * ln(64.0 / n_zero_regs)
         |         ELSE 0.709 * 4096.0 * 134217728.0
         |           / CAST(sum_scaled AS DOUBLE) END, 4) AS hll_ndv
         |       FROM agg)
         |SELECT e."column", x.ndv, e.n_zero_regs, e.hll_ndv,
         | round((e.hll_ndv - x.ndv) / x.ndv, 6) AS rel_err
         |FROM es e JOIN ex x USING ("column")
         |ORDER BY e."column"""".stripMargin
    },
    // q290: identical register math from ROW-grain hashes (max-ρ is
    // duplicate-insensitive — the DISTINCT here is a DuckDB-side
    // convenience, not a semantic requirement) and no exact audit.
    "q290_profile_hll_only" -> {
      val arms = profileCols.map { case (c, k) =>
        val canon = k match {
          case "num" =>
            s"CAST(CAST(round($c * 100) AS BIGINT) AS VARCHAR)"
          case "ts" => s"CAST(epoch_us($c) AS VARCHAR)"
          case _ => s"CAST($c AS VARCHAR)"
        }
        s"""SELECT '$c' AS "column", $canon AS v
           |FROM orders WHERE $c IS NOT NULL""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH u AS (
         |$arms),
         |hx AS (SELECT DISTINCT "column",
         |        CAST('0x' || substring(md5('hllp|' || v), 1, 8) AS BIGINT)
         |          AS h
         |       FROM u),
         |rw AS (SELECT "column", h % $HllM AS idx, h // $HllM AS w FROM hx),
         |rho AS (SELECT "column", idx,
         |         CASE WHEN w = 0 THEN 27
         |              ELSE bit_count((w & (-w)) - 1) + 1 END AS rho
         |        FROM rw),
         |regs AS (SELECT "column", idx, max(rho) AS reg
         |         FROM rho GROUP BY 1, 2),
         |agg AS (SELECT "column",
         |         CAST(sum(CAST(1 AS BIGINT) << (27 - reg)) AS BIGINT)
         |          + ($HllM - count(*)) * 134217728 AS sum_scaled,
         |         CAST($HllM - count(*) AS BIGINT) AS n_zero_regs
         |        FROM regs GROUP BY 1)
         |SELECT "column", n_zero_regs,
         | round(CASE WHEN 0.709 * 4096.0 * 134217728.0
         |    / CAST(sum_scaled AS DOUBLE) <= 160.0
         |   AND n_zero_regs > 0
         |  THEN 64.0 * ln(64.0 / n_zero_regs)
         |  ELSE 0.709 * 4096.0 * 134217728.0
         |    / CAST(sum_scaled AS DOUBLE) END, 4) AS hll_ndv
         |FROM agg
         |ORDER BY "column"""".stripMargin
    },
    "q295_cms_heavy_hitters" ->
      s"""WITH tk AS (
         | SELECT unnest(${CorpusOpsPack.duckToks}) AS tok FROM documents),
         |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
         |       FROM tk GROUP BY tok),
         |cells AS (
         | SELECT r,
         |  CAST('0x' || substring(md5('cms' || r || '|' || tok), 1, 8)
         |    AS BIGINT) % $CmsWidth AS bucket,
         |  CAST(sum(freq) AS BIGINT) AS cell
         | FROM tf, range($CmsDepth) t(r) GROUP BY 1, 2),
         |audit AS (SELECT tok, freq FROM tf
         |          ORDER BY freq DESC, tok LIMIT $CmsTopK),
         |est AS (
         | SELECT a.tok, a.freq, min(c.cell) AS cms_est
         | FROM audit a
         |  CROSS JOIN range($CmsDepth) t(r)
         |  JOIN cells c ON c.r = t.r
         |   AND c.bucket = CAST('0x' ||
         |     substring(md5('cms' || t.r || '|' || a.tok), 1, 8)
         |     AS BIGINT) % $CmsWidth
         | GROUP BY 1, 2)
         |SELECT tok, freq, cms_est, cms_est - freq AS overcount
         |FROM est ORDER BY freq DESC, tok""".stripMargin,
    "q193_schema_evolution" ->
      """WITH merged AS (
        | SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        | FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01'
        | UNION ALL BY NAME
        | SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
        |  o_orderstatus, o_orderpriority
        | FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01')
        |SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n_orders,
        | count(o_orderpriority) AS n_with_priority,
        | count(DISTINCT o_orderstatus) AS n_statuses,
        | sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    "q131_multitouch_attribution" ->
      """WITH p AS (
        | SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
        |  CAST(round(value * 100) AS BIGINT) AS p_cents
        | FROM events WHERE event_type = 'purchase'),
        |t AS (
        | SELECT user_id AS t_user, ts AS t_ts, event_type AS touch_type,
        |  event_id AS t_id
        | FROM events WHERE event_type IN ('click', 'view')),
        |j AS (
        | SELECT * FROM p JOIN t ON p_user = t_user
        |  AND t_ts >= p_ts - INTERVAL 1 HOUR AND t_ts < p_ts),
        |w AS (
        | SELECT *, count(*) OVER (PARTITION BY p_id) AS n_touches,
        |  CASE WHEN row_number() OVER (
        |    PARTITION BY p_id ORDER BY t_ts, t_id) = 1
        |   THEN 1 ELSE 0 END AS is_first,
        |  CASE WHEN row_number() OVER (
        |    PARTITION BY p_id ORDER BY t_ts DESC, t_id DESC) = 1
        |   THEN 1 ELSE 0 END AS is_last
        | FROM j),
        |c AS (
        | SELECT *, CAST(round(p_cents * 10000.0 / n_touches) AS BIGINT)
        |   AS linear_e6
        | FROM w)
        |SELECT touch_type,
        | CAST(sum(is_first * p_cents) AS BIGINT) / 100.0 AS first_touch_rev,
        | CAST(sum(is_last * p_cents) AS BIGINT) / 100.0 AS last_touch_rev,
        | CAST(sum(linear_e6) AS BIGINT) / 1000000.0 AS linear_rev,
        | count(*) AS n_touches_total
        |FROM c GROUP BY touch_type ORDER BY touch_type""".stripMargin,
    "q76_upsert_merge" ->
      """WITH upd AS (
        | SELECT o_orderkey, 'U' AS o_orderstatus,
        |  o_totalprice + 100.0 AS o_totalprice
        | FROM orders WHERE o_orderkey % 100 < 5
        | UNION ALL
        | SELECT -o_orderkey - 1 AS o_orderkey,
        |  'N' AS o_orderstatus, o_totalprice
        | FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT * FROM (
        | SELECT * FROM upd
        | UNION ALL
        | SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        | WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd))
        |ORDER BY o_orderkey""".stripMargin,
    "q77_scd2_history" ->
      """WITH e AS (
        | SELECT user_id, event_type, ts, event_id,
        |  lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |  row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        | FROM events),
        |c AS (
        | SELECT user_id, event_type, ts AS valid_from, event_id FROM e
        | WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, valid_from,
        | lead(valid_from) OVER (
        |   PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
        | CAST(lead(valid_from) OVER (
        |   PARTITION BY user_id ORDER BY valid_from, event_id) IS NULL
        |   AS INT) AS is_current
        |FROM c ORDER BY user_id, valid_from""".stripMargin,
    "q78_attribution_range_join" ->
      """SELECT p.event_id AS p_id, count(c.ts) AS n_clicks_1h
        |FROM events p
        |LEFT JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id ORDER BY p_id""".stripMargin,
    "q79_salted_agg" ->
      """SELECT event_type, count(*) AS n_events,
        | ((CASE WHEN sum(CAST(round((value) * 10000) AS BIGINT)) >= 0 THEN (sum(CAST(round((value) * 10000) AS BIGINT)) + 50) - (sum(CAST(round((value) * 10000) AS BIGINT)) + 50) % 100 ELSE -((-sum(CAST(round((value) * 10000) AS BIGINT)) + 50) - (-sum(CAST(round((value) * 10000) AS BIGINT)) + 50) % 100) END) / 10000.0) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q129_incremental_agg" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        | count(*) AS n_orders,
        | sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
        |   AS total_price
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "q130_snapshot_diff" ->
      """WITH newver AS (
        | SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 100 < 5 THEN 'U' ELSE o_orderstatus END
        |    AS o_orderstatus,
        |  CASE WHEN o_orderkey % 100 < 5 THEN o_totalprice + 100.0
        |    ELSE o_totalprice END AS o_totalprice
        | FROM orders WHERE o_orderkey % 100 <> 7
        | UNION ALL
        | SELECT -o_orderkey - 1, 'N', o_totalprice
        | FROM orders WHERE o_orderkey % 100 = 0),
        |diff AS (
        | SELECT CASE
        |   WHEN o.o_orderkey IS NULL THEN 'inserted'
        |   WHEN n.o_orderkey IS NULL THEN 'deleted'
        |   WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |     OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |     THEN 'updated'
        |   ELSE 'unchanged' END AS change_type
        | FROM orders o
        | FULL OUTER JOIN newver n ON o.o_orderkey = n.o_orderkey)
        |SELECT change_type, count(*) AS n_rows
        |FROM diff GROUP BY 1 ORDER BY change_type""".stripMargin)
}
