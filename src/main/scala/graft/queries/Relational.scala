package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import OracleDialect.{avgMicros, boundOk}

/** Core relational query surface (SURVEY.md §2 + §2.6 analytics layer).
  *
  * Every query here is paired with a DuckDB oracle in [[oracleSql]]; the
  * driver hash-compares values, so cross-engine float determinism is a
  * design constraint, solved as follows:
  *
  *   - money columns in the fixtures are exact 2-decimal doubles, so sums
  *     are computed over `DECIMAL(18,2)` casts in BOTH engines — decimal
  *     arithmetic is exact, making sums bit-identical regardless of
  *     aggregation order (a double sum would differ in the last ULP
  *     between Spark's partial-agg tree and DuckDB's sequential fold);
  *   - averages stay double but are rounded to 4 decimals (absolute fp
  *     error ~1e-12 vs a 5e-5 rounding boundary — no flip risk);
  *   - min/max pass input values through untouched (no arithmetic), so
  *     they compare exactly without rounding;
  *   - every query ends in a total-order `ORDER BY` (metric + unique key)
  *     so row order and LIMIT frontiers are deterministic in both engines.
  *
  * Scale notes (100 TB): every aggregate here is a hash aggregate with
  * map-side partial combine; the dimension joins (nation/region/customer)
  * broadcast; fact-fact joins shuffle on their join key only after
  * filters are pushed to the parquet scan. Verified via `explain` in
  * `RelationalSpec`.
  */
object Relational {

  /** Exact 2-decimal money cast — see class doc. */
  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Final-output cast for exact decimal aggregates, applied in BOTH
    * engines (paired with `CAST(... AS DOUBLE)` in the oracle SQL).
    *
    * Why DOUBLE and not a pinned DECIMAL width: a decimal column can
    * never survive the driver's compare, whatever its width. The driver
    * reads the Spark parquet via pandas/pyarrow (decimal → Python
    * `Decimal` objects) but the oracle via duckdb `.df()` (decimal →
    * float64 — duckdb converts ALL decimals to float64 in pandas
    * output), and e.g. `Decimal('380456.00')` renders '380456.00' where
    * float64 renders '380456.0' (round-1/2 root cause for
    * q01,q02,q07,q09,q10,q13,q17,q21,s01,w02 — round 2 proved width
    * pinning alone does NOT fix it).
    *
    * Exactness is preserved: the SUM itself still runs in exact
    * DECIMAL(18,2) arithmetic (order-independent); only the final
    * result converts to double. Both engines correctly round that
    * conversion (Spark: BigDecimal.doubleValue; DuckDB: unscaled/10^s
    * with both operands exact in double for |unscaled| < 2^53, far
    * above any SF here), so the output is bit-identical float64 on
    * both paths.
    */
  private def out2(c: Column): Column = c.cast("double")
  private def out4(c: Column): Column = c.cast("double")

  /** Per-item revenue `extendedprice * (1 - discount)` in exact decimal
    * arithmetic (reference analogue: the analytics layer SURVEY.md §2.6).
    */
  private def revenue: Column =
    dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount")))

  /** `sum(revenue)` cast to double, computed in exact INTEGER CENTS
    * (r20, optimization guide §1.2 step 2 — the per-task work): the
    * decimal path allocates a BigDecimal per row inside the hash
    * aggregate; money columns are exact 2-decimal values
    * (CentsExactnessSpec pins it), so `round(x·100)` recovers the exact
    * cents long, the per-item product price_e2 · (100 − disc_e2) is an
    * exact e4-units long, and the group sum stays below 2^53 up to
    * SF ~15 (the scale bound on [[sumE2]]) — whence
    * `sum_e4.toDouble / 1e4` is the SAME correctly-rounded double the
    * decimal sum's final cast yields (one rounding either way, of the
    * same exact rational). SqlParitySpec + the oracle gate
    * pin bit-equality; the oracle SQL keeps the decimal form.
    */
  private def revenueSumE4: Column =
    sum(round(col("l_extendedprice") * lit(100)).cast("long") *
      (lit(100L) - round(col("l_discount") * lit(100)).cast("long")))

  private def out4E4(c: Column): Column = c.cast("double") / lit(10000.0)

  /** A money column as exact integer cents: fixture money columns are
    * exact 2-decimal values (CentsExactnessSpec pins every column these
    * rewrites touch), so `round(x·100)` IS dec2(x)'s unscaled value.
    */
  private def centsE2(c: Column): Column = round(c * lit(100)).cast("long")

  /** `out2(sum(dec2(c)))` in exact integer cents (r20 — see
    * [[revenueSumE4]]): bit-identical while the group's |Σcents| stays
    * below 2^53 (≈ $9·10¹³ per group — four decades above the largest
    * group any measured replica produces; CentsExactnessSpec pins the
    * per-column premise, SqlParitySpec + the oracle gates the output).
    *
    * Scale bound (r21, r20 ADVICE): the worst consumer is a near-global
    * group of an e4-unit sum — q01's per-(returnflag, linestatus) Σ of
    * price·(100−disc) holds ~1/6 of lineitem. Measured on the fixtures
    * a lineitem row carries ~5·10⁸ e4-units (sf0.001: Σ ≈ 3.17·10¹²
    * over 6000 rows — cents × (100−disc), not cents alone), so that
    * group grows by ~5·10¹⁴ per SF (10⁶ rows) and crosses 2^53 ≈
    * 9·10¹⁵ near SF 15–20. That is the point where the rewrite must
    * revert to decimal for near-global e4 groups; at SF100 it would
    * already sit near 2^55.5. CentsExactnessSpec's
    * headroom test (table-total e4 < 2^53/8 at every checked SF,
    * including `$SPARK_GRAFT_SF_DIR`) turns a violation into a legible
    * failure instead of an opaque oracle hash mismatch.
    */
  private def sumE2(c: Column): Column =
    sum(centsE2(c)).cast("double") / lit(100.0)

  /** [[sumE2]] over a window — the running-aggregate form. */
  private def sumE2Over(c: Column,
      w: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(centsE2(c)).over(w).cast("double") / lit(100.0)

  private val REV_SQL =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  /** x01's internal shape: HLL estimate next to the exact distinct count
    * per nation. The declared query projects this down to exact columns
    * plus a `within_bound` flag (|approx−exact|/exact ≤ 2×rsd); the raw
    * approx column is asserted directly in SketchBoundsSpec.
    */
  def x01Raw(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables(s, dir, "nation")
    val cust = Tables(s, dir, "customer")
    Tables(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        approx_count_distinct(col("o_custkey"), 0.02).as("approx_customers"),
        countDistinct(col("o_custkey")).as("exact_customers"))
  }

  /** x02's internal shape: KLL p50/p99 next to the exact quantiles at
    * q ± 0.01 (`qs` = exact [0.49, 0.51, 0.98, 1.0] percentiles).
    * percentile_approx(accuracy=1000) guarantees rank error ≤ n/1000;
    * the declared bound allows 10× that: the sketch value must land
    * between the exact quantiles at q ± 0.01 (p99's upper side is the
    * max). Same windows as SketchBoundsSpec.
    */
  def x02Raw(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50"),
        percentile_approx(col("o_totalprice"), lit(0.99), lit(1000)).as("p99"),
        percentile(col("o_totalprice"),
          array(lit(0.49), lit(0.51), lit(0.98), lit(1.0))).as("qs"),
        count(lit(1)).as("n"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregation / grouping (SURVEY.md §2.6) --------------------
    "q01_pricing_summary" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumE2(col("l_quantity")).as("sum_qty"),
          sumE2(col("l_extendedprice")).as("sum_base_price"),
          out4(sum(revenue)).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q02_topk_order_revenue" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(out4E4(revenueSumE4).as("order_revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("order_revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    "q03_segment_revenue" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      // range, not year(): comparisons on the raw column push down to
      // parquet row-group stats; year() wrapping defeats the pushdown
      val ord = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      val li = Tables(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          out4(sum(revenue)).as("segment_revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- dim join + rename/project/drop (J1/P1-P3 parity,
    //      weather_data_fetcher.py:352-359) ---------------------------
    "q04_dim_join" -> ((s, dir) => {
      val nation = Tables(s, dir, "nation")
      val region = Tables(s, dir, "region")
        .withColumnRenamed("r_name", "region_name")
        .select("r_regionkey", "region_name")
      nation
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left")
        .drop("r_regionkey")
        .select("n_nationkey", "n_name", "region_name")
        .orderBy("n_nationkey")
    }),

    // ---- filter + projection pushdown (F/P parity) ------------------
    "q05_filter_project" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp") &&
          col("l_returnflag") === "A" && col("l_quantity") >= 25)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- ranking window: latest-per-key (§2.6 latest-observation) ---
    "q06_latest_order_per_customer" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Tables(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")
    }),

    // ---- running aggregate window ------------------------------------
    "q07_running_customer_spend" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sumE2Over(col("o_totalprice"), w).as("running_spend"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    // ---- symmetric difference (J2 change-detection parity,
    //      weather_data_fetcher.py:384-387) ---------------------------
    "q08_symmetric_diff" -> ((s, dir) => {
      // ONE scan with a pushable date range, then conditional aggregation
      // and an XOR filter — replaces the 4-scan exceptAll formulation
      // (same result: both inputs were distinct key sets, so exceptAll
      // degenerates to except). One shuffle on o_custkey total.
      Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_custkey"),
          (col("o_orderdate") < lit("1996-01-01").cast("timestamp")).as("y95"))
        .groupBy("o_custkey")
        .agg(max(when(col("y95"), 1).otherwise(0)).as("in95"),
          max(when(!col("y95"), 1).otherwise(0)).as("in96"))
        .filter(col("in95") =!= col("in96"))
        .select(col("o_custkey"),
          when(col("in95") === 1, "only_1995").otherwise("only_1996").as("side"))
        .orderBy("o_custkey", "side")
    }),

    // ---- distinct counting (§2.6) ------------------------------------
    "q09_nation_order_stats" -> ((s, dir) => {
      val nat = Tables(s, dir, "nation")
      val cust = Tables(s, dir, "customer")
      Tables(s, dir, "orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          countDistinct(col("o_custkey")).as("n_active_customers"),
          count(lit(1)).as("n_orders"),
          sumE2(col("o_totalprice")).as("total_spend"))
        .orderBy("n_name")
    }),

    // ---- rollup (grouping sets, §2.6) --------------------------------
    "q10_rollup_acctbal" -> ((s, dir) => {
      val nat = Tables(s, dir, "nation")
      val reg = Tables(s, dir, "region")
      Tables(s, dir, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), sumE2(col("c_acctbal")).as("sum_acctbal"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          col("n_customers"), col("sum_acctbal"))
        .orderBy("region_name", "nation_name")
    }),

    // ---- anti join (J3 miss-audit parity, weather_data_fetcher.py:292)
    "q11_customers_without_orders" -> ((s, dir) => {
      val ord = Tables(s, dir, "orders").select("o_custkey")
      Tables(s, dir, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // ---- semi join ----------------------------------------------------
    "q12_suppliers_shipping_2000q1" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("2000-04-01").cast("timestamp"))
        .select("l_suppkey")
      Tables(s, dir, "supplier")
        .join(li, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }),

    // ---- event-time tumbling window (§2.10 streaming analytics, batch
    //      form; streaming form covered in streaming/EventStreamsSpec) --
    "q13_events_hourly" -> ((s, dir) => {
      // avg derives from the EXACT decimal sum (never avg(double),
      // whose partial-agg accumulation order shifts the last ulp), and
      // publishes as floor-micros: with a 2-decimal exact sum the
      // quotient lands exactly on .xxx5 round boundaries, where Spark
      // (HALF_UP on the double's decimal string) and DuckDB (rounds
      // the binary value) disagree — floor of the identical quotient
      // double has no half-case. Caught by the sf0.1 sweep; the t03
      // pattern.
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sumE2(col("value")).as("sum_value"))
        .select(
          col("window.start").as("hour_start"),
          col("event_type"), col("n_events"), col("sum_value"),
          floor(col("sum_value") / col("n_events") * lit(1000000.0))
            .cast("long").as("avg_value_micros"))
        .orderBy("hour_start", "event_type")
    }),

    // ---- conditional aggregation (case/when pivot) --------------------
    "q14_priority_by_year" -> ((s, dir) => {
      def isPrio(p: String) = when(col("o_orderpriority") === p, 1).otherwise(0)
      Tables(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(isPrio("1-URGENT")).as("n_urgent"),
          sum(isPrio("2-HIGH")).as("n_high"),
          count(lit(1)).as("n_total"))
        .orderBy("o_year")
    }),

    // ---- string functions (C1-C3 parity) ------------------------------
    // the real pivot() operator (q14 is the hand-rolled conditional-agg
    // twin); fixed value list so the plan needs no discovery pass, and
    // the lowered form is the same single hash aggregate
    "q26_pivot_priority" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .select(col("o_year"),
          coalesce(col("`1-URGENT`"), lit(0L)).as("n_urgent"),
          coalesce(col("`2-HIGH`"), lit(0L)).as("n_high"),
          coalesce(col("`3-MEDIUM`"), lit(0L)).as("n_medium"),
          coalesce(col("`4-NOT SPECIFIED`"), lit(0L)).as("n_notspec"),
          coalesce(col("`5-LOW`"), lit(0L)).as("n_low"))
        .orderBy("o_year")
    }),

    "q15_part_type_stats" -> ((s, dir) => {
      // integer avg publishes as floor-micros of exact-sum/count: a
      // group with count = 32 and odd sum lands round(x, 4) exactly on
      // the half, where Spark and DuckDB round differently (q13's
      // cross-engine half-case, caught by the sf0.1 sweep)
      Tables(s, dir, "part")
        .groupBy(upper(element_at(split(col("p_type"), " "), 1)).as("type_head"))
        .agg(
          count(lit(1)).as("n_parts"),
          sum(col("p_size")).as("sum_size"),
          min(col("p_name")).as("min_name"),
          max(col("p_name")).as("max_name"))
        .select(col("type_head"), col("n_parts"),
          floor(col("sum_size").cast("double") / col("n_parts") * lit(1000000.0))
            .cast("long").as("avg_size_micros"),
          col("min_name"), col("max_name"))
        .orderBy("type_head")
    }),

    // ---- JSON extraction (S4 shred parity, weather_data_fetcher.py:267-281)
    "q16_json_extract" -> ((s, dir) => {
      Tables(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
        .groupBy(col("event_type"))
        .agg(
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"),
          sum(when(col("k") > 50, 1).otherwise(0)).as("n_over_50"))
        .orderBy("event_type")
    }),

    // ---- date part extraction (C5/C6 parity) ---------------------------
    "q17_orders_by_quarter" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).as("o_year"),
          quarter(col("o_orderdate")).as("o_quarter"))
        .agg(count(lit(1)).as("n_orders"), sumE2(col("o_totalprice")).as("sum_price"))
        .orderBy("o_year", "o_quarter")
    }),

    // ---- intersect -----------------------------------------------------
    "q18_intersect" -> ((s, dir) => {
      val building = Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val active95 = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey")).distinct()
      building.intersect(active95).orderBy("c_custkey")
    }),

    // ---- union + exact distinct (dedup-exact relational form) ----------
    "q19_union_distinct" -> ((s, dir) => {
      val rich = Tables(s, dir, "customer")
        .filter(col("c_acctbal") > 9000).select("c_custkey")
      val active = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("2001-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey"))
      rich.union(active).distinct().orderBy("c_custkey")
    }),

    // ---- min/max passthrough (no-arithmetic float compare) -------------
    "q20_brand_price_range" -> ((s, dir) => {
      Tables(s, dir, "part")
        .groupBy(col("p_brand"))
        .agg(
          min(col("p_retailprice")).as("min_price"),
          max(col("p_retailprice")).as("max_price"),
          count(lit(1)).as("n_parts"))
        .orderBy("p_brand")
    }),

    // ---- cube (full grouping-set lattice, §2.6) ----------------------
    "q21_cube_orders" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      Tables(s, dir, "orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .cube(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sumE2(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("sum_price"))
        .orderBy("segment", "priority")
    }),

    // ---- window-function variety (rank/dense_rank/ntile/lead/lag) ----
    "q23_window_suite" -> ((s, dir) => {
      val wPrice = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
      val wTime = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(wPrice).as("price_rank"),
          dense_rank().over(wPrice).as("price_dense_rank"),
          ntile(4).over(wTime).as("time_quartile"),
          lag(col("o_orderdate"), 1).over(wTime).as("prev_order_date"),
          lead(col("o_orderdate"), 1).over(wTime).as("next_order_date"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- string-distance stats with VOCABULARY-COLLAPSED pair
    //      generation — stats are defined over close pairs only, which
    //      the oracle reproduces with a plain quadratic CASE join (the
    //      collapse is an exact refactoring, so semantics and oracle
    //      are unchanged) ---------------------------------------------
    "q24_name_distance" -> ((s, dir) => {
      // The old form joined part×part per brand: Σ_brand C(n,2) pair
      // rows — the repo's one remaining quadratic-in-corpus candidate
      // generator. But close-pair STATS only depend on the distinct
      // name vocabulary and its multiplicities (64 distinct names here,
      // sublinear in corpus size), so:
      //  1. ONE hash aggregate collapses the corpus to
      //     (brand, name, m) — the only pass over the data;
      //  2. same-name pairs contribute Σ C(m,2) at distance 0, pure
      //     arithmetic, no pair materialized;
      //  3. the banded levenshtein runs once per DISTINCT unordered
      //     name pair per brand (V²·25 with V = 64, constant in SF),
      //     weighted by m_a·m_b;
      //  4. n_pairs = C(n,2) from group sizes.
      // Corpus-quadratic work is gone; the residual V² term is where
      // PassJoin segment blocking (functions/Segments, exercised by
      // d08 on realistic long strings) kicks in when the vocabulary
      // itself is large.
      val p = Tables(s, dir, "part").select("p_partkey", "p_brand", "p_name")
      val vocab = p.groupBy("p_brand", "p_name").agg(count(lit(1)).as("m"))
      val bstats = vocab.groupBy("p_brand").agg(
          sum(col("m")).as("n"),
          sum(expr("m * (m - 1) DIV 2")).as("n_same"),
          max(col("m")).as("max_m"))
        .filter(col("n") >= 2)
      val a = vocab.select(col("p_brand"), col("p_name").as("a_name"), col("m").as("ma"))
      val b = vocab.select(col("p_brand"), col("p_name").as("b_name"), col("m").as("mb"))
      val closeCross = a.join(b, Seq("p_brand"))
        .filter(col("a_name") < col("b_name"))
        .select(col("p_brand"),
          levenshtein(col("a_name"), col("b_name"), 5).as("d"), // -1 when > 5
          (col("ma") * col("mb")).as("w"))
        .filter(col("d") >= 0)
        .groupBy("p_brand")
        .agg(sum(col("w")).as("n_cross"), min(col("d")).as("min_cross"))
      bstats.join(closeCross, Seq("p_brand"), "left")
        .select(col("p_brand"),
          (coalesce(col("n_cross"), lit(0L)) + col("n_same")).as("n_close_pairs"),
          when(col("max_m") >= 2, lit(0)).otherwise(col("min_cross"))
            .as("min_close_distance"),
          expr("n * (n - 1) DIV 2").as("n_pairs"))
        .orderBy("p_brand")
    }),

    // ---- correlated scalar subqueries via the SQL entry path (Catalyst
    //      decorrelates both into aggregate+join; predicate uses exact
    //      decimal cross-multiplication, never a double average) --------
    // arbitrary GROUPING SETS (rollup/cube are q10/q21) through the SQL
    // entry path — one expand + one hash aggregate, same as cube
    "q27_grouping_sets" -> ((s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
      Tables(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql(
        """SELECT coalesce(n_name, 'ALL') AS nation_name,
          | coalesce(c_mktsegment, 'ALL') AS segment,
          | count(*) AS n_customers,
          | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
          |FROM customer_v c JOIN nation_v n ON c_nationkey = n_nationkey
          |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
          |ORDER BY nation_name, segment""".stripMargin)
    }),

    // the real unpivot/melt operator: q14's wide shape back to long
    // TPC-H Q5-shaped local-supplier volume (public spec): revenue and
    // tax-inclusive charge per nation where customer and supplier sit
    // in the SAME nation, one region, two order years, finalized/open
    // orders only. The deepest join tree in the repo — the plan to
    // want at 100 TB: every dim (region→nation→customer→supplier)
    // broadcasts, the ONLY shuffle join is lineitem⋈orders on the fact
    // key, and the region/status/date filters prune before the fact
    // join. Decimal chains are sized to stay under precision 38 in
    // BOTH engines ((12,2)·(13,2)→(26,4); ·(5,2)→(32,6)), so no
    // engine-specific overflow adjustment can round differently.
    "q29_local_supplier_volume" -> ((s, dir) => {
      def d12(c: Column) = c.cast(DecimalType(12, 2))
      def d42(c: Column) = c.cast(DecimalType(4, 2))
      val rev = d12(col("l_extendedprice")) * (d12(lit(1)) - d12(col("l_discount")))
      val charge = rev * (d42(lit(1)) + d42(col("l_tax")))
      val reg = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      val nat = Tables(s, dir, "nation")
      val cust = Tables(s, dir, "customer")
      val sup = Tables(s, dir, "supplier")
      val ord = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp") &&
          col("o_orderstatus") =!= "P")
      Tables(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(out2(sum(rev)).as("revenue"),
          out2(sum(charge)).as("charge"),
          countDistinct(col("s_suppkey")).as("n_suppliers"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // supplier-dim health report per nation — the dim-quality summary a
    // pipeline runs before trusting a dimension: pure broadcast join +
    // one tiny agg shuffle
    "q30_supplier_health" -> ((s, dir) => {
      Tables(s, dir, "supplier")
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sumE2(col("s_acctbal")).as("sum_acctbal"),
          sum(when(col("s_acctbal") < 0, 1L).otherwise(0L)).as("n_negative"))
        .orderBy("n_name")
    }),

    "q28_unpivot" -> ((s, dir) => {
      def isPrio(p: String) = when(col("o_orderpriority") === p, 1L).otherwise(0L)
      Tables(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(sum(isPrio("1-URGENT")).as("n_urgent"), sum(isPrio("2-HIGH")).as("n_high"))
        .unpivot(Array(col("o_year")), Array(col("n_urgent"), col("n_high")),
          "priority_class", "n_orders")
        .orderBy("o_year", "priority_class")
    }),

    "q25_above_nation_avg" -> ((s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
      Tables(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql(
        """SELECT n_name, c_custkey, c_acctbal
          |FROM customer_v c JOIN nation_v n ON c_nationkey = n_nationkey
          |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
          |    (SELECT count(*) FROM customer_v c2 WHERE c2.c_nationkey = c.c_nationkey)
          |  > (SELECT sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) FROM customer_v c2
          |     WHERE c2.c_nationkey = c.c_nationkey)
          |ORDER BY n_name, c_custkey""".stripMargin)
    }),

    // ---- sketches (driver-gated via `within_bound`: HLL/KLL internals
    //      are engine-specific, so the sketch VALUE can't be oracled —
    //      instead the declared output carries only oracle-computable
    //      columns plus a within_bound flag computed from the sketch's
    //      own error contract; the oracle emits literal 1. A sketch
    //      regression flips the flag and breaks the hash. The raw
    //      approx-vs-exact columns stay visible to SketchBoundsSpec
    //      via [[x01Raw]]/[[x02Raw]].) ------------------------------------
    // bound = max(2×rsd × exact, 1): the relative contract plus an
    // absolute one-count floor — at tiny per-group cardinalities
    // (sf0.001: exact ≈ 4-13) the estimate's integer granularity makes
    // a ±1 excursion possible at ANY accuracy, and 4% of 11 is 0.44
    "x01_approx_distinct" -> ((s, dir) =>
      x01Raw(s, dir)
        .select(col("n_name"), col("exact_customers"),
          when(abs(col("approx_customers") - col("exact_customers")).cast("double")
            <= greatest(col("exact_customers").cast("double") * lit(2 * 0.02), lit(1.0)),
            lit(1L)).otherwise(lit(0L)).as("within_bound"))
        .orderBy("n_name")),

    // exact interpolated percentiles — cross-engine comparable iff both
    // engines use the same lerp arithmetic (verified by the gate)
    "q22_exact_percentiles" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          percentile(col("o_totalprice"), lit(0.5)).as("p50"),
          percentile(col("o_totalprice"), lit(0.25)).as("p25"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    "x02_percentile_sketch" -> ((s, dir) =>
      x02Raw(s, dir)
        .select(col("o_orderpriority"), col("n"),
          when(col("p50") >= col("qs")(0) && col("p50") <= col("qs")(1) &&
            col("p99") >= col("qs")(2) && col("p99") <= col("qs")(3),
            lit(1L)).otherwise(lit(0L)).as("within_bound"))
        .orderBy("o_orderpriority")),

    // ---- sessionization (gap-based session windows; batch twin of the
    //      streaming flatMapGroupsWithState op) --------------------------
    "s01_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = 15L * 60L * 1000000L
      Tables(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > gapUs, 1).otherwise(0))
        .withColumn("session_seq",
          sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"),
          sumE2(col("value")).as("sum_value"))
        .orderBy("user_id", "session_seq")
    }),

    // the NATIVE session-window operator (same gap sessions as s01's
    // gaps-and-islands, via the built-in session_window function —
    // streaming-ready group key, merge-on-overlap semantics). Boundary
    // differs from s01 BY DESIGN: session_window merges iff the gap is
    // STRICTLY under 15 min (window [ts, ts+gap) overlap), and the
    // session end is last-event ts + gap; the oracle mirrors both.
    "s03_session_window" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "15 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sumE2(col("value")).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // Sliding event-time windows (1 h window, 15 min slide): each event
    // lands in exactly size/slide = 4 overlapping windows on the
    // epoch-aligned grid (Spark window() default). The Expand is the
    // 4x row multiplier a streaming twin pays too; per-(window, type)
    // counts partial-aggregate map-side, so shuffle rows track the
    // window-grid cardinality, not 4x the event count.
    "s04_sliding_window" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumE2(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type")
    }),

    // ---- keep-first dedup (batch twin of dropDuplicatesWithinWatermark,
    //      SURVEY.md §2.10 dedup row) -------------------------------------
    "s02_dedup_keep_first" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
        .orderBy("user_id", "event_type")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         | CAST(sum($REV_SQL) AS DOUBLE) AS sum_disc_price,
         | round(avg(l_quantity), 4) AS avg_qty,
         | round(avg(l_discount), 4) AS avg_disc,
         | count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q02_topk_order_revenue" ->
      s"""SELECT l_orderkey, CAST(sum($REV_SQL) AS DOUBLE) AS order_revenue, count(*) AS n_items
         |FROM lineitem GROUP BY 1
         |ORDER BY order_revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q03_segment_revenue" ->
      s"""SELECT c_mktsegment, CAST(sum($REV_SQL) AS DOUBLE) AS segment_revenue,
         | count(DISTINCT o_orderkey) AS n_orders,
         | count(DISTINCT c_custkey) AS n_customers
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey AND CAST(year(o_orderdate) AS INT) = 1995
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q04_dim_join" ->
      """SELECT n_nationkey, n_name, region_name
        |FROM nation LEFT JOIN (SELECT r_regionkey, r_name AS region_name FROM region)
        | ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    "q05_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'A' AND l_quantity >= 25
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q06_latest_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q07_running_customer_spend" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q08_symmetric_diff" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE CAST(year(o_orderdate) AS INT) = 1995),
        |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE CAST(year(o_orderdate) AS INT) = 1996)
        |SELECT o_custkey, 'only_1995' AS side FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_1996' AS side FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
        |ORDER BY o_custkey, side""".stripMargin,

    "q09_nation_order_stats" ->
      """SELECT n_name, count(DISTINCT o_custkey) AS n_active_customers,
        | count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q10_rollup_acctbal" ->
      """SELECT coalesce(r_name, 'ALL') AS region_name, coalesce(n_name, 'ALL') AS nation_name,
        | count(*) AS n_customers, CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin,

    "q11_customers_without_orders" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q12_suppliers_shipping_2000q1" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey
        |  AND l_shipdate >= TIMESTAMP '2000-01-01' AND l_shipdate < TIMESTAMP '2000-04-01')
        |ORDER BY s_suppkey""".stripMargin,

    // avg = floor-micros of exact-decimal sum / count (see the Spark
    // twin's comment on round()'s cross-engine half-case)
    "q13_events_hourly" ->
      s"""SELECT date_trunc('hour', ts) AS hour_start, event_type,
         | count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         | ${avgMicros("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)", "avg_value_micros")}
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q14_priority_by_year" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        | CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        | CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        | count(*) AS n_total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q26_pivot_priority" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        | CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        | CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        | CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
        | CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_notspec,
        | CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_part_type_stats" ->
      s"""SELECT upper(string_split(p_type, ' ')[1]) AS type_head,
         | count(*) AS n_parts,
         | ${avgMicros("CAST(sum(p_size) AS DOUBLE)", "avg_size_micros")},
         | min(p_name) AS min_name, max(p_name) AS max_name
         |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,

    "q16_json_extract" ->
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        | max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
        | CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_50
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q17_orders_by_quarter" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        | CAST(quarter(o_orderdate) AS INT) AS o_quarter,
        | count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q18_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE CAST(year(o_orderdate) AS INT) = 1995
        |ORDER BY c_custkey""".stripMargin,

    "q19_union_distinct" ->
      """SELECT DISTINCT c_custkey FROM (
        | SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        | UNION ALL
        | SELECT o_custkey AS c_custkey FROM orders WHERE CAST(year(o_orderdate) AS INT) = 2000)
        |ORDER BY c_custkey""".stripMargin,

    "q20_brand_price_range" ->
      """SELECT p_brand, min(p_retailprice) AS min_price, max(p_retailprice) AS max_price,
        | count(*) AS n_parts
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,

    "q27_grouping_sets" ->
      """SELECT coalesce(n_name, 'ALL') AS nation_name,
        | coalesce(c_mktsegment, 'ALL') AS segment,
        | count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer c JOIN nation n ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        |ORDER BY nation_name, segment""".stripMargin,

    // decimal chain mirrored exactly: (12,2)·(13,2)·(5,2) stays under
    // precision 38 in both engines, so the products are exact
    "q29_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
        |    * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS charge,
        |  count(DISTINCT s_suppkey) AS n_suppliers
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderstatus <> 'P'
        |  AND o_orderdate >= CAST('1995-01-01' AS TIMESTAMP)
        |  AND o_orderdate < CAST('1997-01-01' AS TIMESTAMP)
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q30_supplier_health" ->
      """SELECT n_name, count(*) AS n_suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
        |  CAST(sum(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q28_unpivot" ->
      """WITH w AS (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        | FROM orders GROUP BY 1)
        |SELECT o_year, 'n_urgent' AS priority_class, n_urgent AS n_orders FROM w
        |UNION ALL SELECT o_year, 'n_high' AS priority_class, n_high AS n_orders FROM w
        |ORDER BY o_year, priority_class""".stripMargin,

    "q25_above_nation_avg" ->
      """SELECT n_name, c_custkey, c_acctbal
        |FROM customer c JOIN nation n ON c_nationkey = n_nationkey
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
        |    (SELECT count(*) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |  > (SELECT sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) FROM customer c2
        |     WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY n_name, c_custkey""".stripMargin,

    "q23_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(rank() OVER wp AS INT) AS price_rank,
        | CAST(dense_rank() OVER wp AS INT) AS price_dense_rank,
        | CAST(ntile(4) OVER wt AS INT) AS time_quartile,
        | lag(o_orderdate, 1) OVER wt AS prev_order_date,
        | lead(o_orderdate, 1) OVER wt AS next_order_date
        |FROM orders
        |WINDOW wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC),
        |       wt AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q24_name_distance" ->
      """SELECT a.p_brand,
        | CAST(sum(CASE WHEN levenshtein(a.p_name, b.p_name) <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_close_pairs,
        | CAST(min(CASE WHEN levenshtein(a.p_name, b.p_name) <= 5
        |           THEN levenshtein(a.p_name, b.p_name) END) AS INT) AS min_close_distance,
        | count(*) AS n_pairs
        |FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q22_exact_percentiles" ->
      """SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS p50,
        | quantile_cont(o_totalprice, 0.25) AS p25, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // sketch gates: the oracle computes the exact columns and asserts the
    // bound flag is literally 1 — Spark computes the SAME flag from its
    // own sketch, so any accuracy regression breaks the hash compare.
    "x01_approx_distinct" ->
      s"""SELECT n_name, count(DISTINCT o_custkey) AS exact_customers,
         | ${boundOk()}
         |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "x02_percentile_sketch" ->
      s"""SELECT o_orderpriority, count(*) AS n, ${boundOk()}
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_cube_orders" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE(c_mktsegment, o_orderpriority)
        |ORDER BY segment, priority""".stripMargin,

    "s01_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('microsecond', lag(ts) OVER w, ts) > 900000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM x)
        |SELECT user_id, session_seq, count(*) AS n_events,
        | date_diff('microsecond', min(ts), max(ts)) AS duration_us,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM y GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // is_new uses >= (strict-overlap merge) and end = max(ts) + gap —
    // the session_window semantics, not s01's <= boundary
    "s03_session_window" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('microsecond', lag(ts) OVER w, ts) >= 900000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM x)
        |SELECT user_id, min(ts) AS session_start,
        | max(ts) + INTERVAL 15 MINUTE AS session_end,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM y GROUP BY user_id, session_seq ORDER BY user_id, session_start""".stripMargin,

    // the grid arithmetic mirrors Spark's epoch-aligned slide: both
    // engines floor sub-microsecond precision before bucketing, and the
    // grid (900 s) is far coarser than the truncation, so window
    // membership is identical
    "s04_sliding_window" ->
      """WITH e AS (SELECT ts, event_type, value, epoch_us(ts) AS us FROM events),
        |x AS (SELECT event_type, value, us, unnest(range(0, 4)) AS k FROM e),
        |j AS (SELECT event_type, value,
        |  us - (us % 900000000) - 900000000 * k AS ws FROM x)
        |SELECT make_timestamp(ws) AS window_start,
        | make_timestamp(ws + 3600000000) AS window_end,
        | event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM j GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,

    "s02_dedup_keep_first" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin
  )
}
