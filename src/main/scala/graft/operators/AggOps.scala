package graft.operators

import graft.{QueryPack, Tables}
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** SURVEY.md §2.4 — aggregation operators.
  *
  * Scale notes (100 TB posture): every groupBy below compiles to a two-phase
  * HashAggregate (partial map-side combine before the shuffle), so shuffled
  * bytes are proportional to |groups|, not |rows|. Group cardinalities here
  * are tiny (flags, segments, nations) — the shuffle is a few KB per
  * partition regardless of input scale.
  */
object AggOps extends QueryPack {

  /** Flagship: TPC-H Q1 shape. All money arithmetic in exact integer units
    * (cents / 1e-4 / 1e-6 currency units — see Tables.discE4/chargeE6), so
    * every SUM is order-independent bigint math and the final schema carries
    * only BIGINT + DOUBLE columns (round-1 lesson: DECIMAL never survives the
    * driver's cross-engine hash).
    *
    * SCALE BOUND (documented, ANSI-enforced): sum_charge_e6 accumulates
    * ~1e11 per row, so the bigint sum overflows 2^63 around 9e7 rows per
    * (returnflag, linestatus) group ≈ SF 60 for the densest group. Beyond
    * that ANSI mode throws loudly (never silently corrupts); the remedy at
    * that scale is DOUBLE-out via exact DECIMAL(38,0) internal sums, the
    * pattern q_agg_var_decimal demonstrates.
    */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // round() BEFORE the long cast: Spark's double->long cast truncates
        // toward zero while DuckDB's rounds — identical here only because
        // quantities are integer-valued; round() removes that latent trap.
        sum(round(col("l_quantity")).cast(LongType)).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(discE4(col("l_extendedprice"), col("l_discount"))).as("sum_disc_e4"),
        sum(chargeE6(col("l_extendedprice"), col("l_discount"), col("l_tax"))).as("sum_charge_e6"),
        avg2(col("l_quantity")).as("avg_qty"),
        avg2(col("l_extendedprice")).as("avg_price"),
        avg2(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       | ${sqlSumB("CAST(round(l_quantity) AS BIGINT)")} AS sum_qty,
       | ${sqlSumB(sqlCents("l_extendedprice"))} AS sum_base_cents,
       | ${sqlSumB(sqlDiscE4("l_extendedprice", "l_discount"))} AS sum_disc_e4,
       | ${sqlSumB(sqlChargeE6("l_extendedprice", "l_discount", "l_tax"))} AS sum_charge_e6,
       | ${sqlAvg2("l_quantity")} AS avg_qty,
       | ${sqlAvg2("l_extendedprice")} AS avg_price,
       | ${sqlAvg2("l_discount")} AS avg_disc,
       | COUNT(*) AS count_order
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag ASC, l_linestatus ASC""".stripMargin

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Top-3 orders per segment via the typed bounded TopK Aggregator — the
    * registered q_agg_topk_group formulation: the buffer never exceeds k,
    * so partial aggregation ships k rows/group/partition and nothing ever
    * sorts the full join output. Measured at sf1 vs the salted window it
    * replaced: 0.70 s vs 1.06 s (BASELINE.md "TopK formulations"; the
    * probe main is in git history at 7a28436). TopKAggSpec pins result
    * equality against that window shape, incl. NaN/-0.0 ordering.
    */
  def topKAggregated(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TopKAgg
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_totalprice").as("value"),
        col("o_orderkey").as("key"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, v, k) => TopKAgg.Entry(v, k) }
      .agg(TopKAgg.topK(3).toColumn.name("top"))
      .select(col("key").as("c_mktsegment"), posexplode(col("top")))
      .select(col("c_mktsegment"), (col("pos") + 1).cast(LongType).as("rn"),
        col("col.key").as("o_orderkey"), col("col.value").as("o_totalprice"))
      .orderBy(col("c_mktsegment").asc, col("rn").asc)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_q1" -> (q1 _),

    // customer scales with the fact data: NO broadcast hint — let
    // AQE/autoBroadcastJoinThreshold pick (it will broadcast at test SF and
    // shuffle-join at 100 TB). Hints are reserved for bounded dims
    // (nation/region, 25/5 rows at every SF).
    "q_agg_distinct_having" -> ((s, d) => {
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"))
        .filter(col("n_custs") > 300)
        .orderBy(col("c_mktsegment").asc)
    }),

    // Eager aggregation below the join (a rewrite Catalyst does NOT do):
    // lineitem collapses to one (orderkey, partial revenue, line count) row
    // per order BEFORE the fact-fact join, so the big shuffle carries ~1/4
    // the rows and none of the lineitem detail columns. SUM/COUNT
    // distribute over the per-order partials (same exact bigint math, same
    // oracle hash); the rollup keys come from the dim side and are
    // untouched. Measured at sf3: 20.9 s -> ~8 s.
    "q_agg_rollup" -> ((s, d) => {
      val perOrder = lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(discE4(col("l_extendedprice"), col("l_discount"))).as("rev_part"),
          count(lit(1)).as("n_part"))
      perOrder
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(
          sum(col("rev_part")).as("revenue_e4"),
          sum(col("n_part")).as("n_items"),
          grouping(col("r_name")).cast(LongType).as("g_r"),
          grouping(col("n_name")).cast(LongType).as("g_n"))
        .orderBy(col("g_r").asc, col("g_n").asc,
          col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    "q_agg_cube" -> ((s, d) => {
      lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          grouping(col("l_returnflag")).cast(LongType).as("g_f"),
          grouping(col("l_linestatus")).cast(LongType).as("g_s"))
        .orderBy(col("g_f").asc, col("g_s").asc,
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // Pure Dataset.groupingSets (Spark 4 API) — no temp-view session state.
    "q_agg_grouping_sets" -> ((s, d) => {
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), year(col("o_orderdate")).as("yr"))
        .groupingSets(
          Seq(Seq(col("c_mktsegment"), col("yr")), Seq(col("c_mktsegment")), Seq.empty),
          col("c_mktsegment"), col("yr"))
        .agg(count(lit(1)).as("n_orders"),
          grouping(col("c_mktsegment")).cast(LongType).as("g_seg"),
          grouping(col("yr")).cast(LongType).as("g_yr"))
        .orderBy(col("g_seg").asc, col("g_yr").asc,
          col("c_mktsegment").asc_nulls_first, col("yr").asc_nulls_first)
    }),

    // Exact per-nation variance of c_acctbal via the integer-cents identity
    // n*Sum(x^2) - Sum(x)^2 over n*(n-1). The numerator grows as n²·cents²
    // (~1.3e19 at SF1 with 6k customers/nation — past 2^63), so the exact
    // arithmetic runs in DECIMAL(38,0) (room to ~1e38 ≈ SF 1e10) and the
    // output column is the correctly-rounded DOUBLE of that exact integer —
    // deterministic cross-engine because both engines convert the SAME
    // exact value (DuckDB mirrors with HUGEINT). var_den stays BIGINT
    // (overflows only at ~3e9 rows per nation ≈ SF 5e5).
    "q_agg_var_decimal" -> ((s, d) => {
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val xd = cents(col("c_acctbal")).cast(DecimalType(38, 0))
      customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(xd).as("sx"), sum(xd * xd).as("sx2"))
        .select(col("c_nationkey"), col("n"),
          (col("n").cast(DecimalType(38, 0)) * col("sx2") - col("sx") * col("sx"))
            .cast(DoubleType).as("var_num_cents2"),
          (col("n") * (col("n") - 1)).as("var_den"))
        .orderBy(col("c_nationkey").asc)
    }),

    // Two-phase top-k: c_mktsegment has only 5 values, so a single window
    // over it would funnel ALL rows into 5 reducers. Phase 1 salts the
    // partition key (64 buckets) and keeps a local top-3 per (segment, salt)
    // — any row in the global top-3 is necessarily in its bucket's top-3 —
    // then phase 2 runs the exact window over <= 3*64 survivors per segment.
    "q_agg_topk_group" -> (topKAggregated _),

    "q_pivot" -> ((s, d) => {
      val ev = events(s, d)
        .withColumn("day", to_date(col("ts")))
        .withColumn("vc", cents(col("value")))
      val pivoted = ev.groupBy(col("day"))
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)).as("cnt"), sum(col("vc")).as("valc"))
      val cols = col("day") +: eventTypes.flatMap(t => Seq(
        coalesce(col(s"${t}_cnt"), lit(0L)).as(s"${t}_cnt"),
        col(s"${t}_valc")))
      pivoted.select(cols: _*).orderBy(col("day").asc)
    }),

    // HLL + approximate percentile: algorithms differ across engines by
    // design, so no DuckDB oracle — ApproxSpec bounds the error vs exact.
    // Exact median (not the sketch — that's q_agg_approx): both engines
    // compute continuous-interpolation percentile 0.5 over exact integer
    // cents, and for even groups average the two middle longs in one
    // double division — identical IEEE results (longs < 2^52 are exact).
    "q_agg_median" -> ((s, d) => {
      customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(median(cents(col("c_acctbal"))).as("med_bal_cents"),
          count(lit(1)).as("n"))
        .orderBy(col("c_nationkey").asc)
    }),

    // The sketches and the exact distinct count run as SEPARATE single-row
    // aggregations joined at the end: mixing countDistinct with other
    // aggregates makes Catalyst plan an Expand whose first-level aggregate
    // groups by (gid, l_partkey) — and then every one of those ~|parts|
    // groups carries its own ~16 KB HLL++(rsd=0.01) buffer. Measured at
    // sf1: 48.7 s combined vs 2+1.5 s split (BASELINE.md round 3; the
    // decomposition probe main is in git history at 7a28436).
    "q_agg_approx" -> ((s, d) => {
      val li = lineitem(s, d)
      // The 1-row x 1-row crossJoin is a deliberate BNLJ (PlanSpec
      // bnljAllowed) — a literal join key just constant-folds back into one.
      li.agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_p50"))
        .crossJoin(li.agg(countDistinct(col("l_partkey")).as("exact_parts")))
        .select(col("approx_parts"), col("exact_parts"), col("approx_p50"))
    }),

    // Mergeable HLL sketches (DataSketches HllSketch via hll_sketch_agg /
    // hll_union_agg) — the INCREMENTAL distinct-count pattern at crawl
    // scale: per-(priority, month) partial sketches are the unit a
    // pipeline persists per ingest batch, and "distinct customers to
    // date" is then a union over the tiny sketch table — the raw fact
    // data is never rescanned. q_agg_approx's approx_count_distinct is
    // the one-shot form; THIS is the form whose partials survive the
    // query. Three result columns per priority: the estimate from merged
    // monthly partials, the estimate from a single whole-input sketch,
    // and the exact distinct. Merge soundness nuance (ApproxSpec pins
    // it): register-wise max makes merging lossless once both sides are
    // in DENSE HLL mode, but DataSketches' union gadget promotes
    // sparse/coupon-mode partials to dense while a directly-built
    // small-cardinality sketch stays in its exact coupon mode — so
    // merged and direct estimates agree within estimator resolution
    // (measured 1302 vs 1300 at ~1.3 k distinct), not bit-exactly.
    // No DuckDB oracle: its approx sketch is a different algorithm.
    "q_agg_hll_merge" -> ((s, d) => {
      val o = orders(s, d)
      val partials = o
        .groupBy(col("o_orderpriority").as("pri"), trunc(col("o_orderdate"), "month").as("m"))
        .agg(hll_sketch_agg(col("o_custkey"), 12).as("sk"))
      val merged = partials.groupBy(col("pri"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).cast(LongType).as("merged_est"))
      val global = o.groupBy(col("o_orderpriority").as("pri"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"), 12)).cast(LongType).as("global_est"),
          countDistinct(col("o_custkey")).cast(LongType).as("exact_d"))
      merged.join(global, "pri").orderBy(col("pri").asc)
    }),

    // Set-OVERLAP estimation by inclusion-exclusion over the same
    // mergeable HLL sketches: |A∩B| ≈ est(A) + est(B) − est(A∪B). The
    // audience-overlap question ("how many users both click AND
    // purchase") answered without ever materializing either user set —
    // the two per-segment sketches are KBs and the union is a sketch op,
    // so at 100 TB this is one fact pass + constant-size math, where the
    // exact form is a self-join of two distinct-shuffles. Signed error:
    // inclusion-exclusion differences three estimates, so the relative
    // error grows as |A∪B|/|A∩B| — ApproxSpec gates the estimate against
    // the exact overlap at the corpus's ~85% overlap regime and pins the
    // identity est_a + est_b − est_union = est_intersect. No DuckDB
    // oracle (different sketch algorithm); registry determinism still
    // applies (DataSketches is seed-stable).
    "q_agg_hll_intersect" -> ((s, d) => {
      val sks = events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      sks.agg(
        max(when(col("event_type") === "click",
          hll_sketch_estimate(col("sk")))).cast(LongType).as("est_click"),
        max(when(col("event_type") === "purchase",
          hll_sketch_estimate(col("sk")))).cast(LongType).as("est_purchase"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).cast(LongType).as("est_union"))
        .withColumn("est_intersect",
          col("est_click") + col("est_purchase") - col("est_union"))
    }),

    // Count-min heavy hitters: per-day sketches of the user_id stream
    // (builtin codegen'd count_min_sketch aggregate) unioned across days
    // by the typed CmsUnionAgg — counters are additive, so the union is
    // BITWISE the single-pass global sketch (ApproxSpec's mergeability
    // identity). The merged KB-sized sketch is then probed for a bounded
    // key set and laid next to the exact counts; est >= exact always
    // (CMS never undercounts), over by more than eps*N only with
    // probability 1 - confidence. The 1-row sketch collect is the bloom
    // precedent (Decontam); at 100 TB the probe set is the salting
    // layer's hot-key candidates, not a data-sized list.
    "q_agg_cms_users" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val merged = ev
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("count_min_sketch(user_id, 0.01d, 0.99d, 42)").as("sk"))
        .agg(graft.functions.CmsSketch.cmsUnion(col("sk")).as("sk"))
        .head().getAs[Array[Byte]](0)
      val cms = graft.functions.CmsSketch.fromBytes(merged)
      val probes = (0L until 20L).map(u => (u, cms.estimateCount(u))).toDF("user_id", "est")
      ev.filter(col("user_id") < 20)
        .groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
        .join(broadcast(probes), "user_id")
        .select(col("user_id"), col("exact_n"), col("est"))
        .orderBy(col("user_id").asc)
    }),

    // Grouped mode with a deterministic tie-break (smallest value wins):
    // two-phase count aggregate (map-side partials; shuffled rows =
    // |users| x |event types|, bounded), then a row_number window whose
    // partitions are one user's <= 5 count rows — no full-partition sort of
    // the raw events anywhere.
    "q_agg_mode" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n").desc, col("event_type").asc)
      events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_event"), col("n").as("n_mode"))
        .orderBy(col("user_id").asc)
    }),

    // Fixed-width histogram — the data-profiling shape that replaces a sort
    // for distribution questions: bucket = floor(x / w), one two-phase
    // count aggregate, |buckets| output rows no matter the input size.
    // min/max of the raw double are safe (no summation of the inexact
    // o_totalprice — SURVEY §7.3); the division is one correctly-rounded
    // IEEE op so bucket boundaries agree across engines.
    "q_agg_histogram" -> ((s, d) => {
      val w = 25000.0
      orders(s, d)
        .groupBy(floor(col("o_totalprice") / w).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("bucket").asc)
    }),

    // Column profiler (null counts, NDVs, min/max) — the data-quality sweep
    // a training pipeline runs before ingesting a source. One aggregate PER
    // COLUMN, each a column-pruned single-column scan, 1-row x 1-row
    // crossJoined (PlanSpec bnljAllowed) and stacked: putting all three
    // distinct counts in ONE aggregate plans an Expand that triples every
    // input row before the partial agg — measured 16 s vs 11 s at sf1
    // (the residual cost is the two genuinely large exact NDVs).
    // Values surface as strings ONLY from exact types (bigint/string —
    // never raw doubles, whose to-string rendering differs across engines).
    "q_profile" -> ((s, d) => {
      def prof(c: org.apache.spark.sql.Column, tag: String) =
        lineitem(s, d).agg(
          count(c).as(s"${tag}_n"),
          countDistinct(c).as(s"${tag}_d"),
          min(c).cast("string").as(s"${tag}_min"),
          max(c).cast("string").as(s"${tag}_max"))
      prof(col("l_orderkey"), "k")
        .crossJoin(prof(col("l_returnflag"), "f"))
        .crossJoin(prof(cents(col("l_extendedprice")), "p"))
        .select(expr(
          """stack(3,
            | 'l_orderkey',   k_n, k_d, k_min, k_max,
            | 'l_returnflag', f_n, f_d, f_min, f_max,
            | 'price_cents',  p_n, p_d, p_min, p_max)
            | AS (col_name, n_nonnull, n_distinct, min_s, max_s)""".stripMargin))
        .orderBy(col("col_name").asc)
    }),

    // The 100-TB variant of q_profile (SURVEY §7.4b): approx_count_distinct
    // replaces the two large exact NDVs. HLL sketches are regular partial
    // aggregates, so ALL twelve stats fit in ONE single-scan HashAggregate —
    // no per-distinct Expand (the reason q_profile splits into three
    // aggregates), no shuffle of distinct values, fixed sketch memory per
    // column regardless of input size. No DuckDB oracle (HLL estimates are
    // engine-specific); ApproxSpec gates each NDV within 2% of exact.
    // rsd=0.01 (2^14 registers/sketch), MEASURED: rsd=0.005 quadruples the
    // register array and its per-row update cost for no gate benefit
    // (steady-state 4.2 s vs 1.7 s at sf0.1; sf10 12.1 s vs 6.0 s).
    "q_profile_approx" -> ((s, d) => {
      def p(c: org.apache.spark.sql.Column, tag: String) = Seq(
        count(c).as(s"${tag}_n"),
        approx_count_distinct(c, 0.01).as(s"${tag}_d"),
        min(c).cast("string").as(s"${tag}_min"),
        max(c).cast("string").as(s"${tag}_max"))
      val stats = p(col("l_orderkey"), "k") ++ p(col("l_returnflag"), "f") ++
        p(cents(col("l_extendedprice")), "p")
      lineitem(s, d).agg(stats.head, stats.tail: _*)
        .select(expr(
          """stack(3,
            | 'l_orderkey',   k_n, k_d, k_min, k_max,
            | 'l_returnflag', f_n, f_d, f_min, f_max,
            | 'price_cents',  p_n, p_d, p_min, p_max)
            | AS (col_name, n_nonnull, n_distinct, min_s, max_s)""".stripMargin))
        .orderBy(col("col_name").asc)
    }),

    // Correlation / covariance per group, computed the cross-engine-exact
    // way: accumulate the five integer moments (sum x, sum y, sum xy,
    // sum x^2, sum y^2) as exact bigints in ONE two-phase aggregate, then
    // derive corr/covar from the moments in double space with a single
    // shared expression tree (each step an IEEE-correctly-rounded op on
    // identical inputs, so the doubles match bitwise across engines).
    // The builtin corr()/covar_pop() stream Welford-style partial states
    // whose merge order differs between engines — the moment form is the
    // deterministic twin. x = quantity (integral by construction),
    // y = discount in exact cents. Moment magnitude bound documented:
    // sum(y^2) <= 1e6/row -> overflows 2^63 around SF 1.5e6 — far beyond
    // any real corpus; ANSI mode would throw, not corrupt.
    "q_agg_corr" -> ((s, d) => {
      val x = col("l_quantity").cast(LongType)
      val y = cents(col("l_discount"))
      val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
      val agg = lineitem(s, d)
        .select(col("l_returnflag"), x.as("x"), y.as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val n = dbl(col("n")); val sx = dbl(col("sx")); val sy = dbl(col("sy"))
      val num = n * dbl(col("sxy")) - sx * sy
      val denx = n * dbl(col("sxx")) - sx * sx
      val deny = n * dbl(col("syy")) - sy * sy
      agg.select(col("l_returnflag"), col("n"), col("sx"), col("sy"),
          (num / (sqrt(denx) * sqrt(deny))).as("corr_qd"),
          (num / (n * n)).as("covar_pop_qd"))
        .orderBy(col("l_returnflag").asc)
    }),

    // Filtered + boolean aggregates: count_if / bool_and / bool_or, plus
    // max_by keyed by a composite (value, tiebreak) bigint so the selected
    // row is unique — max_by with a non-unique key is engine-arbitrary.
    // Composite bound: cents(o_totalprice) < 2^31 and o_orderkey < 2^32
    // at any plausible SF, so key = cents * 2^32 + orderkey stays in
    // bigint and orders first by price then by key. One two-phase
    // aggregate; output rows = |priorities|.
    "q_agg_countif_bool" -> ((s, d) => {
      val pc = cents(col("o_totalprice"))
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count_if(col("o_totalprice") > 150000.0).as("n_big"),
          bool_and(col("o_totalprice") > 0.0).as("all_pos"),
          bool_or(col("o_orderstatus") === "F").as("any_f"),
          max_by(col("o_orderkey"),
            pc * lit(4294967296L) + col("o_orderkey")).as("top_order"))
        .orderBy(col("o_orderpriority").asc)
    }),

    // MULTIPLE DISTINCT aggregates in one query — the planner shape none
    // of the other aggregates exercise: Spark rewrites two different
    // DISTINCT columns + a plain SUM into an Expand (3 projections, one
    // per aggregate family) feeding a two-round aggregation. Scale shape:
    // the Expand triples rows BEFORE the exchange, but each projection
    // carries only its own distinct key, so partial aggregation still
    // collapses per-mapper duplicates; output = |orderstatus|.
    "q_agg_multi_distinct" -> ((s, d) => {
      orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          count_distinct(col("o_custkey")).as("n_cust"),
          count_distinct(to_date(col("o_orderdate"))).as("n_days"),
          sum(cents(col("o_totalprice"))).as("rev_cents"))
        .orderBy(col("o_orderstatus").asc)
    }),

    // grouping_id over a rollup — the combined bit-vector form (q_agg_rollup
    // carries per-column grouping() flags; this is the single-integer
    // variant dashboards key on to separate detail/subtotal/total rows).
    // Bit order (first rollup column = MSB) matches DuckDB's GROUPING(a,b).
    "q_agg_grouping_id" -> ((s, d) => {
      orders(s, d)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("sum_cents"),
          grouping_id().cast(LongType).as("gid"))
        .select(col("o_orderpriority"), col("o_orderstatus"), col("gid"),
          col("n"), col("sum_cents"))
        .orderBy(col("gid").asc, col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }),

    // Weighted average (Σw·x / Σw), quantity-weighted unit price per flag —
    // the avg2 pattern with a weight: both sums exact bigint (w·x_cents ≤
    // 5e8/row — overflow bound ~SF 2e7, ANSI throws), ONE double division.
    "q_agg_weighted_avg" -> ((s, d) => {
      val w = col("l_quantity").cast(LongType)
      val xc = cents(col("l_extendedprice"))
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(sum(w).as("sum_w"), sum(w * xc).as("sum_wx"))
        .select(col("l_returnflag"), col("sum_w"), col("sum_wx"),
          (col("sum_wx").cast(DoubleType) /
            (col("sum_w") * lit(100)).cast(DoubleType)).as("wavg_price"))
        .orderBy(col("l_returnflag").asc)
    }),

    // Skewness/kurtosis via the exact-integer-moment identity, the same
    // determinism pattern as q_agg_corr: the builtin skewness()/kurtosis()
    // stream Welford partials whose merge order differs between engines, so
    // we aggregate exact bigint power sums (x = quantity, integral, x^4 <=
    // 6.25e6/row -> overflows 2^63 around SF 2e5 — ANSI throws, not
    // corrupts) and derive g1 / excess-g2 with an identical double
    // expression tree on both sides (single divisions, explicit mult
    // chains, sqrt — every op correctly rounded, so bitwise-equal).
    "q_agg_skew_kurt" -> ((s, d) => {
      val x = col("l_quantity").cast(LongType)
      val dbl = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
      val agg = lineitem(s, d)
        .select(col("l_returnflag"), x.as("x"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"),
          sum(col("x") * col("x") * col("x")).as("s3"),
          sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      val n = dbl(col("n"))
      val m = dbl(col("s1")) / n
      val ex2 = dbl(col("s2")) / n
      val ex3 = dbl(col("s3")) / n
      val ex4 = dbl(col("s4")) / n
      val v = ex2 - m * m
      agg.select(col("l_returnflag"), col("n"), col("s1"), col("s2"),
          col("s3"), col("s4"),
          ((ex3 - lit(3.0) * m * ex2 + lit(2.0) * m * m * m) /
            (v * sqrt(v))).as("skew_g1"),
          ((ex4 - lit(4.0) * m * ex3 + lit(6.0) * m * m * ex2 -
            lit(3.0) * m * m * m * m) / (v * v) - lit(3.0)).as("kurt_g2"))
        .orderBy(col("l_returnflag").asc)
    }),

    // Bitmap flag rollup — the bit_or/bit_and/bit_xor aggregate family over
    // per-order line-number bitmaps (bit i set = line i+1 present). Level 1
    // builds one bigint bitmap per (returnflag, order) — a map-side-
    // combinable agg keyed like the fact table; level 2 collapses to
    // |flags| rows: AND = line numbers present in EVERY order, OR = in any.
    // All integer ops, bitwise-identical across engines by construction.
    "q_agg_bits" -> ((s, d) => {
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(l_linenumber AS INT) - 1)").as("lbit"))
        .groupBy(col("l_returnflag"), col("l_orderkey"))
        .agg(expr("bit_or(lbit)").as("order_lines"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_orders"),
          expr("bit_and(order_lines)").as("lines_all"),
          expr("bit_or(order_lines)").as("lines_any"),
          expr("bit_xor(order_lines)").as("lines_xor"))
        .orderBy(col("l_returnflag").asc)
    }),

    // Ordered string aggregation (listagg) done the deterministic way:
    // distinct first, collect, SORT the array, then join — collect_list's
    // arrival order is partition-scheduling-dependent, so the sort is what
    // makes the string reproducible across runs AND engines. The distinct
    // collapses to |nation x segment| rows before any collection; the
    // per-group array is bounded by segment cardinality, never row count.
    "q_agg_string_agg" -> ((s, d) => {
      customer(s, d)
        .select(col("c_nationkey").cast(LongType).as("nation"),
          col("c_mktsegment").as("seg"))
        .distinct()
        .groupBy(col("nation"))
        .agg(concat_ws(",", array_sort(collect_list(col("seg")))).as("segs"),
          count(lit(1)).as("n_segs"))
        .orderBy(col("nation").asc)
    })
  )

  private val fiveWayJoin =
    """FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey""".stripMargin

  override def oracle: Map[String, String] = Map(
    "q_agg_q1" -> q1Sql,

    "q_agg_distinct_having" ->
      """SELECT c_mktsegment, COUNT(DISTINCT o_custkey) AS n_custs
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |HAVING COUNT(DISTINCT o_custkey) > 300
        |ORDER BY c_mktsegment ASC""".stripMargin,

    "q_agg_rollup" ->
      s"""SELECT r_name, n_name,
         | ${sqlSumB(sqlDiscE4("l_extendedprice", "l_discount"))} AS revenue_e4,
         | COUNT(*) AS n_items,
         | CAST(GROUPING(r_name) AS BIGINT) AS g_r, CAST(GROUPING(n_name) AS BIGINT) AS g_n
         |$fiveWayJoin
         |GROUP BY ROLLUP(r_name, n_name)
         |ORDER BY g_r ASC, g_n ASC, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q_agg_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_f, CAST(GROUPING(l_linestatus) AS BIGINT) AS g_s
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_f ASC, g_s ASC,
        | l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_agg_grouping_sets" ->
      """SELECT c_mktsegment, year(o_orderdate) AS yr, COUNT(*) AS n_orders,
        | CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg, CAST(GROUPING(year(o_orderdate)) AS BIGINT) AS g_yr
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment, year(o_orderdate)), (c_mktsegment), ())
        |ORDER BY g_seg ASC, g_yr ASC, c_mktsegment ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin,

    "q_agg_median" ->
      s"""SELECT c_nationkey,
         | CAST(quantile_cont(${sqlCents("c_acctbal")}, 0.5) AS DOUBLE) AS med_bal_cents,
         | COUNT(*) AS n
         |FROM customer
         |GROUP BY c_nationkey
         |ORDER BY c_nationkey ASC""".stripMargin,

    // HUGEINT (exact 128-bit) mirrors Spark's DECIMAL(38,0); both engines
    // then convert the SAME exact integer to DOUBLE.
    "q_agg_var_decimal" ->
      s"""SELECT c_nationkey, n,
         | CAST(CAST(n AS HUGEINT) * sx2 - sx * sx AS DOUBLE) AS var_num_cents2,
         | n * (n - 1) AS var_den
         |FROM (
         |  SELECT c_nationkey, COUNT(*) AS n,
         |   SUM(CAST(${sqlCents("c_acctbal")} AS HUGEINT)) AS sx,
         |   SUM(CAST(${sqlCents("c_acctbal")} AS HUGEINT) * ${sqlCents("c_acctbal")}) AS sx2
         |  FROM customer GROUP BY c_nationkey
         |)
         |ORDER BY c_nationkey ASC""".stripMargin,

    "q_agg_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / CAST(25000 AS DOUBLE)) AS BIGINT) AS bucket,
        | COUNT(*) AS n, MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
        |FROM orders
        |GROUP BY 1
        |ORDER BY bucket ASC""".stripMargin,

    "q_profile" -> {
      def c(name: String, sel: String, from: String) =
        s"""SELECT '$name' AS col_name, COUNT($sel) AS n_nonnull,
           | COUNT(DISTINCT $sel) AS n_distinct,
           | CAST(MIN($sel) AS VARCHAR) AS min_s, CAST(MAX($sel) AS VARCHAR) AS max_s
           |FROM $from""".stripMargin
      s"""${c("l_orderkey", "l_orderkey", "lineitem")}
         |UNION ALL
         |${c("l_returnflag", "l_returnflag", "lineitem")}
         |UNION ALL
         |${c("price_cents", "price_cents",
              s"(SELECT ${sqlCents("l_extendedprice")} AS price_cents FROM lineitem)")}
         |ORDER BY col_name ASC""".stripMargin
    },

    "q_agg_corr" ->
      // double-space arithmetic mirrors the Spark expression tree exactly
      // (cast each bigint moment FIRST, then identical IEEE op order)
      s"""SELECT l_returnflag, n, sx, sy,
         | (nd*sxyd - sxd*syd) / (sqrt(nd*sxxd - sxd*sxd) * sqrt(nd*syyd - syd*syd)) AS corr_qd,
         | (nd*sxyd - sxd*syd) / (nd*nd) AS covar_pop_qd
         |FROM (
         | SELECT *, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         |  CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
         |  CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
         | FROM (
         |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         |   ${sqlSumB("x")} AS sx, ${sqlSumB("y")} AS sy,
         |   ${sqlSumB("x*y")} AS sxy, ${sqlSumB("x*x")} AS sxx,
         |   ${sqlSumB("y*y")} AS syy
         |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
         |         ${sqlCents("l_discount")} AS y FROM lineitem)
         |  GROUP BY l_returnflag))
         |ORDER BY l_returnflag ASC""".stripMargin,

    "q_agg_multi_distinct" ->
      s"""SELECT o_orderstatus,
         | CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
         | CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_days,
         | ${sqlSumB(sqlCents("o_totalprice"))} AS rev_cents
         |FROM orders
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus ASC""".stripMargin,

    "q_agg_countif_bool" ->
      s"""SELECT o_orderpriority,
         | CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS BIGINT) AS n_big,
         | bool_and(o_totalprice > 0.0) AS all_pos,
         | bool_or(o_orderstatus = 'F') AS any_f,
         | arg_max(o_orderkey,
         |   ${sqlCents("o_totalprice")} * 4294967296 + o_orderkey) AS top_order
         |FROM orders GROUP BY o_orderpriority
         |ORDER BY o_orderpriority ASC""".stripMargin,

    "q_agg_grouping_id" ->
      s"""SELECT o_orderpriority, o_orderstatus,
         | CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
         | COUNT(*) AS n,
         | ${sqlSumB(sqlCents("o_totalprice"))} AS sum_cents
         |FROM orders
         |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
         |ORDER BY gid ASC, o_orderpriority ASC NULLS FIRST,
         |         o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q_agg_weighted_avg" ->
      s"""SELECT l_returnflag,
         |  ${sqlSumB("CAST(l_quantity AS BIGINT)")} AS sum_w,
         |  ${sqlSumB(s"CAST(l_quantity AS BIGINT) * ${sqlCents("l_extendedprice")}")} AS sum_wx,
         |  CAST(${sqlSumB(s"CAST(l_quantity AS BIGINT) * ${sqlCents("l_extendedprice")}")} AS DOUBLE) /
         |    CAST(${sqlSumB("CAST(l_quantity AS BIGINT)")} * 100 AS DOUBLE) AS wavg_price
         |FROM lineitem
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag ASC""".stripMargin,

    "q_agg_skew_kurt" ->
      s"""SELECT l_returnflag, n, s1, s2, s3, s4,
         |  (ex3 - 3.0 * m * ex2 + 2.0 * m * m * m) / (v * sqrt(v)) AS skew_g1,
         |  (ex4 - 4.0 * m * ex3 + 6.0 * m * m * ex2 - 3.0 * m * m * m * m)
         |    / (v * v) - 3.0 AS kurt_g2
         |FROM (
         |  SELECT l_returnflag, n, s1, s2, s3, s4, m, ex2, ex3, ex4,
         |    ex2 - m * m AS v
         |  FROM (
         |    SELECT l_returnflag, n, s1, s2, s3, s4,
         |      CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         |      CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS ex2,
         |      CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS ex3,
         |      CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS ex4
         |    FROM (
         |      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         |        ${sqlSumB("x")} AS s1, ${sqlSumB("x*x")} AS s2,
         |        ${sqlSumB("x*x*x")} AS s3, ${sqlSumB("x*x*x*x")} AS s4
         |      FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x
         |            FROM lineitem)
         |      GROUP BY l_returnflag)))
         |ORDER BY l_returnflag ASC""".stripMargin,

    "q_agg_bits" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  bit_and(order_lines) AS lines_all,
        |  bit_or(order_lines) AS lines_any,
        |  bit_xor(order_lines) AS lines_xor
        |FROM (
        |  SELECT l_returnflag, l_orderkey,
        |    bit_or(CAST(1 AS BIGINT) << (CAST(l_linenumber AS INT) - 1))
        |      AS order_lines
        |  FROM lineitem GROUP BY l_returnflag, l_orderkey)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC""".stripMargin,

    "q_agg_string_agg" ->
      """SELECT nation, string_agg(seg, ',' ORDER BY seg ASC) AS segs,
        |  CAST(COUNT(*) AS BIGINT) AS n_segs
        |FROM (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nation,
        |        c_mktsegment AS seg FROM customer)
        |GROUP BY nation
        |ORDER BY nation ASC""".stripMargin,

    "q_agg_mode" ->
      """SELECT user_id, event_type AS mode_event, n AS n_mode FROM (
        |  SELECT user_id, event_type, COUNT(*) AS n,
        |   ROW_NUMBER() OVER (PARTITION BY user_id
        |                      ORDER BY COUNT(*) DESC, event_type ASC) AS rn
        |  FROM events GROUP BY user_id, event_type)
        |WHERE rn = 1
        |ORDER BY user_id ASC""".stripMargin,

    "q_agg_topk_group" ->
      """SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |)
        |WHERE rn <= 3
        |ORDER BY c_mktsegment ASC, rn ASC""".stripMargin,

    "q_pivot" -> {
      val aggCols = eventTypes.map { t =>
        s""" COUNT(*) FILTER (WHERE event_type = '$t') AS ${t}_cnt,
           | CAST(SUM(vc) FILTER (WHERE event_type = '$t') AS BIGINT) AS ${t}_valc""".stripMargin
      }.mkString(",\n")
      s"""SELECT CAST(ts AS DATE) AS day,
         |$aggCols
         |FROM (SELECT ts, event_type, ${sqlCents("value")} AS vc FROM events)
         |GROUP BY day
         |ORDER BY day ASC""".stripMargin
    }
  )
}
