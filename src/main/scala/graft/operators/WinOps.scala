package graft.operators

import graft.QueryPack
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** SURVEY.md §2.5 — window functions.
  *
  * Scale posture: every window that can partition on a high-cardinality key
  * (o_custkey) does — state per partition is one customer's history, so the
  * sort behind each window is local and small at any data size. The two
  * exceptions partition on low-cardinality keys because their SEMANTICS
  * require it (rank-within-segment, ntile-within-nation); q_win_rank applies
  * the salted two-phase prune (local top-k per (key, salt), exact window over
  * survivors) so the low-cardinality exact window only ever sees k*salts
  * rows per key. ntile is inherently a full-partition ranking — documented
  * as the operator's cost, bounded here by nation cardinality.
  */
object WinOps extends QueryPack {

  private def bi(c: Column) = c.cast(LongType)

  /** orders ⋈ (per-order lineitem revenue in exact cents). */
  private def orderRev(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("ord_cents"))
    orders(s, d)
      .join(rev, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("od"), col("ord_cents"))
  }

  private val orderRevSql =
    s"""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od, ord_cents
       |FROM orders JOIN (
       |  SELECT l_orderkey, ${sqlSumB(sqlCents("l_extendedprice"))} AS ord_cents
       |  FROM lineitem GROUP BY l_orderkey
       |) ON o_orderkey = l_orderkey""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Top-10 rank/dense_rank/row_number per segment. Phase 1 prunes with a
    // salted local row_number (any row whose exact row_number is <= 10 has
    // bucket row_number <= 10, and every strictly-better row also survives,
    // so rank/dense_rank computed over survivors equal the exact values for
    // every emitted row).
    "q_win_rank" -> ((s, d) => {
      val ord = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
      val w1 = Window.partitionBy(col("c_mktsegment"), col("salt")).orderBy(ord: _*)
      val wSeg = Window.partitionBy(col("c_mktsegment"))
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .withColumn("salt", pmod(col("o_orderkey"), lit(64L)))
        .withColumn("rn1", row_number().over(w1))
        .filter(col("rn1") <= 10)
        .select(
          col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
          bi(rank().over(wSeg.orderBy(col("o_totalprice").desc))).as("rnk"),
          bi(dense_rank().over(wSeg.orderBy(col("o_totalprice").desc))).as("drnk"),
          bi(row_number().over(wSeg.orderBy(ord: _*))).as("rn"))
        .filter(col("rn") <= 10)
        .orderBy(col("c_mktsegment").asc, col("rn").asc)
    }),

    "q_win_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("od").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orderRev(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("od"), col("ord_cents"),
          sum(col("ord_cents")).over(w).as("running_cents"),
          bi(row_number().over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("od").asc, col("o_orderkey").asc))).as("seq"))
        .orderBy(col("o_custkey").asc, col("o_orderkey").asc)
    }),

    "q_win_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("od").asc, col("o_orderkey").asc)
      orderRev(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("od"),
          bi(datediff(col("od"), lag(col("od"), 1).over(w))).as("days_since_prev"),
          bi(datediff(lead(col("od"), 1).over(w), col("od"))).as("days_until_next"))
        .orderBy(col("o_custkey").asc, col("o_orderkey").asc)
    }),

    // 30-day moving order count per customer via an integer day-number RANGE
    // frame (identical semantics in both engines, no interval arithmetic).
    "q_win_range_30d" -> ((s, d) => {
      val dayno = datediff(col("od"), to_date(lit("1990-01-01")))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(dayno.cast(LongType).asc)
        .rangeBetween(-30, 0)
      orderRev(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("od"),
          bi(dayno).as("dayno"),
          count(lit(1)).over(w).as("n_orders_30d"))
        .orderBy(col("o_custkey").asc, col("o_orderkey").asc)
    }),

    // ntile needs the whole partition by definition; partition on nation
    // (bounded key). Ranking comparisons only — the doubles emitted are
    // single-division ratios of integers, identical across engines.
    "q_win_ntile" -> ((s, d) => {
      val wUnique = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("bal_cents").asc, col("c_custkey").asc)
      val wValue = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("bal_cents").asc)
      customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          cents(col("c_acctbal")).as("bal_cents"))
        .select(col("c_custkey"), col("c_nationkey"), col("bal_cents"),
          bi(ntile(4).over(wUnique)).as("quartile"),
          percent_rank().over(wValue).as("pr"),
          cume_dist().over(wValue).as("cd"))
        .orderBy(col("c_custkey").asc)
    }),

    // Batch sessionization — the gaps-and-islands twin of the streaming
    // session window (StreamOps q_stream_session): a >30-min silence starts a
    // new session; the session id is the running count of session starts.
    // One shuffle on user_id; both windows sort (ms, event_id) once per user
    // partition, so state is a single user's history at any corpus size.
    "q_sessionize" -> ((s, d) => {
      val gapMs = 30L * 60 * 1000
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("event_id").asc)
      events(s, d)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
        .withColumn("new_sess",
          when(lag(col("ms"), 1).over(wOrd).isNull ||
            col("ms") - lag(col("ms"), 1).over(wOrd) > gapMs, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ms")).as("start_ms"),
          (max(col("ms")) - min(col("ms"))).as("dur_ms"))
        .orderBy(col("user_id").asc, col("sess_id").asc)
    }),

    // Conversion funnel over the event stream: users who signed up, the
    // subset that clicked AT OR AFTER their first signup, the subset of
    // those that purchased at or after that first qualifying click —
    // strictly ordered stages anchored on first qualifying timestamps.
    // Each stage is a key-partitioned shuffle join on user_id followed by
    // a two-phase min-aggregate, and stages shrink monotonically; nothing
    // broadcasts an unbounded side and no stage holds more than one
    // user's rows at a time, so the shape survives any corpus size.
    "q_events_funnel" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ms")).as("s_ms"))
      val cl = ev.filter(col("event_type") === "click")
        .join(su, Seq("user_id"))
        .filter(col("ms") >= col("s_ms"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("c_ms"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(cl, Seq("user_id"))
        .filter(col("ms") >= col("c_ms"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("p_ms"))
      su.select(lit("1_signup").as("stage"), col("user_id"))
        .union(cl.select(lit("2_click").as("stage"), col("user_id")))
        .union(pu.select(lit("3_purchase").as("stage"), col("user_id")))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("stage").asc)
    }),

    // first_value/last_value over the FULL frame (unbounded both ways —
    // last_value under the default frame is just the current row, the
    // classic window trap). Deterministic: the order key (od, o_orderkey)
    // is unique per customer partition.
    "q_win_first_last" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("od").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orderRev(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("od"),
          first(col("od")).over(w).as("first_od"),
          last(col("od")).over(w).as("last_od"),
          first(col("ord_cents")).over(w).as("first_cents"),
          last(col("ord_cents")).over(w).as("last_cents"))
        .orderBy(col("o_custkey").asc, col("o_orderkey").asc)
    }),

    // Cohort retention: users grouped by first-signup day, counted once
    // per day-offset they were active on afterwards — the engagement
    // matrix behind every retention curve. The cohort side is a per-user
    // min-aggregate (two-phase); the join is user_id-keyed (no broadcast
    // of an unbounded side); the (cohort, offset, user) distinct and the
    // final count are both partial+final aggregates, so every stage
    // shrinks with user cardinality, not event volume.
    "q_events_retention" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      ev.select(col("user_id"), col("day")).distinct()
        .join(cohort, Seq("user_id"))
        .filter(col("day") >= col("cohort_day"))
        .select(col("cohort_day"),
          bi(datediff(col("day"), col("cohort_day"))).as("day_offset"),
          col("user_id"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_day").asc, col("day_offset").asc)
    }),

    // RFM segmentation: per-customer recency / frequency / monetary
    // quintiles — the classic CRM scoring pass. One o_custkey groupBy
    // (two-phase, shrinks to customer cardinality), then three ntile
    // windows over the 1-row-per-customer aggregate, each ordered by a
    // unique (metric, custkey) key so quintile assignment is
    // deterministic across engines. ntile is inherently a global ranking
    // (single-partition window) — bounded here by CUSTOMER cardinality,
    // not order volume; at 100 TB the quintile boundaries would come from
    // approx_percentile over the same aggregate instead (one scan, no
    // global sort) — ntile keeps this oracle exact.
    // percent_rank + cume_dist per segment — the remaining SQL-standard
    // ranking functions. Both are one double division of exact bigint
    // ranks ((rank-1)/(n-1), n_le/n), and the order key
    // (acctbal_cents, custkey) is unique per partition, so the values
    // are bitwise-identical across engines. Partitioned on the segment:
    // per-partition sort only, no global ordering anywhere above the
    // final determinism ORDER BY.
    "q_win_percent_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("bal_cents").asc, col("c_custkey").asc)
      customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          cents(col("c_acctbal")).as("bal_cents"))
        .select(col("c_custkey"), col("c_mktsegment"), col("bal_cents"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("c_custkey").asc)
    }),

    // Bounded ROWS-frame moving average — the trailing-window smoothing
    // primitive (running_sum covers the unbounded frame; this is the
    // 7-observation sliding frame, a different WindowExec frame mode).
    // Exact per the avg2 pattern: frame sum in bigint cents, frame count,
    // ONE double division — identical IEEE op both engines.
    "q_win_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("od").asc, col("o_orderkey").asc)
        .rowsBetween(-6, Window.currentRow)
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("od"),
          cents(col("o_totalprice")).as("ord_cents"))
        .select(col("o_custkey"), col("o_orderkey"), col("od"), col("ord_cents"),
          (sum(col("ord_cents")).over(w).cast(DoubleType) /
            (count(lit(1)).over(w) * lit(100)).cast(DoubleType)).as("mov_avg"))
        .orderBy(col("o_custkey").asc, col("o_orderkey").asc)
    }),

    // Share-of-total (ratio_to_report): each customer's revenue as a
    // fraction of its segment's total. The grouped agg collapses orders to
    // one row per customer FIRST, so the unbounded partition-sum window
    // runs over the small rollup, not the fact table; share is one double
    // division of exact bigint cents (identical IEEE op both engines).
    "q_win_share" -> ((s, d) => {
      val wSeg = Window.partitionBy(col("seg"))
      orders(s, d)
        .join(broadcast(customer(s, d).select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"), col("o_custkey").as("ck"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
        .select(col("seg"), col("ck"), col("rev_cents"),
          (col("rev_cents").cast(DoubleType) /
            sum(col("rev_cents")).over(wSeg).cast(DoubleType)).as("share"))
        .orderBy(col("seg").asc, col("ck").asc)
    }),

    // Event-transition (Markov) matrix: count consecutive event-type pairs
    // per user, plus each row's transition probability — the order-1
    // sequence statistics behind session modeling. The lag window
    // partitions on user_id (one user's ordered history per partition, a
    // unique (ts, event_id) sort key both engines share); the transition
    // count collapses event volume to |types|^2 rows BEFORE the tiny
    // probability window; p is one double division of exact bigints.
    "q_events_markov" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val wTot = Window.partitionBy(col("prev_type"))
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("prev_type"), col("next_type"), col("n"),
          (col("n").cast("double") /
            sum(col("n")).over(wTot).cast("double")).as("p"))
        .orderBy(col("prev_type").asc, col("next_type").asc)
    }),

    // nth_value over the FULL frame, both directions — the "3rd order ever
    // / 3rd-most-recent order" lookup. Deterministic because the order key
    // (od, o_orderkey) is unique within each customer partition; both
    // windows sort the same per-customer rows once each, so state stays
    // one customer's history at any scale.
    "q_win_nth_value" -> ((s, d) => {
      val full = Window.partitionBy(col("o_custkey"))
        .orderBy(col("od").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val fullDesc = Window.partitionBy(col("o_custkey"))
        .orderBy(col("od").desc, col("o_orderkey").desc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("od"))
        .select(col("o_custkey"), col("o_orderkey"), col("od"),
          nth_value(col("o_orderkey"), 3).over(full).as("third_key"),
          nth_value(col("o_orderkey"), 3).over(fullDesc).as("third_last_key"))
        .orderBy(col("o_custkey").asc, col("o_orderkey").asc)
    }),

    // Longest consecutive-day activity streak per user — gaps-and-islands
    // over the (user, day) distinct frame: dayno - row_number is constant
    // exactly within a run of consecutive days. The distinct collapses
    // event volume to at most |users| x |days| rows BEFORE the window, the
    // window partitions on user_id, and both aggregates are partial+final,
    // so every stage is bounded by user-day cardinality, not event count.
    "q_events_streaks" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
      events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("island",
          bi(datediff(col("day"), to_date(lit("1970-01-01")))) -
            bi(row_number().over(w)))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("longest_streak"),
          sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"))
        .orderBy(col("user_id").asc)
    }),

    // Trailing-baseline spike detection: a user's day is a spike when its
    // event count exceeds 2.5x the mean of their previous 7 days — the
    // anomaly flag behind rate-limiting and abuse sweeps. The daily rollup
    // collapses event volume FIRST (two-phase agg to user-day cardinality);
    // the trailing frame is an integer-dayno RANGE window (engine-identical,
    // no interval arithmetic, same trick as q_win_range_30d); and the 2.5x
    // rule is cross-multiplied so the whole decision is exact bigint math —
    // no division anywhere. Days with no trailing history are non-spikes by
    // definition.
    "q_events_spike" -> ((s, d) => {
      val daily = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dayno", bi(datediff(col("day"), to_date(lit("1970-01-01")))))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("dayno").asc).rangeBetween(-7, -1)
      daily
        .select(col("user_id"), col("day"), col("n"),
          coalesce(sum(col("n")).over(w), lit(0L)).as("trail_n"),
          count(lit(1)).over(w).as("trail_d"))
        .withColumn("spike",
          col("trail_d") > 0 &&
            col("n") * col("trail_d") * lit(2L) > col("trail_n") * lit(5L))
        .orderBy(col("user_id").asc, col("day").asc)
    }),

    // Forward-fill (LOCF — last observation carried forward): carry the
    // most recent non-null "big order" value down each customer's
    // timeline via last(ignoreNulls) over a running frame — the
    // sensor-gap / sparse-feature densification pass every time-series
    // feature pipeline needs. One key-partitioned window; the sparse
    // column is synthesized with a threshold CASE (corpus has no natural
    // nulls), and fill values are exact cents so both engines agree
    // bitwise.
    "q_win_fill_forward" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("od").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("od"),
          when(col("o_totalprice") > 300000.0, cents(col("o_totalprice")))
            .as("big"))
        .select(col("o_custkey"), col("o_orderkey"), col("od"), col("big"),
          last(col("big"), ignoreNulls = true).over(w).as("last_big"))
        .orderBy(col("o_custkey").asc, col("o_orderkey").asc)
    }),

    // Changelog compaction (the CDC upsert pattern): replay a stream of
    // row versions and keep only the LATEST full row per key — what a
    // MERGE-based sink materializes, expressed as one key-partitioned
    // window. The shuffle carries each key's versions to one partition;
    // row_number over the unique (ts, event_id) descending order picks the
    // survivor deterministically; nothing global, no driver state — the
    // shape is one exchange at any corpus size.
    "q_upsert_latest" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
        .orderBy(col("user_id").asc)
    }),

    // Calendar gap-filling: densify each customer's order history to one
    // row per month between their first and last order month, zero-filled
    // — the series-completion pass every time-series model needs before
    // training. The spine explode is bounded by the CALENDAR span (~tens
    // of rows per customer regardless of order volume).
    //
    // r16 shape (guide §2.4 — remove shuffles outright): the r15 form
    // scanned orders TWICE (spine min/max agg + monthly rollup) and
    // re-shuffled the exploded spine for a (custkey, month) left join —
    // 2 scans, 4 exchanges. The spine bounds are derivable from the
    // monthly rollup itself (min/max of its month column), and the
    // left-join lookup is a per-customer map over that customer's own
    // months — so: ONE orders scan → monthly rollup (exchange on
    // (custkey, month)) → per-customer collect (exchange on custkey,
    // input already customer-month-sized) → explode the calendar spine
    // and read each month's count out of the map. The map is
    // calendar-span-sized (~tens of entries) and is projected away
    // before the final sort exchange. Oracle twin unchanged — the
    // restructure is hash-gated.
    "q_gap_fill" -> ((s, d) => {
      val od = to_date(col("o_orderdate"))
      orders(s, d)
        .groupBy(col("o_custkey"), trunc(od, "month").as("month"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("o_custkey"))
        .agg(min(col("month")).as("m0"), max(col("month")).as("m1"),
          map_from_entries(collect_list(struct(col("month"), col("n"))))
            .as("mm"))
        .select(col("o_custkey"), col("mm"),
          explode(expr("sequence(m0, m1, interval 1 month)")).as("month"))
        .select(col("o_custkey"), col("month"),
          // try_element_at: null on a missing key (a gap month) — the
          // r16 form relied on element_at's null-on-missing, true since
          // Spark 3.4 (SPARK-40066) even under ANSI mode but implicit;
          // try_element_at states the contract and would survive a
          // pre-3.4 ANSI host. Same expression tree otherwise —
          // oracle-hash-gated.
          coalesce(try_element_at(col("mm"), col("month")), lit(0L)).as("n_orders"))
        .orderBy(col("o_custkey").asc, col("month").asc)
    }),

    // BOTH registered RFM keys now run the scalable (range-partitioned
    // exact-NTILE) plan. The readable global-NTILE-window formulation —
    // three unpartitioned windows = a single-partition global sort, a
    // scale-killer at 100× — is DEMOTED out of the public registry to
    // the spec-side `rfmNtileReference`; PipelineOpsSpec keeps it as the
    // oracle-identity anchor (scalable ≡ NTILE, row-identical). The
    // registry thereby carries no single-partition global window.
    "q_rfm_segment" -> ((s, d) => rfmScalable(s, d)),

    // Same plan under the original explicitly-"scalable" key: quintiles
    // computed with no global window anywhere — range-partition on each
    // metric (a parallel sort), rank locally, and reconstruct the exact
    // global rank from per-partition prefix counts — then NTILE's
    // closed-form bucket from (rank, n). Every data-sized structure stays
    // partitioned; the only single-partition work is over the
    // numPartitions-row count table.
    "q_rfm_segment_scalable" -> ((s, d) => rfmScalable(s, d))
  )

  /** The shared scalable RFM plan behind both registered keys.
    *
    * r17: the customer-sized base rollup is materialized ONCE (eager
    * localCheckpoint) — the plan consumes it seven times (the output
    * columns + each metric's rank AND count branches), and Catalyst's
    * ReusedExchange does not unify them (the range-repartition branches
    * sort on different keys), so the un-materialized form recomputed the
    * orders aggregate from parquet 7× per run: 14 parquet scans in
    * plans/r16/q_rfm_segment_after.txt → 1 here (guide §2.4 / §5
    * caching-for-reuse). The frame is one row per customer (~40 B);
    * MEMORY_AND_DISK blocks spill gracefully at cluster scale where
    * 7 recomputes of a corpus-sized aggregate would not.
    */
  private def rfmScalable(s: SparkSession, d: String): DataFrame = {
      val agg = rfmAgg(s, d).localCheckpoint(true)
      val r = exactNtile(agg, Seq(col("last_od").asc, col("o_custkey").asc), 5, "r_score")
      val f = exactNtile(agg, Seq(col("frequency").asc, col("o_custkey").asc), 5, "f_score")
      val m = exactNtile(agg, Seq(col("monetary_cents").asc, col("o_custkey").asc), 5, "m_score")
      agg.join(r, Seq("o_custkey")).join(f, Seq("o_custkey")).join(m, Seq("o_custkey"))
        .select(col("o_custkey"), col("last_od"), col("frequency"),
          col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"))
        .orderBy(col("o_custkey").asc)
  }

  /** Shared RFM rollup: one row per customer (recency / frequency /
    * monetary), all exact types.
    */
  private[graft] def rfmAgg(s: SparkSession, d: String): DataFrame =
    orders(s, d).groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_od"),
        count(lit(1)).as("frequency"),
        sum(cents(col("o_totalprice"))).as("monetary_cents"))

  /** EXACT distributed NTILE(k) with no global window. `sortCols` must be a
    * TOTAL order (unique tie-break) — then global row position is
    * well-defined and the result is bit-identical to
    * `ntile(k) over (order by sortCols)`:
    *
    *   1. `repartitionByRange(sortCols)` — the parallel sort: partition i
    *      holds a contiguous rank range (boundaries come from sampling, but
    *      ANY boundaries preserve correctness — only balance varies).
    *   2. `row_number() over (partition by pid)` — local rank, no global
    *      state.
    *   3. global rank = local rank + exclusive prefix sum of earlier
    *      partitions' counts. The prefix sum AND the grand total are one
    *      single-partition window pass over the numPartitions-row count
    *      table (bounded by cluster config, not data), broadcast back.
    *      (r16: this replaced a counts-to-counts theta self-join + a
    *      1-row crossJoin — the count table was recomputed three times
    *      and each recompute re-ran the base aggregate from parquet;
    *      q_rfm_segment's physical plan shrank 180 → 101 nodes, 13 → 7
    *      parquet scans, 54 → 29 exchanges.)
    *   4. NTILE's closed form from (rank, n): the first n%k buckets get
    *      ceil(n/k) rows, the rest floor(n/k).
    *
    * Returns (o_custkey, scoreName).
    */
  private[graft] def exactNtile(base: DataFrame, sortCols: Seq[Column], k: Int,
                                scoreName: String,
                                keyCol: String = "o_custkey"): DataFrame = {
    val parts = base.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val rp = base.repartitionByRange(parts, sortCols: _*)
      .withColumn("_pid", spark_partition_id())
    val counts = rp.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    // Exclusive prefix sum + grand total share one window spec (same
    // single partition, same sort), so WindowExec computes both in one
    // pass over the numPartitions-row frame.
    val wOff = Window.orderBy(col("_pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("_pid").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = counts.select(col("_pid"),
      coalesce(sum(col("_cnt")).over(wOff), lit(0L)).as("_off"),
      sum(col("_cnt")).over(wAll).as("_n"))
    val wLocal = Window.partitionBy(col("_pid")).orderBy(sortCols: _*)
    rp.withColumn("_lrn", row_number().over(wLocal))
      .join(broadcast(offsets), Seq("_pid"))
      .withColumn("_rn", col("_lrn").cast(LongType) + col("_off"))
      .withColumn(scoreName, expr(
        s"""CAST(CASE WHEN _rn <= (_n % $k) * (_n DIV $k + 1)
           |  THEN (_rn - 1) DIV (_n DIV $k + 1) + 1
           |  ELSE (_n % $k) + (_rn - 1 - (_n % $k) * (_n DIV $k + 1))
           |       DIV GREATEST(_n DIV $k, 1) + 1
           |END AS BIGINT)""".stripMargin))
      .select(col(keyCol), col(scoreName))
  }

  override def oracle: Map[String, String] = Map(
    "q_win_rank" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rnk, drnk, rn FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |   CAST(RANK() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC) AS BIGINT) AS rnk,
        |   CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC) AS BIGINT) AS drnk,
        |   CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |        ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |)
        |WHERE rn <= 10
        |ORDER BY c_mktsegment ASC, rn ASC""".stripMargin,

    "q_win_running_sum" ->
      s"""SELECT o_custkey, o_orderkey, od, ord_cents,
         | CAST(SUM(ord_cents) OVER (PARTITION BY o_custkey ORDER BY od ASC, o_orderkey ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
         | CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
         |      ORDER BY od ASC, o_orderkey ASC) AS BIGINT) AS seq
         |FROM ($orderRevSql)
         |ORDER BY o_custkey ASC, o_orderkey ASC""".stripMargin,

    "q_win_lag_lead" ->
      s"""SELECT o_custkey, o_orderkey, od,
         | CAST(datediff('day', LAG(od, 1) OVER w, od) AS BIGINT) AS days_since_prev,
         | CAST(datediff('day', od, LEAD(od, 1) OVER w) AS BIGINT) AS days_until_next
         |FROM ($orderRevSql)
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY od ASC, o_orderkey ASC)
         |ORDER BY o_custkey ASC, o_orderkey ASC""".stripMargin,

    "q_win_range_30d" ->
      s"""SELECT o_custkey, o_orderkey, od,
         | CAST(dayno AS BIGINT) AS dayno,
         | COUNT(*) OVER (PARTITION BY o_custkey ORDER BY dayno ASC
         |      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_orders_30d
         |FROM (SELECT *, datediff('day', DATE '1990-01-01', od) AS dayno FROM ($orderRevSql))
         |ORDER BY o_custkey ASC, o_orderkey ASC""".stripMargin,

    "q_win_ntile" ->
      s"""SELECT c_custkey, c_nationkey, bal_cents,
         | CAST(NTILE(4) OVER (PARTITION BY c_nationkey
         |      ORDER BY bal_cents ASC, c_custkey ASC) AS BIGINT) AS quartile,
         | PERCENT_RANK() OVER wv AS pr,
         | CUME_DIST() OVER wv AS cd
         |FROM (SELECT c_custkey, c_nationkey, ${sqlCents("c_acctbal")} AS bal_cents
         |      FROM customer)
         |WINDOW wv AS (PARTITION BY c_nationkey ORDER BY bal_cents ASC)
         |ORDER BY c_custkey ASC""".stripMargin,

    "q_sessionize" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |flg AS (
        |  SELECT user_id, event_id, ms,
        |    CASE WHEN LAG(ms) OVER w IS NULL OR ms - LAG(ms) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, ms,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM flg)
        |SELECT user_id, sess_id, COUNT(*) AS n_events,
        |  MIN(ms) AS start_ms, MAX(ms) - MIN(ms) AS dur_ms
        |FROM sess GROUP BY user_id, sess_id
        |ORDER BY user_id ASC, sess_id ASC""".stripMargin,

    "q_events_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |su AS (SELECT user_id, MIN(ms) AS s_ms FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |cl AS (SELECT ev.user_id, MIN(ms) AS c_ms FROM ev
        |       JOIN su ON ev.user_id = su.user_id
        |       WHERE event_type = 'click' AND ms >= s_ms GROUP BY 1),
        |pu AS (SELECT ev.user_id, MIN(ms) AS p_ms FROM ev
        |       JOIN cl ON ev.user_id = cl.user_id
        |       WHERE event_type = 'purchase' AND ms >= c_ms GROUP BY 1)
        |SELECT stage, COUNT(*) AS n_users FROM (
        |  SELECT '1_signup' AS stage, user_id FROM su
        |  UNION ALL SELECT '2_click', user_id FROM cl
        |  UNION ALL SELECT '3_purchase', user_id FROM pu)
        |GROUP BY stage
        |ORDER BY stage ASC""".stripMargin,

    "q_win_first_last" ->
      s"""SELECT o_custkey, o_orderkey, od,
         | FIRST_VALUE(od) OVER w AS first_od,
         | LAST_VALUE(od) OVER w AS last_od,
         | FIRST_VALUE(ord_cents) OVER w AS first_cents,
         | LAST_VALUE(ord_cents) OVER w AS last_cents
         |FROM ($orderRevSql)
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY od ASC, o_orderkey ASC
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |ORDER BY o_custkey ASC, o_orderkey ASC""".stripMargin,

    "q_events_retention" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
        |co AS (SELECT user_id, MIN(day) AS cohort_day FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |ud AS (SELECT DISTINCT user_id, day FROM ev)
        |SELECT cohort_day,
        |  CAST(datediff('day', cohort_day, day) AS BIGINT) AS day_offset,
        |  COUNT(*) AS n_users
        |FROM ud JOIN co USING (user_id)
        |WHERE day >= cohort_day
        |GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day ASC, day_offset ASC""".stripMargin,

    "q_win_percent_rank" ->
      s"""SELECT c_custkey, c_mktsegment, bal_cents,
         |  percent_rank() OVER w AS pct_rank,
         |  cume_dist() OVER w AS cume
         |FROM (SELECT c_custkey, c_mktsegment,
         |        ${sqlCents("c_acctbal")} AS bal_cents
         |      FROM customer)
         |WINDOW w AS (PARTITION BY c_mktsegment
         |             ORDER BY bal_cents ASC, c_custkey ASC)
         |ORDER BY c_custkey ASC""".stripMargin,

    "q_win_moving_avg" ->
      s"""SELECT o_custkey, o_orderkey, od, ord_cents,
         |  CAST(CAST(SUM(ord_cents) OVER w AS BIGINT) AS DOUBLE) /
         |    CAST(COUNT(*) OVER w * 100 AS DOUBLE) AS mov_avg
         |FROM (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
         |        ${sqlCents("o_totalprice")} AS ord_cents
         |      FROM orders)
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY od ASC, o_orderkey ASC
         |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY o_custkey ASC, o_orderkey ASC""".stripMargin,

    "q_win_share" ->
      s"""WITH rev AS (
         |  SELECT c_mktsegment AS seg, o_custkey AS ck,
         |    ${sqlSumB(sqlCents("o_totalprice"))} AS rev_cents
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2)
         |SELECT seg, ck, rev_cents,
         |  CAST(rev_cents AS DOUBLE) /
         |    CAST(CAST(SUM(rev_cents) OVER (PARTITION BY seg) AS BIGINT) AS DOUBLE)
         |    AS share
         |FROM rev
         |ORDER BY seg ASC, ck ASC""".stripMargin,

    "q_rfm_segment" ->
      s"""WITH agg AS (
         |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_od,
         |    CAST(COUNT(*) AS BIGINT) AS frequency,
         |    ${sqlSumB(sqlCents("o_totalprice"))} AS monetary_cents
         |  FROM orders GROUP BY 1)
         |SELECT o_custkey, last_od, frequency, monetary_cents,
         |  CAST(NTILE(5) OVER (ORDER BY last_od ASC, o_custkey ASC) AS BIGINT) AS r_score,
         |  CAST(NTILE(5) OVER (ORDER BY frequency ASC, o_custkey ASC) AS BIGINT) AS f_score,
         |  CAST(NTILE(5) OVER (ORDER BY monetary_cents ASC, o_custkey ASC) AS BIGINT) AS m_score
         |FROM agg
         |ORDER BY o_custkey ASC""".stripMargin,

    // IDENTICAL oracle to q_rfm_segment: the scalable form must reproduce
    // NTILE bit-for-bit (total order => exact global rank => closed-form
    // bucket), so the gate is the strongest available — same SQL, hash
    // compare.
    "q_rfm_segment_scalable" ->
      s"""WITH agg AS (
         |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_od,
         |    CAST(COUNT(*) AS BIGINT) AS frequency,
         |    ${sqlSumB(sqlCents("o_totalprice"))} AS monetary_cents
         |  FROM orders GROUP BY 1)
         |SELECT o_custkey, last_od, frequency, monetary_cents,
         |  CAST(NTILE(5) OVER (ORDER BY last_od ASC, o_custkey ASC) AS BIGINT) AS r_score,
         |  CAST(NTILE(5) OVER (ORDER BY frequency ASC, o_custkey ASC) AS BIGINT) AS f_score,
         |  CAST(NTILE(5) OVER (ORDER BY monetary_cents ASC, o_custkey ASC) AS BIGINT) AS m_score
         |FROM agg
         |ORDER BY o_custkey ASC""".stripMargin,

    "q_events_markov" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts ASC, event_id ASC) AS prev_type
        |  FROM events),
        |cnt AS (
        |  SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(n AS DOUBLE) /
        |    CAST(CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS DOUBLE) AS p
        |FROM cnt
        |ORDER BY prev_type ASC, next_type ASC""".stripMargin,

    "q_win_nth_value" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
        |  nth_value(o_orderkey, 3) OVER
        |    (PARTITION BY o_custkey
        |     ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS third_key,
        |  nth_value(o_orderkey, 3) OVER
        |    (PARTITION BY o_custkey
        |     ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS third_last_key
        |FROM orders
        |ORDER BY o_custkey ASC, o_orderkey ASC""".stripMargin,

    "q_events_spike" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dayno
        |  FROM events GROUP BY 1, 2, 4)
        |SELECT user_id, day, n, trail_n, trail_d,
        |  trail_d > 0 AND n * trail_d * 2 > trail_n * 5 AS spike
        |FROM (
        |  SELECT user_id, day, n,
        |    COALESCE(CAST(SUM(n) OVER w AS BIGINT), CAST(0 AS BIGINT)) AS trail_n,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS trail_d
        |  FROM daily
        |  WINDOW w AS (PARTITION BY user_id ORDER BY dayno ASC
        |               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |ORDER BY user_id ASC, day ASC""".stripMargin,

    "q_win_fill_forward" ->
      s"""SELECT o_custkey, o_orderkey, od, big,
         |  last_value(big IGNORE NULLS) OVER
         |    (PARTITION BY o_custkey ORDER BY od ASC, o_orderkey ASC
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_big
         |FROM (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
         |        CASE WHEN o_totalprice > 300000.0
         |             THEN ${sqlCents("o_totalprice")} END AS big
         |      FROM orders)
         |ORDER BY o_custkey ASC, o_orderkey ASC""".stripMargin,

    "q_upsert_latest" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id ASC""".stripMargin,

    "q_events_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |    datediff('day', DATE '1970-01-01', day)
        |      - row_number() OVER (PARTITION BY user_id ORDER BY day ASC) AS island
        |  FROM ud),
        |runs AS (
        |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, MAX(len) AS longest_streak,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_streaks
        |FROM runs GROUP BY user_id
        |ORDER BY user_id ASC""".stripMargin,

    "q_gap_fill" ->
      """WITH spine AS (
        |  SELECT o_custkey,
        |    CAST(unnest(generate_series(
        |      CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
        |      CAST(date_trunc('month', MAX(o_orderdate)) AS DATE),
        |      INTERVAL 1 MONTH)) AS DATE) AS month
        |  FROM orders GROUP BY o_custkey),
        |monthly AS (
        |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT s.o_custkey, s.month, COALESCE(n, CAST(0 AS BIGINT)) AS n_orders
        |FROM spine s LEFT JOIN monthly m
        |  ON s.o_custkey = m.o_custkey AND s.month = m.month
        |ORDER BY s.o_custkey ASC, s.month ASC""".stripMargin
  )
}
