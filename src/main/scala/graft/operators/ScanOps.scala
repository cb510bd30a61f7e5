package graft.operators

import graft.{QueryPack, Tables}
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** SURVEY.md §2.1 scans, §2.2 projection/filter, §2.6 sorts/top-k,
  * §2.7 set operations.
  *
  * Determinism note: (l_orderkey, l_linenumber) is NOT unique in this corpus,
  * so every per-row query orders by ALL output columns — rows that tie on the
  * full sort key are byte-identical, which keeps LIMIT boundaries hash-stable.
  *
  * Scale notes: projections/filters stay in a single WholeStageCodegen stage
  * over the vectorized parquet scan (predicates + column pruning pushed to the
  * reader). Top-k uses TakeOrderedAndProject: per-partition partial top-k then
  * a driver merge of k rows — no global sort shuffle at any scale.
  */
object ScanOps extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_project" -> ((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
          col("l_quantity").asc, col("l_extendedprice").asc)
        .limit(1000)
    }),

    "q_scan_pushdown" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01"))
          && col("l_shipdate") < to_timestamp(lit("1997-01-01"))
          && col("l_quantity") < 5)
        .select(col("l_orderkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("ship_date"), col("l_quantity"))
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
          col("ship_date").asc, col("l_quantity").asc)
    }),

    // Money in exact integer units (1e-4 / 1e-6 dollars) — the final schema
    // is pure BIGINT/STRING so it survives the cross-engine hash (round-1
    // lesson: DECIMAL never does).
    "q_proj_compute" -> ((s, d) => {
      lineitem(s, d)
        .withColumn("revenue_e4", discE4(col("l_extendedprice"), col("l_discount")))
        .withColumn("charged_e6",
          chargeE6(col("l_extendedprice"), col("l_discount"), col("l_tax")))
        .withColumn("size_class",
          when(col("l_quantity") < 10, lit("small"))
            .when(col("l_quantity") < 30, lit("mid"))
            .otherwise(lit("big")))
        .select(col("l_orderkey"), col("l_linenumber"), col("revenue_e4"),
          col("charged_e6"), col("size_class"))
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
          col("revenue_e4").asc, col("charged_e6").asc, col("size_class").asc)
        .limit(1000)
    }),

    "q_filter_in_like" -> ((s, d) => {
      part(s, d)
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
          && col("p_type").like("PROM%")
          && col("p_name").like("%a%")
          && col("p_size").between(1, 25))
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"), col("p_size"))
        .orderBy(col("p_partkey").asc)
    }),

    "q_filter_null_coalesce" -> ((s, d) => {
      val li = lineitem(s, d)
        .withColumn("flag_n", nullif(col("l_returnflag"), lit("N")))
      li.groupBy(col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("flag_n")).as("n_flag_not_n"),
          sum(when(col("flag_n").isNull, 1).otherwise(0)).as("n_null"),
          min(coalesce(col("flag_n"), lit("ZZ"))).as("min_flag"))
        .orderBy(col("l_linestatus").asc)
    }),

    "q_distinct" -> ((s, d) => {
      customer(s, d)
        .select(col("c_nationkey"), col("c_mktsegment"))
        .dropDuplicates()
        .orderBy(col("c_nationkey").asc, col("c_mktsegment").asc)
    }),

    "q_sort_nulls" -> ((s, d) => {
      orders(s, d)
        .withColumn("status_n", nullif(col("o_orderstatus"), lit("O")))
        .select(col("o_orderkey"), col("status_n"), col("o_totalprice"))
        .orderBy(col("status_n").asc_nulls_first,
          col("o_totalprice").desc_nulls_last, col("o_orderkey").asc)
        .limit(1000)
    }),

    "q_topk" -> ((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc, col("l_partkey").asc, col("l_suppkey").asc)
        .limit(100)
    }),

    "q_set_union" -> ((s, d) => {
      val o = orders(s, d)
      def buyers(yr: Int) = o.filter(year(col("o_orderdate")) === yr)
        .select(lit(yr).as("yr"), col("o_custkey")).distinct()
      buyers(1995).unionByName(buyers(1996))
        .orderBy(col("yr").asc, col("o_custkey").asc)
    }),

    "q_set_intersect" -> ((s, d) => {
      val o = orders(s, d)
      def buyers(yr: Int) = o.filter(year(col("o_orderdate")) === yr).select(col("o_custkey"))
      buyers(1995).intersect(buyers(1996)).orderBy(col("o_custkey").asc)
    }),

    "q_set_except" -> ((s, d) => {
      val o = orders(s, d)
      def buyers(yr: Int) = o.filter(year(col("o_orderdate")) === yr).select(col("o_custkey"))
      buyers(1995).except(buyers(1996)).orderBy(col("o_custkey").asc)
    }),

    // Multiset (bag) set ops — EXCEPT ALL / INTERSECT ALL keep per-row
    // multiplicity (min/difference of duplicate counts), the semantics that
    // matter when rows are observations, not keys. Formulated as ONE
    // tagged-union aggregate instead of Spark's builtin exceptAll +
    // intersectAll pair: the builtins would shuffle-aggregate the same two
    // inputs TWICE (once per op); here both multiplicities (ca, cb) come
    // out of a single count aggregate over the union — map-side partial
    // combine collapses duplicates before the one exchange — and both ops'
    // rows re-materialize from the counts (except: ca-cb copies where
    // ca>cb; intersect: min(ca,cb) where both present) via sequence+
    // explode AFTER the shuffle. Halves the exchanged volume; at sf100 the
    // 8 GiB-heap leg was spill-bound on the doubled aggregation.
    // r17 session-5 (guide §6): the union's two branches each scanned
    // lineitem (2 parquet passes over the same columns). ONE scan now
    // computes both branch flags per row — a row matching both filters
    // contributed (1,0) and (0,1) rows to the union before, (1,1) once
    // now: identical (ca, cb) after the sum. A shape probe (one JVM,
    // interleaved; git history at 7a28436): sf1 2.1 → 1.7 s, sf10 never worse (the explode+sort
    // tail dominates there); outputs identical at both SFs;
    // oracle-hash-gated. Plan: 2 parquet scans → 1.
    "q_set_except_all" -> ((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          when(col("l_quantity") > 45, 1L).otherwise(0L).as("_ca"),
          when(col("l_discount") > 0.05, 1L).otherwise(0L).as("_cb"))
        .filter(col("_ca") === 1L || col("_cb") === 1L)
        .groupBy(col("ok"), col("ln"))
        .agg(sum(col("_ca")).as("ca"), sum(col("_cb")).as("cb"))
        .select(col("ok"), col("ln"),
          explode(filter(array(
            when(col("ca") > col("cb"),
              struct(lit("except").as("op"), (col("ca") - col("cb")).as("n"))),
            when(col("ca") >= 1 && col("cb") >= 1,
              struct(lit("intersect").as("op"), least(col("ca"), col("cb")).as("n")))),
            x => x.isNotNull)).as("e"))
        .select(col("e.op").as("op"), col("ok"), col("ln"), col("e.n").as("n"))
        .withColumn("_i", explode(sequence(lit(1L), col("n"))))
        .select(col("op"), col("ok"), col("ln"))
        .orderBy(col("op").asc, col("ok").asc, col("ln").asc)
    }),

    // Deterministic stratified sampling — the training-data curation
    // primitive (eval holdouts, per-source rate caps). The sample membership
    // is a pure function of the KEY (first 16 bits of md5), never an RNG:
    // re-runs, retries, and both engines agree row-for-row, and the rate is
    // per-stratum (c_mktsegment) via a threshold CASE. Plan is scan+filter
    // in one codegen stage — no shuffle, no state; at 100 TB the sample
    // never materializes the population.
    "q_sample_stratified" -> ((s, d) => {
      val thresh = when(col("c_mktsegment") === "AUTOMOBILE", lit("1999")) // ~10%
        .when(col("c_mktsegment") === "BUILDING", lit("0ccc")) // ~5%
        .otherwise(lit("0333")) // ~1.25%
      customer(s, d)
        .withColumn("hbucket",
          substring(md5(col("c_custkey").cast("string").cast("binary")), 1, 4))
        .filter(col("hbucket") < thresh)
        .select(col("c_custkey"), col("c_mktsegment"), col("hbucket"))
        .orderBy(col("c_custkey").asc)
    }),

    // Unpivot / melt: wide measure columns -> (measure, value) long form —
    // the reshaping pass between a columnar rollup and a generic metrics
    // table. Runs AFTER the two-phase aggregate, so the expand (3x) applies
    // to |groups| rows, never to raw input; all three measures are exact
    // bigints so one uniform value column survives both engines. Oracle
    // twin is the portable UNION ALL form.
    "q_unpivot" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast(LongType)).as("qty"),
          sum(cents(col("l_extendedprice"))).as("price_cents"),
          sum(cents(col("l_discount"))).as("disc_cents"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price_cents"), col("disc_cents")),
          "measure", "value")
        .orderBy(col("l_returnflag").asc, col("measure").asc)
    })
  )

  override def oracle: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey ASC, l_linenumber ASC, l_quantity ASC, l_extendedprice ASC
        |LIMIT 1000""".stripMargin,

    "q_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_quantity < 5
        |ORDER BY l_orderkey ASC, l_linenumber ASC, ship_date ASC, l_quantity ASC""".stripMargin,

    "q_proj_compute" ->
      s"""SELECT l_orderkey, l_linenumber,
         | CAST(${sqlDiscE4("l_extendedprice", "l_discount")} AS BIGINT) AS revenue_e4,
         | CAST(${sqlChargeE6("l_extendedprice", "l_discount", "l_tax")} AS BIGINT) AS charged_e6,
         | CASE WHEN l_quantity < 10 THEN 'small' WHEN l_quantity < 30 THEN 'mid' ELSE 'big' END AS size_class
         |FROM lineitem
         |ORDER BY l_orderkey ASC, l_linenumber ASC, revenue_e4 ASC, charged_e6 ASC, size_class ASC
         |LIMIT 1000""".stripMargin,

    "q_filter_in_like" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size
        |FROM part
        |WHERE p_brand IN ('Brand#1','Brand#2','Brand#3')
        |  AND p_type LIKE 'PROM%' AND p_name LIKE '%a%'
        |  AND p_size BETWEEN 1 AND 25
        |ORDER BY p_partkey ASC""".stripMargin,

    "q_filter_null_coalesce" ->
      """SELECT l_linestatus,
        | COUNT(*) AS n_rows,
        | COUNT(NULLIF(l_returnflag,'N')) AS n_flag_not_n,
        | CAST(SUM(CASE WHEN NULLIF(l_returnflag,'N') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        | MIN(COALESCE(NULLIF(l_returnflag,'N'),'ZZ')) AS min_flag
        |FROM lineitem
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus ASC""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT c_nationkey, c_mktsegment
        |FROM customer
        |ORDER BY c_nationkey ASC, c_mktsegment ASC""".stripMargin,

    "q_sort_nulls" ->
      """SELECT o_orderkey, NULLIF(o_orderstatus,'O') AS status_n, o_totalprice
        |FROM orders
        |ORDER BY status_n ASC NULLS FIRST, o_totalprice DESC NULLS LAST, o_orderkey ASC
        |LIMIT 1000""".stripMargin,

    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC, l_partkey ASC, l_suppkey ASC
        |LIMIT 100""".stripMargin,

    "q_set_union" ->
      """SELECT yr, o_custkey FROM (
        |  SELECT DISTINCT 1995 AS yr, o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |  UNION ALL
        |  SELECT DISTINCT 1996 AS yr, o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |)
        |ORDER BY yr ASC, o_custkey ASC""".stripMargin,

    "q_set_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey ASC""".stripMargin,

    "q_set_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey ASC""".stripMargin,

    "q_set_except_all" ->
      """WITH a AS (SELECT l_orderkey AS ok, l_linenumber AS ln FROM lineitem
        |           WHERE l_quantity > 45),
        |     b AS (SELECT l_orderkey AS ok, l_linenumber AS ln FROM lineitem
        |           WHERE l_discount > 0.05)
        |SELECT 'except' AS op, ok, ln
        |  FROM (SELECT ok, ln FROM a EXCEPT ALL SELECT ok, ln FROM b)
        |UNION ALL
        |SELECT 'intersect' AS op, ok, ln
        |  FROM (SELECT ok, ln FROM a INTERSECT ALL SELECT ok, ln FROM b)
        |ORDER BY op ASC, ok ASC, ln ASC""".stripMargin,

    "q_sample_stratified" ->
      """SELECT c_custkey, c_mktsegment, hbucket FROM (
        |  SELECT c_custkey, c_mktsegment,
        |         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4) AS hbucket
        |  FROM customer)
        |WHERE hbucket < CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN '1999'
        |                     WHEN c_mktsegment = 'BUILDING' THEN '0ccc'
        |                     ELSE '0333' END
        |ORDER BY c_custkey ASC""".stripMargin,

    "q_unpivot" ->
      s"""WITH agg AS (
         |  SELECT l_returnflag,
         |    ${sqlSumB("CAST(l_quantity AS BIGINT)")} AS qty,
         |    ${sqlSumB(sqlCents("l_extendedprice"))} AS price_cents,
         |    ${sqlSumB(sqlCents("l_discount"))} AS disc_cents
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, measure, value FROM (
         |  SELECT l_returnflag, 'qty' AS measure, qty AS value FROM agg
         |  UNION ALL
         |  SELECT l_returnflag, 'price_cents', price_cents FROM agg
         |  UNION ALL
         |  SELECT l_returnflag, 'disc_cents', disc_cents FROM agg)
         |ORDER BY l_returnflag ASC, measure ASC""".stripMargin
  )
}
