package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Catalyst's injected runtime bloom filter (`InjectRuntimeFilter`) — the
  * big-big join lever for the 100 TB target that the registry's own plans
  * don't exercise (their small sides broadcast, which is strictly better
  * when it applies). When a shuffle join's creation side carries a
  * selective predicate, the optimizer builds a `bloom_filter_agg` over its
  * join keys and plants `might_contain(...)` on the application side's
  * scan, semi-join-reducing the probe rows BEFORE the shuffle — at the
  * target scale that is the difference between shuffling a full fact table
  * and shuffling the ~1/5 of it that can match.
  *
  * Spark 4 ships the rule enabled
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled=true`) but gated by
  * `applicationSideScanSizeThreshold` (10 GB default) — the right default
  * for the library: it self-activates exactly at the scan sizes where the
  * reduction pays. These tests drop that threshold to 0 to exercise the
  * injection at test scale, and prove:
  *   1. injection fires on a selective shuffle join (both plan markers),
  *   2. the bloom filter is a semantic no-op (identical rows on/off),
  *   3. the negative control: no selective creation-side predicate means
  *      no injection (the rule is cost-gated, not unconditional).
  */
class RuntimeFilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf001

  /** Selective shuffle join: urgent-priority orders (1/5 of the dim) into
    * lineitem, broadcast disabled so the join actually shuffles (bloom
    * injection targets shuffle joins only; a broadcast join already prunes
    * at the probe's hash lookup).
    */
  private def selectiveJoin() = {
    val li = Tables.lineitem(spark, d)
    val ord = Tables.orders(spark, d)
      .filter(col("o_orderpriority") === "1-URGENT")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("qty"))
      .orderBy(col("o_orderpriority").asc)
  }

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private val ShuffleOnly =
    "spark.sql.autoBroadcastJoinThreshold" -> "-1"
  private val AppSideAlways =
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0"

  test("runtime bloom filter injects on a selective shuffle join (both plan markers)") {
    withConfs(ShuffleOnly, AppSideAlways) {
      val opt = selectiveJoin().queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_agg"),
        "creation side must aggregate the filtered dim keys into a bloom filter")
      assert(opt.contains("might_contain"),
        "application side scan must carry the might_contain probe filter")
    }
  }

  test("injected bloom filter is a semantic no-op: identical result on/off") {
    def run() = selectiveJoin().collect().map(_.toSeq).toSeq
    var on: Seq[Seq[Any]] = null
    var off: Seq[Seq[Any]] = null
    withConfs(ShuffleOnly, AppSideAlways) { on = run() }
    withConfs(ShuffleOnly,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") { off = run() }
    assert(on == off)
    assert(on.nonEmpty, "join must produce rows for the identity to be meaningful")
  }

  test("negative control: no selective creation-side predicate, no injection") {
    withConfs(ShuffleOnly, AppSideAlways) {
      val li = Tables.lineitem(spark, d)
      val ord = Tables.orders(spark, d) // unfiltered: nothing selective to build from
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(!opt.contains("might_contain"),
        "injection must be gated on a selective creation-side predicate")
    }
  }

  // ---- dynamic partition pruning: the partitioned-layout sibling --------
  // The bloom filter reduces probe ROWS; DPP skips probe PARTITIONS
  // outright when the fact table's layout partitions on the join key —
  // the star-schema date-dim pattern. §2's operator table previously
  // carried DPP as "n/a (single files), documented lever"; with our own
  // partitioned sink it is provable: write events partitioned by
  // event_type, join against a selectively-filtered parquet dim on the
  // partition column, and the fact scan's PartitionFilters carry a
  // dynamicpruning# subquery fed by the dim's broadcast — partitions
  // never matching the dim are never opened. At 100 TB over date
  // partitions this is the difference between scanning the corpus and
  // scanning the week the query touches.

  test("dynamic partition pruning fires on our partitioned sink (plan marker + row identity)") {
    val tmp = TestSpark.scratch("graft-dpp")
    val ev = Tables.events(spark, d)
    ev.write.partitionBy("event_type").mode("overwrite").parquet(s"$tmp/ev")

    import spark.implicits._
    Seq(("click", 1L), ("view", 1L), ("error", 3L), ("purchase", 2L), ("signup", 2L))
      .toDF("etype", "severity").write.parquet(s"$tmp/dim")

    val fact = spark.read.parquet(s"$tmp/ev")
    val dim = spark.read.parquet(s"$tmp/dim").filter(col("severity") >= 2)
    val j = fact.join(dim, col("event_type") === col("etype"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type").asc)

    val phys = j.queryExecution.executedPlan.toString
    assert(phys.contains("dynamicpruning"),
      "fact scan must carry a dynamicpruning# partition filter from the dim")

    val got = j.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = ev
      .filter(col("event_type").isin("error", "purchase", "signup"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type").asc)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
    assert(got.map(_._2).sum > 0)
  }
}
