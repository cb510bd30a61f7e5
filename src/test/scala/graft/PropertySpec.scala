package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.LlmOps

/** SURVEY §5.4 — algebraic properties on generated inputs (scalacheck
  * generators driven by fixed seeds: deterministic across runs, no flaky
  * CI). Spark jobs are slow per-case, so each property runs a handful of
  * cases — the value is input shapes a fixture writer doesn't think of
  * (empty groups, all-ties, single-element partitions), not case volume.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cases[A](gen: Gen[A], n: Int = 5): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default.withSize(12), Seed(42L + i)))

  private val rowsGen: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 3L), Gen.choose(-50L, 50L)))

  test("window running sum at each partition's last row == group total") {
    import spark.implicits._
    for (rows <- cases(rowsGen)) {
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "seq")
      val w = Window.partitionBy(col("k")).orderBy(col("seq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("k"))
      val bad = df
        .withColumn("run", sum(col("v")).over(w))
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("k")).orderBy(col("seq").desc)))
        .withColumn("total", sum(col("v")).over(wAll))
        .filter(col("rn") === 1 && col("run") =!= col("total"))
        .count()
      assert(bad == 0, s"rows=$rows")
    }
  }

  test("set algebra: |A ∩ B| + |A except B| == |A| (distinct semantics)") {
    import spark.implicits._
    for ((as, bs) <- cases(Gen.zip(rowsGen, rowsGen))) {
      val a = as.map(_._2).toDF("v").distinct()
      val b = bs.map(_._2).toDF("v").distinct()
      assert(a.intersect(b).count() + a.except(b).count() == a.count(),
        s"as=$as bs=$bs")
    }
  }

  test("dropDuplicates is idempotent and bounded by distinct key count") {
    import spark.implicits._
    for (rows <- cases(rowsGen)) {
      val once = rows.toDF("k", "v").dropDuplicates("k")
      assert(once.count() == rows.map(_._1).distinct.size, s"rows=$rows")
      assert(once.dropDuplicates("k").count() == once.count())
    }
  }

  test("quantized dot: symmetric, self-dot non-negative") {
    import spark.implicits._
    val vecGen = Gen.zip(Gen.listOfN(8, Gen.choose(-1.0f, 1.0f)),
      Gen.listOfN(8, Gen.choose(-1.0f, 1.0f)))
    for ((va, vb) <- cases(vecGen)) {
      val df = Seq((va.toArray, vb.toArray)).toDF("a", "b")
      val r = df.select(
        LlmOps.qdot(LlmOps.quantize(col("a")), LlmOps.quantize(col("b"))).as("ab"),
        LlmOps.qdot(LlmOps.quantize(col("b")), LlmOps.quantize(col("a"))).as("ba"),
        LlmOps.qdot(LlmOps.quantize(col("a")), LlmOps.quantize(col("a"))).as("aa")).head()
      assert(r.getLong(0) == r.getLong(1), s"dot not symmetric: $va $vb")
      assert(r.getLong(2) >= 0L, s"self-dot negative: $va")
    }
  }

  test("jaccard counts: symmetric, intersection <= union, inclusion-exclusion holds") {
    import spark.implicits._
    val toksGen = Gen.zip(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e")),
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e")))
    for ((ta, tb) <- cases(toksGen)) {
      val df = Seq((ta.toArray, tb.toArray)).toDF("ta", "tb")
      val r = df.select(
        size(array_intersect(array_distinct(col("ta")), array_distinct(col("tb")))).as("iab"),
        size(array_intersect(array_distinct(col("tb")), array_distinct(col("ta")))).as("iba"),
        size(array_union(col("ta"), col("tb"))).as("u"),
        size(array_distinct(col("ta"))).as("na"),
        size(array_distinct(col("tb"))).as("nb")).head()
      assert(r.getInt(0) == r.getInt(1), s"intersection not symmetric: ta=$ta tb=$tb")
      assert(r.getInt(0) <= r.getInt(2), s"ta=$ta tb=$tb")
      // |A| + |B| - |A ∩ B| == |A ∪ B| — the identity q_sim_jaccard's
      // union arithmetic relies on
      assert(r.getInt(3) + r.getInt(4) - r.getInt(0) == r.getInt(2),
        s"inclusion-exclusion broken: ta=$ta tb=$tb")
    }
  }

  test("exactNtile == SQL NTILE on random inputs (incl. n < k, heavy ties, n % k != 0)") {
    import spark.implicits._
    // WinOps.exactNtile (the scalable RFM's rank machinery) must equal
    // NTILE(k) for ANY total order. Values are drawn from a narrow domain
    // so ties are common — the tie-break key (the id) is what makes the
    // order total; sizes 1..~40 cover n < k, n == k, and ragged buckets.
    val gen = Gen.nonEmptyListOf(Gen.choose(0L, 9L))
    for ((vals, i) <- cases(gen, n = 6).zipWithIndex; k <- Seq(3, 5)) {
      val rows = vals.zipWithIndex.map { case (v, id) => (id.toLong, v) }
      val df = rows.toDF("o_custkey", "v")
      val got = graft.operators.WinOps
        .exactNtile(df, Seq(col("v").asc, col("o_custkey").asc), k, "s")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // plain-Scala NTILE reference (first n%k buckets get ceil(n/k) rows)
      val sorted = rows.sortBy { case (id, v) => (v, id) }.map(_._1)
      val n = sorted.size; val q = n / k; val r = n % k
      val expect = sorted.zipWithIndex.map { case (id, idx) =>
        val big = (q + 1) * r
        val tile = if (idx < big) idx / (q + 1) else r + (idx - big) / math.max(q, 1)
        id -> (tile + 1).toLong
      }.toMap
      assert(got == expect, s"case $i k=$k vals=$vals")
    }
  }

  /** Component min per node 1..n by a plain-Scala union-find. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n + 1)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (1 to n).map(x => x.toLong -> find(x).toLong).toMap
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("altStar == plain-Scala union-find on random graphs") {
    import spark.implicits._
    // Components.altStar (the dedup_clusters engine) vs an independent
    // union-find: same component minima for arbitrary edge sets, including
    // self-loops, duplicate/reversed edges, and isolated nodes. Run with
    // the driver finish (the default broadcast threshold) and with the
    // pass loop alone (threshold -1).
    val nNodes = 24
    val edgeGen = Gen.listOf(
      Gen.zip(Gen.choose(1L, nNodes.toLong), Gen.choose(1L, nNodes.toLong)))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    for (threshold <- Seq(spark.conf.get(key), "-1");
         (edges, i) <- cases(edgeGen, n = 5).zipWithIndex) {
      val nodes = (1L to nNodes.toLong).toDF("id")
      val eDf = (if (edges.isEmpty) Seq((1L, 1L)) else edges).toDF("a_id", "b_id")
      val got = TestSpark.withConf(key, threshold)(
        labels(graft.operators.Components.altStar(nodes, eDf, "id")))
      assert(got == unionFind(nNodes, edges), s"threshold $threshold case $i edges=$edges")
    }
  }

  test("altStar crosses over to the driver finish once its shrinking edge set fits the broadcast bound") {
    import spark.implicits._
    // A 12-clique (66 edges, a star of 11 after one pass) beside a
    // 40-node path (39 edges, several passes to converge) and 8 isolated
    // nodes. The bound sits one edge below the initial set, so the first
    // check keeps the pass loop and the check after pass 1 finishes on
    // the driver. maxPasses = 1 stops the loop alone short of the path's
    // fixpoint; the finish must still give the exact components.
    val clique = for (a <- 41L to 52L; b <- (a + 1) to 52L) yield (a, b)
    val path = (1L to 39L).map(i => (i, i + 1))
    val edges = clique ++ path
    val nodes = (1L to 60L).toDF("id")
    val eDf = edges.toDF("a_id", "b_id")
    val bound = 16 * (edges.size - 1)
    val expect = unionFind(60, edges)
    val loopOnly = TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(
      labels(graft.operators.Components.altStar(nodes, eDf, "id", maxPasses = 1)))
    assert(loopOnly != expect, "one pass alone should stop short of the fixpoint")
    val crossed = TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", bound.toString)(
      labels(graft.operators.Components.altStar(nodes, eDf, "id", maxPasses = 1)))
    assert(crossed == expect)
  }

  test("q_cdc_scd2 invariants: per-user intervals tile the change timeline; one open current row") {
    val rows = SparkEntry.queries("q_cdc_scd2")(spark, TestSpark.sf0001)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("user_id")), r.getString(r.fieldIndex("state")),
        r.getLong(r.fieldIndex("valid_from_ms")),
        if (r.isNullAt(r.fieldIndex("valid_to_ms"))) None else Some(r.getLong(r.fieldIndex("valid_to_ms"))),
        r.getBoolean(r.fieldIndex("is_current"))))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (uid, hist0) =>
      val hist = hist0.sortBy(_._3)
      // Exactly one open interval, and it is the LAST one; is_current is
      // definitionally valid_to IS NULL.
      hist.foreach { case (_, _, _, to, cur) => assert(cur == to.isEmpty, s"user $uid") }
      assert(hist.count(_._4.isEmpty) == 1 && hist.last._4.isEmpty, s"user $uid: open intervals")
      // Intervals tile: each valid_to equals the NEXT valid_from (no gaps,
      // no overlaps), and consecutive states actually differ (the collapse
      // really collapsed).
      hist.toSeq.sliding(2).foreach {
        case Seq((_, s1, _, Some(to1), _), (_, s2, from2, _, _)) =>
          assert(to1 == from2, s"user $uid: gap/overlap $to1 vs $from2")
          assert(s1 != s2, s"user $uid: un-collapsed consecutive state $s1")
        case _ =>
      }
    }
  }

  test("idiv is exact integer division at near-integer quotients past 2^53") {
    import spark.implicits._
    // The old floor(double/double) idiv diverges whenever the true quotient
    // lands within one ulp below an integer: a = k*b - 1 at 1e15 magnitudes
    // rounds UP to k.0 in double, so floor returns k instead of k-1. Exact
    // `div` must match BigInt floor division on every such adversarial pair.
    val cases = Seq(
      // a = k*b - 1 with a near 2^53..2^62: quotient k - 1/b, one ulp below k
      (3037000499L * 3037000499L - 1, 3037000499L), // ~9.2e18 / 3e9
      (1000000007L * 999999937L - 1, 999999937L),
      (4503599627370497L * 2047L - 1, 2047L), // just past 2^52 * 2k
      (9007199254740993L, 3L), // 2^53+1: not even representable as double
      (9007199254740993L * 1021L - 1, 1021L),
      // plus exact multiples (quotient is integral — both forms agree)
      (1234567890123456L * 7L, 7L),
      (Long.MaxValue, 1L), (Long.MaxValue, Long.MaxValue)
    )
    val df = cases.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.functions.TextAnalysis.idiv(col("a"), col("b")).as("q"))
    df.collect().foreach { r =>
      val (a, b, q) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val expect = (BigInt(a) / BigInt(b)).toLong // non-negative: / == floor
      assert(q == expect, s"idiv($a,$b)=$q, expected $expect")
      // and pin that the OLD formulation really was wrong on the a=k*b-1 rows
      val old = math.floor(a.toDouble / b.toDouble).toLong
      if (old != expect) assert(q == expect) // idiv fixed a real divergence
    }
    // at least one generated case must actually distinguish old vs new
    assert(cases.exists { case (a, b) =>
      math.floor(a.toDouble / b.toDouble).toLong != (BigInt(a) / BigInt(b)).toLong
    }, "no adversarial case distinguishes floor(double) from exact div")
  }

  test("bigint moment overflow THROWS under ANSI (q_agg_corr/q_agg_skew_kurt's documented bound)") {
    import spark.implicits._
    // The moment queries document "ANSI mode would throw, not corrupt" for
    // power sums past 2^63. Pin that claim: the session must be in ANSI
    // mode, and a bigint multiply past Long.MaxValue must raise, never
    // wrap to a silently-wrong moment.
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "ANSI off: the overflow-throws guarantee in the moment queries is void")
    val df = Seq(4000000000L).toDF("x") // 4e9^2 = 1.6e19 > Long.MaxValue
    val e = intercept[Exception] {
      df.select(sum(col("x") * col("x"))).head()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.isInstanceOf[ArithmeticException] ||
      c.getMessage != null && c.getMessage.contains("ARITHMETIC_OVERFLOW")),
      s"expected an overflow error, got: $e")
  }
}
