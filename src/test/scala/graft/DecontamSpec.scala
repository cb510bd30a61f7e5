package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Decontam

/** Decontam.sweep knob equivalences on sf0.001: every regime (hash-gram,
  * bloom pre-pass, both) must produce the SAME flagged set as the
  * oracle-gated broadcast/string default — the knobs change the cost
  * shape, never the answer. Plus the gram-length monotonicity property
  * (shorter grams flag a superset) and the bloom plan-shape claim (no
  * broadcast relation of the eval grams).
  */
class DecontamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs = Tables.documents(spark, TestSpark.sf0001)
  private def train = docs.filter(col("doc_id") >= 100)
  private def evalSet = docs.filter(col("doc_id") < 100)

  private def flagged(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private lazy val baseline = flagged(Decontam.sweep(train, evalSet))

  test("default sweep matches the registered q_text_decontam query") {
    assert(baseline.nonEmpty, "corpus has heavy near-duplication; sweep must fire")
    val registered = flagged(
      SparkEntry.queries("q_text_decontam")(spark, TestSpark.sf0001))
    assert(baseline == registered)
  }

  test("NGramsJoined == the HOF gramsOf reference, element for element") {
    // The r17 codegen'd gram generator must be an exact twin of the
    // interpreted HOF chain it replaced — corpus sweep plus adversarial
    // arrays (nulls inside, short, empty, empty strings, null array).
    val corpus = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        Decontam.gramsOf(col("toks"), 5).as("fast"),
        ReferenceShapes.gramsOfHof(col("toks"), 5).as("slow"))
    assert(corpus.filter(not(col("fast") <=> col("slow"))).count() == 0)
    val adversarial: Seq[(Int, Seq[String])] = Seq(
      1 -> Seq("a", "b", "c", "d", "e", "f"),
      2 -> Seq("a", "b", "c", "d"), // shorter than n
      3 -> Seq.empty[String],
      4 -> Seq("only"),
      5 -> Seq("a", null, "c", "d", "e", "f"), // concat_ws skips nulls
      6 -> Seq("", "b", "", "d", "", "f"), // empty strings kept
      7 -> null)
    val df = spark.createDataFrame(adversarial).toDF("id", "toks")
    Seq(1, 2, 5).foreach { n =>
      val cmp = df.select(col("id"),
        Decontam.gramsOf(col("toks"), n).as("fast"),
        ReferenceShapes.gramsOfHof(col("toks"), n).as("slow"))
      val bad = cmp.filter(not(col("fast") <=> col("slow"))).collect()
      assert(bad.isEmpty, s"n=$n: ${bad.mkString("\n")}")
    }
    // Codegen: the generator stage keeps its whole-stage star.
    val plan0 = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(explode(Decontam.gramsOf(col("toks"), 5)).as("g"))
      .groupBy(col("g")).count()
    plan0.collect()
    val p = plan0.queryExecution.executedPlan.toString
    assert(p.contains("ngrams_joined"), p)
  }

  test("hash-gram regime flags the identical set with identical counts") {
    assert(flagged(Decontam.sweep(train, evalSet, hashGrams = true)) == baseline)
  }

  test("bloom regime (exact join after pre-filter) is result-identical, strings and hashes") {
    val bloom = Decontam.sweep(train, evalSet, bloomEvalItems = Some(100000L))
    assert(flagged(bloom) == baseline)
    assert(flagged(Decontam.sweep(train, evalSet, hashGrams = true,
      bloomEvalItems = Some(100000L))) == baseline)
    // The regime's point: the eval grams are no longer FORCED to broadcast
    // (only the fixed-size bloom bitmap ships with the task closures) —
    // the join strategy goes back to the planner's size-based choice. At
    // sf0.001 AQE rightly still picks broadcast (the gram set is tiny);
    // the invariant is the absence of the hint, not of the node.
    val hints = bloom.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"bloom regime must not hint a broadcast: $hints")
  }

  test("a high-fpp bloom still gives exact results (the join decides, not the filter)") {
    // fpp 0.5 floods the exact join with false positives; the answer must
    // not change — this is what makes the bloom a pre-filter, not a gate.
    assert(flagged(Decontam.sweep(train, evalSet,
      bloomEvalItems = Some(1000L), bloomFpp = 0.5)) == baseline)
  }

  test("bloom sizing past the optimizer's 64M-bit cap is honored (and the caps are restored)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftext.VectorExprs
    // 8M items at fpp 0.01 wants ~76.7M bits — ABOVE the 64M-bit default
    // cap. The filter's serialized size tells the truth about what was
    // built: sizing comes from the aggregate's parameters, so a small
    // input frame suffices.
    val items = 8000000L
    val numBits = math.ceil(-items.toDouble * math.log(0.01) /
      (math.log(2) * math.log(2))).toLong
    assert(numBits > 64L * 1024 * 1024, s"fixture must exceed the cap: $numBits")
    val df = spark.range(0, 1000).toDF("g").select(xxhash64(col("g")).as("g"))
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val (bits0, items0) = (spark.conf.get(bitsKey), spark.conf.get(itemsKey))
    // Negative control — the clamp is REAL: a raw build under default
    // caps comes back at ~64M bits, not the requested ~76.7M.
    val clamped = df.select(
      VectorExprs.bloomFilterAgg(col("g"), lit(items), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    assert(clamped.length.toLong * 8 <= 65L * 1024 * 1024,
      s"expected the default cap to clamp (${clamped.length * 8L} bits) — " +
        "if this fails, Spark lifted the cap and bloomBytes can simplify")
    // The fix: bloomBytes raises the caps around the build.
    val full = graft.operators.Decontam.bloomBytes(df, col("g"), items, numBits)
    assert(full.length.toLong * 8 >= numBits,
      s"requested $numBits bits, built only ${full.length * 8L}")
    // ...and restores the session confs afterwards.
    assert(spark.conf.get(bitsKey) == bits0 && spark.conf.get(itemsKey) == items0,
      "bloomBytes leaked its conf changes")
  }

  test("shorter grams flag a superset of longer grams (every shared 5-gram contains shared 3-grams)") {
    val n3 = flagged(Decontam.sweep(train, evalSet, n = 3))
    assert(baseline.keySet.subsetOf(n3.keySet),
      s"5-gram flags not in 3-gram set: ${(baseline.keySet -- n3.keySet).take(5)}")
    assert(n3.size >= baseline.size)
  }
}
