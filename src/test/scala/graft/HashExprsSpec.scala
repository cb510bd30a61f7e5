package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.HashExprs
import graft.operators.MinHash

/** Pins the codegen'd token-hash kernels (graftext.HashExprs: TokenHashes,
  * HashedBigrams, FingerprintXor) element-identical to the interpreted HOF
  * formulations they replaced, on an adversarial set plus the real corpus —
  * the same identity-gate pattern as ExprSpec's MinHashSlots/SimHash64 and
  * DecontamSpec's NGramsJoined gates.
  */
class HashExprsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Adversarial token arrays: null array, empty array, null/empty/space
    * elements, non-ASCII (multi-byte UTF-8, emoji, combining marks), long
    * tokens, and the short-doc (0/1/2-token) bigram edge cases.
    */
  private def adversarial = {
    import spark.implicits._
    Seq(
      None,
      Some(Seq.empty[String]),
      Some(Seq("")),
      Some(Seq("a")),
      Some(Seq("a", "b")),
      Some(Seq("a", "b", "c")),
      Some(Seq("", "", "")),
      Some(Seq(" ", "  ")),
      Some(Seq(null, "x", null)),
      Some(Seq[String](null)),
      Some(Seq("héllo", "wörld", "日本語", "🙂🙃", "é")),
      Some(Seq("x" * 10000, "y")),
      Some(Seq("the", "the", "dup", "dup"))
    ).toDF("toks")
  }

  private def corpusToks = {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    docs.select(split(col("text"), " ").as("toks"))
      .union(docs.select(array_distinct(split(col("text"), " ")).as("toks")))
  }

  test("TokenHashes == transform(toks, xxhash64), element for element") {
    for (df <- Seq(adversarial, corpusToks)) {
      val cmp = df.select(
        HashExprs.tokenHashes(col("toks")).as("native"),
        ReferenceShapes.baseHashesHof(col("toks")).as("hof"))
      assert(cmp.filter(not(col("native") <=> col("hof"))).count() == 0)
    }
  }

  test("TokenHashes on array<bigint> == transform(longs, xxhash64) — the shingled composition") {
    // dedup_minhash_shingled feeds hashedShingles' 64-bit shingle hashes
    // back through baseHashes: the long-element branch must match
    // xxhash64(bigint) exactly (this composition is what the first cut of
    // TokenHashes, string-only, failed on — caught in the sf1 bench leg).
    import spark.implicits._
    val longArrays = Seq(
      None, Some(Seq.empty[Long]), Some(Seq(0L)), Some(Seq(Long.MinValue, Long.MaxValue, -1L, 42L))
    ).toDF("th")
    val cmp1 = longArrays.select(
      HashExprs.tokenHashes(col("th")).as("native"),
      transform(col("th"), t => xxhash64(t)).as("hof"))
    assert(cmp1.filter(not(col("native") <=> col("hof"))).count() == 0)
    val cmp2 = corpusToks.select(
      MinHash.baseHashes(MinHash.hashedShingles(col("toks"), 2)).as("native"),
      transform(ReferenceShapes.hashedShinglesHof(col("toks"), 2), t => xxhash64(t)).as("hof"))
    assert(cmp2.filter(not(col("native") <=> col("hof"))).count() == 0)
  }

  test("HashedBigrams == the zip_with/slice HOF chain, incl. short docs") {
    for (df <- Seq(adversarial, corpusToks)) {
      val cmp = df.select(
        HashExprs.hashedBigrams(col("toks")).as("native"),
        ReferenceShapes.hashedShinglesHof(col("toks"), 2).as("hof"))
      assert(cmp.filter(not(col("native") <=> col("hof"))).count() == 0)
    }
  }

  test("BandHashes == the transform/slice/xxhash64 HOF, on corpus signatures") {
    import org.apache.spark.sql.graftext.HashExprs
    val sigs = corpusToks
      .filter(size(col("toks")) > 0)
      .select(MinHash.signature(col("toks")).as("sig"))
    val cmp = sigs.select(
      HashExprs.bandHashes(col("sig"), MinHash.RowsPerBand).as("native"),
      ReferenceShapes.bandHashesHof(col("sig")).as("hof"))
    assert(cmp.filter(not(col("native") <=> col("hof"))).count() == 0)
    // and the vector length is Bands
    assert(sigs.select(HashExprs.bandHashes(col("sig"), MinHash.RowsPerBand).as("bhs"))
      .filter(size(col("bhs")) =!= MinHash.Bands).count() == 0)
  }

  test("FingerprintXor == the aggregate/transform rotate-xor fold") {
    for (df <- Seq(adversarial, corpusToks)) {
      val cmp = df.select(
        HashExprs.fingerprintXor(col("toks")).as("native"),
        ReferenceShapes.fingerprintHof(col("toks")).as("hof"))
      assert(cmp.filter(not(col("native") <=> col("hof"))).count() == 0)
    }
  }

  test("kernels run inside WholeStageCodegen (no CodegenFallback in the stage)") {
    val plan = corpusToks.select(
      HashExprs.tokenHashes(col("toks")).as("a"),
      HashExprs.hashedBigrams(col("toks")).as("b"),
      HashExprs.fingerprintXor(col("toks")).as("c"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks a WholeStageCodegen stage; the kernels'
    // Project must carry it (the HOF forms they replace break the stage)
    assert("""\*\(\d+\) Project \[token_hashes""".r.findFirstIn(plan).nonEmpty, plan)
    assert(!plan.contains("CodegenFallback"), plan)
  }
}
