package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{LlmOps, MinHash}
import graft.streaming.StreamOps

/** SURVEY §5.3 — hand-computed micro-fixtures at operator-family edges. */
class GoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import scala.jdk.CollectionConverters._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("session window boundary: gap == 5min still merges, gap > 5min splits") {
    import spark.implicits._
    val ev = Seq(
      // user 1: 0s, +300.000s exactly (merges!), then +300.001s (splits)
      (1L, ts("2024-01-01 00:00:00"), 1.00),
      (1L, ts("2024-01-01 00:05:00"), 1.00),
      (1L, ts("2024-01-01 00:10:00.001"), 1.00),
      // user 2: single event
      (2L, ts("2024-01-01 00:00:00"), 2.50)
    ).toDF("user_id", "ts", "value")
    val got = StreamOps.sessionAgg(ev)
      .orderBy(col("user_id"), col("session_start_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val t0us = ts("2024-01-01 00:00:00").getTime * 1000
    assert(got.toSeq == Seq(
      (1L, t0us, 2L, 200L),                  // 0s and +5min merge (gap == gap-duration)
      (1L, t0us + 600001000L, 1L, 100L),     // +600.001s starts a new session
      (2L, t0us, 1L, 250L)))
  }

  test("sliding window: one event lands in exactly two epoch-aligned windows") {
    import spark.implicits._
    val ev = Seq((ts("2024-01-01 00:07:00"), "click"))
      .toDF("ts", "event_type")
    val got = StreamOps.slidingAgg(ev).orderBy(col("win_start_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val base = ts("2024-01-01 00:00:00").getTime
    assert(got.toSeq == Seq((base, 1L), (base + 300000L, 1L)))
  }

  test("quantized dot product: hand-computed exact value") {
    import spark.implicits._
    // 0.1015625f = 13/128 (exact float); *1000 = 101.5625 -> rounds to 102
    val df = Seq((Array(0.1015625f, -0.25f), Array(1.0f, 2.0f))).toDF("a", "b")
    val got = df.select(
      LlmOps.qdot(LlmOps.quantize(col("a")), LlmOps.quantize(col("b"))))
      .head().getLong(0)
    assert(got == 102L * 1000 + (-250L) * 2000) // = -398000
  }

  test("minhash pipeline: J=8/9 pair found; banded-but-below-0.8 pair rejected by VERIFY") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h z"),              // J = 8/9 ≈ 0.89 with doc 1
      (3L, "a b m n"),                        // J = 2/10 with doc 1
      (4L, "p q r s"),
      // J(5,6) = 10/14 ≈ 0.71: above the banding threshold (s* ≈ 0.6, so
      // the pair IS proposed — pinned below), below the 0.8 verify gate.
      (5L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"),
      (6L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 u1 u2")
    ).toDF("doc_id", "text")
    // The verify step only exercises pairs that banding proposes: pin that
    // (5,6) is a candidate, so the absence below is the FILTER's doing.
    val cands = MinHash.candidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((5L, 6L)),
      s"fixture must band (5,6) for the verify assertion to bite: $cands")
    val got = MinHash.nearDuplicates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 8L, 9L)),
      s"only the J>=0.8 pair may survive verification: ${got.toSeq}")
  }

  test("running-sum window frame: partition of size 1 equals its own value") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1L, 10L), (2L, 5L), (2L, 7L)).toDF("k", "v")
    val w = Window.partitionBy(col("k")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = df.withColumn("rs", sum(col("v")).over(w))
      .orderBy(col("k"), col("v")).collect().map(_.getLong(2))
    assert(got.toSeq == Seq(10L, 5L, 12L))
  }

  test("rollup null rows vs natural nulls: grouping() disambiguates") {
    import spark.implicits._
    val df = Seq(("x", 1L), ("x", 2L), ("y", 3L)).toDF("g", "v")
    val got = df.rollup(col("g"))
      .agg(sum(col("v")).as("s"), grouping(col("g")).as("gg"))
      .orderBy(col("gg"), col("g"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getByte(2)))
    assert(got.toSeq == Seq(
      (Some("x"), 3L, 0: Byte), (Some("y"), 3L, 0: Byte), (None, 6L, 1: Byte)))
  }

  /** Write a crafted documents table as parquet under a temp sfDir so the
    * REGISTERED query (which reads `$sfDir/documents.parquet`) runs on it —
    * golden-testing the exact code path Verify/Bench execute.
    */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = TestSpark.scratch("graft_docs_")
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("q_text_chunk: window starts every 4 tokens, 8-wide slices, ragged tails (n=1/8/9)") {
    val d = docsDir(Seq(
      (1L, "a b c d e f g h i"), // 9 tokens -> starts 0,4,8
      (2L, "a b c d e f g h"),   // 8 tokens -> starts 0,4 (tail of 4)
      (3L, "solo")))             // 1 token  -> one 1-token chunk
    val got = SparkEntry.queries("q_text_chunk")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, "a b c d e f g h", 8L),
      (1L, 1L, "e f g h i", 5L),
      (1L, 2L, "i", 1L),
      (2L, 0L, "a b c d e f g h", 8L),
      (2L, 1L, "e f g h", 4L),
      (3L, 0L, "solo", 1L)))
  }

  test("q_text_bm25: hand-computed exact integer scores (tf saturation + idf surrogate)") {
    // N=3, dl=(2,4,3), total=9.
    //   idf_e3(spark, df=2) = 1000*(6-4+1) div 5 = 600
    //   idf_e3(join|fast, df=1) = 1000*(6-2+1) div 3 = 1666
    //   tfc_e6 = 1e6*44*tf*9 div (180*tf + 54 + 54*dl):
    //     d1 (tf=1, dl=2): 396000000 div 342 = 1157894   (spark AND join)
    //     d2 spark (tf=3, dl=4): 1188000000 div 810 = 1466666
    //     d2 fast  (tf=1, dl=4): 396000000 div 450 = 880000
    //   d1 = (600+1666)*1157894 = 2623787804 > d2 = 600*1466666+1666*880000
    //      = 2346079600; d3 matches no term and is absent.
    val d = docsDir(Seq(
      (1L, "spark join"),
      (2L, "spark spark spark fast"),
      (3L, "the a b")))
    val got = SparkEntry.queries("q_text_bm25")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, 2623787804L, 2L),
      (2L, 2346079600L, 2L)))
  }
}
