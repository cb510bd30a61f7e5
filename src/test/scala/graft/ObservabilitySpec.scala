package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** Observability (Dataset.observe quality layer): metrics are harvested
  * from the SAME action that consumes the frame — no second scan — and
  * they match an independent recompute exactly; the gate enforces them.
  */
class ObservabilitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("observe: write-job metrics equal an independent recompute, exact") {
    val docs = Tables.documents(spark, sf)
    val obs = Observation("docs_quality")
    val out = TestSpark.scratch("obs_sink")
    Observability.qualityObserved(docs, obs, "doc_id", Some("text"))
      .write.mode("overwrite").parquet(out)

    val m = Observability.requireQuality(obs, maxNullFrac = 0.01)

    // Independent recompute of every metric over the same table.
    val ref = docs.agg(
      count(lit(1)).cast("long"),
      sum(when(col("doc_id").isNull, 1L).otherwise(0L)),
      min(col("doc_id")), max(col("doc_id")),
      sum(when(col("text").isNull || length(col("text")) === 0, 1L).otherwise(0L)),
      sum(when(length(col("text")) < 20, 1L).otherwise(0L))).head()

    assert(m("n_rows") == ref.getLong(0))
    assert(m("null_keys") == ref.getLong(1))
    assert(m("key_min") == ref.getLong(2) && m("key_max") == ref.getLong(3))
    assert(m("empty_text") == ref.getLong(4))
    assert(m("short_text") == ref.getLong(5))
    // And the observed write actually wrote the full table.
    assert(spark.read.parquet(out).count() == ref.getLong(0))
  }

  test("observe: the quality gate trips on an empty batch and on null keys") {
    val docs = Tables.documents(spark, sf)

    val obsEmpty = Observation("empty_batch")
    Observability.qualityObserved(docs.filter(lit(false)), obsEmpty, "doc_id")
      .write.mode("overwrite").format("noop").save()
    val e1 = intercept[IllegalArgumentException](Observability.requireQuality(obsEmpty))
    assert(e1.getMessage.contains("empty"))

    // 10% of keys nulled out > the 1% default threshold.
    val obsNulls = Observation("nully_batch")
    val nully = docs.withColumn("doc_id",
      when(pmod(col("doc_id"), lit(10)) === 0, lit(null)).otherwise(col("doc_id")))
    Observability.qualityObserved(nully, obsNulls, "doc_id")
      .write.mode("overwrite").format("noop").save()
    val e2 = intercept[IllegalArgumentException](Observability.requireQuality(obsNulls))
    assert(e2.getMessage.contains("null keys"))
  }
}
