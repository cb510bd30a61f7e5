package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A recurring plan pays its codegen compile once per JVM, not once per
  * run. Two effects broke that: Spark's 100-entry codegen cache, smaller
  * than one round of these rows, and the per-call session clones of
  * dedup_clusters and q_graph_pagerank, which ran under a fresh executor
  * class loader (the cache key's other half) on every call. Sessions sizes
  * the cache and clones without artifact isolation; this pins the result
  * with Spark's process-wide compile counter.
  */
class CodegenReuseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // The two clone-built operators plus the kernel rows of the benchmark's
  // llm_pipeline workload.
  private val rows = Seq("dedup_clusters", "q_graph_pagerank", "dedup_minhash",
    "dedup_simhash", "q_text_bigrams", "q_text_fingerprint", "ml_knn_cosine")

  /** Classes compiled per row, in run order. */
  private def roundCompiles(): Seq[(String, Long)] = rows.map { n =>
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(n)(spark, TestSpark.sf0001)
      .write.format("noop").mode("overwrite").save()
    n -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("a second round of the same rows recompiles at most a tenth of the first") {
    val first = roundCompiles()
    val second = roundCompiles()
    val (n1, n2) = (first.map(_._2).sum, second.map(_._2).sum)
    info(s"compiles: first round $n1 $first, second round $n2 $second")
    // Not zero: AQE may order a plan's stages differently between runs,
    // which renders a few classes with different source.
    assert(n2 * 10 <= n1,
      s"second round compiled $n2 classes against $n1 in the first: $second")
  }

  test("bench full line carries per-query codegen counts; the summary line does not") {
    val (line, fullLine) = Bench.summaryLines(Seq("q_a" -> 1.0), Nil,
      "sf", "full.json", nproc = 4, loadStart = "0", loadEnd = "0",
      codegen = Seq("q_a" -> ((12L, 0.5))))
    assert(fullLine.endsWith(""","codegen":{"q_a":{"compiles":12,"compile_s":0.500}}}"""),
      fullLine)
    assert(!line.contains("codegen"), line)
  }
}
