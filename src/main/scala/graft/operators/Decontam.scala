package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.VectorExprs

/** Train/eval decontamination, generalized — the benchmark-leakage sweep a
  * training-data pipeline runs over the WHOLE crawl before every release.
  * The registered `q_text_decontam` query is this with defaults (n = 5,
  * string grams, broadcast regime); the knobs document the next regimes up
  * without changing the oracle-gated semantics:
  *
  *  - `n`: gram length. Shorter grams flag strictly more documents (every
  *    shared 5-gram contains shared 3-grams) — DecontamSpec asserts the
  *    superset property rather than assuming it.
  *  - `hashGrams`: join on xxhash64 of the gram instead of the string.
  *    The training side of the join is the side that scales with the crawl,
  *    and an 8-byte long beats a ~30-byte UTF8 gram in every exchange and
  *    hash-probe on that path. Collision risk is n_grams^2 / 2^65 —
  *    ~1e-9 at 10^9 distinct grams — which is why it is a knob and not the
  *    oracle-gated default (the DuckDB twin counts exact strings).
  *  - `bloomEvalItems`: when the eval gram set is too large to broadcast as
  *    a distinct relation (broadcast joins cap at ~8 GB; a few hundred
  *    benchmark suites fit easily, "all public test sets ever" may not),
  *    build a bloom filter over the eval grams (fixed-size bitmap, cheap to
  *    broadcast) and pre-filter the training grams with it BEFORE the exact
  *    join, which then runs as a shuffle join over the ~fpp-sized survivor
  *    stream. The bloom only pre-filters — the exact join decides — so the
  *    result is identical to the broadcast regime (asserted in
  *    DecontamSpec), just with a different cost shape.
  */
object Decontam {

  /** All n-grams of a tokens array column, as space-joined strings.
    * Since r17 the codegen'd [[org.apache.spark.sql.graftext.NGramsJoined]]
    * — exact twin of the interpreted HOF chain it replaces (equivalence
    * semantics documented with the expression; DecontamSpec pins it
    * against the HOF reference). The HOF form paid, per GRAM, a lambda
    * dispatch + n interpreted element_at calls + a concat_ws evaluation
    * (CodegenFallback) — the dominant per-row cost of every gram-family
    * query (q_text_dup_ngrams, q_text_dedup_spans, q_text_decontam,
    * q_pipeline_curate's decontam stage).
    */
  def gramsOf(toks: Column, n: Int): Column =
    org.apache.spark.sql.graftext.TextExprs.ngramsJoined(toks, n)

  /** Training docs sharing at least one distinct n-gram with the eval
    * corpus: (idCol, n_shared = distinct shared grams), ordered by id.
    */
  def sweep(train: DataFrame, evalDocs: DataFrame,
            textCol: String = "text", idCol: String = "doc_id",
            n: Int = 5, hashGrams: Boolean = false,
            bloomEvalItems: Option[Long] = None,
            bloomFpp: Double = 0.01): DataFrame = {
    def distinctGrams(df: DataFrame): DataFrame = {
      val grams = df
        .select(col(idCol), split(col(textCol), " ").as("toks"))
        .select(col(idCol), explode(array_distinct(gramsOf(col("toks"), n))).as("g"))
      if (hashGrams) grams.select(col(idCol), xxhash64(col("g")).as("g")) else grams
    }
    val evalGrams = distinctGrams(evalDocs).select(col("g")).distinct()
    val trainGrams = distinctGrams(train)
    val shared = bloomEvalItems match {
      case None =>
        // Broadcast regime: eval sets don't grow with the crawl.
        trainGrams.join(broadcast(evalGrams), Seq("g"))
      case Some(items) =>
        // Bloom regime: fixed-size bitmap + exact shuffle join over the
        // pre-filtered (~fpp * training-gram) survivor stream. Built and
        // probed with the NATIVE expressions (bloom_filter_agg /
        // might_contain — codegen'd, no boxed UDF): the filter aggregates
        // over xxhash64 of the gram (or the already-hashed gram), lands on
        // the driver as ONE binary row, and rides into the probe as a
        // foldable literal — might_contain requires a constant/scalar-
        // subquery filter side, and a literal is exactly that. The final
        // join stays exact, so fpp only costs survivor volume, never
        // correctness.
        val numBits = math.max(64L, math.ceil(
          -items.toDouble * math.log(bloomFpp) / (math.log(2) * math.log(2))).toLong)
        val hashed = if (hashGrams) col("g") else xxhash64(col("g"))
        val bfBin = bloomBytes(evalGrams, hashed, items, numBits)
        val pre =
          if (bfBin == null) trainGrams.filter(lit(false)) // empty eval corpus
          else trainGrams.filter(
            VectorExprs.bloomMightContain(lit(bfBin), hashed))
        pre.join(evalGrams, Seq("g"))
    }
    shared.groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
      .orderBy(col(idCol).asc)
  }

  /** Serialized bloom filter over `hashed`, built at the REQUESTED sizing.
    *
    * BloomFilterAggregate silently CLAMPS its parameters to
    * spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits
    * (defaults 4M items / 64M bits ≈ 8 MiB) — exactly the large-eval-set
    * regime the bloom branch exists for, where a silent clamp balloons the
    * effective fpp far past the request. The caps are raised around the
    * build (restored after, whether the build throws or not); correctness
    * never depended on them — the exact join decides — but the cost
    * contract "fpp only costs survivor volume" does. Returns null for an
    * empty input frame (BloomFilterAggregate's empty-group result).
    */
  private[graft] def bloomBytes(df: DataFrame, hashed: Column,
                                items: Long, numBits: Long): Array[Byte] = {
    val sess = df.sparkSession
    val capKeys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> items,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits)
    val saved = capKeys.map { case (k, _) => k -> sess.conf.getOption(k) }
    try {
      capKeys.foreach { case (k, v) =>
        val cur = sess.conf.getOption(k).map(_.toLong).getOrElse(0L)
        if (cur < v) sess.conf.set(k, v.toString)
      }
      df.select(VectorExprs.bloomFilterAgg(hashed, lit(items), lit(numBits)).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    } finally saved.foreach {
      case (k, Some(v)) => sess.conf.set(k, v)
      case (k, None) => sess.conf.unset(k)
    }
  }
}
