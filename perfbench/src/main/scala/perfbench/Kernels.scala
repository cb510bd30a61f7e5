package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.{AnnExprs, BpeExprs, HashExprs, PqExprs, TextExprs, VectorExprs}

/** Per-row cost of each public `graftext` Column function, timed from
  * outside over a fixed slice of the corpus: the documents and the
  * embeddings, each replicated to a fixed row count and cached, and
  * inverted lists built from the embeddings. A
  * kernel's cost is the wall of a noop write of `select(kernel(inputs))`
  * less the wall of `select(inputs)` over the same cached rows.
  */
object Kernels {
  val Names: Seq[String] = Seq(
    "tokenHashes", "hashedBigrams", "bandHashes", "fingerprintXor",
    "minhashSlots", "simhash64", "signBands", "qdotNative", "fdotNative",
    "pqEncode", "pqAdc", "listTopKCosine", "ngramsJoined", "charNGrams",
    "bpeEncode")

  private val Rows = 50000L
  /** An inverted-list row carries 54 vectors; fewer of them keep the
    * cached slice near the size of the others.
    */
  private val ListRows = 5000L

  private def wall(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of two timed writes after one untimed one (which compiles). */
  private def steady(df: DataFrame): Double = {
    wall(df)
    Stats.median(Seq(wall(df), wall(df)))
  }

  /** `df` (of `n` rows) repeated up to exactly `rows` rows. */
  private def replicated(df: DataFrame, n: Long, rows: Long): DataFrame = {
    val copies = math.max(1L, (rows + n - 1) / n)
    df.crossJoin(df.sparkSession.range(copies).toDF("_copy")).limit(rows.toInt)
  }

  /** ns per row for every name in [[Names]]. */
  def measure(spark: SparkSession, dir: String,
              codebook: graft.operators.Pq.Codebook,
              merges: Seq[(String, String)]): Map[String, Double] = {
    val docs0 = graft.Tables.documents(spark, dir).select(col("text"))
    val docs = replicated(docs0, docs0.count(), Rows)
      .select(col("text"), split(col("text"), " ").as("toks"))
      .withColumn("base", HashExprs.tokenHashes(col("toks")))
      .withColumn("sig", VectorExprs.minhashSlots(col("base"), 32))
      .cache()
    val emb0 = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val probe = emb0.head().getSeq[Float](1)
    val vecs = replicated(emb0, emb0.count(), Rows)
      .select(col("embedding"),
        transform(col("embedding"), x => round(x.cast("double") * 1000.0).cast("long")).as("q"))
      .withColumn("codes", codebook.encode(col("embedding")))
      .cache()
    // ANN inverted-list shape: 4 probes against 50 candidates per row.
    val cand = emb0.select(col("vec_id"),
      struct(col("vec_id"), col("embedding"),
        sqrt(aggregate(col("embedding"), lit(0.0d), (a, x) => a + x * x)).as("norm")).as("c"))
    val lists0 = cand.groupBy((col("vec_id") % 4).as("g"))
      .agg(slice(collect_list(col("c")), 1, 50).as("cands"))
      .select(slice(col("cands"), 1, 4).as("probes"), col("cands"))
    val lists = replicated(lists0, lists0.count(), ListRows).cache()
    val inputs = Seq(docs, vecs, lists)
    inputs.foreach(_.count())
    try {
      val lut = codebook.lut(typedLit(probe))
      def k(in: DataFrame, kernel: Column): (DataFrame, DataFrame) = (in, in.select(kernel))
      val cases: Map[String, (DataFrame, DataFrame)] = Map(
        "tokenHashes" -> k(docs, HashExprs.tokenHashes(col("toks"))),
        "hashedBigrams" -> k(docs, HashExprs.hashedBigrams(col("toks"))),
        "bandHashes" -> k(docs, HashExprs.bandHashes(col("sig"), 4)),
        "fingerprintXor" -> k(docs, HashExprs.fingerprintXor(col("toks"))),
        "minhashSlots" -> k(docs, VectorExprs.minhashSlots(col("base"), 32)),
        "simhash64" -> k(docs, VectorExprs.simhash64(col("base"))),
        "signBands" -> k(vecs, VectorExprs.signBands(col("embedding"), probe.size, 4, 48)),
        "qdotNative" -> k(vecs, VectorExprs.qdotNative(col("q"), col("q"))),
        "fdotNative" -> k(vecs, VectorExprs.fdotNative(col("embedding"), col("embedding"))),
        "pqEncode" -> k(vecs, codebook.encode(col("embedding"))),
        "pqAdc" -> k(vecs, PqExprs.pqAdc(col("codes"), lut, codebook.numSub, codebook.k)),
        "listTopKCosine" -> k(lists, AnnExprs.listTopKCosine(col("probes"), col("cands"), 5)),
        "ngramsJoined" -> k(docs, TextExprs.ngramsJoined(col("toks"), 2)),
        "charNGrams" -> k(docs, TextExprs.charNGrams(col("text"), 3)),
        "bpeEncode" -> k(docs, BpeExprs.bpeEncode(col("text"), merges)))
      val base = inputs.map(in => in -> steady(in)).toMap
      val rows = Map(docs -> Rows, vecs -> Rows, lists -> ListRows)
      Names.map { n =>
        val (in, sel) = cases(n)
        n -> math.max(0.0, steady(sel) - base(in)) * 1e9 / rows(in)
      }.toMap
    } finally inputs.foreach(_.unpersist())
  }
}
