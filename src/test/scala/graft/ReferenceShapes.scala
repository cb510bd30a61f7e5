package graft

import graft.Tables._
import graft.operators.{AnnIvf, Decontam, MinHash, SimHash, WinOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The readable or interpreted formulations that the engine's codegen
  * kernels and query rewrites replaced. Specs pin each replacement
  * identical to its shape here: element for element for a kernel, row for
  * row for a rewrite. None of them is registered or called by the engine.
  */
object ReferenceShapes {

  // ---- kernel references: interpreted higher-order-function chains ----

  /** Pins MinHash.baseHashes (the TokenHashes kernel; HashExprsSpec). */
  def baseHashesHof(toks: Column): Column = transform(toks, t => xxhash64(t))

  /** Pins MinHash.signatureFromBase (the MinHashSlots kernel; ExprSpec). */
  def signatureFromBaseHof(base: Column): Column =
    array((0 until MinHash.NumHashes).map { j =>
      val r = MinHash.rots(j)
      array_min(transform(base, h =>
        shiftleft(h, r).bitwiseOR(shiftrightunsigned(h, 64 - r))
          .bitwiseXOR(lit(MinHash.xorMasks(j)))))
    }: _*)

  /** Pins MinHash.hashedShingles (the HashedBigrams kernel; HashExprsSpec).
    * zip_with against the self-shifted array keeps the lambda on its bound
    * args only: an element_at(th, i+j) form re-evaluates th per element.
    */
  def hashedShinglesHof(toks: Column, n: Int): Column = {
    require(n == 2, s"hashedShinglesHof implements bigrams (n=2), got n=$n")
    val th = transform(toks, t => xxhash64(t))
    val sh = slice(
      zip_with(th, slice(th, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => xxhash64(a, b)),
      lit(1), size(toks) - 1)
    when(size(toks) < n, array(xxhash64(th))).otherwise(sh)
  }

  /** Pins MinHash's per-band hash vector (the BandHashes kernel;
    * HashExprsSpec): element b is band b's hash.
    */
  def bandHashesHof(sig: Column): Column =
    transform(sequence(lit(0), lit(MinHash.Bands - 1)),
      b => xxhash64(slice(sig, b * MinHash.RowsPerBand + 1, lit(MinHash.RowsPerBand))))

  /** Pins SimHash.fingerprint64 (the SimHash64 kernel; ExprSpec). */
  def fingerprint64Hof(toks: Column): Column = {
    val base = transform(toks, t => xxhash64(t))
    val zero = array((0 until SimHash.Bits).map(_ => lit(0L)): _*)
    val bitArrays = transform(base, h =>
      array((0 until SimHash.Bits).map(b =>
        shiftrightunsigned(h, b).bitwiseAND(lit(1L))): _*))
    val counts = aggregate(bitArrays, zero, (acc, v) => zip_with(acc, v, _ + _))
    val n = size(base).cast(LongType)
    (0 until SimHash.Bits).map { b =>
      when(element_at(counts, b + 1) * 2 > n, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Pins TextAnalysis.fingerprint (the FingerprintXor kernel;
    * HashExprsSpec).
    */
  def fingerprintHof(toks: Column): Column =
    aggregate(transform(toks, t => xxhash64(t)), lit(0L),
      (acc, h) => shiftleft(acc, 7).bitwiseOR(shiftrightunsigned(acc, 57)).bitwiseXOR(h))

  /** Pins LlmOps.qdot (the QuantizedDot kernel; ExprSpec). */
  def qdotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Pins Decontam.gramsOf (the NGramsJoined kernel; DecontamSpec). `toks`
    * must be a projected attribute: HOF lambdas re-evaluate captured
    * expressions per element.
    */
  def gramsOfHof(toks: Column, n: Int): Column = {
    require(n >= 1, s"gram length must be >= 1, got $n")
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  // ---- rewrite references: whole-query shapes the registry replaced ----

  /** Pins q_dedup_cross_source's bitmask rewrite (PipelineOpsSpec): the
    * collect_set-of-sources shape it replaced.
    */
  def crossSourceSetsReference(s: SparkSession, d: String): DataFrame = {
    val srcSets = documents(s, d)
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"), explode(Decontam.gramsOf(col("toks"), 5)).as("g"))
      .groupBy(col("g")).agg(collect_set(col("source")).as("ss"))
      .filter(size(col("ss")) >= 2)
    srcSets
      .select(explode(col("ss")).as("src_a"), col("ss"))
      .select(col("src_a"), explode(col("ss")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("src_a").asc, col("src_b").asc)
  }

  /** Pins q_text_stopfilter's in-array filter rewrite (PipelineOpsSpec):
    * the posexplode/reassemble shape it replaced.
    */
  def stopfilterExplodeReference(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "value", "row")
    documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .filter(!col("term").isInCollection(stop))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("term")))),
          x => x.getField("term")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
      .orderBy(col("doc_id").asc)
  }

  /** Pins q_rfm_segment_scalable's exact-NTILE reconstruction
    * (PipelineOpsSpec): three unpartitioned NTILE windows, a deliberate
    * single-partition global sort.
    */
  def rfmNtileReference(s: SparkSession, d: String): DataFrame = {
    val agg = WinOps.rfmAgg(s, d)
    val wR = Window.orderBy(col("last_od").asc, col("o_custkey").asc)
    val wF = Window.orderBy(col("frequency").asc, col("o_custkey").asc)
    val wM = Window.orderBy(col("monetary_cents").asc, col("o_custkey").asc)
    agg.select(col("o_custkey"), col("last_od"), col("frequency"),
      col("monetary_cents"),
      ntile(5).over(wR).cast(LongType).as("r_score"),
      ntile(5).over(wF).cast(LongType).as("f_score"),
      ntile(5).over(wM).cast(LongType).as("m_score"))
      .orderBy(col("o_custkey").asc)
  }

  /** Pins AggOps.topKAggregated, the registered q_agg_topk_group
    * (TopKAggSpec): the salted two-phase top-3 window it replaced.
    */
  def topKWindowed(s: SparkSession, d: String): DataFrame = {
    val ord = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
    val w1 = Window.partitionBy(col("c_mktsegment"), col("salt")).orderBy(ord: _*)
    val w2 = Window.partitionBy(col("c_mktsegment")).orderBy(ord: _*)
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .withColumn("salt", pmod(col("o_orderkey"), lit(64L)))
      .withColumn("rn1", row_number().over(w1))
      .filter(col("rn1") <= 3)
      .withColumn("rn", row_number().over(w2).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_mktsegment").asc, col("rn").asc)
  }

  /** Pins AnnIvf.annJoin's grouped rerank (AnnSpec): the windowed exact
    * rerank over the same (lists, assignments) that AnnIvf.joinAssignments
    * gives annJoin, one row per (probe, candidate) pair ranked per probe.
    * `salts = 0` is the plain shuffled join; `salts > 0` replicates the
    * candidates over that many buckets, puts each probe in one, and joins
    * on (list_id, salt) across `parts` partitions — the salted shape.
    */
  def annRerankWindowed(s: SparkSession, d: String, k: Int = 3,
                        salts: Int = 0, parts: Int = 0): DataFrame = {
    val (lists, assignments) =
      AnnIvf.joinAssignments(s, AnnIvf.ensureIndex(s, d), AnnIvf.DefaultNprobe)
    val fdot = org.apache.spark.sql.graftext.VectorExprs.fdotNative _
    val cands = lists.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"), col("list_id"))
    val pairs =
      if (salts <= 0) cands.join(assignments, Seq("list_id"))
      else cands
        .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
        .repartition(parts, col("list_id"), col("salt"))
        .join(assignments
          .withColumn("salt", pmod(hash(col("p_id")), lit(salts)))
          .repartition(parts, col("list_id"), col("salt")), Seq("list_id", "salt"))
    val wRank = Window.partitionBy(col("p_id")).orderBy(col("cos").desc, col("c_id").asc)
    pairs
      .filter(col("p_id") =!= col("c_id"))
      .select(col("p_id"), col("c_id"),
        (fdot(col("p_emb"), col("c_emb")) / (col("p_norm") * col("c_norm"))).as("cos"))
      .withColumn("rn", row_number().over(wRank).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("p_id"), col("rn"), col("c_id"), col("cos"))
  }
}
