package graft.operators

import graft.QueryPack
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector

/** SURVEY.md §2.11 non-oracle rows: minhash dedup, exact FP cosine kNN,
  * KMeans clustering, and the reference's own capability — an MLlib
  * classification pipeline (BASELINE.json: "MLlib pipeline").
  *
  * These have no DuckDB twin by design (engine-specific hash functions, FP
  * accumulation, iterative ML). The driver records a rows-only check;
  * MlSpec / MinHashSpec assert quality. Corpus reality (measured): the
  * embeddings' labels are only weakly separable (within-label cosine ≈
  * across-label cosine), so the classifier gate is seed-determinism +
  * train-fit-above-chance, and the >= 0.9 accuracy gate lives on the
  * separable iris fixture; kNN is gated against a driver-side exact
  * reference and minhash against exact Jaccard recall.
  *
  * Scale posture: minhash banding replaces all-pairs similarity with a
  * bucketed equi-join; kNN broadcasts only the bounded probe set; MLlib
  * fit/transform are distributed by construction (per-iteration jobs over
  * cached partitions — no driver-side data loops in this file).
  */
object MlOps extends QueryPack {

  private def bi(c: Column) = c.cast(LongType)

  /** Exact FP cosine similarity of two float arrays, computed in double.
    * Sequential array-order accumulation (codegen'd graftext.FloatDot) —
    * bitwise-deterministic for a given pair and identical to a sequential
    * driver-side loop, which is what MlSpec's reference check exploits.
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = org.apache.spark.sql.graftext.VectorExprs.fdotNative _
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))
  }

  /** embeddings with an MLlib vector column. */
  private def vecs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), col("label"),
      array_to_vector(col("embedding")).as("features"))

  def knnCosine(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
    val cands = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy(col("p_id")).orderBy(col("cos").desc, col("c_id").asc)
    cands.crossJoin(broadcast(probes))
      .filter(col("p_id") =!= col("c_id"))
      .select(col("p_id"), col("c_id"), cosine(col("p_emb"), col("c_emb")).as("cos"))
      .withColumn("rn", bi(row_number().over(w)))
      .filter(col("rn") <= 5)
      .select(col("p_id"), col("rn"), col("c_id"), col("cos"))
      .orderBy(col("p_id").asc, col("rn").asc)
  }

  def kmeansClusters(s: SparkSession, d: String): DataFrame = {
    val data = vecs(s, d).cache()
    val model = new KMeans().setK(10).setSeed(42L).setMaxIter(20)
      .setFeaturesCol("features").fit(data)
    val out = model.transform(data)
      .groupBy(col("prediction"))
      .agg(count(lit(1)).as("n"), countDistinct(col("label")).as("n_labels"))
      .orderBy(col("prediction").asc)
    data.unpersist()
    out
  }

  /** One shared fit of the reference-shaped pipeline (single source of
    * hyperparameters — both the registered query and the accuracy gate use
    * exactly this model): embeddings features -> label, deterministic 80/20
    * split (seed 42), multinomial LogisticRegression.
    */
  private def classifyFit(s: SparkSession, d: String)
      : (org.apache.spark.ml.PipelineModel, DataFrame, DataFrame) = {
    val data = vecs(s, d).withColumn("label_d", col("label").cast("double"))
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42L)
    val lr = new LogisticRegression()
      .setFeaturesCol("features").setLabelCol("label_d")
      .setMaxIter(50).setRegParam(0.01)
    (new Pipeline().setStages(Array(lr)).fit(train), train, test)
  }

  /** Per-row test predictions of the reference-shaped pipeline (rows-only
    * driver check; the quality gates live in MlSpec).
    */
  def classifyPredictions(s: SparkSession, d: String): DataFrame = {
    val (model, _, test) = classifyFit(s, d)
    model.transform(test)
      .select(col("vec_id"), bi(col("label")).as("label"),
        bi(col("prediction")).as("prediction"))
      .orderBy(col("vec_id").asc)
  }

  /** (train accuracy, test accuracy) of the seed-42 pipeline — MlSpec gate. */
  def classifyAccuracy(s: SparkSession, d: String): (Double, Double) = {
    val (model, train, test) = classifyFit(s, d)
    def acc(df: DataFrame): Double = {
      val p = model.transform(df)
      p.filter(col("label_d") === col("prediction")).count().toDouble / p.count()
    }
    (acc(train), acc(test))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash" -> ((s, d) =>
      MinHash.dedupAssignments(documents(s, d))
        .orderBy(col("doc_id").asc)),
    "dedup_simhash" -> ((s, d) =>
      SimHash.dedupAssignments(documents(s, d))
        .orderBy(col("doc_id").asc)),
    // Order-sensitive word-bigram shingle variant of minhash dedup
    // (hashed shingles: no shingle strings materialized).
    "dedup_minhash_shingled" -> ((s, d) =>
      MinHash.dedupAssignments(documents(s, d),
          MinHash.hashedShingles(split(col("text"), " "), 2))
        .orderBy(col("doc_id").asc)),
    // Transitive clusters over the verified-similarity graph (bounded
    // min-label propagation) — the chain-collapsing complement to the
    // one-hop dedup_minhash artifact.
    // Built from a private session clone: the iterative pass loop inside
    // (Components.altStar) pins pass-sized shuffle partitions on the
    // frames' session — the clone keeps that pin invisible to concurrent
    // queries on the host session (Sessions.cloned). A clone per call is
    // cheap: it shares the executor class loader (artifact isolation off),
    // so its 60–106 generated classes are codegen-cache hits after the
    // first call instead of a full recompile every call.
    "dedup_clusters" -> ((s, d) =>
      MinHash.dedupClusters(documents(graft.Sessions.cloned(s), d))
        .orderBy(col("doc_id").asc)),
    // Embedding-space near-dup: cosine >= 0.95 within sign-LSH bands,
    // geometry auto-sized to the corpus (fixed 12-bit buckets measured
    // quadratic at sf100 — see AnnIvf.bandGeometry).
    "dedup_embedding_cosine" -> ((s, d) =>
      AnnIvf.cosineDupAssignmentsAuto(embeddings(s, d))
        .orderBy(col("vec_id").asc)),
    "ml_knn_cosine" -> (knnCosine _),
    // Offline/online ANN split: ml_ann_build forces (and is timed as) the
    // one-off index build — it sorts before ml_ann_ivf, so the query row
    // reports pure probe-join cost against the persisted index.
    "ml_ann_build" -> (AnnIvf.indexStats _),
    "ml_ann_ivf" -> ((s, d) =>
      AnnIvf.ivfTopK(s, d).orderBy(col("p_id").asc, col("rn").asc)),
    // kNN JOIN: every vector gets its approximate top-3 neighbors from the
    // same persisted index (shuffled list join, no broadcast side).
    "ml_ann_join" -> ((s, d) =>
      AnnIvf.annJoin(s, d).orderBy(col("p_id").asc, col("rn").asc)),
    // IVF×PQ composition: ADC over packed codes WITHIN probed lists, exact
    // rerank of survivors — the billion-vector byte-budget geometry
    // (candidate side 20 B/row vs the d*4-byte array). Recall gate in
    // AnnSpec (top-1-in-top-3 >= 0.6 at sf1 density, 8-bit sub-codes).
    "ml_ann_join_pq" -> ((s, d) =>
      AnnIvf.annJoinPq(s, d).orderBy(col("p_id").asc, col("rn").asc)),
    "ml_kmeans_embeddings" -> (kmeansClusters _),
    // Product quantization: compressed corpus (one BIGINT of packed
    // sub-codes per vector) and ADC-then-exact-rerank kNN over it — the
    // memory-bound scale path (8 B/vector vs 256 B f32). ml_pq_encode
    // sorts first and forces the memoized codebook fit (ann_build
    // precedent); recall + kernel gates live in PqSpec.
    "ml_pq_encode" -> (Pq.encodeTable _),
    "ml_pq_knn" -> ((s, d) => Pq.pqKnn(s, d)),
    // Integer-exact PageRank over the bipartite trade graph — the
    // domain-ranking member of the iterative-graph family (Components =
    // min-label CC, this = weighted mass propagation). Bit-deterministic
    // by construction (micro-unit ranks, rational damping, floored
    // per-edge division — zero FP); GraphRankSpec pins the whole
    // iteration to a driver reference in exact equality.
    "q_graph_pagerank" -> (Ranking.tradeRank _),
    // Degree-ordered triangle counting over the part co-occurrence graph —
    // the motif-counting member of the graph family. O(m^1.5) oriented
    // wedge join, never a hub-degree^2 blowup (Triangles.scala header);
    // pure integer counting, so this one IS oracle-twinned.
    "q_graph_triangles" -> (Triangles.partTriangles _),
    "ml_classify_pipeline" -> (classifyPredictions _),
    // Multimodal: binary payloads + typed metadata through the batched
    // decode stub (sources.Multimodal) to per-kind feature stats. Norms are
    // quantized to integers BEFORE the cross-partition sum — a raw double
    // sum would be shuffle-order-dependent and break run-twice determinism.
    "multimodal_decode" -> ((s, d) => {
      import graft.operators.LlmOps.{qdot, quantize}
      val feats = graft.sources.Multimodal.decodeFeatures(
        graft.sources.Multimodal.syntheticMedia(s, documents(s, d))).toDF()
      feats
        .select(col("kind"), quantize(col("feature")).as("qf"))
        .select(col("kind"), qdot(col("qf"), col("qf")).as("norm2_q"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("norm2_q")).as("sum_norm2_q"))
        .orderBy(col("kind").asc)
    })
  )

  /** Engine-specific algorithms have no DuckDB twins by design — except
    * triangle counting, whose exact integer result a relational triple
    * join reproduces: canonical u<v edges make triangle {a<b<c} match
    * exactly once as (a,b)(b,c)(a,c). The twin verifies the COUNT; the
    * engine's degree-oriented plan is what makes it scale.
    */
  override def oracle: Map[String, String] = Map(
    "q_graph_triangles" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs e1
        |        JOIN pairs e2 ON e1.v = e2.u
        |        JOIN pairs e3 ON e1.u = e3.u AND e2.v = e3.v) AS n_triangles
        |FROM pairs""".stripMargin
  )
}
