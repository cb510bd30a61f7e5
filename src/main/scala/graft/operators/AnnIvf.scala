package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector

/** IVF-style approximate nearest neighbor over the embeddings table — the
  * scale path next to the brute-force baseline (MlOps.knnCosine).
  *
  * The lifecycle is split the way a real vector store splits it:
  *
  *   - BUILD (offline, once): a KMeans coarse quantizer (nlist centroids,
  *     seed 42) partitions the vector space into inverted lists; every
  *     candidate vector is assigned to its nearest centroid by the
  *     distributed model.transform, and both artifacts are PERSISTED as
  *     parquet ([[buildIndex]]). At 100 TB this is a nightly job; the
  *     list_id doubles as the co-partitioning key for the vector table.
  *   - QUERY (online, many times): [[queryIndex]] reads the persisted
  *     artifacts and contains NO fitting — each probe scores only the
  *     nprobe nearest lists (the centroid table is broadcast — it is nlist
  *     rows by construction), then exact-cosine reranks candidates inside
  *     those lists. Work per probe is |candidates| * nprobe / nlist
  *     instead of |candidates|.
  */
object AnnIvf {

  /** Bump when any persisted artifact schema changes ([[ensureIndex]]
    * embeds it in the directory name). v2 = two-level quantizer round:
    * centroids gained (center_f, cnorm2, super_id), supers added.
    */
  val IndexFormatVersion = 2

  /** Handle to a persisted IVF index (all paths hold parquet). */
  final case class AnnIndex(centroidsPath: String, listsPath: String,
                            supersPath: String) {
    /** Tombstone sidecar dir (append-only parquet of deleted vec_ids) —
      * derived, so existing handles/specs stay source-compatible.
      */
    def tombstonesPath: String = java.nio.file.Paths.get(listsPath)
      .getParent.resolve("tombstones").toString
  }

  /** Known-at-build-time schemas for the persisted artifacts: passing them
    * to the readers keeps the ONLINE side job-free (schema inference reads
    * parquet footers through a Spark job; explicit schemas skip it).
    */
  import org.apache.spark.sql.types._
  private val centroidsSchema = StructType(Seq(
    StructField("list_id", IntegerType),
    StructField("center", ArrayType(DoubleType)),
    StructField("center_f", ArrayType(FloatType)),
    StructField("cnorm2", DoubleType),
    StructField("super_id", IntegerType)))
  private val supersSchema = StructType(Seq(
    StructField("super_id", IntegerType),
    StructField("scenter_f", ArrayType(FloatType)),
    StructField("snorm2", DoubleType)))
  private val listsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("norm", DoubleType),
    StructField("fp0", LongType),
    StructField("fp1", LongType),
    StructField("fp2", LongType),
    StructField("fp3", LongType),
    StructField("list_id", IntegerType)))

  /** Offline index build: fit the coarse quantizer on `emb` (vec_id,
    * embedding) and persist centroids (list_id, center: array<double>) and
    * inverted lists (vec_id, embedding, norm, list_id) under `indexDir`.
    * The L2 norm is computed ONCE here and persisted — the query side's
    * cosine is then one dot product per candidate pair, not three.
    *
    * nlist <= 0 means AUTO: max(16, ceil(sqrt(n))) — the standard IVF
    * operating point. With nlist fixed, a kNN JOIN's candidate volume is
    * n * nprobe/nlist * n = O(n²); with nlist ~ sqrt(n) it is
    * O(nprobe * n^1.5). The count() this costs is one pass of the build
    * job — offline by definition.
    *
    * maxIter=8: coarse-quantizer quality saturates early here (recall@5
    * measured identical to maxIter=20) and the fit dominates build cost.
    */
  def buildIndex(emb: DataFrame, indexDir: String, nlist: Int = 0,
                 dim: Int = 0): AnnIndex = {
    val s = emb.sparkSession
    import s.implicits._
    val k = if (nlist > 0) nlist
      else math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    // dim <= 0 means INFER from the corpus (one single-row job during the
    // offline build) — the sign-LSH plane family must match the true
    // vector width, and a wrong constant would silently sketch a prefix.
    val d = if (dim > 0) dim
      else emb.select(size(col("embedding"))).head().getInt(0)
    val fdot = org.apache.spark.sql.graftext.VectorExprs.fdotNative _
    val data = emb
      .select(col("vec_id"), col("embedding"),
        sqrt(fdot(col("embedding"), col("embedding"))).as("norm"),
        array_to_vector(col("embedding")).as("features"))
    val model = new KMeans().setK(k).setSeed(42L).setMaxIter(8)
      .setFeaturesCol("features").fit(data)
    val index = AnnIndex(s"$indexDir/centroids", s"$indexDir/lists",
      s"$indexDir/supers")
    // Two-level coarse quantizer (the structural lever the round-6
    // operating-point sweep identified): cluster the k centroids into
    // ksup ~ sqrt(k) super-centroids — all driver-local, k is at most a
    // few thousand points. Probe assignment then scores ksup supers plus
    // the children of the wSup best, O(sqrt(k)) per probe instead of
    // O(k). Centers are ALSO persisted as float arrays with their
    // norms so the assignment scoring runs on the codegen'd FloatDot
    // (rank by cnorm2 - 2*p.c — per-probe |p|^2 is constant) instead of
    // the interpreted zip_with/aggregate sqDist.
    val ksup = math.max(4, math.ceil(math.sqrt(k.toDouble)).toInt)
    val centerRows = model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) =>
        val arr = v.toArray
        (i, arr, arr.map(_.toFloat), arr.map(x => x * x).sum)
      }
    val centersDf = centerRows.toDF("list_id", "center", "center_f", "cnorm2")
      .withColumn("features", array_to_vector(col("center")))
    val superModel = new KMeans().setK(math.min(ksup, k)).setSeed(43L)
      .setMaxIter(8).setFeaturesCol("features").fit(centersDf)
    superModel.transform(centersDf)
      .select(col("list_id"), col("center"), col("center_f"), col("cnorm2"),
        col("prediction").as("super_id"))
      .coalesce(1)
      .write.mode("overwrite").parquet(index.centroidsPath)
    superModel.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) =>
        val arr = v.toArray
        (i, arr.map(_.toFloat), arr.map(x => x * x).sum)
      }
      .toDF("super_id", "scenter_f", "snorm2")
      .coalesce(1)
      .write.mode("overwrite").parquet(index.supersPath)
    // 192-bit sign-LSH sketch (4 x 48-bit longs from the deterministic
    // SignBands plane family) computed ONCE here and persisted next to the
    // norm — the kNN join's coarse filter ranks candidates by sketch
    // hamming distance without ever touching the embedding arrays.
    // 192 bits: hamming estimates the pair angle with std ~6.5°; the width
    // is set by the coarse filter's recall gate (96 bits measured 0.52
    // top-1-in-top-3 vs 0.87 exact at coarseK=16 — too noisy to rank the
    // near-random corpus).
    val sig = org.apache.spark.sql.graftext.VectorExprs
      .signBands(col("embedding"), d, 4, 48)
    // One file per inverted list: a reader probing 8 of nlist lists opens
    // only those files (partition pruning on list_id) — the on-disk twin of
    // the query-side list pruning.
    model.transform(data)
      .select(col("vec_id"), col("embedding"), col("norm"),
        element_at(sig, 1).as("fp0"), element_at(sig, 2).as("fp1"),
        element_at(sig, 3).as("fp2"), element_at(sig, 4).as("fp3"),
        col("prediction").as("list_id"))
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(index.listsPath)
    // Base-build row count (metadata-only count of the just-written
    // parquet): [[appendToIndex]] prices its rebuild-threshold fraction
    // against this.
    val nRows = s.read.schema(listsSchema).parquet(index.listsPath).count()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(indexDir, "base_count"),
      nRows.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    index
  }

  /** Appended-mass fraction past which [[appendToIndex]] callers should
    * schedule a full rebuild: the quantizer was fit on the base geometry,
    * and recall erodes as appended vectors outgrow it.
    */
  val RebuildThreshold = 0.5

  /** Incremental index maintenance (the streaming-ingest path): assign
    * NEW vectors to the EXISTING coarse quantizer's nearest lists and
    * APPEND them to the persisted inverted lists — no KMeans refit, and
    * no rewrite of any existing list file (append-mode parquet only adds
    * part files under the touched `list_id=` dirs; spec-gated by mtime).
    * Cost is one broadcast assignment pass over the new rows only —
    * o(rebuild) by construction, since a rebuild refits the quantizer
    * and rewrites every list.
    *
    * Assignment reuses the exact two-level descent queries use
    * ([[probeAssignments]] at nprobe = 1), and the appended rows carry
    * the same persisted norm + 192-bit sign sketch as built rows, so the
    * query side cannot distinguish appended from built vectors.
    *
    * Returns the cumulative appended fraction (rows beyond the base
    * build / base rows). The standard IVF maintenance loop: append on
    * ingest, full rebuild when the fraction passes [[RebuildThreshold]]
    * (drift makes recall sag toward the floor, measured in AnnSpec).
    * Note [[ensureIndex]]'s corpus-fingerprint staleness guard is
    * orthogonal: it keys indexes built FROM a corpus directory; this
    * call maintains an explicit [[AnnIndex]] handle.
    */
  def appendToIndex(s: SparkSession, index: AnnIndex, newVecs: DataFrame): Double = {
    resurrectTombstoned(s, index, newVecs)
    val centers = s.read.schema(centroidsSchema).parquet(index.centroidsPath)
    val supers = s.read.schema(supersSchema).parquet(index.supersPath)
    // Vector width from the persisted centers (an nlist-row job, offline).
    val d = centers.select(size(col("center_f"))).head().getInt(0)
    val probes = newVecs.select(col("vec_id").as("p_id"),
      col("embedding").as("p_emb"))
    val assigned = probeAssignments(centers, supers, probes, nprobe = 1)
    val sig = org.apache.spark.sql.graftext.VectorExprs
      .signBands(col("p_emb"), d, 4, 48)
    assigned
      .select(col("p_id").as("vec_id"), col("p_emb").as("embedding"),
        sqrt(fdot(col("p_emb"), col("p_emb"))).as("norm"),
        element_at(sig, 1).as("fp0"), element_at(sig, 2).as("fp1"),
        element_at(sig, 3).as("fp2"), element_at(sig, 4).as("fp3"),
        col("list_id"))
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id").parquet(index.listsPath)
    listCountCache.remove(index.listsPath) // count is stale by definition
    churnFraction(s, index)
  }

  /** Delete vectors from a persisted index WITHOUT touching any built
    * list file: `ids` (one `vec_id` column) append to a tombstone sidecar
    * under the index dir, and every read path serves the lists through a
    * tombstone anti-join until the next full rebuild materializes the
    * deletions (the ANN twin of the snapshot store's deletion vectors —
    * same reasoning: a delete of k vectors must not rewrite
    * gigabyte-scale inverted lists). Cost ∝ deleted ids; idempotent
    * (re-deleting an id appends a redundant tombstone row, and the
    * anti-join semantics are set-based).
    *
    * Returns the cumulative CHURN fraction — (appended + tombstoned
    * rows) / base build rows — the rebuild trigger: tombstoned mass
    * counts toward [[RebuildThreshold]] exactly like appended mass, since
    * both erode the quantizer's fit geometry (dead rows additionally pay
    * scan+anti-join tax until rebuild).
    */
  def removeFromIndex(s: SparkSession, index: AnnIndex, ids: DataFrame): Double = {
    ids.select(col("vec_id").cast(LongType).as("vec_id"))
      .coalesce(1)
      .write.mode("append").parquet(index.tombstonesPath)
    churnFraction(s, index)
  }

  private val tombstonesSchema = StructType(Seq(
    StructField("vec_id", LongType)))

  /** A vec_id deleted by [[removeFromIndex]] and later re-appended must
    * come back to life: tombstones mask by vec_id in EVERY read path, so
    * without this the re-appended vector would stay invisible until a
    * full rebuild — silently wrong results for upsert-style maintenance
    * (r15 ADVICE, medium). Three steps, each leaving the index readable
    * if interrupted:
    *
    *   1. physically purge the DEAD rows of re-added ids from their list
    *      partitions (these rows are tombstone-masked, so the purge
    *      changes nothing visible; touched lists are found by a
    *      vec_id/list_id column-pruned scan, cost ∝ re-added ids — a
    *      naive "just un-tombstone" would instead resurrect the OLD
    *      vector alongside the new one: duplicate vec_ids in every kNN);
    *   2. rewrite the tombstone sidecar without the re-added ids
    *      (tombstone-count-sized job);
    *   3. the caller's normal list append then publishes the new rows.
    *
    * A crash after (1) changes nothing visible; after (2) the id reads as
    * simply absent (deleted, not yet re-appended) — the retried append is
    * clean. The sidecar swap is a double-move (POSIX rename cannot
    * replace a non-empty dir): a concurrent reader in that window sees NO
    * sidecar, briefly resurrecting other tombstoned ids' dead rows — the
    * index is a single-writer scratch artifact, same non-MVCC contract as
    * the in-place list append itself. The purge also shrinks the lists
    * row count, so [[ensurePqCodes]]'s count-freshness check re-encodes
    * the pqcodes sidecar on next use (self-healing, no action here).
    */
  private def resurrectTombstoned(s: SparkSession, index: AnnIndex,
                                  newVecs: DataFrame): Unit = {
    if (!new java.io.File(index.tombstonesPath).isDirectory) return
    val tombs = s.read.schema(tombstonesSchema).parquet(index.tombstonesPath)
    val incoming = newVecs.select(col("vec_id").cast(LongType).as("vec_id"))
    // Bounded collect: the overlap can never exceed the tombstone sidecar
    // (delete-count-sized by the removeFromIndex contract).
    val reAdded = tombs.join(incoming, Seq("vec_id"), "left_semi")
      .distinct().collect().map(_.getLong(0))
    if (reAdded.isEmpty) return
    val indexDir = java.nio.file.Paths.get(index.listsPath).getParent
    def swapDirs(tmp: java.nio.file.Path, target: java.nio.file.Path): Unit = {
      val old = indexDir.resolve(
        "purged-" + java.util.UUID.randomUUID().toString)
      java.nio.file.Files.move(target, old)
      java.nio.file.Files.move(tmp, target)
      deleteRecursively(old)
    }
    // (1) purge dead rows, touched list partitions only. Bounded collect:
    // at most one list per re-added id (nprobe=1 assignment).
    val victims = s.read.schema(listsSchema).parquet(index.listsPath)
      .filter(col("vec_id").isin(reAdded: _*))
      .select("list_id").distinct().collect().map(_.getInt(0))
    val perListSchema = StructType(listsSchema.filterNot(_.name == "list_id"))
    victims.foreach { lid =>
      val dir = java.nio.file.Paths.get(index.listsPath, s"list_id=$lid")
      val tmp = indexDir.resolve(
        "resurrect-" + java.util.UUID.randomUUID().toString)
      // The write is the action that drains the read — the source dir is
      // fully consumed before the swap touches it.
      s.read.schema(perListSchema).parquet(dir.toString)
        .filter(!col("vec_id").isin(reAdded: _*))
        .write.parquet(tmp.toString)
      swapDirs(tmp, dir)
    }
    listCountCache.remove(index.listsPath)
    // (2) drop the re-added ids from the sidecar; an emptied sidecar is
    // deleted outright (liveLists treats a missing dir as "no deletes").
    val keep = tombs.filter(!col("vec_id").isin(reAdded: _*))
    if (keep.isEmpty) deleteRecursively(
      java.nio.file.Paths.get(index.tombstonesPath))
    else {
      val tmp = indexDir.resolve(
        "resurrect-" + java.util.UUID.randomUUID().toString)
      keep.coalesce(1).write.parquet(tmp.toString)
      swapDirs(tmp, java.nio.file.Paths.get(index.tombstonesPath))
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val it = java.nio.file.Files.walk(p)
    try it.iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally it.close()
  }

  /** The lists parquet with tombstoned vectors masked out. Zero overhead
    * when no delete ever happened (no sidecar dir → the plain scan); with
    * tombstones, one anti-join on vec_id whose right side is
    * tombstone-count-sized (broadcast by Catalyst off its file size).
    */
  private def liveLists(s: SparkSession, index: AnnIndex): DataFrame = {
    val lists = s.read.schema(listsSchema).parquet(index.listsPath)
    if (!new java.io.File(index.tombstonesPath).isDirectory) lists
    else lists.join(
      s.read.schema(tombstonesSchema).parquet(index.tombstonesPath),
      Seq("vec_id"), "left_anti")
  }

  /** (appended + tombstoned) / base rows — the rebuild-threshold metric
    * both maintenance paths report.
    */
  private def churnFraction(s: SparkSession, index: AnnIndex): Double = {
    val total = indexSize(s, index)
    val tombs =
      if (!new java.io.File(index.tombstonesPath).isDirectory) 0L
      else s.read.schema(tombstonesSchema).parquet(index.tombstonesPath)
        .select(col("vec_id")).distinct().count()
    val baseFile = java.nio.file.Paths.get(index.listsPath)
      .getParent.resolve("base_count")
    val baseN =
      if (java.nio.file.Files.exists(baseFile))
        new String(java.nio.file.Files.readAllBytes(baseFile),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      else total
    ((total - baseN) + tombs).toDouble / math.max(baseN, 1L)
  }

  private def fdot =
    org.apache.spark.sql.graftext.VectorExprs.fdotNative _

  /** How many super-lists each probe descends into. wSup >= ksup disables
    * pruning entirely (every child list is scored — bitwise-identical to
    * single-level assignment), which is exactly what happens on small
    * corpora: ksup = ceil(sqrt(k)) <= 4 for k <= 16, so the sf0.001
    * fixtures and every existing spec see unpruned assignment.
    *
    * Default raised 6 → 10 in round 10 together with nprobe 8 → 16 (the
    * r10 sweep, BASELINE.md / BENCH_ann_sweep_r10.json): nprobe is the
    * recall lever (0.45 → 0.60 → 0.745 at 8/16/24); wSup contributes a
    * marginal +0.01 at 10 and is saturated there (10 ≡ 12-of-12
    * unpruned, bit-identical recall) — so 10 buys the full descent
    * quality while still pruning once ksup grows past it at scale.
    */
  private val WSup = 10

  /** Default probe width (lists scored per query vector). Raised 8 -> 16
    * in round 10: the minimal point reaching the 0.6 top-1-in-top-3
    * retrieval gate at sf1 density (r9 verdict item 5; 0.600 measured,
    * vs 0.450 at the old default — BENCH_ann_sweep_r10.json). Cost is
    * linear in nprobe on the rerank side (candidates ~ n*nprobe/nlist),
    * so this trades ~2x rerank rows for the recall gate — measured walls
    * in BASELINE.md. nprobe 24 reaches 0.745 at ~3x; the knob is exposed
    * on every entry point for callers who want that point.
    */
  val DefaultNprobe = 16

  /** Probe columns + list_id — each probe assigned to its nprobe nearest
    * lists. Expects probes with p_id and p_emb; every probe column is
    * carried through verbatim (callers project away what their stage
    * doesn't need — e.g. the coarse kNN-join stage drops p_emb and keeps
    * only the sketch longs, and Catalyst prunes the array from the plan).
    *
    * Two-level scoring (round-6): rank the ksup super-centroids first
    * (broadcast, ksup rows), descend into the WSup best supers' children
    * only (broadcast equi-join on super_id), so per-probe scoring work is
    * ksup + WSup*k/ksup ~ (1+WSup)*sqrt(k) instead of k. The ranking key
    * is cnorm2 - 2*fdot(p, c) — monotone in L2 distance for a fixed
    * probe — on persisted float centers, keeping the whole stage inside
    * codegen (the interpreted zip_with sqDist over the old n x k
    * crossJoin was what made nlist = 4*sqrt(n) assignment-bound in the
    * round-6 sweep). Ties break on (key, id) so assignment stays
    * deterministic.
    */
  private def probeAssignments(centers: DataFrame, supers: DataFrame,
                               probes: DataFrame, nprobe: Int,
                               wSup: Int = WSup): DataFrame = {
    val wSuper = Window.partitionBy(col("p_id"))
      .orderBy(col("sdist").asc, col("super_id").asc)
    val wProbe = Window.partitionBy(col("p_id"))
      .orderBy(col("dist2").asc, col("list_id").asc)
    probes
      .crossJoin(broadcast(supers))
      .withColumn("sdist",
        col("snorm2") - lit(2.0) * fdot(col("p_emb"), col("scenter_f")))
      .withColumn("sr", row_number().over(wSuper))
      .filter(col("sr") <= wSup)
      .select(probes.columns.map(col).toIndexedSeq :+ col("super_id"): _*)
      .join(broadcast(centers.select(col("super_id"), col("list_id"),
        col("center_f"), col("cnorm2"))), Seq("super_id"))
      .withColumn("dist2",
        col("cnorm2") - lit(2.0) * fdot(col("p_emb"), col("center_f")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(probes.columns.map(col).toIndexedSeq :+ col("list_id"): _*)
  }

  /** Exact-cosine rerank of list-pruned candidates: top-k per probe. Both
    * norms ride in (persisted for candidates, precomputed for probes), so
    * the per-pair cost is ONE dot product; the rerank is a WindowGroupLimit
    * (per-partition partial top-k before the p_id exchange), and the
    * projection to (p_id, c_id, cos) sits BELOW that exchange — embedding
    * arrays never shuffle per pair.
    */
  private def rerank(lists: DataFrame, probeLists: DataFrame, k: Int): DataFrame = {
    val wRank = Window.partitionBy(col("p_id")).orderBy(col("cos").desc, col("c_id").asc)
    lists
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("norm").as("c_norm"), col("list_id"))
      .join(broadcast(probeLists), Seq("list_id"))
      .filter(col("p_id") =!= col("c_id"))
      .select(col("p_id"), col("c_id"),
        (fdot(col("p_emb"), col("c_emb")) / (col("p_norm") * col("c_norm"))).as("cos"))
      .withColumn("rn", row_number().over(wRank).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("p_id"), col("rn"), col("c_id"), col("cos"))
  }

  /** Online top-k query against a persisted index — no fitting anywhere in
    * this plan; constructing it runs zero Spark jobs. `probes` is
    * (p_id, p_emb). Candidate vectors come from the nprobe nearest inverted
    * lists only; exact cosine reranks inside them.
    */
  def queryIndex(s: SparkSession, index: AnnIndex, probes: DataFrame,
                 nprobe: Int = DefaultNprobe, k: Int = 5,
                 wSup: Int = WSup): DataFrame = {
    val centers = s.read.schema(centroidsSchema).parquet(index.centroidsPath)
    val supers = s.read.schema(supersSchema).parquet(index.supersPath)
    val lists = liveLists(s, index)
    val withNorm = probes.withColumn("p_norm",
      sqrt(fdot(col("p_emb"), col("p_emb"))))
    rerank(lists, probeAssignments(centers, supers, withNorm, nprobe, wSup), k)
  }

  /** One persisted index per (sfDir, nlist) per JVM: the registered queries
    * share it, so the build cost is paid once (under ml_ann_build, which
    * sorts before ml_ann_ivf in the bench) and every query run is fit-free.
    * nlist is part of the key (0 = auto-sized) — two callers with different
    * quantizer sizes get two indexes, not a silent reuse of whichever built
    * first.
    */
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), AnnIndex]()

  /** Test hook: drop the in-JVM memo so a spec can exercise the CROSS-JVM
    * reuse path (fingerprint → persisted `_SUCCESS` markers → no rebuild)
    * without forking a JVM. AnnSpec's same-corpus⇒no-rebuild gate is what
    * keeps a format/fingerprint churn from silently re-running the
    * ~5-minute sf100 quantizer fit on every fresh JVM (the r12 regression
    * mode: a format bump changed the key once, correctly — but only this
    * gate proves the second run comes back at memo speed).
    */
  private[graft] def evictMemo(): Unit = indexCache.clear()

  /** Cheap content fingerprint of the embeddings corpus under `d`: the
    * sorted data-file (name, length, mtime) listing, hashed. Pure
    * filesystem metadata — zero Spark jobs — yet any regeneration of the
    * parquet (new files, new sizes, or new mtimes) changes it, which is
    * what keys cross-JVM index reuse to the corpus CONTENT rather than to
    * its path alone.
    */
  private[graft] def corpusFingerprint(d: String, tbl: String = "embeddings"): String = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
          .flatMap(files)
      else Seq(f)
    val root = new java.io.File(s"$d/$tbl.parquet")
    val sig =
      if (!root.exists()) "absent"
      else files(root)
        .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
        .mkString("|")
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sig) & 0x7fffffff)
  }

  def ensureIndex(s: SparkSession, d: String, nlist: Int = 0): AnnIndex = {
    // The fingerprint is part of the MEMO key too, so a corpus regenerated
    // mid-JVM gets a rebuild, not the stale cached handle.
    val fp = corpusFingerprint(d)
    indexCache.computeIfAbsent((s"$d#$fp", nlist), _ => {
      // scratch INSIDE the repo tree (target/ is build scratch) — this
      // library's explicit writes stay under the project root. The
      // directory is DETERMINISTIC per (corpus dir, nlist) and the build
      // is reused across JVMs when its parquet _SUCCESS markers exist —
      // the offline/online split for real: a 2 M-vector quantizer fit
      // costs ~5 min (sf100), and every query JVM after the first reads
      // the persisted artifacts instead of refitting. (Builds are seeded,
      // so a reused index is bitwise the one a rebuild would produce.)
      val base = java.nio.file.Paths.get("target/graft-scratch")
      java.nio.file.Files.createDirectories(base)
      // IndexFormatVersion is part of the path: a schema change bumps it,
      // so a new build can never silently reuse an old-format directory.
      // The corpus FINGERPRINT (data-file names+sizes+mtimes, no Spark
      // job) is also part of the path: regenerating the parquet under `d`
      // changes the fingerprint, so a later JVM rebuilds instead of
      // silently serving ANN results from a stale index. And because the
      // `[^A-Za-z0-9._-]` sanitization can alias distinct dirs
      // (data/sf1 vs data_sf1), a hash of the RAW path keeps the key
      // injective.
      val safe = d.replaceAll("[^A-Za-z0-9._-]", "_")
      val pathH = Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(d) & 0x7fffffff)
      val dir = base.resolve(
        s"graft-ann-index-v$IndexFormatVersion-$safe-$pathH-$fp-$nlist").toString
      val idx = AnnIndex(s"$dir/centroids", s"$dir/lists", s"$dir/supers")
      val complete = Seq(idx.centroidsPath, idx.listsPath, idx.supersPath)
        .forall(p => new java.io.File(s"$p/_SUCCESS").exists())
      if (complete) idx
      else {
        // Cross-JVM build race: build into a process-unique tmp dir, then
        // RENAME into place (atomic on one filesystem). Two concurrent
        // builders each complete privately; the loser's rename fails on
        // the winner's dir and its copy is discarded — no reader can ever
        // observe a half-written index directory. (Builds are seeded, so
        // winner and loser are bitwise identical anyway.)
        val tmp = s"$dir.tmp-${java.lang.ProcessHandle.current().pid()}"
        buildIndex(embeddings(s, d), tmp, nlist = nlist)
        val src = java.nio.file.Paths.get(tmp)
        try java.nio.file.Files.move(src, java.nio.file.Paths.get(dir),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileSystemException =>
            org.apache.commons.io.FileUtils.deleteDirectory(src.toFile)
        }
        idx
      }
    })
  }

  /** Per-list population of the built index — the registered build query:
    * forces (and times) the offline build, and its output doubles as an
    * index-health check (no empty or mega list).
    */
  def indexStats(s: SparkSession, d: String): DataFrame = {
    val index = ensureIndex(s, d)
    liveLists(s, index)
      .groupBy(col("list_id").cast(LongType).as("list_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("list_id").asc)
  }

  /** Top-k ANN for the bounded probe set (vec_id < 10), served from the
    * persisted index — identical results to the round-2 in-query-fit
    * formulation (same quantizer params, same data), but the query plan is
    * parquet reads + joins only.
    */
  def ivfTopK(s: SparkSession, d: String,
              nlist: Int = 0, nprobe: Int = DefaultNprobe, k: Int = 5,
              wSup: Int = WSup): DataFrame = {
    val index = ensureIndex(s, d, nlist)
    val probes = liveLists(s, index)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
    queryIndex(s, index, probes, nprobe, k, wSup)
  }

  /** One columnless count of a persisted index's inverted lists per JVM —
    * sizes the kNN join's probe groups (below). A count over the
    * lists parquet touches row-group metadata only.
    */
  private val listCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def indexSize(s: SparkSession, index: AnnIndex): Long =
    listCountCache.computeIfAbsent(index.listsPath, _ =>
      s.read.schema(listsSchema).parquet(index.listsPath).count())

  /** The kNN join's rerank: per-list streaming top-k, no pair rows, no
    * pair sort (guide §1.2 step 1). A windowed rerank ([[rerank]], or the
    * plain and salted shapes the specs keep as references) materializes
    * one row per (probe, candidate) pair out of the list_id join and
    * plans a per-task SORT under the partial WindowGroupLimit —
    * ~n·nprobe·n/nlist rows (1.4e9 at sf10, where it ran 7–10× slower
    * than this shape, OPTIMIZATION_r17 §5). Here both
    * sides are grouped per inverted list first (two collect_list
    * aggregates — each shuffles the corpus exactly once, the same bytes
    * the pair join exchanged), the 1:1 list-level join carries ARRAYS,
    * and [[org.apache.spark.sql.graftext.ListTopKCosine]] scores each
    * (probe, candidate) pair in a tight loop emitting only each probe's
    * per-list top-k. The final cross-list window then ranks nprobe·k
    * rows per probe instead of nprobe·n/nlist. Identical output (AnnSpec
    * pins it row for row against the windowed shapes): same arithmetic,
    * same (cos DESC, c_id ASC) total order, self-pairs skipped.
    *
    * `probeGroups` splits each list's probe array into hash buckets so
    * one (list, group) row stays ~bounded regardless of corpus size
    * (probes-per-list grows as n·nprobe/nlist ~ nprobe·sqrt(n)):
    * candidates replicate per group — the small side of that trade —
    * and results are unaffected (every (probe, list) pair still scored
    * exactly once).
    */
  private def rerankGrouped(lists: DataFrame, probeLists: DataFrame, k: Int,
                            probeGroups: Int): DataFrame = {
    val cArr = lists
      .select(col("list_id"), struct(col("vec_id"), col("embedding"),
        col("norm")).as("c"))
      .groupBy(col("list_id")).agg(collect_list(col("c")).as("cands"))
    val pArr = probeLists
      .select(col("list_id"),
        pmod(hash(col("p_id")), lit(probeGroups)).as("_pg"),
        struct(col("p_id"), col("p_emb"), col("p_norm")).as("p"))
      .groupBy(col("list_id"), col("_pg"))
      .agg(collect_list(col("p")).as("probes"))
    val wRank = Window.partitionBy(col("p_id")).orderBy(col("cos").desc, col("c_id").asc)
    pArr.join(cArr, Seq("list_id"))
      .select(org.apache.spark.sql.graftext.AnnExprs
        .listTopKCosine(col("probes"), col("cands"), k)
        .as(Seq("p_id", "c_id", "cos")))
      .withColumn("rn", row_number().over(wRank).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("p_id"), col("rn"), col("c_id"), col("cos"))
  }

  private val FpCols = Seq("fp0", "fp1", "fp2", "fp3")

  /** The exact kNN join's rerank inputs: the live inverted lists, and every
    * live vector as a probe (p_id, p_emb, p_norm) assigned to its nprobe
    * nearest lists. Shared with the specs' windowed reference shapes so
    * they rerank exactly the pairs [[annJoin]] does.
    */
  private[graft] def joinAssignments(s: SparkSession, index: AnnIndex, nprobe: Int,
                                     wSup: Int = WSup): (DataFrame, DataFrame) = {
    val centers = s.read.schema(centroidsSchema).parquet(index.centroidsPath)
    val supers = s.read.schema(supersSchema).parquet(index.supersPath)
    val lists = liveLists(s, index)
    val probes = lists.select(col("vec_id").as("p_id"),
      col("embedding").as("p_emb"), col("norm").as("p_norm"))
    (lists, probeAssignments(centers, supers, probes, nprobe, wSup))
  }

  /** Approximate kNN JOIN: top-k neighbors for EVERY vector, from the
    * persisted IVF index — the unbounded generalization of [[ivfTopK]]
    * (whose probe set is bounded and therefore broadcastable). Here BOTH
    * sides scale with the corpus, so the probe-lists assignment joins the
    * inverted lists as a plain shuffled equi-join on list_id — no
    * broadcast — and every per-probe limit is a WindowGroupLimit; the
    * exact rerank is always [[rerankGrouped]].
    *
    * `coarseK` selects between two rerank shapes — MEASURED round 5, see
    * BASELINE.md:
    *
    *   - coarseK = 0 (DEFAULT): single-stage exact rerank — every
    *     list-pruned candidate pays one dim-wide float dot computed BELOW
    *     the rank exchange. 9.6 s at sf1 (back-to-back controlled run).
    *   - coarseK > 0: two-stage "PQ-style" candidate filter (SURVEY
    *     §7.4b's lever): rank candidates by hamming distance between the
    *     persisted 192-bit sign sketches (4 xor+bit_count long ops/pair,
    *     no embedding arrays in the join — the scan reads 5 longs/row),
    *     keep the best coarseK per probe, then fetch embeddings for the
    *     survivors only (two shuffled equi-joins, O(coarseK*n) rows) and
    *     rank by exact cosine. 21.8 s at sf1 at coarseK=64, recall
    *     0.85 vs 0.87 exact.
    *
    * The coarse filter LOSES at dim 64 — the experiment's negative
    * result, kept as an option with the numbers: both shapes push the
    * same ~n*nprobe*sqrt(n) candidate rows through the per-probe
    * WindowGroupLimit, so the rerank is ROW-handling-bound, not
    * dot-bound; a 64-FMA dot below the exchange costs less than the
    * coarse stage's two extra survivor joins. The sketch stage's scan,
    * shuffle, and per-pair advantages only dominate when the vector is
    * wide (dim >= ~512: a 3 KB array per row vs 32 B of sketch).
    *
    * Round-6 dim-512 measurement (BASELINE.md): the wall crossover is
    * real (coarse 1.7x FASTER at dim 512, 39 s vs 59-71 s at sf1) — but
    * fidelity gates the flip. On a near-random-geometry corpus the
    * neighbor margins (a few degrees of angle at dim 512) sit below the
    * 192-bit sketch's ~6.5 deg hamming resolution and top-3 agreement
    * collapsed to 0.15. Flip coarseK on only when the corpus ALSO has
    * true near-neighbor structure (neighbors at cos >= ~0.95 vs
    * background < ~0.8 — real semantic-duplicate corpora); otherwise
    * stay exact regardless of dim. Widening the persisted sketch
    * (fp0-fp3 -> 8x48 bits) is the knob between regimes.
    *
    * Cost model (either shape): per probe the candidates are ~
    * nprobe/nlist of the corpus; at scale nlist grows ~sqrt(n) (nprobe
    * fixed), putting total pair work at ~ nprobe * n^1.5 — the standard
    * IVF operating point. Parallelism of the list_id join equals nlist
    * (thousands at real scale; AQE splits any skewed hot list locally).
    */
  def annJoin(s: SparkSession, d: String, nprobe: Int = DefaultNprobe, k: Int = 3,
              coarseK: Int = 0, nlist: Int = 0, wSup: Int = WSup): DataFrame = {
    val index = ensureIndex(s, d, nlist)
    if (coarseK <= 0) {
      // single-stage exact path: every list-pruned candidate pays one
      // exact dot inside the grouped rerank
      val (lists, assignments) = joinAssignments(s, index, nprobe, wSup)
      val n = indexSize(s, index)
      val nlistEff = if (nlist > 0) nlist
        else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      // Bound one (list, probe-group) row: probes-per-list grows as
      // nprobe·sqrt(n), so split past ~8k probes per group (~2 MB of
      // probe structs at dim 64). sf fixtures stay at 1 group.
      val probesPerList = n.toDouble * nprobe / nlistEff
      val groups = math.max(1, math.ceil(probesPerList / 8192.0).toInt)
      return rerankGrouped(lists, assignments, k, groups)
    }
    val centers = s.read.schema(centroidsSchema).parquet(index.centroidsPath)
    val supers = s.read.schema(supersSchema).parquet(index.supersPath)
    val lists = liveLists(s, index)
    val probes = lists.select(col("vec_id").as("p_id") +: col("embedding").as("p_emb")
      +: FpCols.map(f => col(f).as(s"p_$f")): _*)
    // COARSE: sketch-hamming top-coarseK per probe; no arrays in the join
    // (column pruning keeps the scan at 5 longs/row on the candidate side).
    val ham = FpCols.map(f => bit_count(col(s"p_$f").bitwiseXOR(col(s"c_$f"))))
      .reduce(_ + _)
    val wCoarse = Window.partitionBy(col("p_id"))
      .orderBy(col("ham").asc, col("c_id").asc)
    val survivors = lists
      .select(col("vec_id").as("c_id") +: col("list_id")
        +: FpCols.map(f => col(f).as(s"c_$f")): _*)
      .join(probeAssignments(centers, supers, probes, nprobe, wSup)
          .select(col("p_id") +: col("list_id") +: FpCols.map(f => col(s"p_$f")): _*),
        Seq("list_id"))
      .filter(col("p_id") =!= col("c_id"))
      .select(col("p_id"), col("c_id"), ham.as("ham"))
      .withColumn("cr", row_number().over(wCoarse))
      .filter(col("cr") <= coarseK)
      .select(col("p_id"), col("c_id"))
    // EXACT: embeddings rejoin for the coarseK survivors only; exact dots
    // per probe drop from ~nprobe*n/nlist to coarseK.
    val pSide = lists.select(col("vec_id").as("p_id"),
      col("embedding").as("p_emb"), col("norm").as("p_norm"))
    val cSide = lists.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("norm").as("c_norm"))
    val wRank = Window.partitionBy(col("p_id")).orderBy(col("cos").desc, col("c_id").asc)
    survivors
      .join(pSide, Seq("p_id"))
      .join(cSide, Seq("c_id"))
      .select(col("p_id"), col("c_id"),
        (fdot(col("p_emb"), col("c_emb")) / (col("p_norm") * col("c_norm"))).as("cos"))
      .withColumn("rn", row_number().over(wRank).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("p_id"), col("rn"), col("c_id"), col("cos"))
  }

  private val pqcodesSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("codes", LongType),
    StructField("norm", DoubleType),
    StructField("list_id", IntegerType)))

  /** RESIDUAL codebook of a persisted index — classic IVF-PQ (Jégou et
    * al.'s IVFADC): the PQ subspace fits train on (v − list centroid),
    * not on raw vectors. Within one inverted list the coarse quantizer
    * has already absorbed the global structure, so the residual's
    * per-subspace variance is what the codebook actually needs to span —
    * when list-local variance ≪ global variance this is a strictly easier
    * quantization problem and ADC ranks survivors measurably better
    * (r15 verdict missing #3; recall gate raised 0.6 → 0.7 in AnnSpec).
    * Persisted INSIDE the index dir (whose name carries corpus
    * fingerprint + format version), so staleness rides the index's own
    * lifecycle; the fit is one extra broadcast join over the same lists
    * pass the raw fit made.
    */
  private def ensureResidualCodebook(s: SparkSession, index: AnnIndex,
                                     numSub: Int, k: Int): Pq.Codebook = {
    val indexDir = java.nio.file.Paths.get(index.listsPath).getParent
    val centers = s.read.schema(centroidsSchema).parquet(index.centroidsPath)
    val d = centers.select(size(col("center_f"))).head().getInt(0)
    Pq.ensureCodebookAt(indexDir.resolve(s"pq-rescb-${numSub}x$k.bin"),
      indexDir.toString, numSub, k, d) {
      s.read.schema(listsSchema).parquet(index.listsPath)
        .join(broadcast(centers.select(col("list_id"), col("center_f"))),
          Seq("list_id"))
        .select(residual(col("embedding"), col("center_f")).as("embedding"))
    }
  }

  /** v − c, elementwise on float arrays (the residual the codebook above
    * trains on and [[ensurePqCodes]] encodes). zip_with is interpreted
    * (CodegenFallback), which is fine HERE: residuals exist only in the
    * offline build passes — the online ADC path never materializes one
    * (PqAsymDot scores codes directly and the centroid dot is added back
    * per assignment row).
    */
  private def residual(v: Column, c: Column): Column =
    zip_with(v, c, (a, b) => a - b)

  /** PQ-codes sidecar of a persisted index — the IVF×PQ composition's
    * storage half: (vec_id, packed RESIDUAL codes, norm) PARTITIONED BY
    * list_id, 20 B/row where the full list row carries a d*4-byte
    * embedding array. Codes quantize (v − list centroid) against the
    * residual codebook — decode(codes) + centroid ≈ v, so the query side
    * recovers <q, v> as <q, centroid> + <q, decode(codes)> with the
    * centroid term computed once per (probe, list) assignment row.
    * Built lazily (one encode pass + a broadcast centroid join over the
    * lists parquet) the first time an ADC query needs it; lives inside
    * the fingerprinted index dir, so corpus staleness rides the index's
    * own lifecycle, and a row-count mismatch against the lists (an append
    * landed since the sidecar was built) triggers a rebuild — both counts
    * are parquet footer metadata, no data read.
    */
  private def ensurePqCodes(s: SparkSession, index: AnnIndex,
                            cb: Pq.Codebook): String = {
    // Geometry in the dir name: a codebook regime change (k=16 vs k=256)
    // can never serve the other regime's codes through the count check.
    // `pqcodes-r`: residual codes are not interchangeable with the r15
    // raw-vector sidecars — the rename retires those wholesale.
    val path = java.nio.file.Paths.get(index.listsPath)
      .getParent.resolve(s"pqcodes-r-${cb.numSub}x${cb.k}").toString
    val fresh = new java.io.File(s"$path/_SUCCESS").exists() &&
      s.read.schema(pqcodesSchema).parquet(path).count() == indexSize(s, index)
    if (!fresh) {
      val centers = s.read.schema(centroidsSchema).parquet(index.centroidsPath)
      s.read.schema(listsSchema).parquet(index.listsPath)
        .join(broadcast(centers.select(col("list_id"), col("center_f"))),
          Seq("list_id"))
        .select(col("vec_id"),
          cb.encode(residual(col("embedding"), col("center_f"))).as("codes"),
          col("norm"), col("list_id"))
        .repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(path)
    }
    path
  }

  /** IVF×PQ approximate kNN JOIN — the billion-vector byte-budget
    * composition (r14 verdict #3): ADC scoring over PACKED RESIDUAL
    * CODES within the probed inverted lists (classic IVFADC, r16 —
    * codes quantize v − centroid and the query adds <q, centroid> back
    * per assignment row, see [[ensureResidualCodebook]]), exact-cosine
    * rerank of the adcK survivors. Identical probe assignment and output
    * contract to [[annJoin]]; what changes is the candidate side of the
    * pair blowup:
    * 20 B of (code, norm) per row instead of the d*4-byte embedding
    * array, so the list_id join's scan/shuffle bytes shrink ~10× at
    * dim 64 (~100× at dim 1024) while per-pair FLOPs stay equal
    * ([[org.apache.spark.sql.graftext.PqAsymDot]] — deliberately LUT-free:
    * a per-probe LUT column would replicate numSub*k doubles per
    * assignment row, dwarfing the vector it replaces).
    *
    * The trade, measured honestly (BASELINE round-15): the survivors'
    * exact stage re-joins both embedding sides at n*adcK rows — the same
    * two-extra-joins tax the coarseK sketch path pays. At dim 64 the
    * rerank is row-handling-bound, so the narrow candidate rows must buy
    * more than those joins cost for this to win on wall; fidelity is the
    * sure gain — ADC ranks by actual (quantized) geometry where the
    * 192-bit sign sketch collapsed on near-random corpora (r6).
    */
  def annJoinPq(s: SparkSession, d: String, nprobe: Int = DefaultNprobe,
                k: Int = 3, adcK: Int = 64, nlist: Int = 0,
                wSup: Int = WSup): DataFrame = {
    val index = ensureIndex(s, d, nlist)
    // Production 8-bit sub-codes (k=256, still one packed long) whenever
    // the corpus can support the fit: the 4-bit geometry's quantization
    // error swamps near-random neighbor margins exactly like the sign
    // sketch did (measured: top-1-in-top-3 0.22 at k=16/adcK=16 vs the
    // 0.6 gate at k=256/adcK=64 on the 20k sf1-density corpus). Tiny
    // corpora keep k=16 — a 256-means subspace fit over 500 vectors
    // memorizes the data.
    val kCb = if (indexSize(s, index) >= 4096) 256 else 16
    val cb = ensureResidualCodebook(s, index, numSub = 8, k = kCb)
    val codesPath = ensurePqCodes(s, index, cb)
    val centers = s.read.schema(centroidsSchema).parquet(index.centroidsPath)
    val supers = s.read.schema(supersSchema).parquet(index.supersPath)
    val lists = liveLists(s, index)
    val codes0 = s.read.schema(pqcodesSchema).parquet(codesPath)
    val codes =
      if (!new java.io.File(index.tombstonesPath).isDirectory) codes0
      else codes0.join(
        s.read.schema(tombstonesSchema).parquet(index.tombstonesPath),
        Seq("vec_id"), "left_anti")
    val probes = lists.select(col("vec_id").as("p_id"),
      col("embedding").as("p_emb"), col("norm").as("p_norm"))
    // Residual decomposition: <p, v> ≈ <p, centroid(list)> + <p, decode(codes)>.
    // The centroid term attaches to the ASSIGNMENT rows (one broadcast
    // join + one d-FMA dot per (probe, list) pair — nprobe rows per probe,
    // not per candidate), so the per-candidate cost stays PqAsymDot alone.
    val assignments = probeAssignments(centers, supers, probes, nprobe, wSup)
      .join(broadcast(centers.select(col("list_id"), col("center_f"))),
        Seq("list_id"))
      .withColumn("cdot", fdot(col("p_emb"), col("center_f")))
      .drop("center_f")
    // r16: the ADC stage runs the same grouped streaming-top-k shape as
    // rerankGrouped (see its scaladoc) — the pair join + per-task sort
    // under the adcK WindowGroupLimit materialized the SAME
    // n·nprobe·n/nlist pair volume as the exact path; here
    // [[org.apache.spark.sql.graftext.ListTopKAdc]] scores packed codes
    // per (probe, list) in one loop (PqAsymDot arithmetic verbatim,
    // cdot on the probe struct) and emits only per-list top-adcK, so
    // the cross-list window ranks nprobe·adcK rows per probe.
    val n = indexSize(s, index)
    val nlistEff = if (nlist > 0) nlist
      else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val adcGroups = math.max(1,
      math.ceil(n.toDouble * nprobe / nlistEff / 8192.0).toInt)
    val pGrp = assignments
      .select(col("list_id"),
        pmod(hash(col("p_id")), lit(adcGroups)).as("_pg"),
        struct(col("p_id"), col("p_emb"), col("p_norm"), col("cdot")).as("p"))
      .groupBy(col("list_id"), col("_pg"))
      .agg(collect_list(col("p")).as("probes"))
    val cGrp = codes
      .select(col("list_id"),
        struct(col("vec_id"), col("codes"), col("norm")).as("c"))
      .groupBy(col("list_id")).agg(collect_list(col("c")).as("cands"))
    val wAdc = Window.partitionBy(col("p_id"))
      .orderBy(col("adc").desc, col("c_id").asc)
    val survivors = pGrp.join(cGrp, Seq("list_id"))
      .select(org.apache.spark.sql.graftext.AnnExprs
        .listTopKAdc(col("probes"), col("cands"), adcK,
          cb.subDim, cb.numSub, cb.k, cb.flat.toSeq)
        .as(Seq("p_id", "c_id", "adc")))
      .withColumn("cr", row_number().over(wAdc))
      .filter(col("cr") <= adcK)
      .select(col("p_id"), col("c_id"))
    // EXACT: embeddings rejoin for the adcK survivors only.
    val pSide = lists.select(col("vec_id").as("p_id"),
      col("embedding").as("p_emb"), col("norm").as("p_norm"))
    val cSide = lists.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("norm").as("c_norm"))
    val wRank = Window.partitionBy(col("p_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    survivors
      .join(pSide, Seq("p_id"))
      .join(cSide, Seq("c_id"))
      .select(col("p_id"), col("c_id"),
        (fdot(col("p_emb"), col("c_emb")) / (col("p_norm") * col("c_norm"))).as("cos"))
      .withColumn("rn", row_number().over(wRank).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("p_id"), col("rn"), col("c_id"), col("cos"))
  }

  /** Sign-LSH geometry: 96 deterministic pseudo-random hyperplanes (no RNG,
    * no fitting; splitmix64-finalized coordinates — a bare golden-ratio
    * multiply leaves adjacent planes correlated, measured corr ≈ 1.0 at
    * dim 89/144), banded 8 x 12 bits. Two vectors at cosine >= 0.95
    * (angle <= 18.2°) disagree on each sign bit with p = angle/pi ≈ 0.10.
    * Plane generation + the 96 sign dots live in the codegen'd
    * graftext.SignBands expression (a Column-built formulation was a
    * ~6k-literal tree costing seconds of analysis/codegen per query).
    */
  private val Bands = 8
  private val BandBits = 12

  /** Band geometry that tracks corpus size. With FIXED 12-bit bands the
    * per-band bucket count is 4096, so bucket occupancy — and candidate
    * pair volume, ~bands·n²/2^bits — grows QUADRATICALLY once n outgrows
    * the bucket space: measured 3.2 s at sf10 (200 k vecs) but 77.3 s at
    * sf100 (2 M vecs), ×24 for ×10 data (BASELINE round-6 sf100 table).
    * Fix: bits grows with log2(n/64) (target ~64 vectors per bucket), and
    * bands grows to hold the design recall fixed — a cos-0.95 pair agrees
    * on a k-bit band with p = 0.9^k, so bands = ln(miss0)/ln(1-0.9^k)
    * where miss0 = (1-0.9^12)^8 is the 8×12 design point's miss
    * probability (P(detect) ≈ 0.930). At n <= ~260 k this returns exactly
    * (8, 12) — small-corpus behavior (and every existing spec fixture) is
    * unchanged. (2 M -> (12, 15); 1 G -> (32, 24).)
    */
  def bandGeometry(n: Long): (Int, Int) = {
    val bits = math.max(BandBits,
      math.ceil(math.log(math.max(n, 1L) / 64.0) / math.log(2.0)).toInt)
    val pBand = math.pow(0.9, bits)
    val designMiss = math.pow(1.0 - math.pow(0.9, BandBits), Bands)
    val bands = math.max(Bands,
      math.ceil(math.log(designMiss) / math.log1p(-pBand) - 1e-9).toInt)
    (bands, bits)
  }

  /** Embedding-cosine near-duplicate assignment: one row per vector with
    * the smallest vec_id whose cosine similarity is >= tau, or itself.
    * Bucketed by random-hyperplane sign-LSH, 96 sign bits banded 8x12:
    * a pair within 18° (cos 0.95) agrees on a 12-bit band with
    * p ≈ 0.9^12 ≈ 0.28, so on >= 1 of 8 bands with p ≈ 0.93 (0.99 at
    * cos 0.98; exact duplicates always collide), while random pairs share
    * a 4096-value bucket rarely — pair work ≈ 8·n²/4096. NO index fit at
    * all (the KMeans-IVF route costs a full clustering fit just to bucket).
    *
    * The embeddings + norms ride ON the band rows and the exact-cosine
    * verification runs INLINE in the band join: the round-2 shape
    * (distinct pair ids first, then join embeddings per pair) shipped two
    * embedding copies per CANDIDATE PAIR — tens of GB of array shuffle at
    * 60 k vectors (measured 170 s at sf3) vs ~100 MB/side for 8 band rows
    * per VECTOR here. A hot pair sharing k bands is verified k times; the
    * final min() absorbs the duplicates — redundant dot products on
    * near-dups are far cheaper than a distinct() + per-pair array joins.
    *
    * `dim` is taken on faith from the caller and VERIFIED INSIDE the
    * pipeline (the band branch raises on the first mismatched row):
    * FloatDot's min-length semantics would otherwise silently bucket wider
    * vectors on a prefix projection (missed duplicates with no error).
    * Constructing this query runs zero Spark jobs (round 2 ran a
    * plan-time head() here — a job per construction, executed or not) —
    * with the default `corpusSize = 0`, which keeps the static 8×12
    * geometry. Pass the corpus size (or use [[cosineDupAssignmentsAuto]])
    * to size the band space to n; see [[bandGeometry]] for why fixed
    * buckets go quadratic at crawl scale.
    */
  def cosineDupAssignments(emb: DataFrame, tau: Double = 0.95,
                           dim: Int = graft.Tables.EmbeddingDim,
                           corpusSize: Long = 0L): DataFrame = {
    val (bands, bandBits) =
      if (corpusSize > 0L) bandGeometry(corpusSize) else (Bands, BandBits)
    val fdot = org.apache.spark.sql.graftext.VectorExprs.fdotNative _
    val bandArr = org.apache.spark.sql.graftext.VectorExprs
      .signBands(col("embedding"), dim, bands, bandBits)
    val checked = when(size(col("embedding")) === dim, bandArr)
      .otherwise(raise_error(concat(
        lit(s"cosineDupAssignments: expected $dim-dim embeddings, got "),
        size(col("embedding")).cast("string"))))
    val rows = emb.select(col("vec_id"), col("embedding"),
      sqrt(fdot(col("embedding"), col("embedding"))).as("norm"),
      posexplode(checked).as(Seq("band", "bv")))
      .select(col("vec_id"), col("embedding"), col("norm"), col("band"), col("bv"))
    val dups = rows.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("norm").as("a_norm"), col("band"), col("bv"))
      .join(rows.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm"), col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("a_id") < col("b_id"))
      // norm > 0 guards: a zero vector yields 0/0 = NaN and Spark compares
      // NaN as LARGER than any double, so NaN >= tau would be TRUE.
      .filter(col("a_norm") > 0.0 && col("b_norm") > 0.0 &&
        fdot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")) >= tau)
      .groupBy(col("b_id")).agg(min(col("a_id")).as("cand"))
    emb.select(col("vec_id"))
      .join(dups.select(col("b_id").as("vec_id"), col("cand")), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), coalesce(col("cand"), col("vec_id")).as("dup_of"))
      .withColumn("is_dup", (col("dup_of") =!= col("vec_id")).cast(LongType))
  }

  /** [[cosineDupAssignments]] with band geometry sized from ONE count of
    * the corpus (a cheap columnless job) — the registered
    * dedup_embedding_cosine path. Explicit-geometry callers keep the
    * zero-jobs-at-construction contract; auto mode trades a single count
    * for bucket space that tracks n (measured at sf100: 77.3 s -> see
    * BASELINE round-6 sf100 section).
    */
  def cosineDupAssignmentsAuto(emb: DataFrame, tau: Double = 0.95,
                               dim: Int = graft.Tables.EmbeddingDim): DataFrame =
    cosineDupAssignments(emb, tau, dim, corpusSize = emb.count())
}
