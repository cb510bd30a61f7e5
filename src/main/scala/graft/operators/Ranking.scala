package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Integer-exact PageRank — the graph-centrality ranker a crawl/training
  * pipeline uses to prioritize domains (CommonCrawl publishes exactly
  * this family of scores per host). Second member of the iterative-graph
  * family next to Components (CC): where CC propagates a MIN label, this
  * propagates a WEIGHTED rank mass.
  *
  * Determinism is designed in, not hoped for: ranks are integer
  * micro-units (SCALE = 1e12 total mass), the damping factor is the
  * rational 17/20, and every per-edge contribution is the exact floor
  * `r * 17 div (20 * deg)` — no floating point anywhere, so the result
  * is bit-identical across partitionings, runs, and engines
  * (GraphRankSpec pins the whole iteration to a driver-side reference
  * loop in exact equality; §7.3 never allows cross-row FP accumulation).
  * Floor truncation plus dangling nodes shed mass (never create it):
  * total rank is monotonically <= SCALE, also spec-gated.
  *
  * Scale shape (the standard distributed PR): each pass is ONE shuffle —
  * ranks equi-join edges on src (rank table is node-sized, edge table
  * edge-sized, both hash-partitioned), contributions aggregate on dst
  * with map-side partial sums. Driver-controlled iteration actions with
  * lineage truncation every 3 passes (the Components/MLlib pattern —
  * driver CONTROLS passes, data never leaves executors).
  */
object Ranking {

  val Scale = 1000000000000L // 1e12 micro-units of total rank mass

  /** `edges`: (src: long, dst: long), directed, deduplicated by caller if
    * multiplicity is not meant as weight. 10 fixed iterations — rank
    * ordering stabilizes well before that on power-law graphs, and a
    * FIXED pass count keeps run-to-run plans identical (no data-dependent
    * convergence test needed for the registered query).
    */
  def pagerank(edgesIn: DataFrame, iters: Int = 10,
               broadcastCeiling: Long = 8000000L): DataFrame = {
    // Degrees are NODE-sized; edges are EDGE-sized — materialize only the
    // node-sized pieces. The sf100 forensics
    // (BENCH_sf100_r13_pagerank{320,64,128,320v2} disk traces): widening
    // every edge row with its deg costs an edge-sized exchange chain PLUS
    // edge-sized storage blocks, ~40 GB of SIMULTANEOUS build footprint —
    // every shuffle in the running build job is a live input no GC can
    // reclaim, the single-node disk killer the r12 chunk-4 cascade died
    // of. localCheckpoint (not cache) on the node-sized frames truncates
    // their build lineage so those shuffles free at the next GC cycle;
    // deg attaches per pass below, map-side.
    val outdeg = edgesIn.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // Node set WITH a has-in-edge flag: the flag rides the same union +
    // aggregate that built the distinct node set anyway (max() over 0/1 ≡
    // distinct on the node column), so the allReceive decision below reads
    // it from the node-sized cache instead of paying a SECOND full edge
    // scan + distinct shuffle (the previous shape's
    // `edgesIn.select(dst).distinct().count()`).
    val nodesFlagged = edgesIn.select(col("dst").as("node"), lit(1L).as("has_in"))
      .union(edgesIn.select(col("src").as("node"), lit(0L).as("has_in")))
      .groupBy(col("node")).agg(max(col("has_in")).as("has_in"))
      .localCheckpoint(true)
    // One cheap aggregate over the cached node table yields BOTH counts the
    // build needs (n, and how many nodes receive an edge).
    val cnts = nodesFlagged.agg(count(lit(1)), sum(col("has_in"))).head()
    val nReal = cnts.getLong(0)
    val n = math.max(1L, nReal)
    val nodes = nodesFlagged.select(col("node"))
    // When every node has an in-edge (true for any bidirectional graph,
    // e.g. the trade graph), the dst aggregation already covers the full
    // node set and the per-pass nodes-left-join is a redundant shuffle.
    // Dangling-capable graphs keep the join.
    val allReceive =
      nReal > 0 && (if (cnts.isNullAt(1)) 0L else cnts.getLong(1)) == nReal
    // Broadcast the rank table only while it is genuinely broadcast-sized
    // (~24 B/row; the default 8M-node ceiling ≈ 200 MB): beyond it, the
    // SAME plan runs as a co-partitioned shuffle join. n is already
    // counted above, so the flip costs nothing and the operator survives
    // node counts the driver could never hold. GraphRankSpec runs BOTH
    // paths on the same graph and asserts bit-identical ranks.
    val broadcastRanks = n <= broadcastCeiling
    // (1-d) * SCALE / N with d = 17/20, floored — every node's teleport base.
    val base = Scale * 3L / 20L / n
    // Pass shuffles carry NODE-sized state (ranks, contributions, the dst
    // aggregation), so size them from the node count — not the session's
    // input-proportional auto-sizing, which at sf100 sets 320 partitions
    // for a 16M-node graph and pays ~24% wall in scheduling + shuffle-file
    // overhead across 10 passes (BASELINE.md round-13/14 A/B). The BUILD
    // phase above (edge materialization, degree/node counts) already ran
    // under the caller's input-sized conf, which is the right model there.
    val spark = edgesIn.sparkSession
    val passParts = graft.Sessions.iterShufflePartitions(
      n, spark.sparkContext.defaultParallelism)
    graft.Sessions.withShufflePartitions(spark, passParts) {
    var ranks = nodes.select(col("node"), lit(Scale / n).as("r"))
    var pass = 0
    while (pass < iters) {
      // A node's per-edge contribution floor(r·17 / (20·deg)) depends
      // only on the SOURCE node, so compute it node-side — a node-sized
      // join of ranks onto outdeg — and ship ONE node-sized broadcast
      // per pass. Edges stay NARROW (src, dst): the per-pass work is a
      // rescan of the caller's materialized edge frame + one broadcast
      // hash probe + the map-combined dst aggregation. (The previous
      // shape broadcast BOTH deg and ranks per pass and carried deg on
      // every edge row — measured 128 s at sf10; this is the same
      // integer-exact arithmetic summed in a different order, which
      // GraphRankSpec pins bit-identical.) Past the broadcast ceiling
      // the same joins co-partition — the 1000-executor shape.
      // Below the broadcast ceiling, outdeg (node-sized, checkpointed) joins
      // as a broadcast build side: the contrib job then has ZERO exchanges —
      // the previous plain join shuffled BOTH node-sized sides every pass.
      // Past the ceiling both sides co-partition as before.
      val degSide = if (broadcastRanks) broadcast(outdeg) else outdeg
      val contrib = ranks
        .join(degSide, col("node") === col("src"))
        .select(col("src"),
          expr("(r * 17) div (20 * deg)").cast(LongType).as("contrib"))
      val cside = if (broadcastRanks) broadcast(contrib) else contrib
      val inflow = edgesIn
        .join(cside, "src")
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("inflow"))
      ranks =
        if (allReceive)
          inflow.select(col("dst").as("node"), (lit(base) + col("inflow")).as("r"))
        else nodes
          .join(inflow, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(base) + coalesce(col("inflow"), lit(0L))).as("r"))
      pass += 1
      // Checkpoint EVERY pass: the next pass's broadcast(ranks) executes
      // the rank lineage to collect it, so un-truncated passes re-run —
      // every-3 checkpointing re-executed 1+2+3 passes per block
      // (measured 22 s; every-pass is 13 s). A 16k-row localCheckpoint
      // costs ~nothing next to a re-run pass.
      ranks = ranks.localCheckpoint()
    }
    // Force the final pass while the materialized inputs are still live;
    // the returned frame reads the truncated lineage only, so the edge/
    // node blocks become unreachable on return and the ContextCleaner
    // reclaims them at the next GC cycle. (localCheckpoint() is EAGER —
    // callers that own scratch inputs may delete them once this returns.)
    ranks.localCheckpoint()
    }
  }

  /** The corpus graph: the bipartite customer↔supplier trade graph from
    * lineitem (who bought from whom), both directions so the walk mixes.
    * Suppliers live in their own id space via a 1e9 offset (custkey stays
    * far below it at every SF). Edges deduplicate to relationship edges —
    * order multiplicity is q_basket_pairs' axis, not centrality's.
    */
  /** Materialize an EDGE-SIZED loop invariant by parquet round-trip — the
    * checkpoint-to-storage idiom. Full lineage cut (the upstream
    * exchanges become garbage the moment the write finishes), columnar
    * compressed on disk (data-sized), vectorized rescans. The
    * alternatives both failed at sf100, measured: `cache()` pins the
    * build shuffles for the whole loop (r12 chunk-4 ENOSPC), and
    * `localCheckpoint` stores raw deserialized row objects — ~3× the
    * data size — which OOMs an 80 g heap unrolling 600 M rows
    * (BENCH_sf100_r13_pagerank320v3.err). Node-sized invariants keep
    * using localCheckpoint; this is for frames that scale with edges.
    */
  private[operators] def materialize(df: DataFrame, tag: String): DataFrame = {
    val dir = java.nio.file.Paths.get("target", "graft-scratch",
      s"pr-$tag-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.createDirectories(dir.getParent)
    df.write.parquet(dir.toString)
    Scratch.track(dir)
    df.sparkSession.read.parquet(dir.toString)
  }

  /** Sum of parquet bytes under `dir` — the same input-size signal
    * Sessions.autoShufflePartitions keys on, reused to pick the edge
    * materialization mode.
    */
  private def corpusBytes(dir: String): Long = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) return 0L
    val it = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .filter(q => q.getFileName.toString.endsWith(".parquet") &&
          Files.isRegularFile(q))
        .map(Files.size).sum
    } finally it.close()
  }

  /** Materialize an edge-sized loop invariant, mode picked from the INPUT
    * size (scale-adaptive, not a local-mode constant): small corpora keep
    * the frame as eager in-memory blocks (localCheckpoint — no parquet
    * write/read round-trip, and the 10 per-pass rescans read RAM); past
    * `memCeilingBytes` of corpus parquet the edge frame is data-sized
    * enough that deserialized row blocks (~3x the columnar footprint —
    * the r13 sf100 OOM forensics) are the wrong trade and the parquet
    * round-trip above is used. An A/B run forces either mode through
    * `memCeilingBytes` (`Long.MaxValue`: memory; `-1`: parquet).
    */
  private[operators] def materializeAdaptive(df: DataFrame, tag: String,
      dataDir: String, memCeilingBytes: Long = 1L << 30): DataFrame =
    if (corpusBytes(dataDir) <= memCeilingBytes) df.localCheckpoint(true)
    else materialize(df, tag)

  def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val rel = materializeAdaptive(lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), (col("l_suppkey") + 1000000000L).as("sup"))
      .distinct(), "rel", d)
    // Materialized ONCE. Without this, the union's two branches (and
    // pagerank's outdeg/per-pass consumers above them) each re-execute
    // the 600M-row lineitem⋈orders exchange + the 1.2B-row distinct —
    // the r13 sf100 spill trace showed 40+ GB of COMPLETED shuffle files
    // for a build whose data passes once at ~12 GB (projection-order
    // differences between the branches defeat Catalyst's ReusedExchange).
    rel.select(col("c").as("src"), col("sup").as("dst"))
      .union(rel.select(col("sup").as("src"), col("c").as("dst")))
  }

  /** Registered `q_graph_pagerank`: micro-unit ranks of every node in the
    * trade graph (suppliers dominate — each aggregates many customers'
    * mass; GraphRankSpec pins hub-over-leaf ordering).
    *
    * Scratch lifecycle: the edge parquet [[materialize]] wrote is consumed
    * only INSIDE [[pagerank]], whose terminal localCheckpoint is eager —
    * by the time it returns, the returned frame reads node-sized
    * checkpointed blocks exclusively, so the edge-sized scratch (~12 GB at
    * sf100, the r13 verdict's disk-debt leak) is deleted here, not left to
    * accumulate across invocations in one workspace.
    */
  def tradeRank(s: SparkSession, d: String): DataFrame = {
    // The BUILD runs at the worker floor too, not the input-proportional
    // auto-sizing: every build column is an 8-byte key (orderkey/custkey/
    // suppkey projections), so per-task sort spill is ~16 B × rows/parts —
    // ~300 MB/task at sf100's 600 M rows over 32 tasks, nowhere near the
    // wide-row spill class the auto-sizer protects against. The round-14
    // four-leg sf100 study (BASELINE round-14) found partition count moves
    // pagerank LESS than the box's run-to-run band (1,287–1,885 s for
    // identical logical work; the 1,287 record correlates with corpus
    // page-cache hotness, not config) — the floor is kept because it is
    // measured never-harmful, writes 10× fewer shuffle + parquet files
    // (32-file rel proof in the leg trace), and peak spill stays ≤22 GB.
    // Passes additionally derive their own node-sized count inside
    // pagerank (the iterative-operator policy — the lever that matters
    // when node count ≫ corpus-derived partitions).
    // Private session clone: the whole lifecycle (build + pass loop) plans
    // under the clone's SQLConf, so the pass-scoped shuffle-partition pins
    // here and inside pagerank can never leak into a concurrent query on
    // the host session (ADVICE r14 — the multi-tenant-driver hazard). The
    // clone runs without artifact isolation, so its tasks share the
    // executor class loader and reuse the codegen cache across calls
    // rather than recompiling every class under a fresh per-session loader.
    val s2 = graft.Sessions.cloned(s)
    graft.Sessions.withShufflePartitions(
      s2, s2.sparkContext.defaultParallelism) {
      Scratch.scoped {
        pagerank(tradeEdges(s2, d))
          .select(col("node"), col("r"))
          .orderBy(col("node").asc)
      }
    }
  }
}

/** Registry of edge-sized scratch-parquet directories the iterative
  * operators write ([[Ranking.materialize]]): every dir is tracked at
  * creation, released by the owning operator the moment its consuming
  * plan is forced, and — for abnormal exits — swept by a JVM shutdown
  * hook so a crashed run cannot strand ~data-sized directories in the
  * disk-constrained single-node regime (the r12 ENOSPC failure class).
  */
private[graft] object Scratch {
  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  // Per-thread stack of open scopes. Driver-side operator composition is
  // single-threaded per invocation (materialize runs on the invoking
  // thread), so a ThreadLocal ledger attributes every tracked dir to
  // exactly the invocation that created it — a CONCURRENT invocation on
  // another thread can never leak into (or lose dirs to) this one, which
  // the previous global set-difference idiom could (ADVICE r14: a racing
  // pagerank's edge parquet deleted under it mid-job).
  private val scopes = ThreadLocal.withInitial(() =>
    new java.util.ArrayDeque[java.util.HashSet[java.nio.file.Path]]())

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    live.forEach(deleteRec(_)); live.clear()
  }, "graft-scratch-sweeper"))

  def track(dir: java.nio.file.Path): Unit = {
    live.add(dir)
    Option(scopes.get().peek()).foreach(_.add(dir))
  }

  /** Run `body`, then release exactly the scratch dirs THIS thread's
    * `body` created (a dir registers in the innermost open scope only,
    * so nested scopes each clean their own creations).
    */
  def scoped[T](body: => T): T = {
    val mine = new java.util.HashSet[java.nio.file.Path]()
    scopes.get().push(mine)
    try body
    finally {
      scopes.get().pop()
      mine.forEach(release(_))
    }
  }

  def release(dir: java.nio.file.Path): Unit = {
    live.remove(dir)
    deleteRec(dir)
  }

  private def deleteRec(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      } finally walk.close()
    }
  }
}
