package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components by iterated min-label propagation with
  * pointer jumping — the piece that turns one-hop dedup ASSIGNMENTS into
  * transitive dedup CLUSTERS (a chain A~B~C where A≁C must still collapse
  * to one canonical id).
  *
  * Each pass is two bounded steps, both plain shuffled joins/aggregations:
  *   1. edge propagation: label(x) <- min(label(x), min over neighbors of
  *      label(n)) — the step that actually merges components (a min-parent
  *      FOREST alone under-merges: with edges 1-3, 2-4, 3-4 node 4 keeps
  *      parent 2 and the {1,3} / {2,4} trees never join).
  *   2. pointer jumping: label(x) <- label(label(x)) — halves the remaining
  *      chain depth, so convergence is O(log diameter) passes, not
  *      O(diameter).
  *
  * Iteration is driver-CONTROLLED but not driver-COMPUTED: the only action
  * per pass is the changed-row count for early exit (the same shape as an
  * MLlib iteration), and each pass's labels are persisted so lineage stays
  * bounded. maxPasses bounds worst-case work. The bound must cover the
  * min-label propagation depth, which pointer jumping accelerates but does
  * NOT reduce to log(diameter) in general: a 60-node/45-edge random-graph
  * fixture (MinHashSpec) genuinely needs more than 5 rounds, so the
  * default is 10 (early exit makes the higher bound free on converged
  * inputs). If the bound is ever hit un-converged the labels are still a
  * valid PARTIAL merge (every label is some component member's id,
  * monotonically improved from the one-hop artifact).
  */
object Components {

  /** (id, label) per node, label = min node id reachable in the undirected
    * edge graph (within the pass bound). `nodes` must have `idCol`; `edges`
    * must have a_id/b_id (any orientation, self-loops and duplicates fine).
    *
    * `checkpointDir`: None (default) = localCheckpoint — fastest, executor
    * loss loses partitions; right for short local/interactive runs. Some(dir)
    * = RELIABLE checkpoint() to that directory (HDFS/object store on a
    * cluster) at the same three truncation sites — the mode a multi-hour
    * 100 TB dedup job runs in, where recomputing a lost lineage-truncated
    * partition is impossible and a re-run from pass 0 unacceptable.
    *
    * `initLabels`: restart seed for DRIVER-death recovery (reliable
    * checkpoints cover executor loss within a run; they are not readable
    * across drivers through any public API). A long job persists `labels`
    * to parquet after each pass; on restart, pass the last committed
    * labels frame here and propagation continues from that state instead
    * of pass 0. Sound because min-label propagation is monotone and
    * order-free: any frame where each label is a reachable node's id and
    * label <= id (true of every pass's output, converged or not) converges
    * to the same fixpoint as a fresh run — asserted in MinHashSpec.
    */
  def minLabel(nodes: DataFrame, edges: DataFrame, idCol: String,
               maxPasses: Int = 10,
               checkpointDir: Option[String] = None,
               initLabels: Option[DataFrame] = None): DataFrame = {
    // Checkpoint (eager), NOT persist: an iterative loop over persisted
    // frames caches the DATA but the logical plan still nests one level per
    // pass, and Catalyst re-analyzes the ever-growing plan each iteration —
    // measured pass times of 1.8 s / 3.8 s / 13.2 s at sf0.001 (500 docs).
    // Truncating lineage per pass (the same reason MLlib checkpoints its
    // iterations) makes every pass plan O(1): edges + two small joins.
    // Checkpointing the edges also strips the entire upstream pipeline
    // (banding + window + verify joins) from the per-pass plans.
    checkpointDir.foreach(nodes.sparkSession.sparkContext.setCheckpointDir)
    def cp(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    val sym = cp(edges.select(col("a_id"), col("b_id"))
      .union(edges.select(col("b_id").as("a_id"), col("a_id").as("b_id"))))
    var labels = cp(initLabels.map(_.select(col("id"), col("label")))
      .getOrElse(nodes.select(col(idCol).as("id"), col(idCol).as("label"))))
    // One propagate+jump round as a plain plan transform (no action).
    def round(l: DataFrame): DataFrame = {
      val nbrMin = sym
        .join(l.select(col("id").as("b_id"), col("label").as("b_lab")), Seq("b_id"))
        .groupBy(col("a_id")).agg(min(col("b_lab")).as("nmin"))
        .select(col("a_id").as("id"), col("nmin"))
      val prop = l.join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // Pointer jump. Every label is a node id (labels start as ids and only
      // min over ids), so the lookup always resolves; left_outer + coalesce
      // is belt-and-braces, not a semantic choice.
      val mapping = prop.select(col("id").as("l_id"), col("label").as("l_lab"))
      prop.as("p")
        .join(mapping, col("p.label") === col("l_id"), "left_outer")
        .select(col("p.id").as("id"),
          coalesce(col("l_lab"), col("p.label")).as("label"))
    }
    // Pass shuffles carry the (already LSH-bounded) edge list + node-sized
    // labels — size them from that STATE, not the session's
    // input-proportional auto-sizing (the iterative-operator policy; see
    // Sessions.iterShufflePartitions and the pagerank sf100 A/B). The
    // count is a cheap scan of the just-checkpointed blocks.
    val spark = nodes.sparkSession
    val passParts = graft.Sessions.iterShufflePartitions(
      sym.count(), spark.sparkContext.defaultParallelism)
    graft.Sessions.withShufflePartitions(spark, passParts) {
      var pass = 0
      var converged = false
      while (pass < maxPasses && !converged) {
        // TWO rounds composed into one checkpointed job (the plan is still
        // O(1) — two copies of the round subtree over checkpointed inputs),
        // and the previous label rides along so the convergence count below
        // is a filter over the just-materialized cache, not a join job.
        // Locally this measures neutral (the edge pipeline dominates); the
        // point is the halved job/barrier count on a real cluster, where
        // every job pays scheduling + stage-commit latency.
        val rounds = math.min(2, maxPasses - pass)
        val stepped = if (rounds == 2) round(round(labels)) else round(labels)
        val next = cp(stepped
          .join(labels.select(col("id"), col("label").as("prev")), Seq("id")))
        val changed = next.filter(col("label") =!= col("prev")).count()
        labels = next.select(col("id"), col("label"))
        converged = changed == 0
        pass += rounds
      }
      labels
    }
  }

  /** Alternating large-star / small-star connected components — the
    * published MapReduce CC algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014). Same output contract
    * as [[minLabel]] ((id, label), label = component min); different cost
    * shape: instead of carrying the FULL edge set through every pass plus
    * a label table and a pointer-jump join, each pass REWRITES the edge
    * set toward stars centered at component minima, so the working set
    * SHRINKS as components collapse and the converged state needs no
    * label-join at all (a star edge u>c IS the assignment u -> c).
    *
    *   - large-star: every neighbor v > u links to min(N(u) ∪ {u}) —
    *     computed from the symmetrized edge list as one per-u window min.
    *   - small-star: with edges held canonically u > v, every smaller
    *     neighbor (and u itself) links to min(N_<=(u)) — one per-u window
    *     min on the halved list.
    *
    * A window, not an aggregate joined back to its own input: at small
    * scale both join sides fit a broadcast, and AQE broadcast whichever
    * side's stage finished first, so the same pass planned BuildLeft on
    * one call and BuildRight on the next and every flip recompiled its
    * stages (CodegenReuseSpec saw 13–22 classes per warm dedup_clusters
    * call). A window has no build side to choose.
    *
    * Both steps provably preserve connectivity and converge to min-rooted
    * stars in O(log^2 n) rounds (O(log n) in practice on short-diameter
    * dedup graphs). Convergence detection: the canonical edge multiset's
    * (count, hash-sum) checksum is stable across one large+small round —
    * the same single-action-per-pass shape as minLabel's changed-count.
    *
    * Checkpointing contract is minLabel's: localCheckpoint by default,
    * reliable checkpoints to `checkpointDir` for cluster runs.
    * Equivalence with minLabel is spec-gated (MinHashSpec) on the
    * under-merge and path-graph fixtures plus a seeded random graph.
    */
  /** `edgesPreCanonical`: the caller guarantees `edges` is already a
    * DISTINCT, self-loop-free set of unordered pairs (each pair present in
    * exactly one orientation) — e.g. MinHash.verifiedEdges' (a_id < b_id,
    * deduped) contract. The initial canonicalization then skips its
    * distinct (one full edge-sized exchange + dedup saved before pass 1);
    * per-pass canon() keeps its distinct — it is what shrinks the set.
    */
  def altStar(nodes: DataFrame, edges: DataFrame, idCol: String,
              maxPasses: Int = 10,
              checkpointDir: Option[String] = None,
              edgesPreCanonical: Boolean = false): DataFrame = {
    val t0 = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"[altstar] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    checkpointDir.foreach(nodes.sparkSession.sparkContext.setCheckpointDir)
    def cp(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // Canonical undirected form: u > v, no self-loops, deduped. distinct()
    // per pass is load-bearing — it is what makes the working set shrink
    // instead of accumulating parallel edges.
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // (count, xor-of-hashes): order-independent, overflow-free (a SUM of
    // hashes trips ANSI long overflow), and exact as a SET checksum since
    // canon() dedupes. r17: the checksum rides the checkpoint job as an
    // OBSERVED metric (CollectMetrics computes during the materializing
    // action), so each pass runs ONE action instead of checkpoint +
    // checksum — per pass that is one fewer job/barrier, at 100 TB one
    // fewer full cluster round-trip per pass.
    var obsId = 0
    def cpChecked(df: DataFrame): (DataFrame, (Long, Long)) = {
      obsId += 1
      val obs = org.apache.spark.sql.Observation(s"altstar-chk-$obsId")
      val out = cp(df.observe(obs, count(lit(1)).as("m"),
        expr("bit_xor(xxhash64(u, v))").as("x")))
      val row = obs.get
      val m = row("m").asInstanceOf[Long]
      val x = row("x") match { case v: Long => v; case _ => 0L } // null iff m == 0
      (out, (m, x))
    }
    var (e, prev) = cpChecked(
      if (edgesPreCanonical)
        edges.select(greatest(col("a_id"), col("b_id")).as("u"),
          least(col("a_id"), col("b_id")).as("v"))
      else canon(edges))
    mark(s"edges materialized + checksum (m=${prev._1})")
    // Iterative-operator pass partitioning: state = the (shrinking) edge
    // set, whose initial count the convergence checksum just computed for
    // free — not the session's input-proportional sizing.
    val spark = nodes.sparkSession
    val passParts = graft.Sessions.iterShufflePartitions(
      prev._1, spark.sparkContext.defaultParallelism)
    graft.Sessions.withShufflePartitions(spark, passParts) {
    val byU = Window.partitionBy(col("u"))
    var pass = 0
    var converged = prev._1 == 0
    while (pass < maxPasses && !converged) {
      // large-star over the symmetrized list: m(u) = min(N(u) ∪ {u});
      // every strictly-larger neighbor re-links to m(u).
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val large = canon(sym
        .withColumn("m", least(col("u"), min(col("v")).over(byU)))
        .filter(col("v") > col("u"))
        .select(col("v").as("a_id"), col("m").as("b_id")))
      // small-star on the canonical (u > v) list: every smaller neighbor
      // and u itself re-link to the smallest neighbor.
      val withMin = large.withColumn("m", min(col("v")).over(byU))
      val small = withMin.select(col("v").as("a_id"), col("m").as("b_id"))
        .union(withMin.select(col("u").as("a_id"), col("m").as("b_id")))
      val (e2, cur) = cpChecked(canon(small))
      e = e2
      converged = cur == prev
      prev = cur
      pass += 1
      mark(s"pass $pass done (m=${cur._1})")
    }
    }
    // Converged state: stars rooted at component minima — the edge (u, c)
    // IS the label assignment; isolated nodes label themselves. The
    // min-agg is belt-and-braces for the maxPasses-hit un-converged case
    // (labels are then a valid partial merge, same caveat as minLabel).
    val assign = e.groupBy(col("u").as("id")).agg(min(col("v")).as("lab"))
    mark("returning (assign frame is lazy)")
    nodes.select(col(idCol).as("id"))
      .join(assign, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("lab"), col("id")).as("label"))
  }
}
