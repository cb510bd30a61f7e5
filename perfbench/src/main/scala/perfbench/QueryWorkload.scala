package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The llm_pipeline workload: a closed loop of registry queries with one
  * client. A cold pass checks every query's output digest; warm passes
  * then write each query into a noop sink.
  */
object QueryWorkload {
  /** Rows whose work is done by the graftext kernels and the iterative
    * Components operator. Rows that need a fitted ANN index, PQ codebook
    * or BPE vocabulary are left out: the fits cost ~35 s of fixed
    * per-iteration job overhead from empty, more than a whole run may
    * take. The traced run times the fits and the kernels they feed.
    */
  val Rows: Seq[String] = Seq(
    "dedup_minhash", "dedup_simhash", "dedup_clusters",
    "q_text_fingerprint", "q_text_bigrams", "ml_knn_cosine")

  def run(a: Main.Args): RunResult = {
    val r = new RunResult
    val cpus = Runtime.getRuntime.availableProcessors()
    val parts = graft.Sessions.autoShufflePartitions(a.data, cpus)
    val (spark, sessionS) = Runs.timed(graft.Sessions.build(s"local[$cpus]", parts, "perfbench"))
    r.detail("environment") = Runs.environment(spark)
    r.metrics("session.build_s") = sessionS
    r.metrics("setup_s") = Runs.sinceSpawn(a.spawnMs)

    val registry = graft.SparkEntry.queries
    // The cold pass is each query's first execution, as a digest of its
    // output checked against the expected one: the check costs one hash
    // and one global aggregate per query, far less than a pass of its own.
    // The observed digests go into the run record, so an intended change
    // of results can be copied into the expected file by hand.
    val expected = Expected.load(a.expected)
    val observed = mutable.TreeMap.empty[String, String]
    val order = Runs.rotation(Rows, a.seed)
    val (_, coldS) = Runs.timed {
      order.foreach { n =>
        r.attempt(n)(Digest.of(registry(n)(spark, a.data))).foreach { d =>
          observed(n) = d
          if (!expected.get(n).contains(d))
            r.fail(s"$n: digest $d, expected ${expected.getOrElse(n, "none recorded")}")
        }
      }
    }
    r.detail("digests") = observed
    r.metrics("cold_pass_s") = coldS

    val tracer = new Tracer
    val layer = new LayerTotals
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val (plain, traced) = Runs.warmPasses(a, r) { p =>
      if (p.traced) layer.pass(spark, tracer) {
        order.foreach(n => r.attempt(n)(tracedQuery(spark, a.data, registry(n), tracer, layer)))
      }
      else order.foreach { n =>
        r.attempt(n)(Runs.timed(noop(registry(n)(spark, a.data)))._2)
          .foreach(s => if (p.counted) perQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s)
      }
    }
    r.metrics("warm_pass_s") = Stats.median(plain)
    Runs.latency("op", perQuery.values.flatten.toSeq, r)
    // The queries' costs differ by 10x, so a median pooled over all of
    // them lands between two queries and jumps with any one of them; the
    // median of per-query medians moves only when the middle queries do.
    r.metrics("op_p50_s") = Stats.median(perQuery.values.map(w => Stats.median(w.toSeq)).toSeq)
    r.detail("query_walls") = perQuery

    layer.report(r, traced.sum, cpus)
    r.metrics("trace.overhead_s") =
      if (traced.isEmpty) 0.0 else Stats.median(traced) - Stats.median(plain)
    val fitS = mutable.LinkedHashMap(
      "fit.ann_index_s" -> 0.0, "fit.pq_codebook_s" -> 0.0, "fit.bpe_merges_s" -> 0.0)
    val kernels = if (!a.trace) Map.empty[String, Double] else {
      val (_, ann) = Runs.timed(graft.operators.AnnIvf.ensureIndex(spark, a.data))
      val (cb, pq) = Runs.timed(graft.operators.Pq.ensureCodebook(spark, a.data))
      val (merges, bpe) = Runs.timed(graft.functions.Bpe.ensureMerges(spark, a.data))
      fitS ++= Seq("fit.ann_index_s" -> ann, "fit.pq_codebook_s" -> pq, "fit.bpe_merges_s" -> bpe)
      Kernels.measure(spark, a.data, cb, merges)
    }
    r.metrics ++= fitS
    Kernels.Names.foreach(k => r.metrics(s"kernel.$k.ns_per_row") = kernels.getOrElse(k, 0.0))
    StoreWorkload.idle(r)
    r.metrics("proc.peak_rss_mb") = Runs.peakRssMb()
    spark.stop()
    r
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One query with a timer around each layer boundary: the registry call
    * (query packs, table reads and Catalyst analysis), planning, and
    * execution into the noop sink.
    */
  private def tracedQuery(spark: SparkSession, dir: String,
                          query: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                          tracer: Tracer, layer: LayerTotals): Unit = {
    val c0 = tracer.snapshot(spark)
    val (df, buildS) = Runs.timed(query(spark, dir))
    val c1 = tracer.snapshot(spark)
    val (_, planS) = Runs.timed(df.queryExecution.executedPlan)
    noop(df)
    layer.buildS += buildS
    layer.buildJobs += (c1 - c0).jobs
    layer.planS += planS
  }
}

/** Per-layer totals over the traced passes, reported per traced pass. */
final class LayerTotals {
  var passes = 0
  var buildS = 0.0
  var buildJobs = 0L
  var planS = 0.0
  var sched = Counters()
  var ops = OpTotals()
  var codegen = CodegenSnap(0, 0, 0)

  def pass(spark: SparkSession, tracer: Tracer)(body: => Unit): Unit = {
    tracer.attach(spark)
    try {
      val g0 = CodegenSnap.now()
      val c0 = tracer.snapshot(spark)
      tracer.takeOps(spark)
      tracer.resetPeak()
      body
      val c1 = tracer.snapshot(spark)
      sched = sched + (c1 - c0)
      ops = ops + tracer.takeOps(spark)
      codegen = codegen + (CodegenSnap.now() - g0)
      passes += 1
    } finally tracer.detach(spark)
  }

  /** Writes every per-layer metric of this table (0 when never traced). */
  def report(r: RunResult, tracedWallS: Double, slots: Int): Unit = {
    val n = math.max(1, passes).toDouble
    val s = sched
    r.metrics ++= Seq(
      "build.s" -> buildS / n, "build.jobs" -> buildJobs / n, "plan.s" -> planS / n,
      "codegen.compiles" -> codegen.compiles / n,
      "codegen.compile_s" -> codegen.compileNs / 1e9 / n,
      "codegen.bytecode_bytes" -> codegen.classBytes / n,
      "sched.jobs" -> s.jobs / n, "sched.stages" -> s.stages / n, "sched.tasks" -> s.tasks / n,
      "sched.task_run_s" -> s.runNs / 1e9 / n, "sched.task_cpu_s" -> s.cpuNs / 1e9 / n,
      "sched.gc_s" -> s.gcMs / 1e3 / n, "sched.delay_s" -> s.delayMs / 1e3 / n,
      "sched.idle_frac" ->
        (if (tracedWallS <= 0) 0.0 else 1.0 - s.runNs / 1e9 / (tracedWallS * slots)),
      "op.exchanges" -> ops.exchanges / n, "op.scans" -> ops.scans / n,
      "op.input_bytes" -> s.inputBytes / n,
      "op.shuffle_write_bytes" -> s.shuffleWriteBytes / n,
      "op.shuffle_read_bytes" -> s.shuffleReadBytes / n,
      "op.spill_bytes" -> s.spillBytes / n,
      "op.peak_exec_mem_bytes" -> s.peakExecMem.toDouble,
      "op.sort_s" -> ops.sortNs / 1e9 / n, "op.agg_s" -> ops.aggNs / 1e9 / n,
      "op.join_build_s" -> ops.joinBuildNs / 1e9 / n, "op.scan_s" -> ops.scanNs / 1e9 / n)
  }
}

/** Expected per-query digests, as a flat JSON object of strings. */
object Expected {
  def load(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      import org.json4s._
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      org.json4s.jackson.JsonMethods.parse(txt) match {
        case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => throw new IllegalArgumentException(s"$path is not a JSON object")
      }
    }
  }
}
