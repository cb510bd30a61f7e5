package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** (summary line for stdout, full per-query line for the durable file).
    * The summary carries only the top-15 slowest queries: the driver's
    * BENCH artifact keeps the LAST 2000 chars of stdout, and the full
    * 175-query map is ~4 KB — r15's bench line overflowed that window and
    * the round lost its round-over-round comparison ("parsed": null).
    * BenchLineSpec asserts the healthy-path summary stays inside the
    * window for the worst-case registry names, so that failure mode is
    * structurally impossible.
    *
    * `codegen` (per query: classes compiled, compile seconds) goes into
    * the full line only, as its own `"codegen"` object.
    */
  private[graft] def summaryLines(results: Seq[(String, Double)],
      errors: List[String], sfDir: String, fullPath: String,
      nproc: Int, loadStart: String, loadEnd: String,
      codegen: Seq[(String, (Long, Double))] = Nil): (String, String) = {
    def r3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val errsJson = errors.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val top = results.filter(_._2 >= 0).sortBy(-_._2).take(15)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val env = s""""env":{"nproc":$nproc,"loadavg_start":$loadStart,"loadavg_end":$loadEnd}"""
    val base = s""""metric":"total","value":${f"$total%.2f"},"unit":"sec","n":${results.size},"errors":$errsJson,"sf":"$sfDir","full":"$fullPath",$env"""
    val cgJson = codegen.map { case (k, (n, sec)) =>
      "\"" + k + "\":{\"compiles\":" + n + ",\"compile_s\":" + r3(sec) + "}"
    }.mkString("{", ",", "}")
    (s"""{$base,"queries":$top}""",
      s"""{$base,"queries":$qsFull,"codegen":$cgJson}""")
  }

  /** Classes compiled and nanoseconds spent compiling so far in this JVM
    * (Spark's process-wide codegen counters; reading them runs no job).
    */
  private def codegenNow(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shuffle-partition count auto-sizes from the corpus bytes (see
    // Sessions.autoShufflePartitions — worker-count floor at small SFs,
    // ~288 at sf100 so no SMJ sort holds its whole input as simultaneous
    // spill). The env survives as an explicit override for A/B runs.
    val shuffleParts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt)
      .getOrElse(Sessions.autoShufflePartitions(sfDir, cpus.toInt))
    System.err.println(s"[bench] shuffle partitions: $shuffleParts")
    val loadStart =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ").take(1).mkString
      catch { case _: Throwable => "-1" }
    val spark = Sessions.build(s"local[$cpus]", shuffleParts, "graft-bench")
    var errors = List.empty[String]
    // Dev aid: SPARK_GRAFT_ONLY=q_a,q_b restricts the run to named queries
    // (unset = full registry, the driver's mode).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // RUN ORDER (r15 verdict #9, settled by the r16 A/B): alphabetical
    // order put the q_agg_* cluster right behind the two ~100 s ANN
    // joins at sf10, so those rows inherited the joins' page-cache/GC
    // shadow every round and needed a solo re-measure cycle (r13 tails,
    // r15 aggsolo). A fully hashed order kills the shadow but costs the
    // whole leg ~28% (measured back-to-back at sf1: alpha 482.7 s vs
    // hash 616.6 s, BENCH_sf1_r16_{alpha,hash}.json) — alphabetical
    // adjacency IS locality (same tables hot in the page cache, same
    // plan shapes warm in codegen) and the tax lands on every row.
    // Final design: alphabetical base order with the known shadow-
    // casters pinned to the TAIL — nothing runs after them, so their
    // shadow falls on no one, and every other family keeps its locality.
    // SPARK_GRAFT_BENCH_SEED=alpha gives the pure-alphabetical r15
    // control; an integer seed gives the hashed order for neighbor
    // diagnosis (a wall that moves with the seed is a neighbor effect).
    val HeavyTail = Seq("ml_ann_join", "ml_ann_join_pq")
    val seed = sys.env.getOrElse("SPARK_GRAFT_BENCH_SEED", "tail")
    val selected = SparkEntry.queries.toSeq
      .sortBy { case (n, _) =>
        seed match {
          case "tail" => (HeavyTail.indexOf(n) + 1, n) // -1+1=0 → body
          case "alpha" => (0, n)
          case s => (scala.util.hashing.MurmurHash3.stringHash(n + "#" + s), n)
        }
      }
      .filter { case (n, _) => only.isEmpty || only(n) }
    // Pre-warm the one-time BPE vocabulary fit (memoized per corpus
    // fingerprint) so its ~20 s training cost doesn't land on whichever BPE
    // query runs first and read as that query's steady-state wall time
    // (r9 driver bench attributed it to q_text_bpe_encode: 21.0 s shown vs
    // 4.6 s real). The warm-up is reported as its own line, not hidden.
    if (selected.exists(_._1.startsWith("q_text_bpe"))) {
      val w0 = System.nanoTime()
      graft.functions.Bpe.ensureMerges(spark, sfDir)
      System.err.println(f"[bench] bpe vocab fit (one-time, memoized): ${(System.nanoTime() - w0) / 1e9}%.1f s")
    }
    val codegen = Seq.newBuilder[(String, (Long, Double))]
    val results = selected.map { case (name, fn) =>
      // Guide §1.5: label every query's jobs so event logs / the UI (when
      // enabled for a profiling run) attribute stages to bench rows.
      spark.sparkContext.setJobDescription(s"bench:$name")
      val (c0, ns0) = codegenNow()
      val t0 = System.nanoTime()
      // noop sink, NOT count(): count() lets the optimizer prune unreferenced
      // branches wholesale (measured: dedup_embedding_cosine's count() plan
      // collapses to a bare scan — the LSH+verify pipeline is join-eliminated
      // because its aggregate is unique on the join key and unreferenced).
      // The noop sink materializes every output column, so the wall time is
      // the cost of the work the query claims to do.
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          errors ::= name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      // Failed queries are reported as -1, never as a healthy wall time.
      val wall = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      val (c1, ns1) = codegenNow()
      codegen += name -> ((c1 - c0, (ns1 - ns0) / 1e9))
      name -> wall
    }
    // The driver's BENCH_r0N.json artifact keeps only the LAST 2000 chars of
    // stdout (measured: every BENCH_r0*.json tail is exactly 2000, and the
    // full 173-query map is ~4 KB even at ms precision → "parsed": null in
    // every round so far). So stdout gets a SUMMARY line that always fits —
    // total, count, errors, and the top-15 slowest queries — while the full
    // per-query map (ms precision) goes to a durable file the scaling
    // analysis reads: SPARK_GRAFT_BENCH_OUT if set, else BENCH_last_full.json
    // in the repo.
    // Working-directory-relative default (an absolute repo path would
    // throw at the END of the whole bench on any other checkout location,
    // losing the results); SPARK_GRAFT_BENCH_OUT overrides.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_last_full.json")
    // Ambient-load snapshot IN the artifact: the r13 driver-vs-solo smear
    // (~1.5× uniform) was only attributable by out-of-band notes. loadavg
    // at start+end plus the core count makes every future BENCH_*.json
    // self-describing about box contention.
    val cores = Runtime.getRuntime.availableProcessors()
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ").take(1).mkString
      catch { case _: Throwable => "-1" }
    val (line, fullLine) = summaryLines(results, errors, sfDir, fullPath,
      cores, loadStart, loadavg(), codegen.result())
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
