package graft

import org.apache.spark.sql.SparkSession

/** The library's one supported SparkSession construction path. Centralizes
  * the configuration every graft entry point (Verify, Bench, tests) needs:
  *
  *   - `spark.sql.session.timeZone=UTC` — cross-engine date/timestamp
  *     determinism (the DuckDB oracle runs in UTC).
  *   - `spark.sql.legacy.parquet.nanosAsLong=true` — events.ts is parquet
  *     TIMESTAMP(NANOS), which Spark 4 rejects by default; reading it as a
  *     nanos long (then truncating to µs in Tables.events) matches DuckDB's
  *     ns→µs floor. Setting it HERE, at session construction, is the
  *     supported contract; the defensive set inside Tables.events is only a
  *     fallback for host sessions that bypassed this builder (and a host
  *     that wants TIMESTAMP(NANOS) errors elsewhere simply must not call
  *     Tables.events — that is the opt-out).
  *   - pinned `spark.sql.shuffle.partitions` — sized to the worker count,
  *     not Spark's default 200: at local scale 200 post-shuffle tasks are
  *     pure scheduling overhead; on a real cluster the caller passes the
  *     cluster-appropriate value.
  *   - `spark.sql.codegen.cache.maxEntries=2000` — Spark keys its compiled-
  *     class cache on (thread context class loader, generated source) and
  *     holds 100 entries by default, an LRU. One pass of the six-row
  *     kernel/Components workload (dedup_minhash, dedup_simhash,
  *     dedup_clusters, q_text_fingerprint, q_text_bigrams, ml_knn_cosine
  *     at sf0.01) generates more classes than that, so each row's classes
  *     were evicted before the next pass reached them: 159–190 compiles
  *     and 2.0–2.9 s of compile time per 7–9 s warm pass. 2000 holds a
  *     whole working set; with the clone setting below a warm pass
  *     recompiles 0–8 classes (4-core VM, Spark 4.1). A static conf, read
  *     once per JVM when `CodeGenerator` initialises.
  *   - `spark.sql.codegen.useIdInClassName=false` — the cache key is the
  *     generated source, and by default that source names its class
  *     after the whole-stage codegen id. AQE numbers stages in the order
  *     it plans them, so when one stage of a recurring query re-plans
  *     (a broadcast side chosen by which stage finished first), every
  *     later stage of that query shifts its id and recompiles unchanged
  *     code. Without the id only the stages whose code changed miss.
  *   - [[cloned]] sessions run with `spark.sql.artifact.isolation.enabled=
  *     false`. With isolation on, every session gets its own
  *     `JobArtifactState` and the executor runs its tasks under a fresh
  *     class loader, so each per-call clone (dedup_clusters,
  *     q_graph_pagerank) recompiled all of its classes — 60–106 per
  *     dedup_clusters call — and those dead entries evicted everyone
  *     else's. The host session keeps isolation; graft never adds
  *     artifacts to its private clones.
  */
object Sessions {

  /** Pre-configured builder, for callers that need extra configs on top. */
  def builder(master: String, shufflePartitions: Int,
              appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Shuffle files are deleted only when the ContextCleaner sees their
      // shuffle dependency become GC-unreachable; with a large heap a full
      // GC may never happen naturally, and Spark's own safety net
      // (periodicGC) defaults to 30 MIN — longer than most of our jobs, so
      // a multi-query JVM (or one 10-pass iterative operator) accrues every
      // dead shuffle's files until the disk fills. Measured: the r12 sf100
      // leg's chunk-4 ENOSPC cascade — pagerank's 10 edge-sized per-pass
      // shuffles (none reachable after the next pass) + 3 prior queries'
      // debt exceeded 61 GB free. 2 min bounds the debt to ~one query's
      // live set at a cost of one background System.gc() per interval —
      // the same knob a long-running cluster app sets for executor disks.
      // (SPARK_GRAFT_PERIODIC_GC overrides for A/B attribution runs.)
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "2min"))
      // The library's session extensions: graft SQL functions
      // (quantized_dot, float_dot), and the reads and row-level DML
      // (DELETE / UPDATE / MERGE INTO) of graft snapshot tables.
      // Construction-time only — hosts that cannot control session
      // construction get the functions via GraftFunctions.register(spark);
      // snapshot-table reads and DML then require this builder.
      .config("spark.sql.extensions",
        "org.apache.spark.sql.graftext.GraftExtensions")
      // Column identity: snapshot tables stamp parquet field ids so
      // RENAME/DROP COLUMN are metadata-only commits. Write side defaults
      // on in Spark; the READ side defaults off and without it a renamed
      // column silently reads null from pre-rename files — the store also
      // asserts it per-read, this is the supported-construction default.
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      // Codegen cache sized to a working set of recurring plans (see the
      // object doc): at the default 100 a warm pass recompiled everything.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Stage ids out of generated class names, so a recurring pipeline
      // keeps one cache key (see the object doc).
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Input-proportional shuffle-partition sizing — the heuristic a cluster
    * applies as config (target bytes per shuffle partition), here derived
    * from the corpus directory so scale legs need no manual knob. The
    * concrete failure this removes: at sf100 (≈19 GB parquet) a 32-way
    * sort-merge join holds its ENTIRE input as simultaneous spill (one
    * task per slot, each spilling total/32) — q_subq_q21 only completed
    * with a hand-set SPARK_GRAFT_SHUFFLE_PARTITIONS=256. 64 MiB of
    * compressed parquet per partition (~3–4× that decompressed in the
    * sort) reproduces that sizing automatically: sf100 → 288, sf10 and
    * below → the worker-count floor, so small-SF plans are unchanged.
    * Rounded up to a multiple of `minParts` for even task waves; capped
    * at 1024 (beyond that, per-task scheduling overhead dominates on one
    * node — a real cluster passes its own value).
    */
  def autoShufflePartitions(dataDir: String, minParts: Int,
                            targetBytes: Long = 64L << 20,
                            maxParts: Int = 1024): Int = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(dataDir)
    if (!Files.isDirectory(dir)) return minParts
    val it = Files.walk(dir)
    val bytes =
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet") &&
            Files.isRegularFile(p))
          .map(Files.size).sum
      } finally it.close()
    val raw = math.ceil(bytes.toDouble / targetBytes).toInt
    val waves = math.max(1, (raw + minParts - 1) / minParts)
    math.min(maxParts, waves * minParts)
  }

  /** Shuffle-partition count for the PASSES of an iterative graph operator
    * (pagerank, connected components) — derived from the operator's STATE
    * size (nodes/edges in flight per pass), not the corpus size.
    *
    * The input-proportional auto-sizer above is the right model for
    * one-shot scans and joins (per-task spill ∝ input/parts), but an
    * iterative operator's per-pass shuffles carry node-sized state: sizing
    * them to the INPUT multiplies scheduling + shuffle-file overhead by
    * the pass count for no spill relief. Measured at sf100 (BASELINE.md
    * round-13/14): pagerank pays ~24% wall at the input-derived 320
    * partitions vs 32 (1,619.7 vs 1,316.7 s). ~64 B of shuffle footprint
    * per state row at the same 64 MiB/partition target: every graph below
    * ~32 M nodes stays at the worker-count floor; a 1 B-node graph gets
    * ~1000 partitions. Same 1024 cap as the auto-sizer (a real cluster
    * passes its own conf).
    */
  def iterShufflePartitions(stateRows: Long, minParts: Int,
                            bytesPerRow: Long = 64L,
                            targetBytes: Long = 64L << 20,
                            maxParts: Int = 1024): Int = {
    val raw = math.ceil(stateRows.toDouble * bytesPerRow / targetBytes).toInt
    // The worker-count floor only applies while there is enough state to
    // keep that many tasks meaningfully busy (>= 4k rows/task): an
    // iterative operator on a SMALL graph otherwise pays minParts tasks ×
    // passes × stages of pure scheduling for partitions carrying a few
    // hundred rows each. Large graphs are unaffected (rows/4k quickly
    // exceeds any worker count); this is state-derived, not a local-mode
    // constant — the same rule yields the same plan on a cluster.
    val floor = math.max(1L, math.min(minParts.toLong,
      (stateRows + 4095) / 4096)).toInt
    math.min(maxParts, math.max(floor, raw))
  }

  /** A private clone of `spark` for an iterative operator's lifecycle:
    * shares the SparkContext (executors, block store, scheduler) but owns
    * its SessionState/SQLConf, so conf pinning on the clone can never be
    * observed by a concurrent query on the parent — the multi-tenant-
    * driver hazard [[withShufflePartitions]] documents. Runtime-set SQL
    * confs are copied over (newSession starts from SparkConf defaults,
    * which would silently drop a runtime-tuned shuffle-partition count or
    * session timezone); static confs refuse to set and are skipped (they
    * are shared through SparkConf anyway).
    *
    * Frames plan under the session they were CREATED from, so the clone
    * only isolates work whose frames are built from it — read the inputs
    * through the clone (the registered composite operators do).
    *
    * Artifact isolation is off on the clone: its tasks run under the
    * shared executor class loader, so its generated classes hit the
    * codegen cache entries earlier calls (and the host) compiled, instead
    * of a fresh per-session loader recompiling every class on every call.
    * Set after the copy loop (a parent that set it `true` cannot win) and
    * before the clone runs anything (the artifact state is computed once,
    * lazily, per session).
    */
  def cloned(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try s2.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    s2.conf.set("spark.sql.artifact.isolation.enabled", "false")
    s2
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `parts`,
    * restoring the previous value after — the scoped form the iterative
    * operators use for their pass loops (their actions all execute inside
    * the scope; the restored conf governs everything after). Session-conf
    * mutation is session-global: concurrent queries on the SAME session
    * during `body` would plan at `parts` — pass a [[cloned]] session (the
    * registered composite operators do) when the host session serves
    * concurrent queries.
    */
  def withShufflePartitions[T](spark: SparkSession, parts: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, parts.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Build (or reuse) the session and quiet the log noise.
    *
    * getOrCreate silently ignores builder configs when a host JVM already
    * holds a session, so the runtime-settable SQL confs the oracle
    * comparison depends on (UTC session timezone, nanosAsLong) are
    * re-asserted on the live conf here — they apply to an adopted session
    * too. Only the session-construction-time settings (master, shuffle
    * partitions, codegen cache size) remain best-effort in that case. The
    * codegen cache size is further read once per JVM, when `CodeGenerator`
    * first initialises: a JVM that compiled a class before this call keeps
    * the size it had then.
    */
  def build(master: String, shufflePartitions: Int,
            appName: String = "graft"): SparkSession = {
    val s = builder(master, shufflePartitions, appName).getOrCreate()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
