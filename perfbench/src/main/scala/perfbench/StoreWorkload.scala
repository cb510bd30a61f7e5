package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore
import StoreModel.Row

/** A closed loop of snapshot-table operations with one client, on a fresh
  * seeded table: 20k rows over 12 partitions, stats on the key. One pass
  * is five steps. Each step appends 2k rows to a random partition under a
  * transaction marker that alternates between two writers, reads one live
  * key back through a key-range read and reads the writer's last marker.
  * The last step of each pass also merges 500 live keys of one random
  * partition, deletes 100 live keys of another and reads the table back
  * as of half its current version, so every pass does the same mix. Every
  * read is checked against [[StoreModel]].
  */
object StoreWorkload {
  val Partitions = 12
  val InitialRows = 20000
  val AppendRows = 2000
  val MergeKeys = 500
  val DeleteKeys = 100
  val StepsPerPass = 5
  /** key(8) + part(4) + value(8) + payload(24): the user bytes of a row. */
  val RowBytes = 44L

  private def payload(key: Long, value: Long): String = f"$key%012d$value%012d"

  private def frame(spark: SparkSession, rows: Seq[Row]): DataFrame = {
    import spark.implicits._
    rows.map(r => (r.key, r.part, r.value, payload(r.key, r.value)))
      .toDF("key", "part", "value", "payload")
  }

  /** Store metrics of a workload that never touches the store. */
  def idle(r: RunResult): Unit =
    Seq("store.append_s", "store.merge_s", "store.delete_s", "store.read_plan_s",
      "store.read_exec_s", "store.pruned_frac", "store.lasttxn_s",
      "store.manifest_bytes", "store.versions", "store.files_live",
      "store.commit_p50_s", "store.commit_tail_s", "store.read_p50_s",
      "store.read_tail_s", "store.write_amp", "store.space_amp")
      .foreach(k => r.metrics.getOrElseUpdate(k, 0.0))

  private def dirBytes(p: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    } finally s.close()
  }

  def run(a: Main.Args): RunResult = {
    val r = new RunResult
    val cpus = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = Runs.timed(graft.Sessions.build(s"local[$cpus]", cpus, "perfbench"))
    r.detail("environment") = Runs.environment(spark)
    r.metrics("session.build_s") = sessionS
    val rnd = new scala.util.Random(a.seed)
    val model = new StoreModel
    val rootPath = java.nio.file.Paths.get("store", "table").toAbsolutePath
    val root = rootPath.toString
    var nextKey = 0L

    def newRows(n: Int, part: Int => Int): Seq[Row] = {
      val first = nextKey
      nextKey += n
      (0 until n).map(i => Row(first + i, part(i), rnd.nextInt(1000000).toLong))
    }

    val initial = newRows(InitialRows, _ => rnd.nextInt(Partitions))
    val v0 = SnapshotStore.overwrite(frame(spark, initial), root,
      partCol = Some("part"), declareStatsCol = Some("key"))
    model.insert(v0, initial)
    val setupBytes = dirBytes(rootPath)
    r.metrics("setup_s") = Runs.sinceSpawn(a.spawnMs)

    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var counted = false
    // Latencies of the counted passes only.
    def record(kind: String, s: Double): Unit =
      if (counted) times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
    var userBytes = 0L
    val pruned = mutable.ArrayBuffer.empty[Double]
    var step = 0

    def commit(kind: String)(f: => Long): Option[Long] =
      r.attempt(kind)(Runs.timed(f)).map { case (v, s) => record(kind, s); v }

    def keysIn(part: Int): Seq[Long] = model.keys.filter(k => model.get(k).exists(_.part == part))

    def doStep(traced: Boolean): Unit = {
      val g = step
      step += 1
      val part = rnd.nextInt(Partitions)
      val rows = newRows(AppendRows, _ => part)
      val writer = s"writer${g % 2}"
      commit("append")(SnapshotStore.append(frame(spark, rows), root,
        partCol = Some("part"), txn = Some((writer, g.toLong)))).foreach { v =>
        model.insert(v, rows, Some((writer, g.toLong)))
        userBytes += rows.size * RowBytes
      }

      val keys = model.keys
      val k = keys(rnd.nextInt(keys.size))
      r.attempt("point_read") {
        val (df, planS) = Runs.timed(SnapshotStore.read(spark, root, keyRange = Some((k, k))))
        val (got, execS) = Runs.timed(df.filter(col("key") === k)
          .select(col("part"), col("value")).collect().toSeq)
        record("read_plan", planS)
        record("read_exec", execS)
        record("read", planS + execS)
        val want = model.get(k).toSeq.map(m => (m.part, m.value))
        if (got.map(x => (x.getInt(0), x.getLong(1))) != want)
          r.fail(s"point read of key $k returned $got, expected $want")
      }
      if (traced) SnapshotStore.currentVersion(root).foreach { v =>
        val live = SnapshotStore.filesAt(root, v).size
        if (live > 0)
          pruned += SnapshotStore.prunedFiles(root, v, keyRange = Some((k, k))).size.toDouble / live
      }

      r.attempt("last_txn") {
        val (got, s) = Runs.timed(SnapshotStore.lastTxn(root, writer))
        record("lasttxn", s)
        if (got != model.lastTxn(writer))
          r.fail(s"lastTxn($writer) returned $got, expected ${model.lastTxn(writer)}")
      }

      if (g % StepsPerPass == StepsPerPass - 1) {
        val picked = rnd.shuffle(keysIn(rnd.nextInt(Partitions))).take(MergeKeys)
          .map(key => model.get(key).get.copy(value = rnd.nextInt(1000000).toLong))
        commit("merge")(SnapshotStore.merge(spark, root, frame(spark, picked), "key", "part"))
          .foreach { v => model.merge(v, picked); userBytes += picked.size * RowBytes }

        val gone = rnd.shuffle(keysIn(rnd.nextInt(Partitions))).take(DeleteKeys)
        commit("delete")(SnapshotStore.delete(spark, root, col("key").isin(gone: _*),
          partCol = Some("part"))).foreach(v => model.delete(v, gone))
        SnapshotStore.currentVersion(root).foreach { v =>
          val asOf = v / 2
          r.attempt("time_travel_read") {
            val (got, s) = Runs.timed(SnapshotStore.read(spark, root, asOf = Some(asOf))
              .agg(count(lit(1)), coalesce(sum(col("value")), lit(0L))).head())
            record("time_travel", s)
            record("read", s)
            val want = model.at(asOf)
            if (!want.contains(StoreModel.Summary(got.getLong(0), got.getLong(1))))
              r.fail(s"read as of v$asOf returned (${got.getLong(0)}, ${got.getLong(1)}), expected $want")
          }
        }
      }
    }

    val (_, coldS) = Runs.timed((1 to StepsPerPass).foreach(_ => doStep(false)))
    r.metrics("cold_pass_s") = coldS
    def latencies(kind: String): Seq[Double] = times.get(kind).map(_.toSeq).getOrElse(Nil)

    val tracer = new Tracer
    val layer = new LayerTotals
    val (plain, traced) = Runs.warmPasses(a, r) { p =>
      counted = p.counted
      if (p.traced) layer.pass(spark, tracer)((1 to StepsPerPass).foreach(_ => doStep(true)))
      else (1 to StepsPerPass).foreach(_ => doStep(false))
    }
    r.metrics("warm_pass_s") = Stats.median(plain)
    val commits = latencies("append") ++ latencies("merge") ++ latencies("delete")
    Runs.latency("op", commits, r)
    Runs.latency("store.commit", commits, r)
    Runs.latency("store.read", latencies("read"), r)

    // Final state against the model: the whole table, once.
    r.attempt("full_read") {
      val got = SnapshotStore.read(spark, root)
        .agg(count(lit(1)), coalesce(sum(col("value")), lit(0L))).head()
      if (StoreModel.Summary(got.getLong(0), got.getLong(1)) != model.summary)
        r.fail(s"final table (${got.getLong(0)}, ${got.getLong(1)}) differs from ${model.summary}")
    }

    def med(kind: String): Double = { val w = latencies(kind); if (w.isEmpty) 0.0 else Stats.median(w) }
    val endBytes = dirBytes(rootPath)
    val version = SnapshotStore.currentVersion(root).getOrElse(0L)
    r.metrics ++= Seq(
      "store.append_s" -> med("append"), "store.merge_s" -> med("merge"),
      "store.delete_s" -> med("delete"), "store.read_plan_s" -> med("read_plan"),
      "store.read_exec_s" -> med("read_exec"),
      "store.pruned_frac" -> (if (pruned.isEmpty) 0.0 else Stats.median(pruned.toSeq)),
      "store.lasttxn_s" -> med("lasttxn"),
      "store.manifest_bytes" -> dirBytes(rootPath.resolve("_manifests")).toDouble,
      "store.versions" -> (version + 1).toDouble,
      "store.files_live" -> SnapshotStore.filesAt(root, version).size.toDouble,
      "store.write_amp" -> (endBytes - setupBytes).toDouble / math.max(1L, userBytes),
      "store.space_amp" -> endBytes.toDouble / math.max(1L, model.summary.rows * RowBytes))
    r.detail("store") = Map("steps" -> step, "live_rows" -> model.summary.rows,
      "time_travel_p50_s" -> med("time_travel"))

    layer.report(r, traced.sum, cpus)
    r.metrics("trace.overhead_s") =
      if (traced.isEmpty) 0.0 else Stats.median(traced) - Stats.median(plain)
    Seq("fit.ann_index_s", "fit.pq_codebook_s", "fit.bpe_merges_s")
      .foreach(r.metrics(_) = 0.0)
    Kernels.Names.foreach(k => r.metrics(s"kernel.$k.ns_per_row") = 0.0)
    r.metrics("proc.peak_rss_mb") = Runs.peakRssMb()
    spark.stop()
    r
  }
}
