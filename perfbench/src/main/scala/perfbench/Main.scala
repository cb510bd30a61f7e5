package perfbench

import scala.collection.mutable

/** The benchmark harness, launched by `run.py` in a fresh JVM per run with
  * a private working directory. It drives the library only through its
  * public entry points and times each call from outside.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data CORPUS_DIR --expected DIGESTS_JSON --spawn-ms EPOCH_MS
  *
  * It prints one line `PERFBENCH_RESULT {json}` with every metric it took,
  * the operation counts and the run's environment.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, expected: String, spawnMs: Long)

  def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      get("data"), get("expected"), get("spawn-ms").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val out = a.workload match {
      case "llm_pipeline" => QueryWorkload.run(a)
      case "store_mixed" => StoreWorkload.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val bad = out.metrics.collect { case (k, v) if v.isNaN || v.isInfinite => k }
    require(bad.isEmpty, s"metrics without a finite value: ${bad.mkString(", ")}")
    println("PERFBENCH_RESULT " +
      org.json4s.jackson.Serialization.write(out.toMap)(org.json4s.DefaultFormats))
  }
}

/** What one run reports. Every workload reports every metric name; a
  * layer the workload does not use reads 0.
  */
final class RunResult {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  /** Runs one operation; a throw counts as a failed operation. */
  def attempt[T](what: String)(op: => T): Option[T] = {
    attempted += 1
    try Some(op)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Records an operation whose output check failed. */
  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg.take(300)
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def toMap: Map[String, Any] = Map(
    "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
    "metrics" -> metrics, "detail" -> detail)
}

/** Shared run mechanics. */
object Runs {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }

  /** Seconds from the JVM's spawn (stamped by the launcher) until now. */
  def sinceSpawn(spawnMs: Long): Double = (System.currentTimeMillis() - spawnMs) / 1e3

  /** The seeded order of every pass: `items` as a fixed cycle, started at
    * the item the seed picks. Passes run back to back, so every seed runs
    * the same sequence in its steady state. Not a fresh shuffle per pass:
    * the queries share codegen cache entries and JIT profiles, so which
    * one follows which changes a pass's cost, and seeds would measure
    * different amounts of work.
    */
  def rotation[T](items: Seq[T], seed: Long): Seq[T] = {
    val k = java.lang.Math.floorMod(seed, items.size.toLong).toInt
    items.drop(k) ++ items.take(k)
  }

  /** One pass after the cold one. `counted` is false for the warm-up
    * pass, whose wall and operations no metric counts.
    */
  final case class Pass(traced: Boolean, counted: Boolean)

  /** The wall of one warm pass of either workload on a 4-core box at the
    * commit the benchmark was written at. `--seconds` is turned into a
    * pass count with it, so what a run counts depends on its arguments
    * only: a faster program runs the same passes in less time. That
    * matters on store_mixed, where every pass grows the table, so a pass
    * count that followed the program's speed would compare a faster
    * program on a larger table.
    */
  val NominalPassS = 7.0

  /** Counted passes for `seconds` of measuring: at least one; in a traced
    * run an odd number, at least three (untraced, traced, untraced, ...).
    */
  def countedPasses(seconds: Double, trace: Boolean): Int = {
    val n = math.max(1, math.round(seconds / NominalPassS).toInt)
    if (!trace) n else math.max(3, n | 1)
  }

  /** Passes after the cold one: one warm-up pass, which still runs partly
    * cold (JIT, codegen), then [[countedPasses]] counted passes. A traced
    * run alternates untraced and traced counted passes, starting and
    * ending untraced, so the tracing overhead can be read off without
    * favouring either side with the extra warm-up of running later.
    * Returns the counted walls (untraced, traced).
    */
  def warmPasses(a: Main.Args, r: RunResult)(pass: Pass => Unit): (Seq[Double], Seq[Double]) = {
    r.detail("warm_up_pass_s") = timed(pass(Pass(traced = false, counted = false)))._2
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    for (i <- 1 to countedPasses(a.seconds, a.trace)) {
      val withTrace = a.trace && i % 2 == 0
      val (_, s) = timed(pass(Pass(withTrace, counted = true)))
      (if (withTrace) traced else plain) += s
    }
    r.detail("warm_passes") = Map("untraced" -> plain.toSeq, "traced" -> traced.toSeq)
    (plain.toSeq, traced.toSeq)
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def environment(spark: org.apache.spark.sql.SparkSession): Map[String, Any] = Map(
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "jvm_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))

  /** Latency summary of a set of operation walls. */
  def latency(prefix: String, xs: Seq[Double], r: RunResult): Unit = {
    val tail = Stats.tail(xs)
    r.metrics(s"${prefix}_p50_s") = if (xs.isEmpty) 0.0 else Stats.median(xs)
    r.metrics(s"${prefix}_tail_s") = tail.map(_.value)
      .getOrElse(if (xs.isEmpty) 0.0 else xs.max)
    r.detail(s"${prefix}_tail") = Map(
      "percentile" -> tail.map(_.percentile).getOrElse("max: fewer than 20 samples"),
      "samples" -> xs.size)
  }
}
