package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and task counters, summed over every task that ended. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runNs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, delayMs: Long = 0,
    inputBytes: Long = 0, shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0, peakExecMem: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, runNs - o.runNs,
    cpuNs - o.cpuNs, gcMs - o.gcMs, delayMs - o.delayMs,
    inputBytes - o.inputBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes,
    // a high-water mark, not a sum: the later snapshot's value stands
    peakExecMem)

  /** Sums the counts; keeps the higher peak. */
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, runNs + o.runNs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, delayMs + o.delayMs,
    inputBytes + o.inputBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes,
    math.max(peakExecMem, o.peakExecMem))
}

/** Physical-operator totals from the SQLMetrics of executed plans. */
final case class OpTotals(
    exchanges: Long = 0, scans: Long = 0,
    sortNs: Long = 0, aggNs: Long = 0, joinBuildNs: Long = 0, scanNs: Long = 0) {
  def +(o: OpTotals): OpTotals = OpTotals(exchanges + o.exchanges, scans + o.scans,
    sortNs + o.sortNs, aggNs + o.aggNs, joinBuildNs + o.joinBuildNs, scanNs + o.scanNs)
}

object OpTotals {
  /** Walks a finished plan: the final adaptive plan, its query stages and
    * the plans of its subqueries. Reused exchanges are not counted again.
    */
  def of(plan: SparkPlan): OpTotals = {
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries
    }
    def self(p: SparkPlan): OpTotals = {
      def ns(name: String): Long = p.metrics.get(name).map { m =>
        m.metricType match {
          case "nsTiming" => m.value
          case "timing" => m.value * 1000000L
          case _ => 0L
        }
      }.getOrElse(0L)
      OpTotals(
        exchanges = if (p.isInstanceOf[Exchange]) 1 else 0,
        scans = if (p.children.isEmpty && p.nodeName.contains("Scan")) 1 else 0,
        sortNs = ns("sortTime"), aggNs = ns("aggTime"),
        joinBuildNs = ns("buildTime"), scanNs = ns("scanTime"))
    }
    def walk(p: SparkPlan): OpTotals = kids(p).map(walk).foldLeft(self(p))(_ + _)
    walk(plan)
  }
}

/** Codegen work done so far in this JVM (Spark's process-wide counters). */
final case class CodegenSnap(compiles: Long, compileNs: Long, classBytes: Double) {
  def -(o: CodegenSnap): CodegenSnap =
    CodegenSnap(compiles - o.compiles, compileNs - o.compileNs, classBytes - o.classBytes)
  def +(o: CodegenSnap): CodegenSnap =
    CodegenSnap(compiles + o.compiles, compileNs + o.compileNs, classBytes + o.classBytes)
}

object CodegenSnap {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  /** `classBytes` is the generated-class count times the mean class size
    * in the histogram's reservoir: Spark keeps no byte total.
    */
  def now(): CodegenSnap = {
    val cls = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    CodegenSnap(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime, cls.getCount * cls.getSnapshot.getMean)
  }
}

/** The listener the traced run attaches from outside the program: Spark
  * scheduler events, plus the executed plan of every finished query.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private var c = Counters()
  private var plans = Vector.empty[SparkPlan]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val delay = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      c = c.copy(
        tasks = c.tasks + 1,
        runNs = c.runNs + m.executorRunTime * 1000000L,
        cpuNs = c.cpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        delayMs = c.delayMs + math.max(0L, delay),
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans :+= qe.executedPlan }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Counters after every event queued so far has been handled. */
  def snapshot(spark: SparkSession): Counters = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized(c)
  }

  /** Starts a new high-water mark for peak execution memory. */
  def resetPeak(): Unit = synchronized { c = c.copy(peakExecMem = 0) }

  /** Operator totals of the queries finished since the last call. */
  def takeOps(spark: SparkSession): OpTotals = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val ps = synchronized { val p = plans; plans = Vector.empty; p }
    ps.map(OpTotals.of).foldLeft(OpTotals())(_ + _)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
