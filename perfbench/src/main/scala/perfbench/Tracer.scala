package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer counters for a traced iteration, attached from outside the
  * engine: a `SparkListener` (jobs, stages, tasks, bytes, spill), a
  * `QueryExecutionListener` (the planning phases of `qe.tracker` and the
  * write node's commit metrics), and deltas of process-wide counters
  * ([[TimingParser]], Catalyst rule metering, `CodegenMetrics`,
  * [[CountingFileSystem]], Hadoop `FileSystem` statistics, JIT and GC
  * time). Events count only while [[active]]; the callbacks' own run time
  * is reported as the tracing overhead.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile private var active = false
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.Map.empty[Int, Long]
  private var base: Map[String, Double] = Map.empty
  private var callbackNs = 0L

  /** Run one callback, counting its own time: the tracer's overhead. */
  private def traced(f: => Unit): Unit = if (active) synchronized {
    val t0 = System.nanoTime()
    f
    callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = traced {
    jobStarts(e.jobId) = e.time
    sums("spark.jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = traced {
    jobStarts.remove(e.jobId).foreach(t0 => jobIntervals += (t0 -> e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    traced(sums("spark.stages") += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = traced {
    sums("spark.tasks") += 1
    if (e.reason != org.apache.spark.Success) sums("spark.task_failures") += 1
    Option(e.taskMetrics).foreach { m =>
      sums("spark.task_s") += m.executorRunTime / 1e3
      sums("spark.scan_mb") += m.inputMetrics.bytesRead / 1e6
      sums("spark.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
      sums("spark.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      sums("spark.output_mb") += m.outputMetrics.bytesWritten / 1e6
      sums("spark.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
    }
  }

  private def onExecution(qe: QueryExecution): Unit = traced {
    sums("spark.executions") += 1
    val phases = qe.tracker.phases
    Seq("analysis" -> "spark.analysis_s",
      "optimization" -> "spark.optimizer_s", "planning" -> "spark.planning_s")
      .foreach { case (p, k) => phases.get(p).foreach(s => sums(k) += s.durationMs / 1e3) }
    // commit time of file writes: the write command's own SQL metrics
    // (driver-side job commit plus the tasks' commit calls)
    foreach(qe.executedPlan) { node =>
      Seq("jobCommitTime", "taskCommitTime").foreach { m =>
        node.metrics.get(m).foreach(v => sums("spark.write_commit_s") += v.value / 1e3)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onExecution(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onExecution(qe)

  /** Process-wide counters; the traced figure is the delta over the region. */
  private def processCounters(): Map[String, Double] = {
    import org.apache.spark.metrics.source.CodegenMetrics
    def hist(h: com.codahale.metrics.Histogram): (Double, Double) = {
      // the reservoir holds every sample below 1028 of them — exact sums for
      // a cold process; beyond that, mean times count
      val snap = h.getSnapshot
      val sum = if (h.getCount <= snap.size) snap.getValues.sum.toDouble
        else snap.getMean * h.getCount
      (h.getCount.toDouble, sum)
    }
    val rules = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics()
    val (classes, bytes) = hist(CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE)
    val (_, compileMs) = hist(CodegenMetrics.METRIC_COMPILATION_TIME)
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Map(
      "spark.parse_s" -> TimingParser.nanos.get / 1e9,
      "spark.rule_s" -> rules.time / 1e9,
      "spark.rule_runs" -> rules.numRuns.toDouble,
      "spark.codegen_classes" -> classes,
      "spark.codegen_bytes_mb" -> bytes / 1e6,
      "spark.codegen_compile_s" -> compileMs / 1e3,
      "io.fs_read_ops" -> CountingFileSystem.reads.get.toDouble,
      "io.fs_write_ops" -> CountingFileSystem.writes.get.toDouble,
      "io.fs_bytes_written_mb" -> fs.map(_.getBytesWritten.toDouble).sum / 1e6,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.toDouble).sum / 1e3)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    base = processCounters()
    active = true
  }

  /** Stop counting and return every counter for the region
    * `[fromMs, toMs]` (epoch millis of the first call and the last result).
    */
  def stop(fromMs: Long, toMs: Long): Map[String, Double] = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    active = false
    val end = processCounters()
    val deltas = end.map { case (k, v) => k -> (v - base(k)) }
    // wall time of the region during which no Spark job was running
    val busy = synchronized {
      jobIntervals.map { case (a, b) => (a max fromMs, b min toMs) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, fromMs)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach) else (acc + (b - (a max reach)), b)
        }._1
    }
    val nojob = "driver.nojob_s" -> (toMs - fromMs - busy) / 1e3
    val callbackS = synchronized(callbackNs.toDouble) / 1e9
    val overhead = "trace.overhead_s" -> callbackS
    Tracer.counterNames.map(k => k -> 0.0).toMap ++ synchronized(sums.toMap) ++ deltas +
      nojob + overhead
  }
}

object Tracer {
  val counterNames: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.scan_mb",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.output_mb",
    "spark.spill_mb", "spark.write_commit_s", "spark.task_failures",
    "spark.executions", "spark.analysis_s", "spark.optimizer_s",
    "spark.planning_s")
}
