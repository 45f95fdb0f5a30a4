package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the run. Times are epoch microseconds, the clock Spark's
  * listener events use (at millisecond resolution). `parent` is -1 for a
  * root; `op` is -1 outside any operation.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

/** In-memory span recorder. Harness spans nest by call structure; Spark
  * job spans are added from listener events and parented afterwards, by
  * time, to the innermost harness span that contains them.
  */
final class Spans {
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0
  var op: Int = -1

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push((id, name, nowUs))
    try body
    finally {
      val (_, _, start) = open.pop()
      done += Span(id, name, start, nowUs, parent, op)
    }
  }

  /** Adds the Spark job intervals of the current operation, each parented
    * to the innermost of its spans that contains the job's midpoint, else
    * to the operation's root span.
    */
  def addJobs(jobs: Seq[(Long, Long)]): Unit = {
    val mine = done.filter(_.op == op).sortBy(sp => sp.end - sp.start)
    jobs.foreach { case (s, e) =>
      val mid = (s + e) / 2
      val host = mine.find(sp => sp.start <= mid && mid <= sp.end).orElse(mine.lastOption)
      done += Span(nextId, "spark.job", s, e, host.map(_.id).getOrElse(-1), op)
      nextId += 1
    }
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)
}

/** Per-operation counters from the Spark listener bus, the planning
  * tracker of every executed query and the JVM's collectors. Events are
  * summed from [[reset]] until [[harvest]], which first waits for the
  * listener bus to deliver everything already posted.
  */
final class Counters(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val Keys = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "shuffle.write_bytes", "shuffle.write_records", "shuffle.read_bytes",
    "spill.disk_bytes", "spill.memory_bytes", "io.input_bytes", "io.input_records",
    "io.output_bytes", "io.output_records", "plan.analysis_ms", "plan.optimization_ms",
    "plan.physical_ms", "plan.executions", "jvm.gc_s")
  private val c = mutable.LinkedHashMap.from(Keys.map(_ -> 0.0))
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private var gc0 = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s * 1000L, e.time * 1000L)))
    c("exec.jobs") += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c("exec.stages") += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      c("exec.tasks") += 1
      c("exec.task_run_s") += m.executorRunTime / 1e3
      c("exec.task_cpu_s") += m.executorCpuTime / 1e9
      c("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle.write_records") += m.shuffleWriteMetrics.recordsWritten
      c("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("spill.disk_bytes") += m.diskBytesSpilled
      c("spill.memory_bytes") += m.memoryBytesSpilled
      c("io.input_bytes") += m.inputMetrics.bytesRead
      c("io.input_records") += m.inputMetrics.recordsRead
      c("io.output_bytes") += m.outputMetrics.bytesWritten
      c("io.output_records") += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)
  private def plan(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    c("plan.analysis_ms") += ms("analysis")
    c("plan.optimization_ms") += ms("optimization")
    c("plan.physical_ms") += ms("planning")
    c("plan.executions") += 1
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    PerfBenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def reset(): Unit = {
    PerfBenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      Keys.foreach(c(_) = 0.0)
      jobs.clear()
      jobStart.clear()
    }
    gc0 = gcMs
  }

  /** The counters and job intervals since the last [[reset]]. */
  def harvest(): (Map[String, Double], Seq[(Long, Long)]) = {
    PerfBenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      c("jvm.gc_s") += (gcMs - gc0) / 1e3
      (c.toMap, jobs.toSeq)
    }
  }
}
