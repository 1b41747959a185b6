package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine layer, seen through Spark's public hooks: a
  * SparkListener for jobs, stages and task metrics, a
  * QueryExecutionListener for the planning phases the query's
  * QueryPlanningTracker recorded, and the codegen compile-time
  * counter. Registered by the harness on the session it measures. */
final class EngineProbe extends SparkListener with QueryExecutionListener {
  val planNs, taskRunMs, taskCpuNs, gcMs, stages, tasks = new AtomicLong
  val shuffleWrite, shuffleRead, spill, peakExecMem = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Integer, String]()
  /** Input bytes read by the stages of jobs run under each tag. */
  val inputByTag = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  /** (start, end) of every finished job, in epoch ms. */
  val jobs = ArrayBuffer[(Long, Long)]()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.synchronized { jobs += ((s.longValue, e.time)) })
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(EngineProbe.TagKey)))
      .foreach(t => stageTag.put(e.stageInfo.stageId, t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      Option(stageTag.get(e.stageId)).foreach(t =>
        inputByTag.computeIfAbsent(t, _ => new AtomicLong).addAndGet(m.inputMetrics.bytesRead))
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def jobCount: Int = jobs.synchronized { jobs.size }

  def taggedInputBytes(tag: String): Long = Option(inputByTag.get(tag)).map(_.get).getOrElse(0L)

  /** Wait until the listener bus has delivered everything posted so
    * far: the task count stops moving for 300 ms (at most 5 s). */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 50) {
      Thread.sleep(100); waited += 1
      val n = tasks.get() + stages.get() + jobCount
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  import EngineProbe.Snap

  def snap(): Snap = Snap(planNs.get, CodeGenerator.compileTime, taskRunMs.get, taskCpuNs.get,
    gcMs.get, stages.get, tasks.get, shuffleWrite.get, shuffleRead.get, spill.get)

  /** Seconds of [from, to] (epoch ms) covered by at least one job. */
  def jobBusySeconds(fromMs: Long, toMs: Long): Double = {
    val iv = jobs.synchronized(jobs.toList)
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1000.0
  }

  /** The engine.* per-layer metrics for counter deltas `d`, taken over
    * rounds whose jobs kept the engine busy for `busyS` seconds and
    * whose harness-timed operations took `opWallS`. */
  def metrics(d: Snap, busyS: Double, opWallS: Double, cores: Int): Map[String, Double] = {
    val run = d.taskRunMs / 1000.0
    Map(
      "engine.plan_s" -> d.planNs / 1e9,
      "engine.codegen_compile_s" -> d.codegenNs / 1e9,
      "engine.driver_s" -> math.max(0.0, opWallS - busyS),
      "engine.task_run_s" -> run,
      "engine.task_cpu_s" -> d.taskCpuNs / 1e9,
      "engine.gc_s" -> d.gcMs / 1000.0,
      "engine.core_busy_share" -> (if (busyS > 0) run / (busyS * cores) else 0.0),
      "engine.stages" -> d.stages.toDouble,
      "engine.tasks" -> d.tasks.toDouble,
      "engine.shuffle_write_bytes" -> d.shuffleWrite.toDouble,
      "engine.shuffle_read_bytes" -> d.shuffleRead.toDouble,
      "engine.spill_bytes" -> d.spill.toDouble,
      "engine.peak_exec_mem_mb" -> peakExecMem.get / (1024.0 * 1024.0))
  }
}

object EngineProbe {
  final case class Snap(planNs: Long, codegenNs: Long, taskRunMs: Long, taskCpuNs: Long,
                        gcMs: Long, stages: Long, tasks: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long) {
    private def zip(o: Snap)(f: (Long, Long) => Long) = Snap(f(planNs, o.planNs),
      f(codegenNs, o.codegenNs), f(taskRunMs, o.taskRunMs), f(taskCpuNs, o.taskCpuNs),
      f(gcMs, o.gcMs), f(stages, o.stages), f(tasks, o.tasks), f(shuffleWrite, o.shuffleWrite),
      f(shuffleRead, o.shuffleRead), f(spill, o.spill))
    def +(o: Snap): Snap = zip(o)(_ + _)
    def -(o: Snap): Snap = zip(o)(_ - _)
  }

  object Snap {
    val Zero = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  }

  /** Local property naming the harness stage a job belongs to. */
  val TagKey = "perfbench.tag"

  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, null)
  }
}
