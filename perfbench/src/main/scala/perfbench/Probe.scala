package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run: a call into one layer, made by one op. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long)

/** Per-op counters taken from outside the program: a SparkListener for
  * the `engine` layer, a QueryExecutionListener for the `plan` layer,
  * the codegen compile counter and compile-time log line for the
  * `codegen` layer. Events arrive on Spark's listener bus, so the
  * caller drains the bus at the end of an op before it reads them.
  * Job groups name the op ("op<id>:<phase>") so each event in the
  * trace is keyed by the op that caused it. */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext

  /** Counters of the op in flight; reset by [[take]]. */
  private final class Tally {
    var jobs, buildJobs, stages, tasks = 0L
    var runMs, gcMs, cpuNs, shuffleBytes, spillBytes, peakMem = 0L
    var launchWaitMs = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var compileMs = 0.0
    val taskSpans = mutable.ArrayBuffer[(Long, Long)]()
  }
  private var cur = new Tally
  private val jobSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val events = mutable.ArrayBuffer[String]()
  @volatile var enabled = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobSubmit.put(e.jobId, e.time)
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      cur.synchronized {
        cur.jobs += 1
        if (group != null && group.endsWith(":queries.build_s")) cur.buildJobs += 1
        events += s"""{"ev":"job","job":${e.jobId},"group":"$group","t":${e.time},"stages":${e.stageIds.size}}"""
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = if (enabled) {
      val job = stageJob.get(e.stageId)
      // the first task of a job closes its submit -> launch wait
      Option(jobSubmit.remove(job)).foreach { t0 =>
        cur.synchronized { cur.launchWaitMs += math.max(0L, e.taskInfo.launchTime - t0) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled)
      cur.synchronized { cur.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      val m = e.taskMetrics
      cur.synchronized {
        cur.tasks += 1
        cur.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        if (m != null) {
          cur.runMs += m.executorRunTime
          cur.cpuNs += m.executorCpuTime
          cur.gcMs += m.jvmGCTime
          cur.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          cur.spillBytes += m.diskBytesSpilled
          cur.peakMem = math.max(cur.peakMem, m.peakExecutionMemory)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      jobSubmit.remove(e.jobId) // a job whose stages were all skipped
      cur.synchronized {
        events += s"""{"ev":"job_end","job":${e.jobId},"t":${e.time}}"""
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (enabled) {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      cur.synchronized {
        cur.analysisMs += ms("analysis")
        cur.optimizationMs += ms("optimization")
        cur.planningMs += ms("planning")
      }
    }
  }

  /** Spark logs "Code generated in <ms> ms" once per compile; the
    * appender sums those times for the `codegen` layer. */
  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CompileLine = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("perfbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = if (enabled) {
      e.getMessage.getFormattedMessage match {
        case CompileLine(ms) => cur.synchronized { cur.compileMs += ms.toDouble }
        case _ => ()
      }
    }
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    cfg.addAppender(appender)
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  def uninstall(): Unit = {
    enabled = false
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(codegenLogger)
    ctx.updateLoggers()
    appender.stop()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compiles0 = 0L

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  /** Start counting for one op. */
  def begin(): Unit = {
    cur.synchronized { cur = new Tally }
    compiles0 = compiles
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Drain the bus and return the op's per-layer counters. */
  def take(wallStartMs: Long, wallEndMs: Long): Map[String, Double] = {
    org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(sc, 30000L)
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    val t = cur.synchronized { val x = cur; cur = new Tally; x }
    val mb = 1024.0 * 1024.0
    Map(
      "queries.build_jobs" -> t.buildJobs.toDouble,
      "plan.analysis_s" -> t.analysisMs / 1e3,
      "plan.optimization_s" -> t.optimizationMs / 1e3,
      "plan.planning_s" -> t.planningMs / 1e3,
      "codegen.compiles" -> (compiles - compiles0).toDouble,
      "codegen.compile_s" -> t.compileMs / 1e3,
      "engine.jobs" -> t.jobs.toDouble,
      "engine.stages" -> t.stages.toDouble,
      "engine.tasks" -> t.tasks.toDouble,
      "engine.task_run_s" -> t.runMs / 1e3,
      "engine.task_cpu_s" -> t.cpuNs / 1e9,
      "engine.gc_s" -> t.gcMs / 1e3,
      "engine.idle_s" -> idleMs(t.taskSpans.toSeq, wallStartMs, wallEndMs) / 1e3,
      "engine.launch_wait_s" -> t.launchWaitMs / 1e3,
      "engine.shuffle_write_mb" -> t.shuffleBytes / mb,
      "engine.spill_mb" -> t.spillBytes / mb,
      "engine.peak_exec_mem_mb" -> t.peakMem / mb,
      "jvm.heap_peak_mb" -> heapPeak / mb)
  }

  /** Listener events seen so far, as JSON lines, keyed by job group. */
  def drainEvents(): Seq[String] = cur.synchronized {
    val out = events.toList; events.clear(); out
  }

  /** Op wall time during which no task ran: the window minus the union
    * of the task intervals clipped to it. */
  private def idleMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var busy = 0L
    var at = lo
    for ((s0, e0) <- spans.sortBy(_._1)) {
      val s = math.max(s0, at); val e = math.min(e0, hi)
      if (e > s) { busy += e - s; at = e }
    }
    math.max(0L, (hi - lo) - busy)
  }
}

/** Persisted RDDs and cached plans an op leaves behind: counted, then
  * released, so the next op starts cold and the leak stays visible. */
object Leaks {
  def measureAndRelease(spark: SparkSession): (Int, Double, Boolean) = {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs
    val ids = persisted.keySet
    val bytes = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    val cachedPlans = !spark.sharedState.cacheManager.isEmpty
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (persisted.size, bytes / (1024.0 * 1024.0), cachedPlans)
  }
}
