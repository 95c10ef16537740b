package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds from a monotonic source, so benchmark spans and
  * listener events (epoch milliseconds) share one time axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** Process-level counters read around each timed call. */
object Proc {
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount

  /** CPU time of this JVM, all threads (driver, tasks, JIT, GC), in ns. */
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Aggregate /proc/stat cpu line: user, nice, system, idle, iowait,
    * irq, softirq, steal (USER_HZ ticks). Zeros where unreadable.
    */
  def cpuTicks: Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq
        .padTo(8, 0L)
      finally src.close()
    } catch { case _: Exception => Seq.fill(8)(0L) }

  /** Peak resident set (VmHWM) of this JVM in MB, 0 where unreadable. */
  def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}

/** Records the benchmark's own call spans (on the driver thread) and,
  * when tracing, Spark jobs, stages, persisted blocks and Catalyst phase
  * times through listeners registered from here. Raw records only: the
  * span tree, self times and per-layer sums are computed by the Python
  * side (`perfbench/stats.py`).
  */
final class Recorder(spark: SparkSession) {
  private val ids = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Long] = Nil

  /** Whether the listeners and the sub-call spans are on. */
  @volatile var tracing: Boolean = false

  /** Time `body` as a span of `kind`; `attrs` is filled after the body
    * returns, with the body's result available.
    */
  def span[T](kind: String, name: String, always: Boolean = true)(body: => T)
      (attrs: T => Map[String, Any] = (_: T) => Map.empty[String, Any]): T = {
    if (!always && !tracing) return body
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val gc0 = Proc.gcMs
    val cg0 = Proc.compiles
    val cpu0 = Proc.cpuNs
    val t0 = Clock.nowUs
    val n0 = System.nanoTime()
    var failed = false
    var res: Option[T] = None
    try {
      res = Some(body)
      res.get
    } catch {
      case e: Throwable => failed = true; throw e
    } finally {
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = Clock.nowUs
      stack = stack.tail
      spans += (Map[String, Any](
        "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_us" -> t0, "end_us" -> t1, "wall_s" -> wall,
        "traced" -> tracing, "failed" -> failed,
        "gc_s" -> (Proc.gcMs - gc0) / 1e3,
        "cpu_s" -> (Proc.cpuNs - cpu0) / 1e9,
        "compiles" -> (Proc.compiles - cg0)) ++
        res.map(attrs).getOrElse(Map.empty))
    }
  }

  /** Attach attributes to the most recent span of `kind`. */
  def annotate(kind: String, extra: Map[String, Any]): Unit = {
    val i = spans.lastIndexWhere(_("kind") == kind)
    if (i >= 0) spans(i) = spans(i) ++ extra
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq

  // ---- listeners (registered only while tracing) ----

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val qes = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val persisted = new AtomicLong(0L)
  private val persistLog = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      js.stageIds.foreach(s => stageJob.put(s, js.jobId))
      jobStart.put(js.jobId, Map("job" -> js.jobId, "desc" -> desc,
        "start_us" -> js.time * 1000L, "stages_planned" -> js.stageIds.size))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(je.jobId)).foreach { m =>
        jobs.add(m ++ Map("end_us" -> je.time * 1000L,
          "ok" -> (je.jobResult == JobSucceeded)))
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val tm = si.taskMetrics
      if (tm != null) stages.add(Map(
        "stage" -> si.stageId, "attempt" -> si.attemptNumber(),
        "job" -> Option(stageJob.get(si.stageId)).getOrElse(-1),
        "start_us" -> si.submissionTime.getOrElse(0L) * 1000L,
        "end_us" -> si.completionTime.getOrElse(0L) * 1000L,
        "tasks" -> si.numTasks,
        "run_s" -> tm.executorRunTime / 1e3,
        "cpu_s" -> tm.executorCpuTime / 1e9,
        "input_records" -> tm.inputMetrics.recordsRead,
        "shuffle_records" -> tm.shuffleReadMetrics.recordsRead,
        "output_bytes" -> tm.outputMetrics.bytesWritten))
    }
    override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = {
      val i = bu.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid) {
        val total = persisted.addAndGet(i.memSize + i.diskSize)
        persistLog.add(Map("t_us" -> Clock.nowUs, "bytes_total" -> total))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)
  }

  /** Catalyst phase times of one executed plan. */
  def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    qes.add(Map("t_us" -> Clock.nowUs, "analysis_s" -> ms("analysis"),
      "optimization_s" -> ms("optimization"), "planning_s" -> ms("planning")))
  }

  def startTracing(): Unit = if (!tracing) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    tracing = true
  }

  def stopTracing(): Unit = if (tracing) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    tracing = false
  }

  def drain(): Unit = org.apache.spark.graft.Listeners.drain(spark.sparkContext)

  def listenerRecords: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "catalyst" -> qes.asScala.toSeq, "persist" -> persistLog.asScala.toSeq)
}

/** JSON rendering of the result record (Maps, Seqs, Options, numbers,
  * strings), with Jackson's Scala module from Spark's jars.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
