package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into the program, with
  * the engine work each span caused.
  *
  * Jobs are attributed through a job group set around each span's body
  * (`pb-<span id>`); stages inherit their job's span. Planning time
  * (analysis + optimization + planning, from `QueryExecution.tracker`)
  * arrives on the listener bus without a job group, so the bus is
  * drained at every span boundary and the queries delivered in between
  * belong to the innermost open span. Spans are only recorded while a
  * tracer is installed: untraced runs register no listener.
  */
final class Tracer(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism

  final class Span(val id: Int, val name: String, val parent: Int,
                   val startNs: Long) {
    var endNs: Long = -1L
    @volatile var jobs, stages, tasks, taskMs, shuffleBytes, spillBytes,
      gcMs = 0L
    var planningMs = 0.0
    val counters = mutable.LinkedHashMap.empty[String, Double]
  }

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack = List.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val planning = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  @volatile private var unattributedJobs = 0L

  private val jobListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val group = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      Option(if (group.startsWith("pb-")) byId.get(group.drop(3).toInt) else null) match {
        case Some(s) =>
          s.jobs += 1
          j.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
        case None => if (stack.nonEmpty) unattributedJobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        val m = e.stageInfo.taskMetrics
        s.stages += 1
        s.tasks += e.stageInfo.numTasks
        if (m != null) {
          s.taskMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.gcMs += m.jvmGCTime
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = planning.add(
      Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum: java.lang.Double)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(queryListener)

  /** Drain the bus and bill the planning it delivered to the open span. */
  private def settle(): Unit = {
    PerfbenchBus.drain(sc)
    var p = planning.poll()
    while (p != null) {
      stack.headOption.foreach(_.planningMs += p.doubleValue)
      p = planning.poll()
    }
  }

  private def setGroup(): Unit = stack.headOption match {
    case Some(s) => sc.setJobGroup(s"pb-${s.id}", s.name)
    case None => sc.clearJobGroup()
  }

  def span[T](name: String)(body: => T): T = {
    settle()
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime())
    spans += s
    byId.put(s.id, s)
    stack = s :: stack
    setGroup()
    try body
    finally {
      settle()
      s.endNs = System.nanoTime()
      stack = stack.tail
      setGroup()
    }
  }

  /** Add to a counter of the innermost open span. */
  def count(name: String, v: Double): Unit =
    stack.headOption.foreach(s => s.counters(name) = s.counters.getOrElse(name, 0.0) + v)

  /** Unregister the listeners; the spans as records, times in seconds
    * since the tracer started.
    */
  def finish(): Map[String, Any] = {
    settle()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    def sec(ns: Long) = (ns - t0) / 1e9
    Map("run" -> runId, "cores" -> cores, "unattributed_jobs" -> unattributedJobs,
      "spans" -> spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_s" -> sec(s.startNs), "end_s" -> sec(s.endNs),
          "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
          "task_s" -> s.taskMs / 1e3, "shuffle_bytes" -> s.shuffleBytes,
          "spill_bytes" -> s.spillBytes, "gc_s" -> s.gcMs / 1e3,
          "planning_ms" -> s.planningMs, "counters" -> s.counters)
      })
  }
}
