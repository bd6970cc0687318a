package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch nanoseconds read from the monotonic clock after one anchor: spans
  * nest exactly, and Spark's epoch-millisecond event times line up with
  * them to within a millisecond.
  */
object Clock {
  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  def now(): Long = anchorEpochNs + (System.nanoTime() - anchorNano)
}

/** Process-wide counters the traced run samples: GC (MXBeans), bytes read
  * through read syscalls (/proc/self/io rchar) and peak RSS (VmHWM).
  */
object Proc {
  private def procField(file: String, key: String): Long =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().collectFirst {
        case l if l.startsWith(key) => l.drop(key.length).trim.takeWhile(_.isDigit).toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }

  def rchar(): Long = procField("/proc/self/io", "rchar:")
  def hwmKb(): Long = procField("/proc/self/status", "VmHWM:")

  def gc(): (Long, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).filter(_ >= 0).sum, beans.map(_.getCollectionCount).filter(_ >= 0).sum)
  }
}

/** Reads the ZNG scan's DSv2 custom metrics out of an executed plan,
  * through adaptive query stages and subqueries.
  */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  private val wanted = Set("framesRead", "framesSkipped")
  def of(qe: QueryExecution): Map[String, Long] =
    try collectWithSubqueries(qe.executedPlan) { case p => p.metrics.toSeq }
      .flatten.filter(m => wanted(m._1))
      .groupBy(_._1).map { case (k, ms) => k -> ms.map(_._2.value).sum }
    catch { case _: Exception => Map.empty }
}

/** Spans and Spark events of the traced run, kept in memory and dumped
  * once at the end. With `on = false` every method is a pass-through, so
  * the untraced run pays nothing but a branch.
  */
final class Trace(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val qes = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val currentOp = new ThreadLocal[String] { override def initialValue(): String = "" }
  val jobs = new JobListener

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        recordQe(qe, "listener")
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Run `body` as op `id`: its Spark jobs carry the op id as job group
    * and its spans the op id as owner. The job group is set in both modes
    * so the untraced run does the same work.
    */
  def op[T](spark: SparkSession, id: String, name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
    currentOp.set(id)
    try span("op", attrs + ("op_name" -> name))(body)
    finally { currentOp.set(""); spark.sparkContext.clearJobGroup() }
  }

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val start = Clock.now()
      try body
      finally {
        val end = Clock.now()
        stack.set(stack.get.tail)
        spans.add(Map("op" -> currentOp.get, "id" -> id, "parent" -> parent, "name" -> name,
          "start" -> start, "end" -> end) ++ attrs)
      }
    }

  /** Record a query execution the benchmark ran itself (writes go through
    * `queryExecution.toRdd`, which the listener does not see).
    */
  def direct(qe: QueryExecution): Unit = if (on) recordQe(qe, "direct")

  private def recordQe(qe: QueryExecution, via: String): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Seq(p.startTimeMs * 1000000L, p.endTimeMs * 1000000L) }
    qes.add(Map("qe" -> qe.id, "via" -> via, "seen" -> Clock.now(), "phases" -> phases) ++
      PlanMetrics.of(qe))
  }

  /** Wait until every event posted so far has reached the listeners: the
    * listener bus is FIFO, so once a marker job's end arrives, so has
    * everything before it.
    */
  def drain(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.setJobGroup("drain", "drain", interruptOnCancel = false)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (!jobs.sawEndOf("drain") && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def dump(): Map[String, Any] =
    Map("spans" -> spans.asScala.toSeq, "qes" -> qes.asScala.toSeq, "jobs" -> jobs.snapshot())
}

/** Aggregates task metrics per Spark job (stage→job from job start). */
final class JobListener extends SparkListener {
  private final class Agg(val id: Int, val group: String, val start: Long) {
    var end = 0L
    val m = mutable.LinkedHashMap[String, Long](
      "stages" -> 0L, "tasks" -> 0L, "run_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L,
      "peak_mem" -> 0L, "spill" -> 0L, "shuffle_read" -> 0L, "shuffle_write" -> 0L,
      "result" -> 0L, "in_bytes" -> 0L, "in_records" -> 0L, "out_bytes" -> 0L)
  }
  private val jobsById = mutable.LinkedHashMap.empty[Int, Agg]
  private val jobOfStage = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobsById(e.jobId) = new Agg(e.jobId, group, e.time * 1000000L)
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    jobOfStage.get(e.stageInfo.stageId).flatMap(jobsById.get).foreach(a => a.m("stages") += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tm = e.taskMetrics
    for (jid <- jobOfStage.get(e.stageId); a <- jobsById.get(jid) if tm != null) {
      val m = a.m
      m("tasks") += 1
      m("run_ms") += tm.executorRunTime
      m("cpu_ns") += tm.executorCpuTime
      m("gc_ms") += tm.jvmGCTime
      m("peak_mem") = math.max(m("peak_mem"), tm.peakExecutionMemory)
      m("spill") += tm.memoryBytesSpilled + tm.diskBytesSpilled
      m("shuffle_read") += tm.shuffleReadMetrics.totalBytesRead
      m("shuffle_write") += tm.shuffleWriteMetrics.bytesWritten
      m("result") += tm.resultSize
      m("in_bytes") += tm.inputMetrics.bytesRead
      m("in_records") += tm.inputMetrics.recordsRead
      m("out_bytes") += tm.outputMetrics.bytesWritten
    }
  }

  def sawEndOf(group: String): Boolean = synchronized {
    jobsById.values.exists(a => a.group == group && a.end > 0)
  }

  def snapshot(): Seq[Map[String, Any]] = synchronized {
    jobsById.values.toSeq.map(a =>
      Map("job" -> a.id, "group" -> a.group, "start" -> a.start, "end" -> a.end) ++ a.m)
  }
}
