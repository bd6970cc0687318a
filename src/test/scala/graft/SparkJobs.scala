package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** What Spark ran while a block ran: the jobs it started, the physical
  * plan text of each SQL execution as it started, and each execution's
  * final plan — the last plan AQE reported for it (the starting plan when
  * AQE reported none), one line per operator, indented like `treeString`.
  * AQE's runtime decisions (a coalesced read, a dropped exchange) show
  * only in the final plan.
  */
final case class SparkJobs(jobs: Int, plans: Seq[String], finalPlans: Seq[String])

object SparkJobs {

  private sealed trait Seen
  private final case class Job(description: String) extends Seen
  private final case class Plan(executionId: Long, start: Option[String], info: SparkPlanInfo)
    extends Seen

  /** Listener events arrive asynchronously, so a marker job before and
    * after `body` brackets them: once the closing marker's start is seen,
    * every event posted before it has been delivered.
    */
  def during(spark: SparkSession)(body: => Unit): SparkJobs = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seen]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Job(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          seen.add(Plan(s.executionId, Some(s.physicalPlanDescription), s.sparkPlanInfo))
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          seen.add(Plan(u.executionId, None, u.sparkPlanInfo))
        case _ =>
      }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(Job(name)) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(Job(name)), s"listener never saw marker job $name")
    }
    sc.addSparkListener(listener)
    try {
      marker("graft-jobs-open")
      body
      marker("graft-jobs-close")
      val all = scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
      val inside = all.slice(all.indexOf(Job("graft-jobs-open")) + 1, all.indexOf(Job("graft-jobs-close")))
      val plans = inside.collect { case p: Plan => p }
      val started = plans.filter(_.start.isDefined)
      val last = plans.groupMapReduce(_.executionId)(_.info)((_, later) => later)
      SparkJobs(inside.count(_.isInstanceOf[Job]), started.flatMap(_.start),
        started.map(p => tree(last(p.executionId))))
    } finally sc.removeSparkListener(listener)
  }

  private def tree(info: SparkPlanInfo, depth: Int = 0): String =
    (("  " * depth + info.simpleString) +: info.children.map(tree(_, depth + 1))).mkString("\n")
}
