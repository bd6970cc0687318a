package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What Spark ran while a block ran: the jobs it started and the
  * physical plan text of each SQL execution.
  */
final case class SparkJobs(jobs: Int, plans: Seq[String])

object SparkJobs {

  /** Listener events arrive asynchronously, so a marker job before and
    * after `body` brackets them: once the closing marker's start is seen,
    * every event posted before it has been delivered.
    */
  def during(spark: SparkSession)(body: => Unit): SparkJobs = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Left(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => seen.add(Right(s.physicalPlanDescription))
        case _ =>
      }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(Left(name)) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(Left(name)), s"listener never saw marker job $name")
    }
    sc.addSparkListener(listener)
    try {
      marker("graft-jobs-open")
      body
      marker("graft-jobs-close")
      val all = scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
      val inside = all.slice(all.indexOf(Left("graft-jobs-open")) + 1, all.indexOf(Left("graft-jobs-close")))
      SparkJobs(inside.count(_.isLeft), inside.collect { case Right(p) => p })
    } finally sc.removeSparkListener(listener)
  }
}
