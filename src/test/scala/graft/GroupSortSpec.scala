package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.lang.Graft
import graft.sources.ZngIO

/** A keyed `summarize` emits key-sorted. Over a small input the sort runs
  * in the final aggregate's own task (`graft.operators.OneTaskSort`): no
  * range exchange, so no sampling job and no extra map stage. Every
  * result equals a driver-side sort of the unsorted aggregate.
  */
class GroupSortSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  /** 400 rows in four ZNG files: six keys `k`, a sum column `x`, and a
    * key `p` that is null on every seventh row.
    */
  private lazy val input: DataFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-groupsort").toString
    val rows = (1 to 400).map(i => (s"k${i % 6}", i.toLong, if (i % 7 == 0) null else s"p${i % 3}"))
    ZngIO.write(rows.toDF("k", "x", "p").repartition(4), s"$dir/z")
    val df = ZngIO.read(spark, s"$dir/z")
    assert(df.rdd.getNumPartitions == 4)
    df
  }

  private def run(q: String): (Seq[Row], SparkJobs) = {
    val in = input
    var rows: Seq[Row] = Nil
    val seen = SparkJobs.during(spark) { rows = Graft.queryOn(in, q).collect().toSeq }
    (rows, seen)
  }

  /** The unsorted aggregate, sorted on the driver by key, nulls last. */
  private def expected(key: String, agg: org.apache.spark.sql.Column): Seq[Row] =
    input.groupBy(col(key)).agg(agg).collect().toSeq
      .sortBy(r => (r.isNullAt(0), Option(r.getString(0)).getOrElse("")))

  /** `Coalesce 1` sits between the global sort and the final aggregate. */
  private def sortsInAggregateTask(plan: String): Boolean = {
    val lines = plan.split("\n").map(_.trim)
    val sort = lines.indexWhere(_.matches("""Sort \[.*\], true, \d+"""))
    val coalesce = lines.indexWhere(_ == "Coalesce 1")
    val agg = lines.indexWhere(l => l.contains("Aggregate(") && !l.contains("partial_"))
    sort >= 0 && sort < coalesce && coalesce < agg
  }

  test("a small keyed count(), sum() or max() runs two Spark jobs and sorts in the aggregate's task") {
    val counts = expected("k", count(lit(1)))
    for ((q, want) <- Seq(
        "count() by k" -> counts,
        "sum(x) by k" -> expected("k", sum(col("x"))),
        // a string max aggregates sort-based
        "max(p) by k" -> expected("k", max(col("p"))),
        // the filter runs below the sort, over the aggregate
        "count() by k | where count > 66" -> counts.filter(_.getLong(1) > 66),
        // a keys-only `by` is key-sorted the same way
        "by k" -> counts.map(r => Row(r.get(0))))) {
      val (rows, seen) = run(q)
      // the map stage and the result stage; a range exchange adds a
      // sampling job and its own map stage (4 jobs)
      assert(seen.jobs == 2, s"$q ran ${seen.jobs} Spark jobs")
      assert(seen.finalPlans.length == 1, seen.finalPlans)
      assert(sortsInAggregateTask(seen.finalPlans.head), seen.finalPlans.head)
      assert(!seen.finalPlans.head.contains("rangepartitioning"), seen.finalPlans.head)
      // the plan built before execution is Spark's own
      assert(seen.plans.head.contains("rangepartitioning"), seen.plans.head)
      assert(rows == want, q)
    }
  }

  test("a sort right after the aggregate drops its exchange too; ties keep key order") {
    val (rows, seen) = run("count() by k | sort -r count")
    assert(seen.jobs == 2, s"ran ${seen.jobs} Spark jobs")
    assert(!seen.finalPlans.head.contains("rangepartitioning"), seen.finalPlans.head)
    // a stable sort on the count over the key-sorted aggregate
    val want = expected("k", count(lit(1))).sortBy(r => -r.getLong(1))
    assert(rows == want)
    assert(rows.map(_.getString(0)) == Seq("k1", "k2", "k3", "k4", "k0", "k5"))
  }

  test("null keys still sort last") {
    val (rows, seen) = run("count() by p")
    assert(seen.jobs == 2, s"ran ${seen.jobs} Spark jobs")
    assert(rows.last.isNullAt(0) && rows.init.forall(!_.isNullAt(0)), rows)
    assert(rows == expected("p", count(lit(1))))
  }

  test("a group-by above AQE's one-partition size keeps its range exchange") {
    val lowered = Seq(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val before = lowered.map(k => k -> spark.conf.getOption(k))
    try {
      lowered.foreach(spark.conf.set(_, "16b"))
      val (rows, seen) = run("count() by k")
      assert(seen.finalPlans.head.contains("rangepartitioning"), seen.finalPlans.head)
      assert(!sortsInAggregateTask(seen.finalPlans.head), seen.finalPlans.head)
      assert(rows == expected("k", count(lit(1))))
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a user's range partitioning of a small aggregate is left alone") {
    val in = input
    var n = 0
    val seen = SparkJobs.during(spark) {
      n = in.groupBy("k").count().repartitionByRange(2, col("k")).collect().length
    }
    assert(n == 6)
    assert(seen.finalPlans.head.contains("rangepartitioning"), seen.finalPlans.head)
  }
}
