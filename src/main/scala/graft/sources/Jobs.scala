package graft.sources

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD

/** Driver-side Spark jobs run through one `runJob` overload, the one that
  * cleans only the function it is given. Spark's ClosureCleaner returns
  * at once for a function that is not a closure; for a lambda it reads
  * and parses the bytecode of the class that defines it, on every job,
  * and `RDD.collect`, `count` and `toLocalIterator` each add lambdas of
  * their own (defined in `RDD` and `SparkContext`). So callers pass a
  * named function class, and no job here makes a lambda Spark cleans.
  */
private[sources] object Jobs {

  /** `f`'s result for each of partitions `parts` of `rdd`, in that order,
    * from one job.
    */
  private def run[T, U: ClassTag](rdd: RDD[T], f: (TaskContext, Iterator[T]) => U, parts: Seq[Int]): Array[U] = {
    val out = new Array[U](parts.length)
    rdd.sparkContext.runJob(rdd, f, parts, (i: Int, u: U) => out(i) = u)
    out
  }

  /** `f`'s result for every partition of `rdd`, in order, from one job. */
  def all[T, U: ClassTag](rdd: RDD[T], f: (TaskContext, Iterator[T]) => U): Array[U] =
    run(rdd, f, rdd.partitions.indices)

  /** `f`'s result for each partition of `rdd`, in order, one job per
    * partition as the caller reads (Spark's `toLocalIterator` order).
    */
  def each[T, U: ClassTag](rdd: RDD[T], f: (TaskContext, Iterator[T]) => U): Iterator[U] =
    rdd.partitions.indices.iterator.map(p => run(rdd, f, Seq(p)).head)
}
