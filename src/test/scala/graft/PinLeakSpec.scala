package graft

import graft.core.{GraftSession, Pin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Pin hygiene over the whole query registry: once a declared query's
  * result is forced, every persistent RDD the query added is one that the
  * result's plan still reads. Anything else is a leak that holds executor
  * storage until RDD garbage collection happens to run. Garbage
  * collection can hide a leak but never invent one, so the check has no
  * exemptions.
  */
class PinLeakSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def reads(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }.toSet

  test("every declared query leaves behind only the pins its result reads") {
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, run) =>
      val before = persistent
      val result = run(spark, dir)
      GraftSession.force(result)
      val leaked = persistent -- before -- reads(result)
      // free what the result holds, so pins do not pile up across queries
      Pin.release(result)
      if (leaked.isEmpty) None else Some(s"$name: ${leaked.size} (rdd ${leaked.toSeq.sorted.mkString(",")})")
    }
    assert(leaks.isEmpty, s"pins no result reads:\n${leaks.mkString("\n")}")
  }
}
