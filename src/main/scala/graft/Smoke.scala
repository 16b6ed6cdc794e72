package graft

import graft.core.GraftSession

/** Local smoke CLI mirroring the driver's entry check: runs
  * `SparkEntry.entry` (flagship on sf0.001) and prints the result + row
  * count.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val df    = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
