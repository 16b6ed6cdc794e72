package graft

import graft.core.GraftSession

/** Plan-inspection CLI: prints the formatted physical plan for the named
  * declared queries (all of them with no args) under Bench's session and
  * `SPARK_GRAFT_SF_DIR` default — used to audit pushdown, broadcast
  * choice, and shuffle counts per query.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir   = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
