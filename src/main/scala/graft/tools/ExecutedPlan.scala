package graft.tools

import graft.core.GraftSession

/** Post-execution plan dump: runs the named declared queries under Bench's
  * session and force and prints `queryExecution.executedPlan` — the FINAL
  * adaptive plan, where runtime exchange/stage reuse (ReusedExchange,
  * repeated ShuffleQueryStage ids) is visible, unlike [[graft.Explain]]'s
  * pre-execution `isFinalPlan=false` view. Evidence tool for shuffle-count
  * claims (r17: the prefix-join shared id-exchange).
  */
object ExecutedPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    for (name <- args) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      GraftSession.force(df)
      println(s"\n===== $name (executed) =====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
