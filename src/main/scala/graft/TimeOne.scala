package graft

import graft.core.GraftSession

/** Single-query timing CLI for plan iteration: runs the named declared
  * queries under Bench's session ([[GraftSession.local]]) and force
  * ([[GraftSession.force]]) and prints one warm-up + per-round wall
  * times, so a hot spot can be profiled without paying for the full bench
  * suite. `SPARK_GRAFT_ROUNDS` sets the timed rounds (default 3).
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir  = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "3").toInt
    val spark  = GraftSession.local()

    def time(name: String): Double = {
      val t0 = System.nanoTime()
      GraftSession.force(SparkEntry.queries(name)(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }

    for (name <- args) {
      val warm = time(name)
      val timed = (1 to rounds).map(_ => time(name))
      println(
        f"$name%s warm=$warm%.3f " +
          timed.map(t => f"$t%.3f").mkString("rounds=[", ", ", "]") +
          f" min=${timed.min}%.3f")
    }
    spark.stop()
  }
}
