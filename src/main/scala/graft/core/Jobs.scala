package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Driver-side collection of bounded statistics results. */
object Jobs {

  private val ViewSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** One dedicated statistics session per parent session: shares the
    * SparkContext and SharedState (same executors, same cached data) but
    * owns its own SessionState with AQE permanently off — so running a
    * stat collect never mutates the caller's conf. The child mirrors the
    * caller's CURRENT session conf (timezone, ANSI mode, case
    * sensitivity and anything else `spark.conf.set` changed after
    * startup — a bare `newSession()` would snapshot the context-level
    * conf and silently drop runtime overrides; `cloneSession` would be
    * ideal but is `private[sql]`): each call snapshots `conf.getAll`
    * (sub-ms) and REBUILDS the child only when the snapshot changed,
    * because the rebuild itself — one session + ~300 validated sets with
    * static-conf rejections — costs real milliseconds that a hot
    * solver loop (MICE, IRLS, Lloyd) would pay per iteration.
    * Cardinality is bounded by live SparkSessions in the JVM.
    */
  private final case class StatChild(child: SparkSession, snapshot: Map[String, String])

  private val StatSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, StatChild]()

  private def statSession(parent: SparkSession): SparkSession = {
    val snap = parent.conf.getAll
    // compute() makes the snapshot check + rebuild atomic per parent, so two
    // threads racing on the same parent can't both rebuild and leak a child.
    StatSessions.compute(
      parent,
      (_, cached) =>
        if (cached != null && cached.snapshot == snap) cached
        else {
          val s = parent.newSession()
          snap.foreach { case (key, v) =>
            try s.conf.set(key, v)
            catch { case _: Exception => () }
          }
          s.conf.set("spark.sql.adaptive.enabled", "false")
          StatChild(s, snap)
        }
    ).child
  }

  /** Collect a driver-bounded statistics result (a one-row aggregate, a
    * capped distinct list, an argmax row) with AQE disabled for the
    * action: AQE materializes every exchange as its own query-stage JOB,
    * which doubles per-action scheduling overhead on tiny stat plans that
    * have nothing to re-optimize — one exchange, a handful of rows out.
    * Measured 0.25–0.3 s off the e2e pipeline's four stat jobs at sf0.1
    * (`SPARK_GRAFT_BENCH_ONLY=pipeline_e2e runMain graft.Bench` times the
    * chain; the AQE on/off A/B is
    * `git show 376bbd4:src/main/scala/graft/tools/AqeProbe.scala`);
    * corpus-scale queries keep AQE, where it earns its stages.
    *
    * The plan is re-bound onto a dedicated child session (AQE off) via a
    * per-call global temp view — all public API, and the caller's session
    * conf is NEVER touched, so a concurrent query on the caller's session
    * cannot observe a transient AQE-off window (the race the previous
    * set/restore implementation documented). Observed plans
    * (`Dataset.observe`) collect in-session instead: their metrics
    * listener is bound to the parent session's listener bus, and a
    * cross-session execution would leave `Observation.get` waiting
    * forever.
    */
  def collectFast(df: DataFrame): Array[Row] = {
    val parent = df.sparkSession
    if (parent.conf.get("spark.sql.adaptive.enabled", "true") == "false")
      return df.collect()
    val observed = df.queryExecution.logical.collectFirst {
      case m: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => m
    }.isDefined
    if (observed) return df.collect()
    val name = s"graft_statfast_${ViewSeq.incrementAndGet()}"
    df.createOrReplaceGlobalTempView(name)
    try statSession(parent).table(s"global_temp.$name").collect()
    finally parent.catalog.dropGlobalTempView(name)
  }
}
