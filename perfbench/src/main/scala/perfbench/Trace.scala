package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval: a layer call, a sink, or a whole workload iteration.
  * Times are epoch milliseconds (job records from the listener use the same
  * clock) plus a nanosecond duration for the span itself.
  */
final case class Span(
    id: Long,
    runId: String,
    name: String,
    layer: String,
    parent: Long,
    startMs: Long,
    endMs: Long,
    durS: Double)

/** Spark job as the listener saw it, with the task metrics of its stages. */
final class JobRec(val jobId: Int, val group: String, val startMs: Long) {
  var endMs: Long            = startMs
  var tasks: Long            = 0L
  var cpuNs: Long            = 0L
  var inputBytes: Long       = 0L
  var shuffleWriteBytes: Long = 0L
  var outputBytes: Long      = 0L
}

/** Collects jobs and their task metrics while registered. Job-to-span
  * attribution reads the job group the tracer sets around each layer call.
  */
final class JobListener extends SparkListener {
  private val jobs       = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = new JobRec(e.jobId, group.getOrElse(""), e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      jobId <- stageToJob.get(e.stageId)
      j     <- jobs.get(jobId)
    } {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toVector)
}

/** In-memory span recorder for one traced iteration. Each layer span runs
  * under its own job group, so every job Spark starts on the calling thread
  * inside the span is attributed to it.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  private val done  = mutable.ArrayBuffer.empty[Span]
  private var next  = 1L
  val listener      = new JobListener

  sc.addSparkListener(listener)

  def group(spanId: Long): String = s"perfbench-$runId-$spanId"

  def span[T](name: String, layer: String, parent: Long)(f: Long => T): T = {
    val id = next
    next += 1
    val t0Ms = System.currentTimeMillis()
    val t0   = System.nanoTime()
    if (layer != Tracer.RootLayer) sc.setJobGroup(group(id), name, interruptOnCancel = false)
    try f(id)
    finally {
      if (layer != Tracer.RootLayer) sc.clearJobGroup()
      done += Span(id, runId, name, layer, parent, t0Ms, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Stops listening and returns the spans and every job seen meanwhile. */
  def finish(): (Seq[Span], Seq[JobRec]) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    (done.toVector, listener.snapshot())
  }
}

object Tracer {
  val RootLayer = "iteration"

  val Metrics: Seq[String] =
    Seq("self_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "input_mb", "shuffle_write_mb", "output_mb")

  /** Per-layer totals for one traced iteration, plus the count of jobs that
    * no span claimed (`unattributed`). A job belongs to a span when it ran
    * under the span's job group and started inside the span; a pooled
    * thread that inherited an older span's group fails the second test.
    */
  def layerTotals(tracer: Tracer, spans: Seq[Span], jobs: Seq[JobRec]): (Map[String, Map[String, Double]], Int) = {
    val byGroup = spans.filter(_.layer != RootLayer).map(s => tracer.group(s.id) -> s).toMap
    val owned   = mutable.HashMap.empty[Long, mutable.ArrayBuffer[JobRec]]
    var unattributed = 0
    jobs.foreach { j =>
      byGroup.get(j.group) match {
        case Some(s) if j.startMs >= s.startMs && j.startMs <= s.endMs =>
          owned.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += j
        case _ => unattributed += 1
      }
    }
    val children = spans.groupBy(_.parent)
    val totals   = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
    spans.filter(_.layer != RootLayer).foreach { s =>
      val t   = totals.getOrElseUpdate(s.layer, mutable.LinkedHashMap(Metrics.map(_ -> 0.0): _*))
      val mine = owned.getOrElse(s.id, mutable.ArrayBuffer.empty[JobRec]).toSeq
      val childS = covered(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)), s) / 1e3
      val jobS   = covered(mine.map(j => (j.startMs, j.endMs)), s) / 1e3
      t("self_s") += math.max(0.0, s.durS - childS)
      t("driver_s") += math.max(0.0, s.durS - jobS)
      t("jobs") += mine.size
      t("tasks") += mine.map(_.tasks).sum
      t("exec_cpu_s") += mine.map(_.cpuNs).sum / 1e9
      t("input_mb") += mine.map(_.inputBytes).sum / 1e6
      t("shuffle_write_mb") += mine.map(_.shuffleWriteBytes).sum / 1e6
      t("output_mb") += mine.map(_.outputBytes).sum / 1e6
    }
    (totals.map { case (k, v) => k -> v.toMap }.toMap, unattributed)
  }

  /** Milliseconds of the span covered by the union of `ivs`, clipped to it. */
  private def covered(ivs: Seq[(Long, Long)], s: Span): Long = {
    val clipped = ivs
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA  = -1L
    var curB  = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
