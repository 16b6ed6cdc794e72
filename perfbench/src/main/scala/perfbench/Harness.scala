package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** An independent check the benchmark's Python side runs once per
  * invocation on a warm-up result: `kind` selects the comparison (DuckDB
  * SQL, numpy OLS, pair Jaccard, cosine) and `sql`/`params` feed it.
  */
final case class Oracle(kind: String, sql: String = "", params: Map[String, String] = Map.empty)

/** Everything one invocation records; serialized to `result.json`. */
final class Recorder {
  val refs        = mutable.HashMap.empty[String, String]
  var attempted   = 0
  var failed      = 0
  val errors      = mutable.ArrayBuffer.empty[String]
  val checks      = mutable.ArrayBuffer.empty[(String, String, Oracle)]
  var setupS      = 0.0
  val iterations  = mutable.ArrayBuffer.empty[(Double, Boolean)]
  // (class, seconds, traced, iteration)
  val samples     = mutable.ArrayBuffer.empty[(String, Double, Boolean, Int)]
  val layerRows   = mutable.ArrayBuffer.empty[Map[String, Map[String, Double]]]
  val unattributed = mutable.ArrayBuffer.empty[Int]
  val spans       = mutable.ArrayBuffer.empty[Span]

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
  }
}

/** Per-iteration handle the workloads call layers through. `reference`
  * marks the warm-up: its digests become the expected values and its
  * results are dumped for the independent checks. Time spent dumping is
  * `excludedS` and is taken out of the set-up clock.
  */
final class Ctx(
    val spark: SparkSession,
    val rec: Recorder,
    val reference: Boolean,
    val measuring: Boolean,
    val tracer: Option[Tracer],
    val iter: Int,
    val checkDir: String) {
  var rootId: Long    = 0L
  var excludedS: Double = 0.0

  /** Runs one public layer function inside a span of `layer`. */
  def call[T](layer: String, name: String)(f: => T): T = tracer match {
    case Some(t) => t.span(name, layer, rootId)(_ => f)
    case None    => f
  }

  /** Times `f` as one latency sample of class `cls` (measured iterations). */
  def sample[T](cls: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r  = f
    if (measuring) rec.samples += ((cls, (System.nanoTime() - t0) / 1e9, tracer.nonEmpty, iter))
    r
  }

  /** Benchmark-side work (dumps for the checks), kept off the clock. */
  def excluded[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally excludedS += (System.nanoTime() - t0) / 1e9
  }

  /** Final force of a lazy result: collects it under a `sink` span, checks
    * its digest, and on the reference pass dumps it for `oracle`.
    */
  def sink(name: String, df: DataFrame, oracle: Option[Oracle] = None): Unit = {
    val rows = call("sink", name)(df.collect())
    expect(name, Digest.rows(rows))
    if (reference) oracle.foreach(o => excluded(dumpRows(name, df, rows, o)))
  }

  /** Compares a result digest with the reference pass's. */
  def expect(name: String, digest: String): Unit =
    if (reference) rec.refs(name) = digest
    else {
      rec.attempted += 1
      rec.refs.get(name) match {
        case Some(d) if d == digest => ()
        case Some(_) => rec.fail(s"$name: digest differs from the warm-up's")
        case None    => rec.fail(s"$name: no warm-up digest")
      }
    }

  def dumpRows(name: String, df: DataFrame, rows: Array[Row], oracle: Oracle): Unit = {
    val path = s"$checkDir/$name"
    spark
      .createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(path)
    rec.checks += ((name, path, oracle))
  }

  /** Dumps a driver-side value (already JSON) for `oracle`. */
  def dumpJson(name: String, json: String, oracle: Oracle): Unit = {
    val path = s"$checkDir/$name.json"
    Files.createDirectories(Paths.get(checkDir))
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
    rec.checks += ((name, path, oracle))
  }
}

/** Order-insensitive digests that tolerate last-bit float noise: doubles
  * are compared at float precision, so a re-ordered partial sum does not
  * read as a wrong answer while any real change in value does.
  */
object Digest {
  private def canon(v: Any): String = v match {
    case null                         => "∅"
    case d: Double                    => java.lang.Float.toString(d.toFloat)
    case f: Float                     => java.lang.Float.toString(f)
    case r: Row                       => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_]   => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte]               => b.map("%02x".format(_)).mkString
    case o                            => o.toString
  }

  def rows(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong & 0xffffffffL)
    s"${rows.length}:$sum"
  }

  /** Numbers inside a text (a chart spec) rounded to float precision. */
  def text(s: String): String =
    "-?\\d+\\.\\d+(?:[eE]-?\\d+)?".r.replaceAllIn(s, m => java.lang.Float.toString(m.matched.toDouble.toFloat))
}

object Harness {

  private def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case _: Throwable => "-" }

  private def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
        .split("\n").find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => 0.0 }

  /** The session every run uses: local mode over `cores` threads, one
    * shuffle partition per core, AQE on, UTC, no UI.
    */
  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name     = opts("workload")
    val seed     = opts("seed").toLong
    val seconds  = opts("seconds").toDouble
    val trace    = opts.getOrElse("trace", "0") == "1"
    val out      = opts("out")
    val cores    = Runtime.getRuntime.availableProcessors()
    val workload = Workloads(name, opts)
    val rec      = new Recorder
    val loadStart = loadAvg()
    val checkDir = s"$out/check"
    val localDir = s"$out/spark-local"

    val t0       = System.nanoTime()
    val spark    = session(cores, localDir)
    val sessionS = (System.nanoTime() - t0) / 1e9

    def iterate(reference: Boolean, measuring: Boolean, traced: Boolean, iter: Int, runId: String): Double = {
      val tracer = if (traced) Some(new Tracer(spark.sparkContext, runId)) else None
      val ctx    = new Ctx(spark, rec, reference, measuring, tracer, iter, checkDir)
      val t0     = System.nanoTime()
      try {
        tracer match {
          case Some(t) => t.span(name, Tracer.RootLayer, 0L) { id => ctx.rootId = id; workload.iteration(ctx) }
          case None    => workload.iteration(ctx)
        }
      } catch {
        case e: Throwable =>
          if (!reference) rec.attempted += 1
          rec.fail(s"$runId: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val wall = (System.nanoTime() - t0) / 1e9 - ctx.excludedS
      tracer.foreach { t =>
        val (spans, jobs)           = t.finish()
        val (totals, unattributed) = Tracer.layerTotals(t, spans, jobs)
        rec.layerRows += totals
        rec.unattributed += unattributed
        rec.spans ++= spans
      }
      wall
    }

    // Set-up: session start through the untimed warm-up iteration, whose
    // results are the reference every later result must match.
    rec.setupS = sessionS + iterate(reference = true, measuring = false, traced = false, iter = -1, runId = "setup")

    // Closed loop, one client: the next iteration starts when the last ends,
    // for `seconds` and at least two iterations.
    // A traced run alternates untraced and traced iterations, starting and
    // ending untraced, so the traced ones sit between untraced neighbours
    // of the same session and the overhead is not skewed by warm-up.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val least    = if (trace) 3 else 2
    var i = 0
    while (System.nanoTime() < deadline || i < least || (trace && i % 2 == 0)) {
      val traced = trace && i % 2 == 1
      val wall   = iterate(reference = false, measuring = true, traced = traced, iter = i, runId = s"it$i")
      rec.iterations += ((wall, traced))
      i += 1
    }
    val loadEnd = loadAvg()
    spark.stop()
    Json.write(s"$out/result.json", name, seed, cores, loadStart, loadEnd, peakRssMb(), rec)
  }
}
