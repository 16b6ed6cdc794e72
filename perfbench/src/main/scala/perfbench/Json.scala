package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes the raw record of one invocation; `perfbench/run.py` turns it
  * into metrics. Hand-rolled: the harness needs no JSON dependency.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def write(
      path: String,
      workload: String,
      seed: Long,
      cores: Int,
      loadStart: String,
      loadEnd: String,
      peakRssMb: Double,
      r: Recorder): Unit = {
    val body = obj(Seq(
      "workload"     -> str(workload),
      "seed"         -> seed.toString,
      "cores"        -> cores.toString,
      "loadavg"      -> obj(Seq("start" -> str(loadStart), "end" -> str(loadEnd))),
      "peak_rss_mb"  -> num(peakRssMb),
      "attempted"    -> r.attempted.toString,
      "failed"       -> r.failed.toString,
      "errors"       -> arr(r.errors.map(str)),
      "setup_s"      -> num(r.setupS),
      "iterations"   -> arr(r.iterations.map { case (w, t) => obj(Seq("wall_s" -> num(w), "traced" -> t.toString)) }),
      "samples"      -> arr(r.samples.map { case (c, s, t, i) =>
        obj(Seq("class" -> str(c), "s" -> num(s), "traced" -> t.toString, "iter" -> i.toString)) }),
      "layers"       -> arr(r.layerRows.map(row =>
        obj(row.toSeq.sortBy(_._1).map { case (l, m) => l -> obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }) }))),
      "unattributed_jobs" -> arr(r.unattributed.map(_.toString)),
      "checks"       -> arr(r.checks.map { case (n, p, o) =>
        obj(Seq(
          "name"   -> str(n),
          "path"   -> str(p),
          "kind"   -> str(o.kind),
          "sql"    -> str(o.sql),
          "params" -> obj(o.params.toSeq.map { case (k, v) => k -> str(v) })))
      }),
      "spans"        -> arr(r.spans.map(s =>
        obj(Seq(
          "id" -> s.id.toString, "run_id" -> str(s.runId), "name" -> str(s.name), "layer" -> str(s.layer),
          "parent" -> s.parent.toString, "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "dur_s" -> num(s.durS)))))
    ))
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }
}
