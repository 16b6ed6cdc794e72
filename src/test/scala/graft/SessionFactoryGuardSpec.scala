package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: every CLI and tool builds its session through the one
  * factory, [[graft.core.GraftSession.local]], every pin goes through
  * [[graft.core.Pin]], and no main source points at a one-off probe that
  * is no longer in the tree.
  */
class SessionFactoryGuardSpec extends AnyFunSuite {

  private val mainRoot = new java.io.File("src/main/scala")

  private val DeletedTools = Seq(
    "FloorProbe", "FloorProbe2", "AqeProbe", "Prof100", "CcProbe",
    "PostingsWriteProbe", "Bm25ShapeProbe", "BandedIngestProbe",
    "BandedQ134Probe", "BpeEncodeProbe", "FusionProbe", "SemDedupProbe",
    "SigHashBench")

  /** (path relative to src/main/scala, full text) of every main source. */
  private lazy val sources: Seq[(String, String)] = {
    assert(mainRoot.isDirectory, s"run from the repository root: ${mainRoot.getAbsolutePath} missing")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(mainRoot).filter(_.getName.endsWith(".scala")).map { f =>
      mainRoot.toPath.relativize(f.toPath).toString.replace('\\', '/') ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  private def withoutComments(text: String): String =
    text.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("exactly one SparkSession builder in main sources, the GraftSession factory") {
    val builder = "SparkSession\\s*\\.\\s*builder\\s*\\(\\s*\\)".r
    val sites = sources.flatMap { case (path, text) =>
      builder.findAllIn(withoutComments(text)).map(_ => path).toSeq
    }
    assert(sites == Seq("graft/core/Tables.scala"), s"SparkSession builders at: $sites")
  }

  test("only core/Pin.scala checkpoints, persists or unpersists a frame") {
    val pinApi = Seq("localCheckpoint(", ".persist(", ".unpersist(", "StorageLevel")
    val sites = sources.collect {
      case (path, text) if pinApi.exists(withoutComments(text).contains) => path
    }
    assert(sites == Seq("graft/core/Pin.scala"), s"pin calls at: $sites")
  }

  test("no main source references a deleted graft.tools probe") {
    val refs = for {
      (path, text) <- sources
      name         <- DeletedTools
      code = withoutComments(text)
      if s"\\b$name\\b".r.findFirstIn(code).isDefined ||
        text.contains(s"graft.tools.$name") || text.contains(s"[[$name]]")
    } yield s"$path -> $name"
    assert(refs.isEmpty, s"references to deleted probes: $refs")
  }
}
