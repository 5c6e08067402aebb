package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Line-level search over this repository's `src/` tree for the
  * tooling-guard specs. */
object SourceScan {

  /** The `src` directory above the working dir. */
  def srcRoot: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src"))
      .find(p => Files.isDirectory(p.resolve("main/scala/graft")))
      .getOrElse(throw new IllegalStateException(
        "no src/main/scala/graft above the working dir"))

  /** `path:line` (relative to [[srcRoot]]) of every line under `dir`
    * that contains one of `needles`. */
  def hits(dir: Path, needles: Seq[String]): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else Files.walk(dir).iterator().asScala
      .filter(Files.isRegularFile(_))
      .flatMap { f =>
        new String(Files.readAllBytes(f), ISO_8859_1).split("\n")
          .zipWithIndex
          .collect { case (line, i) if needles.exists(line.contains) =>
            s"${srcRoot.relativize(f)}:${i + 1}" }
      }.toSeq

  /** `path:line` (relative to [[srcRoot]]) of every match of `pattern`
    * in `file` — a match may span lines; its first line is reported. */
  def matches(file: Path, pattern: scala.util.matching.Regex): Seq[String] = {
    val text = new String(Files.readAllBytes(file), ISO_8859_1)
    pattern.findAllMatchIn(text).map { m =>
      val line = text.substring(0, m.start).count(_ == '\n') + 1
      s"${srcRoot.relativize(file)}:$line"
    }.toSeq
  }
}
