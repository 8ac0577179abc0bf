package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The engine's `src/main` sources, for specs that keep one decision in
  * one file by scanning every other file for it. */
object MainSources {
  val root: Path = Paths.get("src/main/scala")

  def all: Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** `path:line: text` of every line outside `owner` (relative to
    * [[root]]) that `bad` flags. */
  def offenders(owner: String)(bad: String => Boolean): Seq[String] =
    all.filterNot(_ == root.resolve(owner)).flatMap { p =>
      read(p).linesIterator.zipWithIndex.collect {
        case (line, i) if bad(line) => s"$p:${i + 1}: ${line.trim}"
      }
    }
}
