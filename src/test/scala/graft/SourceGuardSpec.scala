package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards on `src/main/scala`, read relative to the build's
  * base directory (the forked test JVM's working directory):
  *  - harness tables are loaded only through `graft.io.Tables`, so the
  *    table layout and the `ts` encoding stay one module's decision;
  *  - no source assumes where the checkout lives: the checkout's own
  *    absolute path never appears in it (scratch output goes under
  *    `Tables.scratch`).
  */
class SourceGuardSpec extends AnyFunSuite {

  private val root = new File("src/main/scala")

  private lazy val sources: Seq[(File, String)] = {
    assert(root.isDirectory,
      s"${root.getAbsolutePath} is missing: run from the build's base directory")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(root).map(f => f -> new String(Files.readAllBytes(f.toPath), "UTF-8"))
  }

  private def hits(p: String => Boolean): Seq[String] =
    for {
      (f, text) <- sources
      (line, i) <- text.linesIterator.zipWithIndex.toSeq if p(line)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"

  test("harness tables are read only through graft.io.Tables") {
    val needle = "read.parquet(s\"$dir/"
    val found = hits(_.contains(needle))
    assert(found.nonEmpty && found.forall(_.startsWith(
      new File(root, "graft/io/Tables.scala").getPath + ":")),
      found.mkString("\n"))
  }

  test("no source names the checkout's absolute path") {
    val checkout = new File(".").getCanonicalPath
    assert(sources.nonEmpty)
    val found = hits(_.contains(checkout))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
