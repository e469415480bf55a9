package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Library code writes nothing to stderr: its decisions go through
  * Spark's `Logging` or a returned record, where specs can assert them.
  * Reads the library sources (the mains in `graft/` itself may print). */
class LibraryStderrSpec extends AnyFunSuite {

  private val LibraryDirs = Seq("ops", "tableone", "sources", "streaming", "functions")
  private val StderrWrite = """System\.err|Console\.err""".r

  test("library sources hold no System.err or Console.err") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"library sources not found under ${root.toAbsolutePath}")
    val files = LibraryDirs.flatMap { d =>
      val dir = root.resolve(d)
      assert(Files.isDirectory(dir), s"missing library package $dir")
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    val hits = for {
      f <- files.sortBy(_.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if StderrWrite.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("stderr writes in library code:\n", "\n", ""))
  }
}
