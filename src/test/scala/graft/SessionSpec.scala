package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every entry point gets its session from [[Session.local]]: a second
  * hand-written builder is a second place for the cores, shuffle width
  * and UTC zone to drift apart. */
class SessionSpec extends AnyFunSuite {
  test("SparkSession.builder() appears exactly once in src/main, in graft/Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val hits: Seq[(Path, Int)] =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder()") => (f, i + 1)
        }
      } finally files.close()
    assert(hits.map(_._1) == Seq(root.resolve("graft/Session.scala")),
      hits.map { case (f, n) => s"$f:$n" }.mkString("builder sites: ", ", ", ""))
  }
}
