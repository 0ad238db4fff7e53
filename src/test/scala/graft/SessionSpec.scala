package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every entry point gets its session from [[Session.local]]: a second
  * hand-written builder is a second place for the cores, shuffle width
  * and UTC zone to drift apart. Every checkpoint goes through
  * [[graft.api.Ckpt]], so a tracking scope sees it and its pin can be
  * dropped. Each shared DuckDB oracle fragment is spelled once, in
  * graft/operators/OracleSql.scala, so the oracles cannot drift apart;
  * the folded Spark-side and codec twins stay one helper each. */
class SessionSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** The src/main files containing `needle`, one entry per line hit. */
  private def sitesOf(needle: String): Seq[(Path, Int)] = {
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => (f, i + 1)
      }
    } finally files.close()
  }

  test("SparkSession.builder() appears exactly once in src/main, in graft/Session.scala") {
    val hits = sitesOf("SparkSession.builder()")
    assert(hits.map(_._1) == Seq(root.resolve("graft/Session.scala")),
      hits.map { case (f, n) => s"$f:$n" }.mkString("builder sites: ", ", ", ""))
  }

  test(".localCheckpoint( appears in src/main only in graft/api/Ckpt.scala") {
    val hits = sitesOf(".localCheckpoint(")
    assert(hits.nonEmpty && hits.forall(_._1 == root.resolve("graft/api/Ckpt.scala")),
      hits.map { case (f, n) => s"$f:$n" }.mkString("localCheckpoint sites: ", ", ", ""))
  }

  test("oracle fragments: the hot-shingle CTE and the text fingerprint are spelled once, in OracleSql") {
    for (needle <- Seq("HAVING count(*) > 10)", "md5(lower(regexp_replace(")) {
      val hits = sitesOf(needle).filter(_._1.startsWith(root.resolve("graft/operators")))
      assert(hits.map(_._1) == Seq(root.resolve("graft/operators/OracleSql.scala")),
        hits.map { case (f, n) => s"$f:$n" }.mkString(s"'$needle' sites: ", ", ", ""))
    }
  }

  test("folded twins: each shared fragment and helper is spelled on one line of src/main") {
    val misplaced = for ((needle, file) <- Seq(
        "strpos('0123456789abcdef', substring(hh, 1, 1))" -> "graft/operators/OracleSql.scala",
        "CAST(floor(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) * 10000) AS HUGEINT) AS x" ->
          "graft/operators/OracleSql.scala",
        "CAST(list_sum(px) AS BIGINT) AS px_sum" -> "graft/operators/Multimodal.scala",
        "approx_percentile(x, array(" -> "graft/api/Drift.scala",
        """.agg(sum(col(valueCol).cast("decimal(30,10)")).as("sd"))""" -> "graft/api/TimeSeries.scala",
        "box(\"mvhd\"" -> "graft/api/MediaCodec.scala");
        hits = sitesOf(needle) if hits.map(_._1) != Seq(root.resolve(file)))
      yield hits.map { case (f, n) => s"$f:$n" }.mkString(s"'$needle' sites: ", ", ", "")
    assert(misplaced.isEmpty, misplaced.mkString("\n", "\n", ""))
  }

  test("Session.local() sizes the generated-code cache above Spark's default of 100") {
    // read off the settings, not a live session: the test JVM's shared
    // session already exists, and static confs apply only at creation
    val entries = Session.settings("4")("spark.sql.codegen.cache.maxEntries").toInt
    assert(entries == Session.codegenCacheEntries && entries > 100, entries.toString)
  }
}
