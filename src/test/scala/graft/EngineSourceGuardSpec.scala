package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Engine code has one behaviour per input: nothing under the operator,
  * function, geo, plan or streaming packages reads the environment,
  * prints to stdout, or keeps a JVM-global `@volatile` hook. An env var
  * or a hook set on one executor would make the same bytes decode (or
  * the same rows compute) differently there, so a retried task could
  * give another hash.
  */
class EngineSourceGuardSpec extends AnyFunSuite {

  private val roots =
    Seq("operators", "functions", "geo", "plans", "streaming")
      .map(p => Paths.get(s"src/main/scala/graft/$p"))

  private val forbidden =
    Seq("System.getenv", "sys.env", "println(", "@volatile")

  private def sources: Seq[Path] = roots.flatMap { r =>
    val s = Files.walk(r)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("engine sources read no env var, print nothing and keep no @volatile hook") {
    val files = sources
    // the scan must see the decoders it guards, or it proves nothing
    assert(files.exists(_.endsWith("operators/av1/Av1Residual.scala")))
    assert(files.exists(_.endsWith("operators/hevc/HevcDecoder.scala")))
    assert(files.exists(_.endsWith("operators/Vp8.scala")))
    val hits = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      tok <- forbidden if line.contains(tok)
    } yield s"$f:${n + 1}: $tok"
    if (hits.nonEmpty) fail(hits.mkString("\n", "\n", ""))
  }
}
