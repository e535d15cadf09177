package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** The engine packages take their configuration from the SparkSession and
  * from call arguments, never from the process environment: a knob read
  * from `sys.env` is reached by no test, bench or main and silently
  * changes plans under whoever happens to export it. The mains under
  * `graft/` keep their deployment paths (fixture dir, CPUs, heap).
  */
class EngineEnvSpec extends AnyFunSuite {

  private val enginePackages =
    Seq("api", "catalog", "graph", "queries", "functions", "streaming", "sources")

  private def sourceRoot: File = {
    val rel = "src/main/scala/graft"
    Iterator.iterate(new File("").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .map(new File(_, rel))
      .find(_.isDirectory)
      .getOrElse(fail(s"no $rel above ${new File("").getAbsolutePath}"))
  }

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  private def lines(f: File): Vector[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  test("engine packages read no environment variables") {
    val envRead = """\bsys\.env\b|\bSystem\.getenv\b""".r
    val files = enginePackages.flatMap(p => scalaFiles(new File(sourceRoot, p)))
    assert(files.size > 20, s"found only ${files.size} engine sources")
    val hits = for {
      f <- files
      (line, i) <- lines(f).zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    if (hits.nonEmpty) fail("environment reads:\n" + hits.mkString("\n"))
  }
}
