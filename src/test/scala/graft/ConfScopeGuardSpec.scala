package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guard: operators take a setting of their own on a scoped
  * session ([[GraftSession.scoped]]), never by writing the caller's
  * session conf, and every stream drain goes through
  * [[streaming.Drain]]. Pure file scan, no Spark.
  */
class ConfScopeGuardSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** `file:line: text` for every line of `files` that matches `re`. */
  private def hits(files: Seq[Path], re: scala.util.matching.Regex): Seq[String] =
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if re.findFirstIn(l).nonEmpty => s"$f:${i + 1}: ${l.trim}"
      }
    }

  test("no operator or stream writes session conf") {
    val files = scalaFiles("src/main/scala/graft/ops") ++
      scalaFiles("src/main/scala/graft/streaming")
    assert(files.size > 10, files)
    val found = hits(files, """conf\.(set|unset)\(""".r)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("awaitTermination appears in src/main only inside the drain helper") {
    val drain = Paths.get("src/main/scala/graft/streaming/Drain.scala")
    val all = hits(scalaFiles("src/main"), "awaitTermination".r)
    val (inDrain, outside) = all.partition(_.startsWith(drain.toString + ":"))
    assert(inDrain.size == 1, all.mkString("\n"))
    assert(outside.isEmpty, outside.mkString("\n"))
  }
}
