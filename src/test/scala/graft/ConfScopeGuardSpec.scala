package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guard: operators take a setting of their own on a scoped
  * session ([[GraftSession.scoped]]), never by writing the caller's
  * session conf; every stream drain goes through [[streaming.Drain]];
  * the fixture caches' stamp protocol lives in [[FixtureStores]]. Pure
  * file scan, no Spark.
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

  /** For each line of `f`, the object member (a `def` at two-space
    * indent) it sits in. */
  private def memberDefs(f: Path): Seq[String] = {
    val member = """^  (?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+)*def\s+(\w+)""".r
    Files.readAllLines(f).asScala.toSeq.scanLeft("") { (cur, l) =>
      member.findFirstMatchIn(l).map(_.group(1)).getOrElse(cur)
    }.tail
  }

  test("session conf is written only by the execution profile and the scoped clone") {
    val files = scalaFiles("src/main")
    assert(files.size > 30, files)
    val allowed = Set("Graft.scala" -> "tuneExecution",
      "GraftSession.scala" -> "scoped")
    val re = """conf\.(set|unset)\(""".r
    val outside = files.flatMap { f =>
      val defs = memberDefs(f)
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if re.findFirstIn(l).nonEmpty &&
            !allowed(f.getFileName.toString -> defs(i)) =>
          s"$f:${i + 1} (in ${defs(i)}): ${l.trim}"
      }
    }
    assert(outside.isEmpty, outside.mkString("\n"))
    assert(hits(files, re).nonEmpty)
  }

  test("the fixture stamp protocol and fingerprint live only in FixtureStores") {
    val files = scalaFiles("src/main")
    val gone = hits(files, "ensureCached|ensureCreated|cacheFresh|stampCacheFp".r)
    assert(gone.isEmpty, gone.mkString("\n"))
    val fixtures = Paths.get("src/main/scala/graft/FixtureStores.scala")
    val copier = Paths.get("src/main/scala/graft/ops/KeyedStore.scala")
    val outside = hits(files.filterNot(_ == fixtures),
      "_graft_cache_fp|contentFingerprint".r)
    // At most the one shared copier's skip list, inside copyTree.
    val defs = memberDefs(copier)
    assert(outside.size <= 1 && outside.forall { h =>
      h.startsWith(copier.toString + ":") &&
        defs(h.split(":")(1).toInt - 1) == "copyTree"
    }, outside.mkString("\n"))
    assert(hits(Seq(fixtures), "_graft_cache_fp".r).nonEmpty)
  }

  test("awaitTermination appears in src/main only inside the drain helper") {
    val drain = Paths.get("src/main/scala/graft/streaming/Drain.scala")
    val all = hits(scalaFiles("src/main"), "awaitTermination".r)
    val (inDrain, outside) = all.partition(_.startsWith(drain.toString + ":"))
    assert(inDrain.size == 1, all.mkString("\n"))
    assert(outside.isEmpty, outside.mkString("\n"))
  }
}
