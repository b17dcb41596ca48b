package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session recipe: every main builds through tools.DriverSession.
  * Only ExtDemo and Repl may call the builder themselves, because
  * `spark.sql.extensions` is a static conf that must be set at build
  * time. Likewise one memo abstraction: every memo is a graft.io.Memo,
  * the only place a TrieMap may appear. Query builders have one form,
  * and the docs name only mains that exist. */
class SessionRecipeSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** Sources under src/main/scala containing `needle`, except those
    * whose path ends with one of `allowed`. */
  private def offenders(needle: String, allowed: Set[String]): List[String] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed.exists(a => p.endsWith(a)))
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).toList
    finally files.close()
  }

  test("SparkSession.builder() appears only in DriverSession, ExtDemo and Repl") {
    val found = offenders("SparkSession.builder()",
      Set("DriverSession.scala", "ExtDemo.scala", "Repl.scala"))
    assert(found.isEmpty,
      s"build the session with tools.DriverSession.build instead: ${found.mkString(", ")}")
  }

  test("TrieMap appears only in io/Memo.scala") {
    val found = offenders("TrieMap", Set("io/Memo.scala"))
    assert(found.isEmpty, s"memoize with graft.io.Memo instead: ${found.mkString(", ")}")
  }

  test("no query builder takes a checkpoint, probeOnly or leftOnly parameter") {
    val found = Seq("checkpoint: Boolean", "probeOnly:", "leftOnly:")
      .flatMap(p => offenders(p, Set.empty).map(f => s"$f ($p)"))
    assert(found.isEmpty,
      s"query builders have one form, the shipped one: ${found.mkString(", ")}")
  }

  test("every runMain in README.md, CLAUDE.md and the verify skill names a main") {
    val docs = Seq("README.md", "CLAUDE.md", ".claude/skills/verify/SKILL.md")
    val named = docs.flatMap { d =>
      "runMain (graft(?:\\.\\w+)+)".r
        .findAllMatchIn(Files.readString(Paths.get(d))).map(_.group(1))
    }.distinct
    assert(named.nonEmpty)
    val sources = {
      val files = Files.walk(Paths.get("src/main/scala"))
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(p => Files.readString(p)).toList
      finally files.close()
    }
    def hasMain(fqn: String): Boolean = {
      val (pkg, name) = fqn.splitAt(fqn.lastIndexOf('.'))
      val obj = s"(?s)object ${name.drop(1)}\\b[^{]*\\{.*def main\\(".r
      sources.exists(src => src.linesIterator.contains(s"package $pkg") &&
        obj.findFirstIn(src).isDefined)
    }
    val missing = named.filterNot(hasMain)
    assert(missing.isEmpty, s"no main for: ${missing.mkString(", ")}")
  }
}
