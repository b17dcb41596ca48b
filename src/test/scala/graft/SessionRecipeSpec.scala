package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session recipe: every main builds through tools.DriverSession.
  * Only ExtDemo and Repl may call the builder themselves, because
  * `spark.sql.extensions` is a static conf that must be set at build
  * time. Likewise one memo abstraction: every memo is a graft.io.Memo,
  * the only place a TrieMap may appear. */
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
}
