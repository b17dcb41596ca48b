package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session recipe: every main builds through tools.DriverSession.
  * Only ExtDemo and Repl may call the builder themselves, because
  * `spark.sql.extensions` is a static conf that must be set at build
  * time. */
class SessionRecipeSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("SparkSession.builder() appears only in DriverSession, ExtDemo and Repl") {
    val allowed = Set("DriverSession.scala", "ExtDemo.scala", "Repl.scala")
    val files = Files.walk(Paths.get("src/main/scala"))
    val offenders =
      try files.iterator.asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(p => allowed(p.getFileName.toString))
        .filter(p => Files.readString(p).contains("SparkSession.builder()"))
        .map(_.toString).toList
      finally files.close()
    assert(offenders.isEmpty,
      s"build the session with tools.DriverSession.build instead: ${offenders.mkString(", ")}")
  }
}
