package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One local-session builder: every main outside the service builds its
  * session through [[Bench.session]], so the conf cannot drift between
  * copies again. `GraftApp.session` is the service profile. */
class SessionBuilderSpec extends AnyFunSuite {

  test("SparkSession.builder() is called only in Bench and GraftApp") {
    val allowed = Set("Bench.scala", "GraftApp.scala")
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val offenders =
      try sources.iterator().asScala.map(_.toFile)
        .filter(f => f.getName.endsWith(".scala") && !allowed(f.getName))
        .flatMap { f =>
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try src.getLines().zipWithIndex.collect {
            case (line, i) if line.contains("SparkSession.builder()") &&
                !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
              s"${f.getPath}:${i + 1}"
          }.toList
          finally src.close()
        }.toList
      finally sources.close()
    assert(offenders.isEmpty,
      s"build the session with Bench.session instead: ${offenders.mkString(", ")}")
  }
}
