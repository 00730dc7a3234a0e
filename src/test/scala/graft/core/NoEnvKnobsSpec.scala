package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Library code takes its settings as parameters, never from the
  * environment: env and system-property reads belong to the entry mains
  * directly in package `graft` only. An env read in a package below
  * `graft` is a hidden switch no caller or test can see — the shape
  * measurement-only A/B hooks took before they were removed.
  */
class NoEnvKnobsSpec extends AnyFlatSpec with Matchers {

  private val EnvRead = """sys\.env|System\.getenv|sys\.props""".r

  "library code under src/main/scala/graft/*/" should
      "read no environment variables or system properties" in {
    val root = Paths.get("src/main/scala/graft")
    withClue(s"run from the project root ($root not found): ") {
      Files.isDirectory(root) shouldBe true
    }
    val libraryFiles = Files.list(root).iterator().asScala
      .filter(Files.isDirectory(_))
      .flatMap(dir => Files.walk(dir).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
      .toSeq
    libraryFiles should not be empty
    val hits = for {
      file: Path <- libraryFiles
      (line, no) <- Files.readAllLines(file).asScala.zipWithIndex
      if EnvRead.findFirstIn(line).isDefined
    } yield s"$file:${no + 1}: ${line.trim}"
    hits shouldBe empty
  }
}
