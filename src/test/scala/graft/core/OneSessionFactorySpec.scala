package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Every session comes from `core/Sessions.builder`, so the mains, the
  * oracle dump, the benches and the tests all run the conf production
  * runs (GraftExtensions, LAST_WIN map keys, zstd, the broadcast and
  * result-size bounds). A hand-built `SparkSession.builder` elsewhere is
  * a second conf that nothing checks against the first.
  */
class OneSessionFactorySpec extends AnyFlatSpec with Matchers {

  private val Factory = Paths.get("src/main/scala/graft/core/Sessions.scala")

  "SparkSession.builder" should "be called only in core/Sessions.scala" in {
    val roots = Seq(Paths.get("src/main/scala"), Paths.get("src/test/scala"))
    withClue(s"run from the project root (${roots.mkString(", ")} not found): ") {
      roots.forall(Files.isDirectory(_)) shouldBe true
    }
    val files = roots.flatMap(r => Files.walk(r).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_ == Factory)
      .filterNot(_.endsWith("OneSessionFactorySpec.scala"))
    files should not be empty
    val hits = for {
      file: Path <- files
      (line, no) <- Files.readAllLines(file).asScala.zipWithIndex
      if line.contains("SparkSession.builder")
    } yield s"$file:${no + 1}: ${line.trim}"
    hits shouldBe empty
  }
}
