package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The bounded wait on an observed metric, and its fallback count, live
  * in one place: `core/Fixpoint.scala`. Any other `Observation` or
  * `Await` in library code is a second copy of that wait, the shape the
  * round loops had before they shared a driver.
  */
class ObservedWaitLockSpec extends AnyFlatSpec with Matchers {

  private val Wait = """scala\.concurrent\.Await|Observation\(""".r

  private def hits(file: Path): Seq[String] =
    Files.readAllLines(file).asScala.zipWithIndex.toSeq.collect {
      case (line, no) if Wait.findFirstIn(line).isDefined => s"$file:${no + 1}: ${line.trim}"
    }

  "src/main/scala/graft" should "await an observed metric only in core/Fixpoint.scala" in {
    val root = Paths.get("src/main/scala/graft")
    val driver = root.resolve("core/Fixpoint.scala")
    withClue(s"run from the project root ($driver not found): ") {
      Files.isRegularFile(driver) shouldBe true
    }
    // the pattern still matches the driver's own wait
    hits(driver) should not be empty
    val others = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f != driver)
      .toSeq
    others should not be empty
    others.flatMap(hits) shouldBe empty
  }
}
