package graft

import java.io.{ByteArrayInputStream, DataInputStream}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Every compiled `src/main` class is reachable from an entry point.
  * Code that only its own specs call is dead weight the specs keep
  * alive; this walk makes it fail tier-1 instead.
  *
  * The walk reads the main classes directory (found from `EtlMain`'s
  * code source, never the test classes) and follows the `graft/...`
  * names in each class file's constant pool. Classes are grouped by
  * their source-level name: `Foo`, its module `Foo$` and the nested
  * `Foo$...` count as one, so a class is reached when it or its module
  * is (an outer class's InnerClasses entries name every nested class
  * anyway).
  */
class ReachabilitySpec extends AnyFlatSpec with Matchers {

  private val EntryPoints = Seq(
    "graft.EtlMain", "graft.Verify", "graft.Bench", "graft.ScaleSoak",
    "graft.PlanDump", "graft.SparkEntry", "graft.GraftExtensions")

  /** perfbench compiles its harness against these, together with all of
    * `src/main`, so they are roots even where no main calls them.
    */
  private val PerfbenchImports = Seq(
    "graft.core.Io", "graft.core.Sessions", "graft.dedup.Dedup",
    "graft.etl.EpmcSchema", "graft.etl.EtlConfig", "graft.etl.Grounding",
    "graft.streaming.LiteratureStream")

  private val GraftName = """graft/[\w$/]+""".r

  /** The CONSTANT_Utf8 strings of a class file: every class name and
    * descriptor the class refers to is one of them.
    */
  private def utf8Constants(bytes: Array[Byte]): Seq[String] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    in.readInt(); in.readUnsignedShort(); in.readUnsignedShort() // magic, minor, major
    val count = in.readUnsignedShort()
    val out = mutable.ArrayBuffer.empty[String]
    var i = 1
    while (i < count) {
      in.readUnsignedByte() match {
        case 1 => out += in.readUTF()
        case 7 | 8 | 16 | 19 | 20 => in.skipBytes(2)
        case 15 => in.skipBytes(3)
        case 3 | 4 | 9 | 10 | 11 | 12 | 17 | 18 => in.skipBytes(4)
        case 5 | 6 => in.skipBytes(8); i += 1 // long and double take two slots
        case tag => fail(s"unknown constant-pool tag $tag")
      }
      i += 1
    }
    out.toSeq
  }

  /** `graft/a/Foo$Bar$` → `graft/a/Foo`. */
  private def sourceName(binary: String): String = {
    val slash = binary.lastIndexOf('/')
    val dollar = binary.indexOf('$', slash)
    if (dollar < 0) binary else binary.substring(0, dollar)
  }

  "every src/main class" should "be reachable from an entry point" in {
    val root = Paths.get(EtlMain.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    withClue(s"main classes must be a directory, not $root: ") {
      Files.isDirectory(root.resolve("graft")) shouldBe true
    }
    val classFiles = Files.walk(root.resolve("graft")).iterator().asScala
      .filter(_.toString.endsWith(".class")).toSeq
    val refs = mutable.Map.empty[String, Set[String]]
    classFiles.foreach { file: Path =>
      val binary = root.relativize(file).toString.replace('\\', '/').stripSuffix(".class")
      val named = utf8Constants(Files.readAllBytes(file))
        .flatMap(GraftName.findAllIn(_)).map(sourceName).toSet
      val c = sourceName(binary)
      refs(c) = refs.getOrElse(c, Set.empty) ++ named
    }
    val roots = (EntryPoints ++ PerfbenchImports).map(_.replace('.', '/'))
    roots.filterNot(refs.contains) shouldBe empty

    val reached = mutable.Set.empty[String]
    val pending = mutable.Stack(roots: _*)
    while (pending.nonEmpty) {
      val c = pending.pop()
      if (refs.contains(c) && reached.add(c)) pending.pushAll(refs(c))
    }
    val unreached = refs.keySet.diff(reached).toSeq.sorted.map(_.replace('/', '.'))
    withClue("classes no entry point reaches (delete them, or call them): ") {
      unreached shouldBe empty
    }
  }
}
