package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The program's entry points are the product CLIs and the one kernel
  * dump the fuzz tools drive. A new `main` under `src/main` is a
  * one-off probe: time it in perfbench or a test instead.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val Expected =
    Set("graft.Main", "graft.Bench", "graft.Verify", "graft.tools.KernelDump")

  private val PackageDecl = """(?m)^package\s+([\w.]+)""".r
  private val ObjectDecl = """\bobject\s+(\w+)""".r

  /** Fully qualified name of the object enclosing each `def main(`. */
  private def mainObjects(file: Path): Seq[String] = {
    val src = Files.readString(file)
    val pkg = PackageDecl.findAllMatchIn(src).map(_.group(1)).mkString(".")
    "def main\\(".r.findAllMatchIn(src).map { m =>
      val obj = ObjectDecl.findAllMatchIn(src.substring(0, m.start))
        .map(_.group(1)).toSeq.lastOption.getOrElse("?")
      if (pkg.isEmpty) obj else s"$pkg.$obj"
    }.toSeq
  }

  test("only the product entry points define a main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    val mains = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap(mainObjects)
    finally walk.close()
    assert(mains.sorted == Expected.toSeq.sorted)
  }
}
