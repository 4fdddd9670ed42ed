package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, ClassWriter}
import org.apache.xbean.asm9.commons.{ClassRemapper, Remapper}
import org.scalatest.funsuite.AnyFunSuite

/** The product packages call no gate, fixture or harness code: every
  * type the compiled classes of `graft.{core, sources, plans, functions,
  * operators, streaming}` reference is read from their bytecode, and none
  * may live in `graft.queries`, `graft.fixtures` or the harness mains.
  */
class ProductBoundarySpec extends AnyFunSuite {

  private val productPackages =
    Seq("core", "sources", "plans", "functions", "operators", "streaming")
  private val harnessPackages = Seq("graft/queries/", "graft/fixtures/")
  private val harnessClasses = Seq("graft/Bench", "graft/SparkEntry", "graft/Verify", "graft/OracleDump")

  private def isHarness(internalName: String): Boolean =
    harnessPackages.exists(internalName.startsWith) ||
      harnessClasses.exists(c => internalName == c || internalName.startsWith(c + "$"))

  /** Internal names of every type `classFile` references. */
  private def referencedTypes(classFile: Path): Set[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    val collect = new Remapper {
      override def map(internalName: String): String = { seen += internalName; internalName }
    }
    // the remapper visits method bodies only when its delegate does
    new ClassReader(Files.readAllBytes(classFile))
      .accept(new ClassRemapper(new ClassWriter(0), collect), 0)
    seen.toSet
  }

  test("product classes reference no gate, fixture or harness class") {
    val root = Paths.get(graft.core.Http.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val classFiles = productPackages.flatMap { p =>
      val dir = root.resolve("graft").resolve(p)
      assert(Files.isDirectory(dir), s"no compiled classes under $dir")
      Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".class")).toSeq
    }
    assert(classFiles.size > 100, s"only ${classFiles.size} product classes found")
    val offending = classFiles.flatMap { f =>
      referencedTypes(f).filter(isHarness).map(t => s"${root.relativize(f)} -> $t")
    }
    assert(offending.isEmpty, offending.sorted.mkString("\n"))
  }
}
