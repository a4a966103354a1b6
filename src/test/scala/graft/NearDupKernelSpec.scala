package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class NearDupKernelSpec extends AnyFunSuite {

  test("each near-dup step has one copy: the MinHash signature, the band layout and the SimHash verify live in Graft") {
    val steps = Seq("minHashSig(", "bit_count(simhash_a ^ simhash_b)", """element_at(col("mhs")""")
    val root = Paths.get("src/main/scala/graft")
    val files = Files.walk(root)
    val scala = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    def owner(p: Path): Boolean = {
      val rel = root.relativize(p).toString
      rel == "api/Graft.scala" || rel.startsWith("functions/")
    }
    val copies = scala.filter { p =>
      val text = Files.readString(p)
      steps.exists(text.contains)
    }
    assert(copies.exists(owner), "the scan found no step at all: wrong working directory?")
    val strays = copies.filterNot(owner).map(_.getFileName.toString).sorted
    assert(strays.isEmpty, s"near-dup steps copied outside Graft: $strays")
  }
}
