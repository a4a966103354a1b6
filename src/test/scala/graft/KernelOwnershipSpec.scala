package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Each shared kernel family lives in one place: a row names the text
  * of its steps and the files that own them, and a copy of any step in
  * another file of `src/main` fails. A new family adds a row. The pins
  * row keeps every `localCheckpoint` in `Pins`, which records the pin's
  * owner and scope; the one exception is the components kernel's
  * RDD-level lineage cut, whose RDDs the kernel unpersists itself. */
class KernelOwnershipSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val inGraft = (rel: String) => rel == "api/Graft.scala"

  private val families: Seq[(String, Seq[String], String => Boolean)] = Seq(
    ("near-dup",
      Seq("minHashSig(", "bit_count(simhash_a ^ simhash_b)", """element_at(col("mhs")"""),
      rel => inGraft(rel) || rel.startsWith("functions/")),
    ("retrieval",
      Seq("""Window.partitionBy(col("qid"))""", """filter(col("vec_id") <""", """=!= col("qid")"""),
      inGraft),
    ("pins", Seq(".localCheckpoint("), rel => rel == "api/Pins.scala"))

  private val rddLineageCut = "jumped.localCheckpoint()"

  private lazy val sources: Seq[(String, String)] = {
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
      .map { case (rel, text) =>
        rel -> (if (inGraft(rel)) text.replaceFirst(Pattern.quote(rddLineageCut), "") else text) }
    finally files.close()
  }

  for ((family, steps, owner) <- families)
    test(s"$family kernel steps have one copy") {
      val copies = sources.collect { case (rel, text) if steps.exists(text.contains) => rel }
      assert(copies.exists(owner), "the scan found no step at all: wrong working directory?")
      val strays = copies.filterNot(owner).map(rel => Paths.get(rel).getFileName.toString).sorted
      assert(strays.isEmpty, s"$family steps copied outside their owner: $strays")
    }
}
