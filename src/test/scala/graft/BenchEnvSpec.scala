package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class BenchEnvSpec extends AnyFunSuite {

  test("only BenchEnv builds a SparkSession (one session config for every entry point)") {
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val builders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(p => builderCall.findFirstIn(Files.readString(p)).isDefined)
    assert(builders.nonEmpty, "the scan found no builder at all: wrong working directory?")
    assert(builders.map(_.getFileName.toString).toSet == Set("BenchEnv.scala"), builders)
  }
}
