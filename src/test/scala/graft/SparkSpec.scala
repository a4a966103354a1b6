package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session): the
  * session every main runs, at a fixed width of 4. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = BenchEnv.benchSessionBuilder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `parent` (default: the JVM's temp dir),
    * deleted with everything in it when this suite ends. */
  protected def tempDir(prefix: String,
      parent: String = System.getProperty("java.io.tmpdir")): Path = {
    val d = Files.createTempDirectory(Paths.get(parent), prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => graft.sources.FileSources.deleteRecursively(d.toFile))
    finally super.afterAll()
}
