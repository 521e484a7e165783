package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, one session — specs are
  * read-only over it).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.open("4")
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A new temporary directory, deleted with its contents when the suite
    * ends. A spec whose peer JVMs write into it stops them before then.
    */
  protected def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach(d => FileUtils.deleteQuietly(d.toFile))
}
