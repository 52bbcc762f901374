package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, `Test / fork := true`). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  override protected def afterAll(): Unit = {
    // minHashNearDups persists shingle-set frames; the shared session lives
    // for the whole test JVM, so release per suite to bound executor memory
    graft.functions.DedupFunctions.releaseCaches()
    super.afterAll()
  }
}

object SparkSuite {
  lazy val session: SparkSession = GraftSession(4)
}
