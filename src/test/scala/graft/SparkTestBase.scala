package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: lazy val, not per test),
  * built with the engine's own conf so tier-1 tests what ships. */
trait SparkTestBase extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("local[4]", 4)
    .appName("graft-test")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  val sf0001 = "/root/testdata/sf0.001"
}
