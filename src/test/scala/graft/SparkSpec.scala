package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Harness.builder(4, 4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
