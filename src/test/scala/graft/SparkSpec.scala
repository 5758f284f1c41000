package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session —
  * session startup dominates otherwise).
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.Session.builder(cores = 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
}
