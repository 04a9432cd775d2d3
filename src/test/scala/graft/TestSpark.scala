package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, built with the same
  * config as the engine entry points.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
