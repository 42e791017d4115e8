package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The [[Tables]] plan memo must not outlive its session. */
class TablesMemoSpec extends AnyFunSuite {

  test("stopping a session drops its memoized plans") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-memo").toFile
    try {
      spark.range(3).toDF("r_regionkey")
        .write.parquet(new java.io.File(dir, "region.parquet").toString)
      assert(Tables(spark, dir.toString, "region").count() == 3)
      assert(Tables.memoizes(spark))
      // the memo's DataFrames point at the session, so only an explicit
      // eviction lets it go
      spark.stop()
      assert(!Tables.memoizes(spark))
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }
}
