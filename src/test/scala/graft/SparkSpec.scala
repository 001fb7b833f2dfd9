package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites — one JVM-wide SparkSession
  * (getOrCreate) on local[4], built from `Context.sessionConf` like every
  * shipped session, so plan guards pin the plans users get. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.engine.Context.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
