package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites — one JVM-wide SparkSession
  * (getOrCreate) on local[4], built from `Context.sessionConf` like every
  * shipped session, so plan guards pin the plans users get. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started by `body` on this thread. A barrier job run after
    * it, under its own tag, tells when the listener bus has delivered
    * every earlier job start. */
  protected def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, tag + "-barrier")
      try spark.range(1).count() finally sc.setLocalProperty(key, null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(tag + "-barrier") &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(seen.contains(tag + "-barrier"), "listener bus did not drain")
      seen.toArray.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }
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
