package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one per JVM — sbt forks one test JVM). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stage names (call sites) of the Spark jobs started while `body` ran. Listener events
    * arrive in order, so the jobs are taken between two marker jobs.
    */
  def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.put(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(e.stageInfos.map(_.name).mkString("; ")))
    }
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("graft-jobs-begin")
      body
      marker("graft-jobs-end")
      Iterator.continually {
        val d = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(d != null, "the listener never saw the end marker job")
        d
      }.takeWhile(_ != "graft-jobs-end").toVector.dropWhile(_ != "graft-jobs-begin").drop(1)
    } finally sc.removeSparkListener(listener)
  }

  def tempWarehouse(): String =
    java.nio.file.Files.createTempDirectory("graft-test").toString
}
