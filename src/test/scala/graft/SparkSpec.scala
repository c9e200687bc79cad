package graft

import org.apache.spark.graftprobe.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run in
  * the forked test JVM). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf001 = "/root/testdata/sf0.001"

  /** `body` with every LocalExact hybrid forced onto its distributed
    * plan (`spark.graft.localExactMaxRows=0`); outside it, each hybrid
    * takes its one-task path at test scale. */
  def forcedDistributed[T](body: => T): T = {
    spark.conf.set("spark.graft.localExactMaxRows", "0")
    try body finally spark.conf.unset("spark.graft.localExactMaxRows")
  }

  /** `body`'s value and the Spark jobs it started, counted after a
    * listener-bus drain. */
  def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bus.drain(sc)
    sc.addSparkListener(l)
    try {
      val v = body
      Bus.drain(sc)
      (v, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}
