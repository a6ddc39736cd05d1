package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh directory under the system temp dir, deleted with everything
    * in it after the suite.
    */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs += dir
    dir.toString
  }

  /** Spark jobs started on this thread's job group while `f` runs. */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      try f finally sc.clearJobGroup()
      org.apache.spark.SpecBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  // the session is shared and stopped by JVM exit; only temp dirs go here
  override def afterAll(): Unit = tempDirs.synchronized {
    tempDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    tempDirs.clear()
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
