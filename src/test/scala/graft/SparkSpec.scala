package graft

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
