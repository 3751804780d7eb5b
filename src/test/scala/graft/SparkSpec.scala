package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — the same
  * session the driver mains boot, plan-string cap included.
  */
object TestSpark {
  lazy val spark: SparkSession = SparkBoot.session("4", logLevel = "ERROR")
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tmpDirs = scala.collection.mutable.ListBuffer.empty[java.io.File]

  /** A fresh `graft-test-<tag>-*` dir under the system temp dir, deleted
    * with everything in it when the suite ends.
    */
  def tmpDir(tag: String): String = synchronized {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-test-$tag-")
    tmpDirs += dir.toFile
    dir.toString
  }

  override def afterAll(): Unit =
    try synchronized(tmpDirs.foreach(FileUtils.deleteQuietly))
    finally super.afterAll()

  /** `df`'s full executed plan. The session caps plan strings (see
    * [[SparkBoot.session]]); plan-shape assertions need the whole
    * render, so the cap is lifted for this call only.
    */
  def planString(df: DataFrame): String = {
    val key = "spark.sql.maxPlanStringLength"
    val cap = spark.conf.get(key)
    spark.conf.unset(key) // Spark's default: no cap
    try df.queryExecution.executedPlan.toString
    finally spark.conf.set(key, cap)
  }
}
