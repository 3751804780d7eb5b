package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — the same
  * session the driver mains boot, plan-string cap included.
  */
object TestSpark {
  lazy val spark: SparkSession = SparkBoot.session("4", logLevel = "ERROR")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-test-$tag-").toString

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
