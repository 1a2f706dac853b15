package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM — Test/fork := true). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold",
        GraftConf.BypassMergeThreshold)
      .config("spark.sql.optimizer.excludedRules", GraftConf.ExcludedRules)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.Sf0001

  /** Sets SQL confs around `body`, then restores each. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
