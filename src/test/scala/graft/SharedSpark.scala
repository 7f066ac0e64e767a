package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** One local session shared across suites (sbt forks a single test JVM). */
trait SharedSpark { self: Suite =>
  lazy val spark: SparkSession = SharedSpark.session
}

object SharedSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config(SparkLocal.sharedConf)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // the documented deployment path: native functions via extensions
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
