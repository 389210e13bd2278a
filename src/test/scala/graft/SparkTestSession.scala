package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide). The codegen fallback
  * is off, so generated code that fails to compile (e.g. a method past the
  * JVM's 64 KB limit) fails its test instead of running interpreted. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
