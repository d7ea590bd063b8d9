package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide; suites run in one
  * forked JVM): the canonical [[GraftSession.builder]] config at 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
