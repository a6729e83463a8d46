package graft

import org.apache.spark.sql.SparkSession

/** One session for the whole test JVM (Test / fork := true runs every
  * suite in a single forked JVM, so suites share the warmed-up session
  * instead of paying ~5 s of startup each). Built by the same factory
  * as the mains, so tests run under the engine's own confs.
  */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}
