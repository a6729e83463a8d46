package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's session confs live. Every main and the test
  * `SharedSpark` build their session here, so a conf cannot drift
  * between the bench, the correctness dump and the tests. A main that
  * needs a different value for one conf (Verify's INT96 dump files) sets
  * it with `spark.conf.set` right after creation.
  */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // int64-micros timestamps (Iceberg's own mandate): INT96 is
      // deprecated and carries no usable footer statistics
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // cost-based optimization: tables carrying COMPUTE STATS plan
      // joins/broadcasts from row counts + NDV, not file size
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
