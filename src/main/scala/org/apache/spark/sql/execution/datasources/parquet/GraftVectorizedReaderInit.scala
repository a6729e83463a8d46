package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.MessageType

/** Package-located bridge to [[VectorizedParquetRecordReader]]'s
  * footer-reuse `initialize` overload. The overload itself is public,
  * but its `ParquetRowGroupReader` parameter type is package-private to
  * `o.a.s.sql.execution.datasources.parquet`, so the wrapper that turns
  * an already-open [[ParquetFileReader]] into the reader's row-group
  * source must live here.
  *
  * This is what lets the graft streaming partition reader open ONE
  * footer per file: the same `ParquetFileReader` serves the
  * present-columns/row-count probe AND the vectorized read, instead of
  * `initialize(path, columns)` re-opening and re-parsing the footer.
  * Closing the vectorized reader closes the wrapped file reader.
  */
object GraftVectorizedReaderInit {

  /** The Spark types the vectorized reader will PRODUCE for a requested
    * parquet projection — the same converter `initialize` applies.
    * Callers that up-cast row-side (type widening over old files) need
    * the produced type, not the render type. */
  def sparkSchemaOf(requestedSchema: MessageType): org.apache.spark.sql.types.StructType =
    // default-flag converter (binary-as-string off, NTZ inference on —
    // matching the schemas Spark-read tables carry, so the common NTZ
    // case keeps the aligned fast path) EXCEPT int96-as-timestamp:
    // INT96 pages (legacy writer, or a session configured
    // `outputTimestampType=INT96`) always MEAN a timestamp, and the
    // off-default refuses them outright. The reader's own converter
    // ([[withFooter]]) keeps NTZ inference OFF like Spark's original
    // overload — the two sides then disagree only between LTZ/NTZ,
    // whose int64-micros layout is identical, which the partition
    // reader's upcast pass-through already tolerates.
    new ParquetToSparkSchemaConverter(assumeInt96IsTimestamp = true)
      .convert(requestedSchema)

  // Spark's own footer-reuse `initialize` hardcodes int96AsTimestamp =
  // FALSE into its converter config, so an INT96 page (legacy writer, or
  // a session configured `outputTimestampType=INT96`) makes the streamed
  // table unreadable. `withFooter` therefore replicates that overload's
  // field assignments verbatim — they are all `protected`, visible from
  // this package — with int96 switched ON, then invokes the private
  // column-reader setup tail (`initializeInternal`) the subclass
  // overload would have run. Keep the flag set here in lock-step with
  // [[sparkSchemaOf]]: the probe and the reader must derive the same
  // Spark types or the row-side alignment check misfires.
  private lazy val initializeInternal: java.lang.reflect.Method = {
    val m = classOf[VectorizedParquetRecordReader]
      .getDeclaredMethod("initializeInternal")
    m.setAccessible(true)
    m
  }

  def withFooter(vectorized: VectorizedParquetRecordReader,
      fileSchema: MessageType, requestedSchema: MessageType,
      file: ParquetFileReader, totalRowCount: Long): Unit = {
    // Loud cap, not a real limit: the engine's own writes bin-pack to
    // ~128 MB files ([[graft.store.TableStore.compact]]) — row counts
    // sit orders of magnitude under 2^31. A foreign >2B-row file fails
    // here (the caller closes the handle) rather than overflowing.
    require(totalRowCount <= Int.MaxValue,
      s"file row count $totalRowCount exceeds a single reader's range")
    import org.apache.spark.sql.internal.SQLConf
    // only the keys set here are read: loading Hadoop's default
    // resources would parse their XML again for every file
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, false)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    vectorized.fileSchema = fileSchema
    vectorized.requestedSchema = requestedSchema
    vectorized.configuration = conf
    vectorized.parquetColumn = new ParquetToSparkSchemaConverter(conf)
      .convertParquetColumn(requestedSchema, scala.None)
    vectorized.sparkSchema = vectorized.parquetColumn.sparkType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    vectorized.sparkRequestedSchema = vectorized.sparkSchema
    vectorized.totalRowCount = totalRowCount
    vectorized.reader =
      new SpecificParquetRecordReaderBase.ParquetRowGroupReader {
        override def readNextRowGroup(): PageReadStore = file.readNextRowGroup()
        override def close(): Unit = file.close()
      }
    initializeInternal.invoke(vectorized)
  }
}
