package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.catalog.GraftCatalog
import graft.store.At

/** CSV→cast→append ingest pipeline.
  *
  * Port of the shape of `telco_spark/append_telco_spark_iceberg.py:40-67`:
  * header+inferSchema read, explicit corrective `to_date`/`to_timestamp`
  * casts per table (inference gets dates wrong), count, append, verify.
  * The cast map is data-driven rather than hard-coded per telco table so
  * the pipeline stays schema-agnostic (SURVEY.md §1.2).
  */
object Ingest {

  final case class Cast(column: String, kind: String, format: String)
  object Cast {
    def date(col: String, fmt: String = "yyyy-MM-dd"): Cast = Cast(col, "date", fmt)
    def timestamp(col: String, fmt: String = "yyyy-MM-dd HH:mm:ss"): Cast =
      Cast(col, "timestamp", fmt)
  }

  def readCsv(spark: SparkSession, path: String, casts: Seq[Cast] = Seq.empty): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(path)
    casts.foldLeft(raw) { (df, c) =>
      c.kind match {
        case "date" => df.withColumn(c.column, to_date(col(c.column), c.format))
        case "timestamp" => df.withColumn(c.column, to_timestamp(col(c.column), c.format))
        case other => throw new IllegalArgumentException(s"unknown cast kind: $other")
      }
    }
  }

  /** CSV → typed DF → snapshot append; returns (rowsIngested, totalAfter)
    * mirroring the count-then-verify flow
    * (`telco_spark/append_telco_spark_iceberg.py:64-72`). */
  def appendCsv(catalog: GraftCatalog, table: String, csvPath: String,
      casts: Seq[Cast] = Seq.empty,
      timestampMs: Long = System.currentTimeMillis()): (Long, Long) = {
    val df = readCsv(catalog.spark, csvPath, casts)
    val n = df.count()
    catalog.append(table, df, timestampMs)
    (n, catalog.table(table).count())
  }

  /** MAX-id continuation for incremental appends
    * (`append_iceberg.py:104-123`): next id = MAX(idCol)+1, or 1 on empty.
    * An INT or BIGINT column is answered from the bounds the snapshot log
    * keeps per file ([[graft.store.TableStore.columnBound]]), with no
    * Spark job; the table is scanned only when metadata cannot answer.
    */
  def nextId(catalog: GraftCatalog, table: String, idCol: String): Long = {
    val st = catalog.store()
    val m = st.meta(table)
    val resolver = catalog.spark.sessionState.conf.resolver
    val fromBounds = m.schema.fields.find(f => resolver(f.name, idCol))
      .filter(f => f.dataType == IntegerType || f.dataType == LongType)
      .flatMap(st.columnBound(_, st.pin(table, At.Latest, m).files,
        m.renameEvents, isMax = true))
    val maxId = fromBounds.getOrElse {
      catalog.table(table).agg(max(col(idCol))).head().get(0) match {
        case null => None
        case i: Int => Some(i.toLong)
        case l: Long => Some(l)
        case other => throw new IllegalArgumentException(s"non-integral id column $idCol: $other")
      }
    }
    maxId.fold(1L)(_ + 1L)
  }
}
