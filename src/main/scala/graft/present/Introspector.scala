package graft.present

import org.apache.spark.sql.Row

import graft.catalog.GraftCatalog
import graft.store.At

/** Schema-context assembly for the translation prompt.
  *
  * The reference feeds the LLM `{table_info}` = CREATE TABLE DDL + 10
  * sample rows per allow-listed table (`SQLDatabase.from_uri(...,
  * include_tables=…, sample_rows_in_table_info=10)`, `app-gradio.py:86-87`,
  * `README.md:11-12`). Tables outside the allow-list stay invisible.
  *
  * Every question builds the context again from the current snapshot;
  * nothing is kept between calls. The sample rows are read on the driver
  * with no Spark job ([[graft.store.TableStore.sampleRows]]): the first
  * files of the planned scan, in the order Spark's own `limit(n)
  * .collect()` reads them, through the Parquet reader the streaming
  * source uses, so the rows and the prompt text are the ones that
  * `collect()` gives. A table with delete files, a bucketed scan, a
  * needed file split across scan partitions or a file the reader rejects
  * is read by Spark, as `limit(n).collect()` reads it, with its jobs.
  */
final class Introspector(
    catalog: GraftCatalog,
    includeTables: Option[Seq[String]] = None,
    sampleRows: Int = 10) {

  def tables: Seq[String] = {
    val all = catalog.listTables()
    includeTables.map(inc => all.filter(inc.contains(_))).getOrElse(all)
  }

  /** One table's context block: DDL + sample rows (tab-separated, the
    * LangChain table_info shape). When `COMPUTE STATS` has run, a
    * compact per-column stats line rides along — row counts, NDV, and
    * value ranges ground the LLM's join-key and filter choices the same
    * way they ground Impala's planner, at zero extra scan cost (the
    * stats are read from the table's metadata record). */
  def tableInfo(name: String): String = {
    val st = catalog.store()
    val meta = st.meta(name) // one metadata read serves the scan and the stats
    val (df, files) = st.scan(st.pin(name, At.Latest, meta), None)
    val ddlCols = df.schema.fields
      .map(f => s"  ${f.name} ${f.dataType.sql}${if (f.nullable) "" else " NOT NULL"}")
      .mkString(",\n")
    val ddl = s"CREATE TABLE $name (\n$ddlCols\n)"
    val sample = st.sampleRows(df, files, sampleRows, meta)
    val header = df.columns.mkString("\t")
    val rows = sample.map(renderSampleRow).mkString("\n")
    val stats = meta.stats.map { s =>
      val cols = s.cols.map { c =>
        val range = (c.min, c.max) match {
          case (Some(lo), Some(hi)) => s" range=[$lo, $hi]"
          case _ => ""
        }
        s"${c.column}: ndv=${c.ndv} nulls=${c.nullCount}$range"
      }.mkString("\n")
      s"\n\n/*\nstats (${s.rowCount} rows):\n$cols\n*/"
    }.getOrElse("")
    s"""$ddl
       |
       |/*
       |$sampleRows rows from $name table:
       |$header
       |$rows
       |*/""".stripMargin + stats
  }

  def tableInfo: String = tables.map(tableInfo).mkString("\n\n")

  private def renderSampleRow(r: Row): String =
    (0 until r.length).map { i =>
      val v = r.get(i)
      if (v == null) "None" else v.toString
    }.mkString("\t")
}
