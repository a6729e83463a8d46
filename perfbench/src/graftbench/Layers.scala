package graftbench

/** Per-layer metrics of a traced run, per operation. A metric of a layer
  * the workload never calls reads 0. */
object Layers {
  /** name, unit: the order `BENCHMARK.json` lists them in. */
  val Names: Seq[(String, String)] = Seq(
    "present.table_info_ms" -> "ms", "present.table_info_jobs" -> "count",
    "present.answer_ms" -> "ms",
    "translate.to_sql_ms" -> "ms",
    "sql.front_end_ms" -> "ms", "sql.analysis_ms" -> "ms",
    "exec.take_ms" -> "ms", "exec.optimization_ms" -> "ms", "exec.planning_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.cpu_ms" -> "ms", "exec.run_ms" -> "ms",
    "exec.input_bytes" -> "bytes", "exec.input_rows" -> "count", "exec.files_read" -> "count",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.rows_read_per_row_returned" -> "ratio",
    "catalog.register_view_ms" -> "ms", "catalog.register_view_jobs" -> "count",
    "store.append_ms" -> "ms", "store.append_jobs" -> "count",
    "store.append_bytes_written" -> "bytes", "store.log_bytes" -> "bytes",
    "store.bytes_written_per_data_byte" -> "ratio", "store.snapshots" -> "count",
    "ingest.next_id_ms" -> "ms", "ingest.verify_count_ms" -> "ms",
    "fs.bytes_read" -> "bytes", "fs.bytes_written" -> "bytes",
    "jvm.gc_ms" -> "ms",
    "trace.ask_p50_ms" -> "ms", "trace.append_p50_ms" -> "ms",
    "trace.unattributed_ms" -> "ms")

  def metrics(spans: Seq[Span], own: Map[String, Seq[Double]]): Seq[(String, (Double, String))] = {
    val named = spans.groupBy(_.name)
    def of(name: String) = named.getOrElse(name, Nil)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def ms(name: String) = mean(of(name).map(_.ms))
    def counter(name: String, key: String) = mean(of(name).map(_.counters.getOrElse(key, 0.0)))
    def total(name: String, key: String) = of(name).map(_.counters.getOrElse(key, 0.0)).sum
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val roots = spans.filter(_.parent == 0)
    val children = spans.groupBy(_.parent)
    def rootMean(key: String) = mean(roots.map(_.counters.getOrElse(key, 0.0)))
    def rootP50(kind: String) = {
      val d = roots.filter(_.name == s"op.$kind").map(_.ms)
      if (d.isEmpty) 0.0 else Main.median(d)
    }

    val v: Map[String, Double] = Map(
      "present.table_info_ms" -> ms("present.table_info"),
      "present.table_info_jobs" -> counter("present.table_info", "jobs"),
      "present.answer_ms" -> ms("present.answer"),
      "translate.to_sql_ms" -> ms("translate.to_sql"),
      "sql.front_end_ms" -> ms("sql.front_end"),
      "sql.analysis_ms" -> (counter("sql.front_end", "analysis_ms") +
        counter("exec.take", "analysis_ms")),
      "exec.take_ms" -> ms("exec.take"),
      "exec.optimization_ms" -> counter("exec.take", "optimization_ms"),
      "exec.planning_ms" -> counter("exec.take", "planning_ms"),
      "exec.jobs" -> counter("exec.take", "jobs"),
      "exec.stages" -> counter("exec.take", "stages"),
      "exec.tasks" -> counter("exec.take", "tasks"),
      "exec.cpu_ms" -> counter("exec.take", "cpu_ms"),
      "exec.run_ms" -> counter("exec.take", "run_ms"),
      "exec.input_bytes" -> counter("exec.take", "input_bytes"),
      "exec.input_rows" -> counter("exec.take", "input_rows"),
      "exec.files_read" -> counter("exec.take", "files_read"),
      "exec.shuffle_write_bytes" -> counter("exec.take", "shuffle_write_bytes"),
      "exec.spill_bytes" -> counter("exec.take", "spill_bytes"),
      "exec.rows_read_per_row_returned" ->
        ratio(total("exec.take", "input_rows"), total("exec.take", "rows_returned")),
      "catalog.register_view_ms" -> ms("catalog.register_view"),
      "catalog.register_view_jobs" -> counter("catalog.register_view", "jobs"),
      "store.append_ms" -> ms("store.append"),
      "store.append_jobs" -> counter("store.append", "jobs"),
      "store.append_bytes_written" -> counter("store.append", "fs_bytes_written"),
      "store.log_bytes" -> mean(own.getOrElse("store.log_bytes", Nil)),
      "store.bytes_written_per_data_byte" -> ratio(total("store.append", "fs_bytes_written"),
        own.getOrElse("store.append_data_bytes", Nil).sum),
      "store.snapshots" -> mean(own.getOrElse("store.snapshots", Nil)),
      "ingest.next_id_ms" -> ms("ingest.next_id"),
      "ingest.verify_count_ms" -> ms("ingest.verify_count"),
      "fs.bytes_read" -> rootMean("fs_bytes_read"),
      "fs.bytes_written" -> rootMean("fs_bytes_written"),
      "jvm.gc_ms" -> rootMean("gc_ms"),
      "trace.ask_p50_ms" -> rootP50("ask"),
      "trace.append_p50_ms" -> rootP50("append"),
      // time inside operations that no layer span covers
      "trace.unattributed_ms" ->
        mean(roots.map(r => Tracer.selfMs(r, children.getOrElse(r.id, Nil)))))
    Names.map { case (n, unit) => n -> (v(n), unit) }
  }
}
