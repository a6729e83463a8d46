package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up the workload's warehouse, run its closed loop
  * untimed so the JIT compiler catches up, set up again several times (the
  * median of these is `setup_s`), run the closed loop timed for the given
  * seconds on the last warehouse, check every output, and write the
  * figures as JSON for `perfbench/run.py`.
  *
  * Usage: `graftbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <out.json>`
  */
object Main {
  /** Set-ups per run. The first pays for a cold JVM and Spark and is not
    * counted; `setup_s` is the median of the others. */
  val SetupRepeats = 4
  /** A percentile is reported only with at least this many samples above it. */
  val SamplesAbove = 10

  final case class Sample(kind: String, template: String, ms: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, workArg, outArg) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val work = Paths.get(workArg).toAbsolutePath

    // --- set-up, repeated; the last one is kept for the timed loop -------
    var spark: SparkSession = null
    var wl: Workload = null
    /** Runs the workload's closed loop until `done(operations, seconds)`
      * holds, where `seconds` is the time the operations took; returns
      * the samples and the seconds they took. */
    def loop(done: (Int, Double) => Boolean, tracer: Option[Tracer]): (Seq[Sample], Double) = {
      val samples = mutable.ArrayBuffer.empty[Sample]
      var ns = 0L
      while (!done(samples.size, ns / 1e9)) {
        val op = wl.next()
        val t0 = System.nanoTime()
        val out =
          try tracer.fold(wl.run(op))(t => t.operation(op.kind)(wl.runTraced(op, t)))
          catch { case NonFatal(e) => Workload.error(e) }
        val d = System.nanoTime() - t0
        ns += d
        samples += Sample(op.kind, op.template, d / 1e6, out.ok)
        wl.afterOp(op, out, tracer.isDefined)
      }
      (samples.toSeq, ns / 1e9)
    }

    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var warm: Seq[Sample] = Nil
    for (rep <- 1 to SetupRepeats) {
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        deleteTree(work.resolve(s"rep-${rep - 1}"))
      }
      System.gc() // each set-up starts on an empty heap
      val t0 = System.nanoTime()
      spark = session(work)
      wl = Workload(workload, Ctx(spark, work.resolve(s"rep-$rep"), seed))
      wl.setUp()
      setupTimes += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[graftbench] set-up $rep: ${setupTimes.last}%.2f s")
      wl.afterSetUp()
      // the cold set-up's warehouse serves the untimed warm-up loop, which
      // lets the JIT compiler catch up before the timed set-ups and loop;
      // it runs a fixed number of operations, so a slow machine does not
      // also start the timed part with less compiled code
      if (rep == 1) warm = loop((n, _) => n >= wl.warmOps, None)._1
    }

    // --- timed closed loop -------------------------------------------------
    System.gc()
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val (samples, measuredS) = loop((_, s) => s >= seconds && wl.atBoundary, tracer)

    // --- run-end state, then output checks --------------------------------
    val heapMb = retainedHeapMb()
    val storedRatio = wl.storedBytesPerDataByte
    val failures = try wl.check() catch { case NonFatal(e) => Seq(s"check crashed: $e") }
    val spans = tracer.map(_.finish()).getOrElse(Nil)

    val ok = samples.filter(_.ok)
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    e2e("setup_s") = (median(setupTimes.toSeq.tail), "s")
    // the user-facing latency of each workload: one question (chat), one
    // append cycle plus its question (ingest)
    val latencies = workload match {
      case "ingest" => samples.grouped(2).collect {
        case Seq(append, ask) if append.ok && ask.ok => append.ms + ask.ms
      }.toSeq
      case _ => ok.map(_.ms).toSeq
    }
    e2e("latency_p50_ms") = (median(latencies), "ms")
    e2e("ops_per_s") = (ok.size / measuredS, "1/s")
    e2e("stored_bytes_per_data_byte") = (storedRatio, "ratio")
    e2e("retained_heap_mb") = (heapMb, "MB")

    // per operation type, under the names the workload docs use
    val byKind = mutable.LinkedHashMap.empty[String, (Double, String)]
    ok.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, ss) =>
      val ms = ss.map(_.ms).toSeq
      byKind(s"${kind}_p50_ms") = (median(ms), "ms")
      // the highest whole percentile with enough samples above it, if any
      val top = math.floor(100.0 * (1 - SamplesAbove.toDouble / ms.size)).toInt
      if (top > 50) byKind(s"${kind}_p${top}_ms") = (percentile(ms, top), "ms")
      byKind(s"${kind}_samples") = (ms.size.toDouble, "count")
    }
    val attempted = samples.size
    val failed = samples.count(!_.ok)
    byKind("failed_ratio") = (failed.toDouble / attempted, "ratio")
    byKind("setup_cold_s") = (setupTimes.head, "s")
    byKind("warm_ops") = (warm.size.toDouble, "count")
    byKind("warm_p50_ms") = (median(warm.filter(_.ok).map(_.ms)), "ms")
    byKind("latency_samples") = (latencies.size.toDouble, "count")

    val layers = if (trace) Layers.metrics(spans, wl.layerSamples) else Nil
    if (trace) writeSpans(work.resolve("spans.jsonl"), spans)

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload": ${Json.str(workload)}, "seed": $seed, "trace": $trace, """
    json ++= s""""correct": ${failures.isEmpty}, "attempted": $attempted, "failed": $failed, """
    json ++= s""""failures": ${Json.arr(failures.take(20).map(Json.str))}, """
    json ++= s""""end_to_end": ${Json.metrics(e2e.toSeq)}, """
    json ++= s""""per_kind": ${Json.metrics(byKind.toSeq)}, """
    json ++= s""""per_layer": ${Json.metrics(layers)}, """
    json ++= s""""setup_times_s": ${Json.arr(setupTimes.map(Json.num))}, """
    json ++= s""""templates": ${Json.obj(ok.groupBy(_.template).toSeq.sortBy(_._1).map {
      case (t, ss) => t -> Json.num(median(ss.map(_.ms).toSeq)) })}"""
    json ++= "}"
    Files.writeString(Paths.get(outArg), json.toString)
    spark.stop()
  }

  def session(work: Path): SparkSession = {
    // run.py sizes the JVM to the cores the benchmark may use
    val cpus = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
  }

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = r.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  private def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      s"""{"op": ${s.op}, "id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "counters": ${Json.obj(
        s.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })}}"""
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
      all.foreach(Files.delete)
    }
}

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[(String, (Double, String))]): String =
    obj(ms.map { case (k, (v, unit)) => k -> s"""{"value": ${num(v)}, "unit": ${str(unit)}}""" })
}
