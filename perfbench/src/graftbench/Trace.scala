package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One timed call into the program. `op` is the operation the span
  * belongs to; `parent` is 0 for an operation's root span. */
final case class Span(op: Long, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark task counters per span. Every job the program starts inherits
  * the caller's local property [[Tracer.SpanProp]], so stage and task
  * events are attributed to the innermost open span even though the
  * listener bus delivers them asynchronously. */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val bySpan = new ConcurrentHashMap[Long, Array[Double]]()
  @volatile private var ended = Set.empty[Int]

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toLong)

  private def add(span: Long, i: Int, v: Double): Unit = {
    val a = bySpan.computeIfAbsent(span, _ => new Array[Double](Names.size))
    a.synchronized { a(i) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s => jobSpan.put(e.jobId, s); add(s, 0, 1) }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += e.jobId
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s); add(s, 1, 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      add(s, 2, 1)
      Option(e.taskMetrics).foreach { m =>
        add(s, 3, m.executorCpuTime / 1e6)
        add(s, 4, m.executorRunTime.toDouble)
        add(s, 5, m.inputMetrics.bytesRead.toDouble)
        add(s, 6, m.inputMetrics.recordsRead.toDouble)
        add(s, 7, m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s, 8, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }

  /** Block until every event posted before this call is delivered: run
    * one marker job and wait for its end event, which the bus delivers
    * after all earlier events. */
  def drain(sc: SparkContext): Unit = {
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, MarkerSpan.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SpanProp, prev)
    val deadline = System.nanoTime() + 60L * 1000000000L
    def markerEnded = jobSpan.asScala.exists { case (j, s) => s == MarkerSpan && ended(j) }
    while (!markerEnded) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 60 s")
      Thread.sleep(5)
    }
  }

  def forSpan(span: Long): Map[String, Double] =
    Option(bySpan.get(span)).map(a => Names.zip(a.toSeq).toMap).getOrElse(Map.empty)
}

object SparkCounters {
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "cpu_ms", "run_ms",
    "input_bytes", "input_rows", "shuffle_write_bytes", "spill_bytes")
  private val MarkerSpan = -1L
}

/** In-memory span recorder around the benchmark's own calls into the
  * program. Spans are kept until the run ends; nothing is written while
  * operations are timed. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var op = 0L
  val spark = new SparkCounters
  sc.addSparkListener(spark)

  /** Root span of one operation; every span opened inside shares its id. */
  def operation[T](kind: String)(body: => T): T = {
    require(stack.isEmpty, "operations do not nest")
    op += 1
    span(s"op.$kind")(body)
  }

  def span[T](name: String)(body: => T): T = spanNoting(name)(_ => body)

  /** A span whose body may attach counters of its own (plan metrics,
    * Catalyst phase times) through the callback it is given. */
  def spanNoting[T](name: String)(body: (Map[String, Double] => Unit) => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    stack = id :: stack
    var extra = Map.empty[String, Double]
    val fs0 = Tracer.fsCounters()
    val gc0 = Tracer.gcMs()
    val t0 = System.nanoTime()
    try body(m => extra ++= m)
    finally {
      val t1 = System.nanoTime()
      val fs1 = Tracer.fsCounters()
      val own = fs1.map { case (k, v) => k -> (v - fs0(k)) } +
        ("gc_ms" -> (Tracer.gcMs() - gc0))
      spans += Span(op, id, parent, name, t0, t1, own ++ extra)
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
    }
  }

  /** All spans, each with its Spark task counters merged in. */
  def finish(): Seq[Span] = {
    spark.drain(sc)
    sc.removeSparkListener(spark)
    spans.toSeq.map(s => s.copy(counters = s.counters ++ spark.forSpan(s.id)))
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Hadoop FileSystem byte statistics, summed over every scheme in use
    * (the local file system counts bytes but not operations). */
  def fsCounters(): Map[String, Double] = {
    val st = FileSystem.getAllStatistics.asScala
    Map(
      "fs_bytes_read" -> st.map(_.getBytesRead.toDouble).sum,
      "fs_bytes_written" -> st.map(_.getBytesWritten.toDouble).sum)
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Self time: a span's duration minus the part of it its children cover. */
  def selfMs(span: Span, children: Seq[Span]): Double = {
    val covered = children.sortBy(_.startNs).foldLeft((0L, span.startNs)) {
      case ((acc, reach), c) =>
        val lo = math.max(c.startNs, reach)
        val hi = math.min(c.endNs, span.endNs)
        if (hi > lo) (acc + (hi - lo), hi) else (acc, math.max(reach, c.endNs))
    }._1
    (span.endNs - span.startNs - covered) / 1e6
  }
}

/** Files a finished physical plan read, from the scans' own metrics
  * (adaptive plans and subqueries included). */
object PlanFiles extends AdaptiveSparkPlanHelper {
  def filesRead(plan: SparkPlan): Double =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
}
