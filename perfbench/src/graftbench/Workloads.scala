package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.app.Predictor
import graft.catalog.GraftCatalog
import graft.ingest.{Ingest, TelcoDataGen}
import graft.present.{Introspector, PlotDecider, Summarizer}
import graft.sql.{Engine, SqlCleanup}
import graft.translate.RuleTranslator

/** One request the client sends: `kind` is the operation type (`ask`,
  * `append`), `template` the entry of the mix it came from. */
final case class Op(kind: String, template: String, text: String)

/** What an operation returned, kept for the output checks that run
  * after the timed loop. */
final case class Outcome(ok: Boolean, sql: Option[String] = None,
    rendered: Option[String] = None,
    answer: Option[String] = None, error: Option[String] = None)

/** `dir` holds the workload's warehouse and its own scratch files. */
final case class Ctx(spark: SparkSession, dir: Path, seed: Long) {
  def warehouse: Path = dir.resolve("warehouse")
}

/** A closed-loop, single-client workload over a warehouse it builds. */
trait Workload {
  def ctx: Ctx
  def spark: SparkSession = ctx.spark
  protected val rng = new Random(ctx.seed)
  protected val cat = new GraftCatalog(ctx.warehouse, ctx.spark)

  /** Warehouse build and warmup: the timed part of set-up. */
  def setUp(): Unit
  /** Untimed, after the last set-up: prepare what the checks need and
    * drop the generator's in-memory data, so the heap measured at run
    * end holds the engine's state rather than the benchmark's. */
  def afterSetUp(): Unit = ()
  /** Operations of the untimed warm-up loop. */
  def warmOps: Int
  def next(): Op
  def run(op: Op): Outcome
  def runTraced(op: Op, t: Tracer): Outcome
  /** Untimed bookkeeping after each operation. */
  def afterOp(op: Op, out: Outcome, traced: Boolean): Unit = ()
  /** True between whole rounds of the mix; a run ends only there. */
  def atBoundary: Boolean
  /** Output checks; returns the failures. */
  def check(): Seq[String]
  /** Per-operation counters the workload records itself (traced runs). */
  def layerSamples: Map[String, Seq[Double]] = Map.empty
  /** The tables whose storage `storedBytesPerDataByte` measures. */
  def storedTables: Seq[String]

  /** Bytes under the directories of [[storedTables]] (data, logs,
    * manifests, checksums, sidecars) per byte of their live data files. */
  def storedBytesPerDataByte: Double = {
    val stored = storedTables.map { t =>
      Files.walk(ctx.warehouse.resolve(TelcoData.Db).resolve(t)).filter(Files.isRegularFile(_))
        .mapToLong(Files.size(_)).sum().toDouble
    }.sum
    val live = storedTables.map(t =>
      cat.store().dataFilesAsOf(t, None).map(_.bytes).sum).sum.toDouble
    stored / live
  }

  /** A shuffled round of the mix: every template once per round. */
  protected final class Deck[T](templates: Seq[T]) {
    private var left: List[T] = Nil
    def draw(): T = {
      if (left.isEmpty) left = rng.shuffle(templates).toList
      val t = left.head; left = left.tail; t
    }
    def empty: Boolean = left.isEmpty
  }

  /** `n` literals drawn once per run; each operation picks one of them,
    * so a run repeats queries the way an analysis session does. */
  protected def pool[T](n: Int)(draw: => T): IndexedSeq[T] = IndexedSeq.fill(n)(draw)

  protected def dateIn(fromEpochDay: Long, days: Int): String =
    java.time.LocalDate.ofEpochDay(fromEpochDay + rng.nextInt(days)).toString
}

object Workload {
  val TopK = 50
  val MaxRows = 1000

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "chat" => new Chat(ctx)
    case "ingest" => new IngestLoop(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** `rendered` is `expected`'s rows in some order, in `Engine.render` form. */
  def sameRowsRendered(rendered: String, expected: Array[Row]): Boolean =
    if (expected.isEmpty) rendered == SqlCleanup.EmptyResult
    else {
      var left = expected.map(Engine.renderRow).toList
      var pos = 1
      var ok = rendered.startsWith("[")
      while (ok && left.nonEmpty) {
        left.find(r => rendered.startsWith(r, pos)) match {
          case Some(r) =>
            left = left.diff(List(r)); pos += r.length
            val sep = if (left.isEmpty) "]" else ", "
            ok = rendered.startsWith(sep, pos); pos += sep.length
          case None => ok = false
        }
      }
      ok && pos == rendered.length
    }

  def error(e: Throwable): Outcome =
    Outcome(ok = false, error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
}

/** The chat path: `Predictor` over the telco warehouse, asked by one user. */
abstract class TelcoWorkload extends Workload {
  protected var data: TelcoData = _
  protected lazy val engine = new Engine(cat)
  protected lazy val translator = new RuleTranslator()
  protected lazy val introspector =
    new Introspector(cat, includeTables = Some(TelcoData.Tables))
  protected lazy val predictor = new Predictor(engine, translator, introspector,
    topK = Workload.TopK, maxRows = Workload.MaxRows)

  protected def ask(question: String): Outcome = {
    val r = predictor.predict(question)
    Outcome(!r.failed, r.sql, r.rendered, answer = Some(r.answer),
      error = if (r.failed) Some(r.answer) else None)
  }

  /** `Predictor.predict`'s steps, in its order, each in its own span. */
  protected def askTraced(question: String, t: Tracer): Outcome = {
    val info = t.span("present.table_info")(introspector.tableInfo)
    val raw = t.span("translate.to_sql")(translator.toSql(question, info, Workload.TopK))
    val (sql, df) = Traced.frontEnd(t, engine, raw)
    val rows = Traced.take(t, df)
    val (rendered, answer) = t.span("present.answer") {
      val rendered = Engine.render(rows)
      if (engine.isEmpty(rendered)) (rendered, Predictor.NoRecords)
      else {
        try PlotDecider.decide(df.schema, rows.length.toLong, question)
        catch { case NonFatal(_) => () }
        (rendered, Summarizer.summarize(question, rendered))
      }
    }
    Outcome(ok = true, Some(sql), Some(rendered), answer = Some(answer))
  }

  /** Answers of `Predictor.predict`, for workloads whose data does not change. */
  private val plainAnswers = mutable.Map.empty[String, String]

  /** The traced answer must be the one `Predictor.predict` gives. */
  protected def sameAsPredictor(question: String, traced: Outcome, dataFixed: Boolean): Outcome = {
    def plain() = predictor.predict(question).answer
    val answer = if (dataFixed) plainAnswers.getOrElseUpdate(question, plain()) else plain()
    if (traced.answer.contains(answer)) traced
    else traced.copy(ok = false, error = Some(
      s"traced answer differs from Predictor.predict: ${traced.answer} vs $answer"))
  }

  /** One full `predict`, then every other question's SQL through the
    * engine: schema introspection is the same for every question, so
    * this warms each query shape at a fraction of the cost. */
  protected def warmAsk(questions: Seq[String]): Unit = {
    val r = predictor.predict(questions.head)
    require(!r.failed, s"warmup question failed: ${questions.head} -> ${r.answer}")
    questions.tail.foreach { q =>
      engine.sql(SqlCleanup.clean(translator.toSql(q, "", Workload.TopK))).take(Workload.MaxRows)
    }
  }
}

/** Golden questions of the reference plus SQL passthroughs over the
  * five telco tables; the data never changes during a run. */
final class Chat(val ctx: Ctx) extends TelcoWorkload {
  // literal pools, drawn from the workload seed (data spans 2021-2025)
  private val regDates = pool(4)(dateIn(18628, 1826))   // 2021-01-01 + 5y
  private val usageDays = pool(4)(dateIn(20089, 330))   // within 2025
  private val rechargeDays = pool(4)(dateIn(20089, 330))
  private def pick(p: IndexedSeq[String]) = p(rng.nextInt(p.size))

  private val templates: Seq[(String, () => String)] = Seq(
    "postpaid" -> (() => "How many customers are subscribed to postpaid plans?"),
    "registered_since" -> (() => s"How many customers registered since ${pick(regDates)}?"),
    "revenue" -> (() => "Compare total revenue between prepaid and postpaid plans"),
    "max_customer" -> (() => "What is the max customer id?"),
    "customers" -> (() => "How many customers do we have?"),
    "usage_since" -> (() =>
      "SELECT COUNT(*) AS records, SUM(voice_minutes_used) AS minutes, " +
      "SUM(sms_sent) AS sms FROM usage_records " +
      s"WHERE usage_date >= TIMESTAMP '${pick(usageDays)} 00:00:00'"),
    "recharge_methods" -> (() =>
      "SELECT payment_method, COUNT(*) AS recharges, SUM(amount) AS total " +
      s"FROM recharges WHERE recharge_date >= DATE '${pick(rechargeDays)}' " +
      "GROUP BY payment_method ORDER BY payment_method"))
  private val deck = new Deck(templates)
  private val answered = mutable.ArrayBuffer.empty[(String, Outcome)]

  def setUp(): Unit = {
    data = new TelcoData(spark)
    data.load(cat)
    warmAsk(templates.map(_._2()))
  }

  override def afterSetUp(): Unit = data = null

  def storedTables: Seq[String] = TelcoData.Tables
  def warmOps: Int = 6 * templates.size
  def next(): Op = { val (name, q) = deck.draw(); Op("ask", name, q()) }
  def atBoundary: Boolean = deck.empty
  def run(op: Op): Outcome = ask(op.text)
  def runTraced(op: Op, t: Tracer): Outcome = askTraced(op.text, t)

  override def afterOp(op: Op, out: Outcome, traced: Boolean): Unit = {
    val checked = if (traced && out.ok) sameAsPredictor(op.text, out, dataFixed = true) else out
    answered += op.text -> checked
  }

  /** Every answer against plain Spark over the generator's DataFrames,
    * generated again from the fixed data seed. */
  def check(): Seq[String] = {
    val ref = spark.newSession()
    new TelcoData(spark).tables.foreach { case (name, df, _) =>
      ref.createDataFrame(df.rdd, df.schema).createOrReplaceTempView(name) }
    val expected = mutable.Map.empty[String, Array[Row]]
    answered.toSeq.flatMap {
      case (q, out) if !out.ok => Seq(s"chat: '$q' failed: ${out.error.getOrElse("")}")
      case (q, out) =>
        val sql = out.sql.get
        val rows = expected.getOrElseUpdate(sql, ref.sql(sql).collect())
        if (Workload.sameRowsRendered(out.rendered.get, rows)) Nil
        else Seq(s"chat: '$q' rendered ${out.rendered.get}, plain Spark gives " +
          Engine.render(rows))
    }
  }
}

/** `append_iceberg.py`'s loop on the telco warehouse: each cycle appends
  * a seeded batch to `usage_records`, verifies the count, then asks one
  * question over the table. A round is [[IngestLoop.Cycles]] cycles on a
  * freshly loaded table, so every round meets the same history depths. */
final class IngestLoop(val ctx: Ctx) extends TelcoWorkload {
  import IngestLoop._

  private val gen = new TelcoDataGen(spark, ctx.seed)
  private var cycle = 0            // cycles done in the current round
  private var appendNext = true
  private var rounds = 0
  private var initial: Buckets = _ // the oracle for the freshly loaded table
  private var current: Buckets = _ // ... plus the batches of this round
  private var lastBatch: DataFrame = _
  private val failures = mutable.ArrayBuffer.empty[String]
  private val logBytes = mutable.ArrayBuffer.empty[Double]
  private val snapshots = mutable.ArrayBuffer.empty[Double]
  private val appendedDataBytes = mutable.ArrayBuffer.empty[Double]
  private var lastDataBytes = 0.0
  private def initialCopy = ctx.dir.resolve("usage-initial").toString

  private def question(v: Int) =
    "SELECT COUNT(*) AS records, MAX(usage_id) AS max_id, SUM(sms_sent) AS sms " +
    s"FROM usage_records WHERE voice_minutes_used >= $v"

  def setUp(): Unit = {
    data = new TelcoData(spark)
    data.load(cat, Map(Table -> InitialFiles))
    warmAsk(Seq(question(30)))
  }

  /** A parquet copy of the initial rows to reload each round from, and
    * the oracle's aggregates of them. */
  override def afterSetUp(): Unit = {
    data.usage.write.parquet(initialCopy)
    initial = new Buckets
    initial.add(data.usage)
    current = initial.copy()
    data = null
  }

  def storedTables: Seq[String] = Seq(Table)
  /** Two cycles: an append cycle and a question each. */
  def warmOps: Int = 4

  def next(): Op = {
    if (cycle == 0 && appendNext && rounds > 0) reload()
    if (appendNext) Op("append", "append_cycle", "")
    else Op("ask", "usage_question", question(rng.nextInt(Minutes)))
  }

  def atBoundary: Boolean = cycle == 0 && appendNext

  /** A fresh `usage_records` with only its initial snapshot, written as
    * [[IngestLoop.InitialFiles]] files. */
  private def reload(): Unit = {
    cat.dropTable(Table)
    cat.createTable(Table, TelcoDataGen.usageSchema)
    val rows = spark.read.parquet(initialCopy).rdd
    cat.append(Table, spark.createDataFrame(rows, TelcoDataGen.usageSchema)
      .repartition(InitialFiles), 1000L)
    current = initial.copy()
    lastDataBytes = 0.0
  }

  private def baseCount = initial.count.sum

  def run(op: Op): Outcome = op.kind match {
    case "append" =>
      val id = Ingest.nextId(cat, Table, "usage_id")
      val batch = gen.usageRecords(BatchRows, 1 to TelcoData.Customers, startId = id.toInt)
      cat.append(Table, batch)
      verified(batch, countRows())
    case _ => ask(op.text)
  }

  def runTraced(op: Op, t: Tracer): Outcome = op.kind match {
    case "append" =>
      val id = t.span("ingest.next_id")(Ingest.nextId(cat, Table, "usage_id"))
      val batch = gen.usageRecords(BatchRows, 1 to TelcoData.Customers, startId = id.toInt)
      // GraftCatalog.append is exactly these two calls
      t.span("store.append")(cat.store().append(Table, batch))
      t.span("catalog.register_view")(cat.registerView(Table))
      verified(batch, t.span("ingest.verify_count")(countRows()))
    case _ => askTraced(op.text, t)
  }

  private def countRows(): Long =
    engine.sql(s"SELECT COUNT(*) FROM $Table").take(1).head.getLong(0)

  private def verified(batch: DataFrame, count: Long): Outcome = {
    lastBatch = batch
    val want = baseCount + (cycle + 1).toLong * BatchRows
    if (count == want) Outcome(ok = true)
    else Outcome(ok = false, error = Some(s"COUNT(*) after append read $count, expected $want"))
  }

  override def afterOp(op: Op, out: Outcome, traced: Boolean): Unit = op.kind match {
    case "append" =>
      if (!out.ok) failures += s"ingest: ${out.error.getOrElse("")}"
      if (lastBatch != null) current.add(lastBatch)
      lastBatch = null
      appendNext = false
      if (traced) {
        val dir = ctx.warehouse.resolve(TelcoData.Db).resolve(Table)
        val (data, meta) = Files.walk(dir).filter(Files.isRegularFile(_)).toArray
          .map(_.asInstanceOf[Path]).partition(_.startsWith(dir.resolve("data")))
        val dataBytes = data.map(Files.size(_)).sum.toDouble
        logBytes += meta.map(Files.size(_)).sum.toDouble
        appendedDataBytes += dataBytes - lastDataBytes
        lastDataBytes = dataBytes
        snapshots += cat.history(Table).collect().length.toDouble
      }
    case _ =>
      val checked = if (traced && out.ok) sameAsPredictor(op.text, out, dataFixed = false) else out
      if (!checked.ok) failures += s"ingest: '${op.text}' failed: ${checked.error.getOrElse("")}"
      else {
        val want = current.answer(op.text.split(">= ").last.trim.toInt)
        if (!checked.rendered.contains(want))
          failures += s"ingest: '${op.text}' rendered ${checked.rendered.getOrElse("")}, expected $want"
      }
      appendNext = true
      cycle += 1
      if (cycle == Cycles) { checkRound(); cycle = 0; rounds += 1 }
  }

  /** A new catalog and engine must see every committed batch. */
  private def checkRound(): Unit = {
    val fresh = new GraftCatalog(ctx.warehouse, spark)
    fresh.use(TelcoData.Db)
    val e = new Engine(fresh)
    val count = e.sql(s"SELECT COUNT(*) FROM $Table").take(1).head.getLong(0)
    val maxId = e.sql(s"SELECT MAX(usage_id) FROM $Table").take(1).head.getInt(0)
    val history = fresh.history(Table).collect().length
    val want = baseCount + Cycles.toLong * BatchRows
    if (count != want) failures += s"ingest: new catalog COUNT(*) $count, expected $want"
    if (maxId != want) failures += s"ingest: new catalog MAX(usage_id) $maxId, expected $want"
    if (history != 1 + Cycles) failures += s"ingest: history has $history snapshots, expected ${1 + Cycles}"
  }

  def check(): Seq[String] =
    if (rounds == 0) failures.toSeq :+ "ingest: no complete round" else failures.toSeq

  override def layerSamples: Map[String, Seq[Double]] = Map(
    "store.log_bytes" -> logBytes.toSeq,
    "store.snapshots" -> snapshots.toSeq,
    "store.append_data_bytes" -> appendedDataBytes.toSeq)
}

object IngestLoop {
  val Table = "usage_records"
  /** `voice_minutes_used` takes the values 0 until `Minutes`. */
  val Minutes = 61
  val BatchRows = 1000
  val Cycles = 8
  /** Past Spark's 32-path threshold for listing files in parallel, so
    * every cycle meets the same listing regime. */
  val InitialFiles = 32

  /** The question's answer per `voice_minutes_used` value: row count,
    * max `usage_id` and sum of `sms_sent`, folded from the generator's
    * rows. The oracle keeps these, not the rows. */
  final class Buckets {
    val count = new Array[Long](Minutes)
    val maxId = Array.fill(Minutes)(Int.MinValue)
    val sms = new Array[Long](Minutes)

    def add(rows: DataFrame): Unit = rows.collect().foreach { r =>
      val m = r.getInt(4)
      count(m) += 1
      maxId(m) = math.max(maxId(m), r.getInt(0))
      sms(m) += r.getInt(5)
    }

    def copy(): Buckets = {
      val b = new Buckets
      count.copyToArray(b.count); maxId.copyToArray(b.maxId); sms.copyToArray(b.sms)
      b
    }

    /** `Engine.render` of the question's one row for `voice_minutes_used >= v`. */
    def answer(v: Int): String = {
      val r = v until Minutes
      s"[(${r.map(count).sum}, ${r.map(maxId).max}, ${r.map(sms).sum})]"
    }
  }
}

/** The traced forms of the calls every workload makes. */
object Traced {
  private def phase(df: DataFrame, name: String): Double =
    df.queryExecution.tracker.phases.get(name).map(_.durationMs.toDouble).getOrElse(0.0)

  /** `SqlCleanup.clean` + `Engine.sql`, as `Predictor.predict` calls them. */
  def frontEnd(t: Tracer, engine: Engine, raw: String): (String, DataFrame) =
    t.spanNoting("sql.front_end") { note =>
      val sql = SqlCleanup.clean(raw)
      val df = engine.sql(sql)
      note(Map("analysis_ms" -> phase(df, "analysis")))
      (sql, df)
    }

  /** `df.take(n)` is `df.limit(n)` collected; collecting it here keeps
    * the executed plan, whose scan metrics and phase times it reports. */
  def take(t: Tracer, df: DataFrame): Array[Row] =
    t.spanNoting("exec.take") { note =>
      val limited = df.limit(Workload.MaxRows)
      val rows = limited.collect()
      val qe = limited.queryExecution
      note(Map(
        "analysis_ms" -> phase(limited, "analysis"),
        "optimization_ms" -> phase(limited, "optimization"),
        "planning_ms" -> phase(limited, "planning"),
        "files_read" -> PlanFiles.filesRead(qe.executedPlan),
        "rows_returned" -> rows.length.toDouble))
      rows
    }
}
