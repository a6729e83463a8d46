package graft.sql

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import graft.store.At

/** Handles Impala/Iceberg `FOR SYSTEM_TIME AS OF '<ts>'` syntax.
  *
  * The reference instructs the LLM to apply the clause "on every table in
  * the query" when the user asks for system time (`app-gradio.py:138`,
  * demo `README.md:100-107`). Spark's parser only accepts `TIMESTAMP AS OF`
  * for DataSourceV2 relations, so — mirroring the reference's own
  * string-level SQL handling (`app-gradio.py:149-155`) — we rewrite before
  * parsing: strip every clause, collect the timestamp, and let the engine
  * pin each referenced table's snapshot to it (SURVEY.md §4.1).
  */
object TimeTravelRewriter {

  /** `FOR SYSTEM_TIME AS OF 'ts'` (also the Spark spelling
    * `TIMESTAMP AS OF`), case-insensitive. */
  private val TimeClause =
    ("(?i)\\s+(?:FOR\\s+SYSTEM_TIME\\s+AS\\s+OF" +
     "|TIMESTAMP\\s+AS\\s+OF)\\s+('([^']*)'|\"([^\"]*)\"|\\S+)").r

  /** `FOR SYSTEM_VERSION AS OF <snapshot-id>` (Spark spelling
    * `VERSION AS OF`) — Iceberg's snapshot-id travel, the sibling of
    * SYSTEM_TIME in the same Impala dialect. */
  private val VersionClause =
    ("(?i)\\s+(?:FOR\\s+SYSTEM_VERSION\\s+AS\\s+OF" +
     "|VERSION\\s+AS\\s+OF)\\s+('([^']*)'|\"([^\"]*)\"|\\S+)").r

  final case class Rewritten(sql: String, asOfMs: Option[Long],
      versionId: Option[Long] = None, versionTag: Option[String] = None) {
    /** The snapshot the statement reads: the one clause, which Rule 3
      * applies to *every* table (`app-gradio.py:138`), or the latest. */
    def at: At = (asOfMs, versionId, versionTag) match {
      case (Some(ms), _, _) => At.AsOfMs(ms)
      case (_, Some(id), _) => At.Version(id)
      case (_, _, Some(r))  => At.Ref(r)
      case _                => At.Latest
    }
  }

  def rewrite(sql: String): Rewritten = {
    var asOf: Option[Long] = None
    var version: Option[Long] = None
    var tag: Option[String] = None
    def lit(m: scala.util.matching.Regex.Match): String =
      Option(m.group(2)).orElse(Option(m.group(3))).getOrElse(m.group(1))
    val noVersions = VersionClause.replaceAllIn(sql, m => {
      val v = lit(m).trim
      val quoted = m.group(2) != null || m.group(3) != null
      if (v.matches("\\d+")) version = Some(v.toLong)
      else {
        // Iceberg's ref travel: a QUOTED non-numeric version is a tag
        // name (unquoted stays id-only, so a malformed id cannot be
        // silently reinterpreted as a ref)
        require(quoted && v.matches("[A-Za-z_][\\w.-]*"),
          s"snapshot id must be numeric, or a quoted tag name: '$v'")
        tag = Some(v)
      }
      ""
    })
    val stripped = TimeClause.replaceAllIn(noVersions, m => {
      asOf = Some(parseTimestampMs(lit(m)))
      ""
    })
    require(Seq(asOf, version, tag).count(_.isDefined) <= 1,
      "cannot combine SYSTEM_TIME and SYSTEM_VERSION in one statement")
    Rewritten(stripped, asOf, version, tag)
  }

  /** Accepts 'YYYY-MM-DD HH:MI:SS[.fff]' (the prompt's required shape,
    * `app-gradio.py:138`), bare dates, ISO 'T' separators, and epoch millis.
    * Wall-clock literals are interpreted in UTC (session timezone is pinned
    * to UTC for oracle parity — build.sbt).
    */
  def parseTimestampMs(lit: String): Long = {
    val s = lit.trim
    if (s.matches("\\d{13}")) return s.toLong
    // Epoch seconds only for the unambiguous digit range: 10-11 digits =
    // 2001-5138. A bare year ('2026') or compact date ('20250819') must
    // NOT silently become seconds-since-1970, and 12 digits are ambiguous
    // (epoch seconds out to year 33658, but also epoch MILLIS for dates
    // before Sep 2001) — all rejected so the caller sees the bad literal.
    if (s.matches("\\d{10,11}")) return s.toLong * 1000L
    if (s.matches("\\d+"))
      throw new IllegalArgumentException(
        s"ambiguous numeric AS OF literal '$lit': use 10-11 digits for epoch " +
          "seconds, 13 for epoch millis, or a 'YYYY-MM-DD[ HH:MM:SS]' timestamp")
    val norm = s.replace('T', ' ')
    val dateOnly = "\\d{4}-\\d{2}-\\d{2}".r
    if (dateOnly.matches(norm))
      return LocalDate.parse(norm).atStartOfDay.toInstant(ZoneOffset.UTC).toEpochMilli
    // fractional seconds take 0-9 digits: java.sql.Timestamp.toString
    // trims trailing zeros ('.010' renders '.01'), so a fixed .SSS
    // pattern would flake on round-trip literals
    val fracFmt = new java.time.format.DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd HH:mm:ss")
      .optionalStart()
      .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND,
        0, 9, true)
      .optionalEnd()
      .toFormatter
    val fmts: Seq[DateTimeFormatter] =
      Seq(fracFmt, DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm"))
    fmts.view.flatMap { f =>
      try Some(LocalDateTime.parse(norm, f)
        .toInstant(ZoneOffset.UTC).toEpochMilli)
      catch { case _: Exception => None }
    }.headOption.getOrElse(
      throw new IllegalArgumentException(s"cannot parse AS OF timestamp: '$lit'"))
  }

  def format(ts: Timestamp): String =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .format(ts.toInstant.atOffset(ZoneOffset.UTC))
}
