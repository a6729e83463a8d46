package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir>`; `GRAFT_VERIFY_ONLY`
  * (comma-separated entry names) limits the dump. */
object Verify {
  private val Usage = "usage: Verify <sfDir> <outDir> (GRAFT_VERIFY_ONLY=q_a,q_b limits the dump)"

  def main(args: Array[String]): Unit = {
    require(args.length == 2, Usage)
    val Array(sfDir, outDir) = args
    // local-iteration filter (comma-separated names); absent for the
    // driver's full pass
    // Checked before the session starts: a typo would otherwise dump
    // nothing, and a dump-vs-dump equivalence check would pass with
    // nothing compared.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(names.nonEmpty, s"GRAFT_VERIFY_ONLY names no entry; $Usage")
      SparkEntry.requireKnown(names, Usage)
    }
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // INT96 here ONLY: the DuckDB oracle compare reads INT96 dumps as
    // naive timestamps, matching the oracle's own naive values; micros
    // dumps read as TIMESTAMP WITH TIME ZONE and hash-mismatch. The
    // engine itself writes int64 micros (see GraftSession) — this
    // governs just the correctness-dump files.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
