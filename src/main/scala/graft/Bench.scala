package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main and graft's only timing harness: runs the named
  * SparkEntry queries (all of them when none are named) against
  * `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_BENCH_PASSES` times (default 2).
  * Each entry reports its minimum over all passes; a failed run never
  * counts as the minimum. The FULL per-query payload (the first two
  * passes plus the min-of-passes map) goes to `SPARK_GRAFT_BENCH_OUT`
  * (default `bench_out.json`); stdout gets only a COMPACT totals-only
  * JSON line as the last line printed — the 61-query two-pass payload
  * outgrew the stdout tail capture that reads it, which starts
  * mid-line and parses to null. A failed query records `-1` and lands
  * in `"failed"` instead of masquerading as a fast green bar; warm-up
  * queries run first so JIT/codegen warmup isn't billed to whichever
  * query happens to be iterated first.
  *
  * Usage: `runMain graft.Bench [entry ...]`. Min-of-K on a few entries
  * (wall-clock A/B) is `SPARK_GRAFT_BENCH_PASSES=K runMain graft.Bench
  * <names…>`; a one-shot at another scale sets `SPARK_GRAFT_SF_DIR` and
  * `SPARK_GRAFT_BENCH_PASSES=1`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val names = entries(args.toSeq)
    // Two passes by default: single-sample totals have shown ±2×
    // machine-noise swings across rounds on byte-identical code, so one
    // number cannot distinguish a regression from scheduler contention.
    // `value` stays the FIRST pass (comparable with earlier rounds);
    // `value_run2` + `runs` bound the noise. One pass suits the sf1
    // full-suite run, where a second pass doubles an already-long
    // wall-clock.
    val nPasses = passes(sys.env.get("SPARK_GRAFT_BENCH_PASSES"))
    val spark = GraftSession.local(cpus)
    warmUp(spark, sfDir)
    val runs = Seq.fill(nPasses)(pass(spark, sfDir, names, cpus))
    spark.stop()

    val results = runs.head
    val results2 = runs.lift(1).getOrElse(results)
    // Min-of-passes per reported name: the round-over-round comparison
    // basis — single samples have shown ±2× scheduler-contention swings
    // on byte-identical code, and min-of-N discards exactly that noise.
    val resultsMin = results.map { case (k, _) =>
      val ok = runs.flatMap(_.collect { case (`k`, v) if v >= 0 => v })
      k -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // Sub-metrics re-slice time already billed to their headline — the
    // total counts headlines only, or splitting a query would change the
    // total on byte-identical engine code.
    val headline = names.toSet
    val failedNames = runs.flatten.collect { case (k, v) if v < 0 && headline(k) => k }.distinct
    val failed = failedNames.map(k => s""""$k"""").mkString("[", ",", "]")
    def total(rs: Seq[(String, Double)]): Double =
      rs.collect { case (k, v) if v >= 0 && headline(k) => v }.sum
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val (t1, t2, tMin) = (total(results), total(results2), total(resultsMin))
    val full =
      s"""{"metric":"total","value":$t1,"unit":"sec","value_run2":$t2,""" +
        s""""value_min":$tMin,"runs":${runs.map(total).mkString("[", ",", "]")},""" +
        s""""queries":${jmap(results)},"queries_run2":${jmap(results2)},""" +
        s""""queries_min":${jmap(resultsMin)},"failed":$failed,"sf":"$sfDir"}"""
    Files.writeString(Paths.get(outPath), full + "\n")
    // Compact line LAST on stdout, short enough that a stdout tail
    // capture always contains its start. It embeds the per-query
    // min-of-passes map (ms precision) — the round-over-round comparison
    // basis must live in BENCH_rXX.json itself, not depend on
    // bench_out.json surviving the round.
    val minCompact = resultsMin
      .map { case (k, v) => s""""$k":${math.rint(v * 1000) / 1000}""" }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":$t1,"unit":"sec","value_run2":$t2,""" +
        s""""value_min":$tMin,"n_queries":${names.size},"n_entries":${results.size},""" +
        s""""failed":$failed,"queries_min":$minCompact,""" +
        s""""detail":"$outPath","sf":"$sfDir"}"""
    println(compact)
    if (failedNames.nonEmpty) sys.exit(1)
  }

  private val Usage = "usage: Bench [entry ...] (SPARK_GRAFT_BENCH_PASSES >= 1)"

  /** The entries to run: `args` (checked, duplicates dropped), or every
    * declared entry when none are named. */
  def entries(args: Seq[String]): Seq[String] = {
    SparkEntry.requireKnown(args, Usage)
    if (args.nonEmpty) args.distinct else SparkEntry.queries.keys.toSeq.sorted
  }

  /** The pass count `SPARK_GRAFT_BENCH_PASSES` sets (default 2). */
  def passes(setting: Option[String]): Int = {
    val n = setting.fold(2)(v => v.trim.toIntOption.getOrElse(0))
    require(n >= 1, s"SPARK_GRAFT_BENCH_PASSES=${setting.getOrElse("")} is not " +
      s"a pass count >= 1; $Usage")
    n
  }

  /** Every name a pass reports for `entry`: its headline, then one
    * sub-metric per part of a split entry. Runs nothing. */
  def reportedNames(entry: String): Seq[String] =
    entry +: SparkEntry.benchSplits.get(entry).toSeq.flatMap { split =>
      Seq(s"${entry}_${split.parts._1}", s"${entry}_${split.parts._2}")
    }

  /** One pass over `entries`: (name, seconds) for every reported name, in
    * [[reportedNames]] order. A split entry runs once; its headline is
    * the sum of its two sub-metrics. A failed entry reports `-1` for its
    * headline and sub-metrics. */
  def pass(spark: SparkSession, sfDir: String, entries: Seq[String],
      cpus: Int): Seq[(String, Double)] = {
    // Streaming entries pay the state store per shuffle partition per
    // micro-batch: 32 partitions × a handful of batches is pure
    // bookkeeping at bench scale (r14: q_stream_join spent 7.1 s of
    // 7.3 s in drain; the r22 A/B read q_stream_neardup 6.4 s at 8
    // partitions vs 16.5 s at 32). Results are partition-count-invariant
    // (the oracle gate runs these same queries at the default).
    val streamParts = SparkEntry.streamShufflePartitions(cpus).toString
    def withStreamConf[T](name: String)(body: => T): T =
      if (!SparkEntry.streamingEntries(name)) body
      else {
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", streamParts)
        try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
    entries.flatMap { name =>
      val names = reportedNames(name)
      val secs =
        try withStreamConf(name) {
          SparkEntry.benchSplits.get(name) match {
            case Some(split) =>
              val (a, b) = split.run(spark, sfDir)
              Seq(a + b, a, b)
            case None =>
              val t0 = System.nanoTime()
              SparkEntry.queries(name)(spark, sfDir).count()
              Seq((System.nanoTime() - t0) / 1e9)
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          names.map(_ => -1.0)
        }
      // reclaim the entry's scratch warehouses OUTSIDE the timed body:
      // ~300 accumulated fixture warehouses of dirty page cache and
      // writeback otherwise tax every later entry's I/O (r14 measured
      // a uniform ~1.2-1.4× inflation across the tail of the run).
      // Also drop cached/persisted frames: operators that persist
      // model aggregates (the LM tier) would otherwise serve later
      // entries — and the next pass — from cache, so per-entry times
      // would attribute one entry's model fit to another and the
      // min-of-passes basis would flatter cached entries.
      SparkEntry.cleanScratchDirs()
      spark.catalog.clearCache()
      names.zip(secs)
    }
  }

  /** Warm-up outside any timed body: scan-only then join+agg+shuffle,
    * then the streaming machinery. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Seq("q_filter_count", "q_multiway_join").foreach { w =>
      try SparkEntry.queries(w)(spark, sfDir).count()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $w failed: $e") }
    }

    // Streaming warmup (10 rows): micro-batch engine, state-store
    // provider, and the graft-table source — the ~10 s one-time
    // StreamingQuery machinery init used to be billed to whichever
    // streaming entry ran first (q_stream_dedup's first pass read 3.5×
    // its steady state at r14). Batch warmup above can't reach any of
    // this; the measured entries still pay their own per-query work.
    try {
      import org.apache.spark.sql.functions._
      val wh = Files.createTempDirectory("graft-warm")
      val cat = new graft.catalog.GraftCatalog(wh, spark)
      cat.createDatabase("default")
      val base = spark.range(10).selectExpr("cast(id as string) AS okey",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts")
      cat.createTable("warm", base.schema)
      cat.append("warm", base, 1000L)
      def src = spark.readStream.format("graft-table")
        .option("warehouse", wh.toString).option("table", "warm").load()
        .withColumn("ts", col("ts").cast("timestamp"))
      val dq = graft.streaming.EventStreams
        .dedupStream(src, "okey", watermarkDelay = "1 hour")
        .writeStream.format("memory").queryName("bench_warm_dedup")
        .outputMode("append").start()
      try dq.processAllAvailable() finally dq.stop()
      val joined = graft.streaming.EventStreams.joinStreams(
        src.select(col("okey").as("l_k"), col("ts").as("l_ts")),
        src.select(col("okey").as("r_k"), col("ts").as("r_ts")),
        "l_k", "r_k", "l_ts", "r_ts",
        lag = "1 hour", watermarkDelay = "1 hour")
      val jq = joined.writeStream.format("memory").queryName("bench_warm_join")
        .outputMode("append").start()
      try jq.processAllAvailable() finally jq.stop()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] streaming warmup failed: $e")
    }
  }
}
