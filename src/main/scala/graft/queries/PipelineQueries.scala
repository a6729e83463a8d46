package graft
package queries

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Splits, TextAnalysis}
import Fixtures.{t, sharedChainLabels, lmVocabCap, QualityPlant, qualityPlantValuesSql}

/** The flagship composed pipelines: corpus-cleaning recipes end to end
  * from the engine's own operators. */
private[graft] object PipelineQueries {

  val specs: Seq[QuerySpec] = Seq(

    // Flagship COMPOSED pipeline: the C4/FineWeb-style cleaning recipe
    // end-to-end from the engine's own operators — language gate →
    // Gopher quality gates (token count, alpha ratio, duplicate-line
    // ratio) → exact content dedup (normalized-hash, first writer
    // wins; 5 planted exact copies must vanish) → near-dup cluster
    // retention on the shared CC labels → PII scrub → corpus stats.
    // Every stage's survivor count AND the order-independent signature
    // of the final scrubbed corpus are reconstructed by DuckDB from
    // the documented rules alone. Plan shape: each gate is a
    // scan-local filter, dedup is one hash shuffle, retention one
    // hash agg + semi-join — the whole recipe is four shuffles
    // regardless of corpus size.
    QuerySpec("q_pipeline", (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents")
      val docs = base.union(base.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 100000))
      // Every stage's survivor count rides the ONE materializing pass
      // as an observed metric (CollectMetrics) instead of its own
      // action: the former count() chain re-ran the scan + gates once
      // per stage — 4 corpus passes before dedup even started (guide
      // §1.2: don't re-compute what one pass can observe). Counts are
      // the rows flowing through the same operators, so values are
      // unchanged.
      val obsTotal = org.apache.spark.sql.Observation()
      val obsLang = org.apache.spark.sql.Observation()
      val obsQuality = org.apache.spark.sql.Observation()
      val obsUnique = org.apache.spark.sql.Observation()
      val en = docs.observe(obsTotal, count(lit(1)).as("n"))
        .filter(col("lang") === "en")
      val (dupLine, _) = TextAnalysis.repetitionStats(col("text"))
      val alpha = length(regexp_replace(col("text"), "[^a-z]", ""))
        .cast("double") / length(col("text"))
      val quality = en.observe(obsLang, count(lit(1)).as("n"))
        .filter(TextAnalysis.tokenCount(col("text")).between(20, 100000))
        .filter(alpha >= 0.82)
        .filter(dupLine <= 0.3)
      // the dedup output feeds two consumers (retention agg, semi-join)
      // — persist for the span of the stage, as a real pipeline would
      // checkpoint between stages, then free
      val uniq = Dedup.exactByContent(
          quality.observe(obsQuality, count(lit(1)).as("n")),
          "text", "doc_id")
        .observe(obsUnique, count(lit(1)).as("n"))
        .persist()
      val row =
        try {
          val labeled = uniq
            .join(sharedChainLabels(s, dir), Seq("doc_id"), "left")
            .withColumn("_comp", coalesce(col("component"), col("doc_id")))
          val winners = labeled.groupBy(col("_comp"))
            .agg(min(col("doc_id")).as("doc_id"))
          val fin = labeled.join(winners, Seq("doc_id"), "left_semi")
          val (scrubbed, _, _) = TextAnalysis.scrubPii(col("text"))
          fin
            .select(md5(scrubbed).as("_m"),
              TextAnalysis.tokenCount(col("text")).as("_ntok"))
            .agg(count(lit(1)).as("n_final"),
              sum(col("_ntok")).cast("long").as("total_tokens"),
              md5(concat_ws("", sort_array(collect_list(col("_m")))))
                .as("corpus_md5"))
            .head()
        } finally uniq.unpersist()
      def n(o: org.apache.spark.sql.Observation): Long =
        o.get("n").asInstanceOf[Long]
      Seq((n(obsTotal), n(obsLang), n(obsQuality), n(obsUnique),
          row.getLong(0), row.getLong(1), row.getString(2)))
        .toDF("n_total", "n_lang", "n_quality", "n_unique", "n_final",
          "total_tokens", "corpus_md5")
    }, Some(
      // Composed pipeline: DuckDB re-runs the full recipe independently —
      // its own windows for components, row_number for dedup, regex
      // mirrors for the gates and the scrub.
      """WITH docs AS (
        |  SELECT * FROM documents
        |  UNION ALL SELECT * REPLACE (doc_id + 100000 AS doc_id)
        |  FROM documents WHERE doc_id < 5
        |),
        |en AS (SELECT * FROM docs WHERE lang = 'en'),
        |q AS (
        |  SELECT * FROM en
        |  WHERE (CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END)
        |          BETWEEN 20 AND 100000
        |    AND CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |          / length(text) >= 0.82
        |    AND (CASE WHEN len(string_split(text, chr(10))) <= 1 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
        |              / len(string_split(text, chr(10))) END) <= 0.3
        |),
        |u AS (
        |  SELECT * FROM (
        |    SELECT q.*, row_number() OVER (
        |      PARTITION BY trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))
        |      ORDER BY doc_id) AS rn
        |    FROM q) WHERE rn = 1
        |),
        |b AS (SELECT doc_id, CASE WHEN lag(doc_id) OVER w = doc_id - 1
        |       AND lag(n_chars % 5) OVER w = n_chars % 5 THEN 0 ELSE 1 END AS brk
        |      FROM documents WINDOW w AS (ORDER BY doc_id)),
        |r AS (SELECT doc_id, sum(brk) OVER (ORDER BY doc_id) AS run FROM b),
        |c AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY run) AS component
        |      FROM r),
        |lab AS (SELECT u.*, coalesce(c.component, u.doc_id) AS component
        |        FROM u LEFT JOIN c USING (doc_id)),
        |fin AS (SELECT * FROM (
        |  SELECT lab.*, min(doc_id) OVER (PARTITION BY component) AS keep
        |  FROM lab) WHERE doc_id = keep)
        |SELECT
        | (SELECT count(*) FROM docs) AS n_total,
        | (SELECT count(*) FROM en) AS n_lang,
        | (SELECT count(*) FROM q) AS n_quality,
        | (SELECT count(*) FROM u) AS n_unique,
        | (SELECT count(*) FROM fin) AS n_final,
        | (SELECT CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(string_split_regex(trim(lower(text)), '\s+')) END) AS BIGINT)
        |  FROM fin) AS total_tokens,
        | (SELECT md5(string_agg(m, '' ORDER BY m)) FROM
        |   (SELECT md5(regexp_replace(regexp_replace(text,
        |      'https?://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS m
        |    FROM fin)) AS corpus_md5""".stripMargin)),

    // MODERN selection recipe composed end-to-end (the Llama/CCNet/
    // RefinedWeb selection tier in one oracle-checked query): LEARNED
    // classifier gate (pinned hashed-trigram model) → PERPLEXITY
    // tercile bucketing on an LM fit to the survivors (head keeps all,
    // middle 50%, tail 10%) → TOKEN-BUDGET cap in tokenizer-faithful
    // BPE tokens (en capped at half its token mass, other domains
    // kept). Every sampling decision rides the md5 carve
    // (Splits.md5Keep) instead of xxhash, so DuckDB re-derives not
    // just the per-stage survivor counts but the EXACT final corpus
    // signature — classifier doubles, LM arithmetic, quantile cuts,
    // carve thresholds, budget rate and BPE token counts all replayed.
    // Plan shape: gates and carves are scan-local; the LM fit is one
    // count agg per n-gram order + broadcast scoring joins; cuts one
    // bounded percentile agg; the budget one sum agg — no extra
    // shuffles at any corpus size.
    QuerySpec("q_pipeline_select", (s, dir) => {
      import s.implicits._
      val planted = QualityPlant.map { case (id, txt) => (id, "en", txt) }
        .toDF("doc_id", "lang", "text")
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .unionByName(planted)
      // n_total rides the classifier-gate materialization as an
      // observed metric instead of its own corpus scan (guide §1.2:
      // stage 1 formerly scanned the base union twice — once to count
      // it, once to materialize the gate).
      val obsTotal = org.apache.spark.sql.Observation()
      // stage 1: learned quality gate — compare on the ROUNDED prob,
      // exactly what the oracle replays
      val cls = base.observe(obsTotal, count(lit(1)).as("n"))
        .filter(round(graft.ext.Classify.qualityProb(
          col("text"), graft.ext.Classify.PinnedModel), 6) >= 0.5).persist()
      try {
        val nCls = cls.count()
        val nTotal = obsTotal.get("n").asInstanceOf[Long]
        // degenerate corpus (classifier keeps nothing): the oracle's
        // empty CTE chain yields zero counts and NULL corpus_md5 —
        // emit the same row instead of running percentile over nothing
        if (nCls == 0) {
          Seq((nTotal, 0L, 0L, 0L, 0L, null.asInstanceOf[String]))
            .toDF("n_total", "n_classifier", "n_perplexity", "n_final",
              "final_tokens", "corpus_md5")
        } else {
        // stage 2: perplexity terciles from ONE bounded percentile agg
        // over an LM fit to the survivors (lmScores materializes and
        // frees its model frames)
        val scored = graft.ext.Search.lmScores(cls, "doc_id", "text",
          lmVocabCap)
        val cuts = scored.agg(
          expr("percentile(nll, 0.3333333333333333)").as("c1"),
          expr("percentile(nll, 0.6666666666666666)").as("c2")).head()
        val (c1, c2) = (cuts.getDouble(0), cuts.getDouble(1))
        val keepPpl = when(col("nll") <= c1, lit(true))
          .when(col("nll") <= c2,
            Splits.md5Keep(col("doc_id"), "ppl", lit(0.5)))
          .otherwise(Splits.md5Keep(col("doc_id"), "ppl", lit(0.1)))
        // the en token mass rides the SAME materializing count as an
        // observed metric (sum over the filtered rows ≡ sum of the
        // when()-gated column: long addition, order-independent) — one
        // cached-corpus aggregation job fewer
        val obsEnTok = org.apache.spark.sql.Observation()
        val kept = cls.join(scored.filter(keepPpl).select("doc_id"),
            Seq("doc_id"), "left_semi")
          .withColumn("n_tok",
            TextAnalysis.bpeTokenCountRanked(col("text")).cast("long"))
          .observe(obsEnTok, coalesce(sum(when(col("lang") === "en",
            col("n_tok"))), lit(0L)).as("en_tok"))
          .persist()
        try {
          val nPpl = kept.count()
          // stage 3: en capped at half its token mass (integer-div
          // budget so the oracle's t//2 arithmetic is identical)
          val enTok = obsEnTok.get("en_tok").asInstanceOf[Long]
          val rate = if (enTok > 0) (enTok / 2).toDouble / enTok else 1.0
          val fin = kept.filter(col("lang") =!= "en" ||
            Splits.md5Keep(col("doc_id"), "budget", lit(rate)))
          // empty-final parity: tokens coalesce to 0 and corpus_md5
          // stays NULL on BOTH engines (DuckDB's string_agg over zero
          // rows is NULL; an unguarded concat_ws would md5(''))
          val row = fin.agg(count(lit(1)).as("n_final"),
            coalesce(sum(col("n_tok")), lit(0L)).cast("long")
              .as("final_tokens"),
            when(count(lit(1)) > 0,
              md5(concat_ws("", sort_array(collect_list(md5(col("text")))))))
              .as("corpus_md5")).head()
          Seq((nTotal, nCls, nPpl, row.getLong(0), row.getLong(1),
              row.getString(2)))
            .toDF("n_total", "n_classifier", "n_perplexity", "n_final",
              "final_tokens", "corpus_md5")
        } finally kept.unpersist()
        }
      } finally cls.unpersist()
    }, Some(
      // the FULL pipeline replay: classifier doubles, LM arithmetic,
      // type-7 quantile cuts, md5-carve thresholds, integer-div budget
      // rate and BPE token counts — the final corpus md5 is re-derived,
      // not pinned
      s"""WITH ${graft.ext.Classify.weightsCteSql()},
         |base AS (SELECT doc_id, lang, text FROM documents
         |         UNION ALL
         |         SELECT doc_id, 'en' AS lang, text
         |         FROM ($qualityPlantValuesSql) v(doc_id, text)),
         |cls AS (SELECT b.doc_id, b.lang, b.text FROM base b, qw
         |        WHERE round(${graft.ext.Classify.probOracleSqlExpr("b.text")},
         |                    6) >= 0.5),
         |${graft.ext.Search.lmScoresCtes("cls", lmVocabCap)},
         |cuts AS (SELECT quantile_cont(nll, 0.3333333333333333) AS c1,
         |                quantile_cont(nll, 0.6666666666666666) AS c2
         |         FROM lmsc),
         |ppl AS (SELECT l.doc_id FROM lmsc l, cuts
         |        WHERE CASE WHEN l.nll <= c1 THEN TRUE
         |              WHEN l.nll <= c2 THEN
         |                ${Splits.md5KeepSqlExpr("l.doc_id", "ppl", "0.5")}
         |              ELSE
         |                ${Splits.md5KeepSqlExpr("l.doc_id", "ppl", "0.1")}
         |              END),
         |${graft.ext.BpeVocab.oracleCtes(
             "(SELECT c.doc_id, c.text FROM cls c JOIN ppl USING (doc_id))")},
         |kept AS (SELECT c.doc_id, c.lang, c.text,
         |                CAST(len(b.toks) AS BIGINT) AS n_tok
         |         FROM cls c JOIN ppl USING (doc_id)
         |         JOIN bpe b ON b.doc_id = c.doc_id),
         |bstats AS (SELECT coalesce(sum(CASE WHEN lang = 'en'
         |                  THEN n_tok END), 0) AS t FROM kept),
         |fin AS (SELECT k.* FROM kept k, bstats
         |        WHERE k.lang <> 'en' OR ${Splits.md5KeepSqlExpr(
                     "k.doc_id", "budget",
                     "CASE WHEN t > 0 THEN CAST(t // 2 AS DOUBLE) / " +
                       "CAST(t AS DOUBLE) ELSE 1.0 END")})
         |SELECT (SELECT count(*) FROM base) AS n_total,
         |       (SELECT count(*) FROM cls) AS n_classifier,
         |       (SELECT count(*) FROM kept) AS n_perplexity,
         |       count(*) AS n_final,
         |       CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS final_tokens,
         |       md5(string_agg(md5(text), '' ORDER BY md5(text)))
         |         AS corpus_md5
         |FROM fin""".stripMargin)),

    // Web-corpus recipe with the URL stage FIRST (the RefinedWeb/C4
    // ordering UrlOps documents): parse → domain blocklist → per-domain
    // cap → URL-exact dedup under normalization, THEN the content gates
    // (language, token-count, alpha-ratio). URLs are built
    // deterministically from doc_id with every decoration
    // normalizeUrl must cancel (scheme/host case, :443, utm params,
    // trailing slash, fragment); DuckDB re-derives each stage's
    // survivor count from the generating arithmetic. At 100 TB the URL
    // stages run before any text is read — parse/blocklist are
    // scan-local, the cap and dedup shuffle only (domain|url, id)
    // pairs, and every later gate sees an already-shrunk corpus.
    QuerySpec("q_pipeline_web", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val k = pmod(col("doc_id"), lit(40)).cast("string")
      val deco = pmod(col("doc_id"), lit(5))
      val scheme = when(deco === 0, "HTTPS://").otherwise("https://")
      val host = when(deco === 1,
          concat(lit("S"), substring(col("source"), 2, 100), lit("-Web.COM")))
        .otherwise(concat(col("source"), lit("-web.com")))
      val port = when(deco === 2, ":443").otherwise("")
      val track = when(deco === 2, "?utm_source=feed").otherwise("")
      val slash = when(deco === 3, "/").otherwise("")
      val frag = when(deco === 4, "#top").otherwise("")
      val url = concat(scheme, host, port, lit("/p/"), k, slash, track, frag)
      val withUrl = docs.select(col("doc_id"), col("lang"), col("text"),
        url.as("url"))
      // Stage counts ride the ONE materializing pass as observed
      // metrics (CollectMetrics) instead of each being its own action
      // over a progressively deeper re-execution of the chain — the
      // former spelling ran the URL stages up to six times (guide
      // §1.2). afterCap persists for the span: it already had TWO
      // consumers (the dedup aggregation and the semi-join's left
      // side), and the cache is also the barrier that makes the
      // upstream metrics fire exactly once.
      val obsTotal = org.apache.spark.sql.Observation()
      val obsBlock = org.apache.spark.sql.Observation()
      val obsCap = org.apache.spark.sql.Observation()
      val obsUniq = org.apache.spark.sql.Observation()
      val obsLang = org.apache.spark.sql.Observation()
      val parsed = graft.ext.UrlOps.parseUrl(
        withUrl.observe(obsTotal, count(lit(1)).as("n")))
      val afterBlock = graft.ext.UrlOps.domainBlocklistFilter(parsed,
        Seq("src1-web.com", "src7-web.com", "src13-web.com"))
      val afterCap = graft.ext.UrlOps.capPerDomain(
          afterBlock.observe(obsBlock, count(lit(1)).as("n")), maxDocs = 20)
        .observe(obsCap, count(lit(1)).as("n"))
        .persist()
      try {
        val keep = graft.ext.UrlOps.dedupByUrl(afterCap)
        val uniq = afterCap.join(
          keep.select(col("keep_doc_id").as("doc_id")), Seq("doc_id"),
          "left_semi")
        val en = uniq.observe(obsUniq, count(lit(1)).as("n"))
          .filter(col("lang") === "en")
        val alpha = length(regexp_replace(col("text"), "[^a-z]", ""))
          .cast("double") / length(col("text"))
        val q = en.observe(obsLang, count(lit(1)).as("n"))
          .filter(TextAnalysis.tokenCount(col("text")).between(20, 100000))
          .filter(alpha >= 0.82)
        val row = q.agg(count(lit(1)).as("n"),
          coalesce(sum(TextAnalysis.tokenCount(col("text"))), lit(0L))
            .cast("long").as("tok")).head()
        def n(o: org.apache.spark.sql.Observation): Long =
          o.get("n").asInstanceOf[Long]
        Seq((n(obsTotal), n(obsBlock), n(obsCap), n(obsUniq), n(obsLang),
            row.getLong(0), row.getLong(1)))
          .toDF("n_total", "n_after_blocklist", "n_after_cap",
            "n_url_unique", "n_lang", "n_quality", "total_tokens")
      } finally afterCap.unpersist()
    }, Some(
      // Web recipe with the URL stage first: every stage's survivor count
      // re-derived from the generating arithmetic — the decorations
      // (case, :443, utm, slash, fragment) must all canonicalize away, so
      // the oracle groups by the undecorated canonical key
      """WITH u AS (
        |  SELECT doc_id, lang, text,
        |         source || '-web.com' AS url_domain,
        |         source || '-web.com/p/' || (doc_id % 40) AS canon
        |  FROM documents
        |),
        |b AS (SELECT * FROM u WHERE url_domain NOT IN
        |       ('src1-web.com', 'src7-web.com', 'src13-web.com')),
        |c AS (SELECT * FROM (
        |    SELECT b.*, row_number() OVER (
        |      PARTITION BY url_domain ORDER BY doc_id) AS rk FROM b)
        |  WHERE rk <= 20),
        |d AS (SELECT * FROM (
        |    SELECT c.*, row_number() OVER (
        |      PARTITION BY canon ORDER BY doc_id) AS rn FROM c)
        |  WHERE rn = 1),
        |e AS (SELECT * FROM d WHERE lang = 'en'),
        |q AS (SELECT * FROM e
        |  WHERE (CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END)
        |          BETWEEN 20 AND 100000
        |    AND CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |          / length(text) >= 0.82)
        |SELECT
        | (SELECT count(*) FROM u) AS n_total,
        | (SELECT count(*) FROM b) AS n_after_blocklist,
        | (SELECT count(*) FROM c) AS n_after_cap,
        | (SELECT count(*) FROM d) AS n_url_unique,
        | (SELECT count(*) FROM e) AS n_lang,
        | (SELECT count(*) FROM q) AS n_quality,
        | (SELECT CAST(coalesce(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(string_split_regex(trim(lower(text)), '\s+')) END), 0)
        |   AS BIGINT) FROM q) AS total_tokens""".stripMargin))
  )
}
