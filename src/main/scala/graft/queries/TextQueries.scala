package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Boilerplate, Dedup, Splits, TextAnalysis}
import Fixtures.{t, sharedChainLabels, lmVocabCap, QualityPlant, qualityPlantValuesSql}

/** North star: text analysis. */
private[graft] object TextQueries {

  /** BM25 query terms, shared by `q_bm25_topk` and its generated oracle
    * SQL ([[graft.ext.Search.bm25OracleSql]]) so the two can only be
    * parameterized together. */
  private val bm25Terms = Seq("vector", "spark", "merge")

  val specs: Seq[QuerySpec] = Seq(

    // Token counting (whitespace tokens — oracle-checkable).
    QuerySpec("q_doc_tokens", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).cast("int").as("len_chars"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE length(string_split_regex(trim(lower(text)), '\s+')) END AS INTEGER) AS n_tokens,
        |       CAST(length(text) AS INTEGER) AS len_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // TOKENIZER-FAITHFUL token counting at production vocab scale: the
    // 3000-rank shipped merge table applied by the rank-map merge loop
    // (BpeTokenize — scan-local, shuffle-free, plan size independent of
    // merge count), beside the regex proxy so the drift is visible.
    // The DuckDB oracle replays the SAME rank map (BpeVocab.oracleCtes:
    // rank-ordered single-pass replaces over sentinel-encoded symbols,
    // once per DISTINCT pretoken, joined back in stream order).
    QuerySpec("q_doc_tokens_bpe", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCountRanked(col("text")).cast("int")
            .as("n_bpe_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).cast("int")
            .as("n_regex_tokens"))
        .orderBy(col("doc_id"))
    }, Some(
      // the full rank-map replay, generated from the SAME shipped merge
      // table the operator walks (independent arithmetic, not a copy)
      s"""WITH ${graft.ext.BpeVocab.oracleCtes("documents")}
         |SELECT d.doc_id,
         |       CAST(len(b.toks) AS INTEGER) AS n_bpe_tokens,
         |       CAST(length(regexp_extract_all(d.text,
         |            '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INTEGER)
         |         AS n_regex_tokens
         |FROM documents d JOIN bpe b USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),

    // The actual SUBWORD TOKEN STREAM (what a training pipeline feeds
    // a model): per doc the BPE token count plus an order-sensitive
    // md5 of the space-joined stream — DuckDB re-derives the whole
    // sequence from the same merge literals, so symbol ORDER and
    // boundaries are hash-checked, not just the count.
    QuerySpec("q_doc_tokenize", (s, dir) => {
      val toks = TextAnalysis.bpeTokensRanked(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          when(toks.isNotNull, md5(concat_ws(" ", toks)))
            .as("stream_md5"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH ${graft.ext.BpeVocab.oracleCtes("documents")}
         |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
         |       CASE WHEN toks IS NULL THEN NULL
         |            ELSE md5(array_to_string(toks, ' ')) END AS stream_md5
         |FROM bpe ORDER BY doc_id""".stripMargin)),

    // Quality scoring (components are simple ratios — oracle-checkable
    // ones only; the composite score is rows-only via q_doc_stats).
    QuerySpec("q_doc_quality", (s, dir) => {
      val text = col("text")
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(length(regexp_replace(text, "[^a-z]", ""))
            .cast("double") / length(text), 4).as("alpha_ratio"),
          round((length(text) - length(replace(text, lit(" "), lit(""))))
            .cast("double") / length(text), 4).as("space_ratio"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |       round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |             / length(text), 4) AS alpha_ratio,
        |       round(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
        |             / length(text), 4) AS space_ratio
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // The Gopher rule set (Rae et al. 2021 A1.1) per document, every
    // rule its own boolean — DuckDB recomputes word/line/symbol
    // arithmetic and the rule thresholds independently.
    QuerySpec("q_gopher_rules", (s, dir) => {
      graft.ext.TextAnalysis.gopherRules(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), col("r_words"),
          col("r_mean_len"), col("r_symbol"), col("r_bullet"),
          col("r_ellipsis"), col("r_alpha"), col("r_stopwords"),
          col("gopher_keep"))
        .orderBy(col("doc_id"))
    }, Some(
      // independent recomputation of every Gopher rule: list lambdas for
      // word/line arithmetic, same thresholds
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |                x -> x <> '') AS ws,
        |    string_split(text, chr(10)) AS lines,
        |    length(text) - length(replace(replace(text, '#', ''), '…', ''))
        |      AS n_sym
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, len(ws) AS n_words, n_sym,
        |    CASE WHEN len(ws) > 0 THEN
        |      list_sum(list_transform(ws, x -> length(x))) * 1.0 / len(ws)
        |      ELSE 0 END AS mean_len,
        |    len(list_filter(lines,
        |      l -> regexp_matches(ltrim(l), '^(•|- |\* )'))) * 1.0
        |      / greatest(len(lines), 1) AS bullet_frac,
        |    len(list_filter(lines,
        |      l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) * 1.0
        |      / greatest(len(lines), 1) AS ell_frac,
        |    CASE WHEN len(ws) > 0 THEN
        |      len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
        |        / len(ws) ELSE 0 END AS alpha_frac,
        |    len(list_intersect(
        |      list_distinct(list_transform(ws, x -> lower(x))),
        |      ['the','be','to','of','and','that','have','with'])) AS stops
        |  FROM w
        |), r AS (
        |  SELECT doc_id, n_words,
        |    n_words BETWEEN 50 AND 100000 AS r_words,
        |    mean_len >= 3 AND mean_len <= 10 AS r_mean_len,
        |    CASE WHEN n_words > 0 THEN n_sym * 1.0 / n_words < 0.1
        |         ELSE FALSE END AS r_symbol,
        |    bullet_frac < 0.9 AS r_bullet,
        |    ell_frac < 0.3 AS r_ellipsis,
        |    alpha_frac > 0.8 AS r_alpha,
        |    stops >= 2 AS r_stopwords
        |  FROM m
        |)
        |SELECT doc_id, n_words, r_words, r_mean_len, r_symbol, r_bullet,
        |       r_ellipsis, r_alpha, r_stopwords,
        |       r_words AND r_mean_len AND r_symbol AND r_bullet
        |         AND r_ellipsis AND r_alpha AND r_stopwords AS gopher_keep
        |FROM r ORDER BY doc_id""".stripMargin)),

    // LEARNED quality classification (the fastText-style supervised
    // signal beside the rule tier): score every document with the
    // SHIPPED hashed-trigram logistic model plus four planted garbage
    // rows (negative ids) the classifier must reject — the corpus
    // itself is all prose, so the plant is what makes the boundary
    // observable. DuckDB replays the scoring arithmetic bit-for-bit
    // from the same pinned weight literals (md5-hex buckets, pinned
    // fold order, same σ).
    QuerySpec("q_quality_classifier", (s, dir) => {
      import s.implicits._
      val planted = QualityPlant.toDF("doc_id", "text")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(planted)
      graft.ext.Classify.scoreQuality(docs, "text")
        .select(col("doc_id"), col("q_prob"), col("q_keep"))
        .orderBy(col("doc_id"))
    }, Some(
      // the scoring replay from the SAME pinned weights (weights bound
      // once in a CTE; md5-hex bucket arithmetic and a pinned-order fold
      // reproduce the engine's doubles bit-for-bit)
      s"""WITH ${graft.ext.Classify.weightsCteSql()},
         |docs AS (SELECT doc_id, text FROM documents
         |         UNION ALL
         |         SELECT * FROM ($qualityPlantValuesSql) v(doc_id, text)),
         |scored AS (
         |  SELECT doc_id,
         |         round(${graft.ext.Classify.probOracleSqlExpr("text")}, 6)
         |           AS q_prob
         |  FROM docs, qw)
         |SELECT doc_id, q_prob, q_prob >= 0.5 AS q_keep
         |FROM scored ORDER BY doc_id""".stripMargin)),

    // Token-count + character-class stats (oracle-checkable).
    QuerySpec("q_doc_stats", (s, dir) => {
      val text = col("text")
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(text).as("n_tokens"),
          TextAnalysis.bpeTokenCount(text).cast("int").as("n_bpe"),
          round((length(text) - length(regexp_replace(text, "[0-9]", "")))
            .cast("double") / length(text), 4).as("digit_ratio"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE length(string_split_regex(trim(lower(text)), '\s+')) END AS INTEGER) AS n_tokens,
        |       CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe,
        |       round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |             / length(text), 4) AS digit_ratio
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition signals (oracle-checkable).
    QuerySpec("q_doc_repetition", (s, dir) => {
      val (dupLine, dupWord) = TextAnalysis.repetitionStats(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), dupLine.as("dup_line_ratio"),
          dupWord.as("dup_word_ratio"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |  CASE WHEN len(string_split(text, chr(10))) <= 1 THEN 0.0
        |       ELSE round(1.0 - CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
        |                  / len(string_split(text, chr(10))), 4) END AS dup_line_ratio,
        |  CASE WHEN len(string_split_regex(trim(lower(text)), '\s+')) <= 1 THEN 0.0
        |       ELSE round(1.0 - CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE)
        |                  / len(string_split_regex(trim(lower(text)), '\s+')), 4) END AS dup_word_ratio
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // URL/email scrubbing — the minimum PII pass (oracle-checkable).
    QuerySpec("q_doc_scrub", (s, dir) => {
      val (scrubbed, nUrls, nEmails) = TextAnalysis.scrubPii(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), md5(scrubbed).as("scrub_md5"),
          nUrls.as("n_urls"), nEmails.as("n_emails"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS scrub_md5,
        |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INTEGER) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // BM25 top-k keyword retrieval over the REAL corpus: per-doc term
    // frequencies are scan-local array expressions; corpus stats are a
    // single broadcast row; top-k is TakeOrderedAndProject. The corpus
    // itself never shuffles (Search.scala scale notes). Full DuckDB
    // oracle replays the identical fixed-order arithmetic.
    QuerySpec("q_bm25_topk", (s, dir) =>
      graft.ext.Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        bm25Terms, 20), Some(graft.ext.Search.bm25OracleSql(bm25Terms, 20))),

    // Interpolated-trigram-LM surprisal (CCNet-style statistical
    // quality score): the corpus trains its own add-one-smoothed model
    // (capped vocab → broadcastable at any corpus size); output = 20
    // most surprising documents — the OOD tail a curation pass reviews
    // or drops.
    QuerySpec("q_lm_surprisal", (s, dir) =>
      graft.ext.Search.lmSurprisal(t(s, dir, "documents"), "doc_id", "text",
        20, lmVocabCap), Some(graft.ext.Search.lmOracleSql(20, lmVocabCap))),

    // CCNet-style perplexity bucketing (keep the head, sample the
    // middle, drop most of the tail): tercile cutoffs from ONE exact-
    // percentile agg (no ntile global sort), hash-carved per-bucket
    // keep rates. All structural checks are closed-form Spark-side;
    // DuckDB pins the corpus size.
    QuerySpec("q_ccnet_buckets", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      // score ONCE; the cutoff check and the operator share the frame
      // (lmScores returns it MATERIALIZED — every consumer is a cheap
      // block read, and no persist outlives this entry)
      val scored = graft.ext.Search.lmScores(docs, "doc_id", "text", lmVocabCap)
      val cuts = scored.agg(
        expr("percentile(nll, 0.3333333333333333)").as("c1"),
        expr("percentile(nll, 0.6666666666666666)").as("c2")).head()
      val (c1, c2) = (cuts.getDouble(0), cuts.getDouble(1))
      val kept = graft.ext.Search.perplexityBuckets(docs, "doc_id", "text",
        rates = (1.0, 0.5, 0.1), vocabCap = lmVocabCap,
        precomputedScores = Some(scored),
        // the entry already aggregated these exact cutoffs above —
        // don't pay the identical percentile job a second time
        precomputedCuts = Some((c1, c2)))
        .groupBy("bucket").agg(count(lit(1)).as("kept"))
      val sizes = scored.withColumn("bucket",
          when(col("nll") <= c1, "head")
            .when(col("nll") <= c2, "middle").otherwise("tail"))
        .groupBy("bucket").agg(count(lit(1)).as("total"))
      val m = sizes.join(kept, Seq("bucket"), "left")
        .na.fill(0L, Seq("kept")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val (hT, hK) = m("head"); val (mT, mK) = m("middle")
      val (tT, tK) = m("tail")
      def near(k: Long, t: Long, r: Double, tol: Double) =
        t > 0 && math.abs(k.toDouble / t - r) < tol
      import s.implicits._
      Seq((n,
        Seq(hT, mT, tT).forall(b => math.abs(b - n / 3.0) < n * 0.1),
        hK == hT,
        near(mK, mT, 0.5, 0.15),
        near(tK, tT, 0.1, 0.10),
        c1 <= c2))
        .toDF("n_docs", "terciles_ok", "head_keeps_all", "middle_rate_ok",
          "tail_rate_ok", "cuts_monotonic")
    }, Some(
      """SELECT count(*) AS n_docs, TRUE AS terciles_ok,
        |       TRUE AS head_keeps_all, TRUE AS middle_rate_ok,
        |       TRUE AS tail_rate_ok, TRUE AS cuts_monotonic
        |FROM documents""".stripMargin)),

    // DSIR-style importance weighting (Xie et al., NeurIPS'23 —
    // deterministic ranking core): target = the corpus's own 'en'
    // slice, raw = everything; per-doc weight = mean log-likelihood
    // ratio of two shared-vocab unigram models; output = the 20 most
    // target-like documents. One aggregation per model + a broadcast
    // scoring join — the data-selection shape that scales to a corpus
    // build.
    QuerySpec("q_dsir_select", (s, dir) =>
      graft.ext.Search.dsirImportance(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en", 20, lmVocabCap), Some(
      graft.ext.Search.dsirOracleSql("lang = 'en'", 20, lmVocabCap))),

    // Deterministic train/val/test split assignment: split is a pure
    // function of xxhash64(key, seed) — stable across runs, leakage-
    // free per key, append-invariant (new rows never reshuffle old
    // assignments). The oracle checks the EQUALITY STRUCTURE the
    // splitter promises (every key assigned to a real split; an
    // independent re-assignment agrees); the fraction tolerances and
    // group-key/append invariants are exact-asserted in SplitsSpec.
    QuerySpec("q_split_assign", (s, dir) => {
      val keys = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select("doc_id")
      val a = Splits.assign(keys, "doc_id")
      val b = Splits.assign(keys, "doc_id").withColumnRenamed("split", "split2")
      a.join(b, "doc_id")
        .select(col("doc_id"),
          col("split").isin("train", "validation", "test").as("assigned"),
          (col("split") === col("split2")).as("stable"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id, TRUE AS assigned, TRUE AS stable
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // Deterministic DOMAIN MIXING (Pile/Dolma-style source weights):
    // keep each row with its language's configured probability, decided
    // by a pure hash of the doc key — reproducible, append-invariant,
    // scan-local. The oracle asserts the equality STRUCTURE per
    // language (exact keep-all/drop-all at weights 1/0, tolerance-band
    // acceptance at fractional weights, run-to-run stability, and
    // subset invariance — the filtered corpus keeps exactly the same
    // docs), which DuckDB can check without replicating the hash.
    // Temperature (alpha) sampling — the multilingual rebalancing
    // recipe: p_i ∝ n_i^alpha. The Spark side recomputes the expected
    // per-domain keep rate in closed form from the true counts and
    // checks the carve lands within hash noise; alpha=1 must reproduce
    // natural proportions (one uniform rate). DuckDB pins the totals.
    QuerySpec("q_alpha_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
      val totalN = docs.count()
      val target = totalN / 2
      def samp(a: Double) = Splits.alphaSample(docs, "lang", "doc_id", a, target)
      val tot = docs.groupBy("lang").agg(count(lit(1)).as("total"))
      val k03 = samp(0.3).groupBy("lang").agg(count(lit(1)).as("kept03"))
      val k03b = samp(0.3).groupBy("lang").agg(count(lit(1)).as("kept03b"))
      val k1 = samp(1.0).groupBy("lang").agg(count(lit(1)).as("kept1"))
      val wsum = sum(pow(col("total"), lit(0.3))).over(
        org.apache.spark.sql.expressions.Window.partitionBy())
      tot.join(k03, Seq("lang"), "left").join(k03b, Seq("lang"), "left")
        .join(k1, Seq("lang"), "left")
        .na.fill(0L, Seq("kept03", "kept03b", "kept1"))
        .withColumn("r03", least(lit(1.0),
          lit(target) * (pow(col("total"), lit(0.3)) / wsum) / col("total")))
        .select(col("lang"), col("total"),
          (abs(col("kept03") / col("total") - col("r03")) < 0.18)
            .as("mix03_ok"),
          (col("kept03") === col("kept03b")).as("stable"),
          (abs(col("kept1") / col("total") - lit(target.toDouble / totalN))
            < 0.18).as("natural1_ok"))
        .orderBy(col("lang"))
    }, Some(
      """SELECT lang, count(*) AS total, TRUE AS mix03_ok, TRUE AS stable,
        |       TRUE AS natural1_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // TOKEN-budget domain mixing (the recipe as a training config
    // states it — "X tokens of domain d"): en capped at half its token
    // mass, de far under budget (keeps all), zh budget 0, fr/es
    // unlisted (dropped) — rate-below-1 carve, cap-at-1, zero-budget
    // and unlisted-drop all checked; budgets count FAITHFUL BPE
    // tokens. Structural booleans Spark-side; DuckDB pins per-domain
    // totals (the carve hash has no SQL mirror — same contract as
    // q_domain_mix/q_alpha_sample).
    QuerySpec("q_token_budget_mix", (s, dir) => {
      // count tokens ONCE (the merge loop is the scan's whole cost and
      // six consumers read the result): materialize the tiny
      // (id, lang, n_bpe) frame through the reliable-checkpoint seam —
      // executor-local by default, durable-directory when
      // Dedup.CheckpointDirConf names one, exactly the crash-safe form
      // a real pipeline's token-count stage needs
      val docs = Dedup.materialize(t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.bpeTokenCountRanked(col("text")).cast("long")
            .as("n_bpe")))
      val enTokens = docs.filter(col("lang") === "en")
        .agg(sum(col("n_bpe"))).head().getLong(0)
      val budgets = Map("en" -> enTokens / 2, "de" -> enTokens * 10,
        "zh" -> 0L)
      def mix(d: DataFrame) = Splits.tokenBudgetMix(d, "lang", "doc_id",
        "n_bpe", budgets)
      val tot = docs.groupBy("lang").agg(count(lit(1)).as("total"),
        sum(col("n_bpe")).as("total_tokens"))
      val kept = mix(docs).groupBy("lang")
        .agg(sum(col("n_bpe")).as("kept_tokens"))
      val kept2 = mix(docs).groupBy("lang")
        .agg(sum(col("n_bpe")).as("kept_tokens2"))
      tot.join(kept, Seq("lang"), "left").join(kept2, Seq("lang"), "left")
        .na.fill(0L, Seq("kept_tokens", "kept_tokens2"))
        .select(col("lang"), col("total"), col("total_tokens"),
          when(col("lang") === "en",
            abs(col("kept_tokens") / lit(enTokens / 2.0) - 1.0) < 0.2)
            .when(col("lang") === "de",
              col("kept_tokens") === col("total_tokens"))
            .when(col("lang") === "zh", col("kept_tokens") === 0)
            .otherwise(col("kept_tokens") === 0).as("budget_ok"),
          (col("kept_tokens") === col("kept_tokens2")).as("stable"))
        .orderBy(col("lang"))
    }, Some(
      s"""WITH ${graft.ext.BpeVocab.oracleCtes("documents")}
         |SELECT d.lang, count(*) AS total,
         |       CAST(sum(len(b.toks)) AS BIGINT) AS total_tokens,
         |       TRUE AS budget_ok, TRUE AS stable
         |FROM documents d JOIN bpe b USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),

    QuerySpec("q_domain_mix", (s, dir) => {
      val docs = t(s, dir, "documents")
      val weights = Map("en" -> 0.5, "zh" -> 1.0, "es" -> 0.0)
      def mix(d: DataFrame) =
        Splits.domainMix(d, "lang", "doc_id", weights, defaultWeight = 0.25)
      val tot = docs.groupBy("lang").agg(count(lit(1)).as("total"))
      val kept = mix(docs).groupBy("lang").agg(count(lit(1)).as("kept"))
      val kept2 = mix(docs).groupBy("lang")
        .agg(count(lit(1)).as("kept2"))
      val keptSubA = mix(docs).filter(col("doc_id") < 500).groupBy("lang")
        .agg(count(lit(1)).as("sub_of_kept"))
      val keptSubB = mix(docs.filter(col("doc_id") < 500)).groupBy("lang")
        .agg(count(lit(1)).as("kept_of_sub"))
      val w = typedLit(weights)
      tot.join(kept, Seq("lang"), "left")
        .join(kept2, Seq("lang"), "left")
        .join(keptSubA, Seq("lang"), "left")
        .join(keptSubB, Seq("lang"), "left")
        .na.fill(0L, Seq("kept", "kept2", "sub_of_kept", "kept_of_sub"))
        .select(col("lang"), col("total"),
          when(col("lang") === "zh", col("kept") === col("total"))
            .when(col("lang") === "es", col("kept") === 0)
            .otherwise(abs(col("kept") / col("total") -
              coalesce(w(col("lang")), lit(0.25))) < 0.18).as("mix_ok"),
          (col("kept") === col("kept2")).as("stable"),
          (col("sub_of_kept") === col("kept_of_sub")).as("invariant"))
        .orderBy(col("lang"))
    }, Some(
      """SELECT lang, count(*) AS total, TRUE AS mix_ok, TRUE AS stable,
        |       TRUE AS invariant
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Deterministic GLOBAL SHUFFLE (training-order randomization):
    // pos = distributed rank of xxhash64(doc_id) — the two-pass prefix
    // shape, never a single-task global sort. doc_ids are contiguous
    // 0..n-1 in the corpus, so the shuffle must be a permutation of
    // that range; the oracle asserts exactly that structure plus
    // stability and genuine displacement, without knowing the hash.
    QuerySpec("q_shuffle_order", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val a = Splits.shuffled(docs, "doc_id")
      val b = Splits.shuffled(docs, "doc_id")
        .withColumnRenamed("pos", "pos2")
      a.join(b, "doc_id")
        .agg(count(lit(1)).as("n"),
          (count_distinct(col("pos")) === count(lit(1)) &&
            min(col("pos")) === 0 &&
            max(col("pos")) === count(lit(1)) - 1).as("permutation"),
          max(when(col("pos") =!= col("pos2"), 1L).otherwise(0L))
            .as("unstable_rows"),
          (max(when(col("pos") =!= col("doc_id"), 1L).otherwise(0L)) === 1L)
            .as("displaced"))
        .select(col("n"), col("permutation"),
          (col("unstable_rows") === 0L).as("stable"), col("displaced"))
    }, Some(
      """SELECT count(*) AS n, TRUE AS permutation, TRUE AS stable,
        |       TRUE AS displaced
        |FROM documents""".stripMargin)),

    // LEAKAGE-SAFE SPLITTING keyed by dedup CLUSTER (The-Stack-style:
    // near-duplicates of a test doc must never train) — the natural
    // composition of the shared component labels with the hash splitter:
    // the split key is the CLUSTER id, so every member of a duplicate
    // cluster lands in one split by construction. The oracle rebuilds
    // the clusters independently (DuckDB islands) and asserts the
    // no-straddle structure per cluster.
    QuerySpec("q_split_leakage_safe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.select(col("doc_id"))
        .join(sharedChainLabels(s, dir), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
      Splits.assign(labeled, "component")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("members"),
          (count_distinct(col("split")) === 1).as("no_straddle"),
          max(col("split").isin("train", "validation", "test"))
            .as("assigned"))
        .orderBy(col("component"))
    }, Some(
      """WITH b AS (
        |  SELECT doc_id, CASE WHEN lag(doc_id) OVER w = doc_id - 1
        |                       AND lag(n_chars % 5) OVER w = n_chars % 5
        |                      THEN 0 ELSE 1 END AS brk
        |  FROM documents WINDOW w AS (ORDER BY doc_id)),
        |r AS (SELECT doc_id, sum(brk) OVER (ORDER BY doc_id) AS run FROM b),
        |c AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY run) AS component
        |      FROM r)
        |SELECT component, count(*) AS members, TRUE AS no_straddle,
        |       TRUE AS assigned
        |FROM c GROUP BY component ORDER BY component""".stripMargin)),

    // EPOCH REPLICATION (the ×2.5-style up-weighting half of a mixing
    // recipe): every row emitted floor(w) times plus a deterministic
    // hash-sampled fractional copy, with an epoch index — one scan, one
    // explode, no per-epoch self-union. Oracle asserts the per-language
    // structure: exact doubling at 2.0, identity at 1.0, tolerance at
    // fractional weights, and the right epoch range.
    QuerySpec("q_replicate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val rep = Splits.replicate(docs, "lang", "doc_id",
        Map("en" -> 2.0, "zh" -> 1.0, "es" -> 0.5), defaultWeight = 2.5)
      val tot = docs.groupBy("lang").agg(count(lit(1)).as("total"))
      val r = rep.groupBy("lang").agg(count(lit(1)).as("emitted"),
        max(col("epoch")).as("max_epoch"))
      tot.join(r, Seq("lang"), "left")
        .select(col("lang"), col("total"),
          when(col("lang") === "en", col("emitted") === col("total") * 2)
            .when(col("lang") === "zh", col("emitted") === col("total"))
            .when(col("lang") === "es",
              abs(col("emitted") / col("total") - 0.5) < 0.18)
            .otherwise(abs(col("emitted") / col("total") - 2.5) < 0.18)
            .as("rep_ok"),
          when(col("lang") === "en", col("max_epoch") === 1)
            .when(col("lang") === "zh", col("max_epoch") === 0)
            .when(col("lang") === "es", col("max_epoch") === 0)
            .otherwise(col("max_epoch") === 2).as("epochs_ok"))
        .orderBy(col("lang"))
    }, Some(
      """SELECT lang, count(*) AS total, TRUE AS rep_ok, TRUE AS epochs_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Contiguous token-budget sharding (corpus → ~equal-token shard
    // files): distributed two-pass prefix sum — range shuffle, tiny
    // per-partition totals to the driver, broadcast offsets, window per
    // PARTITION (never a global single-task window). The shard budget
    // is in TOKENIZER-FAITHFUL BPE tokens (the number a training run
    // actually packs by — the regex proxy drifts 10-30%); DuckDB
    // recomputes every merge, offset and shard cut — exact match.
    QuerySpec("q_pack_shards", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCountRanked(col("text")).cast("int")
            .as("n_tokens"))
      Splits.packShards(docs, "doc_id", "n_tokens", budget = 2000L)
        .select(col("doc_id"), col("n_tokens"),
          col("offset_in_corpus"), col("shard"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH ${graft.ext.BpeVocab.oracleCtes(
                  "(SELECT * FROM documents WHERE doc_id < 200)")},
         |d AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens
         |      FROM bpe)
         |SELECT doc_id, n_tokens,
        |       CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         AS BIGINT) AS offset_in_corpus,
        |       CAST(floor(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         / 2000.0) AS BIGINT) AS shard
        |FROM d ORDER BY doc_id""".stripMargin)),

    // Fixed-window token chunking with overlap (context-length
    // preprocessing for training/RAG): one codegen'd scan-local
    // projection — sequence→transform→slice→posexplode, no shuffle.
    // The oracle recomputes every window with DuckDB list slicing, so
    // window boundaries, overlap and tail handling are all hash-checked.
    QuerySpec("q_doc_chunks", (s, dir) => {
      TextAnalysis.chunk(t(s, dir, "documents").filter(col("doc_id") < 50),
          "doc_id", "text", maxTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, Some(
      """WITH d AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
        |           FROM documents WHERE doc_id < 50),
        |p AS (SELECT doc_id, toks,
        |             CASE WHEN len(toks) <= 64 THEN 1
        |                  ELSE CAST(ceil((len(toks) - 16) / 48.0) AS INT) END AS nc
        |      FROM d)
        |SELECT doc_id, CAST(k AS INT) AS chunk_idx,
        |       CAST(len(toks[k*48+1 : k*48+64]) AS INT) AS n_tokens,
        |       array_to_string(toks[k*48+1 : k*48+64], ' ') AS chunk_text
        |FROM p, LATERAL UNNEST(generate_series(0, nc - 1)) AS t(k)
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Context-length chunking with the budget in TOKENIZER-FAITHFUL
    // BPE tokens (chunk windows whitespace words; this windows the
    // subword stream itself — every chunk is exactly ≤ budget MODEL
    // tokens). DuckDB re-derives the full subword stream from the
    // merge literals, then recomputes every window — boundaries,
    // overlap, tail, and the joined chunk text all hash-checked.
    QuerySpec("q_doc_chunks_bpe", (s, dir) => {
      TextAnalysis.chunkBpe(
          t(s, dir, "documents").filter(col("doc_id") < 50),
          "doc_id", "text", maxTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, Some(
      s"""WITH ${graft.ext.BpeVocab.oracleCtes(
                  "(SELECT * FROM documents WHERE doc_id < 50)")},
         |d AS (SELECT doc_id, toks FROM bpe),
         |p AS (SELECT doc_id, toks,
         |             CASE WHEN len(toks) <= 64 THEN 1
         |                  ELSE CAST(ceil((len(toks) - 16) / 48.0) AS INT) END AS nc
         |      FROM d)
         |SELECT doc_id, CAST(k AS INT) AS chunk_idx,
         |       CAST(len(toks[k*48+1 : k*48+64]) AS INT) AS n_tokens,
         |       array_to_string(toks[k*48+1 : k*48+64], ' ') AS chunk_text
         |FROM p, LATERAL UNNEST(generate_series(0, nc - 1)) AS t(k)
         |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Cross-document boilerplate line removal (rows-only: reassembly
    // order + normalization are painful to mirror in SQL). Sentences
    // become pseudo-lines so the single-line test corpus exercises the
    // explode→frequency→anti-join→reassemble pipeline.
    QuerySpec("q_doc_boilerplate", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", regexp_replace(col("text"), "\\. ", ".\n"))
      Boilerplate.removeFrequentLines(docs, "doc_id", "text", minDocFreq = 10)
        .select(col("doc_id"), col("n_lines_kept"), md5(col("text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH split AS (
        |  SELECT doc_id, string_split(regexp_replace(text, '\. ', '.' || chr(10), 'g'), chr(10)) AS parts
        |  FROM documents
        |), lines AS (
        |  SELECT doc_id, s.x['pos'] AS pos, s.x['line'] AS line,
        |         trim(regexp_replace(regexp_replace(lower(s.x['line']),
        |           '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nl
        |  FROM split, unnest(list_transform(range(1, len(parts)+1),
        |    i -> {'pos': i, 'line': parts[i]})) s(x)
        |), frequent AS (
        |  SELECT nl FROM (SELECT DISTINCT doc_id, nl FROM lines) GROUP BY nl
        |  HAVING count(*) >= 10 AND nl <> ''
        |)
        |SELECT doc_id, count(*) AS n_lines_kept,
        |       md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
        |FROM lines WHERE nl NOT IN (SELECT nl FROM frequent)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Language ID against PLANTED ground truth — one stopworded
    // sentence AND one stopword-free technical/compound document per
    // language, plus unspaced Chinese and junk. The stopword-free and
    // unspaced rows are exactly what the old stopword-argmax operator
    // misclassified to "und" (no function words to match; Chinese
    // without spaces tokenized to one giant unmatched "word") — the
    // char-trigram profiles must label ALL of them.
    QuerySpec("q_lang_id", (s, _) => {
      import s.implicits._
      val planted = Seq(
        (1L, "the cat is on the mat and it is very happy there"),
        (2L, "der hund ist nicht in der küche und das ist auch gut"),
        (3L, "le chat est dans la maison et il est très content"),
        (4L, "el gato es un animal y la casa es grande"),
        (5L, "il gatto è un animale che dorme nella casa"),
        (6L, "o cachorro não está em casa e a menina é grande demais"),
        (7L, "installation requirements troubleshooting documentation"),
        (8L, "geschwindigkeitsbegrenzung versicherungsunternehmen"),
        (9L, "téléchargement développement référencement"),
        (10L, "programación internacionalización automatización"),
        (11L, "internazionalizzazione configurazione ottimizzazione"),
        (12L, "programação internacionalização automatização"),
        (13L, "这是一个没有空格的中文测试文档"),
        (14L, "zxcv qwer asdf mnbv"))
      planted.toDF("doc_id", "text")
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))
    }, Some(
      // planted ground truth: the labels ARE the oracle (classification
      // quality, not a mirrored formula)
      """SELECT doc_id, pred_lang FROM (VALUES
        |  (CAST(1 AS BIGINT), 'en'), (2, 'de'), (3, 'fr'), (4, 'es'),
        |  (5, 'it'), (6, 'pt'), (7, 'en'), (8, 'de'), (9, 'fr'),
        |  (10, 'es'), (11, 'it'), (12, 'pt'), (13, 'zh'), (14, 'und'))
        |  AS t(doc_id, pred_lang)
        |ORDER BY doc_id""".stripMargin)),

    // Language ID + composite quality score + fingerprint presence. The
    // quality composite and the stopword-argmax langId are plain
    // arithmetic/set ops — fully oracle-checked; the rolling-hash VALUE
    // has no SQL twin, so the query asserts it computed (IS NOT NULL)
    // while its exact bits stay covered by TextExpressionsSpec.
    QuerySpec("q_doc_fingerprint", (s, dir) => {
      TextAnalysis.documentStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("quality"), col("pred_lang"),
          col("fingerprint").isNotNull.as("has_fingerprint"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH base AS (
        |  SELECT doc_id, text,
        |         CAST(length(text) AS DOUBLE) AS len,
        |         string_split_regex(trim(lower(text)), '\\s+') AS tk,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS ntok
        |  FROM documents
        |), comp AS (
        |  SELECT doc_id, text, len, tk, ntok,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
        |    CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(list_intersect(tk, ['the','a','an','and','or','of','to','in',
        |      'is','it','that','for','on','with','as','are','was','be','this','at','by'])) AS DOUBLE) AS stop
        |  FROM base
        |), scored AS (
        |  SELECT doc_id, text,
        |    least(len/500.0, 1.0) AS length_score,
        |    CASE WHEN len > 0 THEN alpha/len ELSE 0.0 END AS alpha_ratio,
        |    CASE WHEN len > 0 THEN 1.0 - least(punct/len*10.0, 1.0) ELSE 0.0 END AS punct_penalty,
        |    CASE WHEN ntok > 0 THEN least(stop/ntok*2.0, 1.0) ELSE 0.0 END AS stop_ratio
        |  FROM comp
        |)
        |SELECT doc_id,
        |  floor((length_score + alpha_ratio + punct_penalty + stop_ratio)/4.0
        |        * 10000 + 0.5)/10000 AS quality,
        |  ${graft.ext.TextAnalysis.langIdOracleSqlExpr("text")} AS pred_lang,
        |  TRUE AS has_fingerprint
        |FROM scored ORDER BY doc_id""".stripMargin)),

    // Fingerprint CONTRACT gate with planted ground truth: identical
    // twins (whitespace-normalized variants included — the fingerprint
    // normalizes before hashing) must collide, and the first 25 real
    // docs must all be pairwise distinct (injectivity on the sample —
    // deterministic for the seeded corpus). The hash VALUES cannot be
    // recomputed by DuckDB; equality structure can, which is exactly
    // what a fingerprint promises.
    QuerySpec("q_doc_fingerprint_exact", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 25)
        .select(col("doc_id"), col("text"))
      // twin = same text with shuffled whitespace (normalization target)
      val twins = docs.select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("  "), regexp_replace(col("text"), lit(" "), lit("\t "))).as("text"))
      val fp = docs.union(twins)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("_fp"))
      val orig = fp.filter(col("doc_id") < 25)
      val twin = fp.filter(col("doc_id") >= 100000)
        .select((col("doc_id") - 100000).as("doc_id"), col("_fp").as("_fp_twin"))
      val distinctFps = orig.select(countDistinct(col("_fp")).as("n"))
      orig.join(twin, "doc_id")
        .crossJoin(broadcast(distinctFps))
        .select(col("doc_id"),
          (col("_fp") === col("_fp_twin")).as("twin_match"),
          (col("n") === lit(25)).as("injective_sample"))
        .orderBy(col("doc_id"))
    }, Some(
      // equality structure only — the expected table is reconstructible
      // without knowing the hash: every twin matches, no sample collision
      """SELECT doc_id, true AS twin_match, true AS injective_sample
        |FROM documents WHERE doc_id < 25 ORDER BY doc_id""".stripMargin))
  )
}
