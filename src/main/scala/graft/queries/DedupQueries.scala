package graft
package queries

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis}
import Fixtures.{t, emb, sharedCandidatePairs, sharedChainLabels}

/** North star: deduplication (SURVEY.md §7.1 module 7). */
private[graft] object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(

    // Exact dedup accounting via content hash (md5 — oracle-checkable).
    QuerySpec("q_dedup_exact", (s, dir) => {
      val d = t(s, dir, "documents")
      d.agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"),
        countDistinct(col("lang")).as("n_langs"))
    }, Some(
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
        |       count(DISTINCT lang) AS n_langs
        |FROM documents""".stripMargin)),

    // Exact-dedup operator itself: normalized-content first-writer-wins.
    QuerySpec("q_dedup_exact_rows", (s, dir) => {
      Dedup.exactByContent(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }, Some(
      // first-writer-wins within identical normalized content — the oracle
      // partitions on the normalized text itself (equivalent to the 64-bit
      // content hash modulo collisions)
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars, row_number() OVER (
        |    PARTITION BY trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))
        |    ORDER BY doc_id) AS rn
        |  FROM documents) x
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Connected-components dedup clustering (Large-Star/Small-Star) over
    // a deterministic, SQL-expressible duplicate graph: an edge links
    // consecutive doc_ids whose n_chars fall in the same mod-5 bucket.
    // The oracle computes the same components with a DIFFERENT algorithm
    // (DuckDB islands-and-gaps windowing) — a full hash-match check of
    // the distributed star-contraction against an independent method.
    QuerySpec("q_dedup_clusters", (s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = sharedChainLabels(s, dir)
      docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .orderBy(col("doc_id"))
    }, Some(
      // independent algorithm: islands-and-gaps windowing computes the same
      // components the Spark side derives by Large-Star/Small-Star
      // contraction (edges join consecutive doc_ids sharing n_chars % 5)
      """WITH b AS (
        |  SELECT doc_id, CASE WHEN lag(doc_id) OVER w = doc_id - 1
        |                       AND lag(n_chars % 5) OVER w = n_chars % 5
        |                      THEN 0 ELSE 1 END AS brk
        |  FROM documents WINDOW w AS (ORDER BY doc_id)),
        |r AS (SELECT doc_id, sum(brk) OVER (ORDER BY doc_id) AS run FROM b)
        |SELECT doc_id, min(doc_id) OVER (PARTITION BY run) AS component
        |FROM r ORDER BY doc_id""".stripMargin)),

    // Cluster RETENTION on top of the same deterministic duplicate
    // graph: keep the highest-n_chars member per component (ties →
    // lowest doc_id) with the cluster size — the "keep best, drop rest"
    // step after near-dup clustering. One map-side-combining hash agg
    // (no corpus-wide window sort); the oracle recomputes it with
    // DuckDB's independent islands + row_number method.
    QuerySpec("q_dedup_canonical", (s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = sharedChainLabels(s, dir)
      val labeled = docs.select(col("doc_id"), col("n_chars"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("component"), col("doc_id")).as("component"))
      Dedup.canonicalPerCluster(labeled, "doc_id", "component", "n_chars")
        .orderBy(col("component"))
    }, Some(
      // same islands-and-gaps components, then an independent per-cluster
      // argmax (row_number, vs Spark's struct-max aggregation)
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |         CASE WHEN lag(doc_id) OVER w = doc_id - 1
        |               AND lag(n_chars % 5) OVER w = n_chars % 5
        |              THEN 0 ELSE 1 END AS brk
        |  FROM documents WINDOW w AS (ORDER BY doc_id)),
        |r AS (SELECT doc_id, n_chars, sum(brk) OVER (ORDER BY doc_id) AS run
        |      FROM b),
        |c AS (SELECT doc_id, n_chars,
        |             min(doc_id) OVER (PARTITION BY run) AS component
        |      FROM r)
        |SELECT component, doc_id AS keep_id, n_chars AS keep_score,
        |       cnt AS cluster_size
        |FROM (
        |  SELECT component, doc_id, n_chars,
        |         count(*) OVER (PARTITION BY component) AS cnt,
        |         row_number() OVER (PARTITION BY component
        |                            ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM c)
        |WHERE rn = 1 ORDER BY component""".stripMargin)),

    // Benchmark contamination (decontamination gate): corpus docs
    // sharing any distinct 5-gram with the "eval set" (first 10 docs
    // standing in for a benchmark). Broadcast gram join — the corpus
    // never shuffles. The oracle recomputes gram sets independently in
    // DuckDB (string slicing, different separator — only token
    // sequences must agree), so every overlap count is hash-checked.
    QuerySpec("q_contamination", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contamination(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 10), "doc_id", "text", n = 5)
        .orderBy(col("doc_id"), col("bench_id"))
    }, Some(
      // independent gram computation: DuckDB list slicing over split
      // tokens (space separator vs Spark's  — equality of token
      // SEQUENCES is what both encode)
      """WITH d AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram
        |      FROM d, LATERAL UNNEST(generate_series(1, len(toks) - 4)) AS t(i)),
        |dg AS (SELECT DISTINCT doc_id, gram FROM g),
        |bg AS (SELECT DISTINCT doc_id AS bench_id, gram FROM g WHERE doc_id < 10)
        |SELECT dg.doc_id, bg.bench_id, count(*) AS overlap_grams
        |FROM dg JOIN bg USING (gram)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // MinHash+LSH near-dup candidate pairs (rows-only check: sketch-based).
    // The candidate pair set is computed ONCE per sf-dir (checkpointed)
    // and shared with q_ngram_jaccard — the pipeline posture at 100 TB,
    // where candidate generation dominates and must never run twice.
    QuerySpec("q_minhash_pairs", (s, dir) => {
      Dedup.minhashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5, candidates = Some(sharedCandidatePairs(s, dir)))
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy(col("id_a"), col("id_b"))
    }, None),

    // MinHash banding + exact-Jaccard verification over a corpus with
    // PLANTED near-duplicates an oracle can rebuild: each of the first
    // 25 docs gets an 80%-token-prefix twin at doc_id+100000
    // (jaccard ≈ 0.8, background pairs ≈ 0.02 at the verify scale).
    // The banding must surface every planted pair and the verification
    // scores must match DuckDB's recomputation from raw text — a full
    // recall + scoring gate on the LSH path, while q_minhash_pairs
    // keeps exercising the real corpus (rows-only, sketch-based).
    QuerySpec("q_minhash_pairs_exact", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 25)
      val tk = TextAnalysis.tokens(col("text"))
      val m = greatest(lit(3), floor(size(tk) * lit(4.0) / 5).cast("int"))
      val variants = docs.select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(tk, lit(1), m)).as("text"))
      val all = docs.select("doc_id", "text").unionByName(variants)
      Dedup.minhashNearDuplicates(all, "doc_id", "text", threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      // Planted-pair MinHash gate: DuckDB recomputes exact word-3-gram
      // Jaccard for every planted (doc, 80%-prefix twin) pair and keeps
      // those >= 0.5 — the banding must surface exactly that set with
      // matching scores. Background pairs sit at ~0.02 at this scale, so
      // the threshold separates cleanly.
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tka
        |  FROM documents WHERE doc_id < 25),
        |pairs AS (
        |  SELECT doc_id AS id_a, doc_id + 100000 AS id_b, tka,
        |         tka[1:greatest(3, CAST(floor(len(tka) * 4.0 / 5) AS INT))] AS tkb
        |  FROM base),
        |g AS (
        |  SELECT id_a, id_b,
        |    CASE WHEN len(tka) < 3 THEN [array_to_string(tka, chr(1))]
        |      ELSE list_distinct(list_transform(generate_series(1, len(tka)-2),
        |        i -> array_to_string(tka[i:i+2], chr(1)))) END AS ga,
        |    CASE WHEN len(tkb) < 3 THEN [array_to_string(tkb, chr(1))]
        |      ELSE list_distinct(list_transform(generate_series(1, len(tkb)-2),
        |        i -> array_to_string(tkb[i:i+2], chr(1)))) END AS gb
        |  FROM pairs)
        |SELECT id_a, id_b, round(j, 4) AS jaccard FROM (
        |  SELECT id_a, id_b,
        |         len(list_intersect(ga, gb))::DOUBLE
        |           / len(list_distinct(ga || gb)) AS j
        |  FROM g) x
        |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // SimHash near-dup candidates (rows-only). Radius 4 is the widest a
    // 64-bit sketch can shard (Dedup.MaxSimhashRadius) — looser
    // similarity goes through minhash banding instead.
    QuerySpec("q_simhash_pairs", (s, dir) => {
      Dedup.simhashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 4)
        .orderBy(col("id_a"), col("id_b"))
    }, None),

    // SimHash banding over a corpus with EXACT-duplicate twins planted
    // at doc_id+100000 for the first 25 docs: identical text guarantees
    // hamming 0 (recall is structural, not probabilistic — a 1-token
    // edit can flip >4 of 64 bits, so near-identical twins can't give a
    // deterministic expected set), while the ≈0.02-jaccard background
    // guarantees no other pair sits within radius 4. The oracle derives
    // the expected (pair, hamming=0) set from the documents table — a
    // precision + plumbing gate; probabilistic radius behavior stays in
    // q_simhash_pairs (rows-only).
    QuerySpec("q_simhash_pairs_exact", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 25)
      val twins = docs.select((col("doc_id") + 100000).as("doc_id"),
        col("text"))
      Dedup.simhashNearDuplicates(docs.select("doc_id", "text")
          .unionByName(twins), "doc_id", "text", maxHamming = 4)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      // Exact-duplicate SimHash gate: identical twins are the only pairs
      // within radius 4 of each other (background jaccard ≈0.02), and an
      // identical token stream hashes to hamming 0 by construction.
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
        |       CAST(0 AS INTEGER) AS hamming
        |FROM documents WHERE doc_id < 25 ORDER BY id_a""".stripMargin)),

    // n-gram Jaccard verification over minhash-band candidates (rows-only).
    // Minhash bands shard by content at any similarity level, unlike
    // high-radius simhash chunks whose keyspace collapses. REUSES the
    // checkpointed pair set q_minhash_pairs built — verification joins
    // onto the shared candidates instead of re-running generation.
    QuerySpec("q_ngram_jaccard", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramJaccard(docs, sharedCandidatePairs(s, dir), "doc_id", "text", n = 3)
        .withColumn("ngram_jaccard", round(col("ngram_jaccard"), 4))
        .orderBy(col("id_a"), col("id_b"))
    }, None),

    // The same word-3-gram Jaccard scorer over a DETERMINISTIC pair set
    // an oracle can rebuild: each of the first 25 docs paired with its
    // own 60%-token prefix (planted at doc_id+100000). Prefix grams are
    // a subset of the doc's grams, so every score is a nontrivial ratio
    // DuckDB recomputes from the raw text — the scorer gets a full hash
    // check while the LSH-candidate variant above stays sketch-based.
    // Extended PII scrub with a Luhn validity gate: plant a known
    // card number (valid for even doc_ids, Luhn-INVALID for odd), a
    // phone, and an IP into digit-free corpus text. The scrubbed text
    // is exactly reconstructible: the valid card becomes <CARD>, the
    // invalid digit run survives (the precision half of the contract —
    // order ids and ISBNs must not be eaten), phone and IP always
    // scrub.
    QuerySpec("q_pii_extended", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 40)
      val card = when(pmod(col("doc_id"), lit(2)) === 0,
        lit("4242-4242-4242-4242")).otherwise(lit("1234-5678-9012-3456"))
      val planted = concat(col("text"), lit(" card "), card,
        lit(" ip 10.1.2.3 call +1 555-123-4567"))
      val (scrubbed, cards, phones, ips) =
        TextAnalysis.scrubPiiExtended(planted)
      docs.select(col("doc_id"), scrubbed.as("scrubbed"),
          cards.as("n_cards"), phones.as("n_phones"), ips.as("n_ips"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |  text || ' card ' ||
        |    CASE WHEN doc_id % 2 = 0 THEN '<CARD>'
        |         ELSE '1234-5678-9012-3456' END ||
        |    ' ip <IP> call <PHONE>' AS scrubbed,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
        |    AS n_cards,
        |  CAST(1 AS INTEGER) AS n_phones,
        |  CAST(1 AS INTEGER) AS n_ips
        |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin)),

    // EXACT substring-overlap pairs over the real corpus (Lee et al.
    // verbatim-span dedup at window granularity): every shared 8-token
    // run between any two docs, counted. Windows travel as shingle
    // hashes; DuckDB rebuilds the distinct gram sets as strings and
    // self-joins — full hash-match of the whole pair list.
    QuerySpec("q_substring_pairs", (s, dir) => {
      Dedup.substringOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 8)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, gram
        |  FROM d, LATERAL UNNEST(list_transform(
        |    generate_series(1, len(t) - 7),
        |    i -> array_to_string(t[i:i+7], chr(1)))) AS u(gram)
        |  WHERE len(t) >= 8)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       count(*) AS shared_windows
        |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Planted-truth twin: doc_id+100000 carries the 60%-token prefix of
    // its source (≥ 6 tokens), so the pair's shared-window count equals
    // the twin's own distinct 5-token windows — every planted pair must
    // surface with exactly that count (left join keeps recall failures
    // visible as nulls).
    QuerySpec("q_substring_pairs_exact", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 25)
      val tk = TextAnalysis.tokens(col("text"))
      val m = greatest(lit(6), floor(size(tk) * lit(3.0) / 5).cast("int"))
      val variants = docs.select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(tk, lit(1), m)).as("text"))
      val all = docs.select("doc_id", "text").unionByName(variants)
      val expected = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + 100000).as("id_b"))
      expected.join(
          Dedup.substringOverlapPairs(all, "doc_id", "text", n = 5),
          Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("shared_windows"))
        .orderBy(col("id_a"))
    }, Some(
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tka
        |  FROM documents WHERE doc_id < 25),
        |p AS (
        |  SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
        |         tka[1:greatest(6, CAST(floor(len(tka) * 3.0 / 5) AS INT))]
        |           AS tkb
        |  FROM base)
        |SELECT id_a, id_b,
        |  CAST(len(list_distinct(list_transform(
        |    generate_series(1, len(tkb) - 4),
        |    i -> array_to_string(tkb[i:i+4], chr(1))))) AS BIGINT)
        |    AS shared_windows
        |FROM p ORDER BY id_a""".stripMargin)),

    QuerySpec("q_ngram_jaccard_exact", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 25)
      val tk = TextAnalysis.tokens(col("text"))
      val m = greatest(lit(3), floor(size(tk) * lit(3.0) / 5).cast("int"))
      val variants = docs.select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(tk, lit(1), m)).as("text"))
      val all = docs.select("doc_id", "text").unionByName(variants)
      val pairs = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + 100000).as("id_b"))
      Dedup.ngramJaccard(all, pairs, "doc_id", "text", n = 3)
        .withColumn("ngram_jaccard", round(col("ngram_jaccard"), 4))
        .orderBy(col("id_a"))
    }, Some(
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tka
        |  FROM documents WHERE doc_id < 25),
        |pairs AS (
        |  SELECT doc_id AS id_a, tka,
        |         tka[1:greatest(3, CAST(floor(len(tka) * 3.0 / 5) AS INT))] AS tkb
        |  FROM base),
        |g AS (
        |  SELECT id_a,
        |    CASE WHEN len(tka) < 3 THEN [array_to_string(tka, chr(1))]
        |      ELSE list_distinct(list_transform(generate_series(1, len(tka)-2),
        |        i -> array_to_string(tka[i:i+2], chr(1)))) END AS ga,
        |    CASE WHEN len(tkb) < 3 THEN [array_to_string(tkb, chr(1))]
        |      ELSE list_distinct(list_transform(generate_series(1, len(tkb)-2),
        |        i -> array_to_string(tkb[i:i+2], chr(1)))) END AS gb
        |  FROM pairs)
        |SELECT id_a, id_a + 100000 AS id_b,
        |  round(CASE WHEN len(list_distinct(ga || gb)) = 0 THEN 0.0
        |    ELSE len(list_intersect(ga, gb))::DOUBLE / len(list_distinct(ga || gb))
        |    END, 4) AS ngram_jaccard
        |FROM g ORDER BY id_a""".stripMargin)),

    // Embedding-cosine near-dup via amplified hyperplane LSH. The
    // testdata embeddings are near-orthogonal random vectors (max pair
    // cosine ≈ 0.46), so near-duplicates are planted: each vec_id < 20
    // gets a slightly-perturbed copy at id+100000 (cosine 0.917–0.936).
    // 12 tables × 6 planes put recall at the planted similarity ≈ 1, so
    // the operator must surface ALL 20 planted pairs — and DuckDB
    // recomputes their exact cosines from the same construction, making
    // this a full recall + scoring oracle. Scores round to 3 decimals:
    // every planted cosine sits ≥5e-5 from a 3-decimal boundary, far
    // beyond the ~1e-7 float(engine)-vs-double(DuckDB) noise.
    QuerySpec("q_embed_neardup", (s, dir) => {
      val e = emb(s, dir)
      val planted = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.05f)).as("embedding"))
      Dedup.embeddingNearDuplicates(e.select("vec_id", "embedding").union(planted),
          "vec_id", "embedding", threshold = 0.9, numPlanes = 6, numTables = 12)
        .withColumn("cosine", round(col("cosine"), 3))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      // Planted-pair embedding near-dup gate: the 20 perturbed copies are
      // the ONLY pairs above the 0.9 threshold (background tops out at
      // ≈0.46), so the amplified LSH must surface exactly this set with
      // matching cosines.
      """SELECT id_a, id_b, round(list_cosine_similarity(orig, v), 3) AS cosine
        |FROM (
        |  SELECT vec_id AS id_a, vec_id + 100000 AS id_b,
        |         CAST(embedding AS DOUBLE[]) AS orig,
        |         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.05) AS v
        |  FROM embeddings WHERE vec_id < 20) p
        |WHERE list_cosine_similarity(orig, v) >= 0.9
        |ORDER BY id_a""".stripMargin)),

    // SemDeDup-style semantic dedup (k-means cells + within-cell cosine
    // gate). Plants are EXACT vector copies: identical vectors tie on
    // every centroid score and the argmax tie-break is deterministic,
    // so a twin can never straddle a cell boundary — the 20 planted
    // pairs (cosine 1.0) are the complete answer (background cosine
    // tops out at ~0.46, far under the 0.9 gate). Perturbed-plant
    // recall and the cell-scoping trade are spec-tested (DedupSpec).
    QuerySpec("q_semantic_dedup", (s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Dedup.semanticNearDuplicates(e.union(planted), "vec_id", "embedding",
          threshold = 0.9, nlist = 8, iters = 2)
        .withColumn("cosine", round(col("cosine"), 3))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      // SemDeDup planted exact-copy gate: identical twins (cosine 1.0)
      // are the only pairs >= 0.9; cell assignment cannot separate an
      // exact copy from its original (deterministic argmax tie-break).
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b,
        |       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                                    CAST(embedding AS DOUBLE[])), 3) AS cosine
        |FROM embeddings WHERE vec_id < 20 ORDER BY id_a""".stripMargin)),

    // Distributed k-NN JOIN in exact mode (nprobe = nlist probes every
    // IVF list, so the banded join IS brute-force k-NN — the
    // verification baseline): for each of 5 query rows, the exact
    // top-5 of the full corpus, DuckDB-recomputed. The ANN mode
    // (nprobe < nlist) is spec-gated on recall vs this exact mode.
    QuerySpec("q_knn_join", (s, dir) => {
      val e = emb(s, dir)
      val left = e.filter(col("vec_id") < 5)
      Similarity.knnJoin(left, "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8, iters = 1)
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      // Exact-mode distributed k-NN join: DuckDB recomputes the full
      // brute-force ranking for the 5 query rows.
      """SELECT query_id, rank, neighbor_id, score FROM (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                             CAST(q.embedding AS DOUBLE[])) DESC,
        |                      e.vec_id) AS INTEGER) AS rank,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(q.embedding AS DOUBLE[])), 6) AS score
        |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 5) q) x
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))
  )
}
