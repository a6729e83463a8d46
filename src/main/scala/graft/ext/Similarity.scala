package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — north-star extension (SURVEY.md §2.11).
  *
  * Plans by scale:
  * - one query vector → brute-force scan + `TakeOrderedAndProject`
  *   (scan-local top-k per partition; only k rows reach the driver);
  * - a query *table* → broadcast the queries, score per (row, query),
  *   reduce with a bounded-heap Aggregator so each partition ships at
  *   most k candidates per query into the shuffle (map-side combine);
  * - LSH path → hyperplane bucket equality prunes the scan before any
  *   scoring (the IVF analogue: buckets = fixed random centroids' signs).
  */
object Similarity {

  /** Brute-force cosine top-k for one query vector. The filter+project
    * run inside whole-stage codegen; ordering is TakeOrderedAndProject
    * (no global sort). */
  def cosineTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val q = lit(query)
    embeddings
      .select(col(idCol), GraftFunctions.cosineSim(col(vecCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Symmetric INT8 quantization of a float vector — the 4×-smaller
    * storage form a 100 TB embedding corpus actually ships. Per-vector
    * scale `s = max|x| / 127`, codes `round(x/s)` in [-127, 127], so
    * every element's reconstruction error is bounded by `s/2` — the
    * property [[dequantizeInt8]] consumers rely on and the oracle
    * asserts. Pure codegen'd column expressions (`aggregate` for the
    * max-abs, `transform` for the codes): quantization is a scan-local
    * projection, no UDF, no shuffle. Zero vectors quantize to scale 0 +
    * all-zero codes (and dequantize back to exact zeros). */
  def quantizeInt8(vec: Column): Column = {
    val maxAbs = aggregate(vec, lit(0.0f),
      (acc, x) => greatest(acc, abs(x)))
    struct(
      // Divide always promotes to double; the stored scale is float —
      // the 4x-memory story only holds if the sidecar stays narrow
      (maxAbs / 127.0f).cast("float").as("scale"),
      // multiply-first (x·127/max, not x/(max/127)): the reciprocal
      // form lands exact half-way codes at 63.49999…, rounding down
      // and pushing reconstruction error just past the s/2 bound
      transform(vec, x =>
        when(maxAbs === 0.0f, lit(0))
          .otherwise(round(x * 127.0f / maxAbs).cast("int"))
          .cast("byte")).as("codes"))
  }

  /** Inverse of [[quantizeInt8]]: `codes · scale` back to float. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"),
      c => c.cast("float") * q.getField("scale"))

  /** Top-k for every row of a (small) query table. Queries are broadcast;
    * the per-partition heap bounds shuffle volume at k·partitions·queries
    * rows instead of rows·queries. */
  def cosineTopKForQueries(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame = {
    val scored = embeddings.crossJoin(
        broadcast(queries.select(col(qidCol).as("_qid"), col(qvecCol).as("_qvec"))))
      .select(col("_qid"),
        GraftFunctions.cosineSim(col(vecCol), col("_qvec")).as("score"),
        col(idCol).cast("long").as("id"))
    val topk = new TopKAggregator(k)
    // udaf with a product input encoder flattens the case-class fields
    // into one argument per field
    scored.groupBy(col("_qid"))
      .agg(udaf(topk, Encoders.product[Candidate])
        .apply(col("score"), col("id")).as("neighbors"))
      .select(col("_qid").as("query_id"),
        posexplode(col("neighbors")).as(Seq("rank", "n")))
      .select(col("query_id"), (col("rank") + 1).as("rank"),
        col("n.id").as("neighbor_id"), round(col("n.score"), 6).as("score"))
  }

  /** LSH-pruned ANN: score only rows whose hyperplane sketch is within
    * `maxHammingProbe` bits of the query's sketch (multi-probe); falls
    * back to exact ranking within the pruned set. At cluster scale the
    * sketch comparison is a scan-local integer op — the scan prunes
    * before any vector math. */
  def lshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, numPlanes: Int = 16,
      maxHammingProbe: Int = 2, seed: Long = 42L): DataFrame = {
    val qBits = sketchOf(query, numPlanes, seed)
    val pruned = embeddings
      .withColumn("_bucket", GraftFunctions.hyperplaneLsh(col(vecCol), numPlanes, seed))
      .filter(bit_count(col("_bucket").bitwiseXOR(lit(qBits))) <= maxHammingProbe)
    cosineTopK(pruned, idCol, vecCol, query, k)
  }

  /** Deterministic sample of `nlist` vectors — the k-means seeds (and the
    * FAISS-style IVF training shortcut when `iters = 0`). */
  private def sampleCentroids(embeddings: DataFrame, idCol: String,
      vecCol: String, nlist: Int, seed: Long): Seq[Array[Float]] =
    embeddings
      .select(col(idCol).cast("long").as("_cid"), col(vecCol).as("_cv"))
      .orderBy(xxhash64(col("_cid"), lit(seed)))
      .limit(nlist)
      .collect()
      .map(_.getSeq[Float](1).toArray)
      .toSeq

  /** Lloyd k-means over the embedding column: deterministic seeds, then
    * `iters` assign→mean rounds. Each round is ONE distributed
    * aggregation — assignment is the codegen'd [[nearestCentroid]]
    * expression, the per-list mean a map-side-combining Aggregator, so
    * only nlist partial sums per partition enter the shuffle (never the
    * vectors themselves). Empty lists keep their previous centroid.
    */
  def kmeansCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, iters: Int = 5, seed: Long = 42L,
      precomputedPool: Option[Seq[Array[Float]]] = None)
      : Seq[Array[Float]] = {
    // farthest-point seeding over a small deterministic pool (k-means++
    // flavor, driver-side over ≤ 8·nlist vectors): two seeds never start
    // in the same tight cluster, the failure mode of plain sampling
    val pool = precomputedPool.getOrElse(
      sampleCentroids(embeddings, idCol, vecCol, nlist * 8, seed))
    var cents = farthestPointSeeds(pool, nlist)
    val mean = udaf(new VectorMeanAggregator,
      org.apache.spark.sql.GraftSqlShim.encoderOf[Array[Float]])
    for (_ <- 1 to iters) {
      val means = embeddings
        .select(nearestCentroid(col(vecCol), cents).as("_l"), col(vecCol).as("_v"))
        .groupBy(col("_l"))
        .agg(mean(col("_v")).as("_mean"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
        .toMap
      cents = cents.zipWithIndex.map { case (old, i) =>
        means.get(i).filter(_.nonEmpty).getOrElse(old)
      }
    }
    cents
  }

  /** IVF-flat index: assign every vector to its nearest of `nlist`
    * k-means centroids. The returned frame adds an `_ivf_list` column;
    * persist it with [[ivfWriteIndex]] so probes prune FILES, not rows —
    * the partition-pruning analogue for vector search, where LSH prunes
    * per-row and IVF prunes per-file.
    */
  def ivfIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, seed: Long = 42L,
      iters: Int = 2,
      precomputedPool: Option[Seq[Array[Float]]] = None)
      : (DataFrame, Seq[Array[Float]]) = {
    val centroids =
      if (iters <= 0) precomputedPool.map(_.take(nlist)).getOrElse(
        sampleCentroids(embeddings, idCol, vecCol, nlist, seed))
      else kmeansCentroids(embeddings, idCol, vecCol, nlist, iters, seed,
        precomputedPool)
    (embeddings.withColumn("_ivf_list", nearestCentroid(col(vecCol), centroids)),
      centroids)
  }

  /** The IVF index is a SNAPSHOT-LOG STORE TABLE (`path` is a one-table
    * warehouse holding table [[IndexTable]], identity-partitioned on
    * `_ivf_list`) — not raw parquet. That buys the index the same
    * transactional contract as every other table in the engine:
    * appends commit atomically (a probe never observes a
    * partially-visible append — files become readable only via the log
    * commit, never per-task rename), a crashed rebuild leaves the
    * previous index intact (overwrite stages first, commits last), and
    * history/time-travel/vacuum work unchanged. Centroids ride each
    * commit's summary map ([[CentroidsKey]]), so the (centroids, file
    * set) pair changes atomically — a rebuild can never publish new
    * centroids over old lists. nlist·dim floats ≈ 16 KB at the default
    * shape; for indexes where nlist·dim outgrows a log entry (≫ 1 MB),
    * promote centroids to their own store table and commit it first —
    * probes ranking against slightly-stale centroids only lose recall,
    * never correctness, because assignment rides the data commit. */
  private val IndexTable = "ivf"
  private val CentroidsKey = "ivf-centroids"
  private val QuantizedKey = "ivf-quantized"
  private val PqCodebooksKey = "ivf-pq-codebooks"

  private def indexStore(spark: org.apache.spark.sql.SparkSession,
      path: String): graft.store.TableStore =
    new graft.store.TableStore(new org.apache.hadoop.fs.Path(path), spark)

  /** The index snapshot a probe reads: the current one, or the one
    * `asOfSnapshotId` names (an unknown id raises). Centroids and file
    * set come from this one pin. */
  private def pinIndex(st: graft.store.TableStore,
      asOfSnapshotId: Option[Long]): graft.store.Pinned =
    st.pin(IndexTable, asOfSnapshotId.fold[graft.store.At](
      graft.store.At.Latest)(graft.store.At.Version), st.meta(IndexTable))

  /** Persist an IVF index at `path`: a store table identity-partitioned
    * by `_ivf_list` (one directory per list — the probe's pruning unit).
    * Vectors are co-located per list via `repartition(_ivf_list)` before
    * the write, so each list lands as a contiguous file set instead of
    * tasks × lists fragments. Rebuild on an existing index is a
    * `replace` commit: staged write first, log flip last — a concurrent
    * probe reads either the old index or the new one, never a mix, and
    * a crash mid-rebuild leaves the old index live. */
  def ivfWriteIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 16, iters: Int = 2,
      seed: Long = 42L): Seq[Array[Float]] = {
    val (indexed, centroids) =
      ivfIndex(embeddings, idCol, vecCol, nlist, seed, iters)
    val st = indexStore(embeddings.sparkSession, path)
    val df = indexed.repartition(col("_ivf_list"))
    if (!st.exists(IndexTable))
      st.create(IndexTable, df.schema,
        Some(graft.store.PartitionSpec("_ivf_list", "identity")))
    st.overwrite(IndexTable, df,
      extraSummary = Map(CentroidsKey -> centroidsJson(centroids)))
    centroids
  }

  /** QUANTIZED IVF index (FAISS's IVF-SQ8 analogue): same k-means
    * lists and transactional store backing as [[ivfWriteIndex]], but
    * the stored vectors are [[quantizeInt8]] codes + a per-vector
    * scale — the index is ~4× smaller on disk AND in probe I/O, which
    * at corpus scale is the difference between a probe that reads
    * 400 GB of lists and one that reads 100 GB. [[ivfProbe]] detects
    * the quantized layout from the commit summary and dequantizes
    * scan-locally inside the probe projection; reconstruction error is
    * bounded at scale/2 per element ([[quantizeInt8]]), far below any
    * meaningful cosine gap, so recall is indistinguishable from the
    * float index on separated data (oracle-gated with planted
    * neighbors). */
  def ivfWriteIndexQuantized(embeddings: DataFrame, idCol: String,
      vecCol: String, path: String, nlist: Int = 16, iters: Int = 2,
      seed: Long = 42L): Seq[Array[Float]] = {
    val (indexed, centroids) =
      ivfIndex(embeddings, idCol, vecCol, nlist, seed, iters)
    val st = indexStore(embeddings.sparkSession, path)
    val df = indexed
      .select(col(idCol), quantizeInt8(col(vecCol)).as("_q8"),
        col("_ivf_list"))
      .repartition(col("_ivf_list"))
    if (!st.exists(IndexTable))
      st.create(IndexTable, df.schema,
        Some(graft.store.PartitionSpec("_ivf_list", "identity")))
    st.overwrite(IndexTable, df,
      extraSummary = Map(CentroidsKey -> centroidsJson(centroids),
        QuantizedKey -> "true"))
    centroids
  }

  /** IVF-PQ index (FAISS's production composition, plus an SQ8 refine
    * channel): k-means lists prune FILES like every IVF variant here,
    * each stored row carries m PQ codes (the selection channel — ADC
    * reads m small ints per vector) AND the [[quantizeInt8]] codes (the
    * refine channel), so a probe scans codes only, never floats. PQ
    * codebooks ride the commit summary beside the coarse centroids —
    * every snapshot is self-describing, appends and time travel work
    * like the other layouts. Vectors encode raw (FAISS
    * `by_residual=false`); codebook size is capped so the summary JSON
    * stays log-friendly. */
  def ivfWriteIndexPq(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 16, m: Int = 4, ksub: Int = 16,
      iters: Int = 2, seed: Long = 42L): Seq[Array[Float]] = {
    // ONE seed pass feeds BOTH trainings: pool 0 is the coarse k-means
    // pool (hash seed `seed`), pools 1..m the PQ subspace pools
    // (`seed + j`) — each the prefix of the shared bounded pool, so
    // the sampled sequences are exactly what the separate passes drew.
    // The two trainings are INDEPENDENT (coarse Lloyd over full
    // vectors, PQ Lloyd over sub-vectors), so they run concurrently
    // (guide §2.6): the build's corpus passes drop from (1 + m) seed
    // scans + 2·iters sequential rounds to 1 seed scan + 2·iters
    // overlapped rounds.
    val poolK = math.max(nlist * 8, ksub * 8)
    val pools = seedPools(embeddings, idCol, vecCol,
      seed +: (0 until m).map(seed + _), poolK)
    val coarsePool = pools.head
    val pqPools = pools.tail.map(_.take(ksub * 8)).toVector
    val trained = graft.store.TableStore.inParallel(
      Seq[() => Either[Seq[Array[Float]], Seq[Seq[Array[Float]]]]](
        () => Left(
          if (iters <= 0) coarsePool.take(nlist)
          else kmeansCentroids(embeddings, idCol, vecCol, nlist, iters,
            seed, Some(coarsePool.take(nlist * 8)))),
        () => Right(pqTrain(embeddings, idCol, vecCol, m, ksub, iters,
          seed, Some(pqPools)))))(_.apply())
    val centroids = trained.collectFirst { case Left(c) => c }.get
    val codebooks = trained.collectFirst { case Right(cb) => cb }.get
    val indexed =
      embeddings.withColumn("_ivf_list", nearestCentroid(col(vecCol), centroids))
    val dsub = codebooks.head.head.length
    require(m * ksub * dsub <= 65536,
      s"PQ codebooks too large for the commit summary (m=$m ksub=$ksub dsub=$dsub)")
    val st = indexStore(embeddings.sparkSession, path)
    val df = pqEncode(indexed, vecCol, codebooks)
      .select(col(idCol), col("_pq_code"),
        quantizeInt8(col(vecCol)).as("_q8"), col("_ivf_list"))
      .repartition(col("_ivf_list"))
    if (!st.exists(IndexTable))
      st.create(IndexTable, df.schema,
        Some(graft.store.PartitionSpec("_ivf_list", "identity")))
    st.overwrite(IndexTable, df,
      extraSummary = Map(CentroidsKey -> centroidsJson(centroids),
        QuantizedKey -> "true",
        PqCodebooksKey -> codebooksJson(codebooks)))
    centroids
  }

  /** Probe an IVF-PQ index: rank `nprobe` lists by the coarse
    * centroids, ADC-score ONLY those lists' PQ codes (column-pruned —
    * the scan reads m ints per vector), take `refine` candidates via
    * TakeOrderedAndProject, then re-rank just the candidates by cosine
    * over their dequantized SQ8 channel (a broadcast semi-join back
    * into the same pruned lists). I/O ∝ nprobe/nlist of the CODES, the
    * trillion-vector serving shape. `vecCol` keeps the other probes'
    * signature; the stored codes stand in for the vector column. */
  def ivfProbePq(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, @annotation.unused vecCol: String,
      query: Array[Float], k: Int, nprobe: Int = 4, refine: Int = 0,
      asOfSnapshotId: Option[Long] = None): DataFrame = {
    val st = indexStore(spark, path)
    val pinned = pinIndex(st, asOfSnapshotId)
    val summary = pinned.summary
    val centroids = parseCentroids(summary, path)
    val codebooks = parseCodebooks(summary, path)
    val m = codebooks.size
    val dsub = codebooks.head.head.length
    val lists = centroids.zipWithIndex
      .map { case (c, i) => (cosine(query, c), i) }
      .sortBy(-_._1).take(nprobe).map(_._2)
    require(lists.nonEmpty, s"no probe lists in the index at $path")
    val pred = col("_ivf_list").isin(lists: _*)
    def pruned = st.scan(pinned, Some(pred))._1.filter(pred)
    val adc = (0 until m).map { j =>
      val qj = java.util.Arrays.copyOfRange(query, j * dsub, (j + 1) * dsub)
      val tab = codebooks(j).map { cw =>
        var d = 0.0; var i = 0
        while (i < dsub) { d += qj(i) * cw(i); i += 1 }
        d.toFloat
      }
      element_at(array(tab.toIndexedSeq.map(lit): _*),
        element_at(col("_pq_code"), j + 1) + 1)
    }.reduce(_ + _)
    val nCand = if (refine > 0) refine else k * 4
    val cand = pruned.select(col(idCol), adc.as("_adc"))
      .orderBy(col("_adc").desc, col(idCol))
      .limit(nCand)
    pruned
      .join(broadcast(cand.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol),
        GraftFunctions.cosineSim(dequantizeInt8(col("_q8")), lit(query))
          .as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  private def codebooksJson(cb: Seq[Seq[Array[Float]]]): String =
    cb.map(sub => sub.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")).mkString("[", ",", "]")

  private def parseCodebooks(summary: Map[String, String],
      path: String): Seq[Seq[Array[Float]]] = {
    val json = summary.getOrElse(PqCodebooksKey,
      throw new IllegalStateException(
        s"index at $path carries no PQ codebooks — build with ivfWriteIndexPq"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    import scala.jdk.CollectionConverters._
    node.elements().asScala.map(sub =>
      sub.elements().asScala.map(cw =>
        cw.elements().asScala.map(_.floatValue()).toArray).toSeq).toSeq
  }

  /** Incremental index maintenance: assign `newVectors` to the
    * PERSISTED centroids and append them under their lists — probes see
    * them immediately, with recall identical to a same-centroid rebuild
    * (assignment and probe both rank against the stored centroids, so
    * an appended vector is always in a list its probe path considers).
    *
    * Staleness contract: centroids are NOT retrained on append. The
    * index stays CORRECT under any drift — every vector sits in the
    * list of its nearest stored centroid — but if the appended
    * distribution drifts far from the trained one, lists grow
    * unbalanced and probe I/O degrades toward scanning big lists;
    * rebuild with [[ivfWriteIndex]] when imbalance shows (at 100 TB:
    * appends are cheap daily maintenance, retraining is the scheduled
    * compaction-scale job). Raises if `path` holds no index. */
  def ivfAppend(newVectors: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val st = indexStore(newVectors.sparkSession, path)
    val summary = st.currentSummary(IndexTable)
    val centroids = parseCentroids(summary, path)
    val quantized = summary.get(QuantizedKey).contains("true")
    val pq = summary.contains(PqCodebooksKey)
    val assigned = newVectors
      .withColumn("_ivf_list", nearestCentroid(col(vecCol), centroids))
    // a quantized/PQ index encodes its appends too — the layout is a
    // table property, not a per-write choice
    val payload =
      if (pq) pqEncode(assigned, vecCol, parseCodebooks(summary, path))
        .select(col(idCol), col("_pq_code"),
          quantizeInt8(col(vecCol)).as("_q8"), col("_ivf_list"))
      else if (quantized) assigned.select(col(idCol),
        quantizeInt8(col(vecCol)).as("_q8"), col("_ivf_list"))
      else assigned
    // the append COMMIT is what publishes the rows: a crash after the
    // staged write leaves orphan files no probe can see. Centroids are
    // carried forward in the summary so every snapshot (incl. time
    // travel) is self-describing.
    st.append(IndexTable, payload.repartition(col("_ivf_list")),
      extraSummary = Map(CentroidsKey -> centroidsJson(centroids)) ++
        (if (quantized) Map(QuantizedKey -> "true") else Map.empty) ++
        (if (pq) Map(PqCodebooksKey -> summary(PqCodebooksKey)) else Map.empty))
  }

  /** Probe a persisted IVF index: rank the `nprobe` lists nearest the
    * query and read ONLY their files — identity-partition pruning from
    * log metadata (no directory listing, no footer opens for skipped
    * lists). I/O scales with nprobe/nlist of the index, independent of
    * total index size — the property the in-memory `ivfTopK` row filter
    * cannot give at 100 TB. The snapshot resolve makes the probe
    * transactional: it sees exactly one committed (centroids, file-set)
    * pair even while a rebuild or append races it. */
  def ivfProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, query: Array[Float], k: Int,
      nprobe: Int = 4, asOfSnapshotId: Option[Long] = None): DataFrame = {
    val st = indexStore(spark, path)
    // centroids and file set come from the SAME snapshot — current or
    // pinned: an as-of probe ranks lists with the centroids of its time
    // (a rebuild may have moved them), the store backing's time-travel
    // dividend ("what did this query return before yesterday's append?")
    val pinned = pinIndex(st, asOfSnapshotId)
    val summary = pinned.summary
    val centroids = parseCentroids(summary, path)
    val lists = centroids.zipWithIndex
      .map { case (c, i) => (cosine(query, c), i) }
      .sortBy(-_._1).take(nprobe).map(_._2)
    require(lists.nonEmpty, s"no probe lists in the index at $path")
    val pred = col("_ivf_list").isin(lists: _*)
    val raw = st.scan(pinned, Some(pred))._1.filter(pred)
    // quantized layout (ivfWriteIndexQuantized): dequantize inside the
    // probe projection — scan-local, codegen'd, only the pruned lists
    val frame =
      if (summary.get(QuantizedKey).contains("true"))
        raw.withColumn(vecCol, dequantizeInt8(col("_q8")))
      else raw
    cosineTopK(frame, idCol, vecCol, query, k)
  }

  private def centroidsJson(centroids: Seq[Array[Float]]): String =
    centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Centroids of the CURRENT committed index snapshot. Raises loudly
    * when `path` holds no committed index — a silent empty index would
    * turn every probe into a wrong empty answer. */
  def readCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Array[Float]] =
    parseCentroids(indexStore(spark, path).currentSummary(IndexTable), path)

  private def parseCentroids(summary: Map[String, String],
      path: String): Seq[Array[Float]] = {
    val json = summary.getOrElse(CentroidsKey, throw new IllegalStateException(
      s"no committed IVF index at $path (missing '$CentroidsKey' in the " +
        "snapshot summary) — build one with ivfWriteIndex"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    import scala.jdk.CollectionConverters._
    node.elements().asScala.map(arr =>
      arr.elements().asScala.map(_.floatValue()).toArray).toSeq
  }

  /** Nearest-centroid id as a codegen-friendly expression: one cosine
    * per centroid, argmax via `greatest` over (score, id) structs.
    * Ties (e.g. two IDENTICAL vectors) resolve to the highest centroid
    * id for both — deterministic, so exact-copy rows always land in the
    * same cluster (the property [[Dedup.semanticNearDuplicates]]'s
    * oracle leans on). */
  private[ext] def nearestCentroid(vec: Column, centroids: Seq[Array[Float]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(GraftFunctions.cosineSim(vec, lit(c)).as("s"), lit(i).as("c"))
    }
    greatest(scored: _*).getField("c")
  }

  /** Distributed k-NN JOIN: for EVERY row of `left`, the `k` nearest
    * rows of `right` by cosine — the batch retrieval shape (RAG corpus
    * linking, embedding-based labeling, RETRO-style neighbor fetch)
    * where BOTH sides are large, so neither is broadcast (that is
    * [[cosineTopKForQueries]]'s regime, which collects the query side).
    *
    * Plan shape at 100 TB: `right` is assigned to its nearest of
    * `nlist` k-means centroids (one scan-local codegen'd expression);
    * each `left` row fans out to its `nprobe` nearest lists
    * (scan-local, array expressions over broadcast-literal centroids).
    * The only shuffle is a key-equality join on the list id — right
    * ships once, left ships nprobe copies — and the per-query
    * [[TopKAggregator]] bounds the post-join shuffle at
    * O(k · partitions) rows per query via map-side combine. Nothing is
    * ever all-pairs, and no vector set is collected to the driver.
    *
    * `nprobe = nlist` probes every list: the join becomes EXACT
    * brute-force k-NN (the verification baseline — the correctness
    * oracle runs this mode); `nprobe < nlist` is the ANN scale mode
    * whose recall the spec gates against the exact mode. Output:
    * (query_id, rank, neighbor_id, score). */
  def knnJoin(left: DataFrame, lidCol: String, lvecCol: String,
      right: DataFrame, ridCol: String, rvecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 2,
      seed: Long = 42L): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe must be in [1, nlist=$nlist] (got $nprobe)")
    val centroids = kmeansCentroids(right, ridCol, rvecCol, nlist, iters, seed)
    val r = right.select(col(ridCol).cast("long").as("id"), col(rvecCol).as("_rv"))
      .withColumn("_list", nearestCentroid(col("_rv"), centroids))
    // per-left-row probe lists: rank all centroids by cosine DESC and
    // keep nprobe — array_sort orders (score, id) structs ascending, so
    // reverse gives the descending head. Pure scan-local expressions.
    val scoredLists = centroids.zipWithIndex.map { case (c, i) =>
      struct(GraftFunctions.cosineSim(col("_lv"), lit(c)).as("s"),
        lit(i).as("c"))
    }
    val probes = slice(reverse(array_sort(array(scoredLists: _*))), 1, nprobe)
    val l = left.select(col(lidCol).as("_qid"), col(lvecCol).as("_lv"))
      .withColumn("_list", explode(transform(probes, p => p.getField("c"))))
    val scored = l.join(r, Seq("_list"))
      .select(col("_qid"),
        GraftFunctions.cosineSim(col("_lv"), col("_rv")).as("score"),
        col("id"))
    val topk = new TopKAggregator(k)
    scored.groupBy(col("_qid"))
      .agg(udaf(topk, Encoders.product[Candidate])
        .apply(col("score"), col("id")).as("neighbors"))
      .select(col("_qid").as("query_id"),
        posexplode(col("neighbors")).as(Seq("rank", "n")))
      .select(col("query_id"), (col("rank") + 1).as("rank"),
        col("n.id").as("neighbor_id"), round(col("n.score"), 6).as("score"))
  }

  /** [[knnJoin]] against a PERSISTED index ([[ivfWriteIndex]] or the
    * quantized [[ivfWriteIndexQuantized]]): the k-means training and
    * the corpus-side list assignment are amortized across every join —
    * the train-once/join-many shape of a production retrieval system.
    * Left rows fan out to their nprobe nearest stored centroids and
    * key-equality join the index rows (dequantized scan-locally when
    * the layout is SQ8); the bounded per-query heap caps post-join
    * volume exactly like the in-memory form. */
  def knnJoinWithIndex(left: DataFrame, lidCol: String, lvecCol: String,
      path: String, idCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    val spark = left.sparkSession
    val st = indexStore(spark, path)
    val summary = st.currentSummary(IndexTable)
    val centroids = parseCentroids(summary, path)
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe must be in [1, nlist=${centroids.size}] (got $nprobe)")
    val raw = st.read(IndexTable)
    val r0 =
      if (summary.get(QuantizedKey).contains("true"))
        raw.withColumn("_rv", dequantizeInt8(col("_q8")))
      else raw.withColumnRenamed(
        raw.columns.find(c => c != idCol && c != "_ivf_list" && c != "_q8")
          .getOrElse(throw new IllegalStateException(
            s"cannot find the vector column of the index at $path")), "_rv")
    val r = r0.select(col(idCol).cast("long").as("id"), col("_rv"),
      col("_ivf_list").as("_list"))
    val scoredLists = centroids.zipWithIndex.map { case (c, i) =>
      struct(GraftFunctions.cosineSim(col("_lv"), lit(c)).as("s"),
        lit(i).as("c"))
    }
    val probes = slice(reverse(array_sort(array(scoredLists: _*))), 1, nprobe)
    val l = left.select(col(lidCol).as("_qid"), col(lvecCol).as("_lv"))
      .withColumn("_list", explode(transform(probes, p => p.getField("c"))))
    val scored = l.join(r, Seq("_list"))
      .select(col("_qid"),
        GraftFunctions.cosineSim(col("_lv"), col("_rv")).as("score"),
        col("id"))
    val topk = new TopKAggregator(k)
    scored.groupBy(col("_qid"))
      .agg(udaf(topk, Encoders.product[Candidate])
        .apply(col("score"), col("id")).as("neighbors"))
      .select(col("_qid").as("query_id"),
        posexplode(col("neighbors")).as(Seq("rank", "n")))
      .select(col("query_id"), (col("rank") + 1).as("rank"),
        col("n.id").as("neighbor_id"), round(col("n.score"), 6).as("score"))
  }

  /** IVF-pruned top-k: score only the `nprobe` lists nearest to the
    * query. Exact ranking within the probed lists (IVF-flat). */
  def ivfTopK(indexed: DataFrame, centroids: Seq[Array[Float]],
      idCol: String, vecCol: String, query: Array[Float], k: Int,
      nprobe: Int = 4): DataFrame = {
    val probeLists = centroids.zipWithIndex
      .map { case (c, i) => (cosine(query, c), i) }
      .sortBy(-_._1).take(nprobe).map(_._2)
    cosineTopK(indexed.filter(col("_ivf_list").isin(probeLists: _*)),
      idCol, vecCol, query, k)
  }

  /** Greedy farthest-point selection by cosine distance: start from the
    * pool head, repeatedly take the vector farthest from every chosen
    * seed. Deterministic; O(pool · nlist) driver work on tiny inputs. */
  private def farthestPointSeeds(pool: Seq[Array[Float]],
      nlist: Int): Seq[Array[Float]] = {
    if (pool.size <= nlist) return pool
    val chosen = scala.collection.mutable.ArrayBuffer(pool.head)
    while (chosen.size < nlist) {
      val next = pool.maxBy(v => chosen.map(c => 1.0 - cosine(v, c)).min)
      chosen += next
    }
    chosen.toSeq
  }

  /** Driver-side cosine (query vs centroid — tiny). */
  // ---- Product quantization (FAISS PQ / ADC) -----------------------

  /** Train product-quantization codebooks: the D-dim space splits into
    * `m` subspaces of D/m dims, each fitted with its own `ksub`-way
    * k-means over the corpus's sub-vectors (the SAME seeded Lloyd loop
    * the IVF index uses — one distributed aggregation per round, only
    * centroid partial sums shuffle). A vector then encodes as m small
    * codes (m bytes at ksub=256) instead of 4·D bytes — the compressed
    * form a trillion-vector corpus actually stores; IVF-SQ8 is 4×
    * smaller than float, PQ is 4·D/m×. */
  /** All requested seed pools in ONE corpus pass: pool i is the poolK
    * FULL vectors with the smallest xxhash64(id, seeds(i)), ascending —
    * the exact sequences the former independent per-seed
    * orderBy(hash).limit(poolK) TakeOrdered passes drew (the hash
    * depends only on the id; ids break the hash ties 64-bit hashes
    * never produce at pool size). One bounded-heap scan
    * ([[seedPoolPartials]]) replaces seeds.size corpus scans — the difference between reading
    * 100 TB once and m times. A caller needing a SMALLER pool for some
    * seed takes a prefix: the ascending smallest-K list's prefix IS the
    * smallest-K' list. */
  private[ext] def seedPools(embeddings: DataFrame, idCol: String,
      vecCol: String, seeds: Seq[Long],
      poolK: Int): Vector[Seq[Array[Float]]] = {
    val m = seeds.size
    // ONE job, ONE stage: each partition folds its rows into m bounded
    // heaps and emits its ≤ m·poolK surviving (pool, hash, id, vector)
    // entries; the driver merges the partials (same (hash, id) ascending
    // order, take poolK). A full .agg() spelling paid a second stage
    // behind a single-partition exchange plus the udaf machinery —
    // ~0.15 s of pure fixed cost per training call at bench scale
    // (measured; see OPTIMIZATION_r22.md, SeedPoolAggregator) for no
    // scan saved; this form has the same per-job shape as one
    // TakeOrdered, while still reading the corpus ONCE for all m pools.
    val partials = seedPoolPartials(embeddings, idCol, vecCol, seeds, poolK)
      .collect()
    val byPool = partials.groupBy(_._1)
    Vector.tabulate(m)(j =>
      byPool.getOrElse(j, Array.empty).toSeq
        .sortBy(e => (e._2, e._3))
        .take(poolK)
        .map(_._4))
  }

  /** The one-pass per-partition pool fold as a frame (the plan-evidence
    * seam — [[seedPools]] collects and driver-merges its bounded
    * output). Pool j keeps the poolK rows with the smallest
    * (hash_j, id) in a max-heap on that pair: a row that does not
    * qualify costs one comparison with the heap's head, one that does
    * costs O(log poolK), and nothing is copied. Each pool is emitted in
    * ascending (hash, id) order. */
  private[ext] def seedPoolPartials(embeddings: DataFrame, idCol: String,
      vecCol: String, seeds: Seq[Long],
      poolK: Int): org.apache.spark.sql.Dataset[(Int, Long, Long, Array[Float])] = {
    import org.apache.spark.sql.GraftSqlShim.encoderOf
    val m = seeds.size
    val hashCols = array(seeds.map(s0 =>
      xxhash64(col(idCol).cast("long"), lit(s0))): _*)
    // explicit projection BEFORE the opaque mapPartitions, so the scan
    // reads only (id, vector) — guide §2.3
    val proj = embeddings
      .select(col(idCol).cast("long").as("_cid"), hashCols.as("_h"),
        col(vecCol).as("_cv"))
    implicit val inEnc = encoderOf[(Long, Array[Long], Array[Float])]
    implicit val outEnc = encoderOf[(Int, Long, Long, Array[Float])]
    proj.as[(Long, Array[Long], Array[Float])].mapPartitions { it =>
      // (hash, id, vector), largest (hash, id) at the head
      type E = (Long, Long, Array[Float])
      val byHashId: Ordering[E] = (a, b) => {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
      val heaps = Array.fill(m)(
        new java.util.PriorityQueue[E](poolK + 1, byHashId.reverse))
      it.foreach { case (id, hashes, vec) =>
        var j = 0
        while (j < m) {
          val h = heaps(j)
          val top = h.peek()
          if (h.size < poolK) h.add((hashes(j), id, vec))
          else if (hashes(j) < top._1 || (hashes(j) == top._1 && id < top._2)) {
            h.poll(); h.add((hashes(j), id, vec))
          }
          j += 1
        }
      }
      Iterator.tabulate(m) { j =>
        heaps(j).toArray(new Array[E](0)).sorted(byHashId).iterator
          .map(e => (j, e._1, e._2, e._3))
      }.flatten
    }
  }

  def pqTrain(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int = 4, ksub: Int = 16, iters: Int = 3,
      seed: Long = 42L,
      precomputedPools: Option[Vector[Seq[Array[Float]]]] = None)
      : Seq[Seq[Array[Float]]] = {
    // Seed pools: the per-subspace hash ordering depends only on the id
    // (xxhash64(id, seed+j)), so sampling FULL vectors and slicing
    // driver-side reproduces exactly the pools the former per-subspace
    // sub-frame scans drew — and [[seedPools]] collects all m pools in
    // ONE bounded-heap aggregation pass instead of m TakeOrdered corpus
    // scans (guide §1.2); the dim probe reads a pooled vector instead
    // of its own job.
    val pools = precomputedPools.getOrElse(
      seedPools(embeddings, idCol, vecCol, (0 until m).map(seed + _),
        ksub * 8))
    require(pools.head.nonEmpty, "pqTrain needs a non-empty embedding frame")
    val dim = pools.head.head.length
    require(dim % m == 0, s"embedding dim $dim is not divisible by m=$m")
    val dsub = dim / m
    def subOf(v: Array[Float], j: Int): Array[Float] =
      java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)
    var cents: IndexedSeq[Seq[Array[Float]]] = (0 until m).map(j =>
      farthestPointSeeds(pools(j).map(subOf(_, j)), ksub))
    // All m subspaces train in ONE distributed aggregation per Lloyd
    // round (the former spelling looped kmeansCentroids per subspace —
    // m×iters corpus passes). Each row explodes into m (subspace,
    // label, sub-vector) triples; the map-side-combining mean keyed by
    // (subspace, label) shuffles ≤ m·ksub partial sums per partition,
    // never the vectors. Per-group input rows and their order are
    // unchanged vs the per-subspace loop, so the learned codebooks are
    // the same (subspaces are independent; interleaving their
    // iterations changes nothing).
    val mean = udaf(new VectorMeanAggregator,
      org.apache.spark.sql.GraftSqlShim.encoderOf[Array[Float]])
    for (_ <- 1 to iters) {
      val frozen = cents
      val subs = (0 until m).map { j =>
        val sub = slice(col(vecCol), j * dsub + 1, dsub)
        struct(lit(j).as("_j"), nearestCentroid(sub, frozen(j)).as("_l"),
          sub.as("_v"))
      }
      val means = embeddings
        .select(explode(array(subs: _*)).as("_s"))
        .groupBy(col("_s._j").as("_j"), col("_s._l").as("_l"))
        .agg(mean(col("_s._v")).as("_mean"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray)
        .toMap
      cents = (0 until m).map { j =>
        frozen(j).zipWithIndex.map { case (old, i) =>
          means.get((j, i)).filter(_.nonEmpty).getOrElse(old)
        }
      }
    }
    cents
  }

  /** Encode every vector as its per-subspace nearest-codeword indices
    * (`_pq_code`, array of m small ints) — a scan-local codegen'd
    * projection, no shuffle. */
  def pqEncode(df: DataFrame, vecCol: String,
      codebooks: Seq[Seq[Array[Float]]]): DataFrame = {
    val m = codebooks.size
    val dsub = codebooks.head.head.length
    val codes = (0 until m).map(j =>
      nearestCentroid(slice(col(vecCol), j * dsub + 1, dsub), codebooks(j)))
    df.withColumn("_pq_code", array(codes: _*))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes, with exact
    * re-ranking: the query precomputes one m×ksub inner-product table
    * on the driver, every encoded row scores by m table lookups (pure
    * built-in `element_at` arithmetic — whole-stage codegen, never
    * touching the original vectors), `refine` ADC candidates come back
    * via TakeOrderedAndProject, and the final top-k re-ranks those few
    * rows by exact cosine. Selection cost is ∝ corpus codes (m
    * bytes/vector read), exact math only on the candidate set — the
    * standard PQ serving shape. */
  def pqTopKAdc(encoded: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], codebooks: Seq[Seq[Array[Float]]],
      k: Int, refine: Int = 0): DataFrame = {
    val m = codebooks.size
    val dsub = codebooks.head.head.length
    val nCand = if (refine > 0) refine else k * 4
    // per-subspace lookup tables: table(j)(c) = <query_j, codeword_c>
    val adc = (0 until m).map { j =>
      val qj = java.util.Arrays.copyOfRange(query, j * dsub, (j + 1) * dsub)
      val tab = codebooks(j).map { cw =>
        var d = 0.0; var i = 0
        while (i < dsub) { d += qj(i) * cw(i); i += 1 }
        d.toFloat
      }
      element_at(array(tab.toIndexedSeq.map(lit): _*),
        element_at(col("_pq_code"), j + 1) + 1)
    }.reduce(_ + _)
    val cand = encoded
      .select(col(idCol), col(vecCol), adc.as("_adc"))
      .orderBy(col("_adc").desc, col(idCol))
      .limit(nCand)
    cand
      .select(col(idCol),
        GraftFunctions.cosineSim(col(vecCol), lit(query)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Driver-side sketch of one query vector (same bit function the
    * executors apply via [[graft.functions.HyperplaneLsh]]). */
  def sketchOf(vec: Array[Float], numPlanes: Int, seed: Long): Long = {
    var bits = 0L
    var p = 0
    while (p < numPlanes) {
      var dot = 0.0; var i = 0
      while (i < vec.length) {
        dot += vec(i) * graft.functions.HyperplaneLsh.component(seed, p, i); i += 1
      }
      if (dot >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }
}

/** Element-wise mean of `Array[Float]` vectors with map-side combine:
  * the buffer is one (sum, count) per partition, so a k-means round
  * shuffles nlist × partitions buffers, never vectors. */
final class VectorMeanAggregator
    extends Aggregator[Array[Float], (Array[Double], Long), Array[Float]] {

  override def zero: (Array[Double], Long) = (Array.empty[Double], 0L)

  override def reduce(b: (Array[Double], Long),
      v: Array[Float]): (Array[Double], Long) = {
    val sum = if (b._1.isEmpty) new Array[Double](v.length) else b._1
    var i = 0
    while (i < v.length && i < sum.length) { sum(i) += v(i); i += 1 }
    (sum, b._2 + 1)
  }

  override def merge(a: (Array[Double], Long),
      b: (Array[Double], Long)): (Array[Double], Long) = {
    if (a._1.isEmpty) b
    else if (b._1.isEmpty) a
    else {
      var i = 0
      while (i < a._1.length && i < b._1.length) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
  }

  override def finish(r: (Array[Double], Long)): Array[Float] =
    if (r._2 == 0) Array.empty[Float]
    else r._1.map(s => (s / r._2).toFloat)

  override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Double], Long)] =
    org.apache.spark.sql.GraftSqlShim.encoderOf[(Array[Double], Long)]
  override def outputEncoder: org.apache.spark.sql.Encoder[Array[Float]] =
    org.apache.spark.sql.GraftSqlShim.encoderOf[Array[Float]]
}

final case class Candidate(score: Double, id: Long)

/** Bounded top-k aggregator over a sorted buffer: partial aggregation keeps
  * at most k candidates per partition (map-side combine), so the shuffle
  * carries O(k · partitions) rows per group — the piece that makes
  * broadcast-join ANN viable at 100 TB. Rejection is one comparison;
  * a qualifying row is a binary-search insert, never a re-sort. */
final class TopKAggregator(k: Int)
    extends Aggregator[Candidate, Seq[Candidate], Seq[Candidate]] {

  override def zero: Seq[Candidate] = Vector.empty

  // buf invariant: sorted by (-score, id); `last` is the current worst
  private def beats(c: Candidate, w: Candidate): Boolean =
    c.score > w.score || (c.score == w.score && c.id < w.id)

  /** Binary-search insert preserving the sort invariant: O(log k)
    * comparisons + one O(k) vector patch — no re-sort per row. */
  private def insertSorted(buf: Seq[Candidate], c: Candidate): Seq[Candidate] = {
    val v = buf.toVector
    var lo = 0
    var hi = v.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (beats(v(mid), c)) lo = mid + 1 else hi = mid
    }
    (v.take(lo) :+ c) ++ v.drop(lo)
  }

  private def push(buf: Seq[Candidate], c: Candidate): Seq[Candidate] =
    if (buf.size < k) insertSorted(buf, c)
    else if (beats(c, buf.last)) insertSorted(buf.dropRight(1), c)
    else buf // common case: one comparison, zero allocation

  override def reduce(buf: Seq[Candidate], c: Candidate): Seq[Candidate] = push(buf, c)

  /** Linear two-pointer merge of two sorted buffers — O(k), not O(k log k). */
  override def merge(a: Seq[Candidate], b: Seq[Candidate]): Seq[Candidate] = {
    val out = Vector.newBuilder[Candidate]
    var i = 0
    var j = 0
    var n = 0
    while (n < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length && beats(a(i), b(j)))
      if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  override def finish(r: Seq[Candidate]): Seq[Candidate] = r

  override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[Candidate]] =
    org.apache.spark.sql.GraftSqlShim.encoderOf[Seq[Candidate]]
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Candidate]] =
    org.apache.spark.sql.GraftSqlShim.encoderOf[Seq[Candidate]]
}
