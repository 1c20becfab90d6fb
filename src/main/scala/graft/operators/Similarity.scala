package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import graft.Spread
import graft.functions.VectorOps

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.10 L3).
  *
  * Three tiers:
  *  - [[exactTopK]]: exact, O(n·m) pairs scored by one primitive-array
  *    kernel, streaming the queries — the correctness baseline and oracle
  *    shape; [[scalableTopK]] runs the same kernel streaming the corpus.
  *  - [[lshTopK]]: random-hyperplane LSH — candidates limited to the query's
  *    bucket, sub-linear probe cost, recall < 1 (measured in tests).
  *  - [[ivfTopK]]: inverted-file with coarse centroids — probe the nProbe
  *    nearest cells only; the standard billion-scale layout.
  */
object Similarity {

  /** (`prefix`_id, `prefix`v as array<double>, `prefix`n its norm), after
    * the `keep` columns: the vector projection every scored path joins. */
  private[operators] def prepared(df: DataFrame, idCol: String, vecCol: String, prefix: String,
      keep: Column*): DataFrame =
    df.select(keep :+ col(idCol).as(s"${prefix}_id") :+
        VectorOps.asDouble(col(vecCol)).as(s"${prefix}v"): _*)
      .withColumn(s"${prefix}n", VectorOps.norm(col(s"${prefix}v")))

  /** (id as long, vector as array<double>) — the kernel's input rows. */
  private def vectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long"), VectorOps.asDouble(col(vecCol)))

  private def integralId(df: DataFrame, idCol: String): DataType = {
    val t = df.schema(idCol).dataType
    require(t == LongType || t == IntegerType,
      s"exact top-k id '$idCol' must be integral, got $t (the kernel packs ids as long)")
    t
  }

  /** The one ranking order of every vector path: per `key`, `score` DESC
    * NULLS LAST (NaN greatest, so a zero-norm vector's NULL cosine comes
    * last), then `id` ASC — the best `n` rows, numbered 1..n in `rank`. */
  private[operators] def rankPerKey(df: DataFrame, key: String, score: String, id: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(score).desc_nulls_last, col(id).asc)
    df.withColumn("rank", row_number().over(w)).where(col("rank") <= n)
  }

  /** The exact last step of every candidate path: each row of `pairs`
    * holds a query's and a candidate's [[prepared]] columns (q_id, qv, qn,
    * c_id, cv, cn); scored by [[VectorOps.cosine]], the best k per query
    * come out as (vec_id, rank, nn_id, cosine). */
  private[operators] def exactReRank(pairs: DataFrame, k: Int): DataFrame =
    rankPerKey(pairs.select(col("q_id"), col("c_id"),
        VectorOps.cosine(VectorOps.dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine")),
      "q_id", "cosine", "c_id", k)
      .select(col("q_id").as("vec_id"), col("rank"), col("c_id").as("nn_id"), col("cosine"))

  /** [[exactReRank]] of candidate (q_id, c_id) pairs joined to both
    * [[prepared]] vector frames. */
  private[operators] def exactReRank(cand: DataFrame, q: DataFrame, c: DataFrame,
      k: Int): DataFrame =
    exactReRank(cand.join(q, "q_id").join(c, "c_id"), k)

  private def withIdTypes(df: DataFrame, qType: DataType, cType: DataType): DataFrame =
    df.select(col("vec_id").cast(qType).as("vec_id"), col("rank"),
      col("nn_id").cast(cType).as("nn_id"), col("cosine"))

  /** Exact top-k cosine neighbours of each row of `queries` among the rows
    * of `corpus`: (vec_id, rank, nn_id, cosine). A pair never matches a row
    * with itself (same id), and a null id never pairs.
    *
    * One plan node ([[CosineTopK]]): the corpus reaches every task through
    * Spark's own broadcast exchange and is packed into primitive arrays
    * ([[VectorBlock]]) once per task; each query partition
    * ([[graft.Spread.ifNarrow]] is the only parallelism rule) is scored
    * against it by [[CosineKernel]], which keeps a bounded top-k per query
    * — no scored pair becomes a row. The frame is lazy: nothing runs until
    * it is executed. Cosines are bit-identical to [[VectorOps.cosine]],
    * including its null cases: a zero-norm vector's cosine is NULL in both
    * ANSI modes.
    *
    * When `queries eq corpus` the node's ranks are final, query ids held by
    * several rows included; otherwise a window over at most k candidates
    * per query row merges rows that share a query id. */
  def exactTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val (cType, qType) = (integralId(corpus, idCol), integralId(queries, idCol))
    val self = queries eq corpus
    val scored = topKFrame(k, queriesStreamed = true, self,
      Spread.ifNarrow(vectors(queries, idCol, vecCol)), vectors(corpus, idCol, vecCol))
    withIdTypes(if (self) scored else rankPerKey(scored, "vec_id", "cosine", "nn_id", k),
      qType, cType)
  }

  /** Exact top-k with the cluster-scale orientation: the (small) query side
    * is broadcast, the corpus streams, and each corpus partition is scored
    * by the same [[CosineKernel]] as [[exactTopK]] — a partition emits at
    * most k candidates per query row, so the shuffle carries
    * O(queries × k × partitions) rows, merged per query id in the kernel's
    * order. Results identical to [[exactTopK]]. */
  def scalableTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val (cType, qType) = (integralId(corpus, idCol), integralId(queries, idCol))
    val scored = topKFrame(k, queriesStreamed = false, selfSearch = false,
      Spread.ifNarrow(vectors(corpus, idCol, vecCol)), vectors(queries, idCol, vecCol))
    withIdTypes(rankPerKey(scored, "vec_id", "cosine", "nn_id", k), qType, cType)
  }

  private def topKFrame(k: Int, queriesStreamed: Boolean, selfSearch: Boolean,
      streamed: DataFrame, broadcast: DataFrame): DataFrame =
    Bridge.ofRows(streamed.sparkSession, CosineTopK(k, queriesStreamed, selfSearch,
      Bridge.logicalPlan(streamed), Bridge.logicalPlan(broadcast)))

  /** Recall accounting for an ANN tier, as a single-row count frame: every
    * brute-force top-k pair left-joined against the ANN pairs — `queries`
    * distinct query vectors, `pairs` ground-truth pairs, `hits` of them the
    * ANN result recovered. All integers (hash-stable across engines); the
    * recall ratio is hits/pairs. Scale shape: one equi-join on
    * (vec_id, nn_id) + one aggregation — no pairwise work beyond what the
    * two inputs already did. */
  def recallCounts(ann: DataFrame, brute: DataFrame): DataFrame =
    brute.select(col("vec_id"), col("nn_id"))
      .join(ann.select(col("vec_id"), col("nn_id")).withColumn("hit", lit(1)),
        Seq("vec_id", "nn_id"), "left")
      .agg(
        countDistinct(col("vec_id")).cast("long").as("queries"),
        count(lit(1)).as("pairs"),
        coalesce(sum(col("hit")), lit(0)).cast("long").as("hits"))

  /** [[recallCounts]] reduced to a THRESHOLD gate: (queries, pairs,
    * recall_ok) where recall_ok ⇔ hits/pairs ≥ minRecall — the driver-
    * visible contract for approximate tiers. Unlike a committed hit
    * constant, the gate survives a testdata regeneration: the threshold is
    * a design parameter of the tier (with margin below its measured
    * recall), not a pin of one dataset's exact hit count. Compared in
    * exact integers (hits·10⁶ ≥ ⌊minRecall·10⁶⌋·pairs) so the boolean is
    * bit-stable across engines and layouts. */
  def recallGate(ann: DataFrame, brute: DataFrame, minRecall: Double): DataFrame =
    recallCounts(ann, brute).select(
      col("queries"), col("pairs"),
      (col("hits") * lit(1000000L) >=
        lit(math.round(minRecall * 1e6)) * col("pairs")).as("recall_ok"))

  /** Deterministic pseudo-random hyperplane weight in [-1, 1): seeded by
    * (table, plane, dim) through xxhash64 — reproducible across runs and
    * cluster sizes. */
  private def planeWeight(tbl: Column, p: Column, d: Column): Column =
    (pmod(xxhash64(lit("graft-lsh-plane"), tbl, p, d), lit(2000000)).cast("double") / 1000000.0) - 1.0

  /** Bucket id = sign bits of the vector against `nPlanes` hyperplanes of
    * hash table `tbl`. */
  def lshBucket(vec: Column, nPlanes: Int, tbl: Column): Column = {
    val bitVals = transform(
      sequence(lit(0), lit(nPlanes - 1)),
      p => {
        val dotP = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1), (x, d) => x * planeWeight(tbl, p, d)),
          lit(0.0), (acc, x) => acc + x)
        when(dotP >= 0, pow(lit(2.0), p)).otherwise(lit(0.0))
      })
    aggregate(bitVals, lit(0.0), (acc, x) => acc + x).cast("long")
  }

  /** ANN via multi-table hyperplane LSH: candidates are pairs sharing a
    * bucket in ANY of the `nTables` independent tables (the standard recall
    * lever), then exact-cosine re-ranked. Sub-quadratic: the pair join is
    * equi on (table, bucket). Recall measured vs [[exactTopK]] in the
    * test suite (not oracle-checked — approximate by design). */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, nTables: Int = 4): DataFrame = {
    // materialize before reuse: `buckets` sits on BOTH sides of the
    // candidate self-join and `e` is read again for the re-rank — without
    // the checkpoints Spark recomputes the nTables×nPlanes×dim bucket pass
    // (interpreted HOFs, the dominant cost) up to 3×
    val e = prepared(corpus, idCol, vecCol, "q").localCheckpoint()
    val buckets = e
      .select(col("q_id"), col("qv"), explode(sequence(lit(0), lit(nTables - 1))).as("tbl"))
      .select(col("q_id"), col("tbl"), lshBucket(col("qv"), nPlanes, col("tbl")).as("bucket"))
      .localCheckpoint()
    val cand = buckets.join(
        buckets.select(col("q_id").as("c_id"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
      .distinct()
    exactReRank(cand, e, prepared(corpus, idCol, vecCol, "c"), k)
  }

  /** Elementwise mean vector per cell key (posexplode → avg → re-assemble;
    * one shuffle on (key, pos), one on key). */
  def centroids(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    df.select(col(keyCol), posexplode(VectorOps.asDouble(col(vecCol))))
      .groupBy(col(keyCol), col("pos"))
      .agg(avg(col("col")).as("m"))
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col(keyCol), transform(col("pm"), x => x.getField("m")).as("centroid"))

  /** Lloyd's k-means over the vector column — pure DataFrame ops, so it
    * scales like any aggregation: per iteration one broadcast of k
    * centroids, one argmin pass over the data (min_by, no shuffle of
    * vectors), one elementwise-mean shuffle keyed by (cell, dim).
    *
    * Deterministic: initial centroids are the k vectors with the smallest
    * seeded xxhash64 of their id (a content-independent pseudo-random but
    * reproducible draw); ties in assignment break toward the lower cell id.
    * A cell that loses all members drops out (k shrinks) — acceptable for
    * IVF coarse quantizers. Returns (cell, centroid). */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    val e = df.select(col(idCol).as("__kid"), VectorOps.asDouble(col(vecCol)).as("__kv"))
    // init = k lowest seeded hashes: orderBy().limit(k) is TakeOrdered —
    // partial top-k per partition, k rows to the driver side — not a
    // global sort, so the draw stays cheap at any corpus size
    val drawn = e.orderBy(xxhash64(lit("graft-kmeans-init"), col("__kid")), col("__kid"))
      .limit(k)
    val initW = Window.orderBy(col("__kid"))
    var cents = drawn
      .withColumn("cell", (row_number().over(initW) - 1).cast("int"))
      .select(col("cell"), col("__kv").as("centroid"))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val assigned = assignCells(e, "__kv", cents)
      cents = centroids(assigned.withColumnRenamed("__cell", "cell"), "cell", "__kv")
        .localCheckpoint()
    }
    cents
  }

  /** Nearest-centroid assignment: adds `__cell` to `df`. Centroids are
    * broadcast; the argmin is a map-side min_by over squared L2 distance
    * (ties toward the lower cell id) — no shuffle of the vectors. */
  def assignCells(df: DataFrame, vecCol: String, cents: DataFrame): DataFrame = {
    // distances are computed pre-shuffle (partial min_by) — spread the input
    // so a single-split scan doesn't serialize the k-way scoring
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    val withCand = spread.crossJoin(broadcast(cents.select(col("cell"), col("centroid"))))
    val d2 = aggregate(
      zip_with(VectorOps.asDouble(col(vecCol)), col("centroid"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x)
    withCand
      .groupBy(df.columns.map(col): _*)
      .agg(min_by(col("cell"), struct(d2.as("d2"), col("cell"))).as("__cell"))
  }

  /** IVF with a TRAINED coarse quantizer: k-means cells instead of a
    * pre-existing label column — the standard billion-scale layout
    * (train on a sample, assign all, probe nProbe cells). */
  def ivfTopKTrained(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4, iters: Int = 5): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
    val assigned = assignCells(corpus, vecCol, cents).localCheckpoint()
    ivfTopK(assigned, idCol, vecCol, "__cell", k, nProbe)
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search" — public): split each L2-normalized vector
  // into m subvectors, k-means each subspace into kCodes centroids, store
  // m small codes per vector (64 floats → 8 codes ≈ 32× memory cut). At
  // 100 TB this is what makes the corpus fit executor memory; search is
  // asymmetric distance computation (ADC): per query an m×kCodes lookup
  // table of exact sub-dots, a database vector's approximate cosine is the
  // sum of m table lookups — then a shortlist is exactly re-ranked.
  // ---------------------------------------------------------------------

  /** L2-normalize + split into m subvectors: (id, sub, sv). When the
    * dimension is not divisible by m, the LAST subspace takes the remainder
    * dims — silently dropping them would exclude the tail from codebooks,
    * codes, and ADC scores (a systematic recall hole for vectors that
    * differ only in trailing dimensions). A zero vector normalizes to NULL
    * elements in both ANSI modes, as its cosine is NULL. */
  private def subvectors(df: DataFrame, idCol: String, vecCol: String, m: Int): DataFrame = {
    val v = VectorOps.asDouble(col(vecCol))
    val n = VectorOps.norm(v)
    // Column./ is DOUBLE division — cast back to int or slice offsets go
    // fractional for dims not divisible by m (10/4 = 2.5)
    val dsub = (size(v) / m).cast("int")
    df.select(col(idCol).as("__pid"),
        transform(v, x => try_divide(x, n)).as("__nv"), dsub.as("__ds"), size(v).as("__d"))
      .select(col("__pid"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          j => slice(col("__nv"), j * col("__ds") + 1,
            when(j === m - 1, col("__d") - j * col("__ds")).otherwise(col("__ds"))))))
      .select(col("__pid"), col("pos").as("sub"), col("col").as("sv"))
  }

  /** Train all m subspace codebooks with ONE shared Lloyd's loop (the
    * subspace id rides the keys, so the m trainings are a single pair of
    * distributed jobs per iteration, not m sequential ones).
    * Deterministic like [[kmeansCentroids]]. Returns (sub, cell, centroid). */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, kCodes: Int = 16, iters: Int = 5): DataFrame =
    pqTrainOn(subvectors(corpus, idCol, vecCol, m).localCheckpoint(), kCodes, iters)

  /** Training body over an already-materialized subvector frame, so
    * [[pqTopK]] can share ONE subvectors pass between training and
    * encoding (they were recomputed per call before). */
  private def pqTrainOn(subs: DataFrame, kCodes: Int, iters: Int): DataFrame = {
    val wInit = Window.partitionBy(col("sub"))
      .orderBy(xxhash64(lit("graft-pq-init"), col("__pid"), col("sub")), col("__pid"))
    var cb = subs
      .withColumn("__r", row_number().over(wInit))
      .where(col("__r") <= kCodes)
      .select(col("sub"), (col("__r") - 1).cast("int").as("cell"), col("sv").as("centroid"))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val assigned = assignSubCells(subs, cb)
      cb = assigned
        .select(col("sub"), col("cell"), posexplode(col("sv")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("sub"), col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("sub"), col("cell"), transform(col("pm"), x => x.getField("m")).as("centroid"))
        .localCheckpoint()
    }
    cb
  }

  /** Nearest codebook centroid per (vector, subspace): broadcast codebooks,
    * map-side min_by argmin — ties toward the lower cell id. */
  private def assignSubCells(subs: DataFrame, cb: DataFrame): DataFrame = {
    val d2 = aggregate(
      zip_with(col("sv"), col("centroid"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x)
    subs.join(broadcast(cb), Seq("sub"))
      .groupBy(col("__pid"), col("sub"), col("sv"))
      .agg(min_by(col("cell"), struct(d2.as("d2"), col("cell"))).as("cell"))
  }

  /** Encode each vector as its m codebook codes: (id, codes array<int>),
    * ordered by subspace. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String, cb: DataFrame,
      m: Int = 8): DataFrame =
    encodeSubs(subvectors(corpus, idCol, vecCol, m), cb, idCol)

  private def encodeSubs(subs: DataFrame, cb: DataFrame, idCol: String): DataFrame =
    assignSubCells(subs, cb)
      .groupBy(col("__pid"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cell")))).as("sc"))
      .select(col("__pid").as(idCol),
        transform(col("sc"), x => x.getField("cell")).as("codes"))

  /** Per-query ADC lookup table: the exact dot of each normalized query
    * subvector with each codebook centroid — (q_id, sub, cell, partial).
    * m × kCodes rows per query: broadcast-sized for any real query batch.
    * Public so the persisted index ([[VectorIndex.queryPq]]) scores
    * against on-disk codes with the same arithmetic as [[pqTopK]]. */
  def pqLut(queries: DataFrame, idCol: String, vecCol: String,
      cb: DataFrame, m: Int): DataFrame =
    subvectors(queries, idCol, vecCol, m)
      .join(broadcast(cb), Seq("sub"))
      .select(col("__pid").as("q_id"), col("sub"), col("cell"),
        VectorOps.dot(col("sv"), col("centroid")).as("partial"))

  /** PQ ANN: ADC scoring against the codes, shortlist, exact re-rank.
    * All distributed joins: the per-query lookup table (m × kCodes exact
    * sub-dots) joins the exploded codes on (sub, cell) — no driver loops.
    * Approximate by design; recall asserted in tests.
    *
    * `excludeSelf` (default true, the self-search case) drops candidates
    * whose id equals the query id. Pass false when `queries` is a separate
    * frame whose ids merely share the corpus id space — otherwise a true
    * nearest neighbor with a colliding id is silently dropped. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int = 8, kCodes: Int = 16, shortlist: Int = 50, iters: Int = 5,
      excludeSelf: Boolean = true): DataFrame = {
    // one subvectors pass shared by training AND encoding
    val subs = subvectors(corpus, idCol, vecCol, m).localCheckpoint()
    val cb = pqTrainOn(subs, kCodes, iters)
    val enc = encodeSubs(subs, cb, idCol)
      .select(col(idCol).as("c_id"), posexplode(col("codes")))
      .select(col("c_id"), col("pos").as("sub"), col("col").as("cell"))
    // per-query ADC table: exact dot of each normalized subquery with each
    // codebook centroid (queries are few; the table is broadcast-sized)
    val lut = pqLut(queries, idCol, vecCol, cb, m)
    val scored = enc.join(broadcast(lut), Seq("sub", "cell"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("partial")).as("approx_cos"))
    val approx = if (excludeSelf) scored.where(col("q_id") =!= col("c_id")) else scored
    val short = rankPerKey(approx, "q_id", "approx_cos", "c_id", shortlist)
      .select(col("q_id"), col("c_id"))
    // exact re-rank of the shortlist only
    exactReRank(short, prepared(queries, idCol, vecCol, "q"),
      prepared(corpus, idCol, vecCol, "c"), k)
  }

  /** SCALAR-QUANTIZATION ANN (SQ8): each corpus vector compressed to one
    * int code 0..255 PER DIMENSION against per-dimension [min, max] ranges
    * learned from the corpus — 4× memory cut vs float32 (vs PQ's 32× at
    * coarser accuracy; SQ is the tier real systems pick when PQ recall is
    * not enough but float vectors don't fit).
    *
    * Scoring is ADC-style — corpus codes are never dequantized:
    *   dot(q, v̂) = dot(q, min) + Σᵢ (qᵢ·Δᵢ) · codeᵢ
    * so the per-pair work is one int-weighted dot against the query-side
    * precomputed weight vector. Per-dimension stats are one explode +
    * d-key aggregation (d rows to the driver — bounded by dimension, not
    * data); the scored pass is codes × broadcast queries; shortlist per
    * query; exact re-rank of the shortlist only. Approximate by design;
    * recall gated in SimilaritySpec and by `l3_ann_sq_recall`. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, shortlist: Int = 50, excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    // per-dimension range: one narrow explode + 64-key agg
    val dims = corpus.select(posexplode(VectorOps.asDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .orderBy(col("pos")).collect()
    if (dims.isEmpty) // empty corpus: no ranges to learn, no neighbors
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id", corpus.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("nn_id", corpus.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("cosine", org.apache.spark.sql.types.DoubleType))))
    val lo = dims.map(_.getDouble(1))
    val delta = dims.map(r => { val d = (r.getDouble(2) - r.getDouble(1)) / 255.0
      if (d == 0.0) 1.0 else d }) // constant dims: every code 0, exact
    val loL = array(lo.map(lit): _*)
    val deltaL = array(delta.map(lit): _*)

    // encode: clamp(round((x - lo)/Δ)) ∈ [0, 255] — one projection
    val codes = corpus.select(col(idCol).as("c_id"),
      transform(VectorOps.asDouble(col(vecCol)), (x, i) =>
        least(greatest(round((x - element_at(loL, i + 1)) / element_at(deltaL, i + 1)), lit(0.0)),
          lit(255.0)).cast("double")).as("codes"),
      VectorOps.norm(VectorOps.asDouble(col(vecCol))).as("cn"))

    // query-side ADC prep: base = dot(q, lo); weights = qᵢ·Δᵢ
    val qprep = prepared(queries, idCol, vecCol, "q")
      .select(col("q_id"), col("qn"),
        VectorOps.dot(col("qv"), loL).as("base"),
        zip_with(col("qv"), deltaL, (a, b) => a * b).as("w"))

    val scored0 = Spread.ifNarrow(codes).crossJoin(broadcast(qprep))
      .select(col("q_id"), col("c_id"), VectorOps.cosine(
        col("base") + VectorOps.dot(col("w"), col("codes")), col("qn"), col("cn")).as("approx_cos"))
    val scored = if (excludeSelf) scored0.where(col("q_id") =!= col("c_id")) else scored0
    val short = rankPerKey(scored, "q_id", "approx_cos", "c_id", shortlist)
      .select(col("q_id"), col("c_id"))

    exactReRank(short, prepared(queries, idCol, vecCol, "q"),
      prepared(corpus, idCol, vecCol, "c"), k)
  }

  /** IVF-style ANN: assign vectors to cells (here: the `cellCol` key), probe
    * the `nProbe` cells whose centroids are nearest the query, exact re-rank
    * within probed cells. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String, cellCol: String,
      k: Int, nProbe: Int = 2): DataFrame = {
    val cents = centroids(corpus, cellCol, vecCol)
      .select(col(cellCol).as("cell"), col("centroid"))
      .withColumn("cent_n", VectorOps.norm(col("centroid")))
    val probes = probeCells(prepared(corpus, idCol, vecCol, "q"), cents, nProbe)
    val members = prepared(corpus, idCol, vecCol, "c")
      .join(corpus.select(col(idCol).as("c_id"), col(cellCol).as("cell")), "c_id")
    exactReRank(probes.join(members, Seq("cell")).where(col("q_id") =!= col("c_id")), k)
  }

  /** The coarse probe of every IVF path: each [[prepared]] query's
    * `nProbe` cells of `cents` (cell, centroid, cent_n) with the greatest
    * centroid cosine, ties toward the lower cell — (q_id, qv, qn, cell). */
  private[operators] def probeCells(q: DataFrame, cents: DataFrame, nProbe: Int): DataFrame =
    rankPerKey(q.crossJoin(broadcast(cents))
        .select(col("q_id"), col("qv"), col("qn"), col("cell"), VectorOps.cosine(
          VectorOps.dot(col("qv"), col("centroid")), col("qn"), col("cent_n")).as("cell_cos")),
      "q_id", "cell_cos", "cell", nProbe)
      .select(col("q_id"), col("qv"), col("qn"), col("cell"))
}
