package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.sources.Lake

/** PERSISTED IVF vector index — the ANN lifecycle the in-memory tiers in
  * [[Similarity]] deliberately skip: train the coarse quantizer ONCE,
  * lay the corpus out on disk clustered by cell, then serve every future
  * query (and ingest every future batch) without touching the trained
  * structure. At 100 TB the index build is a multi-hour job; queries are
  * not allowed to repeat it, and a probe must read nProbe/nCells of the
  * data, not all of it.
  *
  * On-disk layout (plain parquet — readable by any engine):
  *   dir/centroids/    (cell INT, centroid ARRAY<DOUBLE>) — one tiny file
  *   dir/codebooks/    (sub INT, cell INT, centroid ARRAY<DOUBLE>) — the
  *                     PQ subspace codebooks, present iff built with pqM>0
  *   dir/vectors/      cell=<c>/part-*.parquet (id, vec[, codes]) —
  *                     PARTITIONED by cell, so a probe's cell subset
  *                     prunes at the DIRECTORY level (Spark partition
  *                     pruning; no file of an unprobed cell is ever
  *                     opened)
  *
  * Scale shape: [[build]] is one k-means training (sample-able upstream),
  * one broadcast-centroid assignment pass, one shuffle by cell for the
  * clustered write. [[query]] broadcasts the O(nCells) centroid frame,
  * ranks cells per query map-side, collects only the probed CELL IDS to
  * the driver (≤ nCells ints — the surviving-file-list pattern), scans
  * the pruned partitions once, and bounds the shuffle to k rows per
  * query via the top-k window. [[add]] assigns new vectors with the
  * FROZEN quantizer and appends to the cell dirs — no rebuild, no
  * rewrite of existing data.
  *
  * PQ tier ([[build]] with `pqM > 0`, served by [[queryPq]]): subspace
  * codebooks train at build time and every vector's m codes persist
  * BESIDE it in the cell layout. A probe then reads the (id, codes)
  * columns only — parquet is columnar, so the float vectors' bytes never
  * leave disk during scoring (measured ~20× fewer compressed bytes at
  * d=64/m=16, SCALING.md round 13; higher dimensions widen it) —
  * ADC-scores the
  * codes against a broadcast per-query lookup table, and exactly
  * re-ranks only the SHORTLIST from full vectors fetched by an id
  * pushdown. The frozen codebooks are part of the index contract exactly
  * like the coarse centroids: [[add]]/[[upsert]] encode new vectors with
  * them, queries never retrain. */
object VectorIndex {

  /** Train nCells k-means centroids (deterministic seeded init, see
    * [[Similarity.kmeansCentroids]]), assign every corpus vector, write
    * the cell-clustered layout. Overwrites any index at `dir`.
    *
    * `format = "delta" | "iceberg"` backs the vector store with a lake
    * table instead of plain parquet: every [[add]] becomes an ATOMIC
    * commit (a crash mid-ingest can never leave a reader seeing half a
    * batch), concurrent adds serialize through optimistic commits, and
    * the index is VERSIONED — [[query]]'s `version` parameter answers
    * from any past state of the corpus (point-in-time ANN). Probe
    * pruning is the same: the format's log/manifest-level partition
    * pruning replaces the directory skip.
    *
    * `pqM > 0` additionally trains m×`pqCodes` product-quantization
    * codebooks and persists each vector's codes beside it — the 32×
    * smaller probe path [[queryPq]] serves. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nCells: Int = 16, iters: Int = 5, format: String = "parquet",
      pqM: Int = 0, pqCodes: Int = 16): Unit = {
    require(format == "parquet" || format == "delta" || format == "iceberg",
      s"unsupported index format '$format' (parquet | delta | iceberg)")
    val spark = corpus.sparkSession
    val cents = Similarity.kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
      .localCheckpoint()
    cents.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val cb =
      if (pqM <= 0) None
      else {
        val trained = Similarity.pqTrain(corpus, idCol, vecCol, pqM, pqCodes, iters)
          .localCheckpoint()
        trained.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
        Some(trained)
      }
    // a non-PQ rebuild over a PQ index must not leave stale codebooks
    // behind — queryPq would ADC-score codes that no longer exist
    if (pqM <= 0) deletePath(spark, s"$dir/codebooks")
    // a rebuild replaces the store outright (writeAssigned appends).
    // Hadoop-FS delete, NOT java.io.File: on HDFS/S3 a local-FS rm
    // silently no-ops and the rebuild would append fresh cells over the
    // stale store — a correctness hazard, not a perf one.
    deletePath(spark, s"$dir/vectors")
    writeAssigned(corpus.select(col(idCol), col(vecCol)), idCol, vecCol,
      cents, cb, dir, if (format == "parquet") None else Some(Lake.format(format)))
  }

  private def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** The vector store's lake format, None for a plain-parquet index. */
  private def storeFormat(spark: SparkSession, dir: String): Option[Lake.TableFormat] =
    Lake.tableOption(spark, s"$dir/vectors")

  /** The persisted PQ codebooks, when the index was built with pqM > 0. */
  private def codebooksOf(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/codebooks")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(s"$dir/codebooks")) else None
  }

  /** Incremental ingest: assign `batch` with the index's FROZEN
    * quantizer (and encode its PQ codes with the frozen codebooks, on a
    * PQ index) and append into the cell layout. Cheap by construction —
    * one broadcast assignment pass + an append-only clustered write;
    * nothing existing is read or rewritten. One atomic commit per batch
    * on a lake-backed index. (Re-[[build]] when drift makes the frozen
    * centroids a bad fit.) */
  def add(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, vecCol: String): Unit =
    writeAssigned(batch.select(col(idCol), col(vecCol)), idCol, vecCol,
      spark.read.parquet(s"$dir/centroids"), codebooksOf(spark, dir), dir,
      storeFormat(spark, dir))

  /** Remove every indexed vector matching `pred` in ONE atomic commit —
    * the other half of the ingest lifecycle (revoked documents, GDPR
    * erasure, re-embedding a corpus slice before re-[[add]]). Dispatches
    * to the store's merge-on-read delete ([[graft.sources.Lake
    * .deleteWhere]]: Delta deletion vectors / Iceberg position deletes):
    * no data file is rewritten, and probe pruning is untouched — the
    * cell layout never changes. Refused on a plain-parquet index (no
    * transactional delete exists there; rebuild instead, or build with
    * format="delta" or "iceberg"). Returns the committed version. */
  def removeWhere(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column): Long = {
    requireLake(spark, dir, "removeWhere")
    Lake.deleteWhere(spark, s"$dir/vectors", pred)
  }

  /** [[removeWhere]] sugar for the common case: delete these vector ids. */
  def remove(spark: SparkSession, dir: String, ids: Seq[Long],
      idCol: String): Long =
    removeWhere(spark, dir, col(idCol).isin(ids.map(Long.box): _*))

  /** Idempotent ingest: assign `batch` with the FROZEN quantizer (codes
    * included on a PQ index) and MERGE it into the lake-backed store
    * keyed on `idCol` — an id that already exists is REPLACED (its old
    * row deleted and the new row appended, one atomic commit — even when
    * the new embedding lands in a different cell), a new id is a plain
    * insert. This is what makes re-ingest safe: [[add]] is append-only
    * and would silently duplicate a re-embedded id inside its cell.
    * Refused on plain parquet (no keyed merge without a log). Returns
    * the committed version. */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, vecCol: String): Long = {
    requireLake(spark, dir, "upsert")
    val cents = spark.read.parquet(s"$dir/centroids")
    val assigned = withCodes(
      Similarity.assignCells(batch.select(col(idCol), col(vecCol)), vecCol, cents)
        .select(col(idCol), col(vecCol), col("__cell").as("cell")),
      idCol, vecCol, codebooksOf(spark, dir))
      .repartition(col("cell"))
    Lake.upsert(spark, assigned, s"$dir/vectors", Seq(idCol))
  }

  /** Pay down the small-file debt a stream of [[add]] batches accrues:
    * every ingest appends a few files per cell, so after N batches a
    * probe opens O(N) files per probed cell. Dispatches to the store's
    * per-partition bin-pack ([[graft.sources.Lake.compact]]): files
    * merge only WITHIN their cell (the clustered layout — and therefore
    * probe pruning — is untouched), merge-on-read deletes from
    * [[removeWhere]]/[[upsert]] are materialized away, the rewrite is
    * one atomic layout-only commit (Delta dataChange=false, so streaming
    * readers skip it), and time travel still reaches pre-compaction
    * versions. Refused on plain parquet: a staged directory swap has a
    * torn-reader window no log can close there — re-[[build]] instead
    * (same IO, and the quantizer refresh is free). Returns the committed
    * version. */
  def compact(spark: SparkSession, dir: String): Long = {
    requireLake(spark, dir, "compact")
    Lake.compact(spark, s"$dir/vectors")
  }

  /** Keep the index in sync with a LAKE-BACKED corpus table (the source
    * of truth the embeddings live in) — the vector-index twin of the MV's
    * incremental refresh: fold the corpus's change feed
    * (sinceVersion, current] into the index as ONE changelog apply
    * ([[graft.sources.Lake.applyChanges]]): every affected id's current
    * index row is MoR-deleted and the insert-leg rows land re-assigned
    * under the FROZEN quantizer (and re-encoded with the frozen
    * codebooks, on a PQ index) — delete-only ids vanish, updated ids
    * swap atomically even when the new embedding moves them to a
    * different cell, and a rewrite commit's delete+insert pair for an
    * unchanged row degenerates to an idempotent re-apply. Everything is
    * distributed (the apply is a semi-join against the broadcast
    * affected-key set; nothing O(feed) on the driver), cost tracks WHAT
    * CHANGED in the corpus (the feed is a file-granularity snapshot diff
    * on both formats), and a reader sees the old or the new index state
    * of every id, never a mix. No-op when the corpus hasn't moved.
    * Returns the corpus version the index now reflects. */
  def syncFromChanges(spark: SparkSession, dir: String, corpusTable: String,
      idCol: String, vecCol: String, sinceVersion: Long): Long = {
    requireLake(spark, dir, "syncFromChanges")
    val corpus = Lake.table(spark, corpusTable)
    val cur = corpus.version(spark, corpusTable)
    if (cur == sinceVersion) return cur
    val changes = corpus.changesBetween(spark, corpusTable, sinceVersion, cur)
      .select(col(idCol), col(vecCol), col("_change_type"))
    val cb = codebooksOf(spark, dir)
    // insert-leg rows carry the store's derived columns; delete-leg rows
    // only contribute their KEY to the apply — the placeholder cell/codes
    // never land in the store, they just satisfy the changelog schema
    val ins = withCodes(
      Similarity.assignCells(
          changes.where(col("_change_type") === "insert")
            .select(col(idCol), col(vecCol)), vecCol,
          spark.read.parquet(s"$dir/centroids"))
        .select(col(idCol), col(vecCol), col("__cell").as("cell")),
      idCol, vecCol, cb)
      .withColumn("_change_type", lit("insert"))
    val delBase = changes.where(col("_change_type") === "delete")
      .select(col(idCol), col(vecCol), lit(-1).as("cell"))
    val del = (if (cb.isDefined)
        delBase.withColumn("codes", lit(null).cast("array<int>"))
      else delBase)
      .withColumn("_change_type", lit("delete"))
    Lake.applyChanges(spark, ins.unionByName(del),
      s"$dir/vectors", Seq(idCol))
    cur
  }

  private def requireLake(spark: SparkSession, dir: String, op: String): Unit =
    require(storeFormat(spark, dir).isDefined,
      s"$op needs a lake-backed index (transactional keyed delete/merge); " +
        s"the index at $dir is plain parquet — rebuild with format=\"delta\" " +
        "or format=\"iceberg\"")

  /** Append `codes` (the PQ encoding under the FROZEN codebooks) when the
    * index carries codebooks; pass-through otherwise. */
  private def withCodes(assigned: DataFrame, idCol: String, vecCol: String,
      cb: Option[DataFrame]): DataFrame = cb match {
    case None => assigned
    case Some(books) =>
      val m = books.agg(max(col("sub"))).head().getInt(0) + 1
      assigned.join(
        Similarity.pqEncode(assigned.select(col(idCol), col(vecCol)),
          idCol, vecCol, books, m),
        Seq(idCol))
  }

  private def writeAssigned(vecs: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, cb: Option[DataFrame], dir: String,
      format: Option[Lake.TableFormat]): Unit = {
    val assigned = withCodes(
      Similarity.assignCells(vecs, vecCol, cents)
        .select(col(idCol), col(vecCol), col("__cell").as("cell")),
      idCol, vecCol, cb)
      .repartition(col("cell")) // few files per cell, not one per task
    format match {
      case Some(t) =>
        t.append(vecs.sparkSession, assigned, s"$dir/vectors", partitionBy = Seq("cell"))
      case None =>
        assigned.write.mode("append").partitionBy("cell").parquet(s"$dir/vectors")
    }
  }

  /** Coarse probe shared by [[query]] and [[queryPq]]: rank cells per
    * query by centroid cosine, keep nProbe (ties toward the lower cell
    * id). Returns the per-query probe frame and the distinct probed cell
    * ids (≤ nCells ints, driver-side metadata only — the IN-list Spark's
    * partition pruning turns into a directory/log-level skip). */
  private[graft] def coarseProbes(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String, nProbe: Int)
      : (DataFrame, Array[Int]) = {
    val cents = spark.read.parquet(s"$dir/centroids")
      .withColumn("cent_n", VectorOps.norm(col("centroid")))
    val q = Similarity.prepared(queries, idCol, vecCol, "q")
      .repartition(spark.sparkContext.defaultParallelism)
    val probes = Similarity.probeCells(q, cents, nProbe)
      .localCheckpoint() // consumed twice: probed-cell list + the join
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    (probes, probedCells)
  }

  /** Scan of the store restricted to the probed cells, version-pinned on
    * a lake-backed index: Delta log-level / Iceberg manifest-level
    * partition pruning, or Spark's directory pruning on plain parquet
    * (the residual `isin` keeps the filter explicit for all three). */
  private def prunedScan(spark: SparkSession, dir: String,
      probedCells: Array[Int], version: Long): DataFrame = {
    val store = s"$dir/vectors"
    val probedSet = probedCells.map(_.toString).toSet
    val scan = Lake.tableOption(spark, store) match {
      case Some(t) =>
        // log- / manifest-level partition pruning: unprobed cells' files
        // are never listed. The keep callback sees Delta's partitionValues
        // strings or Iceberg's TYPED record (cell is an int there)
        t.readPruned(spark, store,
          pv => pv.get("cell").exists(v => probedSet(String.valueOf(v))), version)
      case None =>
        require(version < 0,
          s"a plain-parquet index at $dir has no versions (asked for $version) — " +
            "build with format=\"delta\" or \"iceberg\" for point-in-time queries")
        spark.read.parquet(store)
    }
    scan.where(col("cell").isin(probedCells.map(Int.box): _*))
  }

  /** Top-k cosine neighbors from the persisted index: per query the
    * nProbe closest cells by centroid cosine (ties toward the lower cell
    * id), then exact scoring INSIDE the probed cells only. Self-matches
    * (same id) excluded, matching [[Similarity.exactTopK]]. With
    * nProbe ≥ nCells the result is exactly brute force. Output:
    * (vec_id, rank, nn_id, cosine). On a lake-backed index `version`
    * time-travels the corpus (point-in-time ANN — "what were the
    * neighbors before yesterday's ingest"); refused on plain parquet. */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 2,
      version: Long = -1L): DataFrame = {
    val (probes, probedCells) =
      coarseProbes(spark, dir, queries, idCol, vecCol, nProbe)
    val members = Similarity.prepared(prunedScan(spark, dir, probedCells, version),
      idCol, vecCol, "c", col("cell"))
    Similarity.exactReRank(probes.join(members, Seq("cell")).where(col("q_id") =!= col("c_id")), k)
  }

  /** The ADC-scored shortlist (q_id, c_id) — [[queryPq]]'s codes-only
    * phase, package-private so the spec can assert PHYSICALLY (on this
    * frame's own executed plan, which the checkpoint in queryPq would
    * hide) that the probe scan reads the codes column without the vector
    * column. */
  private[graft] def adcShortlist(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String, shortlist: Int,
      version: Long, probes: DataFrame, probedCells: Array[Int]): DataFrame = {
    val cb = codebooksOf(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"the index at $dir has no PQ codebooks — build with pqM > 0, or use query()"))
    val m = cb.agg(max(col("sub"))).head().getInt(0) + 1
    // ADC scoring: codes-only scan of the probed cells (the vec column's
    // bytes stay on disk), exploded to (c_id, sub, code), joined to the
    // broadcast LUT, summed per (query, candidate)
    val enc = prunedScan(spark, dir, probedCells, version)
      .select(col("cell"), col(idCol).as("c_id"), posexplode(col("codes")))
      .select(col("cell"), col("c_id"), col("pos").as("sub"), col("col").as("code"))
    val lut = Similarity.pqLut(queries, idCol, vecCol, cb, m)
      .select(col("q_id"), col("sub"), col("cell").as("code"), col("partial"))
    // restrict each query's candidates to ITS probed cells (the scan is
    // the UNION of all queries' cells) — the semi-join on (q_id, cell)
    // rides the same shuffle as the ADC aggregation
    val scored = enc
      .join(probes.select(col("q_id"), col("cell")), Seq("cell"))
      .join(broadcast(lut), Seq("q_id", "sub", "code"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("partial")).as("approx_cos"))
      .where(col("q_id") =!= col("c_id"))
    Similarity.rankPerKey(scored, "q_id", "approx_cos", "c_id", shortlist)
      .select(col("q_id"), col("c_id"))
  }

  /** Top-k from the PQ tier: the coarse probe is identical to [[query]],
    * but scoring inside the probed cells reads ONLY the (id, codes)
    * columns — parquet column pruning leaves the float vectors on disk,
    * so probe IO shrinks to the codes chunks (measured ~20× fewer
    * compressed bytes at d=64/m=16; ~(d·8)/(m·4) raw) — and runs
    * ADC against the broadcast per-query lookup table
    * ([[Similarity.pqLut]]: m × pqCodes exact sub-dots per query). The
    * top-`shortlist` candidates per query are then re-ranked EXACTLY
    * from their full vectors, fetched with an id IN-pushdown over the
    * probed cells (row-group stats skip most of the vector bytes; the
    * fallback join kicks in past 100k shortlist ids). Approximate by
    * design (gated in tests); `shortlist ≥ k` required. Output and
    * tie-breaks match [[query]]. */
  def queryPq(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 2,
      shortlist: Int = 50, version: Long = -1L): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val (probes, probedCells) =
      coarseProbes(spark, dir, queries, idCol, vecCol, nProbe)
    val short = adcShortlist(spark, dir, queries, idCol, vecCol, shortlist,
        version, probes, probedCells)
      .localCheckpoint() // consumed twice: id-list collect + the re-rank join

    // exact re-rank of the shortlist only: full vectors fetched by id
    // pushdown when the id set is driver-metadata-sized (|queries| ×
    // shortlist), by join otherwise
    val shortIds = short.select(col("c_id")).distinct()
    val idList = shortIds.limit(100001).collect()
    val fullScan = prunedScan(spark, dir, probedCells, version)
    val full =
      if (idList.length <= 100000)
        fullScan.where(col(idCol).isin(idList.map(_.get(0)): _*))
      else fullScan.join(shortIds, fullScan(idCol) === shortIds("c_id"), "left_semi")
    Similarity.exactReRank(short, Similarity.prepared(queries, idCol, vecCol, "q"),
      Similarity.prepared(full, idCol, vecCol, "c"), k)
  }
}
