package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Persisted IVF index (SURVEY.md §2.15 L43): exhaustive-probe equality
  * with brute force, PHYSICAL partition pruning, rebuild-free ingest,
  * and build determinism across input layouts. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int, dim: Int = 4) =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  private def collected(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
    df.select(col("vec_id"), col("rank"), col("nn_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted

  test("exhaustive probe equals brute force; queries never rebuild") {
    val c = corpus(40)
    val dir = tmp("graft_vidx")
    VectorIndex.build(c, "vec_id", "embedding", dir, nCells = 4, iters = 3)
    val brute = collected(
      Similarity.exactTopK(c, c.where(col("vec_id") < 8), "vec_id", "embedding", k = 3))
    val idx = collected(
      VectorIndex.query(spark, dir, c.where(col("vec_id") < 8), "vec_id", "embedding",
        k = 3, nProbe = 4))
    assert(idx === brute)
    // second query against the same index — no build step in between
    val again = collected(
      VectorIndex.query(spark, dir, c.where(col("vec_id") < 8), "vec_id", "embedding",
        k = 3, nProbe = 4))
    assert(again === brute)
  }

  test("zero-norm vector: NULL cosine, ranked last, no error (query, queryPq)") {
    import ZeroNormCases.{allPairs, checkTopK, topKReference}
    val c = ZeroNormCases.corpus(spark).select("id", "v")
    val k = 8
    // built and queried under each ANSI setting; exhaustive probe and a
    // shortlist of the whole corpus, so both equal the pair form
    def built(pqM: Int): String = {
      val dir = tmp("graft_vidx_zero")
      VectorIndex.build(c, "id", "v", dir, nCells = 2, iters = 2, pqM = pqM, pqCodes = 2)
      dir
    }
    val cases = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      ("query", () => VectorIndex.query(spark, built(0), c, "id", "v", k, nProbe = 2)),
      ("queryPq", () => VectorIndex.queryPq(spark, built(2), c, "id", "v", k, nProbe = 2,
        shortlist = k)))
    cases.foreach { case (name, path) =>
      checkTopK(spark, name, path(), topKReference(c, allPairs(c), k))
    }
  }

  test("probes prune at the directory level: unprobed cell dirs are never read") {
    val c = corpus(60)
    val dir = tmp("graft_vidx_prune")
    VectorIndex.build(c, "vec_id", "embedding", dir, nCells = 6, iters = 3)
    val oneQ = c.where(col("vec_id") === 5L)
    val before = collected(
      VectorIndex.query(spark, dir, oneQ, "vec_id", "embedding", k = 3, nProbe = 1))
    assert(before.nonEmpty)
    // which single cell does vec 5 probe? — the cell its own vector lives
    // in (it is its own nearest centroid's member); learn it from disk
    val cellOf5 = spark.read.parquet(s"$dir/vectors")
      .where(col("vec_id") === 5L).select(col("cell")).head().getInt(0)
    // physically delete every OTHER cell's data files: if the query ever
    // touched an unprobed directory it would now fail or change results
    val vecRoot = new java.io.File(s"$dir/vectors")
    vecRoot.listFiles().filter(f => f.isDirectory && f.getName != s"cell=$cellOf5")
      .foreach { d =>
        d.listFiles().foreach(f => assert(f.delete(), s"couldn't delete $f"))
        assert(d.delete(), s"couldn't delete $d")
      }
    val after = collected(
      VectorIndex.query(spark, dir, oneQ, "vec_id", "embedding", k = 3, nProbe = 1))
    assert(after === before,
      "nProbe=1 results must be identical with every unprobed cell dir gone")
  }

  test("add() ingests without rebuild: frozen quantizer, exhaustive parity") {
    val all = corpus(50)
    val first = all.where(col("vec_id") < 30)
    val second = all.where(col("vec_id") >= 30)
    val dir = tmp("graft_vidx_add")
    VectorIndex.build(first, "vec_id", "embedding", dir, nCells = 4, iters = 3)
    val centsBefore = spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").collect().toSeq
    VectorIndex.add(spark, dir, second, "vec_id", "embedding")
    // quantizer untouched by ingest
    assert(spark.read.parquet(s"$dir/centroids").orderBy("cell").collect().toSeq
      === centsBefore)
    // exhaustive query over the grown index == brute force over the union
    val brute = collected(
      Similarity.exactTopK(all, all.where(col("vec_id") < 6), "vec_id", "embedding", k = 3))
    val idx = collected(
      VectorIndex.query(spark, dir, all.where(col("vec_id") < 6), "vec_id", "embedding",
        k = 3, nProbe = 4))
    assert(idx === brute)
  }

  test("streaming ingest: the index follows a stream via foreachBatch add()") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = corpus(48)
    val seed = all.where(col("vec_id") < 16)
    val dir = tmp("graft_vidx_stream")
    VectorIndex.build(seed, "vec_id", "embedding", dir, nCells = 4, iters = 3)
    val rest = all.where(col("vec_id") >= 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val stream = MemoryStream[(Long, Array[Float])]
    // enqueue BEFORE start: AvailableNow snapshots its end offsets when the
    // query starts, so data added after start() can race the snapshot and
    // the query terminates having ingested nothing (observed flake under a
    // loaded parallel suite; deterministic either way with data queued first)
    stream.addData(rest.take(16).toSeq)
    stream.addData(rest.drop(16).toSeq)
    val q = stream.toDF().toDF("vec_id", "embedding").writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        VectorIndex.add(spark, dir, batch, "vec_id", "embedding")
      }
      .option("checkpointLocation", tmp("graft_vidx_stream_ckpt"))
      .start()
    q.processAllAvailable(); q.stop()
    val brute = collected(
      Similarity.exactTopK(all, all.where(col("vec_id") < 6), "vec_id", "embedding", k = 3))
    val idx = collected(
      VectorIndex.query(spark, dir, all.where(col("vec_id") < 6), "vec_id", "embedding",
        k = 3, nProbe = 4))
    assert(idx === brute,
      "stream-ingested index must answer exactly like a batch-built one")
  }

  test("delta-backed index: atomic versioned ingest, point-in-time queries") {
    val all = corpus(50)
    val first = all.where(col("vec_id") < 30)
    val dir = tmp("graft_vidx_delta")
    VectorIndex.build(first, "vec_id", "embedding", dir, nCells = 4, iters = 3,
      format = "delta")
    val store = s"$dir/vectors"
    assert(graft.sources.Lake.detect(spark, store) === graft.sources.Lake.Delta)
    val v0 = graft.sources.DeltaRead.snapshotInfo(spark, store).version
    VectorIndex.add(spark, dir, all.where(col("vec_id") >= 30), "vec_id", "embedding")
    assert(graft.sources.DeltaRead.snapshotInfo(spark, store).version === v0 + 1,
      "one ingest batch = one atomic commit")

    val q6 = all.where(col("vec_id") < 6)
    // current state == brute force over the union
    assert(collected(VectorIndex.query(spark, dir, q6, "vec_id", "embedding",
        k = 3, nProbe = 4)) ===
      collected(Similarity.exactTopK(all, q6, "vec_id", "embedding", k = 3)))
    // point-in-time: version v0 answers as if the ingest never happened
    assert(collected(VectorIndex.query(spark, dir, q6, "vec_id", "embedding",
        k = 3, nProbe = 4, version = v0)) ===
      collected(Similarity.exactTopK(first, q6, "vec_id", "embedding", k = 3)))
    // probe pruning survives the Delta path too: fewer cells, same top cell
    assert(collected(VectorIndex.query(spark, dir, q6, "vec_id", "embedding",
      k = 3, nProbe = 1)).nonEmpty)
    // plain-parquet indexes refuse time travel loudly
    val pdir = tmp("graft_vidx_plain")
    VectorIndex.build(first, "vec_id", "embedding", pdir, nCells = 4, iters = 3)
    intercept[IllegalArgumentException](
      VectorIndex.query(spark, pdir, q6, "vec_id", "embedding",
        k = 3, nProbe = 4, version = 0L).collect())
  }

  test("rebuild replaces the store: no stale cells survive (hadoop FS delete)") {
    val a = corpus(40)
    val b = corpus(70).where(col("vec_id") >= 40) // disjoint ids 40..69
    for (fmt <- Seq("parquet", "delta")) {
      val dir = tmp(s"graft_vidx_rebuild_$fmt")
      VectorIndex.build(a, "vec_id", "embedding", dir, nCells = 4, iters = 3, format = fmt)
      VectorIndex.build(b, "vec_id", "embedding", dir, nCells = 4, iters = 3, format = fmt)
      // every queryable vector comes from the SECOND corpus: a rebuild
      // that appended over stale cells would surface ids < 40 here
      val q = b.where(col("vec_id") < 46)
      val idx = collected(VectorIndex.query(spark, dir, q, "vec_id", "embedding",
        k = 3, nProbe = 4))
      assert(idx === collected(
        Similarity.exactTopK(b, q, "vec_id", "embedding", k = 3)),
        s"$fmt rebuild must answer exactly like a fresh build over the new corpus")
      assert(idx.forall(_._3 >= 40L), s"$fmt rebuild left stale pre-rebuild vectors behind")
    }
  }

  test("remove() deletes vectors transactionally; parquet indexes refuse") {
    val all = corpus(50)
    val dir = tmp("graft_vidx_remove")
    VectorIndex.build(all, "vec_id", "embedding", dir, nCells = 4, iters = 3,
      format = "delta")
    val store = s"$dir/vectors"
    val v0 = graft.sources.DeltaRead.snapshotInfo(spark, store).version
    val v1 = VectorIndex.removeWhere(spark, dir, col("vec_id") >= 30L)
    assert(v1 === v0 + 1, "one delete = one atomic commit")
    val kept = all.where(col("vec_id") < 30)
    val q = all.where(col("vec_id") < 6)
    val idx = collected(VectorIndex.query(spark, dir, q, "vec_id", "embedding",
      k = 3, nProbe = 4))
    assert(idx === collected(
      Similarity.exactTopK(kept, q, "vec_id", "embedding", k = 3)))
    assert(idx.forall(_._3 < 30L), "a removed vector surfaced as a neighbor")
    // id-list sugar
    VectorIndex.remove(spark, dir, Seq(5L), "vec_id")
    assert(collected(VectorIndex.query(spark, dir, q, "vec_id", "embedding",
      k = 3, nProbe = 4)).forall(_._3 != 5L))
    // and the pre-delete state stays queryable (point-in-time)
    assert(collected(VectorIndex.query(spark, dir, q, "vec_id", "embedding",
        k = 3, nProbe = 4, version = v0)) ===
      collected(Similarity.exactTopK(all, q, "vec_id", "embedding", k = 3)))
    val pdir = tmp("graft_vidx_remove_plain")
    VectorIndex.build(all, "vec_id", "embedding", pdir, nCells = 4, iters = 3)
    intercept[IllegalArgumentException](
      VectorIndex.removeWhere(spark, pdir, col("vec_id") >= 30L))
  }

  test("upsert() re-ingests an existing id without duplicating it") {
    val all = corpus(40)
    val dir = tmp("graft_vidx_upsert")
    VectorIndex.build(all, "vec_id", "embedding", dir, nCells = 4, iters = 3,
      format = "delta")
    // re-embed ids 0..5 with very different vectors (they may well land in
    // a different cell — the merge must still leave exactly one row per id)
    val reem = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(4)(d => math.cos(i * 29 + d * 11).toFloat))
    }.toDF("vec_id", "embedding")
    VectorIndex.upsert(spark, dir, reem, "vec_id", "embedding")
    val store = graft.sources.DeltaRead.snapshot(spark, s"$dir/vectors")
    assert(store.count() === 40L, "upsert duplicated or dropped rows")
    assert(store.groupBy(col("vec_id")).count().where(col("count") > 1).count() === 0L,
      "an upserted id appears more than once in the store")
    // the index answers over the UPDATED corpus
    val updated = reem.unionByName(all.where(col("vec_id") >= 6))
    val q = updated.where(col("vec_id") < 6)
    assert(collected(VectorIndex.query(spark, dir, q, "vec_id", "embedding",
        k = 3, nProbe = 4)) ===
      collected(Similarity.exactTopK(updated, q, "vec_id", "embedding", k = 3)))
    // idempotence: upserting the SAME batch again changes nothing
    VectorIndex.upsert(spark, dir, reem, "vec_id", "embedding")
    assert(graft.sources.DeltaRead.snapshot(spark, s"$dir/vectors").count() === 40L)
    intercept[IllegalArgumentException] {
      val pdir = tmp("graft_vidx_upsert_plain")
      VectorIndex.build(all, "vec_id", "embedding", pdir, nCells = 4, iters = 3)
      VectorIndex.upsert(spark, pdir, reem, "vec_id", "embedding")
    }
  }

  test("compact() bin-packs cells: fewer files, pruning intact, answers unchanged") {
    val all = corpus(60)
    val dir = tmp("graft_vidx_compact")
    VectorIndex.build(all.where(col("vec_id") < 30), "vec_id", "embedding", dir,
      nCells = 4, iters = 3, format = "delta")
    // a stream of small ingests: each appends its own files into the cells
    for (lo <- Seq(30, 40, 50))
      VectorIndex.add(spark, dir,
        all.where(col("vec_id") >= lo && col("vec_id") < lo + 10), "vec_id", "embedding")
    def liveFiles(): Int =
      graft.sources.DeltaRead.snapshotInfo(spark, s"$dir/vectors").files.size
    val before = liveFiles()
    val q = all.where(col("vec_id") < 8)
    val exhaustiveBefore = collected(
      VectorIndex.query(spark, dir, q, "vec_id", "embedding", k = 3, nProbe = 4))
    val prunedBefore = collected(
      VectorIndex.query(spark, dir, q, "vec_id", "embedding", k = 3, nProbe = 1))
    VectorIndex.compact(spark, dir)
    val after = liveFiles()
    assert(after < before, s"compaction must shrink the store: $before -> $after")
    assert(after <= 4, s"one packed file per cell expected, got $after")
    // answers unchanged on both the exhaustive and the pruned path
    assert(collected(VectorIndex.query(spark, dir, q, "vec_id", "embedding",
      k = 3, nProbe = 4)) === exhaustiveBefore)
    assert(collected(VectorIndex.query(spark, dir, q, "vec_id", "embedding",
      k = 3, nProbe = 1)) === prunedBefore)
    // layout-only commit: time travel still reaches the pre-compaction state
    val verNow = graft.sources.DeltaRead.snapshotInfo(spark, s"$dir/vectors").version
    assert(collected(VectorIndex.query(spark, dir, q, "vec_id", "embedding",
      k = 3, nProbe = 4, version = verNow - 1)) === exhaustiveBefore)
    // plain parquet refuses (no atomic layout swap without a log)
    val pdir = tmp("graft_vidx_compact_pq")
    VectorIndex.build(all, "vec_id", "embedding", pdir, nCells = 4, iters = 3)
    val e = intercept[IllegalArgumentException](VectorIndex.compact(spark, pdir))
    assert(e.getMessage.contains("lake-backed"), e.getMessage)
  }

  test("iceberg-backed index: the full lifecycle on the other lake format") {
    val all = corpus(50)
    val first = all.where(col("vec_id") < 30)
    val dir = tmp("graft_vidx_ice")
    VectorIndex.build(first, "vec_id", "embedding", dir, nCells = 4, iters = 3,
      format = "iceberg")
    val store = s"$dir/vectors"
    assert(graft.sources.Lake.detect(spark, store) === graft.sources.Lake.Iceberg)
    val s0 = graft.sources.IcebergRead.currentSnapshotId(spark, store)

    // atomic versioned ingest + point-in-time queries
    VectorIndex.add(spark, dir, all.where(col("vec_id") >= 30), "vec_id", "embedding")
    val q6 = all.where(col("vec_id") < 6)
    assert(collected(VectorIndex.query(spark, dir, q6, "vec_id", "embedding",
        k = 3, nProbe = 4)) ===
      collected(Similarity.exactTopK(all, q6, "vec_id", "embedding", k = 3)))
    assert(collected(VectorIndex.query(spark, dir, q6, "vec_id", "embedding",
        k = 3, nProbe = 4, version = s0)) ===
      collected(Similarity.exactTopK(first, q6, "vec_id", "embedding", k = 3)))

    // transactional remove (position deletes), then upsert without duplication
    VectorIndex.removeWhere(spark, dir, col("vec_id") >= 40L)
    val kept = all.where(col("vec_id") < 40)
    assert(collected(VectorIndex.query(spark, dir, q6, "vec_id", "embedding",
        k = 3, nProbe = 4)) ===
      collected(Similarity.exactTopK(kept, q6, "vec_id", "embedding", k = 3)))
    val reem = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(4)(d => math.cos(i * 29 + d * 11).toFloat))
    }.toDF("vec_id", "embedding")
    VectorIndex.upsert(spark, dir, reem, "vec_id", "embedding")
    val snap = graft.sources.IcebergRead.snapshot(spark, store)
    assert(snap.count() === 40L, "upsert duplicated or dropped rows")
    assert(snap.groupBy(col("vec_id")).count().where(col("count") > 1).count() === 0L)
    val updated = reem.unionByName(kept.where(col("vec_id") >= 6))
    assert(collected(VectorIndex.query(spark, dir, q6, "vec_id", "embedding",
        k = 3, nProbe = 4)) ===
      collected(Similarity.exactTopK(updated, q6, "vec_id", "embedding", k = 3)))

    // compaction bin-packs within cells and materializes the deletes away
    val exhaustive = collected(VectorIndex.query(spark, dir, q6, "vec_id", "embedding",
      k = 3, nProbe = 4))
    VectorIndex.compact(spark, dir)
    assert(collected(VectorIndex.query(spark, dir, q6, "vec_id", "embedding",
      k = 3, nProbe = 4)) === exhaustive)

    // rebuild replaces the store outright (no stale cells)
    val b = corpus(70).where(col("vec_id") >= 40)
    VectorIndex.build(b, "vec_id", "embedding", dir, nCells = 4, iters = 3,
      format = "iceberg")
    val qb = b.where(col("vec_id") < 46)
    val idx = collected(VectorIndex.query(spark, dir, qb, "vec_id", "embedding",
      k = 3, nProbe = 4))
    assert(idx === collected(Similarity.exactTopK(b, qb, "vec_id", "embedding", k = 3)))
    assert(idx.forall(_._3 >= 40L), "iceberg rebuild left stale vectors behind")
  }

  test("PQ tier: codes persist beside vectors, probes read codes only, re-rank is exact") {
    val all = corpus(60, dim = 8)
    val dir = tmp("graft_vidx_pq")
    VectorIndex.build(all, "vec_id", "embedding", dir, nCells = 4, iters = 3,
      format = "delta", pqM = 4, pqCodes = 8)
    // codes persisted beside every vector, m ints each
    val store = graft.sources.DeltaRead.snapshot(spark, s"$dir/vectors")
    assert(store.columns.toSet === Set("vec_id", "embedding", "cell", "codes"))
    assert(store.where(size(col("codes")) =!= 4).count() === 0L)

    val q = all.where(col("vec_id") < 8)
    // shortlist >= corpus + exhaustive probe ⇒ the exact re-rank sees every
    // candidate: results must EQUAL brute force (the ADC order only decides
    // what enters the shortlist)
    val pq = VectorIndex.queryPq(spark, dir, q, "vec_id", "embedding",
      k = 3, nProbe = 4, shortlist = 60)
    assert(collected(pq) ===
      collected(Similarity.exactTopK(all, q, "vec_id", "embedding", k = 3)))

    // PHYSICAL proof the ADC probe never reads the float vectors: the
    // shortlist phase's scan has a codes-bearing ReadSchema WITHOUT the
    // embedding column (parquet is columnar — an unread column's chunks
    // stay on disk, which is the probe-IO cut). Asserted on the phase's
    // own plan, since queryPq's checkpoint hides it from the final plan.
    val (probes, cells) = VectorIndex.coarseProbes(spark, dir, q,
      "vec_id", "embedding", nProbe = 4)
    val sl = VectorIndex.adcShortlist(spark, dir, q, "vec_id", "embedding",
      shortlist = 8, version = -1L, probes = probes, probedCells = cells)
    sl.collect()
    val scans = sl.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(l => l.contains("codes") && !l.contains("embedding")),
      s"no codes-only scan in:\n${scans.mkString("\n")}")

    // a tight shortlist is approximate: gate recall instead of equality
    val tight = VectorIndex.queryPq(spark, dir, q, "vec_id", "embedding",
      k = 3, nProbe = 4, shortlist = 8)
    val brute = Similarity.exactTopK(all, q, "vec_id", "embedding", k = 3)
    val gate = Similarity.recallGate(tight, brute, minRecall = 0.7)
    assert(gate.head().getBoolean(gate.columns.indexOf("recall_ok")),
      "PQ recall below the tier's gate")

    // ingest keeps encoding with the FROZEN codebooks
    VectorIndex.add(spark, dir,
      (60 until 70).map(i => (i.toLong,
        Array.tabulate(8)(d => math.sin(i * 13 + d * 7).toFloat))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val grown = graft.sources.DeltaRead.snapshot(spark, s"$dir/vectors")
    assert(grown.where(col("codes").isNull).count() === 0L,
      "an ingested batch landed without codes")

    // a non-PQ index refuses queryPq loudly
    val plain = tmp("graft_vidx_pq_plain")
    VectorIndex.build(all, "vec_id", "embedding", plain, nCells = 4, iters = 3)
    val e = intercept[IllegalArgumentException](
      VectorIndex.queryPq(spark, plain, q, "vec_id", "embedding", k = 3))
    assert(e.getMessage.contains("codebooks"), e.getMessage)
  }

  test("syncFromChanges folds a corpus change feed: deletes out, updates replaced, inserts in") {
    val all = corpus(50)
    // the corpus lives in a Delta table — the source of truth
    val corp = tmp("graft_vidx_sync_corpus")
    val v0 = graft.sources.DeltaWrite.append(spark, all.where(col("vec_id") < 40), corp)
    val dir = tmp("graft_vidx_sync")
    VectorIndex.build(graft.sources.DeltaRead.snapshot(spark, corp),
      "vec_id", "embedding", dir, nCells = 4, iters = 3, format = "delta")

    // corpus evolves: delete a slice, UPDATE ids 0..5 (re-embed), insert new
    graft.sources.DeltaWrite.deleteWhere(spark, corp, col("vec_id") >= 30L)
    val reem = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(4)(d => math.cos(i * 29 + d * 11).toFloat))
    }.toDF("vec_id", "embedding")
    graft.sources.DeltaWrite.upsert(spark, reem, corp, Seq("vec_id"))
    graft.sources.DeltaWrite.append(spark, all.where(col("vec_id") >= 40), corp)

    val cur = VectorIndex.syncFromChanges(spark, dir, corp, "vec_id", "embedding", v0)
    assert(cur === graft.sources.DeltaRead.snapshotInfo(spark, corp).version)

    // the index answers exactly like brute force over the CURRENT corpus
    val current = graft.sources.DeltaRead.snapshot(spark, corp)
    val q = current.where(col("vec_id") < 6)
    assert(collected(VectorIndex.query(spark, dir, q, "vec_id", "embedding",
        k = 3, nProbe = 4)) ===
      collected(Similarity.exactTopK(current, q, "vec_id", "embedding", k = 3)))
    // no duplicated ids, no surviving deleted ids
    val store = graft.sources.DeltaRead.snapshot(spark, s"$dir/vectors")
    assert(store.groupBy(col("vec_id")).count().where(col("count") > 1).count() === 0L)
    assert(store.where(col("vec_id") >= 30L && col("vec_id") < 40L).count() === 0L)
    // no-op when the corpus hasn't moved
    val verBefore = graft.sources.DeltaRead.snapshotInfo(spark, s"$dir/vectors").version
    VectorIndex.syncFromChanges(spark, dir, corp, "vec_id", "embedding", cur)
    assert(graft.sources.DeltaRead.snapshotInfo(spark, s"$dir/vectors").version === verBefore)
  }

  test("build is deterministic across input layouts") {
    val c = corpus(40)
    val d1 = tmp("graft_vidx_a")
    val d2 = tmp("graft_vidx_b")
    VectorIndex.build(c, "vec_id", "embedding", d1, nCells = 4, iters = 3)
    VectorIndex.build(c.repartition(13), "vec_id", "embedding", d2, nCells = 4, iters = 3)
    val a = spark.read.parquet(s"$d1/vectors").select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = spark.read.parquet(s"$d2/vectors").select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a === b, "cell assignment must not depend on the input layout")
  }
}
