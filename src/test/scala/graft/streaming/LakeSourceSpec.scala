package graft.streaming

import graft.SparkSpec
import graft.sources.{DeltaWrite, IcebergWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** Streaming SOURCES over the lake formats (LakeSources): initial-snapshot
  * batch, incremental tail across restarts with a shared checkpoint,
  * exactly-once offset recovery, and the remove-commit refusal. */
class LakeSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run one AvailableNow pass of `df` into a fresh memory sink (complete
    * mode), returning the sink rows as (id, v) pairs sorted by id. */
  private def drain(df: org.apache.spark.sql.DataFrame, checkpoint: String,
      sinkName: String): Seq[(Long, Long)] = {
    val q = df.groupBy(col("id")).agg(sum(col("v")).as("sv"))
      .writeStream.outputMode("complete").format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
  }

  test("delta source: initial snapshot, then incremental adds across restarts") {
    val table = tmp("lakesrc_delta") + "/tbl"
    val ckpt = tmp("lakesrc_delta_ckpt")
    DeltaWrite.append(spark, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), table)

    // run 1: fresh checkpoint → the full current snapshot (version 0)
    assert(drain(LakeSources.delta(spark, table), ckpt, "lakesrc_d1")
      === Seq((1L, 10L), (2L, 20L)))

    // two more commits while the stream is down
    DeltaWrite.append(spark, Seq((3L, 30L)).toDF("id", "v"), table)
    DeltaWrite.append(spark, Seq((1L, 100L)).toDF("id", "v"), table)

    // run 2, SAME checkpoint: only the two new commits are read — the
    // complete-mode aggregate now covers all four rows exactly once
    // (a re-emitted snapshot would double ids 1 and 2)
    assert(drain(LakeSources.delta(spark, table), ckpt, "lakesrc_d2")
      === Seq((1L, 110L), (2L, 20L), (3L, 30L)))

    // run 3, nothing new: offsets equal → NO batch executes, so this
    // run's fresh memory sink stays empty — nothing was re-emitted
    assert(drain(LakeSources.delta(spark, table), ckpt, "lakesrc_d3") === Seq.empty)
  }

  test("delta source: remove-commit refused, ignoreChanges accepts") {
    val table = tmp("lakesrc_deltarm") + "/tbl"
    val ckpt = tmp("lakesrc_deltarm_ckpt")
    DeltaWrite.append(spark, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), table)
    assert(drain(LakeSources.delta(spark, table), ckpt, "lakesrc_rm1")
      === Seq((1L, 10L), (2L, 20L)))

    // an overwrite (remove + add) makes adds-only tailing ambiguous
    Seq((9L, 90L)).toDF("id", "v").createOrReplaceTempView("lakesrc_rm_stage")
    DeltaWrite.overwrite(spark, spark.table("lakesrc_rm_stage"), table)
    val e = intercept[StreamingQueryException] {
      drain(LakeSources.delta(spark, table), ckpt, "lakesrc_rm2")
    }
    assert(e.getMessage.contains("ignoreChanges") ||
      Option(e.getCause).exists(_.getMessage.contains("ignoreChanges")))

    // ignoreChanges tails on, emitting the overwrite's added file
    assert(drain(LakeSources.delta(spark, table, ignoreChanges = true),
      ckpt, "lakesrc_rm3") === Seq((1L, 10L), (2L, 20L), (9L, 90L)))
  }

  test("iceberg source: initial snapshot, then incremental adds across restarts") {
    val table = tmp("lakesrc_ice") + "/tbl"
    val ckpt = tmp("lakesrc_ice_ckpt")
    IcebergWrite.append(spark, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), table)

    assert(drain(LakeSources.iceberg(spark, table), ckpt, "lakesrc_i1")
      === Seq((1L, 10L), (2L, 20L)))

    IcebergWrite.append(spark, Seq((3L, 30L)).toDF("id", "v"), table)
    IcebergWrite.append(spark, Seq((1L, 100L)).toDF("id", "v"), table)

    assert(drain(LakeSources.iceberg(spark, table), ckpt, "lakesrc_i2")
      === Seq((1L, 110L), (2L, 20L), (3L, 30L)))

    // nothing new → no batch → fresh sink stays empty (exactly-once)
    assert(drain(LakeSources.iceberg(spark, table), ckpt, "lakesrc_i3") === Seq.empty)
  }

  test("maxVersionsPerBatch bounds catch-up batches; all rows arrive exactly once") {
    val table = tmp("lakesrc_cap") + "/tbl"
    val ckpt = tmp("lakesrc_cap_ckpt")
    DeltaWrite.append(spark, Seq((0L, 1L)).toDF("id", "v"), table)
    assert(drain(LakeSources.delta(spark, table, maxVersionsPerBatch = Some(2)),
      ckpt, "lakesrc_c1") === Seq((0L, 1L)))

    // five commits while the stream is down — an uncapped restart would
    // plan ONE batch over the whole backlog; cap 2 needs ≥ 3
    (1 to 5).foreach(i =>
      DeltaWrite.append(spark, Seq((i.toLong, i * 10L)).toDF("id", "v"), table))
    val q = LakeSources.delta(spark, table, maxVersionsPerBatch = Some(2))
      .groupBy(col("id")).agg(sum(col("v")).as("sv"))
      .writeStream.outputMode("complete").format("memory").queryName("lakesrc_c2")
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("lakesrc_c2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(rows === (0 to 5).map(i => (i.toLong, if (i == 0) 1L else i * 10L)))
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
  }

  test("iceberg cap advances by snapshot LINEAGE, not id arithmetic") {
    val table = tmp("lakesrc_icap") + "/tbl"
    val ckpt = tmp("lakesrc_icap_ckpt")
    IcebergWrite.append(spark, Seq((0L, 1L)).toDF("id", "v"), table)
    assert(drain(LakeSources.iceberg(spark, table, maxVersionsPerBatch = Some(1)),
      ckpt, "lakesrc_ic1") === Seq((0L, 1L)))
    (1 to 3).foreach(i =>
      IcebergWrite.append(spark, Seq((i.toLong, i * 10L)).toDF("id", "v"), table))
    val q = LakeSources.iceberg(spark, table, maxVersionsPerBatch = Some(1))
      .groupBy(col("id")).agg(sum(col("v")).as("sv"))
      .writeStream.outputMode("complete").format("memory").queryName("lakesrc_ic2")
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("lakesrc_ic2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(rows === (0 to 3).map(i => (i.toLong, if (i == 0) 1L else i * 10L)))
    // cap 1 → one commit per batch → exactly 3 data batches
    assert(q.recentProgress.count(_.numInputRows > 0) === 3)

    // advanceSnapshot: clamps at the head, degrades to `to` off-lineage
    // history emits rows in commit (lineage) order; `version` is the id
    val ids = graft.sources.IcebergRead.history(spark, table)
      .select(col("version")).collect().map(_.getLong(0))
    assert(graft.sources.IcebergRead.advanceSnapshot(spark, table, ids(0), 2, ids.last)
      === ids(2))
    assert(graft.sources.IcebergRead.advanceSnapshot(spark, table, ids(0), 99, ids.last)
      === ids.last)
    assert(graft.sources.IcebergRead.advanceSnapshot(spark, table, -42L, 1, ids.last)
      === ids.last)
  }

  test("changelog stream maintains a cross-format downstream MV through deletes") {
    import graft.sources.{DeltaWrite, IcebergRead, Lake}
    val base = tmp("lakesrc_cdc")
    val src = s"$base/src"
    val dst = s"$base/dst"
    val ckpt = s"$base/ckpt"
    DeltaWrite.append(spark, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), src)

    // run 1: seed batch creates the Iceberg target from the snapshot
    StreamOps.changelogApplyStream(spark, src, dst, "iceberg", Seq("id"), ckpt)
    assert(IcebergRead.snapshot(spark, dst).collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq === Seq((1L, 10L), (2L, 20L)))

    // append + DV delete + upsert while the stream is down
    DeltaWrite.append(spark, Seq((3L, 30L)).toDF("id", "v"), src)
    DeltaWrite.deleteWhere(spark, src, col("id") === 1L)
    DeltaWrite.upsert(spark, Seq((2L, 200L)).toDF("id", "v"), src, Seq("id"))

    // run 2, same checkpoint: the changelog replays only the new commits
    StreamOps.changelogApplyStream(spark, src, dst, "iceberg", Seq("id"), ckpt)
    assert(IcebergRead.snapshot(spark, dst).collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq === Seq((2L, 200L), (3L, 30L)))

    // the MV equals the source exactly
    assert(Lake.read(spark, dst).orderBy("id").collect().toSeq ===
      Lake.read(spark, src).orderBy("id").collect().toSeq)
  }

  test("changelog stream refuses an unknown target format before the query starts") {
    val base = tmp("lakesrc_cdc_fmt")
    val src = s"$base/src"
    val ckpt = s"$base/ckpt"
    DeltaWrite.append(spark, Seq((1L, 10L)).toDF("id", "v"), src)
    val e = intercept[IllegalArgumentException] {
      StreamOps.changelogApplyStream(spark, src, s"$base/dst", "hudi", Seq("id"), ckpt)
    }
    assert(e.getMessage.contains("hudi"), e.getMessage)
    assert(!new java.io.File(ckpt).exists(), "the stream started and wrote its checkpoint")
    assert(!new java.io.File(s"$base/dst").exists())
  }

  test("aggregate MV: additive maintenance through appends, deletes, upserts") {
    import graft.sources.{DeltaRead, DeltaWrite}
    val base = tmp("lakesrc_aggmv")
    val src = s"$base/src"
    val mv = s"$base/mv"
    val ckpt = s"$base/ckpt"
    def run(): Unit = StreamOps.aggregateMvStream(spark, src, mv, Seq("grp"),
      Seq("sum_v" -> col("v")), appId = "spec_mv", checkpointDir = ckpt)
    def view(): Seq[(String, Long, Long)] =
      DeltaRead.snapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

    DeltaWrite.append(spark,
      Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 5L)).toDF("grp", "id", "v"), src)
    run()
    assert(view() === Seq(("a", 2L, 30L), ("b", 1L, 5L)))

    // while the stream is down: new group, delete ALL of b, upsert one a-row
    DeltaWrite.append(spark, Seq(("c", 4L, 7L)).toDF("grp", "id", "v"), src)
    DeltaWrite.deleteWhere(spark, src, col("grp") === "b")
    DeltaWrite.upsert(spark, Seq(("a", 2L, 200L)).toDF("grp", "id", "v"), src, Seq("id"))
    run()
    // b vanished (mv_cnt hit 0); a's sum reflects the upsert delta
    assert(view() === Seq(("a", 2L, 210L), ("c", 1L, 7L)))

    // replay guard: re-running with the SAME checkpoint applies nothing new
    run()
    assert(view() === Seq(("a", 2L, 210L), ("c", 1L, 7L)))

    // the MV always equals the from-scratch aggregation of the source
    val fresh = graft.sources.Lake.read(spark, src)
      .groupBy(col("grp")).agg(count(lit(1)).as("mv_cnt"), sum(col("v")).as("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(view() === fresh)
  }

  test("aggregate MV: Iceberg target with snapshot-summary replay marks") {
    import graft.sources.{DeltaWrite, IcebergRead}
    val base = tmp("lakesrc_aggmv_ice")
    val src = s"$base/src"
    val mv = s"$base/mv"
    val ckpt = s"$base/ckpt"
    def run(): Unit = StreamOps.aggregateMvStream(spark, src, mv, Seq("grp"),
      Seq("sum_v" -> col("v")), appId = "ice_mv", checkpointDir = ckpt,
      targetFormat = "iceberg")
    def view(): Seq[(String, Long, Long)] =
      IcebergRead.snapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

    DeltaWrite.append(spark,
      Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("grp", "id", "v"), src)
    run()
    assert(view() === Seq(("a", 1L, 10L), ("b", 1L, 20L)))
    DeltaWrite.deleteWhere(spark, src, col("grp") === "b")
    DeltaWrite.append(spark, Seq(("a", 3L, 5L)).toDF("grp", "id", "v"), src)
    run()
    assert(view() === Seq(("a", 2L, 15L)))
    // a fresh checkpoint with the SAME appId renumbers batches from 0 —
    // the summary marks would then silently skip genuinely new changes, so
    // the start-time guard must refuse the configuration outright
    val ex = intercept[IllegalStateException] {
      StreamOps.aggregateMvStream(spark, src, mv, Seq("grp"),
        Seq("sum_v" -> col("v")), appId = "ice_mv", checkpointDir = s"$base/ckpt2",
        targetFormat = "iceberg")
    }
    assert(ex.getMessage.contains("new appId"))
    assert(view() === Seq(("a", 2L, 15L)))
    // resuming with the ORIGINAL checkpoint (no new source changes) is a no-op
    run()
    assert(view() === Seq(("a", 2L, 15L)))
  }

  test("aggregate MV: a fresh checkpoint reusing an appId is refused; new appId double-counts nothing") {
    import graft.sources.{DeltaRead, DeltaWrite}
    val base = tmp("lakesrc_aggmv_txn")
    val src = s"$base/src"
    val mv = s"$base/mv"
    DeltaWrite.append(spark, Seq(("a", 1L, 10L)).toDF("grp", "id", "v"), src)
    StreamOps.aggregateMvStream(spark, src, mv, Seq("grp"),
      Seq("sum_v" -> col("v")), appId = "txn_mv", checkpointDir = s"$base/ckpt1")
    // a FRESH checkpoint renumbers batches from 0 while the target already
    // holds (txn_mv, 0): skipping by mark would lose any NEW changes that
    // land in replayed batch numbers, so the guard refuses at start
    val ex = intercept[IllegalStateException] {
      StreamOps.aggregateMvStream(spark, src, mv, Seq("grp"),
        Seq("sum_v" -> col("v")), appId = "txn_mv", checkpointDir = s"$base/ckpt2")
    }
    assert(ex.getMessage.contains("txn_mv"))
    assert(DeltaRead.snapshot(spark, mv).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("a", 1L, 10L)))
    // the same-checkpoint replay path still dedups: re-run with ckpt1 applies nothing
    StreamOps.aggregateMvStream(spark, src, mv, Seq("grp"),
      Seq("sum_v" -> col("v")), appId = "txn_mv", checkpointDir = s"$base/ckpt1")
    assert(DeltaRead.snapshot(spark, mv).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("a", 1L, 10L)))
  }

  test("Lake.scanPruned dispatches per format; lake_scan_where from SQL") {
    import graft.sources.{DeltaWrite, Lake}
    val table = tmp("lakesrc_scanpruned") + "/tbl"
    DeltaWrite.append(spark,
      (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v")
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")), table)
    val (df, hit, total) = Lake.scanPruned(spark, table, col("id") > 80L)
    assert(hit < total && df.count() === 20L)

    Lake.registerSqlSurface(spark)
    val viaSql = spark.sql(
      s"SELECT count(*) AS n FROM lake_scan_where('$table', 'id > 80')").head().getLong(0)
    assert(viaSql === 20L)
  }

  test("lake history and file-stats surfaces (API + SQL)") {
    import graft.sources.{DeltaWrite, IcebergWrite, Lake}
    val del = tmp("lakesrc_hist_d") + "/tbl"
    DeltaWrite.append(spark, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), del)
    DeltaWrite.append(spark, Seq((3L, 30L)).toDF("id", "v"), del)
    DeltaWrite.deleteWhere(spark, del, col("id") === 1L)
    val h = Lake.history(spark, del).orderBy(col("version"))
      .select(col("operation")).as[String].collect().toSeq
    assert(h === Seq("create", "append", "delete"))

    val ice = tmp("lakesrc_hist_i") + "/tbl"
    IcebergWrite.append(spark, Seq((1L, 10L)).toDF("id", "v"), ice)
    IcebergWrite.append(spark, Seq((2L, 20L)).toDF("id", "v"), ice)
    IcebergWrite.compact(spark, ice)
    val hi = Lake.history(spark, ice).select(col("operation")).as[String].collect().toSeq
    assert(hi === Seq("append", "append", "replace"))

    Lake.registerSqlSurface(spark)
    assert(spark.sql(s"SELECT count(*) FROM lake_history('$del')").head().getLong(0) === 3L)
    val stats = spark.sql(
      s"SELECT min(min_id), max(max_id) FROM lake_file_stats('$del')").head()
    assert(stats.getLong(0) === 1L && stats.getLong(1) === 3L)
  }

  test("schema history reports create/add_column across formats (API + SQL)") {
    val dt = tmp("lakesh_delta") + "/tbl"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), dt)
    DeltaWrite.append(spark,
      Seq((2L, "b", 1.5)).toDF("id", "name", "score"), dt, mergeSchema = true)
    val dh = graft.sources.Lake.schemaHistory(spark, dt).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    assert(dh.toSeq === Seq(
      (0L, "create", "id", null, "bigint"),
      (0L, "create", "name", null, "string"),
      (1L, "add_column", "score", null, "double")))

    val it = tmp("lakesh_ice") + "/tbl"
    IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "name"), it)
    IcebergWrite.append(spark,
      Seq((2L, "b", 1.5)).toDF("id", "name", "score"), it, mergeSchema = true)
    val ih = graft.sources.Lake.schemaHistory(spark, it).collect()
      .map(r => (r.getString(1), r.getString(2)))
    assert(ih.toSeq === Seq(
      ("create", "id"), ("create", "name"), ("add_column", "score")))

    graft.sources.Lake.registerSqlSurface(spark)
    assert(spark.sql(s"SELECT count(*) AS c FROM lake_schema_history('$dt')")
      .collect().head.getLong(0) === 3L)
  }

  test("iceberg schema history detects renames by field id") {
    val dir = tmp("lakesh_ren") + "/tbl"
    new java.io.File(dir + "/metadata").mkdirs()
    // hand-built v2 metadata: field 2 renamed nm -> name between schemas
    val meta = s"""{"format-version":2,"table-uuid":"u","location":"$dir","last-column-id":2,
      "current-schema-id":1,
      "schemas":[
        {"schema-id":0,"type":"struct","fields":[
          {"id":1,"name":"id","required":false,"type":"long"},
          {"id":2,"name":"nm","required":false,"type":"string"}]},
        {"schema-id":1,"type":"struct","fields":[
          {"id":1,"name":"id","required":false,"type":"long"},
          {"id":2,"name":"name","required":false,"type":"string"}]}],
      "current-snapshot-id":11,
      "snapshots":[
        {"snapshot-id":10,"timestamp-ms":1,"schema-id":0,"summary":{"operation":"append"}},
        {"snapshot-id":11,"parent-snapshot-id":10,"timestamp-ms":2,"schema-id":1,"summary":{"operation":"append"}}],
      "snapshot-log":[{"snapshot-id":10,"timestamp-ms":1},{"snapshot-id":11,"timestamp-ms":2}]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "metadata", "v1.metadata.json"), meta)
    val h = graft.sources.IcebergRead.schemaHistory(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(h.toSeq === Seq(
      (10L, "create", "id"), (10L, "create", "nm"),
      (11L, "rename_column", "nm -> name")))
  }

  test("Lake.maintain: compaction + checkpoint cadence + retention in one call") {
    import graft.sources.{DeltaRead, DeltaWrite, IcebergWrite, Lake}
    val del = tmp("lakesrc_maint_d") + "/tbl"
    (1 to 12).foreach(i => DeltaWrite.append(spark, Seq((i.toLong, i.toLong)).toDF("id", "v"), del))
    val m = Lake.maintain(spark, del, retain = 1, minFileAgeMs = 0L,
      checkpointEveryCommits = 10)
    assert(m.format === "delta" && m.compacted && m.checkpointed)
    assert(m.reclaimedFiles > 0) // the 12 pre-compaction small files
    assert(DeltaRead.snapshot(spark, del).count() === 12L)
    // idempotent second run: nothing to compact, tail below cadence,
    // nothing unreferenced
    val m2 = Lake.maintain(spark, del, retain = 1, minFileAgeMs = 0L,
      checkpointEveryCommits = 10)
    assert(!m2.compacted && !m2.checkpointed && m2.reclaimedFiles === 0)

    val ice = tmp("lakesrc_maint_i") + "/tbl"
    (1 to 3).foreach(i => IcebergWrite.append(spark, Seq((i.toLong, i.toLong)).toDF("id", "v"), ice))
    val mi = Lake.maintain(spark, ice, retain = 1, minFileAgeMs = 0L)
    assert(mi.format === "iceberg" && mi.compacted && mi.reclaimedFiles > 0)
    assert(Lake.read(spark, ice).count() === 3L)
  }

  test("short names resolve through DataSourceRegister") {
    val table = tmp("lakesrc_short") + "/tbl"
    DeltaWrite.append(spark, Seq((1L, 1L)).toDF("id", "v"), table)
    val df = spark.readStream.format("graft-delta").load(table)
    assert(df.isStreaming && df.schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("streaming appends keep a bucketed Delta layout; routes and compaction survive") {
    import graft.sources.Lake
    val root = tmp("lakesrc_bucketed")
    val table = s"$root/tbl"
    val landing = s"$root/landing"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    // seed the table bucketed; the sink's appends then AUTO-ADOPT the
    // stamped graft.bucketSpec (no partitionBy passed to the sink)
    DeltaWrite.append(spark, Seq((0L, 0L)).toDF("id", "v"), table,
      partitionBy = Seq("bucket(4, id)"))
    // N landing files → N micro-batches (maxFilesPerTrigger = 1)
    (1 to 3).foreach { i =>
      Seq((i.toLong, i * 10L), (i + 100L, i * 100L)).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(landing)
    }
    graft.streaming.StreamOps.deltaSink(spark, landing, schema, table,
      appId = "bucketed_sink_spec")
    // every streamed batch staged under __gb= prefixes: the layout (and
    // so every zero-exchange route) still offered after N batches
    val layout = Lake.bucketLayoutMoR(spark, table, "id")
    assert(layout.exists(_._1 == 4), "streamed-into table must keep its layout")
    assert(layout.get._2.values.map(_.size).sum >= 4,
      "per-batch bucket files expected")
    val routed = Lake.sqlFrame(spark,
      s"SELECT id, count(*) AS cnt FROM '$table' GROUP BY id ORDER BY id")
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD") && !plan.contains("HashAggregate"),
      plan.take(1500))
    assert(routed.count() === 7) // seed + 3 batches × 2 rows
    // compaction bins PER BUCKET and re-stages prefixed → layout survives,
    // file count shrinks, the route keeps firing
    val before = layout.get._2.values.map(_.size).sum
    DeltaWrite.compact(spark, table)
    val after = Lake.bucketLayoutMoR(spark, table, "id")
    assert(after.exists(_._1 == 4), "compaction must keep the layout")
    assert(after.get._2.values.map(_.size).sum < before,
      "compaction must merge the per-batch files")
    assert(Lake.sqlFrame(spark,
      s"SELECT id, count(*) AS cnt FROM '$table' GROUP BY id ORDER BY id")
      .count() === 7)
  }
}
