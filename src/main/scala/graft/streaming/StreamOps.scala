package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

// Top-level (not nested/private) so Catalyst's encoder codegen can reach them.
case class PurchaseEvent(user_id: Long, value: Double)
case class UserTotal(user_id: Long, total: Double)

/** Typed per-key state for [[StreamOps.twsPurchaseTotals]] (ST9): one
  * `ValueState[Double]` running total per user, declared through the
  * StatefulProcessor handle (state lives in the RocksDB store, listed by
  * name in the state metadata — queryable offline via the state data
  * source, unlike the opaque GroupState blob of flatMapGroupsWithState). */
class PurchaseTotalProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, PurchaseEvent, UserTotal] {
  @transient private var total: org.apache.spark.sql.streaming.ValueState[Double] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    total = getHandle.getValueState[Double]("total",
      org.apache.spark.sql.Encoders.scalaDouble,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[PurchaseEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotal] = {
    val t = (if (total.exists()) total.get() else 0.0) + rows.map(_.value).sum
    total.update(t)
    Iterator(UserTotal(user, t))
  }
}

/** Structured Streaming surface (SURVEY.md §2.8).
  *
  * Each ST query reads the static events parquet through the streaming file
  * source (the reference's S3-event-per-file trigger re-expressed), runs with
  * `Trigger.AvailableNow`, and materializes its FINAL result to a memory
  * sink — which makes every streaming query hash-checkable against a batch
  * SQL oracle. At scale the same plans run continuously with watermark-based
  * state eviction; nothing here is AvailableNow-specific.
  */
object StreamOps {

  /** Streaming view of the events table: file source + the same
    * load-boundary timestamp normalization as the batch path
    * ([[graft.Tables.normalizeTimestamps]] — ns-long legacy data and
    * NTZ-inferred current data both surface `ts` as `TimestampType`). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    // The streaming file source requires a directory; stage the single
    // parquet file into a fresh temp dir (symlink — no data copy).
    val dir = java.nio.file.Files.createTempDirectory("graft_events_stream")
    java.nio.file.Files.createSymbolicLink(dir.resolve("events.parquet"), src)
    val schema = spark.read.parquet(src.toString).schema
    graft.Tables.normalizeTimestamps(
      spark.readStream
        .schema(schema)
        .parquet(dir.toString))
  }

  private val sinkCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Drive a streaming DataFrame to completion (AvailableNow) into a memory
    * sink and return the final table. Sink names are uniquified so the same
    * query can run repeatedly within one session. */
  def runToTable(spark: SparkSession, df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val unique = s"${name}_${sinkCounter.incrementAndGet()}"
    val q = df.writeStream
      .format("memory")
      .queryName(unique)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(unique)
  }

  /** ST1: tumbling 1h windows per event type. */
  def tumblingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
    runToTable(spark, agg, "st1_tumbling_sink", OutputMode.Complete())
      .select(col("window.start").as("hour"), col("event_type"), col("cnt"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))
      .limit(100)
  }

  /** ST2: sliding 1h windows every 15m. */
  def slidingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    runToTable(spark, agg, "st2_sliding_sink", OutputMode.Complete())
      .select(col("window.start").as("wstart"), col("event_type"), col("cnt"))
      .orderBy(col("wstart"), col("event_type"))
      .limit(200)
  }

  /** ST3: session windows (30-min gap) per user → total session count.
    * Note `session_window` opens a NEW session when the gap is exactly the
    * configured 30 min (event joins only while t < sessionEnd), so the
    * batch/lag oracle uses `>=`. */
  def sessionCount(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    runToTable(spark, agg, "st3_session_sink", OutputMode.Complete())
      .agg(count(lit(1)).cast("long").as("sessions"))
  }

  /** ST4: watermark-driven late-data drop, driver-checkable (SURVEY §2.8).
    * The events table is staged as THREE fixture files delivered in order:
    * the recent half minus its last day (ts in [min-day+15d, min-day+29d)),
    * then that last day, then the oldest half as a late straggler. With a
    * 1-minute watermark and append-mode 1h windows:
    *  - Spark keeps TWO watermark values per stateful operator
    *    (SPARK-40925): state EVICTION uses the current batch's watermark,
    *    but LATE-ROW filtering uses the previous batch's planning
    *    watermark — one batch behind. A late file delivered as batch 1
    *    would therefore still be aggregated (filter watermark = batch 0's
    *    initial 0) and then immediately evicted-and-EMITTED. Hence the
    *    bump file: by the time the late file arrives as batch 2, the
    *    late-events watermark is batch 1's planning value = max(batch 0
    *    ts) − 1 min, which is ≥ 14 days past every late row → all dropped
    *    at the input filter.
    *  - The final eviction watermark is max(all on-time ts) − 1 min, so
    *    every on-time window except the still-open final hour is emitted
    *    (append mode only outputs finalized windows).
    * Final result = hourly counts of the on-time half (ts ≥ min-day+15d),
    * minus windows not finalized by the last watermark — exactly
    * expressible as batch SQL over the original events table, which is
    * what the oracle runs. Delivery order is pinned by file modification
    * times (the file source processes oldest first). */
  def watermarkLateDrop(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables(spark, sfDir, "events").select(col("ts"), col("event_type"))
    val b = ev.agg(
      expr("date_trunc('DAY', min(ts)) + INTERVAL '15' DAY").as("split"),
      expr("date_trunc('DAY', min(ts)) + INTERVAL '29' DAY").as("bump")).head()
    val (split, bump) = (b.getTimestamp(0), b.getTimestamp(1))
    val landing = java.nio.file.Files.createTempDirectory("graft_st4_landing")
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_st4_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"st4 fixture write produced no part file in $tmp"))
      val dest = landing.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      require(dest.toFile.setLastModified(mtime), s"cannot set mtime on $dest")
    }
    val now = System.currentTimeMillis()
    stage(ev.where(col("ts") >= lit(split) && col("ts") < lit(bump)), "a_ontime.parquet", now - 60000)
    stage(ev.where(col("ts") >= lit(bump)), "b_bump.parquet", now - 30000)
    stage(ev.where(col("ts") < lit(split)), "c_late.parquet", now)
    val schema = spark.read.parquet(landing.resolve("a_ontime.parquet").toString).schema
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing.toString)
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    runToTable(spark, agg, "st4_watermark_sink", OutputMode.Append())
      .select(col("window.start").as("hour"), col("event_type"), col("cnt"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** ST5: streaming dedup on event_id within the watermark, fed a doubled
    * input (every file delivered twice) — final counts must equal the
    * single-copy batch counts. */
  def streamingDedupCounts(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = new java.io.File(s"$sfDir/events.parquet")
    val dup = java.nio.file.Files.createTempDirectory("graft_dup_events")
    Seq("copy_a.parquet", "copy_b.parquet").foreach { n =>
      java.nio.file.Files.copy(src.toPath, dup.resolve(n))
    }
    val schema = spark.read.parquet(src.getPath).schema
    val stream = graft.Tables.normalizeTimestamps(
        spark.readStream.schema(schema).parquet(dup.toString))
      .withWatermark("ts", "30 days")
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    runToTable(spark, stream, "st5_dedup_sink", OutputMode.Complete())
      .orderBy(col("event_type"))
  }

  /** ST7: stream-stream interval join — purchases joined to signups of the
    * same user within the preceding 7 days. Both sides are real streams
    * (two independent file sources); the time-range predicate plus the
    * watermarks is what lets Spark evict join state at scale (a signup
    * older than 7 days + watermark delay can never match again and is
    * dropped from the state store). Final rows are aggregated after the
    * sink, so the append-mode join output itself is what's exercised. */
  def purchaseSignupJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val purchases = eventsStream(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    val signups = eventsStream(spark, sfDir)
      .where(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val joined = purchases.join(
      signups,
      col("p_user") === col("s_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"))
    runToTable(spark, joined, "st7_join_sink", OutputMode.Append())
      .agg(count(lit(1)).as("matched"), round(sum(col("value")), 2).as("total_value"))
  }

  /** ST12: stream-stream LEFT OUTER interval join — every purchase emits,
    * with signup columns null when no signup of that user precedes it by
    * ≤ 7 days. Outer semantics in streaming are watermark-driven: an
    * unmatched left row is held in state and its null-padded result only
    * emits once the GLOBAL watermark passes its event time (a later
    * matching right row could still arrive until then). Rows inside the
    * final watermark delay therefore never flush before an AvailableNow
    * run terminates — so the left side is cut off at max(ts) − 3 h
    * (computed from the batch table, deterministic for a fixed fixture) and
    * the oracle applies the identical cutoff. The cutoff filter sits AFTER
    * withWatermark: filtering first would drag the left watermark down to
    * cutoff − delay and strand the last delay-window of retained rows in
    * state forever (2 rows at sf0.1 — caught by the oracle). Each side's
    * watermark tracks its true stream max, so the global watermark ends
    * ≥ max(ts) − delay − last-event gap, comfortably past every retained
    * row. At production scale the cutoff is unnecessary — a live stream's
    * watermark keeps advancing — but the EMISSION rule is the same one
    * this query pins. */
  def purchaseSignupLeftJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = graft.Tables(spark, sfDir, "events")
      .agg((max(col("ts")) - expr("INTERVAL 3 HOURS")).as("c")).head().getTimestamp(0)
    val purchases = eventsStream(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
      .where(col("p_ts") <= lit(cutoff))
    val signups = eventsStream(spark, sfDir)
      .where(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val joined = purchases.join(
      signups,
      col("p_user") === col("s_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"),
      "left_outer")
    runToTable(spark, joined, "st12_outer_join_sink", OutputMode.Append())
      .agg(
        count(lit(1)).as("rows_out"),
        count(col("s_user")).as("matched"),
        (count(lit(1)) - count(col("s_user"))).as("unmatched"),
        round(sum(col("value")), 2).as("total_value"))
  }

  /** ST10: stream-static join — the streaming fact side probes a static
    * dimension snapshot; stateless (no watermark, no join state store; the
    * dim is re-resolved per micro-batch, so catalog-backed dims pick up
    * updates between batches). Broadcast keeps the stream side shuffle-free
    * at any rate. */
  def streamStaticSegmentRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventsStream(spark, sfDir)
      .where(col("event_type") === "purchase")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_purchases"), round(sum(col("value")), 2).as("revenue"))
    runToTable(spark, agg, "st10_stream_static_sink", OutputMode.Complete())
      .orderBy(col("c_mktsegment"))
  }

  /** ST19: STREAMING GEOFENCE enrichment — the band-grid join's shape is
    * exactly what makes containment streamable: Structured Streaming
    * forbids arbitrary non-equi stream-static conditions, but the grid
    * reduces point-in-polygon to a stateless EQUI-join on (band, cell)
    * against the static fence cover plus a per-row codegen'd ray-cast
    * filter — [[graft.operators.GeoOps.geofence]] applied verbatim to a
    * streaming points frame. Event sites derive from user_id; fences are
    * t86's kite fixtures; Complete-mode rollup of contained events per
    * fence. At any event rate the stream side carries one key per event
    * and no state store exists at all. */
  def streamingGeofence(spark: SparkSession, sfDir: String): DataFrame = {
    val fences = graft.Tables(spark, sfDir, "nation").select(
        col("n_nationkey").as("poly_id"),
        ((col("n_nationkey") * 97 % 1400) / lit(10.0) - 70.0).as("clat"),
        ((col("n_nationkey") * 139 % 3300) / lit(10.0) - 165.0).as("clon"),
        (lit(2.0) + (col("n_nationkey") * 7 % 80) / lit(10.0)).as("dy"),
        (lit(2.0) + (col("n_nationkey") * 11 % 80) / lit(10.0)).as("dx"))
      .select(col("poly_id"), array(
        struct((col("clat") + col("dy")).as("lat"), col("clon").as("lon")),
        struct(col("clat").as("lat"), (col("clon") + col("dx")).as("lon")),
        struct((col("clat") - col("dy")).as("lat"), col("clon").as("lon")),
        struct(col("clat").as("lat"), (col("clon") - col("dx")).as("lon"))
      ).as("verts"))
    val pts = eventsStream(spark, sfDir).select(col("event_id"),
      ((col("user_id") * 37 % 1700) / lit(10.0) - 85.0).as("plat"),
      ((col("user_id") * 91 % 3600) / lit(10.0) - 180.0).as("plon"))
    val contained = graft.operators.GeoOps.geofence(pts, "event_id",
      "plat", "plon", fences, "poly_id", "verts", cellDeg = 15.0)
    val agg = contained.groupBy(col("poly_id"))
      .agg(count(lit(1)).as("n_events"))
    runToTable(spark, agg, "st19_geofence_sink", OutputMode.Complete())
      .orderBy(col("poly_id"))
  }

  /** ST8: `dropDuplicatesWithinWatermark` — dedup where duplicate events
    * may arrive up to the watermark delay apart, without keeping unbounded
    * key state (unlike plain `dropDuplicates`, state for a key is dropped
    * once the watermark passes it — the production-shaped dedup). Fed the
    * same doubled input as ST5; final counts must equal single-copy batch. */
  def streamingDedupWithinWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = new java.io.File(s"$sfDir/events.parquet")
    val dup = java.nio.file.Files.createTempDirectory("graft_dupw_events")
    Seq("copy_a.parquet", "copy_b.parquet").foreach { n =>
      java.nio.file.Files.copy(src.toPath, dup.resolve(n))
    }
    val schema = spark.read.parquet(src.getPath).schema
    val stream = graft.Tables.normalizeTimestamps(
        spark.readStream.schema(schema).parquet(dup.toString))
      .withWatermark("ts", "30 days")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    runToTable(spark, stream, "st8_dedupw_sink", OutputMode.Complete())
      .orderBy(col("event_type"))
  }

  /** Streaming incremental corpus dedup (the E1′ ingestion shape applied to
    * documents): each micro-batch is near-dedup-filtered against everything
    * ACCEPTED so far (cross-corpus LSH + within-batch, via
    * [[graft.operators.Dedup.incrementalDropNearDuplicates]]) and the
    * survivors are appended to the accepted store. State lives in the
    * accepted table plus its adjacent checkpoint (both derived from
    * `acceptedDir`, so distinct runs over one landing dir don't collide) —
    * restarts resume from what was durably accepted; a replayed batch
    * (foreachBatch is at-least-once) is dropped by an id anti-join against
    * the accepted table before the near-dup pass, so the append is
    * effectively idempotent. At scale the accepted side's band table is
    * precomputed instead of re-derived per batch. */
  def incrementalDedupStream(spark: SparkSession, landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      idCol: String, textCol: String, threshold: Double,
      acceptedDir: String, maxFilesPerTrigger: Int = 1,
      checkpointDir: Option[String] = None): Unit = {
    val hconf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val acceptedPath = new org.apache.hadoop.fs.Path(acceptedDir)
        val existing =
          if (acceptedPath.getFileSystem(hconf).exists(acceptedPath))
            spark.read.schema(schema).parquet(acceptedDir)
          else batch.where(lit(false))
        // replay guard: ids already durably accepted are dropped here — a
        // doc too short to shingle produces no MinHash signature and would
        // otherwise re-append on every replay of its batch
        val fresh = batch.join(existing.select(col(idCol)), Seq(idCol), "left_anti")
        graft.operators.Dedup
          .incrementalDropNearDuplicates(fresh, existing, idCol, textCol, threshold)
          .write.mode("append").parquet(acceptedDir)
        ()
      }
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${acceptedDir.stripSuffix("/")}_checkpoint"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming heavy hitters: a mergeable Misra–Gries summary maintained
    * across micro-batches (Agarwal et al. 2012, "Mergeable Summaries" —
    * public: pointwise-sum two summaries, subtract the (k+1)-th largest
    * count from all, drop ≤ 0 — the union-superset guarantee survives the
    * reduction), finished by an exact recount of the surviving candidates
    * over everything ingested. State is ≤ k rows regardless of stream
    * length or vocabulary; only the final recount touches history, and it
    * shuffles only candidate keys — the streaming form of
    * [[graft.operators.FreqSketch.heavyHitters]].
    *
    * Per batch the summary merge is exact-count + threshold-reduce (batch
    * vocab is bounded by batch size; the MG candidates-only shuffle is the
    * CROSS-batch lever). Same state/checkpoint lineage rule as
    * [[qualityMonitorStream]]. Returns the final exact heavy hitters:
    * items with total count > N/k, their exact counts. */
  def heavyHittersStream(spark: SparkSession, landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      itemsOf: DataFrame => DataFrame, // frame → single string column "item"
      k: Int, stateDir: String, maxFilesPerTrigger: Int = 1,
      checkpointDir: Option[String] = None): DataFrame = {
    require(k > 1, "heavy-hitter capacity must exceed 1")
    import spark.implicits._
    val hconf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).exists(hp)
    }
    // Crash-atomicity: foreachBatch is at-least-once and the state update is
    // read-modify-write, so the summary is VERSIONED — batch B reads the
    // state committed by the meta log (cands_v<lastCommitted>), writes
    // cands_v<B>, and only then appends (B, n) to meta. A replay of B
    // re-derives cands_v<B> from the untouched cands_v<B-1> (idempotent
    // overwrite); a crash between the two writes just leaves an orphan
    // version that the replay rewrites. Meta is read ONCE per run; within a
    // run batches are sequential, so a driver var tracks the commit point.
    val metaDir = s"${stateDir.stripSuffix("/")}/meta"
    def candDir(v: Long) = s"${stateDir.stripSuffix("/")}/cands_v$v"
    var committed: Long =
      if (exists(metaDir))
        spark.read.parquet(metaDir).agg(coalesce(max(col("batch_id")), lit(-1L)))
          .head().getLong(0)
      else -1L
    // Snapshot the landing-dir file list BEFORE starting: AvailableNow only
    // processes data available at query start, so a file appended by a
    // concurrent producer mid-run is invisible to the stream (its rows are
    // not in any batch's n) — the final recount must not see it either, or
    // candidate counts mix un-ingested data and the N/k bar is computed
    // against the wrong N. The recount reads exactly this snapshot.
    val landingPath = new org.apache.hadoop.fs.Path(landingDir)
    val landingFs = landingPath.getFileSystem(hconf)
    val snapshotFiles: Seq[String] =
      if (!landingFs.exists(landingPath)) Seq.empty
      else landingFs.listStatus(landingPath).toSeq
        .filter(_.isFile)
        .map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .map(_.toString)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > committed) { // replay guard, one lineage rule
          // one pass over the batch: null items count toward N (the batch
          // operator's count(*) semantics) but are never candidates
          val counts = itemsOf(batch).select(col("item").cast("string").as("item"))
            .groupBy(col("item")).agg(count(lit(1)).as("resid"))
            .localCheckpoint()
          val n = counts.agg(coalesce(sum(col("resid")), lit(0L))).head().getLong(0)
          val batchCounts = counts.where(col("item").isNotNull)
          val state =
            if (committed >= 0) spark.read.parquet(candDir(committed))
            else batchCounts.limit(0)
          // pointwise sum, then MG-reduce to ≤ k via (k+1)-th-count
          // subtraction (entries beyond k+1 are ≤ the threshold and would
          // reduce to ≤ 0 anyway)
          val summed = state.unionByName(batchCounts)
            .groupBy(col("item")).agg(sum(col("resid")).as("resid"))
            .orderBy(col("resid").desc, col("item")).limit(k + 1)
            .collect() // ≤ 2k+1 rows reach the driver
          val thr = if (summed.length > k) summed(k).getLong(1) else 0L
          val reduced = summed.take(k)
            .map(r => (r.getString(0), r.getLong(1) - thr)).filter(_._2 > 0)
          reduced.toSeq.toDF("item", "resid")
            .coalesce(1).write.mode("overwrite").parquet(candDir(batchId))
          Seq((batchId, n)).toDF("batch_id", "n")
            .coalesce(1).write.mode("append").parquet(metaDir)
          // commit point advances only after BOTH writes; superseded
          // versions are dead state — clean best-effort
          val prev = committed
          committed = batchId
          if (prev >= 0) {
            val p = new org.apache.hadoop.fs.Path(candDir(prev))
            try { p.getFileSystem(hconf).delete(p, true); () } catch { case _: Exception => }
          }
        }
        ()
      }
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${stateDir.stripSuffix("/")}_checkpoint"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // exact finish: recount ONLY the surviving candidates over history.
    // No committed batch (empty landing dir) → empty result, like the
    // batch operator on empty input.
    if (committed < 0 || snapshotFiles.isEmpty)
      return Seq.empty[(String, Long)].toDF("item", "cnt")
    val total = spark.read.parquet(metaDir)
      .where(col("batch_id") <= committed)
      .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    val cands = spark.read.parquet(candDir(committed)).select(col("item"))
    itemsOf(spark.read.schema(schema).parquet(snapshotFiles: _*))
      .select(col("item").cast("string").as("item")).where(col("item").isNotNull)
      .join(broadcast(cands), Seq("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > lit(total.toDouble) / k)
      .orderBy(col("cnt").desc, col("item"))
  }

  /** Streaming sink into an open-format Delta table (ST7 extended): each
    * micro-batch appends through [[graft.sources.DeltaWrite]] with Delta's
    * own `txn` idempotency action — the commit carries (appId, batchId), so
    * a replayed batch (foreachBatch is at-least-once) is skipped when its
    * id is at/below the recorded high-water mark. Exactly-once appends
    * whose output ANY Delta reader can consume; the txn marks survive
    * checkpointing (DeltaWrite.checkpoint carries them). Same
    * checkpoint-lineage rule as the other foreachBatch sinks: batch ids
    * are only meaningful within one stream checkpoint. */
  def deltaSink(spark: SparkSession, landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      table: String, appId: String,
      partitionBy: Seq[String] = Nil, maxFilesPerTrigger: Int = 1,
      checkpointDir: Option[String] = None): Unit = {
    // read ONCE at start; within a run batches are sequential, so a driver
    // var tracks the high-water mark without rescanning the log per batch
    var highWater: Long =
      graft.sources.DeltaRead.txnVersions(spark, table).getOrElse(appId, -1L)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > highWater) {
          graft.sources.DeltaWrite.append(spark, batch, table, partitionBy,
            txn = Some((appId, batchId)))
          highWater = batchId
        }
        ()
      }
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${table.stripSuffix("/")}_checkpoint"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming sink into an open-format Iceberg table (ST13 — the Iceberg
    * twin of [[deltaSink]]): each micro-batch appends through
    * [[graft.sources.IcebergWrite]] with the (appId, batchId) high-water
    * mark recorded in the snapshot's SUMMARY properties (`graft.app-id` /
    * `graft.batch-id` — the snapshot-summary-ledger convention real
    * streaming writers use, e.g. Flink's max-committed-checkpoint-id), so
    * a replayed batch (foreachBatch is at-least-once) is skipped when its
    * id is at/below the recorded mark. Exactly-once appends whose output
    * any Iceberg reader can consume; the marks live in the metadata JSON's
    * snapshot list, so they survive as long as the snapshots do. Same
    * checkpoint-lineage rule as the other foreachBatch sinks. */
  def icebergSink(spark: SparkSession, landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      table: String, appId: String,
      partitionBy: Seq[String] = Nil, maxFilesPerTrigger: Int = 1,
      checkpointDir: Option[String] = None): Unit = {
    var highWater: Long =
      graft.sources.IcebergRead.txnVersions(spark, table).getOrElse(appId, -1L)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > highWater) {
          graft.sources.IcebergWrite.append(spark, batch, table, partitionBy,
            summaryProps = Map("graft.app-id" -> appId, "graft.batch-id" -> batchId.toString))
          highWater = batchId
        }
        ()
      }
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${table.stripSuffix("/")}_checkpoint"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Drive the streaming LAKE SOURCES end-to-end for the t2 harness (the
    * read-side twin of [[deltaSink]]/[[icebergSink]], ST14/ST15): the
    * events table lands in a lake table over three commits, and a
    * streaming aggregation TAILS the table through
    * [[LakeSources.delta]]/[[LakeSources.iceberg]] across two runs of one
    * checkpoint — run 1 sees commit 1 as the initial snapshot; commits 2–3
    * arrive while the stream is down and run 2 resumes from the
    * checkpointed version offset, reading ONLY the new commits'
    * files. The complete-mode totals therefore equal the batch aggregate
    * over all events exactly when offset recovery is exactly-once — a
    * re-emitted snapshot would double-count commit 1, a lost offset would
    * drop commits 2–3. */
  def tailLakeTotals(spark: SparkSession, sfDir: String, kind: String): DataFrame = {
    val ev = graft.Tables(spark, sfDir, "events")
      .select(col("event_id"), col("value"), col("event_type"))
    val base = java.nio.file.Files.createTempDirectory(s"graft_${kind}_tail").toString
    val table = s"$base/tbl"
    val ckpt = s"$base/ckpt"
    val format = graft.sources.Lake.format(kind)
    def append(part: Int): Unit =
      format.append(spark, ev.where(pmod(col("event_id"), lit(3)) === part), table)
    def drain(run: Int): String = {
      val name = s"graft_${kind}_tail_r$run"
      val q = format.stream(spark, table).groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .writeStream.outputMode(OutputMode.Complete()).format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      name
    }
    append(0)
    drain(1)
    append(1)
    append(2)
    spark.table(drain(2)).orderBy(col("event_type"))
  }

  /** CONTINUOUS MATERIALIZED-VIEW MAINTENANCE: tail `source`'s changelog
    * stream ([[LakeSources.deltaChangelog]]/[[LakeSources.icebergChangelog]])
    * and apply each micro-batch to the keyed `target` through
    * [[graft.sources.Lake.applyChanges]] — the streaming form of
    * `Lake.sync`, surviving ANY source commit mix (appends, deletes,
    * upserts, overwrites). The first non-empty batch CREATES the target
    * in `targetFormat` from the seed inserts (batch 0 is the source
    * snapshot tagged 'insert'); offsets live in the engine's checkpoint.
    * Replay safety is semantic: applyChanges deletes the batch's keys
    * then re-inserts, so re-applying the same changelog batch is
    * idempotent — no high-water marks needed. `targetFormat` is parsed
    * ([[graft.sources.Lake.format]]) before the query starts: an unknown
    * name fails with no checkpoint written. */
  def changelogApplyStream(spark: SparkSession, source: String, target: String,
      targetFormat: String, keyCols: Seq[String], checkpointDir: String): Unit = {
    import graft.sources.Lake
    val src = Lake.table(spark, source).changelogStream(spark, source)
    val tgt = Lake.format(targetFormat)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (tgt.exists(spark, target)) Lake.applyChanges(spark, batch, target, keyCols)
        else {
          // seed: deletes against a not-yet-existing table are no-ops
          val inserts = batch.where(col("_change_type") === "insert").drop("_change_type")
          if (!inserts.isEmpty) tgt.append(spark, inserts, target)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** ST20 — STREAMING MERGE sink: a lake source's adds-only stream drives
    * a full MERGE ([[graft.sources.Lake.mergeInto]] — ordered WHEN
    * MATCHED update/delete clauses + NOT MATCHED insert) into a keyed
    * target per micro-batch, each batch ONE atomic commit. The streaming
    * CDC shape with conditional logic: delete commands retract, updates
    * replace, unknown keys insert — all from one statement-shaped clause
    * set. A missing target is seeded EMPTY from the first batch's schema,
    * so the first merge itself populates it through the same clause
    * semantics (everything lands as not-matched).
    *
    * Replay safety is SEMANTIC, like [[changelogApplyStream]]: foreachBatch
    * is at-least-once, so the clause set must be idempotent — UPDATE SET *,
    * DELETE, and INSERT * all are (re-merging an applied batch reproduces
    * the same state; the INSERT's keys exist by then, so it no-ops).
    * Additive updates (`SET v = v + src_v`) are NOT replay-safe here —
    * maintain additive state with the LEDGERED [[aggregateMvStream]]
    * instead. */
  def mergeStream(spark: SparkSession, source: String, target: String,
      targetFormat: String, keys: Seq[String],
      matched: Seq[(Option[org.apache.spark.sql.Column], graft.sources.Lake.MergeAction)],
      notMatched: Option[Option[org.apache.spark.sql.Column]],
      checkpointDir: String,
      evolveSchema: Boolean = false): Unit = {
    import graft.sources.Lake
    val src = Lake.table(spark, source).stream(spark, source)
    val tgt = Lake.format(targetFormat)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // seed the target EMPTY with the stream's schema: the merge
          // below then applies its own not-matched semantics to batch 0
          if (!tgt.exists(spark, target)) tgt.append(spark, batch.limit(0), target)
          Lake.mergeInto(spark, target, batch, keys, matched, notMatched,
            evolveSchema = evolveSchema)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** ST18 — INCREMENTAL AGGREGATE materialized view: maintain a per-key
    * aggregate table over a lake source's changelog stream without ever
    * recomputing history. Each micro-batch reduces to per-key DELTAS
    * (`+measure` for inserts, `−measure` for deletes — one
    * map-side-combined aggregation over the batch), which merge additively
    * into the `target` (Delta or Iceberg per `targetFormat`); a key whose
    * maintained row count reaches 0 disappears from the view. Per batch
    * the work is O(batch + touched keys): the merge joins the tiny delta
    * frame against the view and rewrites only the touched keys through
    * the format's `applyChanges` (delete-then-insert on key,
    * copy-on-write/MOR on just the affected files).
    *
    * Unlike the row-level MV ([[changelogApplyStream]]), additive
    * application is NOT replay-idempotent — applying a batch's deltas
    * twice double-counts. Exactly-once therefore rides the format's
    * idempotency ledger (Delta `txn` action; Iceberg `graft.*`
    * snapshot-summary marks): every merge commit records (appId, batchId),
    * the high-water mark is read once at stream start, and a replayed
    * batch (foreachBatch is at-least-once) is skipped at/below it. Batch
    * ids are scoped to ONE checkpoint lineage: a fresh checkpointDir with
    * a reused appId is rejected at start (see the guard below) — new
    * lineage, new appId.
    *
    * `measures` are (name, long-valued expression over source rows);
    * additivity over ± signs is what makes the maintenance exact, so
    * float measures must be pre-scaled to integer micro-units by the
    * caller (the engine-wide l26 determinism contract) — the view then
    * equals a from-scratch aggregation BIT-EXACTLY regardless of batch
    * boundaries, which floating-point accumulation could not promise. A
    * `mv_cnt` row count is always maintained alongside (it decides key
    * liveness). */
  def aggregateMvStream(spark: SparkSession, source: String, target: String,
      keyCols: Seq[String], measures: Seq[(String, Column)], appId: String,
      checkpointDir: String, targetFormat: String = "delta"): Unit = {
    import graft.sources.Lake
    require(measures.nonEmpty, "aggregateMvStream needs at least one measure")
    val src = Lake.table(spark, source).changelogStream(spark, source)
    // every seed and merge commit carries the (appId, batchId) exactly-once
    // mark the target format records (Delta: txn action; Iceberg: graft.*
    // snapshot-summary ledger)
    val tgt = Lake.format(targetFormat)
    // read ONCE at start; within a run batches are sequential, so a driver
    // var tracks the high-water mark without rescanning the log per batch
    var highWater: Long =
      if (!tgt.exists(spark, target)) -1L
      else tgt.marks(spark, target).getOrElse(appId, -1L)
    // Batch ids are only meaningful within ONE checkpoint lineage (the
    // standard foreachBatch txn caveat): a FRESH checkpointDir renumbers
    // batches from 0, so marks left by a previous checkpoint would make the
    // guard skip genuinely NEW source changes that land in replayed
    // low-numbered batches — forever and silently. Detect that exact
    // configuration (no committed offsets yet, but the target already holds
    // marks for this appId) and refuse loudly instead.
    val hasOffsets = {
      val off = new org.apache.hadoop.fs.Path(s"${checkpointDir.stripSuffix("/")}/offsets")
      val fs = off.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(off) && fs.listStatus(off).nonEmpty
    }
    if (!hasOffsets && highWater >= 0L)
      throw new IllegalStateException(
        s"aggregateMvStream: target $target already holds exactly-once marks for " +
          s"appId '$appId' up to batch $highWater, but checkpoint $checkpointDir is fresh " +
          "(batch ids would restart at 0 and new changes in replayed batch numbers would be " +
          "skipped). Resume with the original checkpointDir, or use a new appId for a new lineage.")
    val allMeasures = ("mv_cnt", lit(1L)) +: measures
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > highWater) {
          val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
          val aggs = allMeasures.map { case (n, e) => sum(sign * e.cast("long")).as(n) }
          val delta = batch.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
          val tableLive = tgt.exists(spark, target)
          val merged =
            if (!tableLive) delta
            else {
              val cur = tgt.read(spark, target, -1L).as("c")
              val d = delta.as("d")
              // null-safe key equality: NULL keys are legal group keys
              val cond = keyCols.map(c => d(c) <=> cur(c)).reduce(_ && _)
              d.join(cur, cond, "left").select(
                keyCols.map(d(_)) ++ allMeasures.map { case (n, _) =>
                  (coalesce(cur(n), lit(0L)) + d(n)).as(n)
                }: _*)
            }
          if (!tableLive) {
            val live = merged.where(col("mv_cnt") > 0)
            if (!live.isEmpty) tgt.append(spark, live, target, mark = Some((appId, batchId)))
          } else {
            // delete-then-insert by key: touched keys drop their old row;
            // only keys still live re-insert. One commit, one txn mark.
            val changes = merged.withColumn("_change_type",
              when(col("mv_cnt") > 0, lit("insert")).otherwise(lit("delete")))
            tgt.applyChanges(spark, changes, target, keyCols, mark = Some((appId, batchId)))
          }
          highWater = batchId
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming data-quality monitor: continuous C2 validation — each
    * micro-batch is audited by [[graft.operators.Quality.check]] and the
    * per-rule violation counts land in a metrics table keyed by batch id.
    * Row-count rules (not-null / in-set / between / predicate) are additive
    * across batches, so the running totals equal a batch audit of
    * everything ingested; a `Unique` rule here means unique WITHIN each
    * micro-batch (cross-batch uniqueness is the incremental-dedup
    * operator's job, which keeps durable state). At scale the audit is one
    * narrow agg per batch — the metrics table grows by #rules rows per
    * trigger, never with data volume.
    *
    * The metrics table and the checkpoint are ONE lineage: batch ids are
    * only meaningful within a checkpoint, so resuming an existing metrics
    * table requires its original checkpoint dir. Starting a FRESH
    * checkpoint against a retained metrics table replays ids from 0 and
    * the guard will treat them as already-audited (append to a new
    * metricsDir instead). */
  def qualityMonitorStream(spark: SparkSession, landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      rules: Seq[graft.operators.Quality.Rule],
      metricsDir: String, maxFilesPerTrigger: Int = 1,
      checkpointDir: Option[String] = None): Unit = {
    val hconf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    // Replay guard (foreachBatch is at-least-once): a batch that already
    // appended must not append again or the additive totals double-count.
    // The max existing id is read ONCE at start — O(1) per batch instead of
    // rescanning a table that grows a file per trigger — and covers the
    // one batch that can legitimately replay: the last one appended before
    // a crash-before-checkpoint. An empty or missing table means nothing
    // was audited (read failure on an empty pre-created dir included).
    val metricsPath = new org.apache.hadoop.fs.Path(metricsDir)
    val maxSeen: Long =
      if (!metricsPath.getFileSystem(hconf).exists(metricsPath)) -1L
      else
        try spark.read.parquet(metricsDir)
          .agg(coalesce(max(col("batch_id")), lit(-1L))).head().getLong(0)
        catch { case _: org.apache.spark.sql.AnalysisException => -1L }
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > maxSeen) {
          graft.operators.Quality.check(batch, rules)
            .withColumn("batch_id", lit(batchId))
            .coalesce(1)
            .write.mode("append").parquet(metricsDir)
        }
        ()
      }
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${metricsDir.stripSuffix("/")}_checkpoint"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** DRIFT MONITOR over a landing stream: per micro-batch, the PSI of the
    * batch's `valueCol` distribution against a reference histogram PINNED
    * at start ([[graft.operators.Profile.bucketCounts]] of `reference`) —
    * the feed-health check a training-data pipeline runs on every
    * delivery. Appends (batch_id, bucket, cnt_ref, cnt_cur, psi_micro)
    * rows to `metricsDir`; total batch PSI = sum(psi_micro)/1e6. Empty
    * batches are skipped (their PSI is meaningless — every p_cur floors
    * at eps). Same replay guard and single-lineage contract as
    * [[qualityMonitorStream]]: at-least-once foreachBatch, so a batch id
    * at/below the max already appended is not re-appended.
    *
    * Scale: the reference is nBuckets longs on the driver (computed once);
    * per batch ONE map-side-combined aggregation over the batch + a
    * ≤ nBuckets-row grid join. Monitoring adds O(batch) work, never
    * O(history). */
  def driftMonitorStream(spark: SparkSession, landingDir: String,
      schema: org.apache.spark.sql.types.StructType, valueCol: String,
      reference: DataFrame, lo: Double, hi: Double, nBuckets: Int,
      metricsDir: String, maxFilesPerTrigger: Int = 1,
      checkpointDir: Option[String] = None): Unit = {
    val refCounts =
      graft.operators.Profile.bucketCounts(reference, col(valueCol), lo, hi, nBuckets)
    val hconf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val metricsPath = new org.apache.hadoop.fs.Path(metricsDir)
    val maxSeen: Long =
      if (!metricsPath.getFileSystem(hconf).exists(metricsPath)) -1L
      else
        try spark.read.parquet(metricsDir)
          .agg(coalesce(max(col("batch_id")), lit(-1L))).head().getLong(0)
        catch { case _: org.apache.spark.sql.AnalysisException => -1L }
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > maxSeen && !batch.isEmpty) {
          graft.operators.Profile.psiAgainst(batch, col(valueCol), refCounts, lo, hi)
            .withColumn("batch_id", lit(batchId))
            .coalesce(1)
            .write.mode("append").parquet(metricsDir)
        }
        ()
      }
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${metricsDir.stripSuffix("/")}_checkpoint"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** ST9: the ST6 semantics on `transformWithState` — Spark 4's
    * StatefulProcessor API (named state variables, timers, per-state TTL),
    * the successor to flatMapGroupsWithState. Requires the RocksDB state
    * store provider; the previous provider conf is restored afterwards so
    * other queries in the session keep their configured store. */
  def twsPurchaseTotals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val purchases = eventsStream(spark, sfDir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("value"))
        .as[PurchaseEvent]
      val updated = purchases
        .groupByKey(_.user_id)
        .transformWithState(new PurchaseTotalProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      // same final-state extraction as ST6: running totals are monotone
      runToTable(spark, updated.toDF(), "st9_tws_sink", OutputMode.Update())
        .groupBy(col("user_id"))
        .agg(round(max(col("total")), 2).as("total"))
        .orderBy(col("user_id"))
        .limit(100)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  /** ST6: custom stateful operator — running per-user purchase totals via
    * flatMapGroupsWithState (explicit GroupState, the §2.8 ST6 contract). */
  def statefulPurchaseTotals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupState
    val purchases = eventsStream(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("value"))
      .as[PurchaseEvent]
    val updated = purchases
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[PurchaseEvent], state: GroupState[Double]) => {
          val total = state.getOption.getOrElse(0.0) + rows.map(_.value).sum
          state.update(total)
          Iterator(UserTotal(user, total))
        })
    // AvailableNow may emit several micro-batches; the running total is
    // monotone, so the final state per user is the max emitted value.
    runToTable(spark, updated.toDF(), "st6_state_sink", OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(round(max(col("total")), 2).as("total"))
      .orderBy(col("user_id"))
      .limit(100)
  }
}
