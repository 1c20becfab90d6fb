package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ANALYZE TABLE: one-pass persisted table/column statistics (rows, bytes,
  * NDV, null counts) riding each format's own metadata, and the
  * delegated-SQL broadcast gate they make principled — a big table with a
  * selective equality filter broadcasts where the raw file-size threshold
  * says shuffle. */
class AnalyzeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("ANALYZE persists rows/bytes/NDV per format and survives later commits") {
    for (fmt <- Seq("delta", "iceberg")) {
      val t = tmp(s"graft_analyze_$fmt") + "/tbl"
      val df = (1L to 1000L).map(i => (i, i % 10, s"s${i % 97}")).toDF("id", "m", "s")
      if (fmt == "delta") DeltaWrite.append(spark, df, t)
      else IcebergWrite.append(spark, df, t)
      Lake.sql(spark, s"ANALYZE TABLE '$t' COMPUTE STATISTICS")
      val st = Lake.tableStats(spark, t).getOrElse(fail(s"$fmt: no stats"))
      assert(st.rows === 1000L, fmt)
      assert(st.bytes > 0L, fmt)
      assert(st.ndv("id") > 900L && st.ndv("id") < 1100L, s"$fmt: ${st.ndv}")
      assert(st.ndv("m") === 10L, fmt)
      assert(st.nulls("id") === 0L, fmt)
      // histograms persist per numeric column on BOTH formats: 32 bins
      // summing to the rows, with sane interval fractions
      val h = st.hist("id")
      assert(h.counts.length === 32 && h.counts.sum === 1000L, fmt)
      assert(h.lo === 1.0 && h.hi === 1000.0, s"$fmt: ${h.lo}..${h.hi}")
      val half = h.fraction(Double.NegativeInfinity, 500.0)
      assert(half > 0.45 && half < 0.55, s"$fmt: $half")
      assert(st.hist.contains("m") && !st.hist.contains("s"), fmt)
      // stats survive a later data commit (properties/config carry), but
      // are version-stale — the consumer checks the stamped version
      val head = st.version
      if (fmt == "delta") DeltaWrite.append(spark, df, t)
      else IcebergWrite.append(spark, df, t)
      val st2 = Lake.tableStats(spark, t).getOrElse(fail(s"$fmt: stats dropped"))
      assert(st2.rows === 1000L && st2.version === head, fmt)
      // observability TVF: table-level '*' row + one row per column
      Lake.registerSqlSurface(spark)
      val rows = spark.sql(s"SELECT * FROM lake_table_stats('$t')").collect()
      assert(rows.exists(r => r.getString(0) == "*" && r.getLong(1) == 1000L), fmt)
      assert(rows.exists(r => r.getString(0) == "m" && r.getLong(1) == 10L), fmt)
    }
  }

  test("ANALYZE TABLE resolves a bare name under USE") {
    val root = tmp("graft_analyze_use")
    DeltaWrite.append(spark, Seq((1L, 2.0)).toDF("id", "v"), s"$root/ev")
    Lake.sql(spark, s"USE '$root'")
    try {
      Lake.sql(spark, "ANALYZE TABLE ev COMPUTE STATISTICS")
      assert(Lake.tableStats(spark, s"$root/ev").exists(_.rows == 1L))
    } finally Lake.sql(spark, "USE DEFAULT")
  }

  test("stats flip a delegated join to broadcast where file size says shuffle") {
    val root = tmp("graft_analyze_bhj")
    // both sides bigger than the 4 MB session autoBroadcast threshold,
    // incompressible (hashed keys + random doubles) so file size ≈ data
    def big(path: String): Unit =
      DeltaWrite.append(spark,
        spark.range(700000).select(xxhash64(col("id")).as("k"),
          rand(7).as("v")),
        path)
    big(s"$root/fact")
    big(s"$root/dim")
    val hconf = spark.sparkContext.hadoopConfiguration
    def bytesOf(p: String): Long = Lake.read(spark, p).inputFiles.map { f =>
      val hp = new org.apache.hadoop.fs.Path(f)
      hp.getFileSystem(hconf).getFileStatus(hp).getLen
    }.sum
    assert(bytesOf(s"$root/dim") > 4L * 1024 * 1024, "fixture too small for the test")
    val someKey = Lake.read(spark, s"$root/dim").select("k").head().getLong(0)
    val stmt = s"""SELECT count(*) AS c, round(sum(f.v + d.v), 2) AS s
        FROM '$root/fact' f JOIN '$root/dim' d ON f.k = d.k
        WHERE d.k = ${someKey}L"""

    // BEFORE: both scans exceed the threshold, no NDV knowledge → shuffle
    val before = Lake.sqlFrame(spark, stmt)
    val planBefore = before.queryExecution.executedPlan.toString
    assert(!planBefore.contains("BroadcastHashJoin"), planBefore.take(2000))
    val rowBefore = before.collect().head

    // AFTER: dim's equality conjunct × NDV(k) estimates ~1 row → broadcast
    Lake.sql(spark, s"ANALYZE TABLE '$root/dim'")
    val after = Lake.sqlFrame(spark, stmt)
    val rowAfter = after.collect().head // finalize the AQE plan first
    val planAfter = after.queryExecution.executedPlan.toString
    assert(planAfter.contains("BroadcastHashJoin"), planAfter.take(2000))
    assert(rowAfter === rowBefore) // a hint never changes results

    // staleness guard: a write after ANALYZE withdraws the hint
    DeltaWrite.append(spark,
      spark.range(5).select(xxhash64(col("id") + 999).as("k"), rand(3).as("v")),
      s"$root/dim")
    val stale = Lake.sqlFrame(spark, stmt)
    assert(!stale.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("histogram stats flip a RANGE-filtered dim to broadcast (NDV cannot see ranges)") {
    val root = tmp("graft_analyze_hist")
    def big(path: String): Unit =
      DeltaWrite.append(spark,
        spark.range(700000).select(xxhash64(col("id")).as("k"), rand(7).as("v")),
        path)
    big(s"$root/fact")
    big(s"$root/dim")
    // a NARROW band on the uniformly-hashed key: the histogram estimates a
    // tiny surviving fraction; equality/NDV logic sees selectivity 1.0
    val lo = Lake.read(spark, s"$root/dim").select("k")
      .orderBy(col("k")).head().getLong(0)
    val band = s"d.k BETWEEN ${lo}L AND ${lo + (1L << 48)}L"
    val stmt = s"""SELECT count(*) AS c FROM '$root/fact' f
        JOIN '$root/dim' d ON f.k = d.k WHERE $band"""
    val before = Lake.sqlFrame(spark, stmt)
    assert(!before.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val rowBefore = before.collect().head
    Lake.sql(spark, s"ANALYZE TABLE '$root/dim'")
    // the persisted stats now carry a histogram whose band fraction is tiny
    val st = Lake.tableStats(spark, s"$root/dim").get
    val h = st.hist("k")
    assert(h.counts.length === 32 && h.counts.sum === 700000L)
    assert(h.fraction(lo.toDouble, (lo + (1L << 48)).toDouble) < 0.01)
    val after = Lake.sqlFrame(spark, stmt)
    val rowAfter = after.collect().head
    assert(after.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      after.queryExecution.executedPlan.toString.take(2000))
    assert(rowAfter === rowBefore)
  }

  test("stats-driven join reorder: a worst-ordered 3-chain plans the small dim first") {
    val root = tmp("graft_analyze_reorder")
    DeltaWrite.append(spark, spark.range(200000)
      .select(col("id"), (col("id") % 20000).as("mk"), rand(1).as("v")),
      s"$root/fact")
    DeltaWrite.append(spark, spark.range(20000)
      .select(col("id").as("mk"), (col("id") % 100).as("sk"), rand(2).as("w")),
      s"$root/mid")
    DeltaWrite.append(spark, spark.range(100)
      .select(col("id").as("sk"), rand(3).as("u")),
      s"$root/small")
    Seq("fact", "mid", "small").foreach(t =>
      Lake.sql(spark, s"ANALYZE TABLE '$root/$t'"))
    // worst textual order: the big fact first
    val stmt = s"""SELECT count(*) AS c, round(sum(f.v + m.w + s.u), 2) AS x
        FROM '$root/fact' f JOIN '$root/mid' m ON f.mk = m.mk
        JOIN '$root/small' s ON m.sk = s.sk"""
    val df = Lake.sqlFrame(spark, stmt)
    // the leftmost leaf of the optimized join tree is the SMALL table
    val leaves = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.head.toUri.getPath
          case _ => ""
        }
    }
    assert(leaves.nonEmpty && leaves.head.contains("/small/"),
      s"leaf order: ${leaves.mkString(", ")}")
    // results identical to the DataFrame twin
    val twin = Lake.read(spark, s"$root/fact").as("f")
      .join(Lake.read(spark, s"$root/mid").as("m"), col("f.mk") === col("m.mk"))
      .join(Lake.read(spark, s"$root/small").as("s"), col("m.sk") === col("s.sk"))
      .agg(count(lit(1)).as("c"),
        round(sum(col("f.v") + col("m.w") + col("s.u")), 2).as("x"))
    assert(df.collect().toSeq === twin.collect().toSeq)

    // a chain with an outer join keeps its textual order (semantics)
    val outerStmt = s"""SELECT count(*) AS c
        FROM '$root/fact' f JOIN '$root/mid' m ON f.mk = m.mk
        LEFT JOIN '$root/small' s ON m.sk = s.sk"""
    val outerDf = Lake.sqlFrame(spark, outerStmt)
    val outerLeaves = outerDf.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.head.toUri.getPath
          case _ => ""
        }
    }
    assert(outerLeaves.head.contains("/fact/"),
      s"outer-join chain must keep textual order: ${outerLeaves.mkString(", ")}")
    assert(outerDf.collect().head.getLong(0) === 200000L)

    // PARTIAL stats: one stats-less small dim no longer abandons the
    // reorder — its rows estimate falls back to scan bytes / row width,
    // the small dim still plans first, results unchanged
    DeltaWrite.append(spark, spark.range(100)
      .select(col("id").as("sk"), rand(4).as("u")),
      s"$root/small2") // never ANALYZEd
    val partialStmt = s"""SELECT count(*) AS c, round(sum(f.v + m.w + s.u), 2) AS x
        FROM '$root/fact' f JOIN '$root/mid' m ON f.mk = m.mk
        JOIN '$root/small2' s ON m.sk = s.sk"""
    val partialDf = Lake.sqlFrame(spark, partialStmt)
    val pLeaves = partialDf.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.head.toUri.getPath
          case _ => ""
        }
    }
    assert(pLeaves.nonEmpty && pLeaves.head.contains("/small2/"),
      s"stats-less dim must still reorder first: ${pLeaves.mkString(", ")}")
    val pTwin = Lake.read(spark, s"$root/fact").as("f")
      .join(Lake.read(spark, s"$root/mid").as("m"), col("f.mk") === col("m.mk"))
      .join(Lake.read(spark, s"$root/small2").as("s"), col("m.sk") === col("s.sk"))
      .agg(count(lit(1)).as("c"),
        round(sum(col("f.v") + col("m.w") + col("s.u")), 2).as("x"))
    assert(partialDf.collect().toSeq === pTwin.collect().toSeq)
  }

  test("maintain(analyze = true) restores stats freshness after an append") {
    for (fmt <- Seq("delta", "iceberg")) {
      val t = tmp(s"graft_maintain_an_$fmt") + "/tbl"
      val df = (1L to 500L).map(i => (i, i % 7, i * 1.0)).toDF("id", "m", "v")
      def append(d: org.apache.spark.sql.DataFrame): Unit =
        if (fmt == "delta") DeltaWrite.append(spark, d, t)
        else { IcebergWrite.append(spark, d, t); () }
      append(df)
      Lake.sql(spark, s"ANALYZE TABLE '$t' COMPUTE STATISTICS")
      assert(Lake.tableStats(spark, t)
        .exists(_.version == Lake.versionOf(spark, t)), s"$fmt: fresh after ANALYZE")
      // an append stales the stamped version — the planner inputs are
      // silently withdrawn until someone re-runs ANALYZE
      append(df)
      assert(!Lake.tableStats(spark, t)
        .exists(_.version == Lake.versionOf(spark, t)), s"$fmt: stale after append")
      // scheduled maintenance with analyze=true re-derives them (and the
      // rows double, proving a real re-read, not a version re-stamp)
      Lake.maintain(spark, t, minFileAgeMs = Long.MaxValue, analyze = true)
      val st = Lake.tableStats(spark, t).getOrElse(fail(s"$fmt: stats gone"))
      assert(st.version === Lake.versionOf(spark, t), s"$fmt: fresh after maintain")
      assert(st.rows === 1000L, s"$fmt: re-derived rows, got ${st.rows}")
      // already-fresh stats are NOT recomputed (version unchanged, no-op)
      val v = st.version
      Lake.maintain(spark, t, minFileAgeMs = Long.MaxValue, analyze = true)
      assert(Lake.tableStats(spark, t).exists(_.version == v), s"$fmt: no-op when fresh")
    }
  }

  test("tableStats: None only for parquet or an un-analyzed table; a malformed property raises") {
    val pq = tmp("graft_stats_pq") + "/tbl"
    Seq((1L, "a")).toDF("id", "s").write.parquet(pq)
    assert(Lake.tableStats(spark, pq) === None)
    for (fmt <- Seq("delta", "iceberg")) {
      val t = tmp(s"graft_stats_bad_$fmt") + "/tbl"
      Lake.format(fmt).append(spark, Seq((1L, "a")).toDF("id", "s"), t)
      assert(Lake.tableStats(spark, t) === None, fmt)
      Lake.table(spark, t).setProperties(spark, t, Map("graft.stats" -> """{"cols":{}}"""))
      val e = intercept[IllegalArgumentException](Lake.tableStats(spark, t))
      assert(e.getMessage.contains("graft.stats") && e.getMessage.contains(t), e.getMessage)
      Lake.table(spark, t).setProperties(spark, t, Map("graft.stats" -> "not json"))
      intercept[com.fasterxml.jackson.core.JsonProcessingException](Lake.tableStats(spark, t))
    }
  }
}
