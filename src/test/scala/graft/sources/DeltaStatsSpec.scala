package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.nio.file.{Files, Paths}

/** Delta per-file stats (add.stats JSON) + DeltaRead.fileStats/scanPruned:
  * write-side collection, decode, pruned scans, DV interplay, checkpoint
  * survival; the data-file writer's contract and its partition-dir
  * rendering against Spark's own `partitionBy`. */
class DeltaStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString + "/tbl"

  test("append records stats; fileStats decodes them per file") {
    val table = tmp("delta_stats")
    val df = (1L to 400L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "x")
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    DeltaWrite.append(spark, df, table)

    val st = DeltaRead.fileStats(spark, table).orderBy(col("min_id"))
    assert(st.count() === 4L)
    assert(st.agg(sum(col("rows"))).head().getLong(0) === 400L)
    assert(st.head().getAs[Long]("min_id") === 1L)
    assert(st.head().getAs[Long]("nulls_id") === 0L)
    val ranges = st.select(col("min_id"), col("max_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ranges.sliding(2).forall { case Array((_, h1), (l2, _)) => h1 < l2; case _ => true })
  }

  test("timestamp stats keep full microseconds (ISO round trip)") {
    val table = tmp("delta_stats_ts")
    val t0 = java.sql.Timestamp.valueOf("2024-01-15 10:30:00.123456")
    DeltaWrite.append(spark, Seq((1L, t0)).toDF("id", "ts"), table)
    val st = DeltaRead.fileStats(spark, table)
    assert(st.head().getAs[java.sql.Timestamp]("max_ts") === t0)
  }

  test("scanPruned reads only surviving files, exact parity") {
    val table = tmp("delta_prune")
    val df = (1L to 1000L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(8, col("id")).sortWithinPartitions(col("id"))
    DeltaWrite.append(spark, df, table)

    val (top, hit, total) = DeltaRead.scanPruned(spark, table, col("id") > 875L)
    assert(total === 8L)
    assert(hit <= 2L, s"top-eighth range should touch ≤2 of $total files, hit $hit")
    assert(top.count() === 125L)

    val (point, hitP, _) = DeltaRead.scanPruned(spark, table, col("id") === 500L)
    assert(hitP === 1L)
    assert(point.select(col("v")).head().getDouble(0) === 1000.0)
  }

  test("stats-pruned scan still applies deletion vectors") {
    val table = tmp("delta_prune_dv")
    val df = (1L to 100L).map(i => (i, s"r$i")).toDF("id", "s")
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    DeltaWrite.append(spark, df, table)
    DeltaWrite.deleteWhere(spark, table, col("id") % 10L === 0L)

    val (pruned, hit, total) = DeltaRead.scanPruned(spark, table, col("id") > 50L)
    assert(hit < total)
    assert(pruned.count() === 45L) // 51..100 minus 60,70,80,90,100
  }

  test("partition values prune as degenerate intervals") {
    val table = tmp("delta_part_stats")
    DeltaWrite.append(spark,
      ((1L to 40L).map(i => ("x", i)) ++ (41L to 80L).map(i => ("y", i)))
        .toDF("grp", "id"), table, Seq("grp"))
    val (df, hit, total) = DeltaRead.scanPruned(spark, table, col("grp") === "y")
    assert(hit < total, s"partition predicate should prune ($hit of $total)")
    assert(df.count() === 40L)
    // combined partition + data-column predicate prunes on both
    val (df2, hit2, _) = DeltaRead.scanPruned(spark, table,
      col("grp") === "y" && col("id") > 100L)
    assert(hit2 === 0L && df2.count() === 0L)
  }

  test("stats survive a checkpoint replay") {
    val table = tmp("delta_stats_cp")
    DeltaWrite.append(spark,
      (1L to 200L).map(i => (i, i)).toDF("id", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")), table)
    DeltaWrite.checkpoint(spark, table)
    DeltaWrite.append(spark,
      (201L to 300L).map(i => (i, i)).toDF("id", "v"), table)

    // checkpoint-era files AND post-checkpoint files both carry bounds
    val st = DeltaRead.fileStats(spark, table)
    assert(st.where(col("min_id").isNull).count() === 0L)
    val (df, hit, total) = DeltaRead.scanPruned(spark, table, col("id") <= 100L)
    assert(hit < total)
    assert(df.count() === 100L)
  }

  /** Fixed-seed ScalaCheck samples (the PropertySpec pattern). */
  private def forSamples[T](gen: Gen[T], n: Int = 3)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private def withSessionZone[T](zone: String)(body: => T): T = {
    val prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("partition dirs render values as Spark's partitionBy does; every value reads back") {
    val adversarial: Gen[Any] = Gen.oneOf(" ", "/", "%", "=", ":", "\u00e9\u65e5", "",
      "a b", "x/y=z%:w", "caf\u00e9 1")
    val strings: Gen[Any] = Gen.frequency(4 -> adversarial,
      2 -> Gen.alphaNumStr.map(_.take(6)), 1 -> Gen.const(null))
    def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(5 -> g, 1 -> Gen.const(null))
    val micros = Gen.oneOf(
      Gen.chooseNum(-631152000000000L, 4102444800000000L), // 1950..2100
      Gen.chooseNum(-631152000L, 4102444800L).map(_ * 1000000L)) // whole seconds
    val timestamps = micros.map(us => java.sql.Timestamp.from(
      java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)))
    val dates = Gen.chooseNum(-30000, 30000).map(d =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong)))
    val cases: Seq[(DataType, Gen[Any], String)] = Seq(
      (StringType, strings, "UTC"),
      (IntegerType, orNull(Gen.chooseNum(Int.MinValue, Int.MaxValue)), "UTC"),
      (LongType, orNull(Gen.chooseNum(Long.MinValue, Long.MaxValue)), "UTC"),
      (BooleanType, orNull(Gen.oneOf(true, false)), "UTC"),
      (DateType, orNull(dates), "UTC"),
      (TimestampType, orNull(timestamps), "UTC"),
      (TimestampType, orNull(timestamps), "Asia/Kolkata"))
    cases.foreach { case (dt, gen, zone) =>
      forSamples(Gen.listOfN(8, gen)) { values =>
        val schema = StructType(Seq(StructField("id", LongType), StructField("v", dt)))
        val df = spark.createDataFrame(spark.sparkContext.parallelize(
          values.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 2), schema)
        withSessionZone(zone) {
          // Spark's rendering, from its own partitionBy dir names (Hive-
          // escaped). Non-ASCII strings are rendered as themselves (the
          // string cast is the identity) and kept out of the reference
          // write: a JVM whose path encoding is not UTF-8 cannot name them.
          val ascii = values.indices.filter(i =>
            values(i) == null || values(i).toString.forall(_ < 128)).map(_.toLong)
          val ref = tmp("delta_pdir_ref")
          df.where(col("id").isin(ascii: _*)).write.partitionBy("v").parquet(ref)
          val rendered: Map[Long, String] = Option(new java.io.File(ref).listFiles())
            .getOrElse(Array.empty).filter(_.getName.startsWith("v=")).toSeq.flatMap { d =>
              val s = DeltaRead.pctDecode(d.getName.stripPrefix("v="))
              spark.read.parquet(d.getPath).select("id").as[Long].collect().toSeq
                .map(_ -> (if (s == "__HIVE_DEFAULT_PARTITION__") null else s))
            }.toMap ++ values.indices.filterNot(i => ascii.contains(i.toLong))
              .map(i => i.toLong -> values(i).toString)
          assert(rendered.size === values.size)

          val table = tmp("delta_pdir")
          DeltaWrite.append(spark, df, table, Seq("v"))
          val files = DeltaRead.snapshotInfo(spark, table).files
          assert(files.size === rendered.values.toSet.size, s"one file per value: $values")
          files.foreach { f =>
            val dir = f.path.split('/').init.last
            spark.read.parquet(f.path).select("id").as[Long].collect().foreach { id =>
              val want = rendered(id)
              assert(f.partitionValues("v") === want, s"$dt $zone ${values(id.toInt)}")
              assert(dir === "v=" + (if (want == null) "__HIVE_DEFAULT_PARTITION__"
                else DeltaWrite.pctEncode(want)), s"$dt $zone ${values(id.toInt)}")
            }
          }
          val back = DeltaRead.snapshot(spark, table).select("id", "v").collect()
            .map(r => r.getLong(0) -> r.get(1)).toMap
          values.zipWithIndex.foreach { case (v, i) =>
            assert(back(i.toLong) === (if (v == "") null else v), s"$dt $zone read-back")
          }
        }
      }
    }
  }

  test("writer contract: one file per task or key; stats and sizes are the files'") {
    val df = DeltaStatsSpec.contractFrame(spark)
    def check(table: String, files: Long, cols: Seq[String]): Unit = {
      val snap = DeltaRead.snapshotInfo(spark, table)
      assert(snap.files.size.toLong === files)
      snap.files.foreach(f => assert(f.size === Files.size(Paths.get(f.path)), f.path))
      DeltaStatsSpec.assertStatsMatchFiles(DeltaRead.fileStats(spark, table), cols)
    }
    // unpartitioned: the caller's partitioning, one file per non-empty task
    val skewed = df.repartition(6, col("k"))
    val unpart = tmp("delta_contract_u")
    DeltaWrite.append(spark, skewed, unpart)
    check(unpart, DeltaStatsSpec.nonEmptyTasks(skewed), Seq("id", "s", "x", "d", "ts", "k"))
    // partitioned: one file per key, key columns out of the files
    val part = tmp("delta_contract_p")
    DeltaWrite.append(spark, df.repartition(3), part, Seq("k"))
    check(part, 4L, Seq("id", "s", "x", "d", "ts"))
    // bucketed: one file per bucket ordinal
    val bucketed = tmp("delta_contract_b")
    DeltaWrite.append(spark, df.repartition(3), bucketed, Seq("bucket(3, id)"))
    check(bucketed, 3L, Seq("id", "s", "x", "d", "ts", "k"))
  }

  test("writer contract: a write whose task throws commits nothing") {
    val boom = udf((i: Long) => if (i == 77L) throw new IllegalStateException("boom") else i)
    val table = tmp("delta_contract_fail")
    DeltaWrite.append(spark, DeltaStatsSpec.contractFrame(spark), table, Seq("k"))
    val before = DeltaRead.snapshotInfo(spark, table)
    intercept[Exception](DeltaWrite.append(spark,
      DeltaStatsSpec.contractFrame(spark).withColumn("id", boom(col("id"))), table, Seq("k")))
    intercept[Exception](DeltaWrite.upsert(spark,
      DeltaStatsSpec.contractFrame(spark).withColumn("id", boom(col("id"))), table, Seq("id")))
    val after = DeltaRead.snapshotInfo(spark, table)
    assert(after.version === before.version)
    assert(after.files.map(_.path).toSet === before.files.map(_.path).toSet)
    assert(DeltaRead.snapshot(spark, table).count() === 240L)
    // a failed first write creates no table
    val fresh = tmp("delta_contract_fresh")
    intercept[Exception](DeltaWrite.append(spark,
      DeltaStatsSpec.contractFrame(spark).withColumn("id", boom(col("id"))), fresh))
    assert(!Files.exists(Paths.get(fresh, "_delta_log", "00000000000000000000.json")))
  }
}

/** The data-file writer's contract checks, shared with IcebergStatsSpec. */
object DeltaStatsSpec {
  import org.scalatest.Assertions._

  /** A typed frame the contract cases share: nulls in `s`, a 4-valued key. */
  def contractFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    (0L until 240L).map { i =>
      (i, if (i % 9 == 0) null else s"s${i % 17}", i * 0.25,
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 11)),
        java.sql.Timestamp.valueOf(f"2024-02-0${1 + i % 5} 0${i % 10}:00:00.00${i % 7}%d"),
        (i % 4).toInt)
    }.toDF("id", "s", "x", "d", "ts", "k")
  }

  /** Non-empty tasks of `df` — the unpartitioned writer's file count. */
  def nonEmptyTasks(df: DataFrame): Long =
    df.rdd.mapPartitions(it => Iterator(if (it.hasNext) 1L else 0L)).sum().toLong

  /** Every committed file's rows and min/max/null counts of `cols` equal a
    * Spark aggregate recomputed over that file alone. `stats` holds one
    * row per file with `file`, `rows` and `min_/max_/nulls_<col>`. */
  def assertStatsMatchFiles(stats: DataFrame, cols: Seq[String]): Unit =
    stats.collect().foreach { r =>
      val file = r.getAs[String]("file")
      val agg = stats.sparkSession.read.parquet(file).agg(count(lit(1)), cols.flatMap(c => Seq(
        min(col(c)), max(col(c)), sum(when(col(c).isNull, 1L).otherwise(0L)))): _*).head()
      assert(r.getAs[Long]("rows") === agg.getLong(0), file)
      cols.zipWithIndex.foreach { case (c, i) =>
        assert(r.getAs[Any](s"min_$c") === agg.get(1 + 3 * i), s"min_$c of $file")
        assert(r.getAs[Any](s"max_$c") === agg.get(2 + 3 * i), s"max_$c of $file")
        assert(r.getAs[Long](s"nulls_$c") === agg.getLong(3 + 3 * i), s"nulls_$c of $file")
      }
    }
}
