package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Manifest column bounds (IcebergBounds + writer lower/upper_bounds +
  * IcebergRead.fileStats/scanPruned): spec single-value round trips,
  * write-side stats, and stats-pruned scans with merge-on-read deletes. */
class IcebergStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString + "/tbl"

  test("single-value binaries round-trip every supported type") {
    val cases: Seq[(DataType, Any)] = Seq(
      (BooleanType, true), (BooleanType, false),
      (IntegerType, 0), (IntegerType, -42), (IntegerType, Int.MaxValue),
      (LongType, -9999999999L), (LongType, Long.MaxValue),
      (FloatType, -1.5f), (DoubleType, 3.141592653589793),
      (StringType, ""), (StringType, "héllo✓"),
      (DateType, java.sql.Date.valueOf("1969-07-20")),
      (TimestampType, java.sql.Timestamp.valueOf("1969-12-31 23:59:59.000001")),
      (TimestampType, ts("2024-01-15 10:30:00")))
    cases.foreach { case (dt, v) =>
      assert(IcebergBounds.decode(dt, IcebergBounds.encode(dt, v)) === v, s"$dt $v")
    }
    // spec wire format spot checks: little-endian numerics, UTF-8 strings
    assert(IcebergBounds.encode(IntegerType, 1).toSeq === Seq[Byte](1, 0, 0, 0))
    assert(IcebergBounds.encode(LongType, 256L).toSeq ===
      Seq[Byte](0, 1, 0, 0, 0, 0, 0, 0))
    assert(IcebergBounds.encode(StringType, "ab").toSeq === "ab".getBytes("UTF-8").toSeq)
  }

  test("append records per-file bounds; fileStats decodes them") {
    val table = tmp("ice_stats")
    val df = (1L to 400L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "x")
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    IcebergWrite.append(spark, df, table)

    val st = IcebergRead.fileStats(spark, table).orderBy(col("min_id"))
    assert(st.count() === 4L)
    assert(st.agg(sum(col("rows"))).head().getLong(0) === 400L)
    val first = st.head()
    assert(first.getAs[Long]("min_id") === 1L)
    assert(first.getAs[Long]("nulls_id") === 0L)
    // per-file intervals are disjoint (range layout) and cover the domain
    val ranges = st.select(col("min_id"), col("max_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ranges.forall { case (lo, hi) => lo <= hi })
    assert(ranges.sliding(2).forall { case Array((_, h1), (l2, _)) => h1 < l2; case _ => true })
    // string bounds decode too
    assert(st.select(min(col("min_name"))).head().getString(0).startsWith("n"))
  }

  test("scanPruned reads only interval-surviving files, exact parity") {
    val table = tmp("ice_prune")
    val df = (1L to 1000L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartitionByRange(8, col("id")).sortWithinPartitions(col("id"))
    IcebergWrite.append(spark, df, table)

    val (top, hit, total) = IcebergRead.scanPruned(spark, table, col("id") > 875L)
    assert(total === 8L)
    assert(hit <= 2L, s"top-eighth range should touch ≤2 of $total files, hit $hit")
    assert(top.count() === 125L)

    val (point, hitP, _) = IcebergRead.scanPruned(spark, table, col("id") === 500L)
    assert(hitP === 1L)
    assert(point.select(col("v")).head().getDouble(0) === 1000.0)

    val (none, hitN, _) = IcebergRead.scanPruned(spark, table, col("id") > 5000L)
    assert(hitN === 0L && none.count() === 0L)
  }

  test("stats-pruned scan still applies merge-on-read deletes") {
    val table = tmp("ice_prune_del")
    val df = (1L to 100L).map(i => (i, s"r$i")).toDF("id", "s")
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    IcebergWrite.append(spark, df, table)
    IcebergWrite.deleteWhere(spark, table, col("id") % 10L === 0L)

    val (pruned, hit, total) = IcebergRead.scanPruned(spark, table, col("id") > 50L)
    assert(hit < total)
    // ids 51..100 minus the deleted 60,70,80,90,100
    assert(pruned.count() === 45L)
  }

  test("compaction: rewritten files get fresh bounds, kept entries carry theirs") {
    val table = tmp("ice_prune_compact")
    // partition A: two small files (rewritten); partition B: one (kept)
    IcebergWrite.append(spark,
      (1L to 50L).map(i => ("A", i, i)).toDF("p", "id", "v"), table, Seq("p"))
    IcebergWrite.append(spark,
      (51L to 100L).map(i => ("A", i, i)).toDF("p", "id", "v"), table, Seq("p"))
    IcebergWrite.append(spark,
      (101L to 150L).map(i => ("B", i, i)).toDF("p", "id", "v"), table, Seq("p"))
    IcebergWrite.compact(spark, table)

    // every live file still has id bounds — the kept B entry carried its
    // original maps, the rewritten A file got fresh ones
    val st = IcebergRead.fileStats(spark, table)
    assert(st.count() >= 2L)
    assert(st.where(col("min_id").isNull).count() === 0L)
    val (df, hit, total) = IcebergRead.scanPruned(spark, table, col("id") >= 101L)
    assert(hit < total, s"B-only range should skip the A file(s) ($hit of $total)")
    assert(df.count() === 50L)
  }

  test("identity partition values prune as degenerate intervals") {
    val table = tmp("ice_part_stats")
    IcebergWrite.append(spark,
      ((1L to 40L).map(i => ("x", i)) ++ (41L to 80L).map(i => ("y", i)))
        .toDF("grp", "id"), table, Seq("grp"))
    val (df, hit, total) = IcebergRead.scanPruned(spark, table, col("grp") === "y")
    assert(hit < total, s"partition predicate should prune ($hit of $total)")
    assert(df.count() === 40L)
  }

  /** Strip lower/upper_bounds from every manifest entry — simulates an
    * external engine that writes partition records but no column bounds. */
  private def stripBounds(table: String): Unit = {
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    val metaDir = new java.io.File(s"$table/metadata")
    metaDir.listFiles().filter(f => f.getName.startsWith("m-") &&
        f.getName.endsWith(".avro")).foreach { f =>
      val reader = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
      val schema = reader.getSchema
      val recs = new scala.collection.mutable.ArrayBuffer[GenericRecord]
      while (reader.hasNext) {
        val r = reader.next()
        val df = r.get("data_file").asInstanceOf[GenericRecord]
        if (df.getSchema.getField("lower_bounds") != null) df.put("lower_bounds", null)
        if (df.getSchema.getField("upper_bounds") != null) df.put("upper_bounds", null)
        recs += r
      }
      reader.close()
      val out = new java.io.File(f.getParentFile, f.getName + ".tmp")
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, out)
      recs.foreach(w.append)
      w.close()
      require(f.delete() && out.renameTo(f), s"manifest rewrite failed for $f")
    }
  }

  test("hidden time transforms prune bound-less external files (partition-predicate projection)") {
    // 4 hours of data, hour(ts)-partitioned; bounds then stripped so ONLY
    // the partition records can prune — the external-engine shape
    val table = tmp("ice_hour_noband")
    val rows = (0 until 240).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-05 ${10 + i / 60}%02d:${i % 60}%02d:00"))
    }
    IcebergWrite.append(spark, rows.toDF("id", "ts"), table, Seq("hour(ts)"))
    stripBounds(table)
    // sanity: the stripped table has no ts bounds left
    val st = IcebergRead.fileStats(spark, table)
    assert(st.count() === 4L)
    val pred = col("ts") < java.sql.Timestamp.valueOf("2024-01-05 12:00:00")
    val (df, hit, total) = IcebergRead.scanPruned(spark, table, pred)
    assert(total === 4L && hit === 2L,
      s"hour partition projection should keep exactly the 2 matching files ($hit of $total)")
    assert(df.count() === 120L)
    // boundary exactness: a predicate cutting INSIDE an hour keeps that file
    val (df2, hit2, _) = IcebergRead.scanPruned(spark, table,
      col("ts") <= java.sql.Timestamp.valueOf("2024-01-05 12:30:00"))
    assert(hit2 === 3L && df2.count() === 151L)
  }

  test("integer truncate partition values prune bound-less files as [v, v+w-1]") {
    val table = tmp("ice_trunc_noband")
    IcebergWrite.append(spark, (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s"),
      table, Seq("truncate(25, id)"))
    stripBounds(table)
    val (df, hit, total) = IcebergRead.scanPruned(spark, table, col("id") >= 75L)
    assert(total === 4L && hit === 1L, s"truncate projection should prune ($hit of $total)")
    assert(df.count() === 25L)
  }

  test("bucket partition projection prunes equality/IN probes on bound-less files") {
    val table = tmp("ice_bucket_noband")
    IcebergWrite.append(spark, (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s"),
      table, Seq("bucket(4, id)"))
    stripBounds(table)
    def bucketOf(i: Long) =
      IcebergTransforms.bucketValue(IcebergTransforms.hashLong(i), 4)
    // files per bucket value, from the manifest summaries (several input
    // partitions feed each bucket, so a bucket holds >1 file)
    val filesIn: Map[Int, Long] = IcebergRead.partitionSummary(spark, table)
      .collect().map(r => r.getString(0).stripPrefix("id_bucket=").toInt ->
        r.getAs[Long]("n_files")).toMap
    val total0 = filesIn.values.sum
    // equality probe: only the probe value's bucket survives — the one
    // transform min/max intervals can never express
    val (df, hit, total) = IcebergRead.scanPruned(spark, table, col("id") === 7L)
    assert(total === total0 && hit === filesIn(bucketOf(7L)),
      s"bucket projection should keep exactly the probe's bucket ($hit of $total)")
    assert(hit < total)
    assert(df.count() === 1L)
    // IN probe: the union of the probe values' buckets
    val probes = Seq(7L, 8L, 9L)
    val wantFiles = probes.map(bucketOf).distinct.map(filesIn).sum
    val (df2, hit2, _) = IcebergRead.scanPruned(spark, table, col("id").isin(probes: _*))
    assert(hit2 === wantFiles, s"IN should keep $wantFiles files, kept $hit2")
    assert(df2.count() === 3L)
    // a range probe cannot project through a hash bucket — conservative
    val (df3, hit3, _) = IcebergRead.scanPruned(spark, table, col("id") >= 75L)
    assert(hit3 === total0 && df3.count() === 25L)
  }

  test("derived partition values are NOT decoded for entries of a non-default spec") {
    val table = tmp("ice_spec_gate")
    IcebergWrite.append(spark, (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s"),
      table, Seq("truncate(25, id)"))
    stripBounds(table)
    // surgery: a second spec REUSES the field name "id_trunc" bound to a
    // DIFFERENT transform (identity) and becomes the default — the
    // foreign/evolved-table shape where name-based resolution would
    // decode the spec-0 entries' value 0 as identity [0, 0] instead of
    // truncate [0, 24] and wrongly prune the file holding id = 10
    import com.fasterxml.jackson.databind.node.ObjectNode
    val metaDir = new java.io.File(s"$table/metadata")
    val v = java.nio.file.Files.readString(
      new java.io.File(metaDir, "version-hint.text").toPath).trim
    val metaFile = new java.io.File(metaDir, s"v$v.metadata.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(metaFile).asInstanceOf[ObjectNode]
    val specs = root.withArray("partition-specs")
    val srcId = specs.get(0).path("fields").get(0).path("source-id").asInt()
    val spec1 = om.createObjectNode()
    spec1.put("spec-id", 1)
    val f1 = spec1.withArray("fields").addObject()
    f1.put("name", "id_trunc"); f1.put("transform", "identity")
    f1.put("source-id", srcId); f1.put("field-id", 1001)
    specs.add(spec1)
    root.put("default-spec-id", 1)
    java.nio.file.Files.write(metaFile.toPath, om.writeValueAsBytes(root))
    // id = 10 lives in the truncate partition valued 0; with the spec-id
    // gate the bound-less spec-0 entries stay conservative (all 4 kept),
    // and the row is found — without it the file would be pruned away
    val (df, hit, total) = IcebergRead.scanPruned(spark, table, col("id") === 10L)
    assert(total === 4L && hit === 4L,
      s"spec-mismatched entries must stay conservative ($hit of $total)")
    assert(df.count() === 1L)
  }

  test("writer contract: one file per task or key; stats and sizes are the files'") {
    import DeltaStatsSpec.{assertStatsMatchFiles, contractFrame, nonEmptyTasks}
    val df = contractFrame(spark)
    val cols = Seq("id", "s", "x", "d", "ts", "k")
    def check(table: String, files: Long): Unit = {
      val (stats, _) = IcebergRead.fileStatsFull(spark, table)
      assert(stats.count() === files)
      stats.select("file", "__fsize").collect().foreach { r =>
        assert(r.getLong(1) === java.nio.file.Files.size(java.nio.file.Paths.get(r.getString(0))))
      }
      assertStatsMatchFiles(IcebergRead.fileStats(spark, table), cols)
    }
    // unpartitioned: the caller's partitioning, one file per non-empty task
    val skewed = df.repartition(6, col("k"))
    val unpart = tmp("ice_contract_u")
    IcebergWrite.append(spark, skewed, unpart)
    check(unpart, nonEmptyTasks(skewed))
    // partitioned: one file per partition value (identity and bucket)
    val part = tmp("ice_contract_p")
    IcebergWrite.append(spark, df.repartition(3), part, Seq("k"))
    check(part, 4L)
    val bucketed = tmp("ice_contract_b")
    IcebergWrite.append(spark, df.repartition(3), bucketed, Seq("bucket(3, id)"))
    check(bucketed, 3L)
  }

  test("writer contract: a write whose task throws commits nothing") {
    val boom = udf((i: Long) => if (i == 77L) throw new IllegalStateException("boom") else i)
    val df = DeltaStatsSpec.contractFrame(spark)
    val table = tmp("ice_contract_fail")
    IcebergWrite.append(spark, df, table, Seq("k"))
    val before = IcebergRead.fileStats(spark, table).select("file").collect().toSet
    val meta = new java.io.File(s"$table/metadata").list().toSet
    val onDisk = DeltaStatsSpec.filesUnder(table)
    intercept[Exception](IcebergWrite.append(spark,
      df.withColumn("id", boom(col("id"))), table, Seq("k")))
    assert(new java.io.File(s"$table/metadata").list().toSet === meta)
    assert(IcebergRead.fileStats(spark, table).select("file").collect().toSet === before)
    assert(IcebergRead.snapshot(spark, table).count() === 240L)
    assert(DeltaStatsSpec.filesUnder(table) === onDisk)
    // unpartitioned: the throw lands in a write task holding an open file,
    // beside tasks that finish theirs; the failed write leaves none of them
    val flat = tmp("ice_contract_flat")
    IcebergWrite.append(spark, df, flat)
    val flatOnDisk = DeltaStatsSpec.filesUnder(flat)
    intercept[Exception](IcebergWrite.append(spark, DeltaStatsSpec.midTaskFailure(df, boom), flat))
    assert(DeltaStatsSpec.filesUnder(flat) === flatOnDisk)
  }

  test("delete-file contract: entries describe their files; position order, key field ids") {
    import scala.jdk.CollectionConverters._
    val table = tmp("ice_delete_contract")
    IcebergWrite.append(spark,
      (1L to 40L).map(i => (i, s"n$i")).toDF("id", "name").repartition(3), table)
    assert(IcebergWrite.deleteWhere(spark, table, col("id") % 5 === 0) > 0)
    IcebergWrite.updateWhere(spark, table, Seq("name" -> lit("u")), col("id") % 7 === 0)
    IcebergWrite.deleteWhereEquals(spark, table,
      Seq(1L, 2L, 3L, 4L, 6L).map(Tuple1(_)).toDF("id"), maxKeysPerFile = 2L)
    val expected = (1L to 40L).filterNot(i => i % 5 == 0 || Set(1L, 2L, 3L, 4L, 6L)(i))
      .map(i => (i, if (i % 7 == 0) "u" else s"n$i")).toSet
    assert(IcebergRead.snapshot(spark, table).select("id", "name").as[(Long, String)]
      .collect().toSet === expected)

    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergRead.metadataFile(table))
    val idField = meta.path("schemas").elements().asScala.flatMap(_.path("fields").elements().asScala)
      .find(_.path("name").asText() == "id").get.path("id").asInt()
    val snap = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong() == meta.path("current-snapshot-id").asLong()).get
    val entries = IcebergRead.avroRecords(snap.path("manifest-list").asText())
      .filter(_.get("content").toString.toInt == 1)
      .flatMap(m => IcebergRead.avroRecords(m.get("manifest_path").toString))
      .map(_.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord])
    val byContent = entries.groupBy(_.get("content").toString.toInt)
    assert(byContent(1).size === 2) // deleteWhere + updateWhere
    assert(byContent(2).size > 1) // five keys split across files
    entries.foreach { e =>
      val path = e.get("file_path").toString
      assert(e.get("record_count").toString.toLong === spark.read.parquet(path).count(), path)
      assert(e.get("file_size_in_bytes").toString.toLong ===
        java.nio.file.Files.size(java.nio.file.Paths.get(path)), path)
    }
    byContent(1).foreach { e =>
      val rows = spark.read.parquet(e.get("file_path").toString).as[(String, Long)].collect().toSeq
      assert(rows.nonEmpty && rows === rows.sorted)
    }
    byContent(2).foreach { e =>
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(e.get("file_path").toString),
          spark.sparkContext.hadoopConfiguration))
      try assert(footer.getFileMetaData.getSchema.getFields.get(0).getId.intValue === idField)
      finally footer.close()
      assert(e.get("equality_ids").asInstanceOf[java.util.List[_]].asScala.map(_.toString) ===
        Seq(idField.toString))
    }
  }

  test("manifest lists carry each manifest's row as the snapshot that added it wrote") {
    import scala.jdk.CollectionConverters._
    val table = tmp("ice_manifest_list")
    IcebergWrite.append(spark,
      (1L to 40L).map(i => (i, s"n$i")).toDF("id", "name").repartition(3), table)
    IcebergWrite.deleteWhere(spark, table, col("id") % 5 === 0)
    IcebergWrite.updateWhere(spark, table, Seq("name" -> lit("u")), col("id") % 7 === 0)
    IcebergWrite.upsert(spark, Seq((2L, "up"), (41L, "new")).toDF("id", "name"), table, Seq("id"))
    IcebergWrite.deleteWhereEquals(spark, table, Seq(3L, 4L).map(Tuple1(_)).toDF("id"))

    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergRead.metadataFile(table))
    val lists = meta.path("snapshots").elements().asScala.toSeq
      .map(sn => sn.path("snapshot-id").asLong() -> sn.path("manifest-list").asText())
      .sortBy(_._1)
    assert(lists.size >= 5, lists)
    val fields = Seq("sequence_number", "added_snapshot_id", "added_files_count",
      "added_rows_count", "manifest_length", "content", "partition_spec_id")
    def rows(ml: String): Map[String, Seq[String]] =
      IcebergRead.avroRecords(ml).map(r =>
        r.get("manifest_path").toString -> fields.map(f => r.get(f).toString)).toMap
    val firstSeen = scala.collection.mutable.Map.empty[String, (Long, Seq[String])]
    lists.foreach { case (id, ml) =>
      rows(ml).foreach { case (path, row) =>
        firstSeen.get(path) match {
          case Some((addedBy, orig)) =>
            assert(row === orig, s"snapshot $id restamped $path added by $addedBy")
          case None =>
            // a manifest first listed by snapshot `id` was added by it
            assert(row.take(2) === Seq(id.toString, id.toString), s"$path in snapshot $id")
            firstSeen(path) = (id, row)
        }
      }
    }
    // the append's manifest still counts the append's 40 rows at the head
    val (appendId, appendRow) = firstSeen.values.minBy(_._1)
    assert(appendId === lists.head._1)
    assert(appendRow(3) === "40")
    assert(rows(lists.last._2).values.exists(_ == appendRow))
    // history counts only the manifests each snapshot added
    val added = Lake.history(spark, table).select("version", "added_files")
      .as[(Long, Long)].collect().toMap
    assert(added(appendId) === appendRow(2).toLong)
    assert(added(appendId) === IcebergRead.fileStats(spark, table, appendId).count())
  }
}
