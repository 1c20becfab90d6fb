package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** The one writer of lake data files, shared by [[DeltaWrite]] and
  * [[IcebergWrite]]. A commit in either format is data files plus log
  * entries describing them, and that description is format-neutral: path,
  * size, row count, partition values, column min/max/null counts and
  * bloom sketches. All of it is computed in the write tasks, in the one
  * pass that writes the rows; each format only encodes the result
  * (Delta's `add.stats` JSON, Iceberg's manifest entries and bloom
  * sidecar).
  *
  * Distribution is decided here and nowhere else:
  *  - partitioned (non-empty `keyCols`): hash-distribute by the key at
  *    `defaultParallelism` and sort within tasks, so each key is one
  *    contiguous run in one task — one file per key per write. Without the
  *    distribution every input task writes into every key it sees (a
  *    single-task upstream wrote ~19k partition dirs sequentially). The
  *    repartition is NUMBERED on purpose: the column-only form is
  *    AQE-coalescible, and a few-MB shuffle coalesces to one task.
  *  - unpartitioned: the caller's partitioning is kept, one file per
  *    non-empty task and no shuffle (what `df.write.parquet` does), so a
  *    compaction's `repartition(n)` or a z-order layout decides the count.
  *
  * Min/max use Spark's own orderings (NaN/UTF-8 semantics of the `min`/
  * `max` aggregates) and blooms insert `xxhash64(col)` (seed 42) per row
  * exactly as `BloomOps.bloomAgg`. A failed task attempt can orphan
  * UUID-named files; no commit cites them, since a commit only uses the
  * results of the job, which fails as a whole. */
object DataFileWriter {

  /** Bloom sketch sizing (expected items, bits) — the `bloomAgg` shape. */
  private val BloomItems = 1000000L
  private val BloomBits = 1024L * 1024

  /** One column's stats over one file: min/max are null when every value
    * is null (or the file holds none). Values are Spark's external types. */
  final case class ColumnStats(column: String, min: Any, max: Any, nulls: Long)

  /** One written file. `rel` is relative to the write root and `path` is
    * absolute (under the root's real path). `values` are the typed key
    * values (Spark external types, null for a null key); `valueStrings`
    * are Spark's partition-path rendering of them — the session-zone
    * string cast, null for a null or empty value. */
  final case class WrittenFile(rel: String, path: String, size: Long, rows: Long,
      values: Seq[Any], valueStrings: Seq[String], stats: Seq[ColumnStats],
      blooms: Seq[(String, Array[Byte])])

  /** Write `df` as parquet files under `root`. Files hold `dataCols` (in
    * that order); `keyCols` are the typed partition keys — one file per
    * key, placed in the directory `dirOf(valueStrings)` names ("" = the
    * root itself). `statCols` and `bloomCols` name data columns. An empty
    * input writes no file. */
  def write(df: DataFrame, root: String, dataCols: Seq[String], keyCols: Seq[String],
      dirOf: Seq[String] => String, statCols: Seq[String],
      bloomCols: Seq[String]): Seq[WrittenFile] = {
    val spark = df.sparkSession
    // distribute BEFORE projecting: a repartition directly on the caller's
    // plan collapses with a trailing repartition of its own (one shuffle,
    // not two)
    val laid = (
      if (keyCols.isEmpty) df
      else df.repartition(spark.sparkContext.defaultParallelism, keyCols.map(col): _*)
        .sortWithinPartitions(keyCols.map(col): _*)
    ).select((dataCols ++ keyCols).map(col): _*)
    val nData = dataCols.size
    val dataSchema = StructType(laid.schema.fields.take(nData))
    val keyTypes: Seq[DataType] = laid.schema.fields.toSeq.drop(nData).map(_.dataType)
    val statIdx = statCols.map(dataSchema.fieldIndex)
    val statTypes = statIdx.map(i => dataSchema.fields(i).dataType)
    val bloomIdx = bloomCols.map(dataSchema.fieldIndex)
    val timeZone = spark.conf.get("spark.sql.session.timeZone")
    val (factory, confBc) =
      org.apache.spark.sql.graft.Bridge.parquetWriteSupport(spark, dataSchema)
    val rootPath = java.nio.file.Paths.get(root)
    java.nio.file.Files.createDirectories(rootPath)
    val rootReal = rootPath.toRealPath().toString

    laid.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection, UnsafeRow, XxHash64}
      if (!it.hasNext) Iterator.empty
      else {
        val tac = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(confBc.value.value,
          new org.apache.hadoop.mapreduce.TaskAttemptID(
            "graft", 0, org.apache.hadoop.mapreduce.TaskType.MAP, pid, 0))
        val ext = factory.getFileExtension(tac)
        val dataProj = UnsafeProjection.create(
          dataSchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
            BoundReference(i, f.dataType, f.nullable)
          })
        val keyRefs = keyTypes.zipWithIndex.map { case (dt, i) =>
          BoundReference(nData + i, dt, nullable = true)
        }
        val keyProj = UnsafeProjection.create(keyRefs)
        // Spark's partition-path rendering (FileFormatDataWriter): the
        // session-zone string cast; null and "" both mean the null partition
        val keyStrings = keyRefs.map(r =>
          Cast(r, org.apache.spark.sql.types.StringType, Some(timeZone)))
        val keyToExt = keyTypes.map(createToScalaConverter)
        val orderings = statTypes.map(
          org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering)
        val statToExt = statTypes.map(createToScalaConverter)
        val hashProjs = bloomIdx.map { i =>
          org.apache.spark.sql.graft.Bridge.createMutableProjection(Seq(new XxHash64(
            Seq(BoundReference(i, dataSchema.fields(i).dataType, nullable = true)), 42L)))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[WrittenFile]
        var writer: org.apache.spark.sql.execution.datasources.OutputWriter = null
        var curKey: UnsafeRow = null
        var values: Seq[Any] = Nil
        var strings: Seq[String] = Nil
        var rel: String = null
        var rows = 0L
        var seq = 0
        val mins = Array.ofDim[Any](statIdx.size)
        val maxs = Array.ofDim[Any](statIdx.size)
        val nulls = Array.ofDim[Long](statIdx.size)
        var blooms: Array[org.apache.spark.util.sketch.BloomFilter] = null
        def open(row: InternalRow): Unit = {
          values = keyRefs.zip(keyToExt).map { case (r, toExt) =>
            val v = r.eval(row)
            if (v == null) null else toExt(v)
          }
          strings = keyStrings.map { c =>
            val s = c.eval(row)
            if (s == null || s.toString.isEmpty) null else s.toString
          }
          val dir = dirOf(strings)
          val name = s"${java.util.UUID.randomUUID()}-part-$pid-$seq$ext"
          rel = if (dir.isEmpty) name else s"$dir/$name"
          seq += 1
          writer = factory.newInstance(s"$rootReal/$rel", dataSchema, tac)
          rows = 0L
          java.util.Arrays.fill(mins.asInstanceOf[Array[AnyRef]], null)
          java.util.Arrays.fill(maxs.asInstanceOf[Array[AnyRef]], null)
          java.util.Arrays.fill(nulls, 0L)
          blooms = Array.fill(bloomIdx.size)(
            org.apache.spark.util.sketch.BloomFilter.create(BloomItems, BloomBits))
        }
        def closeFile(): Unit = {
          writer.close()
          writer = null
          val path = s"$rootReal/$rel"
          out += WrittenFile(rel, path, java.nio.file.Files.size(java.nio.file.Paths.get(path)),
            rows, values, strings,
            statCols.indices.map { j =>
              ColumnStats(statCols(j), if (mins(j) == null) null else statToExt(j)(mins(j)),
                if (maxs(j) == null) null else statToExt(j)(maxs(j)), nulls(j))
            },
            bloomCols.indices.map { j =>
              val bos = new java.io.ByteArrayOutputStream()
              blooms(j).writeTo(bos)
              (bloomCols(j), bos.toByteArray)
            })
        }
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            if (writer != null) scala.util.Try(writer.close()) // failed task: release the stream
          })
        it.foreach { row =>
          val k = keyProj(row)
          if (curKey == null || k != curKey) {
            if (writer != null) closeFile()
            curKey = k.copy()
            open(row)
          }
          writer.write(dataProj(row))
          rows += 1
          var j = 0
          while (j < statIdx.size) {
            val idx = statIdx(j)
            if (row.isNullAt(idx)) nulls(j) += 1
            else {
              val v = row.get(idx, statTypes(j))
              val ord = orderings(j)
              if (mins(j) == null || ord.lt(v, mins(j))) mins(j) = InternalRow.copyValue(v)
              if (maxs(j) == null || ord.gt(v, maxs(j))) maxs(j) = InternalRow.copyValue(v)
            }
            j += 1
          }
          var b = 0
          while (b < bloomIdx.size) {
            blooms(b).putLong(hashProjs(b)(row).getLong(0))
            b += 1
          }
        }
        if (writer != null) closeFile()
        out.iterator
      }
    }.collect().toSeq
  }
}
