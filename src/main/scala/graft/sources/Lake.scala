package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Merge-on-read delete state a bucket layout carries. Both kinds are
  * FILE-scoped — a mask hides rows of a named data file but never moves a
  * row between files — so bucket confinement (the whole zero-exchange
  * argument) is untouched; the bucket-local scans apply them per chunk
  * ([[graft.operators.BucketedJoin.bucketScan]]). */
sealed trait LayoutDeletes

/** No live row-level deletes — scans read the files as-is. */
case object NoDeletes extends LayoutDeletes

object LayoutDeletes {
  /** Delta deletion vectors: resolved data-file path → DV descriptor
    * (blob loaded on demand, driver-side, exactly like the main snapshot
    * reader). */
  final case class Dv(table: String,
      byPath: Map[String, DeletionVectors.Descriptor]) extends LayoutDeletes

  /** Iceberg position-delete files. Our writer stages them partition-less
    * (empty spec — one file may reference any data file), so the probe
    * cannot scope them per bucket; instead [[byFile]] reads the delete
    * set ONCE on the driver per layout-cache entry (delete files are
    * tiny relative to data) and every chunk scan masks only the data
    * files actually referenced — untouched chunks keep the plain scan.
    * `rows` is the MANIFEST-recorded total deleted-position count
    * (Σ record_count over the live delete files; -1 when any entry
    * lacked it) — the [[Lake.bucketLayoutMoR]] delete-budget gate's
    * input, known without opening a single delete file. */
  final case class Pos(files: Seq[String], rows: Long = -1L) extends LayoutDeletes {
    @transient private var memo: Map[String, Array[Long]] = _
    /** (bare data-file path → sorted deleted positions), memoized — the
      * driver-side footprint is the table's total deleted rows, the same
      * order the DV path's blobs carry. */
    private[graft] def byFile(spark: SparkSession): Map[String, Array[Long]] =
      synchronized {
        if (memo == null)
          memo = spark.read.parquet(files: _*)
            .select(org.apache.spark.sql.functions.col("file_path"),
              org.apache.spark.sql.functions.col("pos"))
            .collect()
            .groupBy(r => new org.apache.hadoop.fs.Path(r.getString(0))
              .toUri.getPath)
            .map { case (f, rs) => f -> rs.map(_.getLong(1)).sorted }
        memo
      }
  }
}

/** Unified table entry point. A table is a Delta or Iceberg log of
  * versions over data files, or a plain parquet directory; [[detect]]
  * tells them apart from directory listings alone (a `_delta_log` dir, or
  * `.metadata.json` files under `metadata`). Each public verb resolves its
  * path once and forwards to the [[TableFormat]] found there — [[table]]
  * for verbs that need a log, refusing plain parquet at one point — so no
  * caller re-matches the format. Verbs only one format has (Iceberg
  * branches, refs and spec evolution; Delta constraints and checkpoints)
  * are direct calls behind [[requireFormat]]. */
object Lake {

  sealed trait Format

  /** A lake format: the operations Delta and Iceberg both implement, each
    * the format's half of the [[Lake]] verb of the same name. `path` is
    * the table root; a version is a Delta log version or an Iceberg
    * snapshot id (-1 = current). `mark` is the exactly-once
    * (appId, batchId) record a commit carries — a Delta `txn` action, or
    * Iceberg `graft.app-id`/`graft.batch-id` snapshot-summary props — and
    * [[marks]] reads the latest batch id per appId back. */
  sealed abstract class TableFormat extends Format {
    /** Lower-case name, as `USING <name>` and [[Lake.format]] spell it. */
    def name: String
    /** The directory under the table root that holds the log. */
    protected def logDir: String
    /** Whether `path` holds this format's log, i.e. the table exists — a
      * Hadoop FileSystem probe, so `hdfs://`/`s3a://` targets are seen
      * too (a `java.io.File` probe would miss them and re-seed a table). */
    def exists(spark: SparkSession, path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"${path.stripSuffix("/")}/$logDir")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    /** The current version. */
    def version(spark: SparkSession, path: String): Long
    /** The version current right after a [[setProperties]] made now: Delta
      * logs properties as a commit, Iceberg rewrites only its metadata. */
    def propertiesVersion(spark: SparkSession, path: String): Long
    def read(spark: SparkSession, path: String, version: Long): DataFrame
    def readPruned(spark: SparkSession, path: String,
        keep: Map[String, Any] => Boolean, version: Long): DataFrame
    def scanPruned(spark: SparkSession, path: String, pred: Column,
        version: Long): (DataFrame, Long, Long)
    def readAt(spark: SparkSession, path: String, timestampMs: Long): DataFrame
    def versionAt(spark: SparkSession, path: String, timestampMs: Long): Long
    /** The current schema, from metadata alone. */
    def schema(spark: SparkSession, path: String): StructType
    /** The current partitioning as append-ready `partitionBy`. */
    def partitionBy(spark: SparkSession, path: String): Seq[String]
    def properties(spark: SparkSession, path: String): Map[String, String]
    def history(spark: SparkSession, path: String): DataFrame
    def schemaHistory(spark: SparkSession, path: String): DataFrame
    def fileStats(spark: SparkSession, path: String, version: Long): DataFrame
    def countFromMetadata(spark: SparkSession, path: String, version: Long): Option[Long]
    def partitionSummary(spark: SparkSession, path: String, version: Long): DataFrame
    /** DESCRIBE DETAIL's (version, files, bytes, partition columns). */
    def detail(spark: SparkSession, path: String): (Long, Long, Long, Seq[String])
    def bucketLayoutMoR(spark: SparkSession, path: String, key: String)
        : Option[(Int, Map[Int, Seq[(String, Long)]], LayoutDeletes)]
    def addsBetween(spark: SparkSession, path: String, fromVersion: Long,
        toVersion: Long, ignoreChanges: Boolean): DataFrame
    def changesBetween(spark: SparkSession, path: String, fromVersion: Long,
        toVersion: Long): DataFrame
    /** The adds-only streaming tail ([[graft.streaming.LakeSources]]). */
    def stream(spark: SparkSession, path: String): DataFrame
    /** The changelog streaming tail ([[graft.streaming.LakeSources]]). */
    def changelogStream(spark: SparkSession, path: String): DataFrame
    def marks(spark: SparkSession, path: String): Map[String, Long]
    /** The file ids [[Lake.copyInto]] has ingested (`copied` on [[append]]). */
    def copyLedger(spark: SparkSession, path: String): Set[String]
    def append(spark: SparkSession, df: DataFrame, path: String,
        partitionBy: Seq[String] = Nil, mergeSchema: Boolean = false,
        mark: Option[(String, Long)] = None, copied: Seq[String] = Nil): Long
    def overwrite(spark: SparkSession, df: DataFrame, path: String): Long
    def replaceWhere(spark: SparkSession, df: DataFrame, path: String, where: String): Long
    def deleteWhere(spark: SparkSession, path: String, condition: Column,
        alias: Option[String]): Long
    def updateWhere(spark: SparkSession, path: String,
        assignments: Seq[(String, Column)], condition: Column, alias: Option[String]): Long
    def upsert(spark: SparkSession, df: DataFrame, path: String, keyCols: Seq[String]): Long
    def applyChanges(spark: SparkSession, changes: DataFrame, path: String,
        keyCols: Seq[String], mark: Option[(String, Long)] = None): Long
    def compact(spark: SparkSession, path: String, smallFileBytes: Long,
        targetFileBytes: Long, zorderBy: Seq[String], where: Option[String],
        curve: String): Long
    def vacuum(spark: SparkSession, path: String, retain: Int, minFileAgeMs: Long,
        dryRun: Boolean): Seq[String]
    def restore(spark: SparkSession, path: String, version: Long): Long
    def cloneShallow(spark: SparkSession, source: String, target: String,
        version: Long): Long
    def renameColumn(spark: SparkSession, path: String, oldName: String,
        newName: String): Unit
    def dropColumn(spark: SparkSession, path: String, name: String): Unit
    /** Merge `props` into the table's properties; returns the version
      * current afterwards. */
    def setProperties(spark: SparkSession, path: String, props: Map[String, String]): Long
  }

  case object Delta extends TableFormat {
    val name = "delta"
    protected val logDir = "_delta_log"
    def version(spark: SparkSession, path: String): Long =
      DeltaRead.snapshotInfo(spark, path).version
    def propertiesVersion(spark: SparkSession, path: String): Long =
      version(spark, path) + 1
    def read(spark: SparkSession, path: String, version: Long): DataFrame =
      DeltaRead.snapshot(spark, path, version)
    def readPruned(spark: SparkSession, path: String,
        keep: Map[String, Any] => Boolean, version: Long): DataFrame =
      DeltaRead.snapshotPruned(spark, path, pv => keep(pv), version)
    def scanPruned(spark: SparkSession, path: String, pred: Column,
        version: Long): (DataFrame, Long, Long) =
      DeltaRead.scanPruned(spark, path, pred, version)
    def readAt(spark: SparkSession, path: String, timestampMs: Long): DataFrame =
      DeltaRead.snapshotAt(spark, path, timestampMs)
    def versionAt(spark: SparkSession, path: String, timestampMs: Long): Long =
      DeltaRead.versionAt(spark, path, timestampMs)
    def schema(spark: SparkSession, path: String): StructType =
      DeltaRead.snapshotInfo(spark, path).schema
    def partitionBy(spark: SparkSession, path: String): Seq[String] =
      DeltaRead.snapshotInfo(spark, path).partitionColumns
    def properties(spark: SparkSession, path: String): Map[String, String] =
      DeltaRead.snapshotInfo(spark, path).configuration
    def history(spark: SparkSession, path: String): DataFrame =
      DeltaRead.history(spark, path)
    def schemaHistory(spark: SparkSession, path: String): DataFrame =
      DeltaRead.schemaHistory(spark, path)
    def fileStats(spark: SparkSession, path: String, version: Long): DataFrame =
      DeltaRead.fileStats(spark, path, version)
    def countFromMetadata(spark: SparkSession, path: String, version: Long): Option[Long] =
      DeltaRead.countFromMetadata(spark, path, version)
    def partitionSummary(spark: SparkSession, path: String, version: Long): DataFrame =
      DeltaRead.partitionSummary(spark, path, version)
    def detail(spark: SparkSession, path: String): (Long, Long, Long, Seq[String]) = {
      val sn = DeltaRead.snapshotInfo(spark, path)
      (sn.version, sn.files.length.toLong, sn.files.map(_.size).sum, sn.partitionColumns)
    }
    def bucketLayoutMoR(spark: SparkSession, path: String, key: String)
        : Option[(Int, Map[Int, Seq[(String, Long)]], LayoutDeletes)] =
      DeltaRead.bucketLayoutMoR(spark, path, key)
    def addsBetween(spark: SparkSession, path: String, fromVersion: Long,
        toVersion: Long, ignoreChanges: Boolean): DataFrame =
      DeltaRead.addsBetween(spark, path, fromVersion, toVersion, ignoreChanges)
    def changesBetween(spark: SparkSession, path: String, fromVersion: Long,
        toVersion: Long): DataFrame =
      DeltaRead.changesBetween(spark, path, fromVersion, toVersion)
    def stream(spark: SparkSession, path: String): DataFrame =
      graft.streaming.LakeSources.delta(spark, path)
    def changelogStream(spark: SparkSession, path: String): DataFrame =
      graft.streaming.LakeSources.deltaChangelog(spark, path)
    def marks(spark: SparkSession, path: String): Map[String, Long] =
      DeltaRead.txnVersions(spark, path)
    def copyLedger(spark: SparkSession, path: String): Set[String] =
      DeltaRead.txnVersions(spark, path).keySet
        .collect { case k if k.startsWith(CopyPrefix) => k.stripPrefix(CopyPrefix) }
    /** One `txn` action per copied file id: the ledger survives checkpoints. */
    private val CopyPrefix = "graft-copy:"
    def append(spark: SparkSession, df: DataFrame, path: String,
        partitionBy: Seq[String], mergeSchema: Boolean,
        mark: Option[(String, Long)], copied: Seq[String]): Long =
      DeltaWrite.append(spark, df, path, partitionBy, txn = mark, mergeSchema = mergeSchema,
        txns = copied.map(id => (s"$CopyPrefix$id", 1L)))
    def overwrite(spark: SparkSession, df: DataFrame, path: String): Long =
      DeltaWrite.overwrite(spark, df, path)
    def replaceWhere(spark: SparkSession, df: DataFrame, path: String, where: String): Long =
      DeltaWrite.replaceWhere(spark, df, path, where)
    def deleteWhere(spark: SparkSession, path: String, condition: Column,
        alias: Option[String]): Long =
      DeltaWrite.deleteWhere(spark, path, condition, alias)
    def updateWhere(spark: SparkSession, path: String,
        assignments: Seq[(String, Column)], condition: Column, alias: Option[String]): Long =
      DeltaWrite.updateWhere(spark, path, assignments, condition, alias)
    def upsert(spark: SparkSession, df: DataFrame, path: String, keyCols: Seq[String]): Long =
      DeltaWrite.upsert(spark, df, path, keyCols)
    def applyChanges(spark: SparkSession, changes: DataFrame, path: String,
        keyCols: Seq[String], mark: Option[(String, Long)]): Long =
      DeltaWrite.applyChanges(spark, changes, path, keyCols, txn = mark)
    def compact(spark: SparkSession, path: String, smallFileBytes: Long,
        targetFileBytes: Long, zorderBy: Seq[String], where: Option[String],
        curve: String): Long =
      DeltaWrite.compact(spark, path, smallFileBytes, targetFileBytes, zorderBy, where, curve)
    def vacuum(spark: SparkSession, path: String, retain: Int, minFileAgeMs: Long,
        dryRun: Boolean): Seq[String] =
      DeltaWrite.vacuum(spark, path, retain, minFileAgeMs, dryRun)
    def restore(spark: SparkSession, path: String, version: Long): Long =
      DeltaWrite.restore(spark, path, version)
    def cloneShallow(spark: SparkSession, source: String, target: String,
        version: Long): Long =
      DeltaWrite.cloneShallow(spark, source, target, version)
    def renameColumn(spark: SparkSession, path: String, oldName: String,
        newName: String): Unit =
      DeltaWrite.renameColumn(spark, path, oldName, newName)
    def dropColumn(spark: SparkSession, path: String, name: String): Unit =
      DeltaWrite.dropColumn(spark, path, name)
    def setProperties(spark: SparkSession, path: String, props: Map[String, String]): Long =
      DeltaWrite.setProperties(spark, path, props)
  }

  case object Iceberg extends TableFormat {
    val name = "iceberg"
    protected val logDir = "metadata"
    def version(spark: SparkSession, path: String): Long =
      IcebergRead.currentSnapshotId(spark, path)
    def propertiesVersion(spark: SparkSession, path: String): Long = version(spark, path)
    def read(spark: SparkSession, path: String, version: Long): DataFrame =
      IcebergRead.snapshot(spark, path, version)
    def readPruned(spark: SparkSession, path: String,
        keep: Map[String, Any] => Boolean, version: Long): DataFrame =
      IcebergRead.snapshotPruned(spark, path, keep, version)
    def scanPruned(spark: SparkSession, path: String, pred: Column,
        version: Long): (DataFrame, Long, Long) =
      IcebergRead.scanPruned(spark, path, pred, version)
    def readAt(spark: SparkSession, path: String, timestampMs: Long): DataFrame =
      IcebergRead.snapshotAt(spark, path, timestampMs)
    def versionAt(spark: SparkSession, path: String, timestampMs: Long): Long =
      IcebergRead.snapshotIdAt(spark, path, timestampMs)
    // metadata-only: building the snapshot DataFrame for `.schema` re-reads
    // every manifest and lists every data file
    def schema(spark: SparkSession, path: String): StructType =
      IcebergRead.snapshotSchema(path)
    def partitionBy(spark: SparkSession, path: String): Seq[String] =
      IcebergWrite.currentPartitionBy(spark, path)
    def properties(spark: SparkSession, path: String): Map[String, String] =
      IcebergRead.tableProperties(spark, path)
    def history(spark: SparkSession, path: String): DataFrame =
      IcebergRead.history(spark, path)
    def schemaHistory(spark: SparkSession, path: String): DataFrame =
      IcebergRead.schemaHistory(spark, path)
    def fileStats(spark: SparkSession, path: String, version: Long): DataFrame =
      IcebergRead.fileStats(spark, path, version)
    def countFromMetadata(spark: SparkSession, path: String, version: Long): Option[Long] =
      IcebergRead.countFromMetadata(spark, path, version)
    def partitionSummary(spark: SparkSession, path: String, version: Long): DataFrame =
      IcebergRead.partitionSummary(spark, path, version)
    // -1 counts under live merge-on-read deletes: metadata would overstate
    def detail(spark: SparkSession, path: String): (Long, Long, Long, Seq[String]) = {
      val v = IcebergRead.currentSnapshotId(spark, path)
      val (nf, b) = scala.util.Try {
        val r = IcebergRead.partitionSummary(spark, path)
          .agg(org.apache.spark.sql.functions.sum("n_files"),
            org.apache.spark.sql.functions.sum("bytes")).head()
        (r.getLong(0), r.getLong(1))
      }.getOrElse((-1L, -1L))
      (v, nf, b, IcebergWrite.currentPartitionBy(spark, path))
    }
    def bucketLayoutMoR(spark: SparkSession, path: String, key: String)
        : Option[(Int, Map[Int, Seq[(String, Long)]], LayoutDeletes)] =
      IcebergRead.bucketLayoutMoR(spark, path, key)
    def addsBetween(spark: SparkSession, path: String, fromVersion: Long,
        toVersion: Long, ignoreChanges: Boolean): DataFrame =
      IcebergRead.addsBetween(spark, path, fromVersion, toVersion, ignoreChanges)
    def changesBetween(spark: SparkSession, path: String, fromVersion: Long,
        toVersion: Long): DataFrame =
      IcebergRead.changesBetween(spark, path, fromVersion, toVersion)
    def stream(spark: SparkSession, path: String): DataFrame =
      graft.streaming.LakeSources.iceberg(spark, path)
    def changelogStream(spark: SparkSession, path: String): DataFrame =
      graft.streaming.LakeSources.icebergChangelog(spark, path)
    def marks(spark: SparkSession, path: String): Map[String, Long] =
      IcebergRead.txnVersions(spark, path)
    def copyLedger(spark: SparkSession, path: String): Set[String] =
      IcebergRead.copyLedger(spark, path)
    private def summary(mark: Option[(String, Long)]): Map[String, String] =
      mark.map { case (app, batch) =>
        Map("graft.app-id" -> app, "graft.batch-id" -> batch.toString)
      }.getOrElse(Map.empty)
    def append(spark: SparkSession, df: DataFrame, path: String,
        partitionBy: Seq[String], mergeSchema: Boolean,
        mark: Option[(String, Long)], copied: Seq[String]): Long =
      IcebergWrite.append(spark, df, path, partitionBy, mergeSchema,
        summaryProps = summary(mark) ++
          (if (copied.isEmpty) Map.empty else Map("graft.copied" -> copied.mkString(","))))
    def overwrite(spark: SparkSession, df: DataFrame, path: String): Long =
      IcebergWrite.overwrite(spark, df, path)
    def replaceWhere(spark: SparkSession, df: DataFrame, path: String, where: String): Long =
      IcebergWrite.replaceWhere(spark, df, path, where)
    def deleteWhere(spark: SparkSession, path: String, condition: Column,
        alias: Option[String]): Long =
      IcebergWrite.deleteWhere(spark, path, condition, alias)
    def updateWhere(spark: SparkSession, path: String,
        assignments: Seq[(String, Column)], condition: Column, alias: Option[String]): Long =
      IcebergWrite.updateWhere(spark, path, assignments, condition, alias)
    def upsert(spark: SparkSession, df: DataFrame, path: String, keyCols: Seq[String]): Long =
      IcebergWrite.upsert(spark, df, path, keyCols)
    def applyChanges(spark: SparkSession, changes: DataFrame, path: String,
        keyCols: Seq[String], mark: Option[(String, Long)]): Long =
      IcebergWrite.applyChanges(spark, changes, path, keyCols, summary(mark))
    def compact(spark: SparkSession, path: String, smallFileBytes: Long,
        targetFileBytes: Long, zorderBy: Seq[String], where: Option[String],
        curve: String): Long =
      IcebergWrite.compact(spark, path, smallFileBytes, targetFileBytes, zorderBy, where, curve)
    def vacuum(spark: SparkSession, path: String, retain: Int, minFileAgeMs: Long,
        dryRun: Boolean): Seq[String] =
      IcebergWrite.expireSnapshots(spark, path, retain, minFileAgeMs, dryRun)
    def restore(spark: SparkSession, path: String, version: Long): Long =
      IcebergWrite.rollback(spark, path, version)
    def cloneShallow(spark: SparkSession, source: String, target: String,
        version: Long): Long =
      IcebergWrite.cloneShallow(spark, source, target, version)
    def renameColumn(spark: SparkSession, path: String, oldName: String,
        newName: String): Unit =
      IcebergWrite.renameColumn(spark, path, oldName, newName)
    def dropColumn(spark: SparkSession, path: String, name: String): Unit =
      IcebergWrite.dropColumn(spark, path, name)
    def setProperties(spark: SparkSession, path: String, props: Map[String, String]): Long = {
      IcebergWrite.setProperties(spark, path, props)
      version(spark, path)
    }
  }

  case object Parquet extends Format

  def detect(spark: SparkSession, path: String): Format = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(root, "_delta_log"))) Delta
    else {
      val meta = new org.apache.hadoop.fs.Path(root, "metadata")
      val isIceberg = fs.exists(meta) &&
        fs.listStatus(meta).exists(_.getPath.getName.endsWith(".metadata.json"))
      if (isIceberg) Iceberg else Parquet
    }
  }

  /** The lake format at `path`, or None for a plain parquet directory. */
  def tableOption(spark: SparkSession, path: String): Option[TableFormat] =
    detect(spark, path) match {
      case t: TableFormat => Some(t)
      case _ => None
    }

  /** The lake format at `path` — the one refusal point for plain parquet,
    * which has no transaction log to read versions from or commit to. */
  def table(spark: SparkSession, path: String): TableFormat =
    tableOption(spark, path).getOrElse(throw new IllegalArgumentException(
      s"plain parquet at $path has no transaction log — this needs a Delta or Iceberg table"))

  /** Parse a `targetFormat`/`USING`/`TO` format name (case-insensitive). */
  def format(name: String): TableFormat = name.toLowerCase(java.util.Locale.ROOT) match {
    case "delta" => Delta
    case "iceberg" => Iceberg
    case other => throw new IllegalArgumentException(
      s"unsupported lake format '$other' (delta | iceberg)")
  }

  /** The one check in front of a verb only `want` has. */
  private[graft] def requireFormat(spark: SparkSession, path: String, want: TableFormat,
      what: String): Unit = {
    val got = detect(spark, path)
    if (got != want) throw new IllegalArgumentException(
      s"$what needs a ${want.name} table, got $got at $path")
  }

  /** A plain parquet directory read; it has no versions to pin. */
  private def parquetDir(spark: SparkSession, path: String, version: Long): DataFrame = {
    require(version < 0, s"plain parquet at $path has no versions (asked for $version)")
    spark.read.parquet(path)
  }

  /** Read `path` at an optional version: Delta log version, Iceberg
    * snapshot id, or ignored for plain parquet (which has no versions —
    * asking for one there fails loudly). */
  def read(spark: SparkSession, path: String, version: Long = -1L): DataFrame =
    tableOption(spark, path) match {
      case Some(t) => t.read(spark, path, version)
      case None => parquetDir(spark, path, version)
    }

  /** [[read]] with partition pruning at the metadata level: `keep` sees
    * each file's partition values — Delta's log-carried strings
    * (logical-keyed) or Iceberg's typed partition record — and rejected
    * files never reach the scan. Plain parquet dispatches to an ordinary
    * read (Spark's own directory partition discovery prunes there). */
  def readPruned(spark: SparkSession, path: String,
      keep: Map[String, Any] => Boolean, version: Long = -1L): DataFrame =
    tableOption(spark, path) match {
      case Some(t) => t.readPruned(spark, path, keep, version)
      case None => parquetDir(spark, path, version)
    }

  /** STATS-PRUNED scan dispatch: translate a value predicate against the
    * format's persisted per-file statistics (Delta `add.stats` JSON /
    * Iceberg manifest bounds) and scan only surviving files, deletes
    * still applied — (dataframe, survivingFiles, totalFiles). Plain
    * parquet persists no stats: the scan is unpruned and reports
    * kept == total (collect stats explicitly with
    * [[graft.operators.DataSkipping]] for a retrofit). */
  def scanPruned(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column, version: Long = -1L)
      : (DataFrame, Long, Long) =
    tableOption(spark, path) match {
      case Some(t) => t.scanPruned(spark, path, pred, version)
      case None =>
        val df = parquetDir(spark, path, version)
        val n = df.inputFiles.length.toLong
        (df.where(pred), n, n)
    }

  /** HISTORY dispatch (DESCRIBE HISTORY analog): one row per version /
    * snapshot in commit order — (version, timestamp_ms, operation,
    * added_files, removed_files). Plain parquet has no log — refused. */
  def history(spark: SparkSession, path: String): DataFrame =
    table(spark, path).history(spark, path)

  /** Column RENAME dispatch — metadata-only on both formats (Delta via
    * column mapping, Iceberg via field-id schema evolution); no data file
    * is rewritten at any scale. */
  def renameColumn(spark: SparkSession, path: String,
      oldName: String, newName: String): Unit =
    table(spark, path).renameColumn(spark, path, oldName, newName)

  /** Column DROP dispatch — metadata-only twin of [[renameColumn]]. */
  def dropColumn(spark: SparkSession, path: String, name: String): Unit =
    table(spark, path).dropColumn(spark, path, name)

  /** Column ADD dispatch — metadata-only on both formats: commits an
    * EMPTY evolving append (zero staged data files, so the commit carries
    * only the evolved schema) of the table's schema plus the new nullable
    * column, through the same `mergeSchema` machinery API evolution uses
    * ([[DeltaWrite.append]] / [[IcebergWrite.append]]). No data file is
    * rewritten at any scale; existing rows read NULL for the new column,
    * and time travel to a pre-ADD version shows the old schema. `sqlType`
    * is a Spark DDL type string (`string`, `decimal(10,2)`, …). Returns
    * the committed version / snapshot id. */
  def addColumn(spark: SparkSession, path: String, name: String,
      sqlType: String): Long = {
    val t = table(spark, path)
    val cur = t.read(spark, path, -1L)
    require(!cur.columns.contains(name),
      s"ADD COLUMN: '$name' already exists at $path")
    val dt = org.apache.spark.sql.types.DataType.fromDDL(sqlType)
    val evolved = org.apache.spark.sql.types.StructType(cur.schema.fields :+
      org.apache.spark.sql.types.StructField(name, dt, nullable = true))
    // one EMPTY partition (not zero): the stagers write a schema-bearing
    // 0-row part file, which they then skip committing — so the commit
    // carries the evolved metadata and no add entries
    val empty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1), evolved)
    t.append(spark, empty, path, partitionBy = t.partitionBy(spark, path), mergeSchema = true)
  }

  /** CONVERT TO DELTA dispatch: in-place zero-rewrite migration of a
    * plain-parquet directory ([[DeltaWrite.convertParquet]]). To continue
    * into Iceberg, compose with [[export]] — the classic
    * parquet → Delta → Iceberg chain, no byte ever copied. */
  def convert(spark: SparkSession, dir: String,
      partitionBy: Seq[String] = Nil): Long =
    DeltaWrite.convertParquet(spark, dir, partitionBy)

  /** CROSS-FORMAT EXPORT dispatch (UniForm-style): re-host the source's
    * live files under the OTHER format's metadata, zero copy —
    * Delta→Iceberg via [[IcebergWrite.exportDeltaAsIceberg]],
    * Iceberg→Delta via [[DeltaWrite.exportIcebergAsDelta]]. Asking for
    * the SAME format is a [[clone]]. Returns the export's first
    * version/snapshot id. */
  def export(spark: SparkSession, source: String, target: String,
      as: Format): Long =
    (detect(spark, source), as) match {
      case (Delta, Iceberg) => IcebergWrite.exportDeltaAsIceberg(spark, source, target)
      case (Iceberg, Delta) => DeltaWrite.exportIcebergAsDelta(spark, source, target)
      case (f, t) if f == t => clone(spark, source, target)
      case (f, t) => throw new IllegalArgumentException(
        s"no zero-copy export from $f to $t")
    }

  /** RESTORE dispatch: roll the table's live state back to a prior
    * version (Delta log version / Iceberg snapshot id) — the recovery
    * path after a bad write. Delta restores as a NEW commit (history
    * preserved, [[DeltaWrite.restore]]); Iceberg truncates the snapshot
    * lineage at the target ([[IcebergWrite.rollback]]; undone files
    * remain until expireSnapshots). Returns the now-current
    * version/snapshot id. */
  def restore(spark: SparkSession, path: String, version: Long): Long =
    table(spark, path).restore(spark, path, version)

  /** SHALLOW-CLONE dispatch: zero-copy snapshot of a lake table into a
    * NEW independently-writable table at `target` — the source's live
    * files referenced by absolute path, nothing copied ([[DeltaWrite
    * .cloneShallow]] / [[IcebergWrite.cloneShallow]]). `version` is a
    * Delta log version or an Iceberg snapshot id (-1 = current). Returns
    * the clone's first version/snapshot id. Plain parquet has no log to
    * reference — refused (copy it, or ingest it into a lake format). */
  def clone(spark: SparkSession, source: String, target: String,
      version: Long = -1L): Long =
    table(spark, source).cloneShallow(spark, source, target, version)

  /** SCHEMA-HISTORY dispatch: one row per column-level change in commit
    * order — (version, change, column, old_type, new_type), change ∈
    * create | add_column | drop_column | retype | rename_column (renames
    * only on Iceberg, whose field ids make them distinguishable from
    * drop+add). The drift canary for downstream consumers of a shared
    * table. Plain parquet has no schema lineage — refused. */
  def schemaHistory(spark: SparkSession, path: String): DataFrame =
    table(spark, path).schemaHistory(spark, path)

  /** Per-file STATS dispatch ([[DeltaRead.fileStats]] /
    * [[IcebergRead.fileStats]]): one row per live file with decoded
    * min/max/null-count columns — the observability face of
    * [[scanPruned]]. Plain parquet persists no stats — refused (use
    * [[graft.operators.DataSkipping.collectStats]] to retrofit). */
  def fileStats(spark: SparkSession, path: String, version: Long = -1L): DataFrame =
    table(spark, path).fileStats(spark, path, version)

  /** METADATA-ONLY COUNT dispatch: the table's exact row count from the
    * transaction log / manifests alone — zero data files opened, so at
    * 100 TB a `count(*)` answers in driver milliseconds instead of a
    * cluster-wide job. Falls back to a counting scan (and says so in the
    * Boolean) when metadata cannot be exact: a Delta file without
    * `numRecords`, an Iceberg snapshot with live merge-on-read deletes,
    * or plain parquet (no log at all). Returns (count, fromMetadata). */
  def rowCount(spark: SparkSession, path: String,
      version: Long = -1L): (Long, Boolean) = {
    val meta = tableOption(spark, path).flatMap(_.countFromMetadata(spark, path, version))
    meta.map((_, true)).getOrElse((read(spark, path, version).count(), false))
  }

  /** SHOW PARTITIONS dispatch, metadata-only: one row per distinct
    * partition value — (partition `col=value/...`, n_files, n_rows,
    * bytes). Delta subtracts DV cardinalities (counts are live); Iceberg
    * refuses under live delete files (compact first). Plain parquet has
    * no authoritative per-file metadata — refused. */
  def partitionSummary(spark: SparkSession, path: String,
      version: Long = -1L): DataFrame =
    table(spark, path).partitionSummary(spark, path, version)

  /** TIMESTAMP AS OF dispatch: the table as of a wall-clock ms timestamp
    * (Delta: commit modification times; Iceberg: snapshot timestamp-ms).
    * Plain parquet has no history — refused loudly. */
  def readAt(spark: SparkSession, path: String, timestampMs: Long): DataFrame =
    table(spark, path).readAt(spark, path, timestampMs)

  /** Resolve a wall-clock ms timestamp to the version/snapshot id
    * current at that instant — what lets TIMESTAMP AS OF flow through
    * every version-parameterized path (pruned scans, temp views). */
  def versionAt(spark: SparkSession, path: String, timestampMs: Long): Long =
    table(spark, path).versionAt(spark, path, timestampMs)

  /** Incremental-read dispatch: rows added after `fromVersion` (Delta log
    * version / Iceberg snapshot id), scanning only the new files. Plain
    * parquet has no commit history — refused loudly. */
  def addsBetween(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long = -1L, ignoreChanges: Boolean = false): DataFrame =
    table(spark, path).addsBetween(spark, path, fromVersion, toVersion, ignoreChanges)

  /** CHANGELOG dispatch: rows inserted AND deleted between two versions
    * (Delta log versions / Iceberg snapshot ids), as the table's columns
    * plus `_change_type` ('insert' | 'delete') — the operation-mix-safe
    * superset of [[addsBetween]]. Plain parquet has no history — refused
    * loudly. */
  def changesBetween(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long = -1L): DataFrame =
    table(spark, path).changesBetween(spark, path, fromVersion, toVersion)

  /** Merge-on-read DELETE dispatch: Delta deletion vectors or Iceberg
    * position deletes. Plain parquet has no transaction log to carry a
    * delete — refused loudly. */
  def deleteWhere(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column,
      alias: Option[String] = None): Long =
    table(spark, path).deleteWhere(spark, path, condition, alias)

  /** SQL surface: registers the table-valued functions
    *
    * {{{ SELECT * FROM delta_scan('/path/to/table'[, version])
    *     SELECT * FROM iceberg_scan('/path/to/table'[, snapshot_id])
    *     SELECT * FROM lake_scan('/path/to/table'[, version])
    *     SELECT * FROM lake_scan_at('/path/to/table', timestamp_ms) }}}
    *
    * so SQL-only users query open-format tables (incl. time travel) from
    * pure SQL, DuckDB-`delta_scan`-style — same pattern as the asof_join
    * table function (arguments are literals, resolved at analysis time;
    * the plan produced is identical to the API call's). */
  def registerSqlSurface(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.graft.Bridge
    def str(e: Expression, what: String): String = e match {
      case Literal(v, org.apache.spark.sql.types.StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal, got $other")
    }
    def num(e: Expression, what: String): Long = e match {
      case Literal(v: Number, _) => v.longValue
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    // second argument: a NUMBER is VERSION AS OF n; a STRING is VERSION AS
    // OF 'ref' — an Iceberg tag/branch name resolved through the refs map
    // (Delta has no named refs; a string there is refused loudly)
    def scanOf(name: String, reader: (String, Long) => DataFrame): Unit =
      Bridge.registerTableFunction(spark, name, { args =>
        require(args.length == 1 || args.length == 2, s"$name(path[, version | 'ref'])")
        val path = str(args.head, s"$name: path")
        val df = args.lift(1) match {
          case Some(Literal(v, org.apache.spark.sql.types.StringType)) if v != null =>
            requireFormat(spark, path, Iceberg, s"$name: a ref-name read")
            IcebergRead.snapshotAtRef(spark, path, v.toString)
          case Some(e) => reader(path, num(e, s"$name: version"))
          case None => reader(path, -1L)
        }
        Bridge.logicalPlan(df)
      })
    scanOf("delta_scan", (p, v) => DeltaRead.snapshot(spark, p, v))
    scanOf("iceberg_scan", (p, v) => IcebergRead.snapshot(spark, p, v))
    scanOf("lake_scan", (p, v) => read(spark, p, v))
    Bridge.registerTableFunction(spark, "lake_scan_at", { args =>
      require(args.length == 2, "lake_scan_at(path, timestamp_ms)")
      Bridge.logicalPlan(readAt(spark,
        str(args.head, "lake_scan_at: path"), num(args(1), "lake_scan_at: timestamp_ms")))
    })
    // SELECT * FROM lake_scan_where('/path', 'o_orderkey <= 1000'):
    // stats-pruned scan from pure SQL — the predicate text is parsed and
    // translated against the format's per-file stats, so only surviving
    // files are scanned (the predicate is ALSO applied to rows, making
    // the prune semantically invisible)
    Bridge.registerTableFunction(spark, "lake_scan_where", { args =>
      require(args.length == 2 || args.length == 3,
        "lake_scan_where(path, predicate_sql[, version])")
      val (df, _, _) = scanPruned(spark,
        str(args.head, "lake_scan_where: path"),
        org.apache.spark.sql.functions.expr(str(args(1), "lake_scan_where: predicate")),
        args.lift(2).map(num(_, "lake_scan_where: version")).getOrElse(-1L))
      Bridge.logicalPlan(df)
    })
    // SELECT * FROM lake_history('/path'): commit/snapshot history
    Bridge.registerTableFunction(spark, "lake_history", { args =>
      require(args.length == 1, "lake_history(path)")
      Bridge.logicalPlan(history(spark, str(args.head, "lake_history: path")))
    })
    // SELECT * FROM lake_changes('/path', from[, to]): the changelog
    // between two versions/snapshot ids — the table's columns plus
    // _change_type ('insert' | 'delete'), CDC consumption from pure SQL
    Bridge.registerTableFunction(spark, "lake_changes", { args =>
      require(args.length == 2 || args.length == 3,
        "lake_changes(path, from_version[, to_version])")
      Bridge.logicalPlan(changesBetween(spark,
        str(args.head, "lake_changes: path"),
        num(args(1), "lake_changes: from_version"),
        args.lift(2).map(num(_, "lake_changes: to_version")).getOrElse(-1L)))
    })
    // SELECT * FROM lake_schema_history('/path'): column-level schema
    // changes in commit order (create/add/drop/retype/rename)
    Bridge.registerTableFunction(spark, "lake_schema_history", { args =>
      require(args.length == 1, "lake_schema_history(path)")
      Bridge.logicalPlan(schemaHistory(spark, str(args.head, "lake_schema_history: path")))
    })
    // SELECT * FROM lake_refs('/path'): named refs (Iceberg tags/branches)
    Bridge.registerTableFunction(spark, "lake_refs", { args =>
      require(args.length == 1, "lake_refs(path)")
      val p = str(args.head, "lake_refs: path")
      import spark.implicits._
      val rows = IcebergRead.refs(spark, p).toSeq
        .map { case (n, (id, t)) => (n, id, t) }.sortBy(_._1)
      Bridge.logicalPlan(rows.toDF("name", "snapshot_id", "type"))
    })
    // SELECT * FROM lake_file_stats('/path'[, version]): decoded per-file
    // min/max/null-count stats — what scanPruned prunes against
    Bridge.registerTableFunction(spark, "lake_file_stats", { args =>
      require(args.length == 1 || args.length == 2, "lake_file_stats(path[, version])")
      Bridge.logicalPlan(fileStats(spark, str(args.head, "lake_file_stats: path"),
        args.lift(1).map(num(_, "lake_file_stats: version")).getOrElse(-1L)))
    })
    // SELECT * FROM lake_table_stats('/path'): the persisted ANALYZE
    // TABLE statistics as rows (one per analyzed column, plus a '*'
    // table-level row) — how an operator checks what the broadcast gate
    // will see before trusting a plan
    Bridge.registerTableFunction(spark, "lake_table_stats", { args =>
      require(args.length == 1, "lake_table_stats(path)")
      val p = str(args.head, "lake_table_stats: path")
      import spark.implicits._
      val rows = tableStats(spark, p) match {
        case None => Seq.empty[(String, Long, Long, Long, Long)]
        case Some(st) =>
          ("*", st.rows, st.bytes, st.version, -1L) +:
            st.ndv.keys.toSeq.sorted.map(c =>
              (c, st.ndv(c), st.bytes, st.version, st.nulls.getOrElse(c, 0L)))
      }
      Bridge.logicalPlan(
        rows.toDF("column", "ndv_or_rows", "bytes", "analyzed_version", "nulls"))
    })
    // SELECT * FROM bucket_join('/left', '/right', 'key'[, 'joinType'
    //   [, 'left_cols', 'right_cols'[, 'left_where', 'right_where']]]):
    // the storage-partitioned join over two co-bucketed Iceberg tables —
    // zero exchanges when both sides are bucket(n, key) with equal n
    // (graft.operators.BucketedJoin; refuses loudly when the layouts
    // don't cooperate, so a caller falls back to the shuffled JOIN).
    // joinType = inner (default) | left | left_semi | left_anti.
    // left_cols/right_cols: comma-separated projections ('' = all) —
    // shrink the per-bucket parquet ReadSchema; left_where/right_where:
    // per-side predicate texts ('' = none) pushed INSIDE the bucket scans.
    Bridge.registerTableFunction(spark, "bucket_join", { args =>
      require(args.length == 3 || args.length == 4 || args.length == 6 ||
          args.length == 8,
        "bucket_join(left_path, right_path, key[, join_type" +
          "[, left_cols, right_cols[, left_where, right_where]]])")
      def colsArg(i: Int, what: String): Seq[String] =
        args.lift(i).map(str(_, what).trim).filter(_.nonEmpty)
          .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Nil)
      def whereArg(i: Int, what: String): Option[org.apache.spark.sql.Column] =
        args.lift(i).map(str(_, what).trim).filter(_.nonEmpty)
          .map(t => Bridge.column(Bridge.parseExpression(spark, t)))
      // 'key' joins same-named columns; 'lkey=rkey' names each side's
      // column (the natural orders.o_custkey = customer.c_custkey shape)
      val keyArg = str(args(2), "bucket_join: key").split("=", 2).map(_.trim)
      Bridge.logicalPlan(graft.operators.BucketedJoin.coBucketedJoin(spark,
        str(args(0), "bucket_join: left_path"),
        str(args(1), "bucket_join: right_path"),
        keyArg(0),
        args.lift(3).map(str(_, "bucket_join: join_type")).getOrElse("inner"),
        leftCols = colsArg(4, "bucket_join: left_cols"),
        rightCols = colsArg(5, "bucket_join: right_cols"),
        leftWhere = whereArg(6, "bucket_join: left_where"),
        rightWhere = whereArg(7, "bucket_join: right_where"),
        rightKey = keyArg.lift(1).getOrElse("")))
    })
    // SELECT * FROM bucket_agg('/t', 'key', 'g1[,g2…]', 'sum(x) AS s[, …]'
    //   [, 'where']): bucket-local GROUP BY over a bucket(n, key) table —
    // per-bucket COMPLETE hash aggregation, zero exchange, when the group
    // columns include the bucket key (graft.operators.BucketedAgg; refuses
    // loudly otherwise so callers fall back to the shuffled groupBy).
    Bridge.registerTableFunction(spark, "bucket_agg", { args =>
      require(args.length == 4 || args.length == 5,
        "bucket_agg(path, key, group_cols, agg_exprs[, where])")
      val aggTexts = splitTopLevel(str(args(3), "bucket_agg: agg_exprs"))
      Bridge.logicalPlan(graft.operators.BucketedAgg.bucketLocalAgg(spark,
        str(args(0), "bucket_agg: path"),
        str(args(1), "bucket_agg: key"),
        str(args(2), "bucket_agg: group_cols").split(",").toSeq
          .map(_.trim).filter(_.nonEmpty),
        aggTexts.map(t => Bridge.column(Bridge.parseExpression(spark, t))),
        args.lift(4).map(str(_, "bucket_agg: where").trim).filter(_.nonEmpty)
          .map(t => Bridge.column(Bridge.parseExpression(spark, t)))))
    })
    // SELECT * FROM bucket_distinct('/t', 'key', 'c1[,c2…]'[, 'where']):
    // bucket-local DISTINCT over a bucket(n, key) table — per-bucket hash
    // de-duplication, zero exchange, when the columns include the key.
    Bridge.registerTableFunction(spark, "bucket_distinct", { args =>
      require(args.length == 3 || args.length == 4,
        "bucket_distinct(path, key, cols[, where])")
      Bridge.logicalPlan(graft.operators.BucketedAgg.bucketLocalDistinct(spark,
        str(args(0), "bucket_distinct: path"),
        str(args(1), "bucket_distinct: key"),
        str(args(2), "bucket_distinct: cols").split(",").toSeq
          .map(_.trim).filter(_.nonEmpty),
        args.lift(3).map(str(_, "bucket_distinct: where").trim).filter(_.nonEmpty)
          .map(t => Bridge.column(Bridge.parseExpression(spark, t)))))
    })
  }

  /** OPTIMIZE dispatch: bin-pack small files and materialize merge-on-read
    * deletes as a layout-only commit (Delta `dataChange=false`, Iceberg
    * `replace` snapshot). Plain parquet has no transaction log to make a
    * rewrite atomic — use `operators.Layout.compact` (copy-based) there. */
  def compact(spark: SparkSession, path: String,
      smallFileBytes: Long = 64L << 20, targetFileBytes: Long = 128L << 20,
      zorderBy: Seq[String] = Nil, where: Option[String] = None,
      curve: String = "z"): Long =
    table(spark, path).compact(spark, path, smallFileBytes, targetFileBytes, zorderBy, where,
      curve)

  /** PARTITION-SPEC EVOLUTION dispatch: Iceberg changes its default spec
    * as a metadata-only commit ([[IcebergWrite.evolvePartitionSpec]]);
    * the Delta protocol has no equivalent — repartitioning a Delta table
    * is a data rewrite (overwrite with the new partitionBy), so asking
    * for the cheap form is refused loudly rather than silently rewriting
    * terabytes. */
  def evolvePartitionSpec(spark: SparkSession, path: String,
      newPartitionBy: Seq[String]): Unit = {
    requireFormat(spark, path, Iceberg, "metadata-only partition evolution (a Delta " +
      "table repartitions by overwrite with the new partitionBy)")
    IcebergWrite.evolvePartitionSpec(spark, path, newPartitionBy)
  }

  /** WRITE-AUDIT-PUBLISH dispatch: stage an append on an audit branch /
    * publish it by fast-forwarding the head — Iceberg-only (branch refs
    * are an Iceberg metadata concept; the Delta protocol has no staged
    * snapshots, so the WAP pattern there is a shallow clone audited and
    * merged explicitly). */
  def appendStaged(spark: SparkSession, df: DataFrame, path: String,
      branch: String): Long = {
    requireFormat(spark, path, Iceberg, "write-audit-publish (branch refs; for Delta, " +
      "audit on a shallow clone and apply explicitly)")
    IcebergWrite.appendStaged(spark, df, path, branch)
  }

  def fastForward(spark: SparkSession, path: String, branch: String): Long = {
    requireFormat(spark, path, Iceberg, "fastForward (branch refs)")
    IcebergWrite.fastForward(spark, path, branch)
  }

  /** VACUUM dispatch: physically reclaim files no retained version /
    * snapshot references — the cleanup half [[compact]] defers. Delta
    * keeps the last `retain` log versions; Iceberg expires all but the
    * last `retain` snapshots first, then deletes what only they
    * referenced. Returns the deleted paths. Plain parquet has no version
    * history — nothing is ever unreferenced; refused loudly. */
  def vacuum(spark: SparkSession, path: String, retain: Int = 1,
      minFileAgeMs: Long = 24L * 3600 * 1000,
      dryRun: Boolean = false): Seq[String] =
    table(spark, path).vacuum(spark, path, retain, minFileAgeMs, dryRun)

  /** INCREMENTAL REFRESH driver: make the keyed `target` table follow
    * `source` by applying `changesBetween(lastSynced, frontier)`, with the
    * last-synced source frontier persisted in the TARGET's own metadata
    * (Delta `txn` action riding the apply commit itself — bookkeeping is
    * atomic with the data; Iceberg snapshot-summary ledger on the final
    * append) — restart-safe with no external state, the same
    * exactly-once convention as the streaming lake sinks. First sync
    * full-refreshes from the source's current state; a sync with nothing
    * new commits nothing. Source and target formats are independent (the
    * changelog is the interchange). Returns the source frontier synced
    * to.
    *
    * Assumes the target is maintained only through sync since seeding:
    * target-only keys a foreign writer added are outside the changelog
    * and survive. */
  def sync(spark: SparkSession, source: String, target: String,
      keyCols: Seq[String], appId: String = ""): Long = {
    import org.apache.spark.sql.functions.lit
    val app = if (appId.nonEmpty) appId else s"graft-sync:${source.stripSuffix("/")}"
    val src = table(spark, source)
    val frontier = src.version(spark, source)
    val tgt = table(spark, target)
    def apply(changes: DataFrame): Unit =
      tgt.applyChanges(spark, changes, target, keyCols, mark = Some((app, frontier)))
    tgt.marks(spark, target).get(app) match {
      case Some(last) if last == frontier => () // up to date: no commit
      case Some(last) => apply(src.changesBetween(spark, source, last, frontier))
      case None => // first sync: the current state as one insert changelog
        apply(src.read(spark, source, frontier).withColumn("_change_type", lit("insert")))
    }
    frontier
  }

  /** CDC-APPLY dispatch: apply a changelog ([[changesBetween]]'s rows +
    * `_change_type` shape) to a keyed downstream table — incremental
    * materialized-view maintenance across formats (a Delta target can
    * follow an Iceberg source and vice versa; the changelog is the
    * interchange). Plain parquet has no transaction log — refused. */
  def applyChanges(spark: SparkSession, changes: DataFrame, path: String,
      keyCols: Seq[String]): Long =
    table(spark, path).applyChanges(spark, changes, path, keyCols)

  /** One WHEN clause of a full MERGE ([[mergeInto]]). */
  sealed trait MergeAction
  /** `WHEN MATCHED … THEN DELETE`. */
  case object MergeDelete extends MergeAction
  /** `WHEN MATCHED … THEN UPDATE SET c = e, …`; an EMPTY assignment list
    * is `UPDATE SET *` — the source row replaces the target row. */
  final case class MergeUpdate(
      assignments: Seq[(String, org.apache.spark.sql.Column)]) extends MergeAction

  /** FULL MERGE: the general `WHEN` form over a keyed lake table —
    * matched clauses evaluate IN ORDER (first whose condition fires wins,
    * rows matching no clause are untouched), the not-matched clause
    * inserts new keys. The whole merge applies as ONE atomic commit per
    * format through [[applyChanges]] (Delta: DV-delete + append in one
    * commit; Iceberg: one row-delta snapshot): every produced change row
    * retracts its key and inserts its new image, so readers see the old
    * or the new state of every key, never a mix.
    *
    * Expression contexts: matched conditions and UPDATE SET values see
    * the TARGET row's columns by their bare names and the source row's as
    * `src_<name>`; the not-matched condition sees the SOURCE row's
    * columns bare (no target row exists). `UPDATE SET *` replaces the
    * matched target row with the source row (the CDC idiom [[upsert]]
    * implements unconditionally).
    *
    * The source must carry exactly the table's columns (cast upstream —
    * the SQL surface conforms automatically) and UNIQUE keys: a source
    * key matching twice would make the merge order-dependent, so
    * duplicates are refused loudly (one cheap aggregation over the
    * source, which is the small side of a merge by construction).
    *
    * With `evolveSchema` (the `MERGE WITH SCHEMA EVOLUTION` statement)
    * the column pin lifts both ways, the standard CDC-with-evolution
    * idiom: a source column the target lacks first EXTENDS the target
    * schema (a nullable metadata-only commit per column — existing rows
    * read NULL there); a target column the source lacks keeps the
    * TARGET's value under `UPDATE SET *` and lands NULL under `INSERT *`.
    * Source columns are cast to the (evolved) target types.
    *
    * @param matched     ordered (condition, action) WHEN MATCHED clauses
    * @param notMatched  Some(condition) = `WHEN NOT MATCHED [AND cond]
    *                    THEN INSERT *`; None = no insert clause
    * @param notMatchedBySource ordered (condition, action) `WHEN NOT
    *                    MATCHED BY SOURCE` clauses over TARGET rows with
    *                    no source match — the deletion-sync form
    *                    (conditions/SET values see the target row bare;
    *                    there is no source row)
    * @param evolveSchema lift the exact-column pin: extend the target
    *                    with new source columns, keep/NULL missing ones
    * @param notMatchedValues explicit `INSERT (cols) VALUES (exprs)`
    *                    assignments for the not-matched clause (the
    *                    expressions see the SOURCE row bare); empty =
    *                    `INSERT *`. Unassigned target columns land NULL;
    *                    every merge key must be assigned
    * Returns the committed version / snapshot id. */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String],
      matched: Seq[(Option[org.apache.spark.sql.Column], MergeAction)],
      notMatched: Option[Option[org.apache.spark.sql.Column]],
      notMatchedBySource: Seq[(Option[org.apache.spark.sql.Column], MergeAction)] =
        Nil,
      evolveSchema: Boolean = false,
      notMatchedValues: Seq[(String, org.apache.spark.sql.Column)] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE: at least one WHEN clause required")
    val tgt0 = read(spark, path)
    val extras = source.schema.fields.toSeq
      .filterNot(f => tgt0.columns.contains(f.name))
    if (!evolveSchema)
      require(source.columns.sorted.sameElements(tgt0.columns.sorted),
        s"MERGE source columns ${source.columns.mkString(",")} do not match " +
          s"table columns ${tgt0.columns.mkString(",")} " +
          "(use MERGE WITH SCHEMA EVOLUTION to evolve)")
    // EVERY validation — key presence, clause column checks, and the
    // duplicate-source-key job — runs BEFORE any schema-evolution commit:
    // a refused (or crashed-in-validation) merge must not leave the target
    // permanently evolved with no data change. The evolved column set and
    // types are known without committing (an added column carries the
    // source's own type), so the checks and the source cast use them.
    val evolvedSchema = org.apache.spark.sql.types.StructType(
      tgt0.schema.fields ++ extras)
    val cols = evolvedSchema.fieldNames.toSeq
    require(keys.nonEmpty && keys.forall(cols.contains),
      s"MERGE keys ${keys.mkString(",")} not all present in ${cols.mkString(",")}")
    require(keys.forall(source.columns.contains),
      s"MERGE keys ${keys.mkString(",")} not all present in the source")
    (matched ++ notMatchedBySource).foreach {
      case (_, MergeUpdate(assigns)) if assigns.nonEmpty =>
        require(assigns.forall { case (c, _) => cols.contains(c) },
          s"MERGE UPDATE SET names unknown columns ${assigns.map(_._1).mkString(",")}")
      case _ => ()
    }
    require(notMatchedBySource.forall {
      case (_, MergeUpdate(Nil)) => false
      case _ => true
    }, "MERGE: WHEN NOT MATCHED BY SOURCE cannot UPDATE SET * (no source row)")
    if (notMatchedValues.nonEmpty) {
      require(notMatchedValues.forall { case (c, _) => cols.contains(c) },
        "MERGE INSERT column list names unknown columns " +
          notMatchedValues.map(_._1).mkString(","))
      require(keys.forall(notMatchedValues.toMap.contains),
        s"MERGE INSERT column list must assign every merge key (${keys.mkString(",")})")
    }
    val srcCols = source.columns.toSet
    // under evolution the source speaks the evolved target's types; the
    // exact-pin path stays cast-free (the SQL surface conformed already,
    // API callers pinned by the require above)
    val source1 = if (!evolveSchema) source
      else source.select(source.columns.toSeq.map { c =>
        col(c).cast(evolvedSchema(c).dataType).as(c) }: _*)
    val src = source1.localCheckpoint(false) // read twice (dup guard + join)
    val dup = src.groupBy(keys.map(col): _*).count()
      .where(col("count") > 1).limit(1).count()
    require(dup == 0,
      "MERGE source carries duplicate key rows — ambiguous (dedupe upstream)")
    // all checks green — only now evolve: each new source column extends
    // the target schema (nullable, metadata-only commit per column), then
    // the changelog below speaks the evolved schema for every piece.
    // Remaining non-atomicity is schema-vs-data: the metadata commits are
    // separate from the data commit, so a crash BETWEEN them leaves an
    // evolved-but-unmerged table (benign: added columns are nullable and
    // empty), and concurrent readers can observe the intermediate schema.
    if (evolveSchema)
      extras.foreach(f => addColumn(spark, path, f.name, f.dataType.sql))
    val tgt = if (evolveSchema && extras.nonEmpty) read(spark, path) else tgt0
    val srcP = src.select(src.columns.toSeq.map(c => col(c).as(s"src_$c")): _*)
    // evolution contexts: a target column the source lacks keeps the
    // TARGET's value under UPDATE SET * and lands NULL under INSERT *
    def srcOrKeep(c: String): org.apache.spark.sql.Column =
      if (srcCols(c)) col(s"src_$c") else col(c)
    def srcOrNull(c: String): org.apache.spark.sql.Column =
      if (srcCols(c)) col(c) else lit(null).cast(tgt.schema(c).dataType)
    // several clauses slice the SAME matched frame — checkpoint it lazily
    // so the changelog union executes ONE join, not one per clause (the
    // matched set is bounded by the source, the small side of a merge)
    val joined0 = tgt.join(srcP,
      keys.map(k => col(k) <=> col(s"src_$k")).reduce(_ && _), "inner")
    val joined = if (matched.length > 1) joined0.localCheckpoint(false) else joined0
    val pieces = Seq.newBuilder[DataFrame]
    def firstMatchWins(frame: DataFrame,
        clauses: Seq[(Option[org.apache.spark.sql.Column], MergeAction)],
        updateBase: String => org.apache.spark.sql.Column): Unit = {
      var remaining: org.apache.spark.sql.Column = lit(true)
      clauses.foreach { case (condOpt, action) =>
        // 3VL: a clause FIRES only when its condition is TRUE, and a row
        // FALLS THROUGH to the next clause when the condition is FALSE *or
        // NULL* — so the "no earlier clause fired" accumulator must negate
        // under coalesce(cond, false); bare `!cond` would turn a NULL
        // condition into a NULL `remaining` and silently exempt the row
        // from every later clause (incl. an unconditional final UPDATE)
        val fire = remaining && condOpt.getOrElse(lit(true))
        action match {
          case MergeDelete =>
            pieces += frame.where(fire)
              .select(cols.map(col) :+ lit("delete").as("_change_type"): _*)
          case MergeUpdate(Nil) => // SET *: the source row replaces the target's
            pieces += frame.where(fire)
              .select(cols.map(c => updateBase(c).as(c)) :+
                lit("insert").as("_change_type"): _*)
          case MergeUpdate(assigns) =>
            val byName = assigns.toMap
            require(assigns.forall { case (c, _) => cols.contains(c) },
              s"MERGE UPDATE SET names unknown columns ${assigns.map(_._1).mkString(",")}")
            pieces += frame.where(fire)
              .select(cols.map(c => byName.getOrElse(c, col(c)).as(c)) :+
                lit("insert").as("_change_type"): _*)
        }
        remaining = remaining &&
          !org.apache.spark.sql.functions.coalesce(
            condOpt.getOrElse(lit(true)), lit(false))
      }
    }
    firstMatchWins(joined, matched, srcOrKeep)
    notMatched.foreach { condOpt =>
      val insertCol: String => org.apache.spark.sql.Column =
        if (notMatchedValues.isEmpty) srcOrNull
        else {
          val byName = notMatchedValues.toMap
          require(notMatchedValues.forall { case (c, _) => cols.contains(c) },
            "MERGE INSERT column list names unknown columns " +
              notMatchedValues.map(_._1).mkString(","))
          require(keys.forall(byName.contains),
            s"MERGE INSERT column list must assign every merge key (${keys.mkString(",")})")
          c => byName.get(c).map(_.cast(tgt.schema(c).dataType))
            .getOrElse(lit(null).cast(tgt.schema(c).dataType))
        }
      val tgtKeys = tgt.select(keys.map(col): _*)
      val unmatched = src.join(tgtKeys,
        keys.map(k => src(k) <=> tgtKeys(k)).reduce(_ && _), "left_anti")
      pieces += unmatched.where(condOpt.getOrElse(lit(true)))
        .select(cols.map(c => insertCol(c).as(c)) :+
          lit("insert").as("_change_type"): _*)
    }
    if (notMatchedBySource.nonEmpty) {
      require(notMatchedBySource.forall {
        case (_, MergeUpdate(Nil)) => false // no source row to SET * from
        case _ => true
      }, "MERGE: WHEN NOT MATCHED BY SOURCE cannot UPDATE SET * (no source row)")
      val srcKeys = src.select(keys.map(col): _*)
      // orphans can be nearly the WHOLE target (deletion-sync of a stale
      // table) — checkpoint only when several clauses would re-run the
      // anti-join; a single clause streams through unmaterialized
      val orphans0 = tgt.join(srcKeys,
        keys.map(k => tgt(k) <=> srcKeys(k)).reduce(_ && _), "left_anti")
      val orphans = if (notMatchedBySource.length > 1)
        orphans0.localCheckpoint(false) else orphans0
      firstMatchWins(orphans, notMatchedBySource, col)
    }
    applyChanges(spark, pieces.result().reduce(_ unionByName _), path, keys)
  }

  /** IDEMPOTENT FILE INGESTION — the `COPY INTO '<table>' FROM '<dir>'
    * FORMAT {parquet|csv|json|avro} [WITH SCHEMA EVOLUTION]` statement:
    * list the source directory's data files, skip every file VERSION
    * already recorded in the table's ingest LEDGER, read only the new
    * ones, conform them to the table schema (names required, types cast —
    * uncastable values fail loudly through the append), and commit rows +
    * ledger marks ATOMICALLY, so a re-run after any crash ingests each
    * file exactly once. A file's ledger id hashes `path@mtime@length`, so
    * a source file OVERWRITTEN IN PLACE is a new version and re-ingests
    * (its previously loaded rows remain — COPY INTO appends, it never
    * retracts; an unchanged path is never double-loaded). The ledger rides
    * the table's own commit machinery: Delta txn actions (one
    * `graft-copy:<id>` appId per file — carried into checkpoints, durable
    * forever); Iceberg snapshot-summary `graft.copied` id lists (horizon =
    * snapshot retention: expiring a snapshot drops its summary, so keep
    * retention above the re-delivery window). NOTE the ledger is read once
    * at statement start: two COPY INTO runs racing on the SAME table can
    * both see a file unmarked and double-ingest it — run one loader per
    * table (the commit machinery serializes writers, not this statement).
    * With `evolve` (`WITH SCHEMA EVOLUTION`) source columns the table
    * lacks EXTEND the schema first (nullable metadata-only commits, after
    * all validations — existing rows read NULL there). Hidden files
    * (`_`/`.` prefixes) and other-format extensions are skipped; appends
    * inherit the table's partitioning. Returns (committed version, files
    * ingested). */
  def copyInto(spark: SparkSession, path: String, srcDir: String,
      format: String, evolve: Boolean = false): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val fmt = format.trim.toLowerCase(java.util.Locale.ROOT)
    require(Set("parquet", "csv", "json", "avro").contains(fmt),
      s"COPY INTO FORMAT must be parquet | csv | json | avro, got: $format")
    val dirPath = new org.apache.hadoop.fs.Path(srcDir)
    val hfs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(hfs.exists(dirPath), s"COPY INTO: source directory not found: $srcDir")
    val wanted: String => Boolean = fmt match {
      case "parquet" => _.endsWith(".parquet")
      case "csv" => _.endsWith(".csv")
      case "json" => n => n.endsWith(".json") || n.endsWith(".jsonl")
      case "avro" => _.endsWith(".avro")
    }
    val files = hfs.listStatus(dirPath).toSeq
      .filter(st => st.isFile && wanted(st.getPath.getName) &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    // path@mtime@len: an in-place overwrite is a NEW version (re-ingests);
    // the same bytes at the same path never load twice
    def md5_16(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    def fid(st: org.apache.hadoop.fs.FileStatus): String =
      md5_16(s"${st.getPath.toUri.getPath}@${st.getModificationTime}@${st.getLen}")
    // ledgers written before the @mtime@len scheme recorded md5(path)
    // alone — a file is ingested if EITHER id is present, so upgrading
    // never re-ingests a table's already-copied files
    def legacyFid(st: org.apache.hadoop.fs.FileStatus): String =
      md5_16(st.getPath.toUri.getPath)
    val t = table(spark, path)
    val ledger = t.copyLedger(spark, path)
    val fresh = files.filterNot(st =>
      ledger.contains(fid(st)) || ledger.contains(legacyFid(st)))
    if (fresh.isEmpty) return (t.version(spark, path), 0L)
    val names = fresh.map(_.getPath.toString)
    val raw = fmt match {
      case "parquet" => spark.read.parquet(names: _*)
      case "csv" => spark.read.option("header", "true").csv(names: _*)
      case "json" => spark.read.json(names: _*)
      case "avro" => AvroIo.readFiles(spark, names)
    }
    val target0 = t.read(spark, path, -1L).schema
    val missing = target0.fieldNames.filterNot(raw.columns.contains)
    require(missing.isEmpty,
      s"COPY INTO: source files miss table columns ${missing.mkString(",")} " +
        s"(have ${raw.columns.mkString(",")})")
    val extras = raw.schema.fields.toSeq
      .filterNot(f => target0.fieldNames.contains(f.name))
    require(evolve || extras.isEmpty,
      s"COPY INTO: source files carry extra columns ${extras.map(_.name).mkString(",")} " +
        "(use COPY INTO ... WITH SCHEMA EVOLUTION to extend the table)")
    // validations done — evolve only now (same contract as MERGE WITH
    // SCHEMA EVOLUTION: a refused copy never leaves the schema changed)
    if (evolve) extras.foreach(f => addColumn(spark, path, f.name, f.dataType.sql))
    val target = org.apache.spark.sql.types.StructType(target0.fields ++ extras)
    val conformed = raw.select(target.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val v = t.append(spark, conformed, path, partitionBy = t.partitionBy(spark, path),
      copied = fresh.map(fid))
    (v, fresh.length.toLong)
  }

  /** Parsed ANALYZE TABLE statistics of a lake table. `bytes` is the sum
    * of live data-file sizes at analyze time; `ndv` is approximate
    * (HyperLogLog++). `version` records the analyzed snapshot so readers
    * can judge staleness. `hist` carries an equi-width histogram per
    * numeric/date/timestamp column (canonical double domain: numeric
    * value, epoch days, epoch micros) — the range-selectivity source. */
  final case class TableStats(rows: Long, bytes: Long, version: Long,
      ndv: Map[String, Long], nulls: Map[String, Long],
      hist: Map[String, ColHistogram] = Map.empty)

  /** Equi-width histogram of one column over [lo, hi] (canonical double
    * domain), `counts(i)` = non-null rows in bin i. */
  final case class ColHistogram(lo: Double, hi: Double, counts: Seq[Long]) {
    /** Estimated fraction of NON-NULL rows in [qlo, qhi] (either bound
      * may be infinite) — linear interpolation inside partial bins. */
    def fraction(qlo: Double, qhi: Double): Double = {
      val total = counts.sum.toDouble
      if (total <= 0) return 0.0
      if (qhi < qlo || qhi < lo || qlo > hi) return 0.0
      if (hi <= lo) return 1.0 // degenerate single-value domain, inside
      val width = (hi - lo) / counts.length
      if (qlo == qhi) {
        // POINT query (BETWEEN x AND x / a pinned day): linear
        // interpolation would claim zero mass — estimate the containing
        // bin's WHOLE fraction instead (a conservative over-estimate: a
        // point can never select more than its bin holds, so the planner
        // never under-sizes a broadcast on its account)
        val i = math.min(counts.length - 1,
          math.max(0, ((qlo - lo) / width).toInt))
        return math.min(1.0, counts(i) / total)
      }
      var acc = 0.0
      var i = 0
      while (i < counts.length) {
        val blo = lo + i * width
        val bhi = if (i == counts.length - 1) hi else blo + width
        val olo = math.max(blo, qlo)
        val ohi = math.min(bhi, qhi)
        if (ohi > olo) acc += counts(i) * ((ohi - olo) / (bhi - blo))
        i += 1
      }
      math.min(1.0, acc / total)
    }
  }

  private val statsKey = "graft.stats"

  /** `ANALYZE TABLE '<path>' COMPUTE STATISTICS` — ONE aggregate pass over
    * the table (count + per-atomic-column approximate NDV and null count,
    * all partial/map-side combined) persisted into the table's OWN
    * metadata: Delta configuration / Iceberg table properties, both
    * carried forward by every later commit. These are the numbers that
    * make the delegated-SQL planner's size gates principled instead of
    * heuristic: [[delegateSelect]] turns `rows/bytes × Π 1/ndv(eq-col)`
    * into a broadcast decision a raw file-size threshold cannot see
    * (a big table with a selective equality filter IS broadcast-scale).
    * Stats are a snapshot-stamped estimate, not a constraint — re-run
    * after large writes; consumers check the stamped version. */
  def analyzeTable(spark: SparkSession, path: String): Long = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit, sum, when}
    val t = table(spark, path)
    val df = t.read(spark, path, -1L)
    val cols = df.schema.fields.toSeq.filter(_.dataType match {
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           _: org.apache.spark.sql.types.StructType |
           org.apache.spark.sql.types.BinaryType => false
      case _ => true
    })
    // canonical double domain for histogram-able columns: numeric value,
    // DATE → epoch days, TIMESTAMP → epoch micros (the same canonical form
    // the range-selectivity reader uses for its literals)
    def canon(f: org.apache.spark.sql.types.StructField): Option[org.apache.spark.sql.Column] =
      f.dataType match {
        case _: org.apache.spark.sql.types.NumericType => Some(col(f.name).cast("double"))
        case org.apache.spark.sql.types.DateType =>
          Some(org.apache.spark.sql.functions.unix_date(col(f.name)).cast("double"))
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          Some(org.apache.spark.sql.functions.unix_micros(
            col(f.name).cast("timestamp")).cast("double"))
        case _ => None
      }
    val histCols = cols.flatMap(f => canon(f).map(f.name -> _))
    val aggs = (count(lit(1)).as("__rows") +: cols.flatMap(f => Seq(
      approx_count_distinct(col(f.name)).as(s"__ndv_${f.name}"),
      sum(when(col(f.name).isNull, 1L).otherwise(0L)).cast("long")
        .as(s"__nulls_${f.name}")))) ++ histCols.flatMap { case (n, c) =>
      Seq(org.apache.spark.sql.functions.min(c).as(s"__lo_$n"),
        org.apache.spark.sql.functions.max(c).as(s"__hi_$n"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    // equi-width HISTOGRAMS (32 bins), second linear pass now that the
    // bounds are known — map-side combined sums, one tiny result row. The
    // selectivity these buy: range predicates (BETWEEN/</>) shrink the
    // planner's row estimates the way equality already does through NDV.
    val HistBins = 32
    val histDomain: Seq[(String, Double, Double, org.apache.spark.sql.Column)] =
      histCols.zipWithIndex.flatMap { case ((n, c), i) =>
        val base = 1 + 2 * cols.length + 2 * i
        if (row.isNullAt(base) || row.isNullAt(base + 1)) None
        else {
          val lo = row.getDouble(base)
          val hi = row.getDouble(base + 1)
          if (hi > lo) Some((n, lo, hi, c)) else None
        }
      }
    val histCounts: Map[String, Seq[Long]] =
      if (histDomain.isEmpty) Map.empty
      else {
        val binAggs = histDomain.flatMap { case (n, lo, hi, c) =>
          val width = (hi - lo) / HistBins
          val bucket = org.apache.spark.sql.functions.least(
            lit(HistBins - 1),
            org.apache.spark.sql.functions.floor((c - lit(lo)) / lit(width)))
          (0 until HistBins).map(b =>
            sum(when(bucket === b, 1L).otherwise(0L)).cast("long")
              .as(s"__h_${n}_$b"))
        }
        val hrow = df.agg(binAggs.head, binAggs.tail: _*).head()
        histDomain.zipWithIndex.map { case ((n, _, _, _), i) =>
          n -> (0 until HistBins).map(b =>
            if (hrow.isNullAt(i * HistBins + b)) 0L
            else hrow.getLong(i * HistBins + b))
        }.toMap
      }
    val bytes = {
      val hconf = spark.sparkContext.hadoopConfiguration
      df.inputFiles.map { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).getFileStatus(hp).getLen
      }.sum
    }
    def jq(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val histJson: Map[String, String] = histDomain.map { case (n, lo, hi, _) =>
      n -> (s""",${jq("hist")}:{${jq("lo")}:$lo,${jq("hi")}:$hi,""" +
        s"""${jq("counts")}:[${histCounts(n).mkString(",")}]}""")
    }.toMap
    val colJson = cols.zipWithIndex.map { case (f, i) =>
      val nulls = if (row.isNullAt(2 + 2 * i)) 0L else row.getLong(2 + 2 * i)
      s"${jq(f.name)}:{${jq("ndv")}:${row.getLong(1 + 2 * i)},${jq("nulls")}:$nulls" +
        histJson.getOrElse(f.name, "") + "}"
    }.mkString("{", ",", "}")
    // version stamp = what versionOf reports right AFTER this statement:
    // a racing interleaved Delta commit makes the stamp mismatch →
    // consumers safely ignore the stats. A later DATA commit moves the
    // head past the stamp on either format, which is exactly the
    // staleness signal the broadcast gate checks.
    val stamped = t.propertiesVersion(spark, path)
    val json = s"""{"rows":${row.getLong(0)},"bytes":$bytes,""" +
      s""""version":$stamped,"cols":$colJson}"""
    t.setProperties(spark, path, Map(statsKey -> json))
  }

  /** The persisted [[analyzeTable]] stats of a table: None for plain
    * parquet or a table never analyzed. A failed metadata read or a
    * malformed `graft.stats` property raises. */
  def tableStats(spark: SparkSession, path: String): Option[TableStats] =
    tableOption(spark, path).flatMap(_.properties(spark, path).get(statsKey)).map { j =>
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(j)
      require(n.isObject && n.path("rows").isIntegralNumber &&
        n.path("version").isIntegralNumber,
        s"malformed $statsKey property at $path: $j")
      import scala.jdk.CollectionConverters._
      val cols = Option(n.get("cols")).toSeq
        .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue))
      TableStats(n.path("rows").asLong(0), n.path("bytes").asLong(0),
        n.path("version").asLong(-1),
        cols.map { case (k, v) => k -> v.path("ndv").asLong(0) }.toMap,
        cols.map { case (k, v) => k -> v.path("nulls").asLong(0) }.toMap,
        cols.flatMap { case (k, v) =>
          Option(v.get("hist")).map { h =>
            k -> ColHistogram(h.path("lo").asDouble(0), h.path("hi").asDouble(0),
              h.path("counts").elements().asScala.map(_.asLong(0)).toSeq)
          }
        }.toMap)
    }

  /** Format-agnostic bucket-layout probe — the zero-exchange routes'
    * entry: Iceberg spec `bucket[n]` partitioning ([[IcebergRead
    * .bucketLayoutMoR]]) or a Delta table our bucketed writer stamped
    * ([[DeltaRead.bucketLayoutMoR]]). Both hash through the SAME
    * engine-pinned Murmur3, so cross-format co-bucketed joins align.
    *
    * MERGE-ON-READ TOLERANT: deletion vectors (Delta) and position
    * deletes (Iceberg) are FILE-scoped — they can hide a row but never
    * move it between buckets, so bucket confinement survives a DELETE
    * and the layout stays offered, carrying the per-file masks the
    * bucket-local scans apply ([[graft.operators.BucketedJoin
    * .bucketScan]]). Without this, one GDPR DELETE on a bucketed fact
    * would silently revert every routed star query to the full-shuffle
    * plan until OPTIMIZE materializes the deletes. Equality deletes
    * still refuse (their sequence-number scoping needs the full MoR
    * reader). */
  def bucketLayoutMoR(spark: SparkSession, path: String, key: String)
      : Option[(Int, Map[Int, Seq[(String, Long)]], LayoutDeletes)] =
    tableOption(spark, path).flatMap(_.bucketLayoutMoR(spark, path, key))
      .filter { case (_, _, dels) => deletesWithinBudget(spark, dels) }

  /** Estimated driver-heap bytes per EXPANDED deleted position: the routed
    * scans collect every live (file, pos) pair to the driver (a Long in
    * `Pos.byFile`'s arrays, a `Row` in the per-chunk delete relation, an
    * UnsafeRow + path bytes in the broadcast hash relation) — ~64 B/row,
    * conservative. */
  private val DeleteRowBytes = 64L

  /** DELETE-BUDGET GATE for every merge-on-read bucket route: the routed
    * readers expand the table's live deleted positions ON THE DRIVER
    * (guide §5 — the driver should do almost no data work), so a
    * CDC-heavy table with billions of live deletes must NOT be offered
    * the route at all. The volume is known from metadata alone — Delta DV
    * descriptors record `cardinality`, Iceberg delete manifests record
    * `record_count` — so the gate costs zero I/O. Past
    * `graft.route.deleteBudgetBytes` (default 256 MiB of estimated
    * expanded driver heap, ≈4M deleted rows; ≤0 disables the gate), or
    * when the count is unrecorded, the layout is refused and callers fall
    * back to the full shuffled merge-on-read reader, which applies
    * deletes distributed. The analogue of the SPJ build gate
    * (`graft.route.buildBudgetBytes`). */
  private def deletesWithinBudget(spark: SparkSession, dels: LayoutDeletes): Boolean =
    dels match {
      case NoDeletes => true
      case d =>
        val budget = spark.conf.getOption("graft.route.deleteBudgetBytes")
          .flatMap(v => scala.util.Try(
            org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)).toOption)
          .getOrElse(256L * 1024 * 1024)
        if (budget <= 0) true
        else {
          val rows = d match {
            case LayoutDeletes.Dv(_, byPath) => byPath.values.map(_.cardinality).sum
            case p: LayoutDeletes.Pos => p.rows
          }
          // unknown (-1) refuses: an unbounded driver expansion is the one
          // failure mode this gate exists to prevent
          rows >= 0 && rows * DeleteRowBytes <= budget
        }
    }

  /** [[bucketLayoutMoR]] restricted to DELETE-FREE snapshots — the
    * compatibility surface for callers that read the files directly
    * without applying masks. */
  def bucketLayoutSized(spark: SparkSession, path: String, key: String)
      : Option[(Int, Map[Int, Seq[(String, Long)]])] =
    bucketLayoutMoR(spark, path, key).collect {
      case (n, m, NoDeletes) => (n, m)
    }

  /** [[bucketLayoutSized]] without the sizes. */
  def bucketLayout(spark: SparkSession, path: String, key: String)
      : Option[(Int, Map[Int, Seq[String]])] =
    bucketLayoutSized(spark, path, key).map { case (n, m) =>
      (n, m.map { case (b, fs) => b -> fs.map(_._1) })
    }

  /** FILE-STATS PRUNING for the bucket-local scans: the set of live files
    * `pred` can NEVER match, by the same min/max/null/bloom translation
    * the delegated scans apply ([[graft.operators.DataSkipping
    * .fileSurvives]]) over the format's persisted per-file stats. Returns
    * the REJECTED set (bare URI paths) rather than the keep set so a
    * concurrent commit between the layout probe and this stats read can
    * only under-prune, never drop a live file the stats frame missed.
    * Empty on any refusal — pruning is an optimization; correctness never
    * depends on it. */
  def fileSkipRejects(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column): Set[String] = {
    // Round-19 optimization (guide §1.2): the translation below parses
    // manifests and analyzes a predicate over the stats frame — tens of
    // ms of driver work PER ROUTED QUERY EXECUTION, repeated verbatim for
    // every re-run of the same statement. The reject set is a pure
    // function of (table version, predicate tree), so memoize on exactly
    // that: a commit changes the version (new key — a hit can never serve
    // a stale set), and `pred.toString` is the deterministic render of
    // the predicate's expression tree.
    val verKey = scala.util.Try(versionOf(spark, path)).getOrElse(-2L)
    val cacheKey = s"$path\u0000$verKey\u0000${pred.toString}"
    val hit = skipRejectCache.get(cacheKey)
    if (hit != null) return hit
    val computed = fileSkipRejectsImpl(spark, path, pred)
    skipRejectCache.put(cacheKey, computed)
    computed
  }

  private val skipRejectCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Set[String]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Set[String]]): Boolean = size() > 256
      })

  private def fileSkipRejectsImpl(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column): Set[String] = scala.util.Try {
    val stats = fileStats(spark, path)
    val statCols = stats.columns.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_") }.toSet
    val bloomCols = stats.columns.collect {
      case c if c.startsWith("bloom_") => c.stripPrefix("bloom_") }.toSet
    val schema = tableSchema(spark, path)
    val cond = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .where(pred).queryExecution.analyzed
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(return Set.empty[String])
    val survives =
      graft.operators.DataSkipping.fileSurvives(cond, statCols, bloomCols)
    // NOT(survives): a NULL verdict keeps the file (not rejected)
    stats.where(!survives).select("file").collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath)
      .toSet
  }.getOrElse(Set.empty)

  /** The schema the bucket-local (by-name) reader resolves against. */
  def tableSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType =
    tableOption(spark, path).map(_.schema(spark, path))
      .getOrElse(spark.read.parquet(path).schema)

  /** The current version, -1 for plain parquet. */
  private[sources] def versionOf(spark: SparkSession, path: String): Long =
    tableOption(spark, path).map(_.version(spark, path)).getOrElse(-1L)

  /** What [[maintain]] did, for logging/metrics. */
  final case class Maintenance(
      format: String,
      compacted: Boolean,
      version: Long,
      checkpointed: Boolean,
      reclaimedFiles: Int)

  /** One-call table MAINTENANCE driver — the routine loop a production
    * lake runs on every table: OPTIMIZE small files (and optionally
    * re-cluster on a z-order key set), checkpoint the Delta log once
    * enough commits accumulate (so replay stays O(checkpoint tail)), and
    * reclaim files beyond the retention horizon with the in-flight-writer
    * age grace. Each step is the already-idempotent primitive, so running
    * maintain on a schedule (or concurrently with writers) is safe;
    * incremental consumers are undisturbed by construction — compaction
    * commits are skipped by the adds-only tails and reported as
    * delete+insert pairs by the changelogs. */
  def maintain(spark: SparkSession, path: String,
      smallFileBytes: Long = 64L << 20, targetFileBytes: Long = 128L << 20,
      zorderBy: Seq[String] = Nil,
      retain: Int = 7, minFileAgeMs: Long = 24L * 3600 * 1000,
      checkpointEveryCommits: Int = 10, analyze: Boolean = false): Maintenance = {
    val t = table(spark, path)
    val before = t.version(spark, path)
    val v = t.compact(spark, path, smallFileBytes, targetFileBytes, zorderBy, None, "z")
    // Delta only: checkpoint when the replay tail (commits past the last
    // checkpoint) has grown beyond the cadence
    val doCp = t == Delta && {
      val logDir = new org.apache.hadoop.fs.Path(s"${path.stripSuffix("/")}/_delta_log")
      val lfs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val names: Array[String] =
        if (!lfs.exists(logDir)) Array.empty
        else lfs.listStatus(logDir).map(_.getPath.getName)
      val lastCp = names.filter(_.endsWith(".checkpoint.parquet"))
        .map(_.take(20).toLong).sorted.lastOption.getOrElse(-1L)
      val tail = names.count(n => n.length == 25 && n.endsWith(".json") &&
        n.take(20).forall(_.isDigit) && n.take(20).toLong > lastCp)
      tail >= checkpointEveryCommits
    }
    if (doCp) DeltaWrite.checkpoint(spark, path)
    val reclaimed = t.vacuum(spark, path, retain, minFileAgeMs, dryRun = false)
    val result = Maintenance(t.name, v != before, v, doCp, reclaimed.size)
    // ANALYZE FRESHNESS: every commit above (and every append since the
    // last ANALYZE) silently withdraws the planner inputs keyed to the
    // stats' version — broadcast hints, join reordering, the agg budget
    // gate's group estimates. Scheduled maintenance is exactly where
    // stats should be re-derived, so `analyze = true` re-runs the
    // one-pass ANALYZE when the recorded stats version is stale (or
    // absent), restoring routing/hints in the same maintenance window.
    if (analyze) {
      val fresh = tableStats(spark, path)
        .exists(_.version == versionOf(spark, path))
      if (!fresh) analyzeTable(spark, path)
    }
    result
  }

  /** MERGE/UPSERT dispatch: key-matched rows replaced, new keys inserted —
    * Delta as one DV-delete+append commit, Iceberg as equality-delete +
    * append snapshots. Plain parquet has no transaction log — refused. */
  def upsert(spark: SparkSession, df: DataFrame, path: String,
      keyCols: Seq[String]): Long =
    table(spark, path).upsert(spark, df, path, keyCols)

  /** SQL-UPDATE dispatch: rows matching `condition` get `assignments`
    * applied — Delta as ONE DV-delete+append commit, Iceberg as a
    * position-delete + append snapshot pair. No keys needed (matching is
    * positional). Plain parquet has no transaction log — refused. */
  def updateWhere(spark: SparkSession, path: String,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      condition: org.apache.spark.sql.Column,
      alias: Option[String] = None): Long =
    table(spark, path).updateWhere(spark, path, assignments, condition, alias)

  /** PARTITION-SCOPED OVERWRITE dispatch (`replaceWhere`): atomically swap
    * the partitions matching `where` for `df`'s rows — the daily-backfill
    * idiom. Both formats require the predicate to resolve over the
    * (identity-)partition columns and every incoming row to satisfy it.
    * Plain parquet has no log for an atomic swap — refused. */
  def replaceWhere(spark: SparkSession, df: DataFrame, path: String,
      where: String): Long =
    table(spark, path).replaceWhere(spark, df, path, where)

  // ---------------------------------------------------------------- SQL DML

  /** See [[LakeSql.sql]] — the DML/DDL/maintenance statement surface. */
  def sql(spark: SparkSession, statement: String): Long =
    LakeSql.sql(spark, statement)

  /** See [[LakeSql.sqlFrame]] — result-set statements. */
  def sqlFrame(spark: SparkSession, statement: String): DataFrame =
    LakeSql.sqlFrame(spark, statement)

  /** See [[LakeSql.sqlScript]] — multi-statement scripts. */
  def sqlScript(spark: SparkSession, script: String): DataFrame =
    LakeSql.sqlScript(spark, script)


  /** Split `s` on top-level commas (commas inside parens or single-quoted
    * strings don't split) — the SET-clause item splitter. */
  private[sources] def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inStr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        cur += c
        if (c == '\'') inStr = false
      } else c match {
        case '\'' => inStr = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.result(); cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    if (cur.nonEmpty) out += cur.result()
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** First top-level occurrence of word `kw` in `s` at or after `from`:
    * case-insensitive, whole-word, outside single-quoted strings and
    * parens. Scans quote/paren STATE from position 0 (so `from` may point
    * anywhere), reports only matches at/after `from`. -1 when absent —
    * the keyword locator that makes the DML grammar literal-safe
    * (`SET note = 'a WHERE b'` no longer mis-splits). */
  private[sources] def topLevelKeyword(s: String, kw: String, from: Int = 0): Int = {
    val u = s.toUpperCase(java.util.Locale.ROOT)
    val k = kw.toUpperCase(java.util.Locale.ROOT)
    def isWord(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    var depth = 0
    var inStr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (i >= from && depth == 0 && u.startsWith(k, i) &&
              (i == 0 || !isWord(s.charAt(i - 1))) &&
              (i + k.length == s.length || !isWord(s.charAt(i + k.length))))
            return i
      }
      i += 1
    }
    -1
  }

  /** Index of the ')' matching the '(' at `open`, skipping quoted
    * strings; -1 if unbalanced. */
  private[sources] def matchingParen(s: String, open: Int): Int = {
    require(open >= 0 && open < s.length && s.charAt(open) == '(',
      s"expected '(' at $open in: $s")
    var depth = 0
    var inStr = false
    var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }


  /** Parse a TIMESTAMP AS OF literal: bare digits are epoch MILLISECONDS
    * (the original integer form); anything else is an ISO-8601 /
    * `yyyy-MM-dd[ HH:mm:ss[.SSS]]` timestamp string, read as UTC when no
    * zone is given — the form a SQL user actually writes. */
  private[sources] def parseTsLiteral(ts: String): Long = {
    val t = ts.trim
    if (t.matches("""\d+""")) t.toLong
    else {
      val iso0 = if (t.contains("T")) t else t.replace(" ", "T")
      val iso = if (iso0.contains("T")) iso0 else iso0 + "T00:00:00"
      scala.util.Try(java.time.Instant.parse(iso).toEpochMilli).getOrElse(
        java.time.LocalDateTime.parse(iso)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    }
  }

  /** A `FROM|JOIN <table> [VERSION AS OF n | TIMESTAMP AS OF ts]` table
    * reference found in a statement — a quoted path, or (under `USE`) a
    * bare identifier the directory catalog resolves. The span
    * [start, end) covers the path/name plus its pin clause (the FROM/JOIN
    * keyword stays in place when rewriting). `atMs` is -1 unless a
    * TIMESTAMP pin was given. `depth` is the paren depth the reference
    * sits at (0 = the statement's own query block; >0 = inside a derived
    * table/subquery). `alias` is the reference's effective qualifier —
    * the explicit `[AS] a` alias when present, else the bare identifier
    * itself; `aliasInText` says whether that token already exists in the
    * statement (a bare name WITHOUT an explicit alias must be re-aliased
    * when its text is replaced by a view name, or qualified columns like
    * `events.v` would stop resolving). */
  private[sources] final case class TableRef(start: Int, end: Int, path: String,
      version: Long, atMs: Long = -1L, depth: Int = 0,
      alias: Option[String] = None, aliasInText: Boolean = false)

  /** Words that may follow a table reference but can never BE its alias —
    * the clause keywords the alias parse must not swallow. */
  private[sources] val NonAliasWords: Set[String] = Set(
    "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "ON", "JOIN", "LEFT",
    "RIGHT", "FULL", "INNER", "CROSS", "OUTER", "UNION", "INTERSECT",
    "EXCEPT", "WINDOW", "QUALIFY", "USING", "NATURAL", "SEMI", "ANTI",
    "LATERAL", "VERSION", "TIMESTAMP", "SELECT", "FROM", "AND", "OR")

  /** Quote-aware scan for table references at ANY paren depth (subqueries
    * included): a FROM/JOIN inside a string literal never matches, so a
    * predicate like `WHERE note = ' FROM x '` cannot conjure one. The
    * dialect reserves the `FROM|JOIN '<literal>'` sequence for table
    * paths — a genuine string literal directly after FROM/JOIN is not
    * valid SQL anyway, and a path that turns out NOT to be a table
    * directory (`EXTRACT(YEAR FROM '2026-01-01')`) is filtered by the
    * caller, leaving the literal untouched for Spark to parse.
    * `resolveBare` maps a bare identifier after FROM/JOIN to a table path
    * (the `USE '<dir>'` catalog) — None leaves the word alone (a temp
    * view, a CTE name, a function call). */
  private[sources] def tableRefs(s: String,
      resolveBare: String => Option[String] = _ => None): Seq[TableRef] = {
    def isWord(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    val VersionTail = """(?is)^\s+VERSION\s+AS\s+OF\s+(\d+)""".r
    val TimestampTail = """(?is)^\s+TIMESTAMP\s+AS\s+OF\s+(?:(\d+)|'([^']+)')""".r
    // the explicit [AS] alias following a reference, if any — recorded as
    // the ref's qualifier, never consumed from the text
    def aliasAfter(from: Int): Option[String] = {
      var k = from
      while (k < s.length && Character.isWhitespace(s.charAt(k))) k += 1
      var p = k
      while (p < s.length && isWord(s.charAt(p))) p += 1
      if (p == k) return None
      var w = s.substring(k, p)
      if (w.toUpperCase(java.util.Locale.ROOT) == "AS") {
        var k2 = p
        while (k2 < s.length && Character.isWhitespace(s.charAt(k2))) k2 += 1
        var p2 = k2
        while (p2 < s.length && isWord(s.charAt(p2))) p2 += 1
        if (p2 == k2) return None
        w = s.substring(k2, p2)
      }
      Some(w).filterNot(a =>
        NonAliasWords.contains(a.toUpperCase(java.util.Locale.ROOT)) ||
          !Character.isLetter(a.charAt(0)))
    }
    // the pin tail after a path/name ending at `after`: returns
    // (end-of-span, version, atMs)
    def pinTail(after: Int): (Int, Long, Long) = {
      val rest = s.substring(after)
      VersionTail.findPrefixMatchOf(rest) match {
        case Some(m) => (after + m.end, m.group(1).toLong, -1L)
        case None => TimestampTail.findPrefixMatchOf(rest) match {
          case Some(m) =>
            val lit = if (m.group(1) != null) m.group(1) else m.group(2)
            scala.util.Try(parseTsLiteral(lit)).toOption match {
              case Some(ms) => (after + m.end, -1L, ms)
              case None => (after, -1L, -1L) // unparseable: not a pin
            }
          case None => (after, -1L, -1L)
        }
      }
    }
    val out = Seq.newBuilder[TableRef]
    // one reference (quoted path or resolvable bare name) starting exactly
    // at `k`; None leaves the text alone
    def refAt(k: Int, depth: Int): Option[(TableRef, Int)] = {
      if (k < s.length && s.charAt(k) == '\'') {
        val close = s.indexOf('\'', k + 1)
        if (close <= 0) None
        else {
          val path = s.substring(k + 1, close)
          val (end, v, ms) = pinTail(close + 1)
          val al = aliasAfter(end)
          Some((TableRef(k, end, path, v, ms, depth, al, al.isDefined), end))
        }
      } else if (k < s.length && Character.isLetter(s.charAt(k))) {
        // bare identifier: a table name under the USE'd directory — but
        // never a function call (`FROM range(10)`)
        var p = k
        while (p < s.length && isWord(s.charAt(p))) p += 1
        var q = p
        while (q < s.length && Character.isWhitespace(s.charAt(q))) q += 1
        val name = s.substring(k, p)
        val isCall = q < s.length && s.charAt(q) == '('
        if (isCall ||
            NonAliasWords.contains(name.toUpperCase(java.util.Locale.ROOT))) None
        else resolveBare(name).map { path =>
          val (end, v, ms) = pinTail(p)
          val explicit = aliasAfter(end)
          (TableRef(k, end, path, v, ms, depth,
            explicit.orElse(Some(name)), explicit.isDefined), end)
        }
      } else None
    }
    var i = 0
    var inStr = false
    var depth = 0
    // FROM-list continuation: after a reference (and at most its [AS]
    // alias words), a comma at the SAME depth introduces the next one —
    // `FROM 'a' x, 'b' y` (the implicit cross join)
    var afterRef = false
    var refDepth = 0
    var aliasBudget = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false; i += 1 }
      else if (c == '\'') { inStr = true; afterRef = false; i += 1 }
      else if (c == '(') { depth += 1; afterRef = false; i += 1 }
      else if (c == ')') { depth -= 1; afterRef = false; i += 1 }
      else if (c == ',' && afterRef && depth == refDepth) {
        var k = i + 1
        while (k < s.length && Character.isWhitespace(s.charAt(k))) k += 1
        refAt(k, depth) match {
          case Some((r, end)) =>
            out += r
            aliasBudget = 2
            i = end
          case None => afterRef = false; i += 1
        }
      }
      else if (Character.isLetter(c) && (i == 0 || !isWord(s.charAt(i - 1)))) {
        var j = i
        while (j < s.length && isWord(s.charAt(j))) j += 1
        val w = s.substring(i, j).toUpperCase(java.util.Locale.ROOT)
        var next = j
        if (w == "FROM" || w == "JOIN") {
          afterRef = false
          var k = j
          while (k < s.length && Character.isWhitespace(s.charAt(k))) k += 1
          refAt(k, depth) match {
            case Some((r, end)) =>
              out += r
              afterRef = true; refDepth = depth; aliasBudget = 2
              next = end
            case None =>
          }
        } else if (afterRef) {
          // the ref's optional [AS] alias may sit between it and a comma;
          // anything else (a clause keyword, a third word) ends the list
          if (aliasBudget > 0 && !NonAliasWords.contains(w)) aliasBudget -= 1
          else afterRef = false
        }
        i = next
      } else if (Character.isWhitespace(c)) i += 1
      else { afterRef = false; i += 1 }
    }
    out.result()
  }

  /** GENERAL SELECT over lake paths — any statement beyond the
    * [[simpleSelect]] dialect (GROUP BY, aggregates, joins, subqueries,
    * set operations, DISTINCT, HAVING, window functions …) delegates to
    * Spark SQL: each table reference found by [[tableRefs]] is registered
    * as a temp view over the format-detected, VERSION-pinned scan (view
    * names are content-addressed on (path, version, pruning predicate),
    * so repeated statements reuse them), the statement text is rewritten
    * to name the views, and the full statement runs through `spark.sql`.
    * Under `USE '<dir>'`, bare identifiers resolve through the directory
    * catalog the same way (re-aliased to their own name so qualified
    * columns keep resolving); a `FROM '<literal>'` that is NOT a table
    * directory (`EXTRACT(YEAR FROM '2026-01-01')`) is left untouched for
    * Spark to parse as the literal it is.
    *
    * Because the views resolve to the exact relations the API reads plan,
    * downstream optimizer hooks compose: a statement-text aggregate over
    * a base registered with [[graft.plans.Mv]] routes to its MV exactly
    * like the DataFrame twin (the routing rule runs after
    * EliminateSubqueryAliases, so the view alias is gone by then). At
    * scale the scan behaves like any API read — Catalyst pushes filters
    * and prunes columns into it — and the manifest/add-stats FILE tier
    * composes on top: [[pruneConjuncts]] splits each query
    * BLOCK's own top-level WHERE into conjuncts (the statement's for
    * depth-0 references, the enclosing derived table's/CTE's for nested
    * ones), attributes each to the single reference of that block it
    * touches, and builds that reference's view over [[scanPruned]] — so a
    * multi-path TPC-H-shaped join skips files on EVERY side, and a
    * filtered CTE/derived table prunes from inside its own block. Pruning is an
    * optimization, never a semantic dependency: the statement's WHERE
    * re-applies every conjunct, only deterministic subquery-free
    * conjuncts participate, references inside derived tables are never
    * pre-filtered (their query block computes over its OWN rows — a
    * window function there must see the unfiltered table), and set
    * operations or outer joins at the top level disable attribution
    * entirely (a null-tolerant conjunct pushed below a LEFT JOIN's
    * nullable side would change results). */
  /** The statement's RESOLVED table references: quoted paths and
    * USE-catalog bare names that EXIST on the filesystem (a directory, or
    * a single parquet file — both are tables `spark.read` accepts). A
    * `FROM '<literal>'` whose path does not exist is a genuine string
    * literal in function position (`EXTRACT(YEAR FROM '2026-01-01')`) —
    * excluded, its text left untouched for Spark to parse. */
  private[sources] def resolvedRefs(spark: SparkSession, statement: String): Seq[TableRef] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    def exists(p: String): Boolean = scala.util.Try {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).exists(hp)
    }.getOrElse(false)
    val useDir = spark.conf.getOption(UseDirKey).map(_.stripSuffix("/"))
    // a bare name is a TABLE directory first, a stored VIEW second
    def resolveBare(w: String): Option[String] = useDir.flatMap { d =>
      Some(s"$d/$w").filter(exists)
        .orElse(Some(s"$d/$w.view.sql").filter(exists))
    }
    tableRefs(statement, resolveBare).flatMap { r =>
      if (exists(r.path)) Some(r)
      // a quoted path whose directory is absent but whose `.view.sql`
      // twin exists reads the STORED VIEW by path — the catalog-free
      // counterpart of bare-name view expansion (a genuine string
      // literal after FROM stays excluded: its twin cannot exist)
      else if (!r.path.endsWith(".view.sql") && exists(s"${r.path}.view.sql"))
        Some(r.copy(path = s"${r.path}.view.sql"))
      else None
    }
  }

  /** A DML statement's SELECT source: lake-path / USE-catalog references
    * delegate like any statement-text SELECT, so `INSERT INTO '<a>'
    * SELECT ... FROM '<b>'` (and MERGE USING, CTAS) are lake-to-lake in
    * one statement; a source with no such reference (VALUES, temp views,
    * the lake_scan TVFs) runs through plain `spark.sql`. */
  private[sources] def sourceFrame(spark: SparkSession, source: String): DataFrame =
    if (resolvedRefs(spark, source).isEmpty) spark.sql(source)
    else LakeDelegate.delegateSelect(spark, source)

  /** Bind a DML expression (DELETE/UPDATE WHERE predicates, MERGE WHEN
    * conditions, UPDATE/MERGE SET values)
    * that may carry SUBQUERIES over lake references — `DELETE FROM '<t>'
    * WHERE k IN (SELECT k FROM '<dim>')`, `... WHERE EXISTS (SELECT 1
    * FROM dim d WHERE d.k = k)` under a `USE` catalog. Each quoted-path /
    * bare-catalog-name reference inside the predicate text resolves to a
    * content-addressed temp view (version/timestamp pins honored, stored
    * views expanded) and the text is spliced, exactly like
    * [[delegateSelect]]'s FROM rewrite — so when the writer's
    * `.where(cond)` is analyzed against the target scan, every name in
    * the subquery resolves through the session catalog. IN / NOT IN /
    * EXISTS / scalar and target-correlated subqueries all bind this way
    * (the analyzer resolves outer references against the target scan).
    * A predicate with no lake references stays a plain `expr` — temp-view
    * subqueries already resolve without help. Subquery scans are
    * evaluated by Spark per statement (typically a broadcast semi-join
    * against the target); file-stats pruning is not attributed through
    * predicate subqueries — correctness only needs names to resolve. */
  private[sources] def resolveExpr(spark: SparkSession, pred: String)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.expr
    val refs = resolvedRefs(spark, pred)
    if (refs.isEmpty) expr(pred)
    else {
      val sb = new java.lang.StringBuilder
      var pos = 0
      refs.foreach { r =>
        val frame =
          if (r.path.endsWith(".view.sql")) viewFrame(spark, r.path)
          else {
            val v = if (r.atMs >= 0) versionAt(spark, r.path, r.atMs) else r.version
            read(spark, r.path, v)
          }
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${r.path}@${r.version}@${r.atMs}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(16)
        val view = s"graft_lake_$key"
        frame.createOrReplaceTempView(view)
        sb.append(pred, pos, r.start).append(view)
        if (!r.aliasInText && r.alias.isDefined)
          sb.append(" AS ").append(r.alias.get)
        pos = r.end
      }
      sb.append(pred, pos, pred.length)
      expr(sb.toString)
    }
  }


  /** Observability forwarder: [[LakeDelegate.jdpProbeCount]] under the
    * name the specs watch. */
  private[sources] def jdpProbeCount: java.util.concurrent.atomic.AtomicLong =
    LakeDelegate.jdpProbeCount

  /** The spark-conf key `USE '<dir>'` stores the current directory
    * catalog under (session-scoped; bare FROM/JOIN identifiers resolve
    * against it). */
  private[sources] val UseDirKey = "graft.sql.use_dir"

  private val viewDepth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }

  /** Expand a stored catalog VIEW (`<dir>/<name>.view.sql` — one saved
    * result-set statement) into its frame. Views expand at QUERY time
    * against the CURRENT catalog (bare names inside the text resolve
    * through the active `USE`), and may reference other views; a depth
    * cap turns accidental cycles into a loud error instead of a stack
    * overflow. */
  private[sources] def viewFrame(spark: SparkSession, file: String): DataFrame = {
    val d = viewDepth.get
    require(d < 16, s"view expansion deeper than 16 — cyclic views? at $file")
    viewDepth.set(d + 1)
    try sqlFrame(spark, readTextFile(spark, file))
    finally viewDepth.set(d)
  }

  private[sources] def readTextFile(spark: SparkSession, file: String): String = {
    val hp = new org.apache.hadoop.fs.Path(file)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(hp)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Under `USE '<dir>'`, rewrite a bare table name in a statement's HEAD
    * position (`DELETE FROM t`, `INSERT INTO t …`, `OPTIMIZE t`,
    * `DESCRIBE t`, …) to its quoted catalog path — the DML/maintenance
    * half of bare-name resolution ([[tableRefs]] covers FROM/JOIN
    * positions inside SELECTs). Existing statements are untouched: no USE
    * set, an already-quoted path, or a name that is not a directory under
    * the catalog all pass through unchanged. `CREATE TABLE name` resolves
    * WITHOUT the existence check (the table is about to be created). */
  private[sources] def resolveBareHead(spark: SparkSession, s: String): String = {
    val useDir = spark.conf.getOption(UseDirKey).map(_.stripSuffix("/"))
      .getOrElse(return s)
    // CREATE and DROP resolve UNCONDITIONALLY: the target may not exist
    // yet (CREATE) or may already be gone (DROP IF EXISTS) — the
    // statement's own existence handling is the right layer for both
    val CreateHead = ("""(?is)^(CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?|""" +
      """DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?)([A-Za-z_]\w*)\b(.*)""").r
    val Head = ("""(?is)^((?:DELETE\s+FROM|UPDATE|MERGE\s+(?:WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO|INSERT\s+INTO|""" +
      """INSERT\s+OVERWRITE|OPTIMIZE|VACUUM|RESTORE|DESCRIBE\s+HISTORY|DESCRIBE\s+DETAIL|DESCRIBE|""" +
      """SHOW\s+PARTITIONS|SHOW\s+CREATE\s+TABLE|ALTER\s+TABLE|""" +
      """TRUNCATE\s+TABLE|TRUNCATE|COPY\s+INTO|ANALYZE\s+TABLE|""" +
      """REFRESH\s+MATERIALIZED\s+VIEW|DROP\s+MATERIALIZED\s+VIEW)\s+)""" +
      """([A-Za-z_]\w*)\b(.*)""").r
    def isDir(p: String): Boolean = scala.util.Try {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(hp).isDirectory
    }.getOrElse(false)
    def isFile(p: String): Boolean = scala.util.Try {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(hp).isFile
    }.getOrElse(false)
    s match {
      case CreateHead(head, name, rest) => s"$head'$useDir/$name'$rest"
      case Head(head, name, rest) if isDir(s"$useDir/$name") =>
        s"$head'$useDir/$name'$rest"
      // DESCRIBE also reaches stored views (schema from planning the text)
      case Head(head, name, rest)
          if head.trim.toUpperCase(java.util.Locale.ROOT) == "DESCRIBE" &&
            isFile(s"$useDir/$name.view.sql") =>
        s"$head'$useDir/$name.view.sql'$rest"
      case _ => s
    }
  }

  /** The outer WHERE clause's text, when the statement has one at the
    * TOP level (quote/paren-aware — a WHERE inside a subquery or string
    * literal never matches): the slice from WHERE to the next top-level
    * clause keyword. */
  private[sources] def outerWhereText(statement: String): Option[String] = {
    val whereIdx = topLevelKeyword(statement, "WHERE")
    if (whereIdx < 0) return None
    val end = Seq("GROUP", "HAVING", "ORDER", "LIMIT", "WINDOW", "QUALIFY",
        "UNION", "INTERSECT", "EXCEPT")
      .map(kw => topLevelKeyword(statement, kw, whereIdx))
      .filter(_ > whereIdx)
      .minOption.getOrElse(statement.length)
    Some(statement.substring(whereIdx + 5, end).trim).filter(_.nonEmpty)
  }
}
