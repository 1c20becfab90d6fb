package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface: Column ⇄ Catalyst Expression
  * conversion and temp-function registration. Lives under
  * `org.apache.spark.sql` solely for access; contains no logic. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Parse an expression TEXT to its catalyst tree eagerly. `functions
    * .expr` wraps the text in a lazy `ColumnNodeExpression(SqlExpression)`
    * that only parses at analysis — useless for callers that need to
    * inspect attributes/subqueries BEFORE resolution. */
  def parseExpression(spark: SparkSession, text: String): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parseExpression(text)

  /** Parse a full STATEMENT to its unresolved logical plan — the
    * delegation planner's auto-routes pattern-match this tree instead of
    * tokenizing statement text themselves. */
  def parsePlan(spark: SparkSession,
      text: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parsePlan(text)

  /** Run a (possibly partially unresolved) logical plan through the
    * session — analysis happens eagerly, so a plan the rewriter got wrong
    * throws HERE and refusal-based callers can fall back. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Uncorrelated scalar subquery over a one-row/one-column DataFrame —
    * the form expressions like `BloomFilterMightContain` require for their
    * non-literal inputs (executed once, value shipped to every task). */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Expression =
    org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.queryExecution.analyzed)

  def registerFunction(spark: SparkSession, name: String,
      clazz: Class[_], builder: Seq[Expression] => Expression): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** Temp TABLE-VALUED function registration (FROM-clause functions like
    * `range`): the builder receives the call's argument expressions and
    * returns the logical plan the reference resolves to. */
  def registerTableFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
  }

  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def functionDescription(name: String, clazz: Class[_],
      builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  /** A DataFrame's physical rows WITHOUT the InternalRow→Row codec —
    * the zero-copy input for RDD-level operators (BucketedJoin). */
  def toInternalRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd

  /** Compile a bound expression to a row predicate (codegen with
    * interpreted fallback) — the residual-conjunct evaluator for
    * bucket-local joins. Callers must `initialize(partitionIndex)`. */
  def createPredicate(e: Expression)
      : org.apache.spark.sql.catalyst.expressions.BasePredicate =
    org.apache.spark.sql.catalyst.expressions.Predicate.create(e)

  /** Compile PRE-BOUND expressions to a mutable projection (codegen with
    * interpreted fallback) — the update step of a bucket-local hash
    * aggregation. Callers `target(buffer)` then feed joined rows. */
  def createMutableProjection(exprs: Seq[Expression])
      : org.apache.spark.sql.catalyst.expressions.MutableProjection =
    org.apache.spark.sql.catalyst.expressions.MutableProjection.create(exprs, Nil)

  /** A Spark-configured local scratch directory for task-side spill files
    * — `spark.local.dir`/YARN dirs via Spark's own resolution, never bare
    * `java.io.tmpdir` (which may be a small root partition or a
    * RAM-backed tmpfs, defeating the point of spilling). Executor-side. */
  def localSpillDir(): java.io.File = {
    val dir = new java.io.File(
      org.apache.spark.util.Utils.getLocalDir(org.apache.spark.SparkEnv.get.conf))
    dir.mkdirs()
    dir
  }

  /** Wrap an InternalRow RDD as a DataFrame without the Row codec —
    * the inverse of [[toInternalRdd]]. The rows may be reused objects
    * (standard source contract: consumers copy when buffering). */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** [[internalCreateDataFrame]] DECLARING a hash-clustered output
    * partitioning on `clusterCols`: the caller guarantees rows with equal
    * cluster-column values share an RDD partition (the co-partitioned
    * bucket reader's invariant), so `EnsureRequirements` satisfies any
    * `ClusteredDistribution` over a superset of the columns and Spark's
    * OWN Window/Aggregate operators plan WITHOUT an exchange on top.
    *
    * The declared `HashPartitioning` is NOMINAL — the actual placement is
    * the Iceberg bucket transform, not Spark's hash. Clustering-based
    * requirements only need co-location of equal values (true), but an
    * exact-partitioning requirement (co-partitioned join against a real
    * Spark exchange) would mis-align rows: callers must confine these
    * frames to SINGLE-TABLE plans. */
  /** A parquet scan DataFrame built from MANIFEST-KNOWN files — path and
    * EXACT byte size straight from the table format's log, so constructing
    * the scan makes ZERO filesystem calls: no existence checks, no driver
    * `getFileStatus` per file, and — the expensive one — no distributed
    * listing job, which `spark.read.parquet(paths*)` submits per call once
    * the path count passes `parallelPartitionDiscovery.threshold` (32).
    * Measured on the composite-layout routed rollup (640 files, 8 chunks):
    * build 3.2 s → 0.7 s. Semantically identical to the `spark.read`
    * relation it replaces: same `ParquetFileFormat`, so pushdown, column
    * pruning, vectorization, and `_metadata` columns (file_path/row_index
    * — the merge-on-read mask inputs) all behave as before. Sizes MUST be
    * exact (both Delta `size` and Iceberg `file_size_in_bytes` are) — the
    * parquet footer is located from the length. */
  def parquetScanDf(spark: SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      files: Seq[(String, Long)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources._
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // TRUST-BUT-VERIFY: a wrong recorded length would silently change
    // which splits cover the file (a 0/short length = silent row loss —
    // the parquet reader only emits row groups whose midpoint falls
    // inside [0, len)). Spec-conformant writers record exact sizes (both
    // formats require it, and the reference implementations trust them
    // outright), but hand-authored/external logs exist — DeltaReadSpec
    // pins one with `"size":1`. One `getFileStatus` probe of the first
    // file per scan (O(1), not O(files)) catches a systematically lying
    // writer; any mismatch or non-positive size falls back to the
    // listing-based read, which ignores recorded sizes entirely.
    def listingFallback(): org.apache.spark.sql.DataFrame =
      spark.read.schema(dataSchema).parquet(files.map(_._1): _*)
    // kill-switch (measurement/diagnosis): force the listing-based read.
    // Tolerant parse — only a literal "false" disables; a typo'd value
    // must not fail every scan construction.
    if (spark.conf.get("graft.scan.manifestSizes", "true")
        .trim.equalsIgnoreCase("false"))
      return listingFallback()
    if (files.exists(_._2 <= 0)) return listingFallback()
    val probeOk = scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(files.head._1)
      p.getFileSystem(session.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getLen == files.head._2
    }.getOrElse(false)
    if (!probeOk) return listingFallback()
    val statuses = files.map { case (p, len) =>
      new org.apache.hadoop.fs.FileStatus(len, false, 1, 128L * 1024 * 1024,
        0L, new org.apache.hadoop.fs.Path(p))
    }
    val index: FileIndex = new FileIndex {
      override def rootPaths: Seq[org.apache.hadoop.fs.Path] = statuses.map(_.getPath)
      override def listFiles(
          partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
          dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          : Seq[PartitionDirectory] =
        Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
      override def inputFiles: Array[String] = files.map(_._1).toArray
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = files.map(_._2).sum
      override def partitionSchema: org.apache.spark.sql.types.StructType =
        org.apache.spark.sql.types.StructType(Nil)
    }
    // spark.read force-nullables user schemas on file sources (a file may
    // lack a column / a reader may produce nulls); keep that contract so
    // downstream schema equality is unchanged by this construction
    // VerifiedParquetFileFormat (round 20): each task stats ITS file and
    // self-heals the split if the recorded size lied — the plan-time probe
    // above only covers the first file, and a short-but-positive recorded
    // size on any OTHER file would silently drop its tail row groups.
    // Executor-side, one getFileStatus per split; the driver still makes
    // zero listing calls. The stat's Hadoop conf rides a PER-CONTEXT
    // memoized broadcast — embedding a SerializableConfiguration in the
    // reader closure serialized the full Configuration into EVERY task
    // binary (measured 3–6× on the routed shapes), and a broadcast per
    // scan would pile up one block per chunk.
    val relation = HadoopFsRelation(index,
      partitionSchema = org.apache.spark.sql.types.StructType(Nil),
      dataSchema = dataSchema.asNullable, bucketSpec = None,
      fileFormat = new VerifiedParquetFileFormat(hadoopConfBroadcast(session)),
      options = Map.empty)(session)
    org.apache.spark.sql.classic.Dataset.ofRows(session, LogicalRelation(relation))
  }

  /** Driver-side prep for DIRECT parquet writes from task code
    * ([[graft.sources.DataFileWriter]]): Spark's own parquet
    * `OutputWriterFactory` (same WriteSupport, codec, field-id and
    * timestamp settings as `DataFrameWriter.parquet`) plus a broadcast of
    * the prepared job conf for task-side `TaskAttemptContext`s. */
  def parquetWriteSupport(spark: SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType)
      : (org.apache.spark.sql.execution.datasources.OutputWriterFactory,
         org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration]) = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      session.sessionState.newHadoopConf())
    // raw local files: the checksummed local FS would leave a hidden
    // `.<name>.crc` beside every data file in the table directory
    job.getConfiguration.set("fs.file.impl",
      classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    job.getConfiguration.setBoolean("fs.file.impl.disable.cache", true)
    val factory = org.apache.spark.sql.execution.datasources.parquet.ParquetUtils
      .prepareWrite(session.sessionState.conf, job, dataSchema,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetOptions(
          Map.empty[String, String], session.sessionState.conf))
    (factory, session.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(job.getConfiguration)))
  }

  /** One broadcast Hadoop conf per SparkContext (the task-time
    * `getFileStatus` input of [[VerifiedParquetFileFormat]]). Identity-
    * keyed like Tables.dfCache; entries die with the context. */
  private val confBcCache =
    new java.util.IdentityHashMap[org.apache.spark.SparkContext,
      org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration]]()
  private def hadoopConfBroadcast(
      session: org.apache.spark.sql.classic.SparkSession)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration] =
    confBcCache.synchronized {
      var bc = confBcCache.get(session.sparkContext)
      if (bc == null) {
        bc = session.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            session.sessionState.newHadoopConf()))
        confBcCache.put(session.sparkContext, bc)
      }
      bc
    }

  /** Run `body` with `spark` installed as the thread's ACTIVE session —
    * the prerequisite for driver-side Catalyst work submitted from helper
    * threads (`SQLConf.get` and the rule stack read the thread-local
    * active session; a pool thread starts without one). */
  def withActive[T](spark: SparkSession)(body: => T): T =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .withActive(body)

  /** Snapshot the calling thread's SparkContext LOCAL PROPERTIES (job
    * group, description, scheduler pool — thread-local, inherited only at
    * thread CREATION). Pool threads created lazily inherit whatever the
    * first caller carried; any job they later submit (broadcast builds,
    * collects) would attach to that stale/foreign group — so a
    * cancelJobGroup from an unrelated query could kill them, or a cancel
    * of this query could miss them. Pair with [[withLocalProperties]]. */
  def cloneLocalProperties(sc: org.apache.spark.SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  /** Run `body` with `props` installed as the thread's local properties,
    * restoring the previous set afterwards. Callers sharing one snapshot
    * across threads must install a [[cloneProperties]] copy per thread —
    * Spark code MUTATES the installed Properties (execution ids). */
  def withLocalProperties[T](sc: org.apache.spark.SparkContext,
      props: java.util.Properties)(body: => T): T = {
    val old = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(old)
  }

  def cloneProperties(props: java.util.Properties): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(props)

  def internalCreateDataFrameClustered(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      clusterCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val cluster = attrs.filter(a => clusterCols.contains(a.name))
    require(cluster.nonEmpty, s"no cluster columns $clusterCols in ${schema.fieldNames.mkString(",")}")
    val partitioning = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
      cluster, math.max(1, rdd.getNumPartitions))
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD(attrs, rdd, partitioning,
        Nil, isStreaming = false)(session))
  }
}
