package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{Metadata, StructField, StructType}

import graft.sources.IcebergRead

/** BUCKET-LOCAL AGGREGATION over a bucket(n, key)-partitioned Iceberg
  * table: `GROUP BY` keys that INCLUDE the bucket key need no exchange —
  * a key value lives in exactly one bucket, so a per-bucket COMPLETE hash
  * aggregation is globally correct. This is the agg-side twin of
  * [[BucketedJoin]]: the same layout argument that kills the join shuffle
  * kills the aggregation shuffle.
  *
  * Why it matters at 100 TB: for a HIGH-cardinality group key (the common
  * fact-table case — GROUP BY customer over billions of rows), Spark's
  * partial aggregation barely reduces before the exchange (each scan
  * partition holds mostly-distinct keys), so the shuffle moves nearly the
  * whole table. Under the bucketed layout each bucket already holds ALL
  * rows of its keys, so the complete per-bucket aggregation emits final
  * results with ZERO bytes shuffled.
  *
  * Physical shape: the co-partitioned reader (bucket i = partition i, the
  * [[BucketedJoin]] scan — pruned to the referenced columns, `where`
  * pushed into the parquet read), then a per-partition hash aggregation
  * driven by Catalyst's own declarative-aggregate contract: the plan the
  * equivalent `groupBy(...).agg(...)` would run is ANALYZED once on the
  * driver, its `AggregateExpression`s are bound to the read layout, and
  * each partition runs initialize → update (one compiled
  * `MutableProjection` over buffer ++ input) → evaluate (one compiled
  * `UnsafeProjection` over groupKey ++ buffer). Codegen'd arithmetic, no
  * boxing, no Row codec — the same machinery `HashAggregateExec` uses,
  * minus the exchange.
  *
  * Guards (all loud — callers fall back to the shuffled `groupBy`):
  * the table must expose a clean bucket layout ([[IcebergRead
  * .bucketLayout]] — current-spec files only, no live deletes, name-read
  * faithful); `groupCols` must contain `key`; every aggregate must be an
  * unfiltered [[org.apache.spark.sql.catalyst.expressions.aggregate
  * .DeclarativeAggregate]] (sum/count/min/max/avg/first…); grouping
  * expressions must be plain columns. DISTINCT aggregates
  * (`count(DISTINCT x)` — the dedup-rollup shape an LLM pipeline runs
  * constantly) are EXACT here, not refused: a group's rows all live in
  * one bucket, so a per-partition seen-set of (group key, distinct args)
  * gating the update computes the same answer Spark's Expand + double
  * shuffle produces, with zero exchanges. NULL bucket keys: Iceberg's
  * bucket transform puts null-keyed rows in a null partition value —
  * those files fail the layout probe, so the NULL-group question never
  * reaches this operator with a lying layout.
  *
  * Skew note: unlike the join, a hot bucket canNOT split here — two
  * chunks of one bucket would emit two partial groups for the same key.
  * Parallelism is exactly n; pick n accordingly (same SPJ sizing rule).
  *
  * Memory: the per-bucket group map does NOT grow unboundedly. Past
  * `graft.local.spillRows` groups (default 2M) the partition FLUSHES the
  * map as a key-sorted run of (group key, buffer) records to executor-
  * local disk and keeps aggregating into a fresh map; exhausted input
  * merge-iterates the runs (plus the live map) by key bytes, combining
  * same-key buffers through the aggregates' own Catalyst
  * `mergeExpressions` — the same partial-merge contract a shuffled
  * final aggregation runs, done bucket-locally. Still zero exchanges:
  * the spill is a task-local file, not a shuffle. So an adversely-sized
  * layout degrades to disk like `HashAggregateExec`'s sort-based
  * fallback would, instead of OOMing the executor.
  */
object BucketedAgg {

  /** True when [[bucketLocalAgg]] would plan exchange-free. */
  def canAggLocally(spark: SparkSession, table: String, key: String,
      groupCols: Seq[String]): Boolean =
    groupCols.contains(key) &&
      graft.sources.Lake.bucketLayoutMoR(spark, table, key).isDefined

  def bucketLocalAgg(spark: SparkSession, table: String, key: String,
      groupCols: Seq[String], aggs: Seq[Column],
      where: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference

    require(groupCols.contains(key),
      s"bucketLocalAgg: groupCols must include the bucket key '$key' — " +
        "other groupings spread a group across buckets (use the shuffled groupBy)")
    val schema = fullSchemaOf(spark, table)
    // READ layout discovery: analyze the equivalent plan against the full
    // schema once, keep only the touched columns, and push `where` +
    // pruning into the per-bucket parquet scans (merge-on-read masks
    // applied per chunk — deletes are file-scoped, groups stay confined)
    val aggNode = analyzedAggNode(spark, schema, groupCols, aggs)
    val neededNames: Set[String] = (aggNode.groupingExpressions ++
      aggNode.aggregateExpressions).flatMap(_.collect {
        case a: AttributeReference => a.name
      }).toSet
    val readNames = schema.fieldNames.toSeq.filter(neededNames.contains)
    val readSchema = StructType(readNames.map(schema(_)))
    val rdd = bucketUnionRdd(spark, table, key, schema, readSchema, where,
      "bucketLocalAgg")
    aggregatePartitions(spark, rdd, readSchema, groupCols, aggs)
  }

  /** The full table schema with field metadata stripped — what the
    * by-name bucket scans resolve against. */
  private def fullSchemaOf(spark: SparkSession, table: String): StructType =
    StructType(graft.sources.Lake.tableSchema(spark, table)
      .fields.map(_.copy(metadata = Metadata.empty)))

  /** The MoR-masked, file-stats-pruned co-partitioned reader as an
    * InternalRow RDD: partition i = bucket i (empty buckets keep ordinal
    * alignment). The single scan-plumbing shared by the aggregation,
    * DISTINCT, and clustered-window readers — a change to the scan
    * contract lands here once. */
  private def bucketUnionRdd(spark: SparkSession, table: String, key: String,
      schema: StructType, readSchema: StructType, where: Option[Column],
      caller: String)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.graft.Bridge
    val (n, buckets0, deletes) =
      graft.sources.Lake.bucketLayoutMoR(spark, table, key).getOrElse(
        throw new IllegalArgumentException(
          s"$caller: $table is not cleanly bucket(n, $key)-partitioned " +
            "— use the shuffled plan instead"))
    val buckets = BucketedJoin.pruneLayout(spark, table, where, buckets0)
    // chunks build CONCURRENTLY (BucketedJoin.parallelChunks): the
    // per-bucket Catalyst pipelines and any merge-on-read broadcast
    // builds overlap instead of serializing on the driver
    spark.sparkContext.union(BucketedJoin.parallelChunks(spark, 0 until n) { b =>
      buckets.get(b).filter(_.nonEmpty) match {
        case Some(files) =>
          Bridge.toInternalRdd(
            BucketedJoin.bucketScan(spark, schema, readSchema, where, files,
              deletes).coalesce(1))
        case None =>
          spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      }
    })
  }

  /** The co-partitioned reader AS A DATAFRAME that DECLARES its bucket
    * clustering ([[org.apache.spark.sql.graft.Bridge
    * .internalCreateDataFrameClustered]]): partition i is bucket i, and
    * the declared `HashPartitioning(key)` lets Catalyst's
    * `EnsureRequirements` satisfy any `ClusteredDistribution` over a
    * key-including column set WITHOUT an exchange — so Spark's OWN
    * `WindowExec` (any frame, any functions — rank, running sums, lag)
    * runs bucket-locally: the per-partition sort it needs is narrow
    * `SortExec` (which spills natively), and the window exchange —
    * stock Spark's full-fact shuffle for `PARTITION BY key` — is GONE.
    * `where` pushes into the per-bucket scans (and file-stats-prunes);
    * merge-on-read masks apply. SINGLE-TABLE consumers only — the
    * declared hash is nominal (Iceberg Murmur3 placement, not Spark's),
    * sound for clustering, unsound against a real co-partitioned
    * exchange. */
  def clusteredReader(spark: SparkSession, table: String, key: String,
      cols: Seq[String], where: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val schema = fullSchemaOf(spark, table)
    val wanted = (cols :+ key).distinct
    val missing = wanted.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"clusteredReader: unknown column(s) ${missing.mkString(",")}")
    val readSchema = StructType(
      schema.fieldNames.toSeq.filter(wanted.contains).map(schema(_)))
    val rdd = bucketUnionRdd(spark, table, key, schema, readSchema, where,
      "clusteredReader")
    Bridge.internalCreateDataFrameClustered(spark, rdd, readSchema, Seq(key))
  }

  /** The per-partition COMPLETE aggregation over an ALREADY co-partitioned
    * frame — the composition hook: a [[BucketedJoin]] output's partition i
    * is bucket i, so a grouping that includes the join key aggregates here
    * with zero exchanges ON TOP of the zero-shuffle join. The caller owns
    * the group-locality guarantee (every group's rows in one partition);
    * nothing here can check it. In particular a [[BucketedJoin]] input
    * must be built with `splitBucketBytes = 0` — the skew split spreads
    * one bucket across partitions, and each chunk would emit its own
    * complete-looking partial group. */
  def localAgg(spark: SparkSession, input: DataFrame,
      groupCols: Seq[String], aggs: Seq[Column]): DataFrame = {
    val schema = StructType(input.schema.fields.map(_.copy(metadata = Metadata.empty)))
    aggregatePartitions(spark, input.queryExecution.toRdd, schema, groupCols, aggs)
  }

  /** BUCKET-LOCAL DISTINCT: `SELECT DISTINCT cols` (or an aggregate-free
    * `GROUP BY cols`) where `cols` include the bucket key — a per-bucket
    * hash de-duplication is globally exact, zero exchange, where Spark's
    * `distinct()` plans partial-agg + exchange + final. Same layout gates
    * as [[bucketLocalAgg]]; `where` pushes into the per-bucket scans. */
  def bucketLocalDistinct(spark: SparkSession, table: String, key: String,
      cols: Seq[String], where: Option[Column] = None): DataFrame = {
    require(cols.contains(key),
      s"bucketLocalDistinct: cols must include the bucket key '$key'")
    val schema = fullSchemaOf(spark, table)
    val missing = cols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"bucketLocalDistinct: unknown column(s) " +
      s"${missing.mkString(",")}")
    val readSchema = StructType(
      schema.fieldNames.toSeq.filter(cols.contains).map(schema(_)))
    val rdd = bucketUnionRdd(spark, table, key, schema, readSchema, where,
      "bucketLocalDistinct")
    localDistinctRdd(spark, rdd, readSchema)
  }

  private def localDistinctRdd(spark: SparkSession,
      input: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: StructType): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val types = schema.fields.toSeq
    // rows held in heap before a sorted run flushes — same bound (and the
    // same flush-and-merge degradation) as the aggregation's group map
    val flushRows = spark.conf.get("graft.local.spillRows", "2097152").toLong
    val nFields = types.length
    val out = input.mapPartitions { it =>
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
      val proj = UnsafeProjection.create(types.zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, f.nullable)
      })
      val seen = new java.util.LinkedHashSet[UnsafeRow]()
      val spills = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
      val openRuns = scala.collection.mutable.ArrayBuffer.empty[SpillRun]
      // a partially-consumed merge iterator (LIMIT above the route) leaves
      // runs mid-file: close their streams here, not at GC
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit] { _ =>
          openRuns.foreach(_.close()); spills.foreach(_.delete())
        })
      def flush(): Unit = {
        val recs = new Array[Array[Byte]](seen.size())
        val rows = seen.iterator()
        var i = 0
        while (rows.hasNext) { recs(i) = rows.next().getBytes; i += 1 }
        java.util.Arrays.sort(recs,
          (a: Array[Byte], b: Array[Byte]) =>
            java.util.Arrays.compareUnsigned(a, b))
        val f = java.io.File.createTempFile("graft_bdist_spill", ".run",
          Bridge.localSpillDir())
        spills += f
        val dos = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(f), 1 << 16))
        try recs.foreach { k =>
          dos.writeInt(k.length); dos.write(k); dos.writeInt(0)
        } finally dos.close()
        seen.clear()
      }
      it.foreach { row => // scan rows are reused objects — copy on insert
        val u = proj(row)
        if (!seen.contains(u)) {
          if (seen.size() >= flushRows) flush()
          seen.add(u.copy())
        }
      }
      if (spills.isEmpty) {
        import scala.jdk.CollectionConverters._
        seen.iterator().asScala
          .map(_.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
      } else {
        // merge-dedup the key-sorted runs: equal keys across runs collapse
        if (!seen.isEmpty) flush()
        val runs = spills.map { f =>
          val r = new SpillRun(f); openRuns += r; r
        }.filter(_.advance())
        val order = new java.util.PriorityQueue[SpillRun](
          math.max(1, runs.size),
          (a: SpillRun, b: SpillRun) =>
            java.util.Arrays.compareUnsigned(a.key, b.key))
        runs.foreach(order.add)
        new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
          def hasNext: Boolean = !order.isEmpty
          def next(): org.apache.spark.sql.catalyst.InternalRow = {
            val head = order.poll()
            val keyBytes = head.key
            if (head.advance()) order.add(head)
            var same = order.peek()
            while (same != null &&
                java.util.Arrays.compareUnsigned(same.key, keyBytes) == 0) {
              order.poll()
              if (same.advance()) order.add(same)
              same = order.peek()
            }
            val r = new UnsafeRow(nFields)
            r.pointTo(keyBytes, keyBytes.length)
            r
          }
        }
      }
    }
    Bridge.internalCreateDataFrame(spark, out, schema)
  }

  /** The analyzed [[Aggregate]] node of the EQUIVALENT shuffled plan —
    * the semantic contract (resolved functions, typed buffers, coercions)
    * the local loop executes. */
  private def analyzedAggNode(spark: SparkSession,
      schema: StructType, groupCols: Seq[String], aggs: Seq[Column])
      : org.apache.spark.sql.catalyst.plans.logical.Aggregate = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.functions.col
    require(aggs.nonEmpty, "bucket-local aggregation: no aggregates given")
    val base = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val analyzed = base.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*).queryExecution.analyzed
    analyzed.collectFirst { case a: Aggregate => a }.getOrElse(
      throw new IllegalStateException("groupBy.agg did not analyze to an Aggregate"))
  }

  private def aggregatePartitions(spark: SparkSession,
      input: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      readSchema: StructType, groupCols: Seq[String],
      aggs: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference, Expression, ExprId, Literal, NamedExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
    import org.apache.spark.sql.graft.Bridge

    val aggNode = analyzedAggNode(spark, readSchema, groupCols, aggs)
    aggNode.aggregateExpressions.foreach(_.foreach {
      case ae: AggregateExpression =>
        require(ae.filter.isEmpty,
          s"bucketLocalAgg: FILTER aggregates not supported: $ae")
        require(ae.aggregateFunction.isInstanceOf[DeclarativeAggregate],
          s"bucketLocalAgg: only declarative aggregates supported, got " +
            s"${ae.aggregateFunction.getClass.getSimpleName}")
      case _ =>
    })
    val groupingAttrs = aggNode.groupingExpressions.map {
      case a: AttributeReference => a
      case other => throw new IllegalArgumentException(
        s"bucketLocalAgg: grouping must be plain columns, got $other")
    }

    val readIdx: Map[String, Int] = readSchema.fieldNames.zipWithIndex.toMap

    // one buffer row holds every function's buffer attributes, concatenated.
    // DISTINCT aggregates are EXACT here — a group lives wholly in one
    // partition, so a per-partition (group key ++ distinct args) seen-set
    // gating the update is the whole Expand/re-shuffle dance Spark's
    // RewriteDistinctAggregates pays, for free. (The seen-set itself stays
    // in heap — it is the distinct-pair set, which any exact distinct
    // aggregation must hold somewhere.)
    val aggExprsFlat: Seq[AggregateExpression] = aggNode.aggregateExpressions
      .flatMap(_.collect { case ae: AggregateExpression => ae })
    val functions: Seq[DeclarativeAggregate] =
      aggExprsFlat.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val bufferAttrs = functions.flatMap(_.aggBufferAttributes)
    val bufferPos: Map[ExprId, Int] =
      bufferAttrs.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
    val bufferWidth = bufferAttrs.length
    val initials: Seq[Any] = functions.flatMap(_.initialValues).map {
      case l: Literal => l.value
      case e =>
        require(e.foldable, s"non-foldable aggregate initial value: $e")
        e.eval(null)
    }
    // UPDATE expressions over JoinedRow(buffer, input): buffer attrs at
    // their buffer slots, input columns at bufferWidth + read index
    def bindUpdate(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if bufferPos.contains(a.exprId) =>
        BoundReference(bufferPos(a.exprId), a.dataType, a.nullable)
      case a: AttributeReference =>
        val i = readIdx.getOrElse(a.name, throw new IllegalStateException(
          s"update expression references unread column ${a.name}"))
        BoundReference(bufferWidth + i, readSchema.fields(i).dataType,
          readSchema.fields(i).nullable)
    }
    // an expression bound over the RAW input row (the distinct seen-key)
    def bindInput(e: Expression): Expression = e.transformUp {
      case a: AttributeReference =>
        val i = readIdx.getOrElse(a.name, throw new IllegalStateException(
          s"distinct argument references unread column ${a.name}"))
        BoundReference(i, readSchema.fields(i).dataType,
          readSchema.fields(i).nullable)
    }
    // GROUP-KEY projection over the input row (also the seen-key prefix)
    val groupRefs = groupingAttrs.map { a =>
      val i = readIdx(a.name)
      BoundReference(i, readSchema.fields(i).dataType, readSchema.fields(i).nullable)
    }
    // per-function slot offsets and identity passthroughs — the selective
    // projections below must keep untouched slots byte-identical
    val offsets: Seq[Int] =
      functions.map(_.aggBufferAttributes.length).scanLeft(0)(_ + _)
    val identityRefs: IndexedSeq[Expression] =
      bufferAttrs.toIndexedSeq.zipWithIndex.map { case (a, i) =>
        BoundReference(i, a.dataType, nullable = true)
      }
    def slotRange(fi: Int): Seq[Expression] =
      identityRefs.slice(offsets(fi), offsets(fi + 1))
    // the MAIN update fires per row: plain functions update, distinct
    // functions pass through (their slots move only on unseen pairs)
    val updateExprs: Seq[Expression] = functions.zipWithIndex.flatMap {
      case (f, fi) =>
        if (aggExprsFlat(fi).isDistinct) slotRange(fi)
        else f.updateExpressions.map(bindUpdate)
    }
    // per-distinct-function: a full-width update live only in its slots,
    // plus the (group key ++ distinct args) seen-key projection exprs
    val distinctUpdates: Seq[(Seq[Expression], Seq[Expression])] =
      functions.zipWithIndex.collect {
        case (f, fi) if aggExprsFlat(fi).isDistinct =>
          val exprs: Seq[Expression] = functions.zipWithIndex.flatMap {
            case (g, gi) =>
              if (gi == fi) g.updateExpressions.map(bindUpdate)
              else slotRange(gi)
          }
          (exprs, (groupRefs ++ f.children.map(bindInput)): Seq[Expression])
      }
    // buffer slots holding NON-primitive values (UTF8String/binary/array/
    // struct results of min/max/first/…) must COPY after each update: the
    // projected value points into the scan's REUSED UnsafeRow buffer, and
    // the next input row would silently rewrite the "aggregated" bytes.
    // Primitives (and Decimal, which eval materializes fresh) are values.
    val copySlots: Array[Int] = bufferAttrs.zipWithIndex.collect {
      case (a, i) if (a.dataType match {
        case org.apache.spark.sql.types.BooleanType | org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.NullType => false
        case _: org.apache.spark.sql.types.DecimalType => false
        case _ => true
      }) => i
    }.toArray
    val copyTypes: Array[org.apache.spark.sql.types.DataType] =
      copySlots.map(bufferAttrs(_).dataType)

    // RESULT expressions over JoinedRow(groupKey, buffer): each
    // AggregateExpression becomes its function's evaluateExpression bound
    // to the buffer slots; surviving grouping attrs bind to the key slots
    val groupPos: Map[ExprId, Int] =
      groupingAttrs.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
    val gWidth = groupingAttrs.length
    def bindResult(e: Expression): Expression = e.transformUp {
      case ae: AggregateExpression =>
        ae.aggregateFunction.asInstanceOf[DeclarativeAggregate].evaluateExpression
    } match { case rewritten => rewritten.transformUp {
      case a: AttributeReference if groupPos.contains(a.exprId) =>
        BoundReference(groupPos(a.exprId), a.dataType, a.nullable)
      case a: AttributeReference if bufferPos.contains(a.exprId) =>
        BoundReference(gWidth + bufferPos(a.exprId), a.dataType, a.nullable)
    }}
    val resultExprs: Seq[Expression] = aggNode.aggregateExpressions.map {
      case Alias(child, _) => bindResult(child)
      case ne: NamedExpression => bindResult(ne)
    }
    val outSchema = StructType(aggNode.aggregateExpressions.map(ne =>
      StructField(ne.name, ne.dataType, ne.nullable)))

    // MERGE expressions over JoinedRow(current buffer, spilled buffer) —
    // the combine step of the flush-and-merge spill path. A declarative
    // aggregate's mergeExpressions reference its aggBufferAttributes
    // (the accumulating side, bound at their buffer slots) and its
    // inputAggBufferAttributes (the incoming partial, bound past them).
    val inputBufferAttrs = functions.flatMap(_.inputAggBufferAttributes)
    val inputBufferPos: Map[ExprId, Int] =
      inputBufferAttrs.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
    val mergeExprs: Seq[Expression] = functions.flatMap(_.mergeExpressions).map(
      _.transformUp {
        case a: AttributeReference if bufferPos.contains(a.exprId) =>
          BoundReference(bufferPos(a.exprId), a.dataType, a.nullable)
        case a: AttributeReference if inputBufferPos.contains(a.exprId) =>
          BoundReference(bufferWidth + inputBufferPos(a.exprId), a.dataType,
            a.nullable)
      })
    // buffer rows serialize through one UnsafeProjection for the spill
    val bufferRefs = bufferAttrs.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, nullable = true)
    }
    val bufferTypes: Array[org.apache.spark.sql.types.DataType] =
      bufferAttrs.map(_.dataType).toArray
    // groups held in heap before a sorted run flushes to task-local disk;
    // the default bounds a wide-buffer map to low hundreds of MB per task
    val flushRows = spark.conf.get("graft.local.spillRows", "2097152").toLong

    val aggregated = input.mapPartitions { it =>
      import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
      val groupProj = UnsafeProjection.create(groupRefs)
      val updateProj = Bridge.createMutableProjection(updateExprs)
      val resultProj = UnsafeProjection.create(resultExprs)
      // distinct machinery: one seen-set + selective projection per
      // DISTINCT aggregate; the seen-set gates the update so each
      // (group, args) pair contributes exactly once — exact because the
      // group's rows all live in this partition
      val distinctProjs = distinctUpdates.map { case (exprs, _) =>
        Bridge.createMutableProjection(exprs) }
      val seenProjs = distinctUpdates.map { case (_, keyExprs) =>
        UnsafeProjection.create(keyExprs) }
      val seens = distinctUpdates.map(_ =>
        new java.util.HashSet[UnsafeRow]())
      val updateInput = new JoinedRow
      val resultInput = new JoinedRow
      val groups = new java.util.LinkedHashMap[UnsafeRow, GenericInternalRow]()
      val spills = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
      val openRuns = scala.collection.mutable.ArrayBuffer.empty[SpillRun]
      // close partially-consumed merge streams too, not just delete files
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit] { _ =>
          openRuns.foreach(_.close()); spills.foreach(_.delete())
        })
      lazy val bufferSer = UnsafeProjection.create(bufferRefs)
      def flush(): Unit = {
        val recs = new Array[(Array[Byte], Array[Byte])](groups.size())
        val es = groups.entrySet().iterator()
        var i = 0
        while (es.hasNext) {
          val e = es.next()
          // copy() before getBytes: for an ALL-FIXED-WIDTH buffer schema
          // the projection's UnsafeRow backing array length equals
          // sizeInBytes, so getBytes returns the SHARED live array — every
          // record of the run would alias the last group's buffer (silent
          // wrong partials). The map keys were copied at insert (own
          // arrays), so their getBytes is safe.
          recs(i) = (e.getKey.getBytes, bufferSer(e.getValue).copy().getBytes)
          i += 1
        }
        java.util.Arrays.sort(recs,
          (a: (Array[Byte], Array[Byte]), b: (Array[Byte], Array[Byte])) =>
            java.util.Arrays.compareUnsigned(a._1, b._1))
        val f = java.io.File.createTempFile("graft_bagg_spill", ".run",
          Bridge.localSpillDir())
        spills += f
        val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(f), 1 << 16))
        try recs.foreach { case (k, b) =>
          out.writeInt(k.length); out.write(k)
          out.writeInt(b.length); out.write(b)
        } finally out.close()
        groups.clear()
      }
      it.foreach { row =>
        val k = groupProj(row)
        var buf = groups.get(k)
        if (buf == null) {
          if (groups.size() >= flushRows) flush() // spill, stay bucket-local
          buf = new GenericInternalRow(bufferWidth)
          var i = 0
          while (i < bufferWidth) { buf.update(i, initials(i)); i += 1 }
          groups.put(k.copy(), buf)
        }
        updateProj.target(buf)
        updateProj(updateInput(buf, row))
        var d = 0
        while (d < distinctProjs.length) { // unseen (group, args) only
          val dk = seenProjs(d)(row)
          if (!seens(d).contains(dk)) {
            seens(d).add(dk.copy())
            distinctProjs(d).target(buf)
            distinctProjs(d)(updateInput(buf, row))
          }
          d += 1
        }
        var c = 0
        while (c < copySlots.length) { // detach row-buffer-backed values
          val slot = copySlots(c)
          if (!buf.isNullAt(slot))
            buf.update(slot, org.apache.spark.sql.catalyst.InternalRow
              .copyValue(buf.get(slot, copyTypes(c))))
          c += 1
        }
      }
      if (spills.isEmpty) {
        val entries = groups.entrySet().iterator()
        new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
          def hasNext: Boolean = entries.hasNext
          def next(): org.apache.spark.sql.catalyst.InternalRow = {
            val e = entries.next()
            resultProj(resultInput(e.getKey, e.getValue))
          }
        }
      } else {
        // merge-iterate the key-sorted runs: same-key partial buffers
        // combine through the compiled merge projection, then evaluate —
        // the shuffled plan's final-merge contract, bucket-locally
        if (!groups.isEmpty) flush()
        val mergeProj = Bridge.createMutableProjection(mergeExprs)
        val mergeInput = new JoinedRow
        val runs = spills.map { f =>
          val r = new SpillRun(f); openRuns += r; r
        }.filter(_.advance())
        val order = new java.util.PriorityQueue[SpillRun](
          math.max(1, runs.size),
          (a: SpillRun, b: SpillRun) =>
            java.util.Arrays.compareUnsigned(a.key, b.key))
        runs.foreach(order.add)
        new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
          def hasNext: Boolean = !order.isEmpty
          def next(): org.apache.spark.sql.catalyst.InternalRow = {
            val head = order.poll()
            val keyBytes = head.key
            val cur = new GenericInternalRow(bufferWidth)
            var i = 0
            val first = head.bufferRow(bufferWidth)
            while (i < bufferWidth) {
              cur.update(i, first.get(i, bufferTypes(i)))
              i += 1
            }
            if (head.advance()) order.add(head)
            var same = order.peek()
            while (same != null &&
                java.util.Arrays.compareUnsigned(same.key, keyBytes) == 0) {
              order.poll()
              mergeProj.target(cur)
              mergeProj(mergeInput(cur, same.bufferRow(bufferWidth)))
              if (same.advance()) order.add(same)
              same = order.peek()
            }
            val k = new UnsafeRow(gWidth)
            k.pointTo(keyBytes, keyBytes.length)
            resultProj(resultInput(k, cur))
          }
        }
      }
    }
    Bridge.internalCreateDataFrame(spark, aggregated, outSchema)
  }

  /** One key-sorted spill run of (key bytes, payload bytes) records —
    * shared by the aggregation (payload = serialized buffer) and distinct
    * (payload empty) merge paths. */
  private final class SpillRun(f: java.io.File) {
    private val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(f), 1 << 16))
    var key: Array[Byte] = _
    var payload: Array[Byte] = _
    def advance(): Boolean =
      try {
        val kl = in.readInt()
        key = new Array[Byte](kl); in.readFully(key)
        val pl = in.readInt()
        payload = new Array[Byte](pl); in.readFully(payload)
        true
      } catch {
        case _: java.io.EOFException => close(); f.delete(); false
      }
    /** Idempotent; the task-completion listener calls it for runs a
      * partially-consumed merge iterator never drained to EOF. */
    def close(): Unit = scala.util.Try(in.close())
    /** The payload as an UnsafeRow of `n` fields (fresh backing array per
      * record — merge targets may retain references without copying). */
    def bufferRow(n: Int): org.apache.spark.sql.catalyst.expressions.UnsafeRow = {
      val r = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(n)
      r.pointTo(payload, payload.length)
      r
    }
  }
}
