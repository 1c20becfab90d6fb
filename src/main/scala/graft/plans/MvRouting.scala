package graft.plans

import scala.collection.concurrent.TrieMap

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.sources.Lake

/** TRANSPARENT MATERIALIZED-VIEW ROUTING — the OLAP-engine feature that
  * makes maintained rollups pay off without query rewrites: an optimizer
  * rule ([[MvRoutingRule]], injected via GraftExtensions) that recognizes
  * an aggregation over a REGISTERED base table and re-plans it against
  * the table's rollup MV whenever the answer is derivable, so the query
  * reads |distinct key tuples| rows instead of the fact table. At 100 TB
  * the routed plan's scan is the MV's few thousand rows — the fact scan,
  * its pushed filters, and its shuffle all disappear.
  *
  * Derivability contract (conservative — anything else falls through to
  * the base plan untouched):
  *   - grouping columns ⊆ MV keys (bare columns; derived keys bail),
  *   - every aggregate call is a non-DISTINCT, unfiltered
  *     `sum/min/max/count/avg` over an MV measure column or `count(*)`;
  *     they may sit inside arbitrary deterministic scalar expressions
  *     (`round(sum(x), 2)`, `sum(a)/count(*)`) whose other leaves are
  *     key columns or literals,
  *   - filters (if any) reference ONLY key columns — they re-apply to the
  *     MV verbatim, since a key-only predicate decides per MV group,
  *   - the MV is FRESH: the base relation's file listing with sizes and
  *     modification times (already materialized in the scan's FileIndex —
  *     no extra IO) matches the listing recorded when the MV was built;
  *     a changed base silently disables routing rather than serving
  *     stale rows. Paths alone would miss an in-place overwrite.
  *
  * Re-aggregation algebra: `sum(m)→sum(sum_m)`, `min/max(m)→min/max` of
  * the partials, `count(*)→sum(cnt_star)`, `count(m)→sum(cnt_m)` (both
  * null-coalesced to 0 for the empty global-aggregate case, where base
  * `count` returns 0 but a sum over zero rows is NULL), and
  * `avg(m)→sum(sum_m)/sum(cnt_m)` guarded against the 0/0 empty case
  * (NULL in both engines; unguarded ANSI division would throw). Double
  * sums re-associate (partial-then-final instead of one pass) — the same
  * re-association any distributed aggregate already performs.
  *
  * Session-wide kill switch: `SET spark.graft.mv.routing=false`.
  */
object Mv {

  /** A registered MV: base path (the scan relation's qualified root — for
    * a Delta base, the snapshot relation's first data file, which changes
    * whenever the table does and so doubles as a staleness key), the
    * recorded base file listing (path:len:mtime), key/measure columns,
    * and the MV's analyzed relation (instantiated fresh per rewrite so
    * attribute ids never collide). `format` is "parquet" (path base,
    * full-rebuild refresh) or "delta" (versioned base, incremental
    * refresh); `baseVersion` is the Delta version the MV reflects. */
  final case class MvDef(basePath: String, mvPath: String, keys: Seq[String],
      measures: Seq[String], baseFiles: Seq[String], relation: LogicalRelation,
      format: String = "parquet", baseTable: String = "", baseVersion: Long = -1L,
      dataDir: String = "data") {
    /** Digest of `baseFiles`, computed once at registration — the routing
      * rule compares this against the live relation's memoized digest. */
    lazy val baseFp: String = Mv.fingerprint(baseFiles)
  }

  private val registry = TrieMap.empty[String, MvDef]

  // thread-safe after construction; building one per meta read/write would
  // redo Jackson's module scan every time
  private val mapper = new ObjectMapper()

  private def baseRelation(df: DataFrame): LogicalRelation =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }
      .getOrElse(throw new IllegalArgumentException(
        "MV base must be a file-backed table (no LogicalRelation found)"))

  /** path:len:mtime per file, sorted — the freshness listing recorded in
    * the meta document. The FileIndex has this in memory already. */
  private[plans] def listing(rel: LogicalRelation): Seq[String] = rel.relation match {
    case h: HadoopFsRelation =>
      h.location.listFiles(Nil, Nil).flatMap(_.files)
        .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
        .sorted.toSeq
    case other => throw new IllegalArgumentException(
      s"MV base must be file-backed, got ${other.getClass.getSimpleName}")
  }

  /** 128-bit digest of a listing — what the routing rule actually
    * compares. Separator byte between entries so adjacent strings can't
    * alias ("ab","c" vs "a","bc"). */
  private[plans] def fingerprint(files: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.foreach { f => md.update(f.getBytes("UTF-8")); md.update(0: Byte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Memoized listing fingerprint per FileIndex INSTANCE: a FileIndex's
    * materialized listing is fixed once built (each query plans a fresh
    * scan, so a changed table arrives as a new instance), which makes it
    * sound to hash the O(files) listing ONCE per relation and compare
    * 32-char digests on every subsequent freshness check — the rule runs
    * in the operator-optimization fixed point, so at millions of files
    * the per-Aggregate re-sort was a real planning tax. Weak identity
    * keys: entries die with the FileIndex. */
  private val fpCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef, String]())

  private[plans] def fingerprintOf(rel: LogicalRelation): String = rel.relation match {
    case h: HadoopFsRelation =>
      fpCache.computeIfAbsent(h.location, _ => fingerprint(listing(rel)))
    case other => throw new IllegalArgumentException(
      s"MV base must be file-backed, got ${other.getClass.getSimpleName}")
  }

  private def rootOf(rel: LogicalRelation): String = rel.relation match {
    case h: HadoopFsRelation => h.location.rootPaths.head.toString
    case _ => throw new IllegalArgumentException("MV base must be file-backed")
  }

  /** One MV measure bundle per base measure column: null-skipping sum,
    * non-null count, min, max — everything the routing algebra needs. */
  private def measureAggs(measures: Seq[String]) =
    measures.flatMap { m =>
      Seq(sum(col(m)).as(s"sum_$m"), count(col(m)).as(s"cnt_$m"),
        min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m"))
    } :+ count(lit(1)).as("cnt_star")

  private def writeMeta(spark: SparkSession, mvPath: String, basePath: String,
      keys: Seq[String], measures: Seq[String], baseFiles: Seq[String],
      format: String, baseTable: String, baseVersion: Long, dataDir: String): Unit = {
    val meta = mapper.createObjectNode()
    meta.put("base_path", basePath)
    meta.put("base_format", format)
    meta.put("base_table", baseTable)
    meta.put("base_version", baseVersion)
    meta.put("data_dir", dataDir)
    val ka = meta.putArray("keys"); keys.foreach(ka.add)
    val ma = meta.putArray("measures"); measures.foreach(ma.add)
    val fa = meta.putArray("base_files"); baseFiles.foreach(fa.add)
    val metaPath = new Path(s"$mvPath/_mv_meta.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(metaPath, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(meta))
    finally out.close()
  }

  private def rollup(base: DataFrame, keys: Seq[String], measures: Seq[String]): DataFrame = {
    val aggs = measureAggs(measures)
    base.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Build (or rebuild) the rollup MV for `basePath` at `mvPath`: ONE
    * map-side-combined aggregation pass over the base, written as plain
    * parquet, plus a meta document recording the derivation and the base
    * listing the freshness gate checks. Registers the result. */
  def create(spark: SparkSession, basePath: String, mvPath: String,
      keys: Seq[String], measures: Seq[String]): MvDef = {
    require(keys.nonEmpty && measures.nonEmpty, "MV needs keys and measures")
    val base = spark.read.parquet(basePath)
    val rel = baseRelation(base)
    rollup(base, keys, measures).write.mode("overwrite").parquet(s"$mvPath/data")
    writeMeta(spark, mvPath, rootOf(rel), keys, measures, listing(rel),
      "parquet", basePath, -1L, "data")
    register(spark, mvPath)
  }

  /** Build the rollup MV over a VERSIONED lake table's current snapshot
    * (`format` = "delta" | "iceberg"). The meta records the snapshot
    * VERSION / snapshot id, which is what makes [[refreshIncremental]]
    * possible; the routing key is the snapshot relation's root (its first
    * live data file), so any base commit changes the key and silently
    * disables routing until a refresh re-registers. Routing then works for
    * snapshots that plan as a bare parquet relation (no deletion vectors,
    * unpartitioned) — DV'd or partitioned snapshots read through joins the
    * conservative unwrap refuses, so they simply never route. */
  def createVersioned(spark: SparkSession, table: String, mvPath: String,
      keys: Seq[String], measures: Seq[String], format: String): MvDef = {
    require(keys.nonEmpty && measures.nonEmpty, "MV needs keys and measures")
    val lake = Lake.format(format)
    val ver = lake.version(spark, table)
    val base = lake.read(spark, table, ver)
    val rel = baseRelation(base)
    val dataDir = s"data_v$ver"
    rollup(base, keys, measures).write.mode("overwrite").parquet(s"$mvPath/$dataDir")
    writeMeta(spark, mvPath, rootOf(rel), keys, measures, listing(rel),
      format, table, ver, dataDir)
    // a REBUILD over an existing MV (refresh / REFRESH ... FULL) must not
    // leak the previous versioned dir — delete stale data_v* LAST, after
    // the meta flip, so a racing reader still resolves a complete store
    dropStaleDataDirs(spark, mvPath, keep = dataDir)
    register(spark, mvPath)
  }

  private def dropStaleDataDirs(spark: SparkSession, mvPath: String,
      keep: String): Unit = {
    val root = new Path(mvPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("data_v") && n != keep)
        fs.delete(st.getPath, true)
    }
  }

  /** [[createVersioned]] over a Delta base. */
  def createDelta(spark: SparkSession, table: String, mvPath: String,
      keys: Seq[String], measures: Seq[String]): MvDef =
    createVersioned(spark, table, mvPath, keys, measures, "delta")

  /** [[createVersioned]] over an Iceberg base. */
  def createIceberg(spark: SparkSession, table: String, mvPath: String,
      keys: Seq[String], measures: Seq[String]): MvDef =
    createVersioned(spark, table, mvPath, keys, measures, "iceberg")

  /** INCREMENTAL refresh for a lake-backed MV (delta or iceberg) — the
    * maintenance cost tracks WHAT CHANGED, never the base size:
    *
    *   1. the change feed between the recorded and current versions
    *      (`changesBetween` on either format — file-granularity
    *      snapshot diff, so an append-only range reads only the new files),
    *   2. the AFFECTED GROUPS = distinct key tuples in the feed (a shuffle
    *      over changed rows only, lazily checkpointed so the three
    *      consumers below share one materialization),
    *   3. those groups are recomputed EXACTLY, from the current snapshot
    *      semi-joined (null-safe) to the affected keys — full-group
    *      recompute is what keeps min/max correct under deletes, where
    *      pure +/- delta algebra cannot retract an extremum,
    *   4. every other MV row is carried over byte-for-byte via the
    *      anti-join twin — unaffected groups are never touched,
    *   5. the new rows land in a fresh versioned data dir, the meta flips
    *      to it, and the old dir is deleted LAST — a reader racing the
    *      refresh still resolves a complete store.
    *
    * No-op (re-register only) when the base hasn't moved. At 100 TB the
    * recompute leg prunes to the affected groups' files wherever the key
    * correlates with layout (partitioning/clustering), and steps 1–2 touch
    * only changed data regardless. */
  def refreshIncremental(spark: SparkSession, mvPath: String): MvDef = {
    val d = register(spark, mvPath)
    require(d.format == "delta" || d.format == "iceberg",
      s"incremental refresh needs a versioned lake base; ${d.mvPath} records " +
        s"'${d.format}' (use refresh() for a full rebuild)")
    val lake = Lake.format(d.format)
    val cur = lake.version(spark, d.baseTable)
    if (cur == d.baseVersion) return d
    val changes = lake.changesBetween(spark, d.baseTable, d.baseVersion, cur)
    val affected = changes.select(d.keys.map(col): _*).distinct()
      .toDF(d.keys.map(k => s"__k_$k"): _*)
      .localCheckpoint(false) // three consumers, one materialization
    val snap = lake.read(spark, d.baseTable, cur)
    val rel = baseRelation(snap)
    def keyCond(df: DataFrame): Column =
      d.keys.map(k => df(k) <=> affected(s"__k_$k")).reduce(_ && _)
    val recomputed = rollup(
      snap.join(affected, keyCond(snap), "left_semi"), d.keys, d.measures)
    val oldMv = spark.read.parquet(s"$mvPath/${d.dataDir}")
    val kept = oldMv.join(affected, keyCond(oldMv), "left_anti")
    val dataDir = s"data_v$cur"
    kept.unionByName(recomputed).write.mode("overwrite").parquet(s"$mvPath/$dataDir")
    writeMeta(spark, mvPath, rootOf(rel), d.keys, d.measures, listing(rel),
      d.format, d.baseTable, cur, dataDir)
    // delete the old dir LAST, after register() flips the in-JVM registry
    // entry to the new dir — a concurrently planned routed query that
    // already resolved the stale MvDef.relation would otherwise hit
    // FileNotFoundException in the delete-to-register window (the same
    // delete-last ordering createVersioned documents)
    val out = register(spark, mvPath)
    val old = new Path(s"$mvPath/${d.dataDir}")
    old.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(old, true)
    out
  }

  /** Register an existing MV (reads its meta document) so the routing
    * rule can use it for this JVM's sessions. Idempotent. */
  def register(spark: SparkSession, mvPath: String): MvDef = {
    val metaPath = new Path(s"$mvPath/_mv_meta.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(metaPath)
    val meta = try mapper.readTree(in) finally in.close()
    def strs(f: String): Seq[String] = {
      val it = meta.get(f).elements()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    }
    def str(f: String, dflt: String): String =
      Option(meta.get(f)).map(_.asText()).getOrElse(dflt)
    val dataDir = str("data_dir", "data")
    val rel = baseRelation(spark.read.parquet(s"$mvPath/$dataDir"))
    val d = MvDef(meta.get("base_path").asText(), mvPath, strs("keys"),
      strs("measures"), strs("base_files"), rel,
      format = str("base_format", "parquet"), baseTable = str("base_table", ""),
      baseVersion = Option(meta.get("base_version")).map(_.asLong()).getOrElse(-1L),
      dataDir = dataDir)
    registry.put(d.basePath, d)
    d
  }

  /** Rebuild an existing MV from its own meta document (same base, keys,
    * measures) — the maintenance verb that brings a stale MV back into
    * routing after base churn. One full aggregation pass, re-registers;
    * prefer [[refreshIncremental]] for delta bases, where cost tracks the
    * change feed instead. */
  def refresh(spark: SparkSession, mvPath: String): MvDef = {
    val d = register(spark, mvPath) // read the recorded derivation
    val src = if (d.baseTable.nonEmpty) d.baseTable else d.basePath
    if (d.format == "parquet") create(spark, src, mvPath, d.keys, d.measures)
    else createVersioned(spark, src, mvPath, d.keys, d.measures, d.format)
  }

  /** Drop the registration whose base or MV path matches. */
  def unregister(path: String): Unit =
    registry.filterInPlace((k, d) => k != path && d.mvPath != path)

  /** Test hook: drop every registration. */
  def clearRegistry(): Unit = registry.clear()

  private[plans] def lookup(basePath: String): Option[MvDef] = registry.get(basePath)
}

/** The rewrite rule. Runs in the operator-optimization fixed point, so a
  * routed plan is immediately re-optimized (column pruning onto the MV
  * scan, filter pushdown into its parquet reader); idempotent because the
  * rewritten child is the MV relation, which is never a registered base. */
object MvRoutingRule extends Rule[LogicalPlan] {

  /** Strip attribute-only Projects / deterministic Filters down to the
    * base relation, accumulating filter conditions plus a visible-id →
    * relation-attribute map. A Project entry may be a bare attribute or a
    * NO-OP alias (`Alias(a, n)` with `n == a's underlying name` — the
    * shape `DeltaRead.snapshot`'s final select plans); a RENAMING alias
    * bails, since routing a renamed column by its new name would bind it
    * to a different MV column. */
  private def unwrap(p: LogicalPlan)
      : Option[(LogicalRelation, Seq[Expression], Map[ExprId, Attribute])] =
    p match {
      case r: LogicalRelation =>
        Some((r, Nil, r.output.map(a => a.exprId -> a).toMap))
      case Filter(cond, child) if cond.deterministic &&
          !SubqueryExpression.hasSubquery(cond) =>
        unwrap(child).map { case (r, cs, m) => (r, cond +: cs, m) }
      case Project(exprs, child) =>
        unwrap(child).flatMap { case (r, cs, m) =>
          val entries = exprs.map {
            case a: AttributeReference =>
              m.get(a.exprId).map(u => a.exprId -> u)
            case al @ Alias(a: AttributeReference, n) =>
              m.get(a.exprId).filter(_.name == n).map(u => al.exprId -> u)
            case _ => None
          }
          if (entries.forall(_.isDefined)) Some((r, cs, m ++ entries.flatten))
          else None
        }
      case _ => None
    }

  private def basePathOf(r: LogicalRelation): Option[String] = r.relation match {
    case h: HadoopFsRelation => h.location.rootPaths.headOption.map(_.toString)
    case _ => None
  }

  private def aggExpr(f: AggregateFunction): Expression = f.toAggregateExpression()

  /** Rewrite ONE aggregate call onto the MV partials; None = underivable. */
  private def rewriteCall(ae: AggregateExpression,
      mvCol: String => Option[Attribute]): Option[Expression] = ae match {
    case AggregateExpression(f, _, false, None, _) =>
      def m(prefix: String, c: Expression): Option[Attribute] = c match {
        case a: AttributeReference => mvCol(s"${prefix}_${a.name}")
        case _ => None
      }
      f match {
        case Sum(c, _) => m("sum", c).map(a => aggExpr(Sum(a)))
        case Min(c) => m("min", c).map(a => aggExpr(Min(a)))
        case Max(c) => m("max", c).map(a => aggExpr(Max(a)))
        case Count(Seq(Literal(1, _))) =>
          mvCol("cnt_star").map(a =>
            Coalesce(Seq(aggExpr(Sum(a)), Literal(0L, LongType))))
        case Count(Seq(c)) =>
          m("cnt", c).map(a =>
            Coalesce(Seq(aggExpr(Sum(a)), Literal(0L, LongType))))
        case Average(c, _) =>
          m("sum", c).zip(m("cnt", c)).map { case (s, n) =>
            val total = aggExpr(Sum(Cast(s, DoubleType)))
            val cnt = Coalesce(Seq(aggExpr(Sum(n)), Literal(0L, LongType)))
            If(EqualTo(cnt, Literal(0L, LongType)),
              Literal(null, DoubleType), Divide(total, Cast(cnt, DoubleType)))
          }
        case _ => None
      }
    case _ => None
  }

  /** Rewrite a full output expression: aggregate calls via the algebra,
    * bare attributes via the key map, any other deterministic scalar
    * node structurally. None anywhere = the whole aggregate bails. */
  private def rewriteExpr(e: Expression, keyFor: Map[ExprId, Attribute],
      mvCol: String => Option[Attribute]): Option[Expression] = e match {
    // TYPE-PRESERVATION gate: the rewritten call must carry the original
    // call's exact dataType. Decimal aggregates widen per-input (base
    // sum(dec(p,s)) = dec(p+10,s) but sum over the MV partial would be
    // dec(p+20,s); avg(decimal) is decimal while the 0/0-guarded rewrite
    // is double) — the Alias keeps the original exprId, so a type change
    // would poison downstream attribute copies. Mismatch = bail to base.
    case ae: AggregateExpression =>
      rewriteCall(ae, mvCol).filter(_.dataType == ae.dataType)
    case a: AttributeReference => keyFor.get(a.exprId)
    case other if other.deterministic && !SubqueryExpression.hasSubquery(other) =>
      if (other.children.isEmpty) Some(other)
      else {
        val cs = other.children.map(rewriteExpr(_, keyFor, mvCol))
        if (cs.forall(_.isDefined)) Some(other.withNewChildren(cs.map(_.get)))
        else None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.mv.routing", "true") != "true") return plan
    plan.transform {
      case agg @ Aggregate(groupings, aggExprs, child, _) =>
        val routed = for {
          (rel, conds, visible) <- unwrap(child)
          path <- basePathOf(rel)
          d <- Mv.lookup(path)
          // freshness gate: O(1)-per-check digest compare — the listing is
          // hashed once per FileIndex instance (Mv.fingerprintOf memoizes),
          // once per registration for the recorded side (MvDef.baseFp)
          if Mv.fingerprintOf(rel) == d.baseFp
          // fresh MV relation instance per rewrite — ids never collide
          mvRel = d.relation.newInstance()
          mvByName = mvRel.output.map(a => a.name -> a).toMap
          // every visible id (relation attrs AND their no-op aliases) of a
          // key column binds to the MV's column of the same name
          keyFor = visible.collect {
            case (id, u) if d.keys.contains(u.name) && mvByName.contains(u.name) =>
              id -> mvByName(u.name)
          }
          if groupings.forall {
            case a: AttributeReference => keyFor.contains(a.exprId)
            case _ => false
          }
          // filters: key-column references only, re-bindable to MV attrs
          if conds.forall(_.references.forall(a => keyFor.contains(a.exprId)))
          newAggs <- {
            val rewritten = aggExprs.map {
              case a: AttributeReference =>
                keyFor.get(a.exprId).map(mv => Alias(mv, a.name)(exprId = a.exprId))
              case al @ Alias(childE, name) =>
                rewriteExpr(childE, keyFor, mvByName.get)
                  .map(e => Alias(e, name)(exprId = al.exprId))
              case _ => None
            }
            if (rewritten.forall(_.isDefined)) Some(rewritten.map(_.get)) else None
          }
        } yield {
          val rebound = conds.map(_.transform {
            case a: AttributeReference if keyFor.contains(a.exprId) => keyFor(a.exprId)
          })
          val filtered: LogicalPlan =
            rebound.foldLeft(mvRel: LogicalPlan)((p, c) => Filter(c, p))
          Aggregate(
            groupings.map { case a: AttributeReference => keyFor(a.exprId) },
            newAggs, filtered)
        }
        routed.getOrElse(agg)
    }
  }
}
