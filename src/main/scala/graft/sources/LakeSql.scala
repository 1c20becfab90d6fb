package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import Lake._

/** The SQL STATEMENT SURFACE over path-addressed lake tables —
  * [[Lake.sql]] (DML/DDL/maintenance), [[Lake.sqlFrame]] (result-set
  * statements), [[Lake.sqlScript]] (multi-statement scripts) and the
  * fast-path [[simpleSelect]] dialect, dispatched to by thin forwarders
  * on [[Lake]]. Split out of Lake.scala (round 17) — behavior unchanged.
  * General SELECTs beyond the fast path delegate to [[LakeDelegate]]. */
private[sources] object LakeSql {
  /** SQL DML over path-addressed lake tables — the statement surface a
    * SQL-first user reaches for, each text dispatching to the format's
    * transactional primitive (never a blind rewrite):
    *
    * {{{ DELETE FROM '<path>' WHERE <pred>
    *     UPDATE '<path>' SET c1 = e1[, c2 = e2 ...] [WHERE <pred>]
    *     MERGE INTO '<path>' USING (<select ...>) ON (k1[, k2 ...])
    *     INSERT INTO '<path>' <select ...>
    *     INSERT OVERWRITE '<path>' [REPLACE WHERE <pred>] <select ...> }}}
    *
    * plus the MAINTENANCE / MIGRATION statements (dispatching to
    * [[compact]] / [[vacuum]] / [[restore]] / [[convert]] / [[clone]] /
    * [[export]]):
    *
    * {{{ OPTIMIZE '<path>' [WHERE <pred>] [ZORDER BY (c1[, c2 ...]) | HILBERT BY (c1, c2[, ...])]
    *     VACUUM '<path>' [RETAIN n VERSIONS] [FORCE]
    *     RESTORE '<path>' [TO] {VERSION AS OF n | TIMESTAMP AS OF <ts>}
    *     CONVERT TO DELTA '<dir>' [PARTITIONED BY (c1[, c2 ...])]
    *     CREATE TABLE '<target>' SHALLOW CLONE '<source>' [VERSION AS OF n | TIMESTAMP AS OF <ts>]
    *     CREATE TABLE [IF NOT EXISTS] '<path>' (c1 TYPE[, c2 TYPE ...]) USING {delta | iceberg} [PARTITIONED BY (...)]
    *     DROP TABLE [IF EXISTS] '<path>'
    *     EXPORT '<source>' TO {delta | iceberg} '<target>'
    *     USE '<dir>'   |   USE DEFAULT
    *     CREATE [OR REPLACE] VIEW <name> AS <select>   |   DROP VIEW [IF EXISTS] <name> }}}
    *
    * `<ts>` is epoch milliseconds or a quoted `'yyyy-MM-dd[ HH:mm:ss]'` /
    * ISO-8601 literal (UTC when no zone is given — [[parseTsLiteral]]).
    * `USE '<dir>'` sets the session's directory catalog: bare identifiers
    * resolve to `<dir>/<name>` through the same format detection SHOW
    * TABLES uses — in FROM/JOIN positions of any SELECT ([[tableRefs]])
    * AND in statement heads (`DELETE FROM t` / `INSERT INTO t` /
    * `OPTIMIZE t` / `DESCRIBE t` / `DROP TABLE t` / `CREATE TABLE t (…)`
    * … — [[resolveBareHead]]); `USE DEFAULT` clears it. Catalog VIEWs store one
    * result-set statement as `<dir>/<name>.view.sql` (validated by
    * planning at CREATE) and expand at QUERY time against the current
    * catalog — they may reference tables and other views by bare name; a
    * cycle dies at a depth cap, loudly. Column-schema
    * CREATE TABLE commits an empty schema-bearing append — a
    * zero-data-file table ready for INSERT; DROP TABLE refuses any path
    * that does not classify as a table (lake log/metadata, flat parquet,
    * or hive-partitioned parquet).
    *
    * and the MATERIALIZED VIEW lifecycle (dispatching to
    * [[graft.plans.Mv]] — the transparent-routing rollups; REFRESH is
    * INCREMENTAL for delta bases unless FULL is given, always a rebuild
    * for parquet bases, and returns the base version the MV now
    * reflects; DROP deletes the store and the registration):
    *
    * {{{ CREATE MATERIALIZED VIEW '<mvPath>' ON '<basePath>' KEYS (k1[, k2 ...]) MEASURES (m1[, m2 ...])
    *     REFRESH MATERIALIZED VIEW '<mvPath>' [FULL]
    *     DROP MATERIALIZED VIEW '<mvPath>' }}}
    *
    * and the ALTER TABLE family ([[renameColumn]] / [[dropColumn]] /
    * [[DeltaWrite.addCheckConstraint]] / Iceberg
    * [[IcebergWrite.evolvePartitionSpec]] — each metadata-only, no data
    * file rewritten at any scale):
    *
    * {{{ ALTER TABLE '<path>' RENAME COLUMN a TO b
    *     ALTER TABLE '<path>' DROP COLUMN a
    *     ALTER TABLE '<path>' ADD COLUMN name <ddl-type>
    *     ALTER TABLE '<path>' ADD CONSTRAINT name CHECK (<pred>)
    *     ALTER TABLE '<path>' DROP CONSTRAINT name
    *     ALTER TABLE '<path>' SET PARTITION SPEC (t1[, t2 ...]) }}}
    *
    * VACUUM returns the number of files deleted (its natural scalar;
    * [[sqlFrame]] returns the deleted paths as rows); `FORCE` drops the
    * 24 h min-file-age guard — the test/recovery escape hatch, like
    * disabling Delta's retention-duration check. `DESCRIBE HISTORY` is a
    * result-set statement — use [[sqlFrame]].
    *
    * Statement bodies are scanned quote-aware ([[topLevelKeyword]] /
    * [[matchingParen]]): keywords inside string literals or parenthesized
    * subexpressions never split a clause.
    *
    * MERGE without WHEN clauses is the CDC default — UPDATE SET * every
    * matched key, INSERT * every new one ([[upsert]]). With WHEN clauses
    * it is the FULL form ([[mergeInto]]):
    *
    * {{{ MERGE INTO '<path>' USING (<select ...>) ON (k1[, k2 ...])
    *       [WHEN MATCHED [AND <cond>] THEN {UPDATE SET * | UPDATE SET c = e[, ...] | DELETE}]...
    *       [WHEN NOT MATCHED [AND <cond>] THEN INSERT *]
    *       [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN {UPDATE SET c = e[, ...] | DELETE}]... }}}
    *
    * — matched clauses fire in statement order (first match wins, rows
    * matching none are untouched), everything applies as ONE atomic
    * commit. Matched conditions and SET values see the target row's
    * columns bare and the source row's as `src_<name>`; the not-matched
    * condition sees the source row bare. A CASE expression inside a merge
    * condition must be parenthesized (its WHEN/THEN would otherwise split
    * the clause scan). The ON clause names the key COLUMNS (null-safe
    * equality), not an arbitrary predicate. Predicates and expressions
    * are standard Spark SQL texts (`functions.expr`); the USING / INSERT
    * source is any SELECT the session can run (including over quoted lake
    * paths and the registered lake table functions, so lake-to-lake MERGE
    * is one statement). CTAS:
    *
    * {{{ CREATE TABLE '<path>' USING {delta | iceberg}
    *       [PARTITIONED BY (c1[, c2 ...])] AS <select ...> }}}
    *
    * Returns the committed version / snapshot id. */
  def sql(spark: SparkSession, statement: String): Long = {
    import org.apache.spark.sql.functions.expr
    val s = resolveBareHead(spark, statement.trim.stripSuffix(";").trim)
    require(!s.toUpperCase(java.util.Locale.ROOT).matches("(?s)(SELECT|WITH|DESCRIBE|SHOW|EXPLAIN)\\b.*"),
      s"result-set statement — use sqlFrame: $s")
    // statement HEADS (verb, quoted path) carry no user expressions, so
    // anchored regexes are safe there; BODIES (predicates, SET lists,
    // USING sources) are split only by quote/paren-aware scans
    val Delete = """(?is)DELETE\s+FROM\s+'([^']+)'(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\s+WHERE\s+(.+)""".r
    val CopyInto =
      """(?is)COPY\s+INTO\s+'([^']+)'\s+FROM\s+'([^']+)'\s+FORMAT\s+(\w+)\s*(WITH\s+SCHEMA\s+EVOLUTION\s*)?""".r
    val Truncate =
      """(?is)(?:TRUNCATE\s+(?:TABLE\s+)?|DELETE\s+FROM\s+)'([^']+)'\s*""".r
    val Analyze =
      """(?is)ANALYZE\s+TABLE\s+'([^']+)'\s*(?:COMPUTE\s+STATISTICS\s*)?(?:FOR\s+ALL\s+COLUMNS\s*)?""".r
    val UpdateHead = """(?is)UPDATE\s+'([^']+)'(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\s+SET\s+(.+)""".r
    val MergeHead =
      """(?is)MERGE\s+(WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s+'([^']+)'\s+USING\s*(\(.*)""".r
    val OnTail = """(?is)\s*ON\s+\(?\s*([\w\s,]+?)\s*\)?\s*""".r
    val Insert = """(?is)INSERT\s+INTO\s+'([^']+)'\s+(.+)""".r
    val InsertOverwrite = """(?is)INSERT\s+OVERWRITE\s+'([^']+)'\s+(.+)""".r
    val ReplaceWhereHead = """(?is)REPLACE\s+WHERE\s+(.+)""".r
    val CtasHead = """(?is)CREATE\s+TABLE\s+'([^']+)'\s+USING\s+(\w+)\s+(.+)""".r
    val PartitionedHead = """(?is)PARTITIONED\s+BY\s*(\(.*)""".r
    val AsTail = """(?is)\s*AS\s+(.+)""".r
    val Optimize = """(?is)OPTIMIZE\s+'([^']+)'\s*(.*)""".r
    val Vacuum = """(?is)VACUUM\s+'([^']+)'\s*(?:RETAIN\s+(\d+)\s+VERSIONS\s*)?(?:(FORCE)\s*)?(DRY\s+RUN)?\s*""".r
    val Restore = """(?is)RESTORE\s+'([^']+)'\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*""".r
    val RestoreAt =
      """(?is)RESTORE\s+'([^']+)'\s+(?:TO\s+)?TIMESTAMP\s+AS\s+OF\s+(?:(\d+)|'([^']+)')\s*""".r
    val Use = """(?is)USE\s+'([^']+)'\s*""".r
    val UseDefault = """(?is)USE\s+DEFAULT\s*""".r
    // catalog VIEWs: one saved result-set statement per <name>.view.sql
    // under the USE'd directory, expanded at query time by bare name
    val CreateView =
      """(?is)CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(?:([A-Za-z_]\w*)|'([^']+)')\s+AS\s+(.+)""".r
    val DropView =
      """(?is)DROP\s+VIEW\s+(IF\s+EXISTS\s+)?(?:([A-Za-z_]\w*)|'([^']+)')\s*""".r
    // column-schema DDL: CREATE TABLE '<p>' (c1 TYPE, ...) USING fmt
    // [PARTITIONED BY (...)] — the '(' directly after the path is what
    // separates it from CTAS (whose head is USING) and SHALLOW CLONE
    val CreateSchema =
      """(?is)CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?'([^']+)'\s*(\(.*)""".r
    val DropTable = """(?is)DROP\s+TABLE\s+(IF\s+EXISTS\s+)?'([^']+)'\s*""".r
    // the partition list may itself contain parens (bucket(8, id),
    // day(ts)) — capture from the open paren and split top-level
    val CreateUsingTail =
      """(?is)\s*USING\s+(\w+)\s*(?:PARTITIONED\s+BY\s*(\(.*))?""".r
    val ZorderTail = """(?is)\s*BY\s*\(([\w\s,]+)\)\s*""".r
    val MvCreate =
      """(?is)CREATE\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s+ON\s+'([^']+)'\s+KEYS\s*\(([\w\s,]+)\)\s+MEASURES\s*\(([\w\s,]+)\)\s*""".r
    val MvRefresh = """(?is)REFRESH\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s*(FULL)?\s*""".r
    val MvDrop = """(?is)DROP\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s*""".r
    val Convert =
      """(?is)CONVERT\s+TO\s+DELTA\s+'([^']+)'\s*(?:PARTITIONED\s+BY\s*\(([\w\s,]+)\)\s*)?""".r
    val CloneStmt =
      """(?is)CREATE\s+TABLE\s+'([^']+)'\s+SHALLOW\s+CLONE\s+'([^']+)'\s*(?:VERSION\s+AS\s+OF\s+(\d+)\s*|TIMESTAMP\s+AS\s+OF\s+(?:(\d+)|'([^']+)')\s*)?""".r
    val Export = """(?is)EXPORT\s+'([^']+)'\s+TO\s+(\w+)\s+'([^']+)'\s*""".r
    val AlterRename =
      """(?is)ALTER\s+TABLE\s+'([^']+)'\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*""".r
    val AlterDropCol = """(?is)ALTER\s+TABLE\s+'([^']+)'\s+DROP\s+COLUMN\s+(\w+)\s*""".r
    // the DDL type may carry parens/commas (decimal(10,2)) — capture the rest
    val AlterAddCol =
      """(?is)ALTER\s+TABLE\s+'([^']+)'\s+ADD\s+COLUMN\s+(\w+)\s+([\w(),\s]+?)\s*""".r
    val AlterAddConstraint =
      """(?is)ALTER\s+TABLE\s+'([^']+)'\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*(\(.*)""".r
    val AlterDropConstraint =
      """(?is)ALTER\s+TABLE\s+'([^']+)'\s+DROP\s+CONSTRAINT\s+(\w+)\s*""".r
    // the spec list may itself contain parens (bucket(4, id), day(ts)) —
    // capture from the open paren and split top-level
    val AlterSetSpec =
      """(?is)ALTER\s+TABLE\s+'([^']+)'\s+SET\s+PARTITION\s+SPEC\s*(\(.*)""".r
    val AlterSetBloom =
      """(?is)ALTER\s+TABLE\s+'([^']+)'\s+SET\s+BLOOM\s+FILTER\s*\(([\w\s,]*)\)\s*""".r
    // standard INSERT/MERGE semantics: source columns match the table's
    // by NAME (any order) and implicitly CAST to the declared types —
    // `VALUES (1, 1.5)` inserts into (BIGINT, DOUBLE) without explicit
    // casts. The writers themselves REFUSE type mismatches (a mismatched
    // parquet file would be misread under the table schema — decimal
    // unscaled longs surfacing as garbage doubles); this is the cast
    // layer statement text is expected to provide.
    def conformTo(path: String, df: DataFrame): DataFrame =
      scala.util.Try(read(spark, path).schema).toOption match {
        case None => df // unreadable target: the dispatch below refuses properly
        case Some(target) =>
          val extra = df.columns.filterNot(c => target.fieldNames.contains(c))
          if (extra.nonEmpty) df // evolving/garbage source: the writer judges
          else df.select(target.fields.toSeq
            .filter(f => df.columns.contains(f.name))
            .map { f =>
              import org.apache.spark.sql.functions.{col, lit, when, raise_error}
              val c = col(f.name)
              if (df.schema(f.name).dataType == f.dataType) c
              else {
                // store-assignment, not silent truncation: a non-NULL value
                // the cast NULLs ('abc' into BIGINT, an overflowing decimal)
                // is refused loudly instead of landing as NULL
                val casted = c.cast(f.dataType)
                when(c.isNotNull && casted.isNull,
                  raise_error(lit(s"cannot cast column ${f.name} to " +
                    s"${f.dataType.sql} for $path — cast or filter upstream")))
                  .otherwise(casted).as(f.name)
              }
            }: _*)
      }
    s match {
      case AlterRename(path, oldName, newName) =>
        renameColumn(spark, path, oldName, newName)
        // metadata-only ALTERs report the post-statement head (Iceberg
        // schema evolution bumps metadata without a snapshot)
        versionOf(spark, path)
      case AlterDropCol(path, name) =>
        dropColumn(spark, path, name)
        versionOf(spark, path)
      case AlterAddCol(path, name, typeDdl) =>
        addColumn(spark, path, name, typeDdl.trim)
      case AlterAddConstraint(path, name, fromParen) =>
        val close = matchingParen(fromParen, 0)
        require(close > 0, s"unbalanced CHECK (...) parens in: $s")
        require(fromParen.substring(close + 1).trim.isEmpty,
          s"unexpected trailing text after CHECK (...) in: $s")
        requireFormat(spark, path, Delta,
          "ADD CONSTRAINT (a Delta protocol feature, delta.constraints.*)")
        DeltaWrite.addCheckConstraint(spark, path, name, fromParen.substring(1, close))
      case AlterDropConstraint(path, name) =>
        requireFormat(spark, path, Delta, "DROP CONSTRAINT (a Delta protocol feature)")
        DeltaWrite.dropCheckConstraint(spark, path, name)
      case AlterSetBloom(path, colList) =>
        // opt FUTURE writes into per-file bloom sketches on the named
        // columns (Delta: the extended `graftBloom` stats key inside each
        // add action; Iceberg: metadata/blooms-*.json sidecars): point/IN
        // predicates then prune high-NDV columns whose [min,max] spans
        // the domain. Empty list = drop the opt-in. Existing files keep
        // null sketches (conservative keep) until rewritten (OPTIMIZE).
        val cols = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val schema = read(spark, path).schema
        cols.foreach(c => require(schema.fieldNames.contains(c),
          s"SET BLOOM FILTER: no column '$c' in ${schema.fieldNames.mkString(",")}"))
        table(spark, path).setProperties(spark, path,
          Map("graft.bloom.columns" -> cols.mkString(",")))
      case AlterSetSpec(path, fromParen) =>
        val close = matchingParen(fromParen, 0)
        require(close > 0, s"unbalanced SET PARTITION SPEC parens in: $s")
        require(fromParen.substring(close + 1).trim.isEmpty,
          s"unexpected trailing text after SET PARTITION SPEC (...) in: $s")
        evolvePartitionSpec(spark, path,
          splitTopLevel(fromParen.substring(1, close)))
        versionOf(spark, path)
      case MvCreate(mvPath, basePath, keysCsv, measuresCsv) =>
        def cols(cs: String) =
          cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val d = tableOption(spark, basePath) match {
          case Some(t) => graft.plans.Mv.createVersioned(spark, basePath, mvPath,
            cols(keysCsv), cols(measuresCsv), t.name)
          case None => graft.plans.Mv.create(spark, basePath, mvPath,
            cols(keysCsv), cols(measuresCsv))
        }
        d.baseVersion
      case MvRefresh(mvPath, fullOrNull) =>
        // FULL forces a rebuild; otherwise lake bases (delta/iceberg)
        // refresh from their change feed and parquet bases (no feed) rebuild
        val d0 = graft.plans.Mv.register(spark, mvPath)
        val d = if (fullOrNull != null || d0.format == "parquet")
          graft.plans.Mv.refresh(spark, mvPath)
        else graft.plans.Mv.refreshIncremental(spark, mvPath)
        d.baseVersion
      case MvDrop(mvPath) =>
        // validate the target IS an MV store before the recursive delete —
        // a typo'd (or hostile) path must never remove arbitrary data
        val p = new org.apache.hadoop.fs.Path(mvPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(new org.apache.hadoop.fs.Path(p, "_mv_meta.json")),
          s"DROP MATERIALIZED VIEW: no _mv_meta.json under $mvPath — " +
            "not an MV store, refusing to delete")
        graft.plans.Mv.unregister(mvPath)
        fs.delete(p, true)
        -1L
      case Convert(dir, partsOrNull) =>
        convert(spark, dir, Option(partsOrNull).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
      case CloneStmt(target, source, versionOrNull, tsNumOrNull, tsStrOrNull) =>
        val v = Option(versionOrNull).map(_.toLong)
          .orElse(Option(tsNumOrNull).orElse(Option(tsStrOrNull))
            .map(t => versionAt(spark, source, parseTsLiteral(t))))
          .getOrElse(-1L)
        Lake.clone(spark, source, target, v)
      case Export(source, fmt, target) =>
        export(spark, source, target, Lake.format(fmt))
      case DropTable(ifExistsOrNull, path) =>
        val tp = new org.apache.hadoop.fs.Path(path)
        val tfs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!tfs.exists(tp)) {
          require(ifExistsOrNull != null, s"DROP TABLE: no such table $path")
          -1L
        } else {
          // validate the target IS a table before the recursive delete —
          // a typo'd (or hostile) path must never remove arbitrary data.
          // Same classification as SHOW TABLES: a lake log/metadata, flat
          // .parquet files, or hive key=value partition dirs holding them.
          val looksLikeTable = tableOption(spark, path).isDefined || {
            val children = tfs.listStatus(tp)
            children.exists(f =>
              f.isFile && f.getPath.getName.endsWith(".parquet")) ||
              children.exists(d =>
                d.isDirectory && d.getPath.getName.contains("=") &&
                  tfs.listStatus(d.getPath).exists(f =>
                    f.isFile && f.getPath.getName.endsWith(".parquet")))
          }
          require(looksLikeTable,
            s"DROP TABLE: $path is not a table directory, refusing to delete")
          tfs.delete(tp, true)
          -1L
        }
      case CreateSchema(ifNotExistsOrNull, path, fromParen) =>
        // column-schema DDL — an EMPTY table with the declared schema,
        // committed as a schema-bearing zero-row append (the same
        // mechanism addColumn uses): the first statement of a migration
        // script, no data file written at any scale
        val close = matchingParen(fromParen, 0)
        require(close > 0, s"unbalanced column-list parens in: $s")
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          fromParen.substring(1, close))
        val (format, parts) = fromParen.substring(close + 1) match {
          case CreateUsingTail(fmt, partsParenOrNull) =>
            val parts = Option(partsParenOrNull).map(_.trim).filter(_.nonEmpty)
              .map { pp =>
                val pc = matchingParen(pp, 0)
                require(pc > 0 && pp.substring(pc + 1).trim.isEmpty,
                  s"unbalanced PARTITIONED BY parens in: $s")
                splitTopLevel(pp.substring(1, pc)).map(_.trim).filter(_.nonEmpty)
              }.getOrElse(Seq.empty)
            (fmt.toLowerCase(java.util.Locale.ROOT), parts)
          case other => throw new IllegalArgumentException(
            s"CREATE TABLE (schema): expected USING {delta | iceberg} " +
              s"[PARTITIONED BY (...)], got: $other")
        }
        // a transform spec (bucket(8, id), day(ts), truncate(4, s)) names
        // its SOURCE column; identity specs are the column itself. Hidden
        // transforms are the Iceberg spec's mechanism — Delta partitions
        // by value only, EXCEPT bucket(n, col), which our Delta writer
        // stamps as a graft layout (S8bk: `__gb=` path prefixes + the
        // graft.bucketSpec property) so the zero-exchange routes fire on
        // Delta too.
        parts.foreach { p =>
          val src = scala.util.Try(IcebergTransforms.parse(p).source).getOrElse(p)
          require(schema.fieldNames.contains(src),
            s"CREATE TABLE: partition source column '$src' not in the declared schema")
          require(!p.contains("(") || format == "iceberg" ||
            p.matches("(?i)^\\s*bucket\\s*\\(.*"),
            s"CREATE TABLE: transform partitioning '$p' is Iceberg-only " +
              "(Delta partitions by column value; bucket(n, col) is the " +
              "one supported Delta transform)")
        }
        val tp = new org.apache.hadoop.fs.Path(path)
        val tfs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val occupied = tfs.exists(tp) && tfs.listStatus(tp).nonEmpty
        if (occupied && ifNotExistsOrNull != null)
          return versionOf(spark, path) // standard IF NOT EXISTS no-op
        require(!occupied,
          s"CREATE TABLE: $path already exists and is not empty")
        val empty = spark.createDataFrame(
          spark.sparkContext.parallelize(
            Seq.empty[org.apache.spark.sql.Row], 1), schema)
        Lake.format(format).append(spark, empty, path, partitionBy = parts)
      case CtasHead(path, format, body) =>
        val (parts, selectTail) = body.trim match {
          case PartitionedHead(fromParen) =>
            val close = matchingParen(fromParen, 0)
            require(close > 0, s"unbalanced PARTITIONED BY parens in: $s")
            (fromParen.substring(1, close).split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq, fromParen.substring(close + 1))
          case other => (Seq.empty[String], other)
        }
        val source = selectTail match {
          case AsTail(src) => src
          case other => throw new IllegalArgumentException(
            s"CREATE TABLE: expected AS <select>, got: $other")
        }
        val df = sourceFrame(spark, source)
        Lake.format(format).append(spark, df, path, partitionBy = parts)
      case Optimize(path, body) =>
        val b = body.trim
        val zIdx = topLevelKeyword(b, "ZORDER")
        val hIdx = topLevelKeyword(b, "HILBERT")
        require(zIdx < 0 || hIdx < 0,
          s"OPTIMIZE: pick ZORDER BY or HILBERT BY, not both: $b")
        val (kw, kIdx) = if (hIdx >= 0) ("HILBERT", hIdx) else ("ZORDER", zIdx)
        val (pred, clusterPart) =
          if (b.isEmpty) (None, "")
          else if (topLevelKeyword(b, "WHERE") == 0)
            (Some(b.substring(5, if (kIdx >= 0) kIdx else b.length).trim),
              if (kIdx >= 0) b.substring(kIdx) else "")
          else if (kIdx == 0) (None, b)
          else throw new IllegalArgumentException(
            s"OPTIMIZE: expected [WHERE <pred>] [ZORDER BY (cols) | HILBERT BY (cols)], got: $b")
        val clusterBy = clusterPart match {
          case "" => Seq.empty[String]
          case z => z.substring(kw.length) match {
            case ZorderTail(cols) =>
              cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            case other => throw new IllegalArgumentException(
              s"OPTIMIZE: expected $kw BY (cols), got: $kw$other")
          }
        }
        compact(spark, path, zorderBy = clusterBy, where = pred,
          curve = if (hIdx >= 0) "hilbert" else "z")
      case Vacuum(path, retainOrNull, forceOrNull, dryOrNull) =>
        val retain = Option(retainOrNull).map(_.toInt).getOrElse(1)
        val age = if (forceOrNull != null) 0L else 24L * 3600 * 1000
        vacuum(spark, path, retain, age, dryRun = dryOrNull != null).size.toLong
      case Restore(path, version) =>
        restore(spark, path, version.toLong)
      case RestoreAt(path, tsNumOrNull, tsStrOrNull) =>
        val ms = parseTsLiteral(
          if (tsNumOrNull != null) tsNumOrNull else tsStrOrNull)
        restore(spark, path, versionAt(spark, path, ms))
      case Use(dir) =>
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(p) && fs.getFileStatus(p).isDirectory,
          s"USE: no such directory $dir")
        spark.conf.set(UseDirKey, dir)
        -1L
      case UseDefault() =>
        spark.conf.unset(UseDirKey)
        -1L
      case CreateView(orReplaceOrNull, nameOrNull, pathOrNull, body) =>
        // a quoted path stores the view NEXT TO the tables it reads — no
        // USE catalog needed; the bare form stays catalog-addressed
        val viewPath = Option(pathOrNull).map(_.stripSuffix("/"))
          .getOrElse {
            val dir = spark.conf.getOption(UseDirKey).map(_.stripSuffix("/"))
              .getOrElse(throw new IllegalArgumentException(
                "CREATE VIEW <name>: no USE '<dir>' catalog set " +
                  "(use CREATE VIEW '<dir>/<name>' to store by path)"))
            s"$dir/$nameOrNull"
          }
        val name = viewPath.substring(viewPath.lastIndexOf('/') + 1)
        require(body.trim.toUpperCase(java.util.Locale.ROOT)
            .matches("(?s)(SELECT|WITH)\\b.*"),
          s"CREATE VIEW: the body must be a SELECT/WITH statement, got: $body")
        val f = new org.apache.hadoop.fs.Path(s"$viewPath.view.sql")
        val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(orReplaceOrNull != null || !fs.exists(f),
          s"CREATE VIEW: $name already exists (use CREATE OR REPLACE VIEW)")
        // validate by PLANNING the body now (no execution) — a broken view
        // should fail its author, not its readers
        scala.util.Try(sqlFrame(spark, body)) match {
          case scala.util.Failure(e) => throw new IllegalArgumentException(
            s"CREATE VIEW $name: body does not plan: ${e.getMessage}")
          case _ =>
        }
        val out = fs.create(f, true)
        try out.write(body.trim.getBytes("UTF-8")) finally out.close()
        -1L
      case DropView(ifExistsOrNull, nameOrNull, pathOrNull) =>
        val viewPath = Option(pathOrNull).map(_.stripSuffix("/")).getOrElse {
          val dir = spark.conf.getOption(UseDirKey).map(_.stripSuffix("/"))
            .getOrElse(throw new IllegalArgumentException(
              "DROP VIEW <name>: no USE '<dir>' catalog set " +
                "(use DROP VIEW '<dir>/<name>' to drop by path)"))
          s"$dir/$nameOrNull"
        }
        val name = viewPath.substring(viewPath.lastIndexOf('/') + 1)
        val f = new org.apache.hadoop.fs.Path(s"$viewPath.view.sql")
        val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(f))
          require(ifExistsOrNull != null, s"DROP VIEW: no such view $name")
        else fs.delete(f, false)
        -1L
      case CopyInto(path, srcDir, fmt, evolveOrNull) =>
        copyInto(spark, path, srcDir, fmt, evolve = evolveOrNull != null)._1
      case Analyze(path) =>
        analyzeTable(spark, path)
      case Truncate(path) =>
        // remove every row in ONE commit, keep schema/partitioning/history
        // (time travel still reads the pre-truncate data) — an overwrite
        // with the empty frame of the table's own schema
        val t = table(spark, path)
        val empty = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1),
          read(spark, path).schema)
        t.overwrite(spark, empty, path)
      case Delete(path, aliasOrNull, pred) =>
        deleteWhere(spark, path, resolveExpr(spark, pred), Option(aliasOrNull))
      case MergeHead(evoOrNull, path, fromParen) =>
        val evolve = evoOrNull != null
        val close = matchingParen(fromParen, 0)
        require(close > 0, s"unbalanced USING (...) parens in: $s")
        val source = fromParen.substring(1, close)
        val tail = fromParen.substring(close + 1)
        // WHEN clauses (if any) follow the ON key list
        val whenIdx = topLevelKeyword(tail, "WHEN")
        val onPart = if (whenIdx < 0) tail else tail.substring(0, whenIdx)
        val keys = onPart match {
          case OnTail(k) => k.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          case other => throw new IllegalArgumentException(
            s"MERGE INTO: expected ON (k1[, k2 ...]) after USING (...), got: $other")
        }
        val src = conformTo(path, sourceFrame(spark, source))
        if (whenIdx < 0) {
          // the CDC default shape; with evolution it is the same clause
          // pair spelled through the evolving merge
          if (evolve) mergeInto(spark, path, src, keys,
            matched = Seq((None, MergeUpdate(Nil))),
            notMatched = Some(None), evolveSchema = true)
          else upsert(spark, src, path, keys)
        }
        else {
          // parse the ordered WHEN clause list: each clause spans to the
          // next top-level WHEN; inside, the top-level THEN splits the
          // head (MATCHED | NOT MATCHED, optional AND <cond>) from the
          // action (UPDATE SET * | UPDATE SET a = e, … | DELETE | INSERT *)
          val text = tail.substring(whenIdx)
          val starts = {
            val b = Seq.newBuilder[Int]
            var i = topLevelKeyword(text, "WHEN")
            while (i >= 0) { b += i; i = topLevelKeyword(text, "WHEN", i + 4) }
            b.result()
          }
          val slices = starts.zip(starts.drop(1) :+ text.length)
            .map { case (a, b) => text.substring(a + 4, b).trim }
          val matchedB = Seq.newBuilder[(Option[org.apache.spark.sql.Column], MergeAction)]
          val orphanB = Seq.newBuilder[(Option[org.apache.spark.sql.Column], MergeAction)]
          var notMatched: Option[Option[org.apache.spark.sql.Column]] = None
          var notMatchedVals: Seq[(String, org.apache.spark.sql.Column)] = Nil
          slices.foreach { clause =>
            val thenIdx = topLevelKeyword(clause, "THEN")
            require(thenIdx > 0, s"MERGE: WHEN clause without THEN: $clause")
            val head = clause.substring(0, thenIdx).trim
            val action = clause.substring(thenIdx + 4).trim
            val andIdx = topLevelKeyword(head, "AND")
            val kind = (if (andIdx < 0) head else head.substring(0, andIdx)).trim
              .toUpperCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
            val cond = if (andIdx < 0) None
              else Some(resolveExpr(spark, head.substring(andIdx + 3).trim))
            val u = action.toUpperCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
            def updateOrDelete(what: String)
                : (Option[org.apache.spark.sql.Column], MergeAction) = {
              if (u == "DELETE") cond -> MergeDelete
              else if (u == "UPDATE SET *") cond -> MergeUpdate(Nil)
              else if (u.startsWith("UPDATE SET ")) {
                val assigns = splitTopLevel(
                  action.substring(action.toUpperCase(java.util.Locale.ROOT)
                    .indexOf("SET") + 3)).map { item =>
                  val eq = item.indexOf('=')
                  require(eq > 0, s"malformed SET item '$item' (expected col = expr)")
                  (item.take(eq).trim, resolveExpr(spark, item.drop(eq + 1).trim))
                }
                require(assigns.nonEmpty, s"MERGE: empty UPDATE SET list in: $clause")
                cond -> MergeUpdate(assigns)
              } else throw new IllegalArgumentException(
                s"MERGE: expected UPDATE SET … or DELETE after WHEN $what THEN, got: $action")
            }
            kind match {
              case "MATCHED" => matchedB += updateOrDelete("MATCHED")
              case "NOT MATCHED BY SOURCE" =>
                orphanB += updateOrDelete("NOT MATCHED BY SOURCE")
              case "NOT MATCHED" =>
                require(notMatched.isEmpty, "MERGE: at most one WHEN NOT MATCHED clause")
                if (u == "INSERT *") notMatched = Some(cond)
                else if (u.startsWith("INSERT")) {
                  // INSERT (c1, c2, …) VALUES (e1, e2, …) — expressions see
                  // the SOURCE row bare; unassigned columns land NULL
                  val rest = action.substring(
                    action.toUpperCase(java.util.Locale.ROOT).indexOf("INSERT") + 6).trim
                  require(rest.startsWith("("),
                    s"MERGE: expected INSERT * or INSERT (cols) VALUES (exprs), got: $action")
                  val close = matchingParen(rest, 0)
                  require(close > 0, s"MERGE INSERT: unbalanced column list in: $action")
                  val colNames = splitTopLevel(rest.substring(1, close))
                    .map(_.trim).filter(_.nonEmpty)
                  val tail2 = rest.substring(close + 1).trim
                  require(tail2.toUpperCase(java.util.Locale.ROOT).startsWith("VALUES"),
                    s"MERGE INSERT: expected VALUES (...) after the column list in: $action")
                  val vals = tail2.substring(6).trim
                  require(vals.startsWith("("),
                    s"MERGE INSERT: expected ( after VALUES in: $action")
                  val vClose = matchingParen(vals, 0)
                  require(vClose > 0 && vals.substring(vClose + 1).trim.isEmpty,
                    s"MERGE INSERT: unbalanced or trailing text after VALUES (...) in: $action")
                  val exprs = splitTopLevel(vals.substring(1, vClose))
                    .map(t => resolveExpr(spark, t.trim))
                  require(colNames.length == exprs.length && colNames.nonEmpty,
                    s"MERGE INSERT: ${colNames.length} columns vs ${exprs.length} values")
                  notMatched = Some(cond)
                  notMatchedVals = colNames.zip(exprs)
                } else throw new IllegalArgumentException(
                  s"MERGE: expected INSERT * or INSERT (cols) VALUES (exprs), got: $action")
              case other => throw new IllegalArgumentException(
                s"MERGE: expected WHEN [NOT] MATCHED [BY SOURCE], got: WHEN $other")
            }
          }
          mergeInto(spark, path, src, keys, matchedB.result(), notMatched,
            orphanB.result(), evolveSchema = evolve,
            notMatchedValues = notMatchedVals)
        }
      case InsertOverwrite(path, body) =>
        body.trim match {
          case ReplaceWhereHead(predAndSource) =>
            // the replacement source starts at the first top-level query
            // keyword — SELECT inside the predicate's parens or literals
            // never splits here
            val srcIdx = Seq("SELECT", "FROM", "TABLE", "VALUES")
              .map(topLevelKeyword(predAndSource, _)).filter(_ > 0) match {
              case Nil => throw new IllegalArgumentException(
                "INSERT OVERWRITE ... REPLACE WHERE: no SELECT/FROM/TABLE/VALUES " +
                  s"source found after the predicate in: $s")
              case idxs => idxs.min
            }
            replaceWhere(spark, conformTo(path, sourceFrame(spark, predAndSource.substring(srcIdx))), path,
              predAndSource.substring(0, srcIdx).trim)
          case source =>
            table(spark, path).overwrite(spark,
              conformTo(path, sourceFrame(spark, source)), path)
        }
      case Insert(path, body0) =>
        // optional COLUMN LIST: `INSERT INTO '<p>' (c1, c2) <source>` maps
        // the source's columns POSITIONALLY onto the named ones — what
        // makes `VALUES (…)` sources (whose columns are col1, col2, …)
        // usable without a SELECT … AS wrapper
        val ColList = """(?s)\s*\(([\w\s,]+)\)\s+(.+)""".r
        val (source, renameTo) = body0 match {
          // a parenthesized SELECT source is not a column list
          case ColList(cols, rest)
              if !cols.trim.toUpperCase(java.util.Locale.ROOT).startsWith("SELECT") =>
            (rest, cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          case _ => (body0, Seq.empty[String])
        }
        val src0 = sourceFrame(spark, source)
        val src = if (renameTo.isEmpty) src0 else {
          require(renameTo.length == src0.columns.length,
            s"INSERT INTO (${renameTo.mkString(", ")}): column list names " +
              s"${renameTo.length} columns but the source has ${src0.columns.length}")
          src0.toDF(renameTo: _*)
        }
        val conformed = conformTo(path, src)
        // appends INHERIT the table's partitioning (the writers refuse a
        // partitionBy mismatch; a SQL user never restates the layout)
        val t = table(spark, path)
        t.append(spark, conformed, path, partitionBy = t.partitionBy(spark, path))
      case UpdateHead(path, aliasOrNull, body) =>
        val whereIdx = topLevelKeyword(body, "WHERE")
        val (setClause, predOpt) =
          if (whereIdx < 0) (body, None)
          else (body.substring(0, whereIdx), Some(body.substring(whereIdx + 5)))
        val assignments = splitTopLevel(setClause).map { item =>
          val eq = item.indexOf('=')
          require(eq > 0, s"malformed SET item '$item' (expected col = expr)")
          // SET values take scalar subqueries (over lake refs too):
          // `SET v = (SELECT max(x) FROM '<dim>')`
          (item.take(eq).trim, resolveExpr(spark, item.drop(eq + 1).trim))
        }
        val cond = predOpt.map(p => resolveExpr(spark, p.trim))
          .getOrElse(org.apache.spark.sql.functions.lit(true))
        updateWhere(spark, path, assignments, cond, Option(aliasOrNull))
      case other => throw new IllegalArgumentException(
        "unrecognized lake statement (expected DELETE FROM / UPDATE / MERGE INTO / " +
          "COPY INTO / " +
          "INSERT [OVERWRITE] / CREATE TABLE [(schema) | AS | SHALLOW CLONE] / " +
          "OPTIMIZE / VACUUM / RESTORE / CONVERT TO DELTA / EXPORT / ALTER TABLE / " +
          s"USE over a quoted path): $other")
    }
  }

  /** Result-set statement surface: `DESCRIBE HISTORY '<path>'` returns
    * the commit history frame; `DESCRIBE '<path>' [VERSION AS OF n |
    * TIMESTAMP AS OF <ts>]` the (pinnable) schema as (col_name,
    * data_type, nullable) rows;
    * `SHOW PARTITIONS '<path>'` the metadata-
    * only [[partitionSummary]]; `SHOW TABLES [IN '<dir>']` the
    * directory-as-catalog listing (table, format, version) of every child
    * that is a table — stored views listed with format `view` (the bare
    * form lists the `USE`'d catalog); `SELECT COUNT(*) FROM '<path>'` the
    * metadata-first [[rowCount]] as a (count, from_metadata) row;
    * `EXPLAIN [FORMATTED | EXTENDED] <select>` the plan text as `plan`
    * rows (SELECT/WITH only — explaining a mutation would execute it);
    * general reads as
    *
    * {{{ SELECT <cols> FROM '<path>' [VERSION AS OF n] [WHERE <pred>]
    *       [ORDER BY e1 [ASC|DESC][, ...]] [LIMIT n] }}}
    *
    * — the SQL-first read a user expects next to the DML: the path is
    * format-detected, `VERSION AS OF` time-travels (Delta log version /
    * Iceberg snapshot id; refused loudly on plain parquet), and a WHERE
    * predicate goes through [[scanPruned]], so persisted per-file stats
    * (Delta add.stats / Iceberg manifest bounds) skip files BEFORE the
    * scan — the statement is as prune-aware as the API call. Clause
    * bodies are scanned quote/paren-aware like the DML ([[topLevelKeyword]]):
    * a `WHERE note = 'ORDER BY x'` never mis-splits.
    *
    * SELECTs BEYOND that single-table dialect (including CTE-headed
    * `WITH … SELECT` statements) — GROUP BY, aggregates,
    * joins (including lake-to-lake: every `FROM|JOIN '<path>' [VERSION AS
    * OF n | TIMESTAMP AS OF <ts>]` reference resolves, as do bare
    * identifiers under `USE '<dir>'`), subqueries, set operations, window
    * functions — run in FULL through Spark SQL via [[delegateSelect]]:
    * each path reference becomes a temp view over its version-pinned
    * scan (per-alias WHERE conjuncts riding [[scanPruned]] —
    * [[pruneConjuncts]]) and the whole statement delegates, so MV routing
    * and every other optimizer hook apply to statement-text queries too.
    * A SELECT with NO lake references at all (temp views, literals, the
    * registered table functions `bucket_join`/`lake_table_stats`/
    * `lake_changes`/…) hands to Spark whole — the TVF surface needs no
    * separate entry point.
    *
    * `VACUUM ...` returns the deleted paths (one `path` row each); every
    * other statement executes via [[sql]] and returns its committed
    * version as a single-row `version` frame. */
  def sqlFrame(spark: SparkSession, statement: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val s = resolveBareHead(spark, statement.trim.stripSuffix(";").trim)
    val DescribeHistory = """(?is)DESCRIBE\s+HISTORY\s+'([^']+)'\s*""".r
    val DescribeDetail = """(?is)DESCRIBE\s+DETAIL\s+'([^']+)'\s*""".r
    val Describe =
      """(?is)DESCRIBE\s+'([^']+)'\s*(?:VERSION\s+AS\s+OF\s+(\d+)\s*|TIMESTAMP\s+AS\s+OF\s+(?:(\d+)|'([^']+)')\s*)?""".r
    val ShowPartitions = """(?is)SHOW\s+PARTITIONS\s+'([^']+)'\s*""".r
    val ShowCreate = """(?is)SHOW\s+CREATE\s+TABLE\s+'([^']+)'\s*""".r
    val ShowTables = """(?is)SHOW\s+TABLES(?:\s+IN\s+'([^']+)')?\s*""".r
    val CountStar =
      ("""(?is)SELECT\s+COUNT\s*\(\s*\*\s*\)\s+FROM\s+(?:'([^']+)'|([A-Za-z_]\w*))""" +
        """\s*(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*""").r
    // a bare COUNT(*) target resolves through the USE catalog (table
    // DIRECTORIES only — views and temp views fall to the SELECT path)
    def catalogDir(bare: String): Option[String] =
      Option(bare).flatMap { n =>
        spark.conf.getOption(UseDirKey).map(d => s"${d.stripSuffix("/")}/$n")
          .filter(p => scala.util.Try {
            val hp = new org.apache.hadoop.fs.Path(p)
            hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .getFileStatus(hp).isDirectory
          }.getOrElse(false))
      }
    val Vacuum = """(?is)VACUUM\s+'([^']+)'\s*(?:RETAIN\s+(\d+)\s+VERSIONS\s*)?(?:(FORCE)\s*)?(DRY\s+RUN)?\s*""".r
    val SelectHead = """(?is)SELECT\s+(.+)""".r
    val WithHead = """(?is)WITH\s+.+""".r
    val ExplainFiles = """(?is)EXPLAIN\s+FILES\s+(.+)""".r
    val Explain = """(?is)EXPLAIN\s+(FORMATTED\s+|EXTENDED\s+)?(.+)""".r
    s match {
      case DescribeHistory(path) => history(spark, path)
      case ShowCreate(path) =>
        // the re-runnable DDL of the table as it stands — column schema,
        // format, partitioning — exactly the CreateSchema dialect, so the
        // emitted statement recreates the shape via Lake.sql verbatim
        val t = table(spark, path)
        val schema = read(spark, path).schema
        val parts = t.partitionBy(spark, path)
        val cols = schema.fields.map(f => s"${f.name} ${f.dataType.sql}")
          .mkString(", ")
        val stmt = s"CREATE TABLE '$path' ($cols) USING ${t.name}" +
          (if (parts.isEmpty) "" else s" PARTITIONED BY (${parts.mkString(", ")})")
        Seq(stmt).toDF("create_statement")
      case DescribeDetail(path) =>
        // one table-level metadata row (the operational "how big / how
        // laid out" check) — log/manifest-only on lake formats, a
        // FileSystem listing on plain parquet; an Iceberg table with live
        // MoR deletes reports -1 counts (metadata would overstate)
        val fmt = tableOption(spark, path)
        val (version, numFiles, bytes, partCols) = fmt match {
          case Some(t) => t.detail(spark, path)
          case None =>
            val hp = new org.apache.hadoop.fs.Path(path)
            val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            val it = hfs.listFiles(hp, true)
            var n = 0L; var b = 0L
            while (it.hasNext) {
              val st = it.next()
              if (st.getPath.getName.endsWith(".parquet")) { n += 1; b += st.getLen }
            }
            (-1L, n, b, Seq.empty[String])
        }
        val nCols = read(spark, path).schema.size
        Seq((fmt.map(_.name).getOrElse("parquet"), path, version,
          numFiles, bytes, partCols.mkString(","), nCols))
          .toDF("format", "location", "version", "num_files", "size_bytes",
            "partition_columns", "num_columns")
      case Describe(path, versionOrNull, tsNumOrNull, tsStrOrNull) =>
        // schema listing, version- or timestamp-pinnable (time travel
        // shows the OLD schema on lake tables) — metadata-only; a stored
        // VIEW describes the schema its text plans to (never pinnable)
        val v = Option(versionOrNull).map(_.toLong)
          .orElse(Option(tsNumOrNull).orElse(Option(tsStrOrNull))
            .map(t => versionAt(spark, path, parseTsLiteral(t))))
          .getOrElse(-1L)
        val rel =
          if (path.endsWith(".view.sql")) {
            require(v < 0, s"DESCRIBE: a stored view has no versions ($path)")
            viewFrame(spark, path)
          } else read(spark, path, v)
        rel.schema.fields.toSeq
          .map(f => (f.name, f.dataType.sql.toLowerCase(java.util.Locale.ROOT),
            f.nullable))
          .toDF("col_name", "data_type", "nullable")
      case ShowPartitions(path) => partitionSummary(spark, path)
      case ShowTables(rootOrNull) =>
        // directory-as-catalog listing: every child dir that LOOKS like a
        // table (a lake log/metadata, or parquet files directly under it,
        // flat or hive-partitioned), with its detected format and current
        // version — metadata-only. A bare `SHOW TABLES` lists the USE'd
        // catalog directory.
        val root = Option(rootOrNull)
          .orElse(spark.conf.getOption(UseDirKey))
          .getOrElse(throw new IllegalArgumentException(
            "SHOW TABLES: no directory given and no USE '<dir>' catalog set"))
        val rootP = new org.apache.hadoop.fs.Path(root)
        val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(rootP), s"SHOW TABLES IN: no such directory $root")
        val views = fs.listStatus(rootP)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".view.sql"))
          .toSeq.map(f =>
            (f.getPath.getName.stripSuffix(".view.sql"), "view", -1L))
        val rows = views ++ fs.listStatus(rootP).filter(_.isDirectory).toSeq.flatMap { st =>
          // address children through the CALLER's path form (listStatus
          // returns qualified file:/ URIs the local-path readers reject)
          val name = st.getPath.getName
          val child = s"${root.stripSuffix("/")}/$name"
          tableOption(spark, child) match {
            case Some(t) => Some((name, t.name, t.version(spark, child)))
            case None =>
              // a parquet TABLE is either flat (.parquet files directly
              // under it) or hive-partitioned (key=value subdirectories
              // holding .parquet files — one level is enough to classify)
              val children = fs.listStatus(st.getPath)
              val flat = children.exists(f =>
                f.isFile && f.getPath.getName.endsWith(".parquet"))
              def partitioned = children.exists(d =>
                d.isDirectory && d.getPath.getName.contains("=") &&
                  fs.listStatus(d.getPath).exists(f =>
                    f.isFile && f.getPath.getName.endsWith(".parquet")))
              if (flat || partitioned) Some((name, "parquet", -1L))
              else None // not a table directory
          }
        }.sortBy(_._1)
        rows.toDF("table", "format", "version")
      case CountStar(pathOrNull, bareOrNull, verOrNull, tsOrNull)
          if pathOrNull != null || catalogDir(bareOrNull).isDefined =>
        val p = Option(pathOrNull).getOrElse(catalogDir(bareOrNull).get)
        // a pin folds from that snapshot's metadata exactly like the head
        // (rowCount resolves any version's totalRecords minus DVs)
        val v =
          if (verOrNull != null) verOrNull.toLong
          else if (tsOrNull != null) versionAt(spark, p, parseTsLiteral(tsOrNull))
          else -1L
        Seq(rowCount(spark, p, v)).toDF("count", "from_metadata")
      case Vacuum(path, retainOrNull, forceOrNull, dryOrNull) =>
        val retain = Option(retainOrNull).map(_.toInt).getOrElse(1)
        val age = if (forceOrNull != null) 0L else 24L * 3600 * 1000
        // DRY RUN reports the reclaim set without deleting a byte — the
        // look-before-you-leap check for a retention change
        vacuum(spark, path, retain, age, dryRun = dryOrNull != null).toDF("path")
      case ExplainFiles(body) =>
        // skipping observability: per referenced table, how many files the
        // planned statement actually OPENS vs the snapshot's total — the
        // "did pruning fire" check an operator runs before trusting a
        // statement at 100 TB. Never executes the QUERY; it does run
        // joinDerivedPrune's bounded dim-side min/max probe, since the
        // join-derived file cut is exactly what this statement reports.
        require(body.trim.toUpperCase(java.util.Locale.ROOT)
            .matches("(?s)(SELECT|WITH)\\b.*"),
          s"EXPLAIN FILES takes a SELECT/WITH statement, got: $body")
        val refs = resolvedRefs(spark, body)
          .filterNot(_.path.endsWith(".view.sql"))
        require(refs.nonEmpty,
          s"EXPLAIN FILES: no lake table references found in: $body")
        val opened =
          LakeDelegate.routesOff.withValue(true)(sqlFrame(spark, body)).inputFiles
        def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
        val rows = refs.map(r => (r.path, r.version, r.atMs)).distinct
          .map { case (p, ver, atMs) =>
            val root = norm(p)
            val v = if (atMs >= 0) versionAt(spark, p, atMs) else ver
            val total = read(spark, p, v).inputFiles.length.toLong
            val n = opened.map(norm).count(f => f == root || f.startsWith(root + "/"))
            (p, n.toLong, total)
          }
        rows.toDF("table", "files_opened", "files_total")
      case Explain(modeOrNull, body) =>
        // plan observability for the statement surface: EXPLAIN builds the
        // inner SELECT's frame (result-set statements only — explaining a
        // mutation would EXECUTE it) and returns the plan text as rows.
        // planOnly suppresses joinDerivedPrune's dim-side bounds probe —
        // EXPLAIN runs zero Spark jobs, so its plan can differ from the
        // executed one exactly by that manifest re-prune (fewer files)
        require(body.trim.toUpperCase(java.util.Locale.ROOT)
            .matches("(?s)(SELECT|WITH)\\b.*"),
          s"EXPLAIN takes a SELECT/WITH statement, got: $body")
        val mode = Option(modeOrNull).map(_.trim.toLowerCase(java.util.Locale.ROOT))
          .getOrElse("simple")
        val inner = LakeDelegate.planOnly.withValue(true)(sqlFrame(spark, body))
        inner.queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode.fromString(mode))
          .split("\n").toSeq.toDF("plan")
      case SelectHead(body) =>
        simpleSelect(spark, body).getOrElse(LakeDelegate.delegateSelect(spark, s))
      case WithHead() =>
        // CTE-headed SELECT: always beyond the fast path — delegate whole
        LakeDelegate.delegateSelect(spark, s)
      case other => Seq(sql(spark, other)).toDF("version")
    }
  }

  /** Multi-statement SCRIPT runner — the migration idiom (CTAS + INSERTs
    * + ALTERs + USE + OPTIMIZE + a final SELECT) in one call: split on
    * top-level `;` (quote-aware — a `;` inside a string literal never
    * splits, including behind `''` escapes), run each statement in order
    * through [[sqlFrame]], and return the LAST statement's frame as the
    * script's result. Side-effecting statements (DML, DDL, maintenance)
    * execute eagerly inside sqlFrame itself; an interior result-set
    * statement (a mid-script SELECT/DESCRIBE/SHOW) is merely PLANNED and
    * its frame discarded — no job runs and nothing is materialized to the
    * driver, so a large mid-script SELECT costs metadata, not memory. */
  def sqlScript(spark: SparkSession, script: String): DataFrame = {
    val stmts = splitStatements(script)
    require(stmts.nonEmpty, "sqlScript: no statements in the script")
    stmts.init.foreach(s => sqlFrame(spark, s))
    sqlFrame(spark, stmts.last)
  }

  /** Quote-aware split on `;`: literal-internal semicolons stay put
    * (including behind doubled-quote escapes — `'it''s; fine'` is ONE
    * literal, the `''` does not flip the in-string state); empty
    * fragments (trailing `;`, blank lines between) drop. */
  private def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new java.lang.StringBuilder
    var inStr = false
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      if (inStr) {
        cur.append(c)
        if (c == '\'') {
          // peek: '' is an escaped quote INSIDE the literal, not its end
          if (i + 1 < script.length && script.charAt(i + 1) == '\'') {
            cur.append('\''); i += 1
          } else inStr = false
        }
      }
      else if (c == '\'') { inStr = true; cur.append(c) }
      else if (c == ';') { out += cur.toString; cur.setLength(0) }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** The single-table FAST PATH of the SELECT surface: `SELECT <cols>
    * FROM '<path>' [VERSION AS OF n | TIMESTAMP AS OF {epoch_ms | '<ts>'}]
    * [WHERE <pred>] [ORDER BY ...]
    * [LIMIT n]`. A WHERE goes through [[scanPruned]] so the format's
    * persisted per-file stats (Delta add.stats / Iceberg manifest bounds)
    * skip files BEFORE the scan. Returns None — never throws on shape —
    * when the statement is beyond this dialect (GROUP BY, joins,
    * subqueries in FROM or in the predicate, set ops, expression LIMIT,
    * scalar subqueries in the projection …): the caller then delegates
    * the full statement to Spark SQL via [[delegateSelect]]. */
  /** Whole-word occurrence of `kw` anywhere outside single-quoted
    * strings, at ANY paren depth — the OVER detector (window syntax can
    * sit nested inside a call, where [[Lake.topLevelKeyword]]'s depth-0
    * restriction is blind by design). */
  private def wordOutsideStrings(s: String, kw: String): Boolean = {
    val u = s.toUpperCase(java.util.Locale.ROOT)
    val k = kw.toUpperCase(java.util.Locale.ROOT)
    def isWord(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    var inStr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (c == '\'') inStr = true
      else if (u.startsWith(k, i) && (i == 0 || !isWord(s.charAt(i - 1))) &&
          (i + k.length == s.length || !isWord(s.charAt(i + k.length))))
        return true
      i += 1
    }
    false
  }

  private def simpleSelect(spark: SparkSession, body: String): Option[DataFrame] = {
    import org.apache.spark.sql.functions.expr
    val fromIdx = topLevelKeyword(body, "FROM")
    if (fromIdx <= 0) return None
    val cols = splitTopLevel(body.substring(0, fromIdx))
    if (cols.isEmpty) return None
    if (cols.head.toUpperCase(java.util.Locale.ROOT).startsWith("DISTINCT"))
      return None // SELECT DISTINCT is the delegated dialect
    // window functions are the delegated dialect too: the bucket-local
    // window route (zero-exchange PARTITION BY the bucket key) lives
    // behind delegateSelect, and selectExpr here would silently bypass
    // it. The scan must be DEPTH-BLIND — `round(sum(x) OVER (…), 2)`
    // nests the only OVER inside a call, where topLevelKeyword is blind
    // by design — but still string-literal-safe.
    if (wordOutsideStrings(body.substring(0, fromIdx), "OVER")) return None
    val PathHead = """(?s)\s*'([^']+)'\s*(.*)""".r
    val (path, tail0) = body.substring(fromIdx + 4) match {
      case PathHead(p, t) => (p, t.trim)
      case _ => return None // FROM target is not a quoted path (subquery, view)
    }
    // a stored view's `.view.sql` twin is the delegated dialect (its text
    // must expand) — never a direct read
    locally {
      val hconf = spark.sparkContext.hadoopConfiguration
      def hExists(p: String) = scala.util.Try {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).exists(hp)
      }.getOrElse(false)
      if (!hExists(path) && hExists(s"$path.view.sql")) return None
    }
    val VersionHead = """(?is)VERSION\s+AS\s+OF\s+(\d+)\s*(.*)""".r
    val TimestampHead = """(?is)TIMESTAMP\s+AS\s+OF\s+(?:(\d+)|'([^']+)')\s*(.*)""".r
    val (version, tail) = tail0 match {
      case VersionHead(v, rest) => (v.toLong, rest.trim)
      // a timestamp pin (epoch ms or a quoted timestamp literal) resolves
      // to the version current at that instant, then flows through the
      // same pruned-scan machinery; an unparseable literal is not this
      // dialect — delegate rather than throw
      case TimestampHead(num, str, rest) =>
        scala.util.Try(parseTsLiteral(if (num != null) num else str)).toOption match {
          case Some(ms) => (versionAt(spark, path, ms), rest.trim)
          case None => return None
        }
      case _ => (-1L, tail0)
    }
    // any clause beyond [WHERE][ORDER BY][LIMIT] disqualifies the fast
    // path OUTRIGHT — a GROUP BY after the WHERE would otherwise be
    // swallowed into the predicate text
    if (Seq("GROUP", "HAVING", "JOIN", "UNION", "INTERSECT", "EXCEPT",
        "WINDOW", "QUALIFY").exists(kw => topLevelKeyword(tail, kw) >= 0))
      return None
    // clause markers in canonical order; each body slice ends where the
    // next present clause begins. Any unrecognized tail text (a table
    // alias, a non-numeric VERSION AS OF that fell through) means the
    // statement is NOT this dialect — never silently dropped.
    val whereIdx = topLevelKeyword(tail, "WHERE")
    val orderIdx = topLevelKeyword(tail, "ORDER")
    val limitIdx = topLevelKeyword(tail, "LIMIT")
    val present = Seq(whereIdx, orderIdx, limitIdx).filter(_ >= 0)
    if (!(present == present.sorted &&
        (if (present.isEmpty) tail.trim.isEmpty
         else present.min == 0 || tail.substring(0, present.min).trim.isEmpty)))
      return None
    def sliceEnd(from: Int) =
      present.filter(_ > from).minOption.getOrElse(tail.length)
    val pred = if (whereIdx < 0) None
      else Some(tail.substring(whereIdx + 5, sliceEnd(whereIdx)).trim)
    // a WHERE goes through the stats-pruned scan: file skipping via the
    // format's persisted bounds, THEN the residual filter. A predicate
    // this dialect cannot express (a subquery over a quoted path parses
    // to garbage or fails analysis) must DELEGATE, never throw — the
    // contract is "returns None on shape", and [[delegateSelect]] can
    // often run the very statement the fast path cannot.
    val base = pred match {
      case Some(p) =>
        scala.util.Try(scanPruned(spark, path, expr(p), version)._1) match {
          case scala.util.Success(df) => df
          case scala.util.Failure(_) => return None
        }
      case None => read(spark, path, version)
    }
    // projection/ordering expressions beyond the dialect (scalar
    // subqueries, unresolvable texts) likewise fall through to delegation
    val projected =
      if (cols == Seq("*")) base
      else scala.util.Try(base.selectExpr(cols: _*)) match {
        case scala.util.Success(df) => df
        case scala.util.Failure(_) => return None
      }
    val ordered = if (orderIdx < 0) projected else {
      val byIdx = topLevelKeyword(tail, "BY", orderIdx)
      if (byIdx <= orderIdx) return None
      val items = splitTopLevel(tail.substring(byIdx + 2, sliceEnd(orderIdx)))
      if (items.isEmpty) return None
      scala.util.Try(projected.orderBy(items.map { item =>
        val u = item.toUpperCase(java.util.Locale.ROOT)
        if (u.endsWith(" DESC")) expr(item.dropRight(5).trim).desc
        else if (u.endsWith(" ASC")) expr(item.dropRight(4).trim).asc
        else expr(item)
      }: _*)) match {
        case scala.util.Success(df) => df
        case scala.util.Failure(_) => return None
      }
    }
    if (limitIdx < 0) Some(ordered) else {
      val n = tail.substring(limitIdx + 5).trim
      if (!n.matches("""\d+""")) return None
      Some(ordered.limit(n.toInt))
    }
  }
}
