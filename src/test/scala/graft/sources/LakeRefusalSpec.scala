package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The one refusal point of the table model: every [[Lake]] verb that
  * needs a transaction log refuses a plain parquet directory with an
  * IllegalArgumentException naming the path ([[Lake.table]]), verbs only
  * one format has refuse the other format ([[Lake.requireFormat]]), and
  * an unknown format name is refused where it is parsed ([[Lake.format]]). */
class LakeRefusalSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/tbl"

  private def refuses(what: String, path: String)(f: => Any): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage.contains(path), s"$what: ${e.getMessage}")
  }

  test("every verb that needs a log refuses plain parquet, naming the path") {
    val pq = tmp("refuse_pq")
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    rows.write.parquet(pq)
    val lake = tmp("refuse_lake")
    DeltaWrite.append(spark, rows, lake)
    val emptyDir = java.nio.file.Files.createTempDirectory("refuse_copy_src").toString
    val changes = rows.withColumn("_change_type", lit("insert"))
    val verbs: Seq[(String, () => Any)] = Seq(
      "history" -> (() => Lake.history(spark, pq)),
      "schemaHistory" -> (() => Lake.schemaHistory(spark, pq)),
      "fileStats" -> (() => Lake.fileStats(spark, pq)),
      "partitionSummary" -> (() => Lake.partitionSummary(spark, pq)),
      "readAt" -> (() => Lake.readAt(spark, pq, 0L)),
      "versionAt" -> (() => Lake.versionAt(spark, pq, 0L)),
      "addsBetween" -> (() => Lake.addsBetween(spark, pq, 0L)),
      "changesBetween" -> (() => Lake.changesBetween(spark, pq, 0L)),
      "renameColumn" -> (() => Lake.renameColumn(spark, pq, "name", "n")),
      "dropColumn" -> (() => Lake.dropColumn(spark, pq, "name")),
      "addColumn" -> (() => Lake.addColumn(spark, pq, "x", "int")),
      "restore" -> (() => Lake.restore(spark, pq, 0L)),
      "clone" -> (() => Lake.clone(spark, pq, tmp("refuse_clone"))),
      "deleteWhere" -> (() => Lake.deleteWhere(spark, pq, col("id") === 1L)),
      "updateWhere" -> (() => Lake.updateWhere(spark, pq, Seq("name" -> lit("z")), lit(true))),
      "upsert" -> (() => Lake.upsert(spark, rows, pq, Seq("id"))),
      "replaceWhere" -> (() => Lake.replaceWhere(spark, rows, pq, "id > 0")),
      "applyChanges" -> (() => Lake.applyChanges(spark, changes, pq, Seq("id"))),
      "mergeInto" -> (() => Lake.mergeInto(spark, pq, rows, Seq("id"),
        Seq(None -> Lake.MergeUpdate(Nil)), Some(None))),
      "compact" -> (() => Lake.compact(spark, pq)),
      "vacuum" -> (() => Lake.vacuum(spark, pq)),
      "maintain" -> (() => Lake.maintain(spark, pq)),
      "analyzeTable" -> (() => Lake.analyzeTable(spark, pq)),
      "copyInto" -> (() => Lake.copyInto(spark, pq, emptyDir, "parquet")),
      "sync from parquet" -> (() => Lake.sync(spark, pq, lake, Seq("id"))),
      "evolvePartitionSpec" -> (() => Lake.evolvePartitionSpec(spark, pq, Seq("id"))),
      "appendStaged" -> (() => Lake.appendStaged(spark, rows, pq, "audit")),
      "fastForward" -> (() => Lake.fastForward(spark, pq, "audit")),
      "TRUNCATE" -> (() => Lake.sql(spark, s"TRUNCATE TABLE '$pq'")),
      "INSERT INTO" -> (() => Lake.sql(spark, s"INSERT INTO '$pq' SELECT 3L AS id, 'c' AS name")),
      "INSERT OVERWRITE" ->
        (() => Lake.sql(spark, s"INSERT OVERWRITE '$pq' SELECT 3L AS id, 'c' AS name")),
      "SET BLOOM FILTER" -> (() => Lake.sql(spark, s"ALTER TABLE '$pq' SET BLOOM FILTER (id)")),
      "SHOW CREATE TABLE" -> (() => Lake.sqlFrame(spark, s"SHOW CREATE TABLE '$pq'")))
    verbs.foreach { case (what, f) => refuses(what, pq)(f()) }
    refuses("sync into parquet", pq)(Lake.sync(spark, lake, pq, Seq("id")))
    // nothing was committed or rewritten on either side
    assert(Lake.detect(spark, pq) === Lake.Parquet)
    assert(spark.read.parquet(pq).as[(Long, String)].collect().toSet === rows.as[(Long, String)]
      .collect().toSet)
    assert(Lake.history(spark, lake).count() === 1L)
  }

  test("single-format verbs refuse the other format; unknown format names refuse") {
    val rows = Seq((1L, "a")).toDF("id", "name")
    val delta = tmp("refuse_delta")
    DeltaWrite.append(spark, rows, delta)
    val ice = tmp("refuse_iceberg")
    IcebergWrite.append(spark, rows, ice)
    refuses("evolvePartitionSpec on Delta", delta)(
      Lake.evolvePartitionSpec(spark, delta, Seq("id")))
    refuses("appendStaged on Delta", delta)(Lake.appendStaged(spark, rows, delta, "audit"))
    refuses("fastForward on Delta", delta)(Lake.fastForward(spark, delta, "audit"))
    refuses("ADD CONSTRAINT on Iceberg", ice)(
      Lake.sql(spark, s"ALTER TABLE '$ice' ADD CONSTRAINT pos CHECK (id > 0)"))
    refuses("DROP CONSTRAINT on Iceberg", ice)(
      Lake.sql(spark, s"ALTER TABLE '$ice' DROP CONSTRAINT pos"))
    val e = intercept[IllegalArgumentException](Lake.format("hudi"))
    assert(e.getMessage.contains("hudi"), e.getMessage)
    intercept[IllegalArgumentException](
      Lake.sql(spark, s"CREATE TABLE '${tmp("refuse_hudi")}' (id BIGINT) USING hudi"))
    intercept[IllegalArgumentException](
      Lake.sql(spark, s"EXPORT '$delta' TO hudi '${tmp("refuse_export")}'"))
    assert(Lake.format("Delta") === Lake.Delta && Lake.format("ICEBERG") === Lake.Iceberg)
  }
}
