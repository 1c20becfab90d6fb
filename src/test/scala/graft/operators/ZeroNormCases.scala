package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._
import graft.functions.VectorOps

/** A corpus holding one all-zero embedding, and the checks each vector
  * path's zero-norm case runs under both ANSI settings: no exception, the
  * zero vector's NULL cosine ranks below every non-null cosine and never
  * passes a threshold, and the output equals the pair form every path
  * scored with before [[VectorOps.cosine]] — plain `Divide`, evaluated
  * with ANSI off. */
object ZeroNormCases {

  val zeroId = 3L

  /** (id, cell, v): eight four-dim vectors; the zero vector is alone in
    * cell 9, so its cell's centroid is zero too. */
  def corpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, 0, Array(1.0, 2.0, 0.0, 1.0)),
      (2L, 2, Array(2.0, 1.0, 1.0, 0.0)),
      (zeroId, 9, Array(0.0, 0.0, 0.0, 0.0)),
      (4L, 1, Array(1.0, 1.0, 1.0, 1.0)),
      (5L, 2, Array(-1.0, 0.0, 2.0, 1.0)),
      (6L, 0, Array(0.0, 3.0, 1.0, 2.0)),
      (7L, 1, Array(2.0, 2.0, 0.0, -1.0)),
      (8L, 2, Array(1.0, 0.0, 0.0, 3.0))).toDF("id", "cell", "v")
  }

  def withAnsi[T](spark: SparkSession, on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  private def bits(df: DataFrame, i: Int) =
    df.collect().toSeq.map(r =>
      (r, if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))))

  /** (vec_id, rank, nn_id, cosine bits) rows, sorted. */
  def topKRows(df: DataFrame): Seq[(Long, Int, Long, Option[Long])] =
    bits(df.select("vec_id", "rank", "nn_id", "cosine"), 3)
      .map { case (r, c) => (r.getLong(0), r.getInt(1), r.getLong(2), c) }
      .sortBy(t => (t._1, t._2))

  /** (id_a, id_b, cosine bits) rows, sorted. */
  def pairRows(df: DataFrame): Seq[(Long, Long, Option[Long])] =
    bits(df.select("id_a", "id_b", "cosine"), 2)
      .map { case (r, c) => (r.getLong(0), r.getLong(1), c) }
      .sortBy(t => (t._1, t._2))

  /** Every (q_id, c_id) pair of distinct ids. */
  def allPairs(corpus: DataFrame): DataFrame =
    corpus.select(col("id").as("q_id"))
      .crossJoin(corpus.select(col("id").as("c_id")))
      .where(col("q_id") =!= col("c_id"))

  /** The (q_id, c_id) `pairs` scored `dot / (qn * cn)` and ranked by a
    * `row_number` window over cosine DESC, id ASC. */
  def topKReference(corpus: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    def side(p: String) = corpus.select(col("id").as(s"${p}_id"), col("v").as(s"${p}v"))
      .withColumn(s"${p}n", VectorOps.norm(col(s"${p}v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)
    pairs.join(side("q"), "q_id").join(side("c"), "c_id")
      .select(col("q_id"), col("c_id"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id").as("vec_id"), col("rank"), col("c_id").as("nn_id"), col("cosine"))
  }

  /** The `id_a < id_b` pairs (within a `cell`, if given) whose
    * `dot / (na * nb)` is at least `threshold`. */
  def pairReference(corpus: DataFrame, cell: Option[String], threshold: Double): DataFrame = {
    def side(p: String) = corpus.select(col("id").as(s"id_$p"), col("v").as(s"v$p"),
        cell.fold(lit(0))(col).as(s"cell_$p"))
      .withColumn(s"n$p", VectorOps.norm(col(s"v$p")))
    side("a").join(side("b"), col("cell_a") === col("cell_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** `path` built and run under each ANSI setting (a frame's arithmetic
    * takes the setting it is built under): equal to `reference` built and
    * run with ANSI off; within each query every NULL cosine ranks after
    * every non-null one; the zero vector's cosines are NULL, and at least
    * one is emitted. */
  def checkTopK(spark: SparkSession, name: String, path: => DataFrame,
      reference: => DataFrame): Unit = {
    val expected = withAnsi(spark, on = false)(topKRows(reference))
    Seq(false, true).foreach { ansi =>
      val got = withAnsi(spark, ansi)(topKRows(path))
      assert(got === expected, s"$name, ansi=$ansi")
      got.groupBy(_._1).foreach { case (q, rows) =>
        val firstNull = rows.indexWhere(_._4.isEmpty)
        assert(firstNull < 0 || rows.drop(firstNull).forall(_._4.isEmpty),
          s"$name, ansi=$ansi: query $q ranks a non-null cosine below a NULL one")
      }
      assert(got.filter(r => r._1 == zeroId || r._3 == zeroId).forall(_._4.isEmpty),
        s"$name, ansi=$ansi")
      assert(got.exists(_._4.isEmpty), s"$name, ansi=$ansi: the zero vector was never scored")
    }
  }

  /** `path` built and run under each ANSI setting: equal to `reference`
    * built and run with ANSI off, non-empty, and never holding the zero
    * vector. */
  def checkPairs(spark: SparkSession, name: String, path: => DataFrame,
      reference: => DataFrame): Unit = {
    val expected = withAnsi(spark, on = false)(pairRows(reference))
    assert(expected.nonEmpty, name)
    Seq(false, true).foreach { ansi =>
      val got = withAnsi(spark, ansi)(pairRows(path))
      assert(got === expected, s"$name, ansi=$ansi")
      assert(!got.exists(r => r._1 == zeroId || r._2 == zeroId), s"$name, ansi=$ansi")
    }
  }
}
