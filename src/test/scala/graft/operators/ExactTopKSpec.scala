package graft.operators

import java.nio.file.Files
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.functions.VectorOps

/** Property spec of the exact cosine kernel ([[Similarity.exactTopK]]):
  * row for row, with bit-exact doubles, against the pair-window form it
  * replaced (join every query with every corpus row, `vec_dot / (qn * cn)`,
  * `row_number` over cosine DESC, id ASC). Samples are drawn under fixed
  * ScalaCheck seeds, as in `PropertySpec`. */
class ExactTopKSpec extends SparkSpec {

  private type Vec = Seq[java.lang.Double]
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", ArrayType(DoubleType, containsNull = true))))

  private def forSamples[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body))

  private def vec(xs: Double*): Vec = xs.map(Double.box)

  // small integer components: duplicate vectors, exact ties and +0.0 cosines
  private val intVec: Gen[Vec] =
    Gen.listOfN(2, Gen.chooseNum(-2, 2)).map(xs => vec(xs.map(_.toDouble): _*))
  // zero norm (NULL cosine in both ANSI modes), NaN and infinite elements
  // (NaN cosines), a null vector, a null element, a length mismatch
  private val specials: Seq[Vec] = Seq(vec(0.0, 0.0), vec(Double.NaN, 1.0),
    vec(Double.PositiveInfinity, 1.0), null, Seq[java.lang.Double](1.0, null), vec(1.0, 1.0, 1.0))
  // against a query (a, 0) with a > 0 its cosine underflows to -0.0, tying
  // with the +0.0 of an orthogonal vector
  private val negZero: Vec = vec(-java.lang.Double.MIN_VALUE, 10.0)

  /** negZero under the lowest id, and the query that meets it at -0.0: the
    * window form ranks it ahead of every +0.0 cosine of that query. */
  private val zeroTie: Seq[(java.lang.Long, Vec)] =
    Seq(Long.box(-1L) -> negZero, Long.box(6000L) -> vec(1.0, 0.0))

  /** `n` rows of ids drawn from 0 until `idRange` (duplicates) or null. */
  private def rows(n: Int, idRange: Int, vecs: Gen[Vec]): Gen[Seq[(java.lang.Long, Vec)]] =
    Gen.listOfN(n, Gen.zip(
      Gen.frequency(9 -> Gen.chooseNum(0, idRange - 1).map(i => Long.box(i.toLong)),
        1 -> Gen.const(null: java.lang.Long)),
      vecs))

  /** The rows as a parquet table of 8 files (so `Spread.ifNarrow` keeps the
    * partitioning asked for), read back with `parts` partitions. */
  private def table(rs: Seq[(java.lang.Long, Vec)]): Int => DataFrame = {
    val dir = Files.createTempDirectory("graft_exact_topk").resolve("t").toString
    val data = rs.map { case (id, v) => Row(id, v) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 8), schema)
      .write.parquet(dir)
    parts => spark.read.parquet(dir).repartition(parts)
  }

  /** The pair-window form the kernel replaced, over the strict `vec_dot`. */
  private def reference(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def prep(df: DataFrame, p: String) =
      df.select(col("id").as(s"${p}_id"), VectorOps.asDouble(col("v")).as(s"${p}v"))
        .withColumn(s"${p}n", VectorOps.norm(col(s"${p}v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)
    prep(queries, "q").join(prep(corpus, "c"), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id").as("vec_id"), col("rank"), col("c_id").as("nn_id"), col("cosine"))
  }

  /** Rows in (vec_id, rank) order, cosines as their bit patterns. */
  private def canon(df: DataFrame): Seq[(Long, Int, Long, Option[Long])] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(3)))))
      .sortBy(t => (t._1, t._2))

  private def withAnsi[T](on: Boolean)(body: => T): T = ZeroNormCases.withAnsi(spark, on)(body)

  private val partitionCounts = Seq(1, 2, 7)

  test("self-search equals the pair-window form bit for bit (ties, NaN, nulls, duplicate ids)") {
    val gen = for {
      n <- Gen.chooseNum(8, 16)
      unique <- Gen.oneOf(true, false)
      rs <- rows(n, if (unique) 1000 else n / 2, Gen.frequency(4 -> intVec, 1 -> Gen.oneOf(specials)))
      k <- Gen.oneOf(1, 2, 3, n + 2)
    } yield (if (unique) rs.distinctBy(_._1) ++ zeroTie else rs, k)
    withAnsi(on = false) {
      forSamples(gen, n = 8) { case (rs, k) =>
        val t = table(rs)
        val expected = canon(reference(t(1), t(1), k))
        partitionCounts.foreach { p =>
          val f = t(p)
          assert(canon(Similarity.exactTopK(f, f, "id", "v", k)) === expected, s"k=$k parts=$p")
        }
      }
    }
  }

  test("queries apart from the corpus: absent and duplicate query ids, -0.0 ties, k >= corpus") {
    // a query (a, 0) with a < 0 would give negZero +0.0 where a duplicate
    // query id gives -0.0, an order the window form itself leaves open
    val query = Gen.frequency(4 -> intVec, 1 -> Gen.oneOf(specials))
      .map(v => if (v != null && v.size == 2 && v(1) == 0.0 && v(0) < 0) vec(-v(0), 0.0) else v)
    val gen = for {
      n <- Gen.chooseNum(8, 14)
      cs <- rows(n, n / 2, Gen.frequency(4 -> intVec, 1 -> Gen.oneOf(specials)))
      qs <- rows(8, n, query)
      k <- Gen.oneOf(1, 3, n + 2)
    } yield (cs :+ zeroTie.head, qs :+ zeroTie.last, k)
    withAnsi(on = false) {
      forSamples(gen, n = 8) { case (cs, qs, k) =>
        val (c, q) = (table(cs)(1), table(qs))
        val expected = canon(reference(c, q(1), k))
        if (k > cs.size) // every pair ranked: query 6000 meets negZero's -0.0
          assert(expected.exists(_._4.contains(java.lang.Double.doubleToLongBits(-0.0))))
        partitionCounts.foreach { p =>
          assert(canon(Similarity.exactTopK(c, q(p), "id", "v", k)) === expected, s"k=$k parts=$p")
        }
      }
    }
  }

  test("ANSI mode: a zero-norm vector scores NULL, last, as the window form with ANSI off does") {
    def fixed(rs: (Long, Vec)*) = table(rs.map { case (i, v) => (Long.box(i), v) })(2)
    val clean = fixed(1L -> vec(1, 2), 2L -> vec(2, 1), 3L -> null,
      4L -> vec(0, 0, 0), 5L -> vec(-1, 0), 6L -> vec(3, 3), 7L -> vec(0, 1), 8L -> vec(1, 0))
    val zero = fixed(1L -> vec(1, 2), 2L -> vec(0, 0), 3L -> vec(2, 1),
      4L -> vec(1, 1), 5L -> vec(-1, 0), 6L -> vec(3, 3), 7L -> vec(0, 1), 8L -> vec(1, 0))
    Seq(clean -> 2, zero -> 2, zero -> 8).foreach { case (t, k) =>
      val expected = withAnsi(on = false)(canon(reference(t, t, k)))
      withAnsi(on = true) {
        assert(canon(Similarity.exactTopK(t, t, "id", "v", k)) === expected, s"k=$k")
        assert(canon(Similarity.scalableTopK(t, t, "id", "v", k)) === expected, s"k=$k")
      }
    }
    // every other query ranks the zero vector 2 last, with a NULL cosine
    val all = withAnsi(on = true)(canon(Similarity.exactTopK(zero, zero, "id", "v", 8)))
    assert(all.filter(r => r._1 != 2L && r._3 == 2L).map(r => (r._2, r._4)) ===
      Seq.fill(7)((7, None)))
  }

  test("building the frame runs no Spark job; the corpus is read when it runs") {
    val f = table(Seq(Long.box(1L) -> vec(1, 0), Long.box(2L) -> vec(0, 1)))(2)
    val sc = spark.sparkContext
    sc.setJobGroup("graft_exact_topk_build", "build only")
    try {
      val built = Seq(Similarity.exactTopK(f, f, "id", "v", 1),
        Similarity.scalableTopK(f, f, "id", "v", 1))
      built.foreach(_.queryExecution.executedPlan)
      assert(sc.statusTracker.getJobIdsForGroup("graft_exact_topk_build").isEmpty)
    } finally sc.clearJobGroup()
  }

  test("ids keep their integral type; non-integral ids are refused") {
    import spark.implicits._
    val df = Seq((1, Array(1.0, 0.0)), (2, Array(0.0, 1.0)), (3, Array(1.0, 1.0)))
      .toDF("id", "v")
    val out = Similarity.exactTopK(df, df, "id", "v", 1)
    assert(out.schema("vec_id").dataType === IntegerType)
    assert(out.schema("nn_id").dataType === IntegerType)
    assert(out.orderBy("vec_id").select("nn_id").as[Int].collect().toSeq === Seq(3, 3, 1))
    val named = df.select(col("id").cast("string").as("id"), col("v"))
    intercept[IllegalArgumentException](Similarity.exactTopK(named, named, "id", "v", 1))
  }
}
