package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("scalableTopK (broadcast queries) equals exactTopK exactly") {
    val emb = Tables(spark, sf001, "embeddings")
    val q = emb.where(col("vec_id") < 50)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("rank"), col("nn_id"), round(col("cosine"), 9).as("c"))
        .orderBy("vec_id", "rank").as[(Long, Int, Long, Double)].collect().toSeq
    assert(canon(Similarity.scalableTopK(emb, q, "vec_id", "embedding", 3)) ===
      canon(Similarity.exactTopK(emb, q, "vec_id", "embedding", 3)))
  }

  test("scalableTopK equals exactTopK with a zero-norm and a NaN vector in the corpus") {
    // in both ANSI modes a zero-norm cosine is NULL (ranked last) and a NaN
    // cosine ranks first (Spark's sort order), in both orientations
    val corpus = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 0.0)), (2L, Array(0.6, 0.8)),
      (3L, Array(Double.NaN, 1.0)), (4L, Array(-1.0, 0.5)), (5L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val q = corpus.where(col("vec_id") =!= 3L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id", "rank").collect().toSeq.map(r => (r.getLong(0), r.getInt(1),
        r.getLong(2), Option(r.get(3)).map(c => java.lang.Double.doubleToLongBits(c.asInstanceOf[Double]))))
    Seq(false, true).foreach { ansi =>
      ZeroNormCases.withAnsi(spark, ansi) {
        val exact = rows(Similarity.exactTopK(corpus, q, "vec_id", "embedding", 6))
        // vector 1's cosines are NULL, except against the NaN vector 3 (NaN),
        // which every query ranks first
        assert(exact.count(_._4.isEmpty) === 8, s"ansi=$ansi")
        assert(exact.filter(_._2 == 1).forall(r =>
          r._3 == 3L && r._4.contains(java.lang.Double.doubleToLongBits(Double.NaN))),
          s"ansi=$ansi")
        assert(rows(Similarity.scalableTopK(corpus, q, "vec_id", "embedding", 6)) === exact,
          s"ansi=$ansi")
      }
    }
  }

  test("salted aggregation equals plain aggregation") {
    val li = Tables(spark, sf001, "lineitem")
    val salted = SkewOps.saltedCountSum(li, Seq("l_returnflag"), "l_quantity", salts = 8)
      .orderBy("l_returnflag").as[(String, Long, Double)].collect()
    val plain = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("s"))
      .orderBy("l_returnflag").as[(String, Long, Double)].collect()
    assert(salted.map(r => (r._1, r._2)).toSeq === plain.map(r => (r._1, r._2)).toSeq)
    salted.zip(plain).foreach { case (s, p) =>
      assert(math.abs(s._3 - p._3) < 1e-6, s"${s._1}: ${s._3} vs ${p._3}")
    }
  }

  test("salted join equals plain inner join") {
    val orders = Tables(spark, sf001, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Tables(spark, sf001, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    val plain = orders.join(customer, Seq("o_custkey"))
      .orderBy("o_orderkey").as[(Long, Long, Double, String)].collect().toSeq
    val salted = SkewOps.saltedJoin(orders, customer, Seq("o_custkey"), salts = 8)
      .select("o_custkey", "o_orderkey", "o_totalprice", "c_name")
      .orderBy("o_orderkey").as[(Long, Long, Double, String)].collect().toSeq
    assert(salted === plain)
  }
}
