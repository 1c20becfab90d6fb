package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val toy = Seq(
    (0L, Array(1.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f)),
    (2L, Array(0.0f, 1.0f)),
    (3L, Array(-1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("brute-force top-k ranks by cosine with id tie-break") {
    val nn = Similarity.exactTopK(toy, toy, "vec_id", "embedding", k = 2)
      .where(col("vec_id") === 0L).orderBy("rank")
      .select("nn_id").as[Long].collect().toSeq
    assert(nn === Seq(1L, 2L)) // 1 (cos≈0.994) then 2 (cos 0) then never -1
  }

  test("zero-norm vector: NULL cosine, ranked last, no error (LSH, IVF, trained IVF, PQ, SQ)") {
    import ZeroNormCases._
    val c = corpus(spark)
    val k = 8 // every candidate ranked: a NULL cosine has nowhere to hide
    val lshPairs = {
      val b = c.select(col("id"), col("v"), explode(sequence(lit(0), lit(3))).as("tbl"))
        .select(col("id"), col("tbl"), Similarity.lshBucket(col("v"), 2, col("tbl")).as("bucket"))
      b.select(col("id").as("q_id"), col("tbl"), col("bucket"))
        .join(b.select(col("id").as("c_id"), col("tbl"), col("bucket")), Seq("tbl", "bucket"))
        .where(col("q_id") =!= col("c_id")).select("q_id", "c_id").distinct()
    }
    // nProbe 3 of 4 cells: the zero cell's NULL centroid cosine ranks last,
    // so no query probes it and the zero vector is never a candidate
    val cases = Seq[(String, () => DataFrame, DataFrame)](
      ("lsh", () => Similarity.lshTopK(c, "id", "v", k, nPlanes = 2, nTables = 4), lshPairs),
      ("ivf", () => Similarity.ivfTopK(c, "id", "v", "cell", k, nProbe = 4), allPairs(c)),
      ("ivf, zero cell unprobed", () => Similarity.ivfTopK(c, "id", "v", "cell", k, nProbe = 3),
        allPairs(c).where(col("c_id") =!= zeroId)),
      ("trained ivf", () => Similarity.ivfTopKTrained(c.drop("cell"), "id", "v", k, nCells = 2,
        nProbe = 2, iters = 2), allPairs(c)),
      ("pq", () => Similarity.pqTopK(c, c, "id", "v", k, m = 2, kCodes = 2, shortlist = k,
        iters = 2), allPairs(c)),
      ("sq", () => Similarity.sqTopK(c, c, "id", "v", k, shortlist = k), allPairs(c)))
    cases.foreach { case (name, path, pairs) =>
      checkTopK(spark, name, path(), topKReference(c, pairs, k))
    }
  }

  test("LSH ANN returns same-bucket exact-cosine neighbors with useful recall") {
    val emb = Tables(spark, sf001, "embeddings")
    val brute = Similarity.exactTopK(emb, emb, "vec_id", "embedding", k = 1)
      .select(col("vec_id"), col("nn_id")).as[(Long, Long)].collect().toMap
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", k = 1, nPlanes = 4, nTables = 4)
      .select(col("vec_id"), col("nn_id")).as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, nn) => lsh.get(q).contains(nn) }
    val recall = hits.toDouble / brute.size
    // deterministic seeded planes → stable; 4 tables × 4 planes over 500 vecs
    assert(recall > 0.3, s"recall=$recall")
    assert(lsh.nonEmpty)
  }

  test("IVF ANN with label cells achieves recall over brute force") {
    val emb = Tables(spark, sf001, "embeddings")
    val brute = Similarity.exactTopK(emb, emb, "vec_id", "embedding", k = 1)
      .select(col("vec_id"), col("nn_id")).as[(Long, Long)].collect().toMap
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", "label", k = 1, nProbe = 2)
      .select(col("vec_id"), col("nn_id")).as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, nn) => ivf.get(q).contains(nn) }
    val recall = hits.toDouble / brute.size
    assert(recall > 0.15, s"recall=$recall")
  }

  test("k-means separates two well-separated toy clusters") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 2, iters = 4)
    val assigned = Similarity.assignCells(df, "embedding", cents)
      .select(col("vec_id"), col("__cell")).as[(Long, Int)].collect().toMap
    assert(assigned(0L) === assigned(1L))
    assert(assigned(2L) === assigned(3L))
    assert(assigned(0L) !== assigned(2L))
    assert(cents.count() === 2L)
  }

  test("k-means training is deterministic across runs") {
    val emb = Tables(spark, sf001, "embeddings")
    def run() = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 3)
      .orderBy("cell").select("centroid").as[Seq[Double]].collect().toSeq
    assert(run() === run())
  }

  test("trained-IVF ANN achieves recall over brute force") {
    val emb = Tables(spark, sf001, "embeddings")
    val brute = Similarity.exactTopK(emb, emb, "vec_id", "embedding", k = 1)
      .select(col("vec_id"), col("nn_id")).as[(Long, Long)].collect().toMap
    val ivf = Similarity.ivfTopKTrained(emb, "vec_id", "embedding", k = 1, nCells = 16, nProbe = 4)
      .select(col("vec_id"), col("nn_id")).as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, nn) => ivf.get(q).contains(nn) }
    val recall = hits.toDouble / brute.size
    assert(recall > 0.3, s"recall=$recall")
  }

  test("centroids are the elementwise mean") {
    val df = Seq((0, Array(1.0f, 3.0f)), (0, Array(3.0f, 5.0f))).toDF("label", "embedding")
    val c = Similarity.centroids(df, "label", "embedding")
      .select("centroid").as[Seq[Double]].head()
    assert(c === Seq(2.0, 4.0))
  }

  test("PQ codes compress to m small ints per vector") {
    val emb = Tables(spark, sf001, "embeddings")
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, kCodes = 16, iters = 2)
    // ≤ m×kCodes codebook rows (empty cells may drop), 64-dim → 8-dim subspaces
    assert(cb.count() <= 8L * 16)
    assert(cb.select(size($"centroid")).distinct().as[Int].collect().toSeq === Seq(8))
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb, m = 8)
    assert(enc.count() === emb.count())
    assert(enc.select(size($"codes")).distinct().as[Int].collect().toSeq === Seq(8))
    val maxCode = enc.select(array_max($"codes")).agg(max("array_max(codes)")).as[Int].head()
    assert(maxCode < 16)
  }

  test("PQ ANN with exact re-rank recovers most true nearest neighbors") {
    val emb = Tables(spark, sf001, "embeddings")
    val queries = emb.where($"vec_id" < 50)
    val brute = Similarity.exactTopK(emb, queries, "vec_id", "embedding", k = 1)
      .select(col("vec_id"), col("nn_id")).as[(Long, Long)].collect().toMap
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      k = 1, m = 8, kCodes = 16, shortlist = 50, iters = 3)
      .select(col("vec_id"), col("nn_id")).as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, nn) => pq.get(q).contains(nn) }
    val recall = hits.toDouble / brute.size
    assert(recall > 0.5, s"recall=$recall")
  }

  test("PQ with indivisible dimension routes the remainder to the last subspace") {
    // 10 dims, m=4 → subspaces of 2,2,2,4 — nothing dropped
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(10)(d => (math.sin(i * 10 + d) * 100).toFloat))).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(vecs, "vec_id", "embedding", m = 4, kCodes = 4, iters = 2)
    val sizes = cb.groupBy($"sub").agg(max(size($"centroid")).as("d"))
      .orderBy($"sub").select($"d").as[Int].collect().toSeq
    assert(sizes === Seq(2, 2, 2, 4))
    val enc = Similarity.pqEncode(vecs, "vec_id", "embedding", cb, m = 4)
    assert(enc.select(size($"codes")).distinct().as[Int].collect().toSeq === Seq(4))
  }

  test("driver-visible recall gates hold through the public query builders") {
    // The l3_ann_*_recall queries emit (queries, pairs, recall_ok) with
    // recall_ok derived IN-QUERY against the brute-force frame (no
    // dataset-pinned hit constants anywhere — round-9 un-pinning). This
    // re-derives them through the public builders: counts must match the
    // data (3 ground-truth pairs per query vector) and every tier's gate
    // must hold, so a seeding/training/candidate regression fails HERE
    // before it fails the driver's gate.
    import graft.queries.LlmQueries
    val emb = Tables(spark, sf01, "embeddings")
    val nAll = emb.count()
    val nSmall = emb.where($"vec_id" < 100).count()
    val expect = Map(
      "l3_ann_lsh_recall" -> (nAll, 3 * nAll),
      "l3_ann_ivf_recall" -> (nAll, 3 * nAll),
      "l3_ann_kmeans_recall" -> (nAll, 3 * nAll),
      "l3_ann_pq_recall" -> (nSmall, 3 * nSmall),
      "l3_ann_sq_recall" -> (nSmall, 3 * nSmall))
    Seq(LlmQueries.l3lshRecall, LlmQueries.l3ivfRecall,
      LlmQueries.l3kmeansRecall, LlmQueries.l3pqRecall, LlmQueries.l3sqRecall).foreach { q =>
      val r = q.build(spark, sf01).head()
      assert((r.getLong(0), r.getLong(1)) === expect(q.name), q.name)
      assert(r.getBoolean(2), s"${q.name}: recall gate must hold")
    }
  }

  test("SQ8 ANN with exact re-rank recovers most true nearest neighbors") {
    val emb = Tables(spark, sf001, "embeddings")
    val queries = emb.where($"vec_id" < 50)
    val brute = Similarity.exactTopK(emb, queries, "vec_id", "embedding", k = 1)
      .select(col("vec_id"), col("nn_id")).as[(Long, Long)].collect().toMap
    val sq = Similarity.sqTopK(emb, queries, "vec_id", "embedding", k = 1, shortlist = 30)
      .select(col("vec_id"), col("nn_id")).as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, nn) => sq.get(q).contains(nn) }
    val recall = hits.toDouble / brute.size
    assert(recall > 0.8, s"recall=$recall") // 8-bit/dim + re-rank: the high-accuracy tier
  }

  test("SQ8 search is deterministic and ignores constant dimensions safely") {
    // append a constant dimension: Δ=0 must not divide by zero or shift ranks
    val emb = Tables(spark, sf001, "embeddings").where($"vec_id" < 100)
      .withColumn("embedding", concat($"embedding", array(lit(7.5f))))
    def run() = Similarity.sqTopK(emb, emb.where($"vec_id" < 10), "vec_id", "embedding",
      k = 3, shortlist = 20)
      .orderBy("vec_id", "rank").select("nn_id").as[Long].collect().toSeq
    val first = run()
    assert(first.nonEmpty && first === run())
  }

  test("PQ training and search are deterministic across runs") {
    val emb = Tables(spark, sf001, "embeddings").where($"vec_id" < 100)
    def run() = Similarity.pqTopK(emb, emb.where($"vec_id" < 10), "vec_id", "embedding",
      k = 3, m = 8, kCodes = 8, shortlist = 20, iters = 2)
      .orderBy("vec_id", "rank").select("nn_id").as[Long].collect().toSeq
    assert(run() === run())
  }
}
