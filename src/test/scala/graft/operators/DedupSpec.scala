package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 0
    (2L, "completely different words about spark shuffles and partitions everywhere"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup keeps one row per distinct text") {
    assert(Dedup.dropExactDuplicates(docs, "text").count() === 3L)
  }

  test("minhash LSH finds the planted near-dup pairs and nothing across topics") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(!pairs.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("minhash_sig expression is bit-equal to the declarative min(xxhash64(s, i)) aggregate") {
    import graft.functions.{TextExpressions, TextFunctions}
    val sh = docs.select(col("doc_id"), TextFunctions.shingles(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val viaExpr = sh.select(col("doc_id"), TextExpressions.minhashSig(col("sh"), 16).as("m"))
      .as[(Long, Seq[Long])].collect().toMap
    val minExprs = (0 until 16).map(i => min(xxhash64(col("s"), lit(i))).as(s"h$i"))
    val viaAgg = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .groupBy("doc_id").agg(minExprs.head, minExprs.tail: _*)
      .select(col("doc_id"), array((0 until 16).map(i => col(s"h$i")): _*).as("m"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaExpr === viaAgg)
  }

  test("jaccard_sim expression equals the declarative intersect/union formula") {
    import graft.functions.{TextExpressions, TextFunctions}
    val arrs = Seq(
      (Seq("a b c", "b c d"), Seq("b c d", "c d e")),
      (Seq("x"), Seq("x")),
      (Seq("x"), Seq("y")),
      (Seq.empty[String], Seq("y"))
    ).toDF("a", "b")
    val rows = arrs.select(
      TextExpressions.jaccardSim(col("a"), col("b")).as("native"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b"))).cast("double")).as("declarative"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, d) => assert(n === d) }
    // both sides empty: the declarative 0/0 THROWS under ANSI (Spark 4
    // default); the native expression degrades to NaN, which any
    // `jaccard >= threshold` filter simply rejects
    val nan = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
      .select(TextExpressions.jaccardSim(col("a"), col("b"))).as[Double].head()
    assert(nan.isNaN)
  }

  test("minhash pairs equal brute-force jaccard pairs on this corpus") {
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh === brute)
  }

  test("simhash is deterministic and identical texts collide at hamming 0") {
    val h1 = Dedup.simhash48(docs, "doc_id", "text").orderBy("doc_id").as[(Long, Long)].collect()
    val h2 = Dedup.simhash48(docs, "doc_id", "text").orderBy("doc_id").as[(Long, Long)].collect()
    assert(h1.toSeq === h2.toSeq)
    val byId = h1.toMap
    assert(byId(0L) === byId(3L)) // exact dup
    assert(java.lang.Long.bitCount(byId(0L) ^ byId(1L)) <= 8) // near dup: low hamming
    assert(byId(0L) !== byId(2L))
  }

  test("banded simhash pairs equal the brute-force pair join (pigeonhole recall)") {
    val d = graft.Tables(spark, sf001, "documents")
    val brute = Dedup.simhashNearDupPairs(d, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = Dedup.simhashNearDupPairsBanded(d, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded === brute)
    assert(brute.nonEmpty) // the corpus has planted near-dups
  }

  test("connected components: chain, separate component, high-degree star") {
    // chain 1-2-3-4 (tests propagation past direct neighbors), pair 10-11,
    // star 20-{21,22,23}; min id of each component is the label
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L)
    ).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connected components handles a long chain (diameter >> round count)") {
    // path 0-1-2-…-40: label propagation would need 40 rounds; star
    // contraction must converge within the iteration cap
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges).as[(Long, Long)].collect()
    assert(comp.length === 41)
    assert(comp.forall(_._2 == 0L))
  }

  test("dropNearDuplicates keeps one canonical doc per cluster plus singletons") {
    // docs 0,1,3 form one near-dup cluster; 2 is unrelated → keep {0, 2}
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(0L, 2L))
  }

  test("embedding near-dup finds only the near-identical pair") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("zero-norm vector: its NULL cosine never passes a threshold, in both ANSI modes") {
    import ZeroNormCases._
    val c = corpus(spark).withColumn("half", (col("id") % 2).cast("int"))
    // threshold -1: every pair with a cosine passes, so only NULL keeps one out
    val cases = Seq[(String, () => org.apache.spark.sql.DataFrame, Option[String])](
      ("embeddingNearDupPairs", () => Dedup.embeddingNearDupPairs(c, "id", "v", -1.0), None),
      ("semanticNearDupPairs", () => Dedup.semanticNearDupPairs(c, "id", "v", "half", -1.0),
        Some("half")))
    cases.foreach { case (name, path, cell) =>
      checkPairs(spark, name, path(), pairReference(c, cell, -1.0))
    }
  }

  test("incremental dedup drops corpus matches, keeps min-id within the batch") {
    val existing = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "completely different content about distributed query engines")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // dup of existing 100
      (2L, "brand new unique document about training data pipelines"),
      (3L, "brand new unique document about training data pipelines"), // within-batch dup of 2
      (4L, "another unrelated survivor with enough tokens to shingle")
    ).toDF("doc_id", "text")

    val cross = Dedup.minhashNearDupPairsAcross(incoming, existing, "doc_id", "text", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cross === Set((1L, 100L)))

    val kept = Dedup.incrementalDropNearDuplicates(incoming, existing, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 4L)) // 1 hit existing; 3 lost to min-id 2; 2 and 4 survive
  }

  test("incremental dedup with empty existing corpus equals plain near-dedup") {
    val incoming = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally different words in this one right here")
    ).toDF("doc_id", "text")
    val empty = incoming.where(lit(false))
    val kept = Dedup.incrementalDropNearDuplicates(incoming, empty, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val plain = Dedup.dropNearDuplicates(incoming, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === plain)
    assert(kept === Seq(1L, 3L))
  }

  test("line dedup removes ALL copies of repeated lines, keeps order, keeps empty docs") {
    val lined = Seq(
      (0L, "cookie banner\nreal content zero\ncookie banner"), // dup line twice in one doc
      (1L, "real content one\ncookie banner"),
      (2L, "cookie banner") // loses its only line
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateLines(lined, "doc_id", split(col("text"), "\n"),
        minOccurrences = 2, sep = "\n")
      .orderBy("doc_id")
      .as[(Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (0L, 1L, "real content zero"),
      (1L, 1L, "real content one"),
      (2L, 0L, ""))) // exhaustive over ids: doc 2 survives, empty
  }

  test("dropNearDuplicatesBy keeps the best-ranked cluster member, not the min id") {
    // docs 0/1/3 form one near-dup cluster (as in the fixtures above); rank
    // by length so doc 1 ("...tonight", the longest) must win over min-id 0
    val kept = Dedup.dropNearDuplicatesBy(docs, "doc_id", "text", 0.6, length(col("text")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 2L)) // 1 beats 0/3 on length; singleton 2 survives
    // with a constant rank the tie-break reduces to min id == default path
    val tied = Dedup.dropNearDuplicatesBy(docs, "doc_id", "text", 0.6, lit(0))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val default = Dedup.dropNearDuplicates(docs, "doc_id", "text", 0.6)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(tied === default)
  }

  test("hash-keyed line dedup equals the exact-text path (the 100 TB shuffle lever)") {
    val lined = Seq(
      (0L, "cookie banner\nreal content zero\ncookie banner"),
      (1L, "real content one\ncookie banner"),
      (2L, "cookie banner"),
      (3L, "all unique here\nand here too")
    ).toDF("doc_id", "text")
    def run(byHash: Boolean) =
      Dedup.dropDuplicateLines(lined, "doc_id", split(col("text"), "\n"),
          minOccurrences = 2, sep = "\n", keyByHash = byHash)
        .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(run(byHash = true) === run(byHash = false))
  }

  test("tokenChunks: full chunks, short tail, round-trips the text") {
    import graft.functions.TextFunctions
    val df = Seq((0L, "a b c d e f g")).toDF("doc_id", "text")
    val chunks = df.select(TextFunctions.tokenChunks(col("text"), 3).as("c"))
      .as[Seq[String]].head()
    assert(chunks === Seq("a b c", "d e f", "g"))
    // chunking then rejoining with the same separator is lossless
    val rejoined = df.select(
      concat_ws(" ", TextFunctions.tokenChunks(col("text"), 3)).as("t")).as[String].head()
    assert(rejoined === "a b c d e f g")
  }

  test("containment is asymmetric: a quoted doc scores 1.0 toward its host, not back") {
    val quote = "alpha beta gamma delta epsilon zeta"
    val host = s"intro words first then $quote and closing remarks afterwards entirely"
    val cdocs = Seq((1L, quote), (2L, host), (3L, "unrelated totally different material here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(cdocs, "doc_id", "text", 0.9)
      .as[(Long, Long, Double)].collect().toMap2
    assert(got.contains((1L, 2L)) && got((1L, 2L)) === 1.0) // quote fully inside host
    assert(!got.contains((2L, 1L)))                         // host not inside quote
    assert(!got.keys.exists(k => k._1 == 3L || k._2 == 3L))
  }

  test("containmentPairs equals the brute-force set-intersect form") {
    val sh = docs.select(col("doc_id"),
      graft.functions.TextFunctions.shingles(col("text"), 3).as("s"))
      .where(size(col("s")) > 0)
    val brute = sh.select(col("doc_id").as("a_id"), col("s").as("sa"))
      .crossJoin(sh.select(col("doc_id").as("b_id"), col("s").as("sb")))
      .where(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") / size(col("sa")))
          .as("containment"))
      .where(col("containment") >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val indexed = Dedup.containmentPairs(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(indexed === brute)
  }

  test("dropContained removes quotes/excerpts, keeps hosts and maximal chain tops") {
    val quote = "alpha beta gamma delta epsilon zeta"
    val host = s"intro words first then $quote and closing remarks afterwards entirely"
    val cdocs = Seq(
      (1L, quote),                      // contained in 2 → dropped
      (2L, host),                       // container → kept
      (3L, "unrelated totally different material here today"),
      (4L, quote)                       // shingle-identical to 1 → mutual; min id logic
    ).toDF("doc_id", "text")
    val kept = Dedup.dropContained(cdocs, "doc_id", "text", 0.9)
      .select("doc_id").as[Long].collect().toSorted
    // 1 and 4 are both contained in 2 → both dropped (host survives);
    // between the identical 1/4 the rule alone would keep min id, but the
    // host edge already condemns both
    assert(kept === Seq(2L, 3L))
    // without the host, identical twins keep the min id
    val twins = Seq((5L, quote), (6L, quote),
      (7L, "unrelated totally different material here today")).toDF("doc_id", "text")
    assert(Dedup.dropContained(twins, "doc_id", "text", 0.9)
      .select("doc_id").as[Long].collect().toSorted === Seq(5L, 7L))
  }

  private implicit class Sorted(a: Array[Long]) {
    def toSorted: Seq[Long] = a.sorted.toSeq
  }

  test("containment gram cap only drops pairs, never invents them") {
    val capped = Dedup.containmentPairs(docs, "doc_id", "text", 0.5,
      maxGramDocFreq = Some(2)).as[(Long, Long, Double)].collect().toSet
    val full = Dedup.containmentPairs(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped.map(p => (p._1, p._2)).subsetOf(full.map(p => (p._1, p._2))))
  }

  // Two planted near-identical pairs (0≈1, 2≈3) plus two isolated vectors;
  // near-dup cosine ≈ 0.999, cross-pair cosine ≤ ~0.6.
  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.1f, 0.0f)),
    (1L, Array(0.99f, 0.01f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.1f)),
    (3L, Array(0.01f, 0.99f, 0.0f, 0.1f)),
    (4L, Array(0.5f, 0.5f, -0.7f, 0.0f)),
    (5L, Array(-0.6f, 0.4f, 0.0f, 0.7f))
  ).toDF("vec_id", "embedding")

  test("semantic near-dup pairs fire only within a cell") {
    val oneCell = vecs.withColumn("cell", lit(0))
    val all = Dedup.semanticNearDupPairs(oneCell, "vec_id", "embedding", "cell", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(all === Set((0L, 1L), (2L, 3L)))
    // split the planted pairs across cells: no within-cell edge survives
    val split = vecs.withColumn("cell", (col("vec_id") % 2).cast("int"))
    assert(Dedup.semanticNearDupPairs(split, "vec_id", "embedding", "cell", 0.95).isEmpty)
  }

  test("semanticDedup keeps one representative per group plus singletons") {
    val oneCell = vecs.withColumn("cell", lit(0))
    val kept = Dedup.semanticDedup(oneCell, "vec_id", "embedding", "cell", 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(0L, 2L, 4L, 5L)) // min-id reps of {0,1} and {2,3}
  }

  test("semanticDedupKMeans with k=1 matches the single-cell brute-force keep set") {
    val brute = Dedup.semanticDedup(vecs.withColumn("c", lit(0)), "vec_id", "embedding", "c", 0.95)
      .select("vec_id").as[Long].collect().toSet
    val km = Dedup.semanticDedupKMeans(vecs, "vec_id", "embedding", k = 1, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(km === brute)
    // and the kmeans variant never returns MORE rows than the input
    assert(km.subsetOf(vecs.select("vec_id").as[Long].collect().toSet))
  }

  private implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }
}
