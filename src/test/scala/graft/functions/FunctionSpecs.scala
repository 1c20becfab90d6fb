package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("dot, norm and cosine match hand computation") {
    val df = Seq((1, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (2, Array(0.0, 0.0, 0.0), Array(4.0, 5.0, 6.0))).toDF("i", "a", "b")
    def rows = df.orderBy("i").select(
      VectorOps.dot(col("a"), col("b")).as("d"),
      VectorOps.norm(col("a")).as("na"),
      VectorOps.cosine(VectorOps.dot(col("a"), col("b")),
        VectorOps.norm(col("a")), VectorOps.norm(col("b"))).as("c")).collect()
    Seq(false, true).foreach { ansi =>
      val Array(row, zero) = graft.operators.ZeroNormCases.withAnsi(spark, ansi)(rows)
      assert(row.getDouble(0) === 32.0)
      assert(math.abs(row.getDouble(1) - math.sqrt(14.0)) < 1e-12)
      assert(math.abs(row.getDouble(2) - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-12)
      // a zero divisor: NULL in both ANSI modes, never DIVIDE_BY_ZERO
      assert(zero.getDouble(0) === 0.0 && zero.getDouble(1) === 0.0 && zero.isNullAt(2),
        s"ansi=$ansi")
    }
  }

  test("native codegen dot product is bit-for-bit equal to the HOF path") {
    // exclude the rewrite rule so the HOF side really runs interpreted
    spark.conf.set("spark.sql.optimizer.excludedRules",
      graft.plans.RewriteHofDotProduct.ruleName)
    try {
      val emb = Tables(spark, sf001, "embeddings")
        .select(VectorOps.asDouble(col("embedding")).as("v"))
      val both = emb.select(
        VectorOps.dot(col("v"), col("v")).as("native"),
        VectorOps.dotHof(col("v"), col("v")).as("hof"))
      assert(both.where(col("native") =!= col("hof")).count() === 0L)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("vec_dot matches HOF semantics on length mismatch and null elements") {
    // the optimizer rewrites user HOF dot products onto DotProduct, so any
    // divergence here silently changes query results
    val hof = "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, x) -> acc + x)"
    val df = Seq(
      (Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0)),          // length mismatch
      (Array[java.lang.Double](1.0, null), Array[java.lang.Double](3.0, 4.0)),    // null element
      (Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0, 4.0))      // clean
    ).toDF("a", "b")
    val rows = df.select(
      VectorOps.dot(col("a"), col("b")).as("native"), expr(hof).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"null disagreement: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
    }
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0) && rows(2).getDouble(0) === 11.0)
  }

  test("TopKAggregator ranks NaN scores worst and keeps a total order") {
    import graft.functions.{ScoredId, TopKAggregator}
    val agg = new TopKAggregator(3)
    // 40 elements forces merge() through TimSort territory (>32)
    val items = (1L to 40L).map(i =>
      ScoredId(i, if (i % 4 == 0) Double.NaN else i.toDouble))
    val merged = agg.finish(agg.merge(
      items.take(20).foldLeft(agg.zero)(agg.reduce),
      items.drop(20).foldLeft(agg.zero)(agg.reduce)))
    assert(merged.map(_.id) === Seq(39L, 38L, 37L)) // 40 is NaN → worst
    // a NaN-only group still returns deterministically by id
    val nanOnly = Seq(ScoredId(5, Double.NaN), ScoredId(2, Double.NaN), ScoredId(9, Double.NaN))
    assert(agg.finish(nanOnly.foldLeft(agg.zero)(agg.reduce)).map(_.id) === Seq(2L, 5L, 9L))
  }

  test("vec_dot is SQL-callable after registration") {
    VectorExpressions.register(spark)
    val r = spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Double].head()
    assert(r === 11.0)
  }

  test("approx_count_distinct is within 5% of exact (B6 accuracy assertion)") {
    val ev = Tables(spark, sf001, "events")
    val exact = ev.agg(countDistinct(col("user_id"))).as[Long].head()
    val approx = ev.agg(approx_count_distinct(col("user_id"), 0.02)).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("approx_percentile is within 2% of exact (t16b accuracy assertion)") {
    val o = Tables(spark, sf001, "orders")
    val rows = o.groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("exact_med"),
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx_med"),
        expr("percentile(o_totalprice, 0.9)").as("exact_p90"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("approx_p90"))
      .as[(String, Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (st, em, am, e9, a9) =>
      assert(math.abs(am - em) / em < 0.02, s"$st median exact=$em approx=$am")
      assert(math.abs(a9 - e9) / e9 < 0.02, s"$st p90 exact=$e9 approx=$a9")
    }
  }
}

/** F6 (SURVEY.md §2.7): map functions — no map column exists in the graded
  * data, so this family is unit-tested only (declared not part of the t2
  * hash suite). */
class MapFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("map construction, keys, values, element_at, map_from_entries") {
    val df = Seq((1, "a", 10), (1, "b", 20)).toDF("id", "k", "v")
    val m = df.groupBy("id")
      .agg(map_from_entries(collect_list(struct(col("k"), col("v")))).as("m"))
    val row = m.select(
      array_sort(map_keys(col("m"))).as("ks"),
      array_sort(map_values(col("m"))).as("vs"),
      element_at(col("m"), "b").as("b")).head()
    assert(row.getAs[Seq[String]]("ks") === Seq("a", "b"))
    assert(row.getAs[Seq[Int]]("vs") === Seq(10, 20))
    assert(row.getAs[Int]("b") === 20)
  }

  test("map literal + transform_values/map_filter") {
    val r = spark.sql(
      """SELECT map_filter(transform_values(map('a', 1, 'b', 2), (k, v) -> v * 10),
        (k, v) -> v > 10) AS m""").head().getAs[Map[String, Int]]("m")
    assert(r === Map("b" -> 20))
  }
}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: n-grams, distinct, empty under n tokens") {
    val df = Seq(Tuple1("a b c d"), Tuple1("a b")).toDF("text")
    val sh = df.select(TextFunctions.shingles(col("text"), 3).as("s")).as[Seq[String]].collect()
    assert(sh(0) === Seq("a b c", "b c d"))
    assert(sh(1) === Seq.empty)
  }

  test("slidingTokenChunks: overlap, tail coverage, degenerate cases") {
    def chunks(text: String, w: Int, s: Int): Seq[String] =
      Seq(Tuple1(text)).toDF("text")
        .select(TextFunctions.slidingTokenChunks(col("text"), w, s).as("c"))
        .as[Seq[String]].collect().head
    // 7 tokens, window 4, stride 2 → starts 0,2,4 (ceil((7-4)/2)=2 extra)
    assert(chunks("a b c d e f g", 4, 2) === Seq("a b c d", "c d e f", "e f g"))
    // shorter than the window → one (short) chunk
    assert(chunks("a b", 4, 2) === Seq("a b"))
    // exactly one window → one chunk, no empty tail chunk
    assert(chunks("a b c d", 4, 2) === Seq("a b c d"))
    // stride == window degenerates to tokenChunks' disjoint slicing
    assert(chunks("a b c d e", 2, 2) ===
      Seq(Tuple1("a b c d e")).toDF("text")
        .select(TextFunctions.tokenChunks(col("text"), 2).as("c"))
        .as[Seq[String]].collect().head)
    // empty text → one empty chunk (split("") is [""])
    assert(chunks("", 4, 2) === Seq(""))
    // every token is covered by at least one chunk
    val all = chunks("a b c d e f g h i", 4, 3)
    assert(all.flatMap(_.split(" ")).toSet === Set("a","b","c","d","e","f","g","h","i"))
  }

  test("jaccard of identical shingle sets is 1, disjoint is 0") {
    val df = Seq(("a b c d", "a b c d"), ("a b c d", "x y z w")).toDF("t1", "t2")
    val j = df.select(TextFunctions.jaccard(
      TextFunctions.shingles(col("t1"), 3), TextFunctions.shingles(col("t2"), 3)).as("j"))
      .as[Double].collect()
    assert(j(0) === 1.0)
    assert(j(1) === 0.0)
  }

  test("langGuess picks the language with most marker hits, 'und' on none") {
    val df = Seq(
      Tuple1("the cat is on the mat and it is fine"),
      Tuple1("el gato es de la casa y es que si"),
      Tuple1("qqq www eee")).toDF("text")
    val g = df.select(TextFunctions.langGuess(col("text")).as("g")).as[String].collect().toSeq
    assert(g === Seq("en", "es", "und"))
  }

  test("hashBucket is deterministic and roughly uniform") {
    val b1 = spark.range(0, 10000)
      .select(TextFunctions.hashBucket(col("id"), 10).as("b"))
    val counts = b1.groupBy("b").count().orderBy("b").as[(Long, Long)].collect()
    assert(counts.length === 10)
    // uniformity: each of 10 buckets within ±30% of the expected 1000
    counts.foreach { case (b, n) => assert(n > 700 && n < 1300, s"bucket $b: $n") }
    val again = spark.range(0, 10000)
      .select(TextFunctions.hashBucket(col("id"), 10).as("b"))
      .groupBy("b").count().orderBy("b").as[(Long, Long)].collect()
    assert(counts.toSeq === again.toSeq)
  }

  test("fingerprint is stable and equal for identical content") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "z y x w v")).toDF("id", "text")
    val fps = df.select(col("id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  private def extract(html: String): String =
    Seq(Tuple1(html)).toDF("h")
      .select(TextFunctions.extractHtmlText(col("h"))).as[String].head()

  test("extractHtmlText strips script/style with contents, comments, and tags") {
    assert(extract("<p>keep</p><script>drop();</script><b>this</b>") === "keep this")
    assert(extract("<style>p { color: red }</style>body") === "body")
    assert(extract("a<!-- note\nacross lines -->b") === "a b")
    assert(extract("<div\nclass='x'>multi\nline</div>") === "multi line")
  }

  test("extractHtmlText handles case-insensitive and attributed script blocks") {
    assert(extract("""x<SCRIPT type="text/javascript">if (a<b) {"<i>"}</SCRIPT>y""") === "x y")
    assert(extract("<STYLE media=print>@page{}</style >z") === "z")
  }

  test("extractHtmlText decodes entities one level, &amp; last") {
    assert(extract("Tom &amp; Jerry &lt;3 &quot;ok&quot; &#39;s&nbsp;end") ===
      """Tom & Jerry <3 "ok" 's end""")
    // double-encoded stays single-decoded: never turns into a bare '<'
    assert(extract("&amp;lt;tag&amp;gt;") === "&lt;tag&gt;")
  }

  test("extractHtmlText collapses whitespace and trims; plain text is identity") {
    assert(extract("  <p>\n\ta   b\n</p>  ") === "a b")
    assert(extract("no markup at all") === "no markup at all")
  }

  private def ratios(texts: Seq[String]): Seq[Option[Double]] =
    texts.map(Tuple1(_)).toDF("text")
      .select(TextFunctions.compressionRatio(col("text")).as("r"))
      .as[Option[Double]].collect().toSeq

  test("compressionRatio: repetition compresses below prose below random; null/empty → null") {
    val rep = "abcabcabc " * 60
    val prose = ("the quick brown fox jumps over the lazy dog and then " +
      "discusses compression ratios with a mildly interested cat ") * 5
    val junk = (1 to 60).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"seed$i".getBytes("UTF-8")).map("%02x".format(_)).mkString).mkString
    val Seq(Some(rRep), Some(rProse), Some(rJunk), none, empty) =
      ratios(Seq(rep, prose, junk, null, ""))
    assert(rRep < rProse && rProse < rJunk,
      s"ordering violated: rep=$rRep prose=$rProse junk=$rJunk")
    assert(rRep < 0.1 && rJunk > 0.4)
    assert(none.isEmpty && empty.isEmpty)
    // matches a hand-rolled Deflater of the same bytes
    val d = new java.util.zip.Deflater(6, true)
    val bytes = prose.getBytes("UTF-8")
    d.setInput(bytes); d.finish()
    val buf = new Array[Byte](1 << 16)
    var n = 0L
    while (!d.finished()) n += d.deflate(buf)
    d.end()
    assert(rProse === n.toDouble / bytes.length)
  }

  test("compressionRatio is layout-invariant and multi-byte-safe") {
    val texts = (1 to 40).map(i => s"doc $i " + ("përmbajtje e përsëritur ü " * i))
    val a = texts.map(Tuple1(_)).toDF("text").repartition(1)
      .select(TextFunctions.compressionRatio(col("text")).as("r")).as[Double].collect().sorted
    val b = texts.map(Tuple1(_)).toDF("text").repartition(13)
      .select(TextFunctions.compressionRatio(col("text")).as("r")).as[Double].collect().sorted
    assert(a.toSeq === b.toSeq)
    assert(a.forall(r => r > 0.0 && r <= 2.0))
  }
}
